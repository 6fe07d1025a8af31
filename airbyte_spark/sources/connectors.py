"""The wire connectors of the CDC jobs: one table row per ``--connector``.

Both wire jobs (``jobs/cdc_tail_job.py``, ``jobs/demux_job.py``) read a
Kafka-topic dump through :data:`WIRE_SCHEMA` and look up the decoder, the
commit-aligned LSN bits, the transaction gate and the in-stream DDL
split/decode here. No decoder imports this module, so it imports them all.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from airbyte_spark.sources import canal, maxwell
from airbyte_spark.sources.debezium import (
    decode_debezium,
    decode_transaction_markers,
    split_complete_transactions,
)
from airbyte_spark.sources.dms import decode_dms
from airbyte_spark.sources.mongo import decode_mongo
from airbyte_spark.sources.schema_change import decode_schema_changes, split_schema_changes
from airbyte_spark.sources.wal2json import decode_wal2json
from airbyte_spark.sources.wire import quarantine_malformed

#: one dump line: ``value`` = the envelope JSON, ``key`` = the event key
#: JSON, ``partition`` = the Kafka partition, ``seq`` = an optional wire
#: sequence (e.g. Kinesis sequence number / dump line number) — DMS needs it
#: to break same-microsecond ties; absent in the dump -> NULL -> seq 0
WIRE_SCHEMA = "value string, key string, partition bigint, seq bigint"


def read_wire(spark, path: str, streaming: bool = False) -> DataFrame:
    """A JSON-lines dump directory as a (batch or streaming) DataFrame."""
    reader = spark.readStream if streaming else spark.read
    return reader.schema(WIRE_SCHEMA).json(path)


def admit(
    spark, decoded: DataFrame, quarantine_path: str, txn_markers: str | None, **scope
) -> tuple[DataFrame, dict]:
    """The wire jobs' bounded admission; returns (good rows, summary stats).

    With a ``txn_markers`` topic dump, events first pass the transaction
    gate: :func:`split_complete_transactions` (``scope``: its
    ``collection`` or ``collection_col``), txn columns dropped. The verdict
    is cached: a batched replay re-scans the complete side once per LSN
    window. Pending transactions are not errors; they stay in the topic and
    replay once a fuller dump arrives (batch-id idempotence absorbs the
    overlap). Then undecodable rows go to ``quarantine_path``."""
    stats = {}
    if txn_markers is not None:
        markers = decode_transaction_markers(read_wire(spark, txn_markers))
        complete, pending = split_complete_transactions(
            decoded, markers.filter("status IS NOT NULL"), cache_verdict=True, **scope
        )
        decoded = complete.drop("_txn_id", "_txn_order")
        stats["txn_pending"] = pending.count()
    good, stats["quarantined"] = quarantine_malformed(decoded, quarantine_path)
    return good, stats


@dataclass(frozen=True)
class WireConnector:
    #: (wire, payload_schema, **decoder options) -> decoded rows
    decoder: Callable[..., DataFrame]
    #: columns beyond the engine changelog shape, dropped before replay
    drop: tuple[str, ...] = ()
    #: lsn = commit << bits | statement: replay windows align to commits
    align_bits: int | None = None
    #: the Debezium transaction-metadata topic can gate this connector
    txn_markers: bool = False
    #: wire -> (ddl_lines, other_lines); None: no in-stream DDL
    split_ddl: Callable[[DataFrame], tuple[DataFrame, DataFrame]] | None = None
    #: ddl_lines -> schema-change rows; None: the DDL carries raw SQL only
    decode_ddl: Callable[[DataFrame], DataFrame] | None = None

    def decode(self, wire: DataFrame, payload: StructType, **options) -> DataFrame:
        """Decode a :func:`read_wire` frame to changelog rows."""
        rows = self.decoder(
            wire, payload, json_col="value", partition_col="partition", **options
        )
        return rows.drop(*self.drop) if self.drop else rows


def _debezium(connector: str) -> WireConnector:
    return WireConnector(
        partial(decode_debezium, connector=connector),
        txn_markers=True,
        split_ddl=split_schema_changes,
        decode_ddl=partial(decode_schema_changes, connector=connector),
    )


CONNECTORS: dict[str, WireConnector] = {
    "postgres": _debezium("postgres"),
    "mysql": _debezium("mysql"),
    "mongo": WireConnector(decode_mongo),
    "wal2json": WireConnector(decode_wal2json, drop=("xid", "txn_seq"), align_bits=16),
    # Maxwell output_ddl: table-create/alter envelopes carry the full
    # post-change column list under def.columns — same fold, same
    # early-apply soundness argument as the Debezium schema changes
    "maxwell": WireConnector(
        maxwell.decode_maxwell,
        align_bits=16,
        split_ddl=maxwell.split_ddl,
        decode_ddl=maxwell.decode_ddl,
    ),
    # Canal DDL envelopes carry only the raw SQL text (no structured
    # post-change column list), so they cannot drive the additive-evolution
    # fold; they are split off the data stream and counted — operators
    # re-discover the schema (or pass --payload-ddl) after a DDL point.
    # decode_canal would quarantine them anyway; splitting keeps the
    # malformed count meaningful.
    "canal": WireConnector(canal.decode_canal, align_bits=16, split_ddl=canal.split_ddl),
    "dms": WireConnector(decode_dms, drop=("txn_id",)),
}
