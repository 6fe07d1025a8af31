"""AWS DMS JSON envelope decoder: replication-task CDC output ->
changelog rows.

AWS Database Migration Service is the most widely deployed managed CDC
pipeline writing to S3/Kinesis; its JSON record format (public AWS docs,
"Using Amazon S3 as a target" / "Using Amazon Kinesis Data Streams as a
target") is the sixth wire shape this engine decodes, alongside Debezium,
Debezium-Mongo, wal2json, Maxwell and Canal. The reference's CDC paths all
flatten change events to after-images plus a comparable position
(MySqlCdcTargetPosition.java:73-99); this module gives that same changelog
contract for DMS dumps so they plug straight into ``CdcEngine.replay``.

DMS's shape differs from the other five in three ways this module models
explicitly:

1. **``data`` is TYPED JSON** (numbers are numbers — unlike Canal's
   string-serialization), so the payload schema types directly under
   ``data`` in one ``from_json``.
2. **There is no log position on the wire.** ``metadata`` carries an ISO
   microsecond ``timestamp`` (the source commit time) and a
   ``transaction-id``; total order must be derived. The engine LSN packs
   ``commit_micros << seq_bits | seq`` where ``seq`` optionally comes from
   a caller column (e.g. the dump file's line number or a Kinesis
   sequence number via ``seq_col``); without one, events in the SAME
   microsecond tie (``seq`` 0) and LWW resolution between them is
   arbitrary (epoch micros need 51 of the 63 LSN bits, so the default
   sub-order budget is 12 bits) — real DMS deployments needing strict intra-microsecond
   order must supply ``seq_col``. This is an honest property of the wire
   format, not a decoder limitation. One interaction is sharper than the
   generic arbitrary-LWW tie: ``update_mode="token_append"`` dedups exact
   redeliveries by ``(key, lsn)`` BEFORE its fold (concatenation is not
   idempotent), so two genuinely DIFFERENT same-key events landing in the
   same microsecond without ``seq_col`` would collapse to one append.
   The engine makes that observable instead of silent: the token_append
   path counts (key, lsn) groups whose payloads DIFFER before its dedup
   and emits an ``append_lsn_conflicts_dropped`` metric naming this fix —
   supply ``seq_col`` (every DMS transport has one: S3 dump line number,
   Kinesis sequence number).
3. **Ops include ``load``** (full-load phase rows -> I, the Debezium
   ``r`` analog) and ``record-type: "control"`` envelopes (DDL /
   table-level events) that carry no row image -> quarantine/route.

Spark-first decode, zero Python on the data path: ONE typed ``from_json``
read into the shared changelog row once per row (``sources/wire.py``).

Rows that fail envelope parse, carry ``record-type`` other than
``data``, an unknown ``operation``, an unparseable timestamp, or a
``seq`` past the budget decode to ``op IS NULL`` for the caller's
quarantine split (``sources/wire.py:split_malformed`` contract) —
never silently dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.sources import wire

# DMS operations -> engine ops. "load" is the full-load phase (Debezium
# "r" / Maxwell "bootstrap-insert" analog).
_OP_MAP = [
    ("load", "I"),
    ("insert", "I"),
    ("update", "U"),
    ("delete", "D"),
]


def envelope_schema(payload_schema: StructType) -> StructType:
    """The typed DMS envelope for ``from_json`` — ``data`` types directly
    (DMS writes typed JSON values), ``metadata`` per the public record
    format (hyphenated keys are legal JSON names; ``from_json`` matches
    them verbatim)."""
    metadata = StructType(
        [
            StructField("timestamp", StringType(), True),  # ISO micros
            StructField("record-type", StringType(), True),
            StructField("operation", StringType(), True),
            StructField("partition-key-type", StringType(), True),
            StructField("schema-name", StringType(), True),
            StructField("table-name", StringType(), True),
            StructField("transaction-id", LongType(), True),
        ]
    )
    return StructType(
        [
            StructField("data", payload_schema, True),
            StructField("metadata", metadata, True),
        ]
    )


def decode_dms(
    df: DataFrame,
    payload_schema: StructType,
    *,
    json_col: str = "value",
    partition_col: str | None = None,
    seq_col: str | None = None,
    seq_bits: int = 12,
    include_metadata: bool = False,
    include_table: bool = False,
) -> DataFrame:
    """Decode a DataFrame of DMS JSON envelope strings to changelog rows.

    Output columns: ``op`` (I/U/D), ``lsn`` (long —
    ``commit_micros << seq_bits | seq``; see the module docstring for the
    tie caveat when ``seq_col`` is absent), ``ts_ms`` (commit time, epoch
    millis), ``txn_id`` (DMS ``transaction-id``), ``source_partition``,
    then the payload columns typed straight from ``data``. DMS deletes
    carry the key columns in ``data`` (non-key payload NULL), matching the
    reference's delete handling (docs/understanding-airbyte/cdc.md:29).

    ``include_metadata=True`` appends the ``_ab_cdc_*`` tail and
    ``include_table=True`` the ``_ab_stream`` routing column (the bare
    ``table-name``), both from ``sources/wire.py``.

    Commit-time packing budget: epoch micros need 51 bits for current
    dates (2^51 us = year 2041), so the default ``seq_bits=12`` (4096
    same-microsecond events) exactly fills the signed-64 LSN; the guard
    quarantines any timestamp past the remaining budget rather than
    silently misorder, and larger ``seq_bits`` trade date headroom for
    sequence headroom explicitly.
    """
    if not 0 <= seq_bits <= 20:
        raise ValueError(f"seq_bits must be in [0, 20], got {seq_bits}")
    env = F.from_json(F.col(json_col), envelope_schema(payload_schema))
    d = df.withColumn("_env", env)

    meta = F.col("_env").getField("metadata")  # hyphenated keys: getField
    op = wire.op_code(_OP_MAP, F.lower(F.col("_env.metadata.operation")))

    # ISO-8601 with Z suffix casts directly (try_cast: malformed -> NULL
    # under ANSI mode, not a throw) -> no orderable position -> quarantine
    ts = F.col("_env.metadata.timestamp").try_cast("timestamp")
    micros = F.unix_micros(ts)
    seq = (
        F.coalesce(F.col(seq_col).cast("long"), F.lit(0))
        if seq_col is not None
        else F.lit(0).cast("long")
    )
    max_base = (1 << (63 - seq_bits)) - 1
    bad = (
        (F.coalesce(meta.getField("record-type"), F.lit("data")) != "data")
        | micros.isNull()
        | (micros > F.lit(max_base))
        | (seq >= F.lit(1 << seq_bits))
        | (seq < 0)
    )
    op = F.when(~bad, op)
    lsn = F.shiftleft(micros, seq_bits) + seq

    # floor of the double division is exact here: micros < 2^53 so the
    # quotient rounds within 1 ulp (~2^-12), never across an integer
    carrier = wire.head(op, lsn, F.floor(micros / 1000), partition_col)
    carrier[3:3] = [meta.getField("transaction-id").alias("txn_id")]
    carrier.append(F.col("_env.data").alias("_img"))
    if include_table:
        carrier.append(meta.getField("table-name").alias("_tbl"))

    def _rest(once: Column) -> list[Column]:
        cols = wire.payload(once.getField("_img"), payload_schema)
        if include_metadata:
            cols += wire.cdc_metadata(once.getField("op"), once.getField("ts_ms"))
        if include_table:
            cols.append(once.getField("_tbl").alias(wire.STREAM))
        return cols

    # the envelope parses once per row: sources/wire.py emit_once
    names = ("op", "lsn", "ts_ms", "txn_id", "source_partition")
    return wire.emit_once(d, carrier, _rest, names)
