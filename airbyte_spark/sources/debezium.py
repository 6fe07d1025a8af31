"""Debezium JSON envelope decoder: Kafka-style CDC events -> changelog rows.

The reference consumes Debezium change events and flattens each to the
after-image (before-image for deletes) plus CDC metadata columns
(DebeziumEventUtils.java:22-33 column names; :98-109 ``formatRelationalDbEvent``
takes ``after``, falls back to ``before`` when ``after`` is null = delete;
:168-188 ``addCdcMetadata`` stamps ``_ab_cdc_updated_at`` from ``source.ts_ms``
and ``_ab_cdc_deleted_at`` on deletes). Position semantics are per-connector:
Postgres carries a single monotonic long LSN
(PostgresCdcTargetPosition.java:23); MySQL carries (binlog file, position)
compared file-lexicographically then by position
(MySqlCdcTargetPosition.java:73-99).

Spark-first mapping: ONE ``from_json`` against a typed envelope schema, then a
narrow projection — the whole decode stays inside whole-stage codegen (no
Python on the data path). The output is this engine's changelog shape
(schemas.changelog ordering: op/pk/lsn/ts_ms + payload), so a Kafka topic of
Debezium JSON plugs straight into ``CdcEngine.replay``/``replay_stream``.

MySQL file+pos is packed into one orderable long: ``file_index * 2^32 + pos``
(binlog positions are bounded by max_binlog_size <= 1 GiB, far below 2^32),
preserving the reference's (file, pos) lexicographic total order while keeping
the engine's single-long cursor arithmetic (checkpoints, target-LSN bounds).
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
from airbyte_spark.sources.wire import split_malformed  # noqa: F401  (re-exported)

# Debezium op codes (io.debezium.data.Envelope.Operation):
#   c=create, u=update, d=delete, r=read (snapshot) -> engine I/U/D
_OP_MAP = [("c", "I"), ("r", "I"), ("u", "U"), ("d", "D")]

#: fields every Debezium ``source`` block carries that we use; unknown extras
#: are ignored by from_json (airbyte-protocol.md:444-449 — unknown fields
#: ignored, never fatal).
def source_schema() -> StructType:
    return StructType(
        [
            StructField("ts_ms", LongType(), True),
            StructField("lsn", LongType(), True),        # postgres
            StructField("file", StringType(), True),     # mysql
            StructField("pos", LongType(), True),        # mysql
            StructField("snapshot", StringType(), True),
            StructField("db", StringType(), True),
            StructField("schema", StringType(), True),
            StructField("table", StringType(), True),
        ]
    )


def envelope_schema(payload_schema: StructType) -> StructType:
    """The typed Debezium envelope for ``from_json``."""
    return StructType(
        [
            StructField("before", payload_schema, True),
            StructField("after", payload_schema, True),
            StructField("source", source_schema(), True),
            StructField("op", StringType(), True),
            StructField("ts_ms", LongType(), True),
            # present when the connector runs with provide.transaction.metadata
            StructField(
                "transaction",
                StructType(
                    [
                        StructField("id", StringType(), True),
                        StructField("total_order", LongType(), True),
                        StructField("data_collection_order", LongType(), True),
                    ]
                ),
                True,
            ),
        ]
    )


def mysql_packed_lsn(file_col: Column, pos_col: Column) -> Column:
    """(binlog file, position) -> one orderable long.

    The reference orders MySQL positions by file name lexicographically, then
    by position within the file (MySqlCdcTargetPosition.java:73-99); binlog
    file names end in a zero-padded rotation index (``mysql-bin.000042``), so
    lexicographic file order == numeric order of that suffix. Packing
    ``index * 2^32 + pos`` preserves the total order in a single long.
    """
    idx = F.regexp_extract(file_col, r"(\d+)$", 1).cast("long")
    return F.shiftleft(idx, 32) + pos_col


def decode_debezium(
    df: DataFrame,
    payload_schema: StructType,
    *,
    connector: str = "postgres",
    json_col: str = "value",
    partition_col: str | None = None,
    include_metadata: bool = False,
    connect_wrapper: bool = False,
    include_table: bool = False,
    include_txn: bool = False,
) -> DataFrame:
    """Decode a DataFrame of Debezium JSON envelope strings to changelog rows.

    Output columns: ``op`` (I/U/D), the payload columns of
    ``payload_schema`` (after-image; before-image for deletes — deletes that
    carry only the PK in ``before`` yield null non-key payload, matching
    docs/understanding-airbyte/cdc.md:29), ``lsn`` (long, connector-specific
    position packed to one monotonic long), ``ts_ms`` (source event time,
    epoch millis), ``source_partition`` (from ``partition_col`` if given,
    e.g. the Kafka partition, else 0).

    Rows whose JSON fails to parse or whose ``op`` is unrecognized decode to
    ``op IS NULL`` — route them with :func:`split_malformed`; they are never
    silently dropped here.

    ``include_table=True`` appends ``_ab_stream`` — the source table name
    from the envelope (``source.table``) — which is exactly the routing
    column ``DemuxEngine`` fans out on: a SINGLE topic carrying every
    table's changes (Debezium topic-routing SMT / one-connection WAL order)
    decodes once and demuxes to N lake tables under one shared offset.

    ``include_txn=True`` appends ``_txn_id`` / ``_txn_order`` from the
    envelope's ``transaction`` block (Debezium's
    ``provide.transaction.metadata``) — feed these with the BEGIN/END
    marker topic (:func:`decode_transaction_markers`) into
    :func:`split_complete_transactions` to gate replay on transaction
    completeness, the out-of-band analog of wal2json/maxwell's in-band
    commit framing.

    ``connect_wrapper=True`` handles topics produced by Kafka Connect's
    JSONConverter with ``schemas.enable=true`` (the Connect default, and what
    the reference's Debezium pipeline emits unless value.converter is
    reconfigured): every message is ``{"schema": {...}, "payload":
    <envelope>}``. The envelope schema is simply nested one level under
    ``payload`` in the SAME single typed ``from_json`` — the in-band schema
    blob is never parsed (the caller's payload_schema is authoritative), so
    the wrapped decode costs exactly what the bare decode costs.

    With ``include_metadata=True`` also emits ``_ab_cdc_updated_at`` /
    ``_ab_cdc_deleted_at`` (DebeziumEventUtils.java:168-188) for standalone
    use; the engine's own metadata injection normally does this downstream.
    """
    if connector not in ("postgres", "mysql"):
        raise ValueError(f"unknown connector {connector!r}")
    schema = envelope_schema(payload_schema)
    if connect_wrapper:
        parsed = F.from_json(
            F.col(json_col),
            StructType([StructField("payload", schema, True)]),
        )
        env = parsed.getField("payload")
    else:
        env = F.from_json(F.col(json_col), schema)
    d = df.withColumn("_env", env)

    op = wire.op_code(_OP_MAP, F.col("_env.op"))
    # after-image, before-image fallback (formatRelationalDbEvent :98-109)
    image = F.coalesce(F.col("_env.after"), F.col("_env.before"))
    if connector == "postgres":
        lsn = F.col("_env.source.lsn")
    else:
        lsn = mysql_packed_lsn(F.col("_env.source.file"), F.col("_env.source.pos"))
    ts_ms = F.coalesce(F.col("_env.source.ts_ms"), F.col("_env.ts_ms"))

    carrier = wire.head(op, lsn, ts_ms, partition_col) + [image.alias("_img")]
    if include_table:
        carrier.append(F.col("_env.source.table").alias("_tbl"))
    if include_txn:
        carrier.append(F.col("_env.transaction.id").alias("_txid"))
        carrier.append(F.col("_env.transaction.total_order").alias("_txord"))

    def _rest(once: Column) -> list[Column]:
        cols = wire.payload(once.getField("_img"), payload_schema)
        if include_table:
            cols.append(once.getField("_tbl").alias(wire.STREAM))
        if include_txn:
            cols.append(once.getField("_txid").alias("_txn_id"))
            cols.append(once.getField("_txord").alias("_txn_order"))
        if include_metadata:
            cols += wire.cdc_metadata(once.getField("op"), once.getField("ts_ms"))
        return cols

    return wire.emit_once(d, carrier, _rest)


# --------------------------------------------------- transaction metadata

def transaction_marker_schema() -> StructType:
    """Typed schema of Debezium's transaction-metadata topic
    (provide.transaction.metadata): one BEGIN and one END document per
    source transaction; END carries the total event count plus the
    per-table breakdown (``data_collections``) — the per-topic bound a
    single-table consumer must gate on."""
    from pyspark.sql.types import ArrayType

    return StructType(
        [
            StructField("status", StringType(), True),  # BEGIN | END
            StructField("id", StringType(), True),
            StructField("event_count", LongType(), True),  # END only
            StructField(
                "data_collections",
                ArrayType(
                    StructType(
                        [
                            StructField("data_collection", StringType(), True),
                            StructField("event_count", LongType(), True),
                        ]
                    )
                ),
                True,
            ),
            StructField("ts_ms", LongType(), True),
        ]
    )


def decode_transaction_markers(df: DataFrame, json_col: str = "value") -> DataFrame:
    """Decode the transaction-metadata topic to typed marker rows.

    Same quarantine contract as the event decoders: rows that fail parse or
    carry an unknown ``status`` surface with ``status IS NULL`` (filter
    before use); they are never silently dropped.
    """
    m = F.from_json(F.col(json_col), transaction_marker_schema())
    status = F.when(
        m.getField("status").isin("BEGIN", "END"), m.getField("status")
    )
    return df.select(
        status.alias("status"),
        m.getField("id").alias("_txn_id"),
        m.getField("event_count").alias("event_count"),
        m.getField("data_collections").alias("data_collections"),
        m.getField("ts_ms").alias("ts_ms"),
    )


def split_complete_transactions(
    events: DataFrame,
    markers: DataFrame,
    *,
    collection: str | None = None,
    collection_col: str | None = None,
    cache_verdict: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """(complete, pending): gate decoded events on transaction completeness.

    ``cache_verdict=True`` materializes the complete-transaction id set
    eagerly (persisted, txn-id-sized) so callers that re-scan the gated
    stream many times — a batched replay re-reads ``complete`` once per
    LSN window — pay the count aggregate and marker join ONCE instead of
    per scan; the cached ids live until the session drops them.

    An event's transaction is COMPLETE when the marker topic has its END
    marker AND the observed event count equals the expected one — a
    truncated topic dump (crash mid-transaction, consumer lag) leaves the
    transaction PENDING, so a bounded replay of ``complete`` can never
    apply half a source transaction (the reference's Debezium path gets
    this from the engine's own commit framing; with a Kafka dump the
    marker topic is the only boundary signal). Events with no ``_txn_id``
    (connector running without transaction metadata) count as complete —
    there is no framing to violate.

    Three completeness bounds, because Debezium's END ``event_count``
    totals events across ALL tables of the transaction:

    - default (both kwargs None): expected = the END's total
      ``event_count``. Correct when the dump carries the transaction's
      whole event set (a one-table source, or a demuxed whole-server
      dump). A single-table topic of a multi-table source would never
      complete under this bound — use ``collection``.
    - ``collection="schema.table"``: single-topic-per-table consumer —
      expected = that table's entry in the END's ``data_collections``
      breakdown (falls back to the total when the marker carries no
      breakdown; a breakdown that omits the table leaves it pending).
    - ``collection_col="_ab_stream"``: multi-table event stream (e.g.
      ``include_table=True`` feeding ``DemuxEngine``) — per-(txn, table)
      counts must ALL match their ``data_collections`` entries, and every
      breakdown entry must be observed; a truncated OR wholly-missing
      table holds the whole transaction pending (it cannot half-apply).
      Requires markers with ``data_collections``.

    Scale shape: one partial-combined count per transaction id (or
    (txn, table) pair — both bounded by the window's transactions, not
    events) joined to the END markers, then the verdict broadcast back
    onto the event stream as an equi-join on ``_txn_id`` — events never
    shuffle by anything wider than the txn id, and the txn-verdict side
    is window-bounded metadata.
    """
    if "_txn_id" not in events.columns:
        raise ValueError("events lack _txn_id — decode with include_txn=True")
    if collection is not None and collection_col is not None:
        raise ValueError("pass collection OR collection_col, not both")
    ends = markers.filter(F.col("status") == "END").dropDuplicates(["_txn_id"])
    tracked = events.filter(F.col("_txn_id").isNotNull())
    if collection_col is not None:
        expected = ends.select(
            "_txn_id", F.explode("data_collections").alias("_dc")
        ).select(
            "_txn_id",
            F.col("_dc.data_collection").alias("_coll"),
            F.col("_dc.event_count").alias("_expected"),
        )
        observed = tracked.groupBy(
            "_txn_id", F.col(collection_col).alias("_coll")
        ).agg(F.count("*").alias("_n_seen"))
        # FULL outer: a breakdown table with zero observed events (the
        # dump misses a whole table) must pend the transaction just like a
        # truncated one — and observed events with no breakdown entry
        # likewise. Filtered single-table consumption belongs to the
        # ``collection=`` mode, not here.
        per = observed.join(expected, ["_txn_id", "_coll"], "full_outer")
        ok = (
            F.col("_expected").isNotNull()
            & F.col("_n_seen").isNotNull()
            & (F.col("_n_seen") == F.col("_expected"))
        ).cast("int")
        complete_ids = (
            per.groupBy("_txn_id")
            .agg(F.min(ok).alias("_allok"))
            .filter(F.col("_allok") == 1)
            .select("_txn_id")
        )
    else:
        if collection is not None:
            exploded = ends.select(
                "_txn_id",
                "event_count",
                F.explode_outer("data_collections").alias("_dc"),
            ).filter(
                F.col("_dc").isNull()
                | (F.col("_dc.data_collection") == collection)
            )
            expected = exploded.select(
                "_txn_id",
                F.coalesce(
                    F.col("_dc.event_count"), F.col("event_count")
                ).alias("_expected"),
            ).dropDuplicates(["_txn_id"])
        else:
            expected = ends.select(
                "_txn_id", F.col("event_count").alias("_expected")
            )
        observed = tracked.groupBy("_txn_id").agg(
            F.count("*").alias("_n_seen")
        )
        complete_ids = (
            observed.join(expected, "_txn_id")
            .filter(F.col("_n_seen") == F.col("_expected"))
            .select("_txn_id")
        )
    if cache_verdict:
        from pyspark import StorageLevel

        complete_ids = complete_ids.persist(StorageLevel.MEMORY_AND_DISK)
        complete_ids.count()  # materialize now; batch scans reuse it
    tagged = events.join(
        F.broadcast(complete_ids.withColumn("_complete", F.lit(True))),
        "_txn_id",
        "left",
    )
    untracked = F.col("_txn_id").isNull()
    ok = untracked | F.col("_complete").isNotNull()
    cols = events.columns
    return (
        tagged.filter(ok).select(*cols),
        tagged.filter(~ok).select(*cols),
    )
