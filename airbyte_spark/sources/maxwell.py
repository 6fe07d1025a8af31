"""Maxwell JSON envelope decoder: MySQL binlog CDC events -> changelog rows.

Maxwell (zendesk/maxwell, the other widely deployed public MySQL CDC wire
format besides Debezium) emits one JSON document per row-change. The
reference's MySQL CDC path consumes row-change events and flattens them to
after-images plus a (binlog file, position) cursor compared
file-lexicographically then by offset (MySqlCdcTargetPosition.java:73-99);
this module gives the same changelog contract for the Maxwell wire shape so a
Kafka topic of Maxwell JSON plugs straight into ``CdcEngine.replay`` /
``replay_stream``, exactly like ``sources/debezium.py`` and
``sources/wal2json.py`` do for their formats.

Maxwell's shape (maxwells-daemon.io/dataformat, public docs) differs from
Debezium's in four ways this module models explicitly:

1. **``data`` is always the full row image** — inserts, updates AND deletes
   (a delete's ``data`` is the deleted row). There is no before/after pair;
   ``old`` carries only the changed columns' previous values on updates.
2. **``ts`` is epoch SECONDS**, not millis.
3. **Transaction framing is in-band**: non-final rows of a transaction carry
   ``xoffset`` (0-based statement index); the FINAL row instead carries
   ``commit: true`` and no ``xoffset``. Within-transaction order is
   (xoffset..., commit-row-last).
4. **The binlog position is optional** (``output_binlog_position``): when
   present, ``position`` is ``"<file>:<offset>"``; otherwise ordering falls
   back to the monotonic ``xid``.

Spark-first decode, zero Python on the data path: ONE typed ``from_json``
(the caller's payload schema typed directly under ``data``) read into the
shared changelog row once per row (``sources/wire.py``).

LSN packing: total order = (transaction position, within-transaction order),
as one orderable long:

- ``use_position=True``: ``(file_index * 2^32 + offset) * 2^seq_bits +
  suborder`` — binlog offsets are bounded by max_binlog_size <= 1 GiB < 2^32
  (same bound the Debezium decoder relies on), and with the default 16
  sub-order bits the rotation index budget is 2^15 files, far above any
  real retention window.
- ``use_position=False`` (default — ``position`` is optional on the wire):
  ``xid * 2^seq_bits + suborder``. MySQL xids are a monotonic server
  counter, so commit order == xid order on a single server.

The commit row is the LAST change of its transaction, so its suborder is the
max (2^seq_bits - 1); explicit ``xoffset`` values must stay below that —
rows that overflow the budget decode to ``op IS NULL`` for the caller's
quarantine split (``sources/wire.py:split_malformed`` contract), as do
parse failures, non-row types (``bootstrap-start``/``bootstrap-complete``
framing, DDL events), binlog rotation indexes past the
``2^(63-32-seq_bits)`` packing budget (a wrapped LSN would silently
misorder), and non-bootstrap rows missing their position source (xid, or
``position`` under ``use_position``) — never silently dropped. The one
legitimate missing-source case is ``bootstrap-insert``: Maxwell bootstrap
rows run outside transactions and carry no xid/position, so they pack at
base 0 — the initial snapshot ordering before every tailed transaction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.sources import wire
from airbyte_spark.sources.debezium import mysql_packed_lsn
from airbyte_spark.sources.wire import split_lines

# Maxwell row-change types -> engine ops. ``bootstrap-insert`` is Maxwell's
# initial-snapshot row (the Debezium ``r`` analog) -> I. Framing rows
# (bootstrap-start/complete) and DDL (table-create/alter/drop, when
# output_ddl is on) carry no row image -> NULL -> quarantine/route.
_TYPE_MAP = [
    ("insert", "I"),
    ("bootstrap-insert", "I"),
    ("update", "U"),
    ("delete", "D"),
]


def envelope_schema(payload_schema: StructType) -> StructType:
    """The typed Maxwell envelope for ``from_json``.

    ``old`` (changed columns' previous values, updates only) is parsed with
    the same payload schema — absent fields are simply null — so callers that
    want changed-column detection can request it via ``include_old``.
    """
    return StructType(
        [
            StructField("database", StringType(), True),
            StructField("table", StringType(), True),
            StructField("type", StringType(), True),
            StructField("ts", LongType(), True),  # epoch SECONDS
            StructField("xid", LongType(), True),
            StructField("xoffset", LongType(), True),
            StructField("commit", BooleanType(), True),
            StructField("position", StringType(), True),  # "<file>:<offset>"
            StructField("server_id", LongType(), True),
            StructField("data", payload_schema, True),
            StructField("old", payload_schema, True),
        ]
    )


def decode_maxwell(
    df: DataFrame,
    payload_schema: StructType,
    *,
    json_col: str = "value",
    partition_col: str | None = None,
    use_position: bool = False,
    seq_bits: int = 16,
    include_old: bool = False,
    include_metadata: bool = False,
) -> DataFrame:
    """Decode a DataFrame of Maxwell JSON envelope strings to changelog rows.

    Output columns: ``op`` (I/U/D), ``lsn`` (one orderable long — see module
    docstring for the packing), ``ts_ms`` (``ts`` seconds -> epoch millis),
    ``source_partition`` (from ``partition_col`` if given, e.g. the Kafka
    partition Maxwell hashed the row to, else 0), then the payload columns of
    ``payload_schema`` taken from ``data`` (always the full row image, deletes
    included — Maxwell semantics, no before/after coalesce needed).

    ``include_old=True`` appends an ``_old`` struct column (changed columns'
    previous values, null except on updates). ``include_metadata=True``
    appends the ``_ab_cdc_*`` tail (``sources/wire.py:cdc_metadata``).

    Rows that fail envelope parse, carry a non-row ``type``, or overflow the
    suborder budget decode to ``op IS NULL`` — route with
    :func:`airbyte_spark.sources.wire.split_malformed`.
    """
    if not 1 <= seq_bits <= 24:
        raise ValueError(f"seq_bits must be in [1, 24], got {seq_bits}")
    env = F.from_json(F.col(json_col), envelope_schema(payload_schema))
    d = df.withColumn("_env", env)

    op = wire.op_code(_TYPE_MAP, F.col("_env.type"))

    commit_sub = F.lit((1 << seq_bits) - 1).cast("long")
    # commit row (commit:true, no xoffset) is last in its txn -> max suborder;
    # a single-statement txn arrives as ONE commit row, same rule applies.
    sub = F.when(
        F.col("_env.xoffset").isNotNull(), F.col("_env.xoffset")
    ).otherwise(commit_sub)
    overflow = F.col("_env.xoffset").isNotNull() & (
        F.col("_env.xoffset") >= commit_sub
    )

    # Bootstrap rows run OUTSIDE transactions: real Maxwell bootstrap-insert
    # envelopes carry no xid (and no position) — they ARE the initial
    # snapshot, so they order before every tailed transaction (base 0, the
    # same snapshot-before-tail total order CdcEngine.bootstrap assumes).
    # Any OTHER row type missing its position source must quarantine, not
    # decode with a NULL lsn that a replay window predicate would silently
    # drop.
    is_bootstrap = F.col("_env.type") == "bootstrap-insert"
    zero = F.lit(0).cast("long")
    if use_position:
        pos = F.col("_env.position")
        file_part = F.substring_index(pos, ":", 1)
        off = F.substring_index(pos, ":", -1).cast("long")
        idx = F.regexp_extract(file_part, r"(\d+)$", 1).cast("long")
        base = F.when(pos.isNull() & is_bootstrap, zero).otherwise(
            F.shiftleft(mysql_packed_lsn(file_part, off), seq_bits)
        )
        src_missing = pos.isNull() & ~is_bootstrap
        # file rotation index budget: (idx<<32 | off) << seq_bits must stay
        # inside signed 64 — past it LSNs would wrap negative and misorder
        src_overflow = pos.isNotNull() & (
            idx >= F.lit(1 << (63 - 32 - seq_bits))
        )
    else:
        xid = F.col("_env.xid")
        base = F.when(xid.isNull() & is_bootstrap, zero).otherwise(
            F.shiftleft(xid, seq_bits)
        )
        src_missing = xid.isNull() & ~is_bootstrap
        src_overflow = F.lit(False)
    op = F.when(
        overflow | src_missing | src_overflow, F.lit(None).cast("string")
    ).otherwise(op)
    lsn = base + sub

    ts_ms = F.col("_env.ts") * F.lit(1000)
    carrier = wire.head(op, lsn, ts_ms, partition_col) + [F.col("_env.data").alias("_img")]
    if include_old:
        carrier.append(F.col("_env.old").alias("_old"))

    def _rest(once: Column) -> list[Column]:
        cols = wire.payload(once.getField("_img"), payload_schema)
        if include_old:
            cols.append(once.getField("_old").alias("_old"))
        if include_metadata:
            cols += wire.cdc_metadata(once.getField("op"), once.getField("ts_ms"))
        return cols

    # the envelope parses once per row: sources/wire.py emit_once
    return wire.emit_once(d, carrier, _rest)


# --------------------------------------------------------------- DDL events

#: every Maxwell DDL type starts "table-" (table-create/alter/drop); data
#: rows carry "insert"/"update"/"delete" — one cheap string filter splits.
#: Whitespace-tolerant: Maxwell emits compact JSON but re-serialized dumps
#: commonly carry ": " separators
DDL_MARKER_RE = r'"type"\s*:\s*"table-'


def split_ddl(wire: DataFrame, json_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(ddl_lines, other_lines): Maxwell ``output_ddl`` envelopes split off
    the data stream (``sources/wire.py:split_lines``)."""
    return split_lines(wire, F.col(json_col).rlike(DDL_MARKER_RE), json_col)


def _ddl_envelope() -> StructType:
    columns = ArrayType(
        StructType(
            [
                StructField("name", StringType(), True),
                StructField("type", StringType(), True),
            ]
        )
    )
    table_def = StructType(
        [
            StructField("database", StringType(), True),
            StructField("table", StringType(), True),
            StructField("columns", columns, True),
            StructField("primary-key", ArrayType(StringType()), True),
        ]
    )
    return StructType(
        [
            StructField("type", StringType(), True),
            StructField("database", StringType(), True),
            StructField("table", StringType(), True),
            StructField("ts", LongType(), True),
            StructField("sql", StringType(), True),
            StructField("def", table_def, True),  # post-change shape
            StructField("old", table_def, True),
        ]
    )


def decode_ddl(df: DataFrame, json_col: str = "value") -> DataFrame:
    """Decode Maxwell ``output_ddl`` envelopes to one row per DDL event in
    the SAME shape ``schema_change.changes_to_payload_schema`` folds:
    (lsn, ts_ms, change_type, table_id, ddl, columns[{name, type_name,
    optional}]). Maxwell DDL envelopes carry no binlog position, so
    ordering rides ``ts`` (seconds -> ms; lsn 0) — the fold sorts by
    (lsn, ts_ms), and Maxwell emits DDL in commit order. ``def.columns``
    is the full post-change column list (MySQL type names — the shared
    JDBC type map covers them). Undecodable lines yield ``change_type IS
    NULL`` for the caller to quarantine."""
    env = F.from_json(F.col(json_col), _ddl_envelope())
    d = df.withColumn("_env", env)
    return d.select(
        F.lit(0).cast("long").alias("lsn"),
        (F.col("_env.ts") * 1000).cast("long").alias("ts_ms"),
        F.when(
            F.col("_env.type").startswith("table-"), F.col("_env.type")
        ).alias("change_type"),
        F.concat_ws(
            ".",
            F.coalesce(F.col("_env.def.database"), F.col("_env.database")),
            F.coalesce(F.col("_env.def.table"), F.col("_env.table")),
        ).alias("table_id"),
        F.col("_env.sql").alias("ddl"),
        F.expr(
            "transform(_env.def.columns, c -> struct("
            "c.name AS name, c.type AS type_name, "
            "CAST(NULL AS BOOLEAN) AS optional))"
        ).alias("columns"),
    )
