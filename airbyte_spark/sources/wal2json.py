"""wal2json envelope decoder: transaction-grouped Postgres logical decoding
output -> per-change changelog rows.

The reference's Postgres CDC path consumes logical-decoding change events and
flattens them to after-images plus position metadata (PostgresCdcTargetPosition
.java:23 single monotonic LSN; DebeziumEventUtils.java:98-109 image selection).
wal2json (the other widely deployed PG output plugin, wal2json.c public docs)
differs from Debezium's shape in three ways this module models explicitly:

1. **Envelopes are per-TRANSACTION, not per-row**: one JSON document carries
   ``xid``, the commit position (``nextlsn``, rendered ``"X/Y"`` hex), a commit
   ``timestamp``, and a ``change`` array with every row-change of the txn in
   statement order.
2. **Values ride positionally**: each change has parallel ``columnnames`` /
   ``columnvalues`` arrays (``oldkeys.keynames``/``keyvalues`` for deletes),
   not a typed ``after`` struct.
3. **Within-transaction order matters**: two updates to the same key inside
   one transaction must resolve to the LATER one, but all changes share the
   transaction's commit LSN.

Spark-first decode, zero Python on the data path:

- ONE typed ``from_json`` (``change`` decoded as ``array<struct<...,
  columnvalues: array<string>>>`` — Spark's Jackson parser coerces any JSON
  scalar to its raw text for StringType fields, so heterogeneous value arrays
  land losslessly as strings, then cast per-column).
- ``posexplode`` of the change array gives the statement index.
- ``map_from_arrays(columnnames, columnvalues)`` -> per-field ``m[name].cast``
  against the caller's payload schema (name-based, so column reordering or
  extra columns in the wire never misassign values).
- The ``"X/Y"`` commit LSN packs to one orderable long via
  ``conv(hi,16,10)<<32 | conv(lo,16,10)`` and the engine LSN is
  ``pg_lsn << seq_bits | statement_index`` — total order = (commit position,
  statement order), exactly the replay order logical decoding guarantees,
  while keeping the engine's single-long cursor arithmetic (checkpoints,
  bounded-replay targets) unchanged. Postgres LSNs are byte positions; real
  clusters sit far below 2^47, so the default 16 sub-order bits cannot
  overflow a signed 64-bit engine LSN.

Rows that fail envelope parse, carry an unknown ``kind``, or overflow the
statement-index budget decode to ``op IS NULL`` for the caller's quarantine
split (same contract as ``sources/wire.py:split_malformed``) — never
silently dropped.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.sources import wire

# wal2json change kinds -> engine ops. "message" (pg_logical_emit_message) and
# "truncate" have no per-row image; they map to NULL -> quarantine/route.
_KIND_MAP = [("insert", "I"), ("update", "U"), ("delete", "D")]


def _change_schema() -> ArrayType:
    return ArrayType(
        StructType(
            [
                StructField("kind", StringType(), True),
                StructField("schema", StringType(), True),
                StructField("table", StringType(), True),
                StructField("columnnames", ArrayType(StringType()), True),
                # raw-text coercion: numbers/bools arrive as their JSON text
                StructField("columnvalues", ArrayType(StringType()), True),
                StructField(
                    "oldkeys",
                    StructType(
                        [
                            StructField("keynames", ArrayType(StringType()), True),
                            StructField("keyvalues", ArrayType(StringType()), True),
                        ]
                    ),
                    True,
                ),
            ]
        )
    )


def envelope_schema() -> StructType:
    """Typed wal2json v1 transaction envelope for ``from_json``."""
    return StructType(
        [
            StructField("xid", LongType(), True),
            StructField("nextlsn", StringType(), True),
            StructField("timestamp", StringType(), True),
            StructField("change", _change_schema(), True),
        ]
    )


def pack_pg_lsn(lsn_str: Column) -> Column:
    """``"X/Y"`` hex LSN -> one orderable long (hi<<32 | lo).

    Postgres renders LSNs as two 32-bit hex halves; packing preserves the
    total order. Malformed strings conv to NULL -> quarantined upstream.
    """
    parts = F.split(lsn_str, "/")
    hi = F.conv(parts.getItem(0), 16, 10).cast("long")
    lo = F.conv(parts.getItem(1), 16, 10).cast("long")
    return F.shiftleft(hi, 32) + lo


def decode_wal2json(
    df: DataFrame,
    payload_schema: StructType,
    *,
    json_col: str = "value",
    partition_col: str | None = None,
    seq_bits: int = 16,
) -> DataFrame:
    """Decode transaction-grouped wal2json envelopes to changelog rows.

    Output columns: ``op`` (I/U/D), ``lsn`` (long — ``commit_lsn << seq_bits |
    statement_index``, globally monotonic in commit order and statement order
    within a transaction), ``xid`` (transaction id), ``txn_seq`` (0-based
    statement index inside the transaction), ``ts_ms`` (commit timestamp,
    epoch millis), ``source_partition``, then the payload columns cast to
    ``payload_schema`` types. Deletes carry only the replica-identity key
    columns (from ``oldkeys``); non-key payload is NULL, matching the
    reference's delete handling (docs/understanding-airbyte/cdc.md:29).

    A transaction with more than ``2**seq_bits`` changes cannot be totally
    ordered inside the packed LSN; its overflow changes decode to ``op IS
    NULL`` so the caller's quarantine split surfaces them instead of silently
    corrupting replay order.
    """
    env = F.from_json(F.col(json_col), envelope_schema())
    d = wire.explode_once(df, env, "change", ("_seq", "_ch"), partition_col)

    op = wire.op_code(_KIND_MAP, F.col("_ch.kind"))
    # overflow of the statement-index budget -> quarantine, never mis-order
    op = F.when(F.col("_seq") < F.lit(1 << seq_bits), op)

    # name-based positional zip: reordered or extra wire columns are safe
    vals = F.map_from_arrays(F.col("_ch.columnnames"), F.col("_ch.columnvalues"))
    keys = F.map_from_arrays(
        F.col("_ch.oldkeys.keynames"), F.col("_ch.oldkeys.keyvalues")
    )
    image = F.when(F.col("_ch.kind") == "delete", keys).otherwise(vals)

    commit_lsn = pack_pg_lsn(F.col("_env.nextlsn"))
    lsn = F.shiftleft(commit_lsn, seq_bits) + F.col("_seq")
    ts_ms = F.unix_millis(F.to_timestamp(F.col("_env.timestamp")))

    cols = wire.head(op, lsn, ts_ms, partition_col)
    cols[2:2] = [  # xid, txn_seq sit between lsn and ts_ms
        F.col("_env.xid").cast("long").alias("xid"),
        F.col("_seq").cast("int").alias("txn_seq"),
    ]
    return d.select(*cols, *wire.text_payload(image, payload_schema))


def txn_stats(decoded: DataFrame) -> DataFrame:
    """Per-transaction rollup (changes, ops, lsn span) — ONE hash aggregate,
    partial-combined; the commit-boundary audit a platform shows per txn."""
    return decoded.groupBy("xid").agg(
        F.count("*").alias("n_changes"),
        F.sum((F.col("op") == "I").cast("long")).alias("n_insert"),
        F.sum((F.col("op") == "U").cast("long")).alias("n_update"),
        F.sum((F.col("op") == "D").cast("long")).alias("n_delete"),
        F.min("lsn").alias("first_lsn"),
        F.max("lsn").alias("last_lsn"),
    )
