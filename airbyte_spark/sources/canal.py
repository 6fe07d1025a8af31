"""Canal flatMessage decoder: batched MySQL binlog CDC envelopes ->
changelog rows.

Alibaba Canal is the third widely deployed public MySQL CDC wire format
(besides Debezium and Maxwell); its Kafka/RocketMQ "flatMessage" JSON is
what canal-adapter / canal.deployer emit. The reference's MySQL CDC path
flattens row-change events to after-images plus a monotonic position
(MySqlCdcTargetPosition.java:73-99); this module gives the same changelog
contract for the Canal wire shape so a topic of flatMessage JSON plugs
straight into ``CdcEngine.replay`` / ``replay_stream`` like the other
decoders (``sources/debezium.py``, ``sources/wal2json.py``,
``sources/maxwell.py``, ``sources/mongo.py``).

Canal's shape (canal FlatMessage.java / public protocol docs) differs from
the other MySQL formats in three ways this module models explicitly:

1. **Envelopes are BATCHED**: one JSON document carries a ``data`` ARRAY of
   row images (every row the batch touched, in binlog order), not one row
   per document. Deletes carry the full deleted row image in ``data``
   (Maxwell-style, no before/after coalesce); ``old`` is a PARALLEL array
   (updates only) holding just the changed columns' previous values at the
   same index.
2. **Every scalar value is serialized as a JSON string** (``"123"``,
   ``"4.5"`` — canal renders column values via their MySQL text form), so
   the decoder must cast per-column against the caller's payload schema.
   NULL columns arrive as JSON null.
3. **Position metadata is envelope-level**: ``id`` is the canal batch id
   (monotonic per instance), ``es`` the binlog execute time (epoch millis),
   ``ts`` the message write time (epoch millis). Within an envelope, array
   index is binlog order.

Spark-first decode, zero Python on the data path: ONE typed ``from_json``
(``data``/``old`` as ``array<map<string,string>>`` — raw-text coercion
keeps heterogeneous values lossless), ``posexplode`` for the within-batch
index, then name-based ``map[col].cast`` projection. The engine LSN packs
``(batch id, array index)`` into one orderable long —
``id << seq_bits | index`` — so checkpoint arithmetic and bounded-replay
target compares carry over unchanged.

Rows that fail envelope parse, carry a DDL/unknown ``type``
(``isDdl: true`` envelopes have no row image), overflow the index budget,
or miss their batch id decode to ``op IS NULL`` for the caller's
quarantine split (``sources/wire.py:split_malformed`` contract) —
never silently dropped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark.sources import wire
from airbyte_spark.sources.wire import split_lines

# Canal row-change types -> engine ops. "INIT" is canal-adapter's ETL
# full-load row (the Debezium ``r`` / Maxwell ``bootstrap-insert`` analog).
# DDL types (CREATE/ALTER/ERASE/TRUNCATE/QUERY/CINDEX/DINDEX) carry no row
# image -> NULL -> quarantine/route.
_TYPE_MAP = [
    ("INSERT", "I"),
    ("INIT", "I"),
    ("UPDATE", "U"),
    ("DELETE", "D"),
]

_ROWS = ArrayType(MapType(StringType(), StringType()))


def envelope_schema() -> StructType:
    """Typed Canal flatMessage envelope for ``from_json``.

    ``data``/``old`` decode as ``array<map<string,string>>``: Jackson's
    StringType coercion lands every scalar as its raw text (canal already
    string-serializes values), and map form is name-based so wire column
    order or extra columns never misassign. ``mysqlType``/``sqlType``
    metadata maps are not needed for decode and stay unparsed (column
    pruning drops them inside the shared ``from_json``).
    """
    return StructType(
        [
            StructField("id", LongType(), True),
            StructField("database", StringType(), True),
            StructField("table", StringType(), True),
            StructField("pkNames", ArrayType(StringType()), True),
            StructField("isDdl", BooleanType(), True),
            StructField("type", StringType(), True),
            StructField("es", LongType(), True),  # binlog execute time, ms
            StructField("ts", LongType(), True),  # message write time, ms
            StructField("sql", StringType(), True),
            StructField("data", _ROWS, True),
            StructField("old", _ROWS, True),
        ]
    )


def decode_canal(
    df: DataFrame,
    payload_schema: StructType,
    *,
    json_col: str = "value",
    partition_col: str | None = None,
    seq_bits: int = 16,
    include_old: bool = False,
    include_metadata: bool = False,
    include_table: bool = False,
) -> DataFrame:
    """Decode a DataFrame of Canal flatMessage JSON strings to changelog rows.

    Output columns: ``op`` (I/U/D), ``lsn`` (long —
    ``batch_id << seq_bits | row_index``, globally monotonic in batch order
    and binlog order within a batch), ``ts_ms`` (``es`` binlog time, falling
    back to ``ts``), ``source_partition``, then the payload columns cast to
    ``payload_schema`` types (nested array/struct/map columns re-parse their
    raw JSON text). Deletes carry the full deleted row image (Canal
    semantics, like Maxwell).

    ``include_old=True`` appends an ``_old`` map column (changed columns'
    previous raw-text values, null except on updates — the parallel-array
    element at this row's index). ``include_metadata=True`` appends the
    ``_ab_cdc_*`` tail and ``include_table=True`` the ``_ab_stream``
    routing column (``sources/wire.py``) — a canal instance routes MANY
    tables to one topic by default, the normal canal deployment shape.

    An envelope with more than ``2**seq_bits`` rows cannot be totally
    ordered inside the packed LSN; its overflow rows decode to ``op IS
    NULL`` so the caller's quarantine split surfaces them instead of
    silently corrupting replay order — as do parse failures, DDL/unknown
    types, and envelopes missing ``id``.
    """
    if not 1 <= seq_bits <= 24:
        raise ValueError(f"seq_bits must be in [1, 24], got {seq_bits}")
    env = F.from_json(F.col(json_col), envelope_schema())
    d = wire.explode_once(df, env, "data", ("_idx", "_row"), partition_col)

    op = wire.op_code(_TYPE_MAP, F.col("_env.type"))
    # DDL envelopes sometimes reuse a DML-looking type string; isDdl is
    # authoritative. Overflow of the row-index budget and a missing batch id
    # (no orderable position) also quarantine, never mis-order.
    bad = (
        F.coalesce(F.col("_env.isDdl"), F.lit(False))
        | (F.col("_idx") >= F.lit(1 << seq_bits))
        | F.col("_env.id").isNull()
    )
    op = F.when(~bad, op)

    lsn = F.shiftleft(F.col("_env.id"), seq_bits) + F.col("_idx")
    ts_ms = F.coalesce(F.col("_env.es"), F.col("_env.ts"))

    cols = wire.head(op, lsn, ts_ms, partition_col) + wire.text_payload(
        F.col("_row"), payload_schema
    )
    if include_old:
        old_at = F.try_element_at(F.col("_env.old"), F.col("_idx") + 1)
        cols.append(
            F.when(F.col("_env.type") == "UPDATE", old_at).alias("_old")
        )
    if include_metadata:
        cols += wire.cdc_metadata(op, ts_ms)
    if include_table:
        cols.append(F.col("_env.table").alias(wire.STREAM))
    return d.select(*cols)


# --------------------------------------------------------------- DDL events

#: DDL envelopes carry ``"isDdl":true`` — one cheap string filter splits
#: them off the data stream before the typed decode (whitespace-tolerant:
#: canal emits compact JSON but re-serialized dumps carry ": " separators).
DDL_MARKER_RE = r'"isDdl"\s*:\s*true'


def split_ddl(wire: DataFrame, json_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(ddl_lines, other_lines): Canal DDL envelopes split off the data
    stream (``sources/wire.py:split_lines``)."""
    return split_lines(wire, F.col(json_col).rlike(DDL_MARKER_RE), json_col)


def decode_ddl(df: DataFrame, json_col: str = "value", seq_bits: int = 16) -> DataFrame:
    """Decode Canal DDL envelopes to one row per event: (lsn, ts_ms,
    change_type, table_id, ddl, columns). ``seq_bits`` MUST match the value
    given to ``decode_canal`` — both pack lsn = ``id << seq_bits`` so DDL
    fencing points align with the data stream's LSN space.

    Unlike Maxwell's ``output_ddl`` (structured post-change column list),
    Canal carries only the raw ``sql`` text — ``columns`` is always NULL
    here, so callers needing the post-change shape re-discover it (or parse
    the ALTER) rather than folding through
    ``schema_change.changes_to_payload_schema``; the row still carries the
    ordering (``id``-packed lsn at index 0) and the table identity needed
    to fence replay around the DDL point. Undecodable lines yield
    ``change_type IS NULL`` for the caller to quarantine."""
    if not 1 <= seq_bits <= 24:
        raise ValueError(f"seq_bits must be in [1, 24], got {seq_bits}")
    env = F.from_json(F.col(json_col), envelope_schema())
    d = df.withColumn("_env", env)
    return d.select(
        F.shiftleft(F.coalesce(F.col("_env.id"), F.lit(0)), seq_bits)
        .cast("long")
        .alias("lsn"),
        F.coalesce(F.col("_env.es"), F.col("_env.ts"))
        .cast("long")
        .alias("ts_ms"),
        F.when(
            F.coalesce(F.col("_env.isDdl"), F.lit(False)), F.col("_env.type")
        ).alias("change_type"),
        F.concat_ws(".", F.col("_env.database"), F.col("_env.table")).alias(
            "table_id"
        ),
        F.col("_env.sql").alias("ddl"),
        F.lit(None)
        .cast("array<struct<name:string,type_name:string,optional:boolean>>")
        .alias("columns"),
    )
