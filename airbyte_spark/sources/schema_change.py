"""Debezium schema-change (DDL) envelope decoder: in-stream ``ALTER TABLE``
events -> engine schema evolution.

The reference's CDC sources consume Debezium's schema-history / schema-change
topic alongside the data topic: each DDL statement on a captured table emits
an envelope carrying the raw ``ddl`` text plus ``tableChanges`` — the FULL
post-change column list with JDBC type names (Debezium
``SchemaChangeEvent`` / ``HistoryRecord``; the reference persists these via
``AirbyteSchemaHistoryStorage.java`` and replays them to reconstruct the
table shape before decoding data events). The engine's analog of "replay the
history" is its additive schema evolution (``CdcEngine._maybe_evolve_schema``:
new columns appended, int->long / float->double widening, union-type
fallback), so a schema-change event becomes: decode -> map JDBC type names to
Spark types -> evolve the lake table -> decode subsequent DML with the
widened payload schema.

Ordering note (why "evolve first, then replay the whole window" is sound):
evolution here is strictly additive. Applying an ADD COLUMN before replaying
DML that predates it is harmless — pre-DDL envelopes simply lack the field
and ``from_json`` yields NULL; a widened column parses old narrower values
exactly. Non-additive changes raise (or degrade to the union-string fallback
when configured), same contract as batch-shape-driven evolution. This is the
same argument the reference leans on: destinations only ever widen
(AlterTableReport.java:10-25).

Scale shape: schema-change events are METADATA-scale (a handful per million
DML events), so the decode is one typed ``from_json`` over the (tiny)
filtered side of the wire and the apply is a bounded driver collect —
deliberately, the same bounded-collect contract as the merge path's
touched-bucket sets. The DML side never pays anything: the split is one
pushed string-contains filter each way.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from airbyte_spark.sources.debezium import mysql_packed_lsn, source_schema
from airbyte_spark.sources.wire import split_lines

#: the cheap wire-side marker: every Debezium schema-change envelope carries
#: ``tableChanges`` (HistoryRecord.Fields.TABLE_CHANGES); no data envelope
#: does. A plain string-contains filter pushes to the scan on both sides.
SCHEMA_CHANGE_MARKER = '"tableChanges"'

#: JDBC/Debezium type names -> Spark types (lowercased lookup). NUMERIC /
#: DECIMAL map to double — the reference's NUMBER JsonSchema type lands as a
#: float column in its destinations (supported-data-types.md); exact-decimal
#: sources that need more should declare the payload schema explicitly.
_TYPE_MAP: dict[str, DataType] = {
    "smallint": ShortType(), "int2": ShortType(), "tinyint": ShortType(),
    "integer": IntegerType(), "int": IntegerType(), "int4": IntegerType(),
    "serial": IntegerType(), "mediumint": IntegerType(),
    "bigint": LongType(), "int8": LongType(), "bigserial": LongType(),
    "real": FloatType(), "float4": FloatType(),
    "double precision": DoubleType(), "float8": DoubleType(),
    "double": DoubleType(), "numeric": DoubleType(), "decimal": DoubleType(),
    "boolean": BooleanType(), "bool": BooleanType(),
    "text": StringType(), "varchar": StringType(), "char": StringType(),
    "character varying": StringType(), "character": StringType(),
    "bpchar": StringType(), "json": StringType(), "jsonb": StringType(),
    "uuid": StringType(), "enum": StringType(),
    "date": DateType(),
    "timestamp": TimestampType(), "timestamptz": TimestampType(),
    "datetime": TimestampType(),  # MySQL/Maxwell name
    "timestamp with time zone": TimestampType(),
    "timestamp without time zone": TimestampType(),
}


def spark_type(type_name: str) -> DataType | None:
    """Map a Debezium/JDBC type name to a Spark type; None when unmapped.

    Array columns arrive as either a ``_``-prefixed element name (Postgres
    wire convention: ``_int4``) or a ``[]`` suffix (``int4[]``); both map to
    ``ArrayType(element)``. Parenthesized length/precision suffixes
    (``varchar(255)``, ``numeric(38,9)``) are ignored.
    """
    t = type_name.strip().lower()
    if "(" in t:
        t = t[: t.index("(")].strip()
    if t.endswith("[]"):
        elem = spark_type(t[:-2])
        return ArrayType(elem) if elem is not None else None
    if t.startswith("_"):
        elem = spark_type(t[1:])
        return ArrayType(elem) if elem is not None else None
    return _TYPE_MAP.get(t)


def schema_change_envelope() -> StructType:
    """The typed Debezium schema-change envelope (SchemaChangeEvent JSON:
    databaseName/schemaName/ddl/tableChanges[{type,id,table.columns[]}])."""
    column = StructType(
        [
            StructField("name", StringType(), True),
            StructField("typeName", StringType(), True),
            StructField("optional", BooleanType(), True),
            StructField("position", IntegerType(), True),
        ]
    )
    change = StructType(
        [
            StructField("type", StringType(), True),   # CREATE/ALTER/DROP
            StructField("id", StringType(), True),     # "\"db\".\"table\""
            StructField(
                "table",
                StructType(
                    [
                        StructField("primaryKeyColumnNames",
                                    ArrayType(StringType()), True),
                        StructField("columns", ArrayType(column), True),
                    ]
                ),
                True,
            ),
        ]
    )
    return StructType(
        [
            # the data envelopes' source block minus ``snapshot``
            StructField(
                "source",
                StructType([f for f in source_schema().fields if f.name != "snapshot"]),
                True,
            ),
            StructField("ts_ms", LongType(), True),
            StructField("databaseName", StringType(), True),
            StructField("schemaName", StringType(), True),
            StructField("ddl", StringType(), True),
            StructField("tableChanges", ArrayType(change), True),
        ]
    )


def split_schema_changes(wire: DataFrame, json_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """(schema_change_lines, other_lines): one pushed contains-filter each
    way (``sources/wire.py:split_lines``)."""
    return split_lines(wire, F.col(json_col).contains(SCHEMA_CHANGE_MARKER), json_col)


def decode_schema_changes(
    df: DataFrame,
    *,
    connector: str = "postgres",
    json_col: str = "value",
) -> DataFrame:
    """Decode schema-change envelope lines to one row PER TABLE CHANGE:
    (lsn long, ts_ms long, change_type string, table_id string, ddl string,
    columns array<struct<name,type_name,optional>>).

    One typed ``from_json`` + ``posexplode`` (a multi-statement DDL batch
    carries several tableChanges) — pure Catalyst, the same decode discipline
    as the data-envelope decoders. Undecodable lines yield ``change_type IS
    NULL`` rows for the caller to quarantine.
    """
    if connector not in ("postgres", "mysql"):
        raise ValueError(f"unknown connector {connector!r}")
    env = F.from_json(F.col(json_col), schema_change_envelope())
    d = df.withColumn("_env", env)
    if connector == "postgres":
        lsn: Column = F.col("_env.source.lsn")
    else:
        lsn = mysql_packed_lsn(F.col("_env.source.file"), F.col("_env.source.pos"))
    exploded = d.select(
        lsn.cast("long").alias("lsn"),
        F.coalesce(F.col("_env.source.ts_ms"), F.col("_env.ts_ms"))
        .cast("long")
        .alias("ts_ms"),
        F.col("_env.ddl").alias("ddl"),
        F.posexplode_outer(F.col("_env.tableChanges")).alias("_i", "_chg"),
    )
    return exploded.select(
        "lsn",
        "ts_ms",
        F.col("_chg.type").alias("change_type"),
        F.col("_chg.id").alias("table_id"),
        "ddl",
        F.expr(
            "transform(_chg.table.columns, c -> "
            "struct(c.name AS name, c.typeName AS type_name, c.optional AS optional))"
        ).alias("columns"),
    )


def changes_to_payload_schema(
    rows,
    *,
    exclude: frozenset[str] = frozenset(),
    union_type_fallback: bool = False,
) -> StructType | None:
    """Driver-side: fold decoded schema-change rows (ANY order — they are
    re-sorted by (lsn, ts_ms) here) into the final payload StructType.

    Each event carries the full post-change column list, so the fold is
    "last event wins per column set" with one twist matching the engine's
    additive contract: a column that DISAPPEARS from a later event is kept
    (dropped source columns stop arriving; the destination keeps history —
    same as the reference's destinations). Unknown type names raise unless
    ``union_type_fallback`` (then: string, same degradation the engine
    applies to non-additive type conflicts). Returns None when no row
    carries a usable column list.
    """
    fields: dict[str, DataType] = {}
    seen_any = False
    for r in sorted(rows, key=lambda r: ((r["lsn"] or 0), (r["ts_ms"] or 0))):
        cols = r["columns"]
        if not cols:
            continue
        seen_any = True
        for c in cols:
            name = c["name"]
            if name is None or name in exclude:
                continue
            t = spark_type(c["type_name"] or "")
            if t is None:
                if union_type_fallback:
                    t = StringType()
                else:
                    raise ValueError(
                        f"unmapped DDL type {c['type_name']!r} for column {name!r} "
                        f"(ddl: {r['ddl']!r}); declare the payload schema explicitly "
                        "or enable union_type_fallback"
                    )
            fields[name] = t
    if not seen_any:
        return None
    return StructType([StructField(n, t, True) for n, t in fields.items()])
