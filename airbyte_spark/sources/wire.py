"""The changelog-row contract shared by every CDC wire decoder.

Each decoder (debezium, maxwell, canal, wal2json, dms, mongo) emits the
same row: ``op`` (I/U/D; NULL = quarantine), ``lsn`` and ``ts_ms`` (long),
``source_partition`` (int, never null), the payload, then extras such as
``_ab_stream`` and the ``_ab_cdc_*`` tail — as in the reference's one
place, DebeziumEventUtils.java:98-109 (image) and :168-188
(``addCdcMetadata``). The row pieces are the small column functions here;
none branches on its caller. A decoder keeps only its own format: envelope
schema, op-code pairs, LSN packing, ts source, image choice, quarantine
predicate and extras.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructType

from airbyte_spark.operators.metadata import deleted_at
from airbyte_spark.plans.transforms import project_once

#: the columns every decoded row starts with, in this order
HEAD = ("op", "lsn", "ts_ms", "source_partition")
#: the bare source table name, the routing column DemuxEngine fans out on
STREAM = "_ab_stream"


def op_code(pairs: list[tuple[str, str]], code: Column) -> Column:
    """Wire op code -> engine op through ``pairs`` [(code, op)]; NULL for
    an unknown code.

    ONE map lookup, not a CASE chain: a downstream quarantine filter on
    ``op`` gets predicate-pushed below the decode projection by Catalyst,
    and a CASE chain re-evaluates the whole from_json once PER BRANCH
    inside the (interpreted, no-subexpr-elimination) Filter — measured 4x
    decode cost. try_element_at yields NULL for unknown codes even under
    ANSI mode."""
    op_map = F.create_map(*[F.lit(x) for pair in pairs for x in pair])
    return F.try_element_at(op_map, code)


def source_partition(partition_col: str | None) -> Column:
    """The wire partition as int. A wire line without a partition value
    must not poison lineage: the engine's per-partition stats require a
    non-null int (unknown -> 0)."""
    if partition_col is None:
        return F.lit(0)
    return F.coalesce(F.col(partition_col).cast("int"), F.lit(0))


def head(op: Column, lsn: Column, ts_ms: Column, partition_col: str | None) -> list[Column]:
    """The :data:`HEAD` columns: ``lsn`` and ``ts_ms`` cast to long."""
    return [
        op.alias("op"),
        lsn.cast("long").alias("lsn"),
        ts_ms.cast("long").alias("ts_ms"),
        source_partition(partition_col).alias("source_partition"),
    ]


def payload(image: Column, schema: StructType) -> list[Column]:
    """Payload columns read from a typed image struct."""
    return [image.getField(f.name).alias(f.name) for f in schema.fields]


def text_payload(image: Column, schema: StructType) -> list[Column]:
    """Payload columns from a raw-text ``map<string, string>`` image (the
    wire renders every value as its JSON text), looked up by name so wire
    column order or extra columns never misassign."""

    def typed(f) -> Column:
        raw = F.try_element_at(image, F.lit(f.name))
        # Nested values (array/struct/map payload columns, e.g. token
        # arrays) arrive as their raw JSON text — re-parse, don't cast.
        if isinstance(f.dataType, (ArrayType, StructType, MapType)):
            return F.from_json(raw, f.dataType).alias(f.name)
        return raw.cast(f.dataType).alias(f.name)

    return [typed(f) for f in schema.fields]


def cdc_metadata(op: Column, ts_ms: Column) -> list[Column]:
    """The ``_ab_cdc_updated_at`` / ``_ab_cdc_deleted_at`` tail
    (DebeziumEventUtils.java:168-188) for standalone decoder use; the
    engine's own ``inject_cdc_metadata`` applies the same delete rule."""
    updated = F.timestamp_millis(ts_ms)
    return [
        updated.alias("_ab_cdc_updated_at"),
        deleted_at(op, updated).alias("_ab_cdc_deleted_at"),
    ]


def emit_once(
    df: DataFrame,
    carrier: list[Column],
    rest: Callable[[Column], list[Column]],
    names: tuple[str, ...] = HEAD,
) -> DataFrame:
    """The one-parse barrier for typed envelopes: the ``carrier`` columns
    evaluate exactly once per row (plans/transforms.py ``project_once``);
    the row is the ``names`` carrier fields, then ``rest(once)``. Without
    the barrier, CollapseProject inlines the envelope into every
    output column and OptimizeJsonExprs splits the single typed parse into
    one pruned from_json per payload field (each re-scanning the JSON
    text), and the quarantine filter (:func:`split_malformed`) re-derives
    ``op`` with its own envelope parse per row."""
    return project_once(
        df,
        F.struct(*carrier),
        lambda once: [once.getField(n).alias(n) for n in names] + rest(once),
    )


def explode_once(
    df: DataFrame,
    env: Column,
    rows: str,
    names: tuple[str, str],
    partition_col: str | None,
) -> DataFrame:
    """The one-parse barrier for batched envelopes (canal, wal2json): the
    parsed ``env`` materializes ONCE behind a one-element Generate, then
    ``posexplode_outer`` of its ``rows`` array yields the ``names`` (index,
    element) columns. Without it the posexplode input collapses to its own
    pruned from_json while every envelope-level column keeps a second full
    parse. Only ``partition_col`` rides along."""
    keep = [F.col(partition_col)] if partition_col is not None else []
    d = df.select(*keep, F.explode(F.array(env)).alias("_env"))
    return d.select("*", F.posexplode_outer(f"_env.{rows}").alias(*names))


def split_lines(
    wire: DataFrame, is_marker: Column, json_col: str = "value"
) -> tuple[DataFrame, DataFrame]:
    """(marker_lines, other_lines): one cheap string filter each way splits
    schema-change / DDL envelopes off the data stream before the typed
    decode; works on batch and streaming DataFrames alike."""
    return wire.filter(is_marker), wire.filter(~is_marker | F.col(json_col).isNull())


def split_malformed(decoded: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, quarantine): rows with null op failed envelope parse or carried
    an unknown op code. The reference fails the sync on undecodable events;
    at lake scale quarantining beats poisoning a 10^10-event replay."""
    return decoded.filter(F.col("op").isNotNull()), decoded.filter(
        F.col("op").isNull()
    )


def quarantine_malformed(
    decoded: DataFrame, path: str, mode: str = "append"
) -> tuple[DataFrame, int]:
    """Bank the malformed side of :func:`split_malformed` as parquet under
    ``path`` and return (good rows, quarantined count). One pass over the
    bad side only; the good side stays lazy for the caller's own scans."""
    good, bad = split_malformed(decoded)
    n_bad = bad.count()
    if n_bad:
        bad.write.mode(mode).parquet(path)
    return good, n_bad
