"""CDC metadata injection — pure column expressions.

The reference stamps every Debezium event with _ab_cdc_updated_at (from
source.ts_ms) and _ab_cdc_deleted_at on deletes
(DebeziumEventUtils.java:168-188; CdcMetadataInjector.java:15-50), plus a
per-record _airbyte_raw_id uuid (IcebergConsumer.java:132). We derive the
raw id deterministically (md5 of key+position) so replays are bit-identical
— no wall clock, no RNG in the data path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from airbyte_spark import schemas as S


def deleted_at(op: Column, at: Column) -> Column:
    """The ``_ab_cdc_deleted_at`` rule: ``at`` on deletes, NULL otherwise
    (shared with the wire decoders' tail, sources/wire.py)."""
    return F.when(op == S.OP_DELETE, at)


def inject_cdc_metadata(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """changelog batch -> batch with engine metadata columns.

    Input: (op, <key>, lsn, ts_ms, source_partition, <payload...>).
    Adds: _ab_lsn, _ab_extracted_at, _ab_raw_id, _ab_cdc_deleted_at.
    ``key`` is the stream's primary-key column (the synthesized composite
    column for composite-PK streams).
    """
    return (
        df.withColumn(S.COL_LSN, F.col("lsn"))
        .withColumn(S.COL_EXTRACTED_AT, F.timestamp_millis(F.col("ts_ms")))
        .withColumn(
            S.COL_RAW_ID,
            F.md5(F.concat_ws(":", F.col(key), F.col("lsn"), F.col("ts_ms"))),
        )
        .withColumn(
            S.COL_DELETED_AT,
            deleted_at(F.col("op"), F.timestamp_millis(F.col("ts_ms"))),
        )
    )
