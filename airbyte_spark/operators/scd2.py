"""SCD-type-2 history as an incrementally-maintained lake table.

Reference semantics: ``generate_scd_type_2_model`` (normalization
stream_processor.py:742-900) materializes one row per record VERSION with
``_airbyte_start_at`` / ``_airbyte_end_at`` validity bounds and an
``_airbyte_active_row`` flag, rebuilt by dbt over the full raw table each
run. Here the same shape is maintained *incrementally per batch*: each
batch appends its own version rows (validity intervals resolved within the
batch by ``lead()``) and closes the previously-open row of every document
it touches — so replaying a changelog in one batch or in N batches yields
bit-identical history tables (the golden test in tests/test_scd2.py).

Scale shape: one window over the batch (partitioned by doc_id — batch-sized,
not table-sized), one broadcast join of the tiny per-doc closer table
against ONLY the touched buckets of the history table, one bucket-CoW
rewrite of those buckets. Unaffected buckets are never read. No per-row
Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from airbyte_spark.lake.table import LakeTable
from airbyte_spark.lineage import log_metric

HISTORY_COLUMNS = ("doc_id", "lsn", "op", "valid_from_ms", "valid_to_ms", "is_active")

_HISTORY_DDL = (
    "doc_id string, lsn long, op string, "
    "valid_from_ms long, valid_to_ms long, is_active int"
)


def history_schema(spark: SparkSession) -> StructType:
    return spark.createDataFrame([], _HISTORY_DDL).schema


def create_history_table(
    spark: SparkSession, root: str, num_buckets: int
) -> LakeTable:
    """History table bucketed by doc_id (all versions of a doc co-locate in
    one bucket, so closing open rows is a bucket-local rewrite) with lsn as
    the cursor column for file-level pruning."""
    return LakeTable.create(
        spark,
        root,
        history_schema(spark),
        primary_key="doc_id",
        num_buckets=num_buckets,
        cursor_col="lsn",
    )


def batch_history_rows(batch: DataFrame) -> DataFrame:
    """Version rows for one batch: validity intervals via lead() within the
    batch (stream_processor.py:815-838 start_at/end_at lag logic), the
    batch's last event per doc left OPEN (valid_to NULL) and active unless
    it is a delete. Re-delivered duplicate (doc_id, lsn) events collapse
    first — at-least-once delivery must not mint duplicate version rows."""
    w_asc = Window.partitionBy("doc_id").orderBy(F.col("lsn").asc())
    w_desc = Window.partitionBy("doc_id").orderBy(F.col("lsn").desc())
    return (
        batch.select("doc_id", "lsn", "op", "ts_ms")
        .dropDuplicates(["doc_id", "lsn"])
        .select(
            "doc_id",
            "lsn",
            "op",
            F.col("ts_ms").alias("valid_from_ms"),
            F.lead("ts_ms").over(w_asc).alias("valid_to_ms"),
            ((F.row_number().over(w_desc) == 1) & (F.col("op") != "D"))
            .cast("int")
            .alias("is_active"),
        )
    )


def scd2_apply(
    history: LakeTable,
    batch: DataFrame,
    summary: dict,
    write_partitions: int | None = None,
) -> int | None:
    """Apply one changelog batch to the history table. Batches must arrive
    in LSN order (the engine's replay contract), so every open row a batch
    closes predates all of the batch's events. Returns the committed
    snapshot version, or None for an empty batch.

    The closer table (one row per touched doc: the doc's FIRST event ts in
    this batch) is tiny — broadcast it against the touched buckets only;
    an open row joins it iff a newer version arrived, taking that ts as its
    valid_to and losing the active flag. Exactly the interval a global
    lead() would have produced, hence N-batch == 1-batch bit-identity.
    """
    rows = batch_history_rows(batch)

    # per-doc first-event ts: stays distributed (batch-sized — never
    # collected); only the touched-BUCKET set (bounded by num_buckets)
    # comes back to the driver for manifest pruning
    closers = (
        rows.groupBy("doc_id").agg(F.min("valid_from_ms").alias("close_ms")).persist()
    )
    affected = history.key_buckets(closers)
    if not affected:
        closers.unpersist()
        return None

    target = history.scan(buckets=affected)
    closed = (
        target.join(F.broadcast(closers), on="doc_id", how="left")
        .select(
            "doc_id",
            "lsn",
            "op",
            "valid_from_ms",
            F.when(
                F.col("valid_to_ms").isNull() & F.col("close_ms").isNotNull(),
                F.col("close_ms"),
            )
            .otherwise(F.col("valid_to_ms"))
            .alias("valid_to_ms"),
            F.when(
                F.col("valid_to_ms").isNull() & F.col("close_ms").isNotNull(),
                F.lit(0),
            )
            .otherwise(F.col("is_active"))
            .alias("is_active"),
        )
    )

    try:
        version = history.write_and_commit(
            closed.unionByName(rows.select(*HISTORY_COLUMNS)),
            replace_buckets=affected,
            summary=summary,
            write_partitions=write_partitions,
        )
    finally:
        closers.unpersist()
    log_metric("scd2_committed", snapshot=version, buckets=len(affected))
    return version
