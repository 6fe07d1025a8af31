"""MERGE-style upsert into a LakeTable — bucket-granularity copy-on-write.

Reference semantics: ``MERGE target USING deduped_batch ON pk`` with
newer-wins update condition, DELETE on winning tombstones, and no INSERT for
unmatched tombstones (BigQuerySqlGenerator.java:441-531). The MERGE input
must already be one row per PK (dedup-before-MERGE,
BigQuerySqlGenerator.java:536-540).

Spark-first redesign (no Iceberg MERGE available, and a join is not needed):
both the table and the batch are keyed by the same hash-bucket function, so

  1. find the buckets the batch touches (distinct bucket of winners — tiny),
  2. read ONLY those buckets' files from the current snapshot,
  3. ``unionByName`` target rows (at their stored cursor position) with the
     batch winners and re-run the same LWW max_by aggregate,
  4. rewrite just those buckets; commit atomically.

This replaces a full-table MERGE join with one hash aggregate over
(touched-bucket rows + batch). Unaffected buckets are never read or
shuffled. Tombstone rows are *retained* in storage (marked
_ab_cdc_deleted_at) so an out-of-order older update in a later batch can
never resurrect a deleted row (the reference re-includes loaded deletes for
exactly this reason — BigQuerySqlGenerator.java:577-586); the final read
view filters them.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbyte_spark import schemas as S
from airbyte_spark.lake.table import LakeTable
from airbyte_spark.operators.dedup import lww_dedup

_TS_TMP = "_ts_ms_tmp"


@contextmanager
def _conf(spark, **kv):
    """Temporarily set session confs (restored after the enclosed action)."""
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def merge_upsert(
    table: LakeTable,
    winners: DataFrame,
    summary: dict,
    write_partitions: int | None = None,
    affected_buckets: list[int] | None = None,
) -> int | None:
    """Apply a deduped batch (exactly one row per doc_id, table row shape +
    ``ts_ms``) to the table. Returns the committed snapshot version, or None
    for an empty batch.

    ``affected_buckets``: pass the bucket set if already known (the engine
    takes it from its one batch-stats aggregate) to avoid a second driver
    action.
    """
    snap = table.snapshot()
    schema = snap.schema
    cols = schema.fieldNames()

    batch = winners.select(*cols, F.col("ts_ms").alias(_TS_TMP))

    pk = snap.spec["bucket_by"]
    affected = table.key_buckets(winners) if affected_buckets is None else affected_buckets
    if not affected:
        return None

    target = table.scan(buckets=affected).withColumn(
        _TS_TMP, F.unix_millis(F.col(S.COL_EXTRACTED_AT))
    )

    combined = target.unionByName(batch)
    num_buckets = snap.spec["num_buckets"]
    aligned = snap.spec.get("bucket_fn") == "murmur3"
    if aligned:
        # Both sides are already one-row-per-key (no skew possible), so the
        # map-side partial combine buys nothing here — instead shuffle ONCE
        # into hashpartitioning(pk, num_buckets): the LWW aggregate
        # reuses that exchange, and because bucket_expr == the
        # hashpartitioning hash, its output is physically bucket-aligned and
        # the write needs no further shuffle or cross-bucket sort.
        combined = combined.repartition(num_buckets, F.col(pk))
    merged = lww_dedup(combined, key=pk, order_cols=(S.COL_LSN, _TS_TMP))
    merged = merged.drop(_TS_TMP)

    return table.write_and_commit(
        merged.select(*cols),
        replace_buckets=affected,
        summary=summary,
        write_partitions=write_partitions,
        pre_aligned=aligned,
    )


def merge_upsert_full(
    table: LakeTable,
    enriched_batch: DataFrame,
    summary: dict,
) -> int:
    """Single-action whole-table merge for LARGE batches: union the raw
    validated batch (NOT pre-deduped) with the full target and let ONE
    skew-crushing LWW aggregate resolve everything, writing bucket-aligned
    with no further shuffle.

    Compared with the two-phase path (dedup batch -> union -> re-dedup ->
    repartition -> write) this runs ONE heavy pass, without the batch-side
    dedup: scan+validate -> partial_max_by (map-side, hot keys crushed
    before the wire) -> one exchange at exactly num_buckets partitions
    (shuffle partitions pinned, AQE coalescing disabled so partition index
    == bucket) -> final max_by -> parquet write, no sort, no persist churn.
    Right when the batch is a significant fraction of the table (the bulk
    replay regime, where bucket pruning cannot skip anything anyway); the
    bucket-pruned two-phase path stays for small/selective batches.
    """
    spark = enriched_batch.sparkSession
    snap = table.snapshot()
    cols = snap.schema.fieldNames()
    num_buckets = snap.spec["num_buckets"]
    # pre_aligned=True below is only sound when the table's bucket function
    # IS Spark's hashpartitioning hash; a legacy xxhash64 table would get
    # multi-bucket files per task (the engine gates its call the same way).
    if snap.spec.get("bucket_fn") != "murmur3":
        raise ValueError(
            "merge_upsert_full requires bucket_fn='murmur3' "
            f"(table spec has {snap.spec.get('bucket_fn', 'xxhash64')!r})"
        )
    # NOTE: _conf sets both confs session-wide, so a job planned on a
    # sibling thread while this block runs sees them too — the replay
    # read-ahead's _batch_stats aggregate (engine._prepare_window) is one.
    # Planned inside the block, its reduce stage runs num_buckets tasks
    # instead of AQE's coalesced 1; planned between the two restores in
    # _conf's finally (shuffle partitions back, coalescing still off), it
    # runs spark.sql.shuffle.partitions tasks. Its result is unchanged;
    # only the task count moves (+31 or +3 on a 4-core perfbench
    # catchup_tail: 32 buckets, 4 shuffle partitions). The pins stay: they
    # make the one exchange land partition index == bucket after the
    # map-side partial max_by has combined hot keys.

    batch = enriched_batch.select(*cols, F.col("ts_ms").alias(_TS_TMP))
    target = table.scan().withColumn(_TS_TMP, F.unix_millis(F.col(S.COL_EXTRACTED_AT)))
    combined = target.unionByName(batch)
    with _conf(
        spark,
        spark__sql__shuffle__partitions=str(num_buckets),
        spark__sql__adaptive__coalescePartitions__enabled="false",
    ):
        merged = lww_dedup(
            combined, key=snap.spec["bucket_by"], order_cols=(S.COL_LSN, _TS_TMP)
        ).drop(_TS_TMP)
        return table.write_and_commit(
            merged.select(*cols),
            # the full scan above already folded any merge-on-read deltas,
            # so the whole-range replace retires them
            replace_buckets=range(num_buckets),
            summary=summary,
            pre_aligned=True,
        )


def merge_upsert_mor(
    table: LakeTable,
    winners: DataFrame,
    summary: dict,
    num_files: int | None = None,
) -> int:
    """Merge-on-read upsert for SMALL batches: append the deduped batch
    winners as DELTA files — no read of the table, no bucket rewrite, so
    per-commit write bytes are proportional to the batch (never the table,
    which copy-on-write degenerates to once a batch touches most buckets).
    Readers resolve LWW at scan time (LakeTable.scan/_resolve_lww, same
    total order as the CoW paths -> bit-identical state); compaction folds
    deltas back into bucket-pure base files later.

    This is the Spark shape of the reference's raw-table + incremental
    typing-and-dedup split: cheap durable append first, expensive
    consolidation later, with `_airbyte_loaded_at IS NULL` as the pending-
    work marker (JdbcSqlGenerator.java:240-252); here the pending work is
    the delta file set itself."""
    cols = table.snapshot().schema.fieldNames()
    return table.append_delta(
        winners.select(*cols), summary=summary, num_files=num_files
    )
