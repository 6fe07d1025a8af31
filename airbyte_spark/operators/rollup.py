"""Incremental derived-table (rollup) maintenance from snapshot diffs.

The CDC-consumer pattern the whole engine exists to feed: a downstream
aggregate (tokens per source, docs per language, ...) maintained by applying
each sync's CHANGES instead of re-aggregating the full table. At 100 TB a
recompute is a full-table scan + shuffle per sync; the incremental update
touches only changed keys' groups — cost ∝ churn, never table size.

No reference analog (Airbyte consumers re-query the warehouse; the pattern
is Iceberg-ecosystem standard: incremental view maintenance over a
changelog scan). Built on ``LakeTable.read_changes(update_images=True)``,
which emits Iceberg's full changelog vocabulary — ``insert`` /
``update_before`` / ``update_after`` / ``delete`` — exactly the four signed
contributions a SUM/COUNT maintenance needs:

    insert, update_after  -> +row contribution
    delete, update_before -> -row contribution

Invariant (gated in tests/test_rollup.py): maintaining over ANY batching of
the table's commit history equals the direct GROUP BY over the final table
— the algebraic-law analog of the engine's replay batching-independence.

Scale shape: the delta aggregation is one partial-combined hash aggregate
over the diff (map-side ± already applied); the merge into the rollup table
is a bucket-scoped CoW join keyed on the group hash — only buckets holding
touched groups are rewritten, the classic "hot aggregate table" write path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from airbyte_spark.lake.table import LakeTable
from airbyte_spark.lineage import log_metric

GROUP_KEY = "_group_key"
N_ROWS = "n_rows"


def rollup_schema(group_fields: list[StructField], metrics: dict[str, str]) -> StructType:
    """(group hash, group cols..., n_rows, one LONG sum per metric)."""
    return StructType(
        [StructField(GROUP_KEY, StringType(), False)]
        + group_fields
        + [StructField(N_ROWS, LongType(), False)]
        + [StructField(out, LongType(), True) for out in metrics]
    )


def create_rollup_table(
    spark: SparkSession,
    root: str,
    group_fields: list[StructField],
    metrics: dict[str, str],
    num_buckets: int = 16,
) -> LakeTable:
    """Create the empty rollup LakeTable, bucketed by the group hash (so
    maintenance merges are bucket-scoped like every other upsert)."""
    return LakeTable.create(
        spark,
        root,
        rollup_schema(group_fields, metrics),
        primary_key=GROUP_KEY,
        num_buckets=num_buckets,
    )


def _group_key(group_cols: list[str]):
    # null-safe deterministic group hash: to_json keeps NULL distinct from
    # the string "null"-lookalikes and composes multi-column groups
    return F.md5(F.to_json(F.struct(*[F.col(c) for c in group_cols])))


def rollup_deltas(
    changes: DataFrame, group_cols: list[str], metrics: dict[str, str]
) -> DataFrame:
    """Signed per-group deltas from a full-vocabulary changelog
    (``read_changes(update_images=True)`` output). One partial-combined
    hash aggregate; the shuffle carries <= touched groups per mapper."""
    sign = (
        F.when(F.col("_change_type").isin("insert", "update_after"), F.lit(1))
        .when(F.col("_change_type").isin("delete", "update_before"), F.lit(-1))
        .otherwise(F.lit(0))
        .cast("long")
    )
    aggs = [F.sum(sign).alias(f"_d_{N_ROWS}")]
    for out, src in metrics.items():
        aggs.append(
            F.sum(sign * F.coalesce(F.col(src).cast("long"), F.lit(0))).alias(f"_d_{out}")
        )
    return (
        changes.withColumn(GROUP_KEY, _group_key(group_cols))
        .groupBy(GROUP_KEY, *group_cols)
        .agg(*aggs)
    )


def apply_rollup(
    rollup: LakeTable,
    deltas: DataFrame,
    metrics: dict[str, str],
    batch_id: str,
    summary_extra: dict | None = None,
) -> int | None:
    """Merge signed deltas into the rollup table as ONE bucket-scoped CoW
    commit; groups whose row count reaches zero are dropped. Idempotent via
    ``batch_id`` (re-applying the same diff is a no-op), so a crashed
    maintenance run resumes exactly like the engine's replay."""
    if rollup.find_batch(batch_id) is not None:
        log_metric("rollup_skipped_already_applied", batch_id=batch_id)
        return None
    snap = rollup.snapshot()
    group_cols = [
        f.name for f in snap.schema.fields
        if f.name not in (GROUP_KEY, N_ROWS) and f.name not in metrics
    ]
    deltas = deltas.persist()
    try:
        buckets = rollup.key_buckets(deltas)
        if not buckets:
            log_metric("rollup_noop", batch_id=batch_id)
            return None
        cur = rollup.scan(buckets=buckets)
        d = deltas.alias("d")
        c = cur.alias("c")
        joined = c.join(d, F.col(f"c.{GROUP_KEY}") == F.col(f"d.{GROUP_KEY}"), "full_outer")
        pick = lambda col: F.coalesce(F.col(f"d.{col}"), F.col(f"c.{col}"))
        merged_cols = [
            pick(GROUP_KEY).alias(GROUP_KEY),
            *[pick(g).alias(g) for g in group_cols],
            (
                F.coalesce(F.col(f"c.{N_ROWS}"), F.lit(0))
                + F.coalesce(F.col(f"d._d_{N_ROWS}"), F.lit(0))
            ).alias(N_ROWS),
            *[
                (
                    F.coalesce(F.col(f"c.{out}"), F.lit(0))
                    + F.coalesce(F.col(f"d._d_{out}"), F.lit(0))
                ).alias(out)
                for out in metrics
            ],
        ]
        merged = joined.select(*merged_cols).filter(F.col(N_ROWS) != 0)
        return rollup.write_and_commit(
            merged,
            replace_buckets=buckets,
            summary=dict(
                summary_extra or {}, operation="rollup-merge", batch_id=batch_id
            ),
        )
    finally:
        deltas.unpersist()


def maintain_rollup(
    rollup: LakeTable,
    source: LakeTable,
    from_version: int,
    to_version: int | None = None,
    group_cols: list[str] | None = None,
    metrics: dict[str, str] | None = None,
    deleted_col: str = "_ab_cdc_deleted_at",
    row_id_cols: str | list[str] | None = None,
) -> int | None:
    """Advance the rollup from the source table's ``from_version`` to
    ``to_version`` (default current) in one idempotent commit. The commit
    summary carries the consumed source range, so a scheduled job resumes
    from ``last_maintained_version(rollup)`` with zero external state.

    ``row_id_cols`` passes through to ``read_changes`` for sources that
    hold 1:N rows under their bucket key (a fan-out JoinView): name the
    row-identity columns (e.g. the pair of side PKs) and the rollup
    maintains correctly over the multi-row diff."""
    to_version = to_version if to_version is not None else source.current_version()
    if to_version <= from_version:
        return None
    changes = source.read_changes(
        from_version, to_version, deleted_col=deleted_col, update_images=True,
        row_id_cols=row_id_cols,
    )
    deltas = rollup_deltas(changes, group_cols or [], metrics or {})
    bid = f"rollup-{source.root.rsplit('/', 1)[-1]}-{from_version}-{to_version}"
    return apply_rollup(
        rollup,
        deltas,
        metrics or {},
        batch_id=bid,
        # durable maintenance watermark: the rollup's own commit summary
        # remembers how far into the source history it has consumed, so a
        # scheduled job resumes with zero external state
        summary_extra={"source_from": from_version, "source_to": to_version},
    )


def last_maintained_version(rollup: LakeTable) -> int | None:
    """The source snapshot version the rollup has consumed through — read
    from the latest rollup-merge commit summary (the durable watermark a
    scheduled maintenance job resumes from)."""
    for snap in reversed(rollup.history()):
        if snap.summary.get("operation") == "rollup-merge":
            v = snap.summary.get("source_to")
            if v is not None:
                return int(v)
    return None
