"""One batch lifecycle for every apply path: the same changelog (NULL keys,
three source partitions) replayed as one full-merge batch, as bucket-CoW
batches, as merge-on-read batches and as Structured Streaming epochs reports
the same numbers — lineage, checkpoint and the ``batch_committed`` metric
all come from one stats aggregate and one finish step."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from airbyte_spark.changelog import ChangelogConfig, changelog_df, seed_df
from airbyte_spark.checkpoint import load_checkpoint
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.streaming import stream_replay

CFG = ChangelogConfig(
    n_events=600, n_seed_docs=300, dup_pct=2.0, n_source_partitions=3, seed=31
)


def _poisoned(spark):
    """Every 40th event arrives with a NULL doc_id."""
    return changelog_df(spark, CFG).withColumn(
        "doc_id",
        F.when(F.col("lsn") % 40 == 0, F.lit(None).cast("string")).otherwise(
            F.col("doc_id")
        ),
    )


def _engine(spark, root, **cfg) -> CdcEngine:
    eng = CdcEngine(spark, root, StreamConfig(num_buckets=4), EngineConfig(**cfg))
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    return eng


def _committed(err: str) -> list[dict]:
    recs = [json.loads(ln) for ln in err.splitlines() if ln.startswith("{")]
    return [r for r in recs if r.get("event") == "batch_committed"]


def test_every_apply_path_reports_the_same_numbers(spark, workdir, capsys):
    cl = os.path.join(workdir, "cl")
    _poisoned(spark).repartitionByRange(3, "lsn").write.parquet(cl)
    delivered = {
        r["source_partition"]: r["n"]
        for r in _poisoned(spark)
        .filter(F.col("doc_id").isNotNull())
        .groupBy("source_partition")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert len(delivered) == 3

    runs = {
        "full": dict(batch_events=600),
        # 120-event batches stay under half the 300-row seed: no full merge
        "cow": dict(batch_events=120, mor_max_fraction=None),
        "mor": dict(batch_events=120, mor_max_fraction=1.5),
        "stream": dict(),
    }
    records = {}
    capsys.readouterr()
    for name, cfg in runs.items():
        eng = _engine(spark, os.path.join(workdir, name), **cfg)
        if name == "stream":
            stream_replay(eng, cl, os.path.join(workdir, "ss"), max_files_per_trigger=2)
        else:
            eng.replay(cl)
        records[name] = _committed(capsys.readouterr().err)

        lineage: dict[int, int] = {}
        with open(eng.lineage.path) as fh:
            for row in map(json.loads, fh):
                p = row["source_partition"]
                lineage[p] = lineage.get(p, 0) + row["rows_applied"]
        ckpt = load_checkpoint(eng.checkpoint_path)
        per_partition = {int(p): v["rows_applied"] for p, v in ckpt.per_partition.items()}
        assert lineage == delivered, name
        assert per_partition == delivered, name
        assert sum(r["rows_applied"] for r in records[name]) == sum(delivered.values())

    assert {r["merge_mode"] for r in records["full"]} == {"full"}
    assert {r["merge_mode"] for r in records["cow"]} == {"cow"}
    assert {r["merge_mode"] for r in records["mor"]} == {"mor"}
    assert len(records["stream"]) == 2
    assert all(r["epoch"] is not None for r in records["stream"])
    key_sets = {frozenset(r) for recs in records.values() for r in recs}
    assert len(key_sets) == 1, key_sets


def test_mor_tail_batch_job_count(spark, workdir):
    """Pins the Spark jobs of one small merge-on-read tail batch through
    ``replay()``: schema read, LSN probe, ONE batch-stats aggregate, delta
    write. Another per-batch action (a separate count, a winners
    aggregate) fails this."""
    eng = _engine(
        spark,
        os.path.join(workdir, "lake"),
        compact_after_replay_max_files=None,
    )
    cl = os.path.join(workdir, "cl")
    changelog_df(spark, CFG).repartitionByRange(3, "lsn").write.parquet(cl)
    sc = spark.sparkContext
    sc.setJobGroup("mor-tail", "one merge-on-read tail batch")
    try:
        stats = eng.replay(cl, batch_events=10, max_batches=1)
    finally:
        sc.setJobGroup(None, None)
    assert stats["batches"] == 1
    assert eng.table.delta_file_count() == 1  # took the merge-on-read path
    jobs = sc.statusTracker().getJobIdsForGroup("mor-tail")
    assert len(jobs) == JOBS_PER_MOR_TAIL_BATCH, len(jobs)


# schema read, LSN probe, batch stats and the delta write, as measured at
# local[4]; a separate count or winners aggregate per batch adds 1-2 jobs
JOBS_PER_MOR_TAIL_BATCH = 8
