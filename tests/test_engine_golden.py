"""Golden-scenario suite (FIXTURES.md T3) — engine vs single-threaded oracle.

Mirrors the reference's SQL-generator semantics suite
(BaseSqlGeneratorIntegrationTest.java) and the CDC behavioral suite
(CdcSourceTest.java): each case is an event list + expected final table.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from airbyte_spark.changelog import (
    ChangelogConfig,
    apply_golden,
    changelog_df,
    seed_df,
    write_changelog,
)
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.schemas import changelog_schema
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize


def _engine(spark, workdir, **cfg_kw) -> CdcEngine:
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=cfg_kw.pop("batch_events", 500), **cfg_kw),
    )
    eng.create_table()
    return eng


def _events_df(spark, rows):
    return spark.createDataFrame([tuple(r) for r in rows], changelog_schema())


def _run_golden(spark, workdir, cfg: ChangelogConfig, batch_events=500, **eng_kw):
    seed = seed_df(spark, cfg)
    clpath = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, clpath)
    eng = _engine(spark, workdir, batch_events=batch_events, **eng_kw)
    eng.bootstrap(seed)
    eng.replay(clpath)
    exp = golden_normalize(
        apply_golden(seed.toPandas(), changelog_df(spark, cfg).toPandas(), cfg.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)
    return eng


def test_snapshot_only(spark, workdir):
    """Full-refresh baseline: seed only, zero events."""
    cfg = ChangelogConfig(n_events=0, n_seed_docs=200)
    seed = seed_df(spark, cfg)
    eng = _engine(spark, workdir)
    eng.bootstrap(seed)
    exp = golden_normalize(apply_golden(seed.toPandas(), changelog_df(spark, cfg).toPandas()))
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)


def test_insert_update_delete(spark, workdir):
    """CdcSourceTest trio: update replaces image, delete removes the row."""
    cfg = ChangelogConfig(n_events=1500, n_seed_docs=200, dup_pct=0.0)
    eng = _run_golden(spark, workdir, cfg)
    # raw table retains tombstones; final view hides them
    raw = eng.read_raw().count()
    fin = eng.read_final().count()
    assert raw > fin


def test_lww_ties_same_lsn(spark, workdir):
    """Two images at the same cursor -> later extracted_at wins."""
    eng = _engine(spark, workdir)
    eng.bootstrap(seed_df(spark, ChangelogConfig(n_events=0, n_seed_docs=10)))
    events = [
        ("U", "doc000000001", 1, 2000, 0, [11], 1, "web"),
        ("U", "doc000000001", 1, 1000, 0, [22], 1, "web"),
    ]
    df = _events_df(spark, events)
    path = os.path.join(workdir, "cl")
    df.write.parquet(path)
    eng.replay(path)
    row = eng.read_final().filter(F.col("doc_id") == "doc000000001").first()
    assert row.tokens == [11]  # ts_ms=2000 image wins


def test_tombstone_ordering_update_after_delete(spark, workdir):
    """Out-of-order older update must never resurrect a deleted row, within
    a batch and across batches (testCdcOrdering_updateAfterDelete)."""
    eng = _engine(spark, workdir)
    eng.bootstrap(seed_df(spark, ChangelogConfig(n_events=0, n_seed_docs=10)))
    # batch 1: delete at lsn 10 (and unrelated traffic up to lsn 10)
    b1 = _events_df(spark, [("D", "doc000000002", 10, 10_000, 0, None, None, None)])
    p1 = os.path.join(workdir, "cl1")
    b1.write.parquet(p1)
    eng.replay(p1)
    assert eng.read_final().filter(F.col("doc_id") == "doc000000002").count() == 0

    # batch 2 "arrives late": update with *older* lsn 9 — suppressed
    b2 = _events_df(spark, [("U", "doc000000002", 9, 9_000, 0, [9], 1, "web")])
    # append as extra files in a fresh dir with higher-lsn padding so the
    # engine's cursor advances past it
    p2 = os.path.join(workdir, "cl2")
    pad = _events_df(spark, [("U", "doc000000003", 11, 11_000, 0, [3], 1, "web")])
    b2.unionByName(pad).write.parquet(p2)
    eng.replay(p2)
    assert eng.read_final().filter(F.col("doc_id") == "doc000000002").count() == 0
    assert eng.read_final().filter(F.col("doc_id") == "doc000000003").first().tokens == [3]


def test_insert_after_delete_resurrects(spark, workdir):
    """A *newer* insert after a delete recreates the row (insertAfterDelete)."""
    eng = _engine(spark, workdir)
    eng.bootstrap(seed_df(spark, ChangelogConfig(n_events=0, n_seed_docs=10)))
    events = [
        ("D", "doc000000004", 5, 5_000, 0, None, None, None),
        ("I", "doc000000004", 6, 6_000, 0, [42], 1, "web"),
    ]
    p = os.path.join(workdir, "cl")
    _events_df(spark, events).write.parquet(p)
    eng.replay(p)
    row = eng.read_final().filter(F.col("doc_id") == "doc000000004").first()
    assert row is not None and row.tokens == [42]


def test_idempotent_reapply(spark, workdir):
    """cdcIdempotent: re-running the whole replay is a no-op."""
    cfg = ChangelogConfig(n_events=1000, n_seed_docs=100)
    eng = _run_golden(spark, workdir, cfg)
    v = eng.table.current_version()
    stats = eng.replay(os.path.join(workdir, "changelog"))
    assert stats["batches"] == 0
    assert eng.table.current_version() == v


def test_duplicates_at_least_once(spark, workdir):
    """q>0 duplicate re-emission -> same final state as q=0."""
    base = ChangelogConfig(n_events=1200, n_seed_docs=150, dup_pct=0.0)
    dup = ChangelogConfig(n_events=1200, n_seed_docs=150, dup_pct=15.0)
    e1 = _run_golden(spark, workdir + "/a", base)
    e2 = _run_golden(spark, workdir + "/b", dup)
    # note: dup events REPLACE later events in the stream (fixed n_events),
    # so the two final states differ; the golden check inside _run_golden is
    # the real assertion. Here we additionally assert dup stream produced a
    # consistent unique key set.
    f2 = final_as_pandas(e2.read_final())
    assert f2["doc_id"].is_unique


def test_validation_errors_golden(spark, workdir):
    cfg = ChangelogConfig(n_events=1000, n_seed_docs=100, corrupt_pct=20.0)
    eng = _run_golden(spark, workdir, cfg)
    flagged = eng.read_final().filter(F.array_contains("_ab_meta.errors", "n_tok_mismatch"))
    assert flagged.count() > 0
    assert eng.read_final().filter(F.col("n_tok") != F.size("tokens")).count() == 0


def test_hot_key_skew_golden(spark, workdir):
    cfg = ChangelogConfig(
        n_events=3000, n_seed_docs=200, insert_pct=10, update_pct=80,
        hot_keys=4, hot_pct=80,
    )
    _run_golden(spark, workdir, cfg)


def test_lineage_and_checkpoint(spark, workdir):
    cfg = ChangelogConfig(n_events=1000, n_seed_docs=100, n_source_partitions=3)
    eng = _run_golden(spark, workdir, cfg, batch_events=250)
    lin = eng.lineage.read(spark)
    assert lin.count() > 0
    assert lin.select("source_partition").distinct().count() == 3
    # lineage rows_applied sums match checkpoint per-partition totals
    from airbyte_spark.checkpoint import load_checkpoint

    ckpt = load_checkpoint(eng.checkpoint_path)
    assert ckpt.max_committed_lsn == 1000
    totals = {
        int(r["source_partition"]): r["s"]
        for r in lin.groupBy("source_partition").agg(F.sum("rows_applied").alias("s")).collect()
    }
    for p, v in ckpt.per_partition.items():
        assert totals[int(p)] == v["rows_applied"]


def test_read_changes_since_prunes_and_matches(spark, workdir):
    """Incremental consumer view: read_changes_since(L) returns exactly the
    rows whose applied lsn > L (deletes included), and the manifest prunes
    files whose max_cursor <= L before the parquet reader sees them."""
    cfg = ChangelogConfig(n_events=800, n_seed_docs=120)
    eng = _run_golden(spark, workdir, cfg, batch_events=200)

    mid = 400
    changed = eng.read_changes_since(mid).toPandas()
    everything = eng.read_raw().toPandas()
    expect = everything[everything["_ab_lsn"] > mid]
    assert sorted(changed["doc_id"]) == sorted(expect["doc_id"])
    assert (changed["_ab_lsn"] > mid).all()
    # deletes propagate; excluding them must drop exactly the tombstones
    no_del = eng.read_changes_since(mid, include_deletes=False).toPandas()
    n_tomb = changed["_ab_cdc_deleted_at"].notna().sum()
    assert len(no_del) == len(changed) - n_tomb

    # manifest-level pruning: a high-water query reads strictly fewer files
    snap = eng.table.snapshot()
    hi = max(f.max_cursor for f in snap.files if f.max_cursor is not None)
    all_files = len(snap.files)
    pruned = [f for f in snap.files if f.max_cursor is None or f.max_cursor > hi - 1]
    assert len(pruned) < all_files
    assert eng.read_changes_since(hi).count() == 0 or hi == 0


def test_extreme_hot_key_skew(spark, workdir):
    """Axes-A stress: a single doc_id receives ~90% of all updates/deletes.
    The max_by partial aggregate must crush the hot key map-side (replay
    completes, golden holds) — the straggler case a window-based dedup
    would serialize onto one task."""
    cfg = ChangelogConfig(
        n_events=3000, n_seed_docs=200, hot_keys=1, hot_pct=90,
        dup_pct=5.0, corrupt_pct=1.0,
    )
    _run_golden(spark, workdir, cfg, batch_events=1000)
