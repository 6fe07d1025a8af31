"""Resume-everywhere sweep: restarting from every checkpoint must be
bit-identical to the uninterrupted run (CAT test_read_sequential_slices
generalized, test_incremental.py:160-237)."""

from __future__ import annotations

import os

import pandas as pd

from airbyte_spark.changelog import ChangelogConfig, seed_df, write_changelog
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine

CFG = ChangelogConfig(n_events=1000, n_seed_docs=150, dup_pct=5.0, corrupt_pct=2.0)
BATCH = 250  # -> 4 batches
N_BATCHES = 4


def _full_table_pdf(eng) -> pd.DataFrame:
    """EVERY column incl. tombstones and metadata — bit-identity check."""
    pdf = eng.read_raw().toPandas()
    pdf["tokens"] = pdf["tokens"].map(lambda a: None if a is None else tuple(int(x) for x in a))
    pdf["_ab_meta"] = pdf["_ab_meta"].map(lambda m: tuple(m["errors"]) if m and m["errors"] is not None else ())
    return pdf.sort_values(["doc_id"]).reset_index(drop=True)


def _mk_engine(spark, root) -> CdcEngine:
    return CdcEngine(
        spark, root, StreamConfig(num_buckets=8), EngineConfig(batch_events=BATCH)
    )


def test_resume_from_every_checkpoint(spark, workdir):
    clpath = os.path.join(workdir, "changelog")
    seed = seed_df(spark, CFG)
    write_changelog(spark, CFG, clpath)

    # uninterrupted reference run
    ref_root = os.path.join(workdir, "ref")
    ref = _mk_engine(spark, ref_root)
    ref.create_table()
    ref.bootstrap(seed)
    ref.replay(clpath)
    expected = _full_table_pdf(ref)

    for k in range(1, N_BATCHES):
        root = os.path.join(workdir, f"run{k}")
        e = _mk_engine(spark, root)
        e.create_table()
        e.bootstrap(seed)
        e.replay(clpath, max_batches=k)  # "crash" after k batches
        # brand-new engine instance resumes from the checkpoint
        e2 = _mk_engine(spark, root)
        e2.replay(clpath)
        actual = _full_table_pdf(e2)
        pd.testing.assert_frame_equal(actual, expected, check_dtype=False)


def test_resume_after_lost_checkpoint(spark, workdir):
    """Crash between commit and checkpoint write: the checkpoint is stale but
    snapshot summaries carry the batch id — replay must skip, not re-apply."""
    clpath = os.path.join(workdir, "changelog")
    seed = seed_df(spark, CFG)
    write_changelog(spark, CFG, clpath)

    root = os.path.join(workdir, "lake")
    e = _mk_engine(spark, root)
    e.create_table()
    e.bootstrap(seed)
    e.replay(clpath, max_batches=2)

    # simulate losing the checkpoint updates of batch 2 (roll it back)
    from airbyte_spark.checkpoint import load_checkpoint, save_checkpoint

    ck = load_checkpoint(e.checkpoint_path)
    ck.max_committed_lsn = BATCH  # pretend only batch 1 checkpointed
    save_checkpoint(e.checkpoint_path, ck)

    versions_before = e.table.current_version()
    e2 = _mk_engine(spark, root)
    e2.replay(clpath)
    # batch 2 must have been recognized via find_batch -> no duplicate commit
    applied = [
        s.summary.get("batch_id")
        for s in e2.table.history()
        if s.summary.get("operation") in ("merge", "merge-full")
    ]
    assert len(applied) > 0
    assert len(applied) == len(set(applied))

    # and the final state matches an uninterrupted run
    ref_root = os.path.join(workdir, "ref")
    ref = _mk_engine(spark, ref_root)
    ref.create_table()
    ref.bootstrap(seed)
    ref.replay(clpath)
    pd.testing.assert_frame_equal(_full_table_pdf(e2), _full_table_pdf(ref), check_dtype=False)


def test_resume_sweep_mor_path(spark, workdir):
    """The resume-everywhere sweep on the MERGE-ON-READ path: a big seed
    table + tiny batches force every batch into delta appends; restarting
    from each checkpoint must still be bit-identical to the uninterrupted
    run, with delta files live at the kill points."""
    cfg = ChangelogConfig(n_events=400, n_seed_docs=4000, dup_pct=5.0, corrupt_pct=2.0)
    batch = 100  # 4 batches, each < 5% of 4000 rows -> MoR

    def mk(root):
        return CdcEngine(
            spark, root, StreamConfig(num_buckets=8),
            EngineConfig(batch_events=batch, compact_after_replay_max_files=None),
        )

    clpath = os.path.join(workdir, "cl_mor")
    seed = seed_df(spark, cfg)
    write_changelog(spark, cfg, clpath)

    ref_root = os.path.join(workdir, "mor_ref")
    ref = mk(ref_root)
    ref.create_table()
    ref.bootstrap(seed)
    ref.replay(clpath)
    assert ref.table.delta_file_count() > 0
    expected = _full_table_pdf(ref)

    for k in range(1, 4):
        root = os.path.join(workdir, f"mor_run{k}")
        e = mk(root)
        e.create_table()
        e.bootstrap(seed)
        e.replay(clpath, max_batches=k)
        assert e.table.delta_file_count() > 0  # killed mid-MoR
        e2 = mk(root)
        e2.replay(clpath)
        pd.testing.assert_frame_equal(_full_table_pdf(e2), expected, check_dtype=False)


def test_empty_window_never_rewinds_checkpoint(spark, workdir):
    """An empty (lo, hi] window below the checkpoint moves nothing: a
    rewind to ``hi`` would make the next replay re-apply committed events."""
    from airbyte_spark.changelog import changelog_df
    from airbyte_spark.checkpoint import load_checkpoint
    from pyspark.sql import functions as F

    cfg = ChangelogConfig(n_events=200, n_seed_docs=150)
    root = os.path.join(workdir, "lake")
    e = _mk_engine(spark, root)
    e.create_table()
    e.bootstrap(seed_df(spark, cfg))
    clpath = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, clpath)
    cl = changelog_df(spark, cfg)

    e.apply_range(cl, 0, 100)
    assert load_checkpoint(e.checkpoint_path).max_committed_lsn == 100
    assert e.apply_range(cl.filter(F.col("lsn") > 150), 0, 50) == 0
    assert load_checkpoint(e.checkpoint_path).max_committed_lsn == 100
    stats = e.replay(clpath)
    assert stats["events"] == cl.filter(F.col("lsn") > 100).count()
