"""Slice-resumable initial load (CdcEngine.bootstrap(seed, slices=K)).

The reference's initial PK load is resumable at chunk boundaries
(MySqlInitialLoadRecordIterator.java:30-45); here a slice = a contiguous
bucket range committed with its own batch id, so a crashed 100 TB snapshot
re-runs only the missing ranges. Pins: sliced == single-shot final state,
resume skips committed slices, replay refuses a half-loaded table, and
sliced + golden replay end-to-end equality.
"""

from __future__ import annotations

import os

import pytest

from airbyte_spark.changelog import (
    ChangelogConfig,
    apply_golden,
    changelog_df,
    seed_df,
)
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import BootstrapIncompleteError, CdcEngine
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=400, n_seed_docs=200)


def _engine(spark, workdir, sub):
    eng = CdcEngine(
        spark,
        os.path.join(workdir, sub),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    eng.create_table()
    return eng


def test_sliced_equals_single_shot(spark, workdir):
    seed = seed_df(spark, CFG)
    one = _engine(spark, workdir, "one")
    one.bootstrap(seed)
    sl = _engine(spark, workdir, "sliced")
    sl.bootstrap(seed, slices=4)
    assert_frames_equal(final_as_pandas(sl.read_final()), final_as_pandas(one.read_final()))
    # 4 slice commits, each replacing only its bucket range
    slice_snaps = [
        s for s in sl.table.history() if s.summary.get("operation") == "bootstrap_slice"
    ]
    assert len(slice_snaps) == 3  # final slice commits under op "bootstrap"
    done = [s for s in sl.table.history() if s.summary.get("operation") == "bootstrap"]
    assert len(done) == 1 and done[0].summary.get("n_slices") == 4


def test_resume_skips_committed_slices(spark, workdir, monkeypatch):
    seed = seed_df(spark, CFG)
    eng = _engine(spark, workdir, "lake")

    # kill the load after 2 slice commits
    real = eng.table.write_and_commit
    calls = {"n": 0}

    def dying(*a, **kw):
        if calls["n"] == 2:
            raise RuntimeError("simulated crash mid-bootstrap")
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(eng.table, "write_and_commit", dying)
    with pytest.raises(RuntimeError, match="simulated crash"):
        eng.bootstrap(seed, slices=4)
    monkeypatch.undo()

    # every raw-row entry over the half-loaded table is refused
    cl = changelog_df(spark, CFG)
    with pytest.raises(BootstrapIncompleteError):
        eng.replay(cl)
    with pytest.raises(BootstrapIncompleteError):
        eng.apply_range(cl, 0, 200)
    with pytest.raises(BootstrapIncompleteError):
        eng.apply_stream_epoch(cl, 0)

    # fresh engine resumes: only the 2 missing slices commit
    eng2 = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    before = eng2.table.current_version()
    eng2.bootstrap(seed, slices=4)
    assert eng2.table.current_version() - before == 2

    # and the table now replays to the golden final state
    eng2.replay(cl)
    exp = golden_normalize(
        apply_golden(seed.toPandas(), cl.toPandas(), CFG.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng2.read_final()), exp)


def test_completed_sliced_bootstrap_is_idempotent(spark, workdir):
    seed = seed_df(spark, CFG)
    eng = _engine(spark, workdir, "lake")
    eng.bootstrap(seed, slices=3)
    v = eng.table.current_version()
    assert eng.bootstrap(seed, slices=3) is None  # legacy id present
    assert eng.bootstrap(seed) is None  # single-shot also sees it
    assert eng.table.current_version() == v


def test_slices_clamped_to_bucket_count(spark, workdir):
    seed = seed_df(spark, CFG)
    eng = _engine(spark, workdir, "lake")
    eng.bootstrap(seed, slices=64)  # > num_buckets=8 -> 8 slices
    done = [s for s in eng.table.history() if s.summary.get("operation") == "bootstrap"]
    assert done and done[0].summary.get("n_slices") == 8
