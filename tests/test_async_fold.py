"""Rewrite-rebase for maintenance commits + MoR folds during replay.

A fold (compact) planned against snapshot S may lose the commit CAS to a
concurrent delta append — e.g. a compactor in another process racing
ingest; the rewrite-rebase path (Iceberg RewriteFiles validation)
re-commits latest.files - replaced + fold output, preserving the racer's
files — exact because scan-time LWW resolution is an associative per-key
max. A fold whose INPUTS were rewritten refuses (CommitConflict) and
re-plans. Replay folds inline once ``mor_max_delta_files`` deltas pile up;
the replay tests force several such folds and resume across them."""

from __future__ import annotations

import os

import pytest
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
from airbyte_spark.lake.table import CommitConflict, LakeTable
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=600, n_seed_docs=3000, dup_pct=2.0, corrupt_pct=1.0)
ENG = dict(batch_events=100, compact_after_replay_max_files=None)


def _engine(spark, workdir, **kw) -> CdcEngine:
    args = {**ENG, **kw}
    return CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=args.pop("batch_events"), **args),
    )


def _golden(spark):
    return golden_normalize(
        apply_golden(
            seed_df(spark, CFG).toPandas(),
            changelog_df(spark, CFG).toPandas(),
            CFG.vocab_size,
        )
    )


def _mor_table(spark, workdir) -> tuple[CdcEngine, LakeTable]:
    """Engine with a bootstrapped table plus a few delta commits."""
    eng = _engine(spark, workdir)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    p = os.path.join(workdir, "cl")
    write_changelog(spark, CFG, p)
    eng.replay(p, max_batches=2)  # two small MoR delta batches
    t = eng.table
    assert t.delta_file_count() > 0
    return eng, t


def _late_delta(table: LakeTable, spark):
    """One synthetic delta row for a brand-new key (cannot collide)."""
    schema = table.snapshot().schema
    row = {f.name: None for f in schema.fields}
    row.update(doc_id="late-doc", tokens=[1, 2], n_tok=2, source="late", _ab_lsn=999999)
    return spark.createDataFrame([row], schema)


def test_fold_rebases_over_concurrent_delta_append(spark, workdir, monkeypatch):
    """A delta append lands between the fold's planning and its commit:
    the fold rebases, the late delta survives as a delta over the new
    base, and a scan sees both the folded rows and the late row."""
    eng, table = _mor_table(spark, workdir)
    rows_before = table.scan().count()

    other = LakeTable.load(spark, eng.table_root)
    late = _late_delta(other, spark)
    state = {"raced": False}
    orig_ws = LakeTable._write_snapshot

    def ws(self, snap, parent=None):
        if snap.summary.get("operation") == "compact-fold" and not state["raced"]:
            state["raced"] = True  # first fold attempt: sneak a delta in
            other.append_delta(late, summary={"operation": "delta-append"})
        return orig_ws(self, snap, parent)

    monkeypatch.setattr(LakeTable, "_write_snapshot", ws)
    v = table.compact()
    assert v is not None and state["raced"]
    fresh = LakeTable.load(spark, eng.table_root)
    assert fresh.snapshot().summary["operation"] == "compact-fold"
    # late delta preserved through the rebase, base fully folded under it
    assert fresh.delta_file_count() >= 1
    out = fresh.scan()
    assert out.filter(F.col("doc_id") == "late-doc").count() == 1
    assert out.count() == rows_before + 1


def test_fold_plan_is_version_pinned(spark, workdir, monkeypatch):
    """A delta landing AFTER the fold picked its plan version but BEFORE
    its scan executes must survive: the scan, replaced set, and commit base
    all pin to the plan version, so the racer's file is never replaced.
    (An unpinned plan had a window where the racer's file joined the
    replaced set without its rows being in the fold — silent row loss.)"""
    eng, table = _mor_table(spark, workdir)
    rows_before = table.scan().count()
    other = LakeTable.load(spark, eng.table_root)
    late = _late_delta(other, spark)
    state = {"raced": False}
    orig_scan = LakeTable.scan

    def scan(self, buckets=None, version=None, min_cursor_gt=None):
        if version is not None and self is table and not state["raced"]:
            state["raced"] = True  # race inside the fold's planning step
            other.append_delta(late, summary={"operation": "delta-append"})
        return orig_scan(
            self, buckets=buckets, version=version, min_cursor_gt=min_cursor_gt
        )

    monkeypatch.setattr(LakeTable, "scan", scan)
    v = table.compact()
    assert v is not None and state["raced"]
    fresh = LakeTable.load(spark, eng.table_root)
    out = fresh.scan()
    assert out.filter(F.col("doc_id") == "late-doc").count() == 1
    assert out.count() == rows_before + 1


def test_fold_refuses_when_inputs_rewritten(spark, workdir, monkeypatch):
    """A concurrent commit that REWROTE the fold's input files (a second
    fold) is not rebasable: the stale fold raises CommitConflict."""
    eng, table = _mor_table(spark, workdir)
    other = LakeTable.load(spark, eng.table_root)
    state = {"raced": False}
    orig_ws = LakeTable._write_snapshot

    def ws(self, snap, parent=None):
        if (
            snap.summary.get("operation") == "compact-fold"
            and self is table
            and not state["raced"]
        ):
            state["raced"] = True
            other.compact()  # the other handle folds FIRST
        return orig_ws(self, snap, parent)

    monkeypatch.setattr(LakeTable, "_write_snapshot", ws)
    with pytest.raises(CommitConflict):
        table.compact()
    assert state["raced"]


def test_async_fold_replay_golden_and_resume(spark, workdir):
    """Full replay with inline folds (threshold forces several): golden
    equality and a fresh-engine re-replay is an idempotent no-op."""
    eng = _engine(spark, workdir, mor_max_delta_files=3)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    p = os.path.join(workdir, "cl")
    write_changelog(spark, CFG, p)
    eng.replay(p)
    assert_frames_equal(final_as_pandas(eng.read_final()), _golden(spark))

    eng2 = _engine(spark, workdir, mor_max_delta_files=3)
    v = eng2.table.current_version()
    eng2.replay(p)  # all batch ids known -> no new commits
    assert eng2.table.current_version() == v
    assert_frames_equal(final_as_pandas(eng2.read_final()), _golden(spark))


def test_async_fold_interrupted_resume(spark, workdir):
    """Kill mid-replay (max_batches) between inline folds; a fresh engine
    resumes to exactly golden."""
    eng = _engine(spark, workdir, mor_max_delta_files=2)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    p = os.path.join(workdir, "cl")
    write_changelog(spark, CFG, p)
    eng.replay(p, max_batches=3)
    eng2 = _engine(spark, workdir, mor_max_delta_files=2)
    eng2.replay(p)
    assert_frames_equal(final_as_pandas(eng2.read_final()), _golden(spark))

