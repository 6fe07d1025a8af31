"""Long-tail driver-side scale hygiene (round-3 verdict/advice items):

1. snapshot() resolves files_parent reference chains ITERATIVELY — a cold
   reader of a table with thousands of consecutive pure-append commits
   (raw/audit tables, long MoR streams) must not hit RecursionError.
2. New writers BOUND the chain (MANIFEST_REF_CHAIN_MAX): every so many ref
   commits the full file list is re-inlined, so cold-read resolution work
   stays O(chain cap), not O(history).
3. Checkpoint.batches stays a bounded window across a long replay — the
   durable idempotence record is the snapshot summary, not this list.
4. find_batch is served by an incremental index: repeat lookups parse no
   additional manifests (O(1) amortized, not an O(history) walk per batch).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from airbyte_spark.checkpoint import Checkpoint
from airbyte_spark.lake.table import (
    MANIFEST_REF_CHAIN_MAX,
    MANIFEST_REF_MIN,
    DataFile,
    LakeTable,
    Snapshot,
    _snapshot_path,
)

_SCHEMA = StructType(
    [StructField("doc_id", StringType(), False), StructField("lsn", LongType(), False)]
)


def _mk_table(spark, root: str) -> LakeTable:
    return LakeTable.create(
        spark, root, _SCHEMA, primary_key="doc_id", num_buckets=4, cursor_col="lsn"
    )


def _fake_file(i: int) -> DataFile:
    return DataFile(path=f"data/fake-{i}.parquet", bucket=-1, rows=1, schema_version=1)


def test_cold_reader_survives_thousand_link_legacy_chain(spark, tmp_path):
    """Regression (ADVICE r2): 1500 chained files_parent refs written by a
    pre-cap writer must cold-read without RecursionError and resolve the
    full composed file list in order."""
    root = str(tmp_path / "legacy")
    _mk_table(spark, root)
    with open(_snapshot_path(root, 1)) as fh:
        base = json.load(fh)
    # fabricate the legacy on-disk form directly: an unbounded ref chain
    for v in range(2, 1502):
        doc = {
            "version": v,
            "parent": v - 1,
            "schema_version": base["schema_version"],
            "schemas": base["schemas"],
            "spec": base["spec"],
            "summary": {"operation": "append", "batch_id": f"b{v}"},
            "files_parent": v - 1,
            "files_add": [_fake_file(v).to_json()],
        }
        with open(_snapshot_path(root, v), "w") as fh:
            json.dump(doc, fh)

    cold = LakeTable.load(spark, root)
    snap = cold.snapshot()  # recursive resolution would blow the stack here
    assert snap.version == 1501
    assert len(snap.files) == 1500
    assert snap.files[0].path == "data/fake-2.parquet"
    assert snap.files[-1].path == "data/fake-1501.parquet"
    # and the idempotence lookup over the same chain also survives cold
    assert cold.find_batch("b1501") == 1501
    assert cold.find_batch("b2") == 2
    assert cold.find_batch("nope") is None


def test_writer_bounds_ref_chain_and_reinlines(spark, tmp_path):
    """A pure-append stream re-inlines its file list every
    MANIFEST_REF_CHAIN_MAX commits: no on-disk run of consecutive ref
    manifests exceeds the cap, while most commits stay O(batch) refs."""
    root = str(tmp_path / "bounded")
    t = _mk_table(spark, root)

    # seed an inline snapshot big enough to enable the ref form
    seed_files = [_fake_file(i) for i in range(MANIFEST_REF_MIN)]
    parent = t.snapshot(1)
    snap = Snapshot(
        version=2,
        parent=1,
        schema_version=parent.schema_version,
        schemas=parent.schemas,
        spec=parent.spec,
        files=seed_files,
        summary={"operation": "append"},
    )
    t._write_snapshot(snap, parent)

    n_appends = MANIFEST_REF_CHAIN_MAX + 40
    for k in range(n_appends):
        parent = t.snapshot(t.current_version())
        snap = Snapshot(
            version=parent.version + 1,
            parent=parent.version,
            schema_version=parent.schema_version,
            schemas=parent.schemas,
            spec=parent.spec,
            files=list(parent.files) + [_fake_file(1000 + k)],
            summary={"operation": "append"},
        )
        t._write_snapshot(snap, parent)

    runs, run, n_refs = [], 0, 0
    for v in range(3, t.current_version() + 1):
        with open(_snapshot_path(root, v)) as fh:
            doc = json.load(fh)
        if "files_parent" in doc:
            run += 1
            n_refs += 1
        else:
            runs.append(run)
            run = 0
    runs.append(run)
    assert max(runs) <= MANIFEST_REF_CHAIN_MAX
    assert n_refs >= n_appends - 2  # the ref form still carries the stream
    # the composed view is intact either way
    final = LakeTable.load(spark, root).snapshot()
    assert len(final.files) == MANIFEST_REF_MIN + n_appends


def test_checkpoint_batches_window_is_bounded():
    ckpt = Checkpoint()
    for i in range(200):
        ckpt.note_batch(f"batch-{i:04d}")
    assert len(ckpt.batches) == Checkpoint.BATCH_WINDOW
    # most recent ids retained, oldest pruned
    assert ckpt.batches[-1] == "batch-0199"
    assert "batch-0000" not in ckpt.batches
    # duplicate notes don't grow or reorder the window
    ckpt.note_batch("batch-0199")
    assert len(ckpt.batches) == Checkpoint.BATCH_WINDOW


def test_find_batch_is_indexed_not_a_history_walk(spark, tmp_path):
    root = str(tmp_path / "indexed")
    t = _mk_table(spark, root)
    for v in range(2, 52):
        parent = t.snapshot(t.current_version())
        snap = Snapshot(
            version=v,
            parent=v - 1,
            schema_version=parent.schema_version,
            schemas=parent.schemas,
            spec=parent.spec,
            files=list(parent.files) + [_fake_file(v)],
            summary={"operation": "merge", "batch_id": f"b{v}"},
        )
        t._write_snapshot(snap, parent)

    cold = LakeTable.load(spark, root)
    assert cold.find_batch("b30") == 30  # builds the index

    calls = {"n": 0}
    orig = cold.snapshot

    def counting_snapshot(version=None):
        calls["n"] += 1
        return orig(version)

    cold.snapshot = counting_snapshot  # type: ignore[method-assign]
    for v in range(2, 52):
        assert cold.find_batch(f"b{v}") == v
    assert cold.find_batch("missing") is None
    assert calls["n"] == 0  # 51 lookups, zero manifest parses


def test_find_batch_respects_soft_reset(spark, tmp_path):
    root = str(tmp_path / "reset")
    t = _mk_table(spark, root)
    parent = t.snapshot(1)
    for v, summary in [
        (2, {"operation": "merge", "batch_id": "early"}),
        (3, {"operation": "soft-reset"}),
        (4, {"operation": "merge", "batch_id": "late"}),
    ]:
        snap = Snapshot(
            version=v,
            parent=v - 1,
            schema_version=parent.schema_version,
            schemas=parent.schemas,
            spec=parent.spec,
            files=[],
            summary=summary,
        )
        t._write_snapshot(snap, parent)
        parent = snap
    cold = LakeTable.load(spark, root)
    assert cold.find_batch("late") == 4
    # batches before the reset were discarded with the data: must re-apply
    assert cold.find_batch("early") is None


def test_manifest_spills_to_parquet_past_threshold(spark, tmp_path):
    """VERDICT r2 #5: past MANIFEST_SPILL_MIN files the inline manifest
    becomes a columnar sidecar — the JSON doc stays tiny, the file list
    round-trips exactly (incl. None cursors and delta kind), and cold-load
    + scan planning on a 50k-file table is sub-second."""
    import time as _t

    from airbyte_spark.lake.table import MANIFEST_SPILL_MIN

    root = str(tmp_path / "spill")
    t = _mk_table(spark, root)

    n = 50_000
    files = [
        DataFile(
            path=f"data/f-{i}.parquet",
            bucket=i % 4,
            rows=100,
            schema_version=1,
            min_cursor=i * 10,
            max_cursor=i * 10 + 9,
            kind="base",
        )
        for i in range(n)
    ] + [DataFile(path="data/d-0.parquet", bucket=-1, rows=5, schema_version=1,
                  min_cursor=None, max_cursor=None, kind="delta")]
    assert len(files) > MANIFEST_SPILL_MIN
    base = t.snapshot()
    snap = Snapshot(
        version=2, parent=1, schema_version=1, schemas=base.schemas,
        spec=base.spec, files=files, summary={"operation": "merge", "batch_id": "big"},
    )
    t0 = _t.monotonic()
    t._write_snapshot(snap)
    commit_s = _t.monotonic() - t0

    # on-disk shape: tiny JSON doc + parquet sidecar
    with open(_snapshot_path(root, 2)) as fh:
        doc = json.load(fh)
    assert "files" not in doc and doc["files_parquet"].startswith("files-v00000002-")
    assert os.path.exists(os.path.join(root, "snapshots", doc["files_parquet"]))
    assert os.path.getsize(_snapshot_path(root, 2)) < 10_000

    # cold reader: load + resolve + prune (the scan-planning pass) < 1s
    cold = LakeTable.load(spark, root)
    t1 = _t.monotonic()
    s = cold.snapshot()
    pruned = [f for f in s.files if f.bucket == 2 and (f.max_cursor or 0) > 250_000]
    plan_s = _t.monotonic() - t1
    assert len(s.files) == n + 1
    assert s.files[7] == files[7]          # exact round-trip
    assert s.files[-1].kind == "delta" and s.files[-1].min_cursor is None
    assert pruned and plan_s < 1.0, f"scan planning took {plan_s:.2f}s"
    assert commit_s < 2.0, f"commit serialization took {commit_s:.2f}s"
    # idempotence index still sees the batch through the sidecar
    assert cold.find_batch("big") == 2


def test_manifest_spill_conflict_removes_sidecar(spark, tmp_path):
    """A lost CAS race must not leave the loser's sidecar behind — and when
    the winner spilled too, must not touch the winner's: the committed
    snapshot still reads back every one of its files."""
    from airbyte_spark.lake.table import CommitConflict, MANIFEST_SPILL_MIN

    files = [_fake_file(i) for i in range(MANIFEST_SPILL_MIN + 1)]
    for winner_spills in (False, True):
        root = str(tmp_path / f"race-{winner_spills}")
        t = _mk_table(spark, root)
        base = t.snapshot()
        won = files if winner_spills else files[:1]
        s2 = Snapshot(version=2, parent=1, schema_version=1, schemas=base.schemas,
                      spec=base.spec, files=won, summary={"operation": "append"})
        t._write_snapshot(s2)  # winner
        loser = Snapshot(version=2, parent=1, schema_version=1, schemas=base.schemas,
                         spec=base.spec, files=files[::-1], summary={"operation": "merge"})
        with pytest.raises(CommitConflict):
            t._write_snapshot(loser)
        cold = LakeTable.load(spark, root).snapshot(2)
        assert cold.summary["operation"] == "append" and cold.files == won
        sidecars = [e for e in os.listdir(os.path.join(root, "snapshots"))
                    if e.startswith("files-v00000002-")]
        with open(_snapshot_path(root, 2)) as fh:
            doc = json.load(fh)
        assert sidecars == ([doc["files_parquet"]] if winner_spills else [])


def test_expire_orphans_reclaims_leaked_manifest_sidecars(spark, tmp_path):
    """A sidecar no snapshot doc names (a crash between its write and the
    CAS, or inside expire_snapshots' re-inline) is an orphan like a data
    file: expire_orphans deletes it and keeps the one a doc references."""
    import shutil

    from airbyte_spark.lake.table import MANIFEST_SPILL_MIN

    root = str(tmp_path / "leak")
    t = _mk_table(spark, root)
    base = t.snapshot()
    files = [_fake_file(i) for i in range(MANIFEST_SPILL_MIN)]
    t._write_snapshot(Snapshot(version=2, parent=1, schema_version=1, schemas=base.schemas,
                               spec=base.spec, files=files, summary={"operation": "append"}))
    sdir = os.path.join(root, "snapshots")
    (live,) = [e for e in os.listdir(sdir) if e.startswith("files-")]
    stray = "files-v00000003-0badc0de.parquet"
    shutil.copy(os.path.join(sdir, live), os.path.join(sdir, stray))

    assert t.expire_orphans() == 1
    assert [e for e in os.listdir(sdir) if e.startswith("files-")] == [live]
    assert LakeTable.load(spark, root).snapshot(2).files == files
