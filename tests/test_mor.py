"""Merge-on-read (delta append) path — the 100x-scale merge strategy.

Contract (VERDICT round 1, item 1): on a table ≫ batch, per-batch write
bytes must be proportional to the BATCH, not the table; golden equality,
resume bit-identity and idempotence must be unchanged; compaction folds
deltas back into bucket-pure base files.

Reference analog: the raw-table append + deferred typing-and-dedup split
(JdbcSqlGenerator.java:240-252 `_airbyte_loaded_at IS NULL` work marker;
TypeAndDedupeTransaction.java) — cheap durable append first, consolidation
later.
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
from airbyte_spark.config import SYNC_APPEND_DEDUP, EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.schemas import changelog_schema
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

# Small batches against a 3000-row table: 100 events < 5% * 3000 = 150, so
# every replay batch takes the merge-on-read path.
CFG = ChangelogConfig(n_events=600, n_seed_docs=3000, dup_pct=2.0, corrupt_pct=1.0)
ENG = dict(batch_events=100, compact_after_replay_max_files=None)


def _mk_engine(spark, workdir, **kw) -> CdcEngine:
    args = {**ENG, **kw}
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=args.pop("batch_events"), **args),
    )
    return eng


def _golden(spark):
    return golden_normalize(
        apply_golden(
            seed_df(spark, CFG).toPandas(), changelog_df(spark, CFG).toPandas(), CFG.vocab_size
        )
    )


def _replayed(spark, workdir, **kw) -> CdcEngine:
    eng = _mk_engine(spark, workdir, **kw)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    write_changelog(spark, CFG, os.path.join(workdir, "changelog"))
    eng.replay(os.path.join(workdir, "changelog"))
    return eng


def test_mor_batches_append_deltas_and_match_golden(spark, workdir):
    eng = _replayed(spark, workdir)
    snap = eng.table.snapshot()
    deltas = [f for f in snap.files if f.kind == "delta"]
    assert deltas, "small batches on a large table must take the MoR path"
    # write amplification: each delta commit wrote ~the batch, not the table
    base_rows = sum(f.rows for f in snap.files if f.kind != "delta")
    per_commit: dict[str, int] = {}
    for f in deltas:
        v = f.path.split("-delta-")[0]
        per_commit[v] = per_commit.get(v, 0) + f.rows
    assert base_rows >= 3000
    for v, rows in per_commit.items():
        assert rows <= 100, f"delta commit {v} wrote {rows} rows (> batch size)"
    # MoR merges are recorded as merge-delta commits
    ops = [s.summary.get("operation") for s in eng.table.history()]
    assert "merge-delta" in ops
    assert_frames_equal(final_as_pandas(eng.read_final()), _golden(spark))


def test_mor_equals_cow_state(spark, workdir, tmp_path_factory):
    """MoR-resolved state must be bit-identical to the pure-CoW state."""
    eng_mor = _replayed(spark, workdir)
    cow_dir = str(tmp_path_factory.mktemp("cow"))
    eng_cow = _replayed(spark, cow_dir, mor_max_fraction=None)
    assert not any(f.kind == "delta" for f in eng_cow.table.snapshot().files)
    assert_frames_equal(
        final_as_pandas(eng_mor.read_final()), final_as_pandas(eng_cow.read_final())
    )


def test_mor_fold_compaction(spark, workdir):
    eng = _replayed(spark, workdir)
    before = final_as_pandas(eng.read_final())
    assert eng.table.delta_file_count() > 0
    v = eng.table.compact()
    assert v is not None
    snap = eng.table.snapshot()
    assert not any(f.kind == "delta" for f in snap.files)
    assert all(f.bucket >= 0 for f in snap.files)
    assert_frames_equal(final_as_pandas(eng.read_final()), before)


def test_mor_resume_bit_identity(spark, workdir):
    """Kill after 2 MoR batches, resume with a fresh engine -> golden."""
    eng = _mk_engine(spark, workdir)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    clpath = os.path.join(workdir, "changelog")
    write_changelog(spark, CFG, clpath)
    eng.replay(clpath, max_batches=2)
    assert eng.table.delta_file_count() > 0
    eng2 = _mk_engine(spark, workdir)
    eng2.replay(clpath)
    assert_frames_equal(final_as_pandas(eng2.read_final()), _golden(spark))
    # idempotence: third engine re-replays nothing
    eng3 = _mk_engine(spark, workdir)
    stats = eng3.replay(clpath)
    assert stats["batches"] == 0


def test_mor_read_changes_since_resolves(spark, workdir):
    eng = _replayed(spark, workdir)
    mid = 300
    changed = eng.read_changes_since(mid)
    # every returned row is the CURRENT winner for its key and newer than mid
    got = {r["doc_id"]: r["_ab_lsn"] for r in changed.select("doc_id", "_ab_lsn").collect()}
    full = {
        r["doc_id"]: r["_ab_lsn"]
        for r in eng.read_raw().select("doc_id", "_ab_lsn").collect()
    }
    assert all(lsn > mid for lsn in got.values())
    expected = {k: v for k, v in full.items() if v > mid}
    assert got == expected


def test_mor_delta_file_cap_triggers_fold(spark, workdir):
    eng = _replayed(spark, workdir, mor_max_delta_files=2)
    ops = [s.summary.get("operation") for s in eng.table.history()]
    assert "compact-fold" in ops, "delta-file cap must trigger an inline fold"
    assert_frames_equal(final_as_pandas(eng.read_final()), _golden(spark))


def test_tombstone_retention_gc(spark, workdir):
    """Old tombstones are dropped at compaction; recent ones retained."""
    rows = [
        # (op, doc_id, lsn, ts_ms, source_partition, tokens, n_tok, source)
        ("I", "a", 1, 1000, 0, [1, 2], 2, "s"),
        ("I", "b", 2, 2000, 0, [3], 1, "s"),
        ("D", "a", 3, 3000, 0, None, None, None),   # old tombstone
        ("I", "c", 90, 90000, 0, [4], 1, "s"),
        ("D", "b", 95, 95000, 0, None, None, None),  # recent tombstone
    ]
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=4),
        EngineConfig(
            batch_events=1000,
            tombstone_retention_lsns=50,
            compact_after_replay_max_files=0,
            mor_max_fraction=None,
        ),
    )
    eng.create_table()
    df = spark.createDataFrame([tuple(r) for r in rows], changelog_schema())
    path = os.path.join(workdir, "changelog")
    df.repartition(1).write.parquet(path)
    eng.replay(path)
    raw = eng.read_raw()
    ids = {r["doc_id"] for r in raw.select("doc_id").collect()}
    # tombstone 'a' (lsn 3 < 95-50) GC'ed; tombstone 'b' (lsn 95) retained
    assert "a" not in ids
    assert "b" in ids
    final_ids = {r["doc_id"] for r in eng.read_final().select("doc_id").collect()}
    assert final_ids == {"c"}


def test_overwrite_retires_delta_rows(spark, workdir):
    """sync_mode="overwrite" replaces the WHOLE table, delta files
    included: a key whose only row sits in a merge-on-read delta file must
    not survive an overwrite window that lacks it."""
    eng = _mk_engine(spark, workdir)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    schema = changelog_schema()
    eng.replay(spark.createDataFrame([("I", "k", 1, 1000, 0, [1, 2], 2, "s")], schema))
    assert eng.table.delta_file_count() > 0, "the batch must take the MoR path"

    over = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8, sync_mode="overwrite"),
        EngineConfig(**ENG),
    )
    over.replay(
        spark.createDataFrame(
            [("I", "x", 2, 2000, 0, [3], 1, "s"), ("I", "y", 3, 3000, 0, [4], 1, "s")],
            schema,
        )
    )
    ids = {r["doc_id"] for r in over.read_final().select("doc_id").collect()}
    assert ids == {"x", "y"}
