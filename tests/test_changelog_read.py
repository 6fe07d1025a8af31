"""Snapshot-diff changelog (LakeTable.read_changes) and snapshot
expiration (LakeTable.expire_snapshots).

Changelog contract: for ANY two committed snapshots v1 < v2, applying the
classified diff onto the live state at v1 reproduces the live state at v2
exactly — inserts added, updates replaced, deletes removed. This is the
property a downstream incremental consumer relies on; it must hold across
CoW merges, MoR delta commits and compaction folds.

Expiration contract: only data below the retention horizon disappears;
every retained snapshot stays readable (including ones whose manifest was
a ref chain into the expired range), and the engine's replay/resume path
is unaffected.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from airbyte_spark.changelog import ChangelogConfig, seed_df, write_changelog
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.lake.table import LakeTable
from tests.util import final_as_pandas

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("v", IntegerType(), True),
        StructField("_ab_lsn", LongType(), False),
    ]
)


@pytest.fixture()
def table(spark, workdir):
    return LakeTable.create(
        spark, os.path.join(workdir, "t"), SCHEMA, primary_key="doc_id",
        num_buckets=4, cursor_col="_ab_lsn",
    )


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _state(table, version=None) -> pd.DataFrame:
    pdf = table.scan(version=version).toPandas()
    return pdf.sort_values("doc_id").reset_index(drop=True)


def _apply_diff(old: pd.DataFrame, diff: pd.DataFrame) -> pd.DataFrame:
    """Replay a classified diff onto an old live state (pandas oracle)."""
    out = {r["doc_id"]: r for _, r in old.iterrows()}
    for _, r in diff.iterrows():
        if r["_change_type"] == "delete":
            out.pop(r["doc_id"], None)
        else:
            out[r["doc_id"]] = r.drop("_change_type")
    cols = list(old.columns)
    if not out:
        return old.iloc[0:0]
    return (
        pd.DataFrame([{c: v[c] for c in cols} for v in out.values()])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )


def test_read_changes_classification(spark, table):
    table.write_and_commit(
        _df(spark, [("a", 1, 1), ("b", 1, 2), ("c", 1, 3)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    v1 = table.current_version()
    table.write_and_commit(
        _df(spark, [("a", 2, 4), ("b", 1, 2), ("d", 1, 5)]),
        replace_buckets=range(4), summary={"operation": "merge-full"},
    )
    ch = table.read_changes(v1).toPandas().set_index("doc_id")
    assert ch.loc["a", "_change_type"] == "update" and ch.loc["a", "v"] == 2
    assert ch.loc["c", "_change_type"] == "delete" and ch.loc["c", "v"] == 1
    assert ch.loc["d", "_change_type"] == "insert"
    assert "b" not in ch.index  # unchanged row suppressed by fingerprint


def test_read_changes_null_update_after_image(spark, table):
    """An update to NULL must not leak the old value (no per-column
    coalesce)."""
    table.write_and_commit(
        _df(spark, [("a", 7, 1)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    v1 = table.current_version()
    table.write_and_commit(
        _df(spark, [("a", None, 2)]), replace_buckets=range(4),
        summary={"operation": "merge-full"},
    )
    ch = table.read_changes(v1).toPandas()
    assert list(ch["_change_type"]) == ["update"]
    assert pd.isna(ch["v"].iloc[0])


def test_read_changes_same_version_empty(spark, table):
    table.write_and_commit(
        _df(spark, [("a", 1, 1)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    v = table.current_version()
    assert table.read_changes(v, v).count() == 0


def test_read_changes_across_int_to_bigint_widening(spark, table):
    """A widening is metadata-only, so a row it did not change is not a
    change: the old side reads as the new schema before fingerprinting,
    and only the rewritten key diffs — not its bucket neighbours."""
    table.write_and_commit(
        _df(spark, [(f"k{i}", i, i + 1) for i in range(10)]), None, {"operation": "append"}
    )
    v1 = table.current_version()
    wide = StructType(
        [SCHEMA["doc_id"], StructField("v", LongType(), True), SCHEMA["_ab_lsn"]]
    )
    table.commit_metadata_only({"operation": "evolve-schema"}, new_schema=wide)
    table.replace_keys(
        ["k3"], spark.createDataFrame([("k3", 33, 20)], wide), {"operation": "merge"}
    )
    touched = table.snapshot().summary["buckets"]
    assert len(table.scan(buckets=touched).collect()) > 1  # k3 has neighbours
    ch = table.read_changes(v1).collect()
    assert [(r.doc_id, r.v, r._change_type) for r in ch] == [("k3", 33, "update")]


def _engine(spark, workdir, **kw) -> tuple[CdcEngine, ChangelogConfig, str]:
    cfg = ChangelogConfig(n_events=900, n_seed_docs=400, dup_pct=2.0, corrupt_pct=1.0)
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=300, **kw),
    )
    eng.create_table()
    eng.bootstrap(seed_df(spark, cfg))
    log = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, log)
    return eng, cfg, log


def test_engine_changelog_replays_to_every_snapshot(spark, workdir):
    """Golden property across the real engine's commit sequence (CoW and/or
    MoR commits): diff(v_i, v_j) applied to live(v_i) == live(v_j) for all
    committed snapshot pairs."""
    eng, _, log = _engine(spark, workdir)
    eng.replay(log)
    versions = [s.version for s in eng.table.history()]
    live = {
        v: final_as_pandas(eng.read_final(version=v)) for v in versions[1:]
    }
    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        out = pdf.copy()
        out["tokens"] = out["tokens"].map(
            lambda a: None if a is None else [int(x) for x in a]
        )
        return out

    pairs = [(a, b) for a in versions[1:] for b in versions[1:] if a < b]
    for a, b in pairs:
        diff = norm(eng.read_changes_between(a, b).toPandas())
        replayed = _apply_diff(live[a], diff)
        expect = live[b].reset_index(drop=True)
        got = (
            replayed[expect.columns]
            .sort_values(list(expect.columns[:1]))
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got, expect, check_dtype=False, check_exact=True
        ), f"diff {a}->{b}"


def test_expire_snapshots_reclaims_and_keeps_tail_readable(spark, table):
    import glob

    for i in range(6):
        table.write_and_commit(
            _df(spark, [("a", i, i + 1), (f"k{i}", 1, i + 1)]),
            replace_buckets=range(4), summary={"operation": "merge-full", "batch_id": f"b{i}"},
        )
    files_before = len(glob.glob(os.path.join(table.root, "data", "*.parquet")))
    tail_state = _state(table)
    v_cur = table.current_version()
    res = table.expire_snapshots(keep_last=2)
    assert res["expired_snapshots"] == 5  # v1..v5 of 7 total
    assert res["removed_files"] > 0
    files_after = len(glob.glob(os.path.join(table.root, "data", "*.parquet")))
    assert files_after < files_before
    # retained snapshots still read exactly, incl. from a COLD reader
    cold = LakeTable.load(spark, table.root)
    pd.testing.assert_frame_equal(_state(cold), tail_state)
    pd.testing.assert_frame_equal(_state(cold, v_cur - 1), _state(table, v_cur - 1))
    # expired version is gone
    with pytest.raises(FileNotFoundError):
        cold.snapshot(2)
    # find_batch index survives for retained, forgets expired
    assert cold.find_batch("b5") == v_cur
    assert cold.find_batch("b0") is None


def test_expire_snapshots_reinlines_ref_chains(spark, table):
    """Pure appends build files_parent ref chains; expiring the chain's
    base must re-inline retained docs so cold readers never chase an
    expired ref. MANIFEST_REF_MIN=64 files triggers chaining."""
    from airbyte_spark.lake import table as T

    # many tiny appends -> >MANIFEST_REF_MIN files -> later snapshots are
    # ref docs (chaining starts once the PARENT holds >= the threshold)
    for i in range(T.MANIFEST_REF_MIN // 2):
        table.write_and_commit(
            _df(spark, [(f"d{i}-{j}", 1, i + 1) for j in range(4)]),
            replace_buckets=None, summary={"operation": "append"},
            write_partitions=4,
        )
    import json

    chained = [
        v for v in table.existing_versions()
        if "files_parent" in json.load(open(os.path.join(table.root, "snapshots", f"v{v:08d}.json")))
    ]
    assert chained, "test setup must produce ref-chained snapshots"
    keep = 3
    rows_before = _state(table)
    table.expire_snapshots(keep_last=keep)
    cold = LakeTable.load(spark, table.root)
    pd.testing.assert_frame_equal(_state(cold), rows_before)
    for v in cold.existing_versions():
        assert cold.snapshot(v).version == v  # resolvable without expired refs


def test_engine_expire_then_resume(spark, workdir):
    """Expiration must not break the engine's idempotent resume: replay,
    expire, then re-replay the same stream -> no new snapshots, state
    intact."""
    eng, cfg, log = _engine(spark, workdir)
    eng.replay(log)
    before = final_as_pandas(eng.read_final())
    eng.expire_snapshots(keep_last=2)
    fresh = CdcEngine(
        spark, os.path.join(workdir, "lake"), StreamConfig(num_buckets=8),
        EngineConfig(batch_events=300),
    )
    hist = len(fresh.table.existing_versions())
    fresh.replay(log)  # checkpoint is at max lsn -> noop
    assert len(fresh.table.existing_versions()) == hist
    pd.testing.assert_frame_equal(final_as_pandas(fresh.read_final()), before)


def test_shrinking_overwrite_emits_deletes(spark, table):
    """Regression: a commit can DROP a key without adding any file in its
    bucket (overwrite writes files only for non-empty buckets). Pruning on
    added files alone loses those deletes — removed files' buckets must be
    diffed too."""
    table.write_and_commit(
        _df(spark, [(f"d{i}", i, i + 1) for i in range(12)]),
        replace_buckets=range(4), summary={"operation": "overwrite"},
    )
    # shrink to 2 docs: most buckets end up empty (no added file there)
    table.write_and_commit(
        _df(spark, [("d0", 0, 20), ("d1", 1, 21)]),
        replace_buckets=range(4), summary={"operation": "overwrite"},
    )
    diff = table.read_changes(2, 3, deleted_col="_nope")
    deletes = {r.doc_id for r in diff.collect() if r._change_type == "delete"}
    assert deletes == {f"d{i}" for i in range(2, 12)}
    # and the full-vocabulary mode sees them identically
    diff2 = table.read_changes(2, 3, deleted_col="_nope", update_images=True)
    deletes2 = {r.doc_id for r in diff2.collect() if r._change_type == "delete"}
    assert deletes2 == deletes
