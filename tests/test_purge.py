"""Key purge (LakeTable.purge_keys) — the GDPR / right-to-be-forgotten
physical delete, the CoW analog of Iceberg ``DELETE FROM t WHERE pk IN``.

Contracts pinned here:
- final state == golden minus the purged keys (nonexistent keys are no-ops)
- write cost is bucket-scoped: only the key set's buckets are rewritten
- merge-on-read safety: a purged key's delta rows are rewritten in the same
  atomic commit (else the delta row would win scan-time LWW resolution as
  the key's only surviving version)
- full physical erasure: after purge + expire_snapshots + expire_orphans no
  parquet file on disk contains the purged key
- replay resumes cleanly across a purge commit (idempotence preserved)
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow.parquet as pq
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
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=2000, n_seed_docs=300, dup_pct=2.0, corrupt_pct=1.0)


def _mk(spark, workdir, **eng_kw) -> CdcEngine:
    eng_kw.setdefault("batch_events", 500)
    return CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(**eng_kw),
    )


def _golden(spark, cfg=CFG):
    return golden_normalize(
        apply_golden(
            seed_df(spark, cfg).toPandas(), changelog_df(spark, cfg).toPandas(),
            cfg.vocab_size,
        )
    )


def _doc_ids(table, f) -> list:
    """doc_id column of one data file, read physically (no LWW resolve)."""
    return pq.read_table(os.path.join(table.root, f.path), columns=["doc_id"])["doc_id"].to_pylist()


def _replayed(spark, workdir, cfg=CFG, **eng_kw) -> CdcEngine:
    ch = os.path.join(workdir, "changelog")
    write_changelog(spark, cfg, ch)
    eng = _mk(spark, workdir, **eng_kw)
    eng.create_table()
    eng.bootstrap(seed_df(spark, cfg))
    eng.replay(ch)
    return eng


def test_purge_removes_keys_and_scopes_writes(spark, workdir):
    eng = _replayed(spark, workdir)
    table = eng.table
    golden = _golden(spark)
    live = sorted(golden["doc_id"].tolist())
    victims = [live[0], live[7], live[23], "no-such-doc"]  # last one nonexistent

    before = {f.path for f in table.snapshot().files}
    v = table.purge_keys(victims)
    assert v is not None
    snap = table.snapshot()
    assert snap.summary["operation"] == "purge"

    # bucket-scoped rewrite: untouched buckets keep their exact files
    touched = set(snap.summary["buckets"])
    assert 0 < len(touched) < snap.spec["num_buckets"]
    for f in snap.files:
        if f.bucket not in touched and f.kind != "delta":
            assert f.path in before, f"untouched bucket {f.bucket} rewritten"
    for f in snap.files:
        if f.bucket in touched:
            assert f.path not in before, f"stale file kept in purged bucket"

    expected = golden[~golden["doc_id"].isin(victims)].reset_index(drop=True)
    assert_frames_equal(final_as_pandas(eng.read_final()), expected)

    # replace with new rows: empty one untouched bucket by purging every
    # key stored there, then replace a live key of another bucket and add a
    # fresh key of the emptied bucket in ONE commit
    b = next(x for x in range(snap.spec["num_buckets"]) if x not in touched)
    stored = {k for f in snap.files if f.bucket == b for k in _doc_ids(table, f)}
    table.purge_keys(sorted(stored))
    assert not [f for f in table.snapshot().files if f.bucket == b]
    gone = set(victims) | stored
    kept_key = next(k for k in live if k not in gone)
    fresh = next(k for k in (f"fresh-{i}" for i in range(10_000)) if table.key_buckets([k]) == [b])
    row = table.lookup([kept_key]).withColumn("source", F.lit("replaced"))
    rows = row.unionByName(row.withColumn("doc_id", F.lit(fresh)))
    before = {f.path for f in table.snapshot().files}
    table.replace_keys([kept_key, fresh], rows, {"operation": "replace"})
    snap = table.snapshot()
    assert snap.summary["buckets"] == sorted({b, *table.key_buckets([kept_key])})
    for f in snap.files:
        if f.bucket not in snap.summary["buckets"]:
            assert f.path in before, f"untouched bucket {f.bucket} rewritten"
    expected = golden[~golden["doc_id"].isin(gone)].copy()
    expected.loc[expected["doc_id"] == kept_key, "source"] = "replaced"
    new = expected[expected["doc_id"] == kept_key].assign(doc_id=fresh)
    expected = golden_normalize(pd.concat([expected, new]))
    assert_frames_equal(final_as_pandas(eng.read_final()), expected)


def test_purge_rewrites_delta_rows(spark, workdir):
    """MoR regime: purge with deltas outstanding must not let a delta row
    resurface as the key's only version."""
    big = ChangelogConfig(n_events=400, n_seed_docs=3000, dup_pct=2.0, corrupt_pct=1.0)
    eng = _replayed(
        spark, workdir, cfg=big,
        batch_events=100, compact_after_replay_max_files=None,
    )
    table = eng.table
    assert table.delta_file_count() > 0, "scenario must exercise the MoR path"

    # pick victims that have rows in DELTA files specifically
    snap = table.snapshot()
    delta_paths = [
        os.path.join(table.root, f.path) for f in snap.files if f.kind == "delta"
    ]
    delta_ids = sorted(
        {r for p in delta_paths for r in pq.read_table(p, columns=["doc_id"])["doc_id"].to_pylist()}
    )
    victims = delta_ids[:5]
    assert victims

    golden = _golden(spark, big)
    table.purge_keys(victims)
    assert table.delta_file_count() > 0, "deltas preserved (rewritten, not folded)"
    expected = golden[~golden["doc_id"].isin(victims)].reset_index(drop=True)
    assert_frames_equal(final_as_pandas(eng.read_final()), expected)

    # replace with new rows: a key with a delta row shows only its new row,
    # even one whose lsn is LOWER than the delta row's (the delta row is
    # rewritten away, not out-resolved)
    k = delta_ids[5]
    new = table.lookup([k]).withColumn("source", F.lit("replaced"))
    new = new.withColumn("_ab_lsn", F.lit(0).cast("long"))
    table.replace_keys([k], new, {"operation": "replace"})
    assert table.delta_file_count() > 0
    assert [(r["source"], r["_ab_lsn"]) for r in table.lookup([k]).collect()] == [("replaced", 0)]
    physical = [r for f in table.snapshot().files for r in _doc_ids(table, f) if r == k]
    assert physical == [k]


def test_purge_then_expire_is_physically_erased(spark, workdir):
    eng = _replayed(spark, workdir)
    table = eng.table
    golden = _golden(spark)
    victim = golden["doc_id"].iloc[3]

    table.purge_keys([victim])
    table.expire_snapshots(keep_last=1)
    table.expire_orphans()

    data_dir = os.path.join(table.root, "data")
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(data_dir, name), columns=["doc_id"])
        assert victim not in set(t["doc_id"].to_pylist()), name


def test_purge_accepts_dataframe_and_empty_list(spark, workdir):
    eng = _replayed(spark, workdir)
    table = eng.table
    golden = _golden(spark)
    assert table.purge_keys([]) is None

    victims = sorted(golden["doc_id"].tolist())[:3]
    kdf = spark.createDataFrame([(v,) for v in victims], "k string")
    v = table.purge_keys(kdf, key_col="k")
    assert v is not None
    expected = golden[~golden["doc_id"].isin(victims)].reset_index(drop=True)
    assert_frames_equal(final_as_pandas(eng.read_final()), expected)


def test_replay_resumes_across_purge(spark, workdir):
    ch = os.path.join(workdir, "changelog")
    write_changelog(spark, CFG, ch)
    eng = _mk(spark, workdir)
    eng.create_table()
    eng.bootstrap(seed_df(spark, CFG))
    eng.replay(ch, max_batches=2)

    # victim with NO events after the checkpoint (lsn > 1000, batches 3-4):
    # the purge can never be undone by the remaining replay, so the final
    # state is exactly golden minus the victim. (An event after the purge
    # WOULD legitimately re-insert the key — purge deletes state as of now,
    # it is not a permanent ban; that semantic needs no separate pin.)
    golden = _golden(spark)
    ch_pdf = changelog_df(spark, CFG).toPandas()
    tail_ids = set(ch_pdf.loc[ch_pdf["lsn"] > 1000, "doc_id"])
    victim = next(d for d in golden["doc_id"] if d not in tail_ids)
    eng.table.purge_keys([victim])

    eng2 = _mk(spark, workdir)
    eng2.replay(ch)
    expected = golden[golden["doc_id"] != victim].reset_index(drop=True)
    assert_frames_equal(final_as_pandas(eng2.read_final()), expected)


def test_purge_rewrite_is_pk_sorted(spark, workdir):
    """The purge rewrite keeps the table sort order: a bucket whose two
    files each hold interleaved keys is rewritten as ONE pk-sorted file, so
    lookup's pushed IN predicate can still skip row groups."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from airbyte_spark.lake.table import LakeTable

    schema = StructType(
        [StructField("doc_id", StringType(), False), StructField("lsn", LongType(), False)]
    )
    t = LakeTable.create(
        spark, os.path.join(workdir, "t"), schema, primary_key="doc_id",
        num_buckets=1, cursor_col="lsn",
    )
    for keys in ("aceg", "bdfh"):
        t.write_and_commit(
            spark.createDataFrame([(k, i) for i, k in enumerate(keys)], schema),
            None, {"operation": "append"},
        )
    t.purge_keys(["h"])
    (f,) = t.snapshot().files
    col = pq.read_table(os.path.join(t.root, f.path), columns=["doc_id"])["doc_id"]
    assert col.to_pylist() == list("abcdefg")
