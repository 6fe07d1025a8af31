"""Point lookup, metadata tables, and write-audit-publish staging.

Reference parity notes: Airbyte has none of these primitives (consumers query
the destination); they are the Iceberg-side surface a lake CDC engine needs —
``table$files``/``table$snapshots`` metadata tables, bucket-pruned point
reads, and the WAP (write-audit-publish) staged-commit pattern.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from airbyte_spark.lake.table import LakeTable, _spark_hash

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("v", IntegerType(), True),
        StructField("_ab_lsn", LongType(), False),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture()
def table(spark, workdir):
    return LakeTable.create(
        spark, os.path.join(workdir, "t"), SCHEMA, primary_key="doc_id",
        num_buckets=8, cursor_col="_ab_lsn",
    )


# --------------------------------------------------------------- lookup

def test_lookup_returns_lww_winners_across_base_and_delta(spark, table):
    table.write_and_commit(
        _df(spark, [(f"d{i}", i, i + 1) for i in range(20)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    # delta carries a newer version of d3 and a brand-new key
    table.append_delta(
        _df(spark, [("d3", 303, 100), ("new", 1, 101)]),
        summary={"operation": "merge-delta"},
    )
    got = {r.doc_id: (r.v, r._ab_lsn) for r in table.lookup(["d3", "d7", "new"]).collect()}
    assert got == {"d3": (303, 100), "d7": (7, 8), "new": (1, 101)}


def test_lookup_prunes_to_key_buckets(spark, table):
    table.write_and_commit(
        _df(spark, [(f"d{i}", i, i + 1) for i in range(64)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    snap = table.snapshot()
    keys = ["d1", "d2"]
    kb = {
        r["b"]
        for r in spark.createDataFrame([(k,) for k in keys], "doc_id string")
        .select(table.bucket_expr().alias("b")).distinct().collect()
    }
    read_files = []
    orig = table._read_files

    def spy(s, files):
        read_files.extend(files)
        return orig(s, files)

    table._read_files = spy
    try:
        rows = table.lookup(keys).collect()
    finally:
        table._read_files = orig
    assert sorted(r.doc_id for r in rows) == keys
    assert read_files, "lookup must read through the manifest"
    assert {f.bucket for f in read_files} <= kb, (
        "lookup read files outside the keys' buckets"
    )
    # sanity: pruning is real — fewer files than the table holds
    assert len(read_files) < len(snap.files)


def test_lookup_dataframe_keys_and_empty(spark, table):
    table.write_and_commit(
        _df(spark, [("a", 1, 1), ("b", 2, 2), ("c", 3, 3)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    kdf = spark.createDataFrame([("a",), ("c",), ("zz",)], "k string")
    got = sorted(r.doc_id for r in table.lookup(kdf, key_col="k").collect())
    assert got == ["a", "c"]
    assert table.lookup([]).count() == 0
    assert table.lookup(["nope"]).count() == 0


def test_driver_hash_equals_spark_hash(spark):
    import random

    rng = random.Random(5)
    alphabet = "aZ09\x00\x7f\x80éÿ€😀"
    strs = ["", "\x00", "\x00\x00\x00\x00\x00"] + [
        "".join(rng.choice(alphabet) for _ in range(n)) for n in range(14) for _ in range(40)
    ]
    ints = [0, 1, -1, 2**31 - 1, -(2**31)] + [rng.randint(-(2**31), 2**31 - 1) for _ in range(300)]
    longs = [2**32, -(2**63), 2**63 - 1] + [rng.randint(-(2**63), 2**63 - 1) for _ in range(300)]
    for dtype, values in ((StringType(), strs), (IntegerType(), ints), (LongType(), longs)):
        df = spark.createDataFrame([(v,) for v in values], StructType([StructField("k", dtype)]))
        got = {r.k: r.h for r in df.select("k", F.hash("k").alias("h")).collect()}
        bad = [v for v in values if _spark_hash(v, dtype) != got[v]]
        assert not bad, f"{dtype}: {bad[:5]}"


@pytest.mark.parametrize(
    "dtype,keys",
    [
        (StringType(), ["", "a", "é€x", "doc00042"]),
        (IntegerType(), [0, -7, 2**31 - 1, 12345]),
        (LongType(), [-(2**63), 1, 2**40 + 3]),
    ],
)
@pytest.mark.parametrize("bucket_fn", ["murmur3", None])
def test_key_list_buckets_match_bucket_expr(spark, table, dtype, keys, bucket_fn):
    # None: a legacy spec with no bucket_fn, laid out by xxhash64
    spec = {"bucket_by": "k", "num_buckets": 7}
    if bucket_fn:
        spec["bucket_fn"] = bucket_fn
    field = StructField("k", dtype)
    kdf = spark.createDataFrame([(k,) for k in keys], StructType([field]))
    assert table._key_buckets(spec, field, keys) == table._key_buckets(spec, field, kdf)


def test_list_lookup_plans_without_spark_jobs(spark, table):
    table.write_and_commit(
        _df(spark, [(f"d{i}", i, i + 1) for i in range(20)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    table.append_delta(_df(spark, [("d3", 303, 100)]), summary={"operation": "merge-delta"})
    sc = spark.sparkContext
    sc.setJobGroup("lookup-plan", "list-form lookup planning")
    try:
        out = table.lookup(["d3", "d5", "zz"])
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("lookup-plan")) == []
    assert sorted((r.doc_id, r.v) for r in out.collect()) == [("d3", 303), ("d5", 5)]


# ------------------------------------------------------- metadata tables

def test_files_df_matches_manifest(spark, table):
    table.write_and_commit(
        _df(spark, [(f"d{i}", i, i + 1) for i in range(16)]),
        replace_buckets=None, summary={"operation": "append"},
    )
    table.append_delta(_df(spark, [("d0", 99, 50)]), summary={"operation": "merge-delta"})
    snap = table.snapshot()
    rows = table.files_df().collect()
    assert len(rows) == len(snap.files)
    assert sum(r.rows for r in rows) == sum(f.rows for f in snap.files)
    kinds = {r.kind for r in rows}
    assert kinds == {"base", "delta"}
    # cursor stats surfaced (a zero-row delta shard legitimately has none)
    assert all(r.max_cursor is not None for r in rows if r.rows > 0)


def test_snapshots_df_history(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    table.write_and_commit(
        _df(spark, [("a", 2, 2)]), None, {"operation": "merge", "batch_id": "b-1"}
    )
    rows = {r.version: r for r in table.snapshots_df().collect()}
    assert rows[1].operation == "create"
    assert rows[2].operation == "append"
    assert rows[3].operation == "merge" and rows[3].batch_id == "b-1"
    assert rows[3].parent == 2
    assert all(r.committed_at_ms is not None for r in rows.values())
    assert not any(r.staged for r in rows.values())


# ------------------------------------------------------ write-audit-publish

def test_wap_stage_publish_visibility(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    pub_v = table.current_version()
    # stage two commits above the published head
    table.write_and_commit(
        _df(spark, [("b", 2, 2)]), None, {"operation": "append", "staged": True}
    )
    table.append_delta(
        _df(spark, [("a", 10, 3)]), summary={"operation": "merge-delta", "staged": True}
    )
    assert table.published_version() == pub_v
    assert len(table.staged_versions()) == 2
    # audited reader sees the old state; auditor's scan() sees staged
    assert sorted(r.doc_id for r in table.read_published().collect()) == ["a"]
    staged_state = {r.doc_id: r.v for r in table.scan().collect()}
    assert staged_state == {"a": 10, "b": 2}
    # publish: ONE commit flips visibility to ALL staged data
    v = table.publish_staged()
    assert table.published_version() == v
    assert table.staged_versions() == []
    assert {r.doc_id: r.v for r in table.read_published().collect()} == {"a": 10, "b": 2}
    # idempotent no-op when nothing staged
    assert table.publish_staged() == v


def test_wap_abandon_reverts_and_frees_batch_ids(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    table.write_and_commit(
        _df(spark, [("b", 2, 2)]), None,
        {"operation": "merge", "batch_id": "bat-7", "staged": True},
    )
    assert table.find_batch("bat-7") is not None
    v = table.abandon_staged()
    assert table.snapshot(v).summary["operation"] == "abandon-staged"
    # head reverted to published content
    assert sorted(r.doc_id for r in table.scan().collect()) == ["a"]
    assert table.published_version() == v
    # the rejected batch id is free to re-apply
    assert table.find_batch("bat-7") is None
    table.write_and_commit(
        _df(spark, [("b", 20, 5)]), None, {"operation": "merge", "batch_id": "bat-7"}
    )
    assert table.find_batch("bat-7") == table.current_version()
    assert {r.doc_id: r.v for r in table.scan().collect()} == {"a": 1, "b": 20}


def test_wap_abandon_then_gc_reclaims_staged_files(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    staged_v = table.write_and_commit(
        _df(spark, [("b", 2, 2)]), None, {"operation": "append", "staged": True}
    )
    staged_paths = {
        f.path for f in table.snapshot(staged_v).files
        if f.path.startswith(f"data/v{staged_v}-")
    }
    assert staged_paths
    table.abandon_staged()
    table.expire_snapshots(keep_last=1)
    table.expire_orphans()
    for p in staged_paths:
        assert not os.path.exists(os.path.join(table.root, p)), (
            f"abandoned staged file {p} not reclaimed"
        )
    # published data intact
    assert sorted(r.doc_id for r in table.scan().collect()) == ["a"]


def test_wap_fresh_loader_sees_same_published_state(spark, table):
    """A cold reader (new LakeTable instance) resolves published/staged
    identically — the staged flag lives in durable snapshot summaries."""
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    table.write_and_commit(
        _df(spark, [("b", 2, 2)]), None, {"operation": "append", "staged": True}
    )
    cold = LakeTable.load(spark, table.root)
    assert cold.published_version() == table.published_version()
    assert sorted(r.doc_id for r in cold.read_published().collect()) == ["a"]
    assert sorted(r.doc_id for r in cold.scan().collect()) == ["a", "b"]
