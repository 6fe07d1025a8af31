"""LakeTable format: atomicity, CoW, snapshot isolation, evolution, GC."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from airbyte_spark.lake.table import CommitConflict, LakeTable

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
        num_buckets=4, cursor_col="_ab_lsn",
    )


def test_create_empty_scan(spark, table):
    df = table.scan()
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_append_and_cow_replace(spark, table):
    v2 = table.write_and_commit(
        _df(spark, [("a", 1, 1), ("b", 2, 2)]), replace_buckets=None, summary={"operation": "append"}
    )
    assert v2 == 2
    assert sorted(r.doc_id for r in table.scan().collect()) == ["a", "b"]

    # replace only the bucket containing "a"; "b" survives if other bucket
    bucket_a = table.scan().filter(F.col("doc_id") == "a").select(table.bucket_expr()).first()[0]
    bucket_b = table.scan().filter(F.col("doc_id") == "b").select(table.bucket_expr()).first()[0]
    table.write_and_commit(
        _df(spark, [("a", 10, 3)]), replace_buckets=[bucket_a], summary={"operation": "merge"}
    )
    rows = {r.doc_id: r.v for r in table.scan().collect()}
    if bucket_a != bucket_b:
        assert rows == {"a": 10, "b": 2}
    else:
        assert rows == {"a": 10}


def test_snapshot_isolation_time_travel(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    table.write_and_commit(_df(spark, [("a", 2, 2)]), replace_buckets=range(4), summary={"operation": "overwrite"})
    assert [r.v for r in table.scan(version=2).collect()] == [1]
    assert [r.v for r in table.scan().collect()] == [2]


def test_commit_conflict(spark, table):
    snap = table.snapshot()
    snap.version += 1
    table._write_snapshot(snap)
    snap2 = table.snapshot(1)
    snap2.version = snap.version
    with pytest.raises(CommitConflict):
        table._write_snapshot(snap2)


def test_find_batch(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "merge", "batch_id": "b-1"})
    assert table.find_batch("b-1") == 2
    assert table.find_batch("b-2") is None


def test_cursor_file_pruning(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 5)]), None, {"operation": "append"})
    table.write_and_commit(_df(spark, [("b", 2, 15)]), None, {"operation": "append"})
    files_all = table.snapshot().files
    assert all(f.min_cursor is not None for f in files_all)
    pruned = table.scan(min_cursor_gt=10)
    assert [r.doc_id for r in pruned.collect()] == ["b"]


def test_schema_evolution_metadata_only(spark, table):
    table.write_and_commit(_df(spark, [("a", 1, 1)]), None, {"operation": "append"})
    wide = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("v", LongType(), True),  # widened
            StructField("lang", StringType(), True),  # added
            StructField("_ab_lsn", LongType(), False),
        ]
    )
    table.commit_metadata_only({"operation": "evolve-schema"}, new_schema=wide)
    snap = table.snapshot()
    assert snap.schema_version == 2
    row = table.scan().first()
    assert row.v == 1 and row.lang is None  # old file read under new schema
    # new data written under the new schema coexists with old files
    table.write_and_commit(
        spark.createDataFrame([("b", 2**40, "en", 2)], wide), None, {"operation": "append"}
    )
    rows = {r.doc_id: (r.v, r.lang) for r in table.scan().collect()}
    assert rows == {"a": (1, None), "b": (2**40, "en")}


def test_compaction_and_orphans(spark, table):
    for i in range(3):
        table.write_and_commit(_df(spark, [("a", i, i + 1)]), None, {"operation": "append"})
    pre = len([f for f in table.snapshot().files])
    assert pre >= 3
    v = table.compact(max_files_per_bucket=1)
    assert v is not None
    per_bucket: dict[int, int] = {}
    for f in table.snapshot().files:
        per_bucket[f.bucket] = per_bucket.get(f.bucket, 0) + 1
    assert all(n == 1 for n in per_bucket.values())
    # rows preserved (latest snapshot sees all 3 rows — compaction is not dedup)
    assert table.scan().count() == 3
    assert table.expire_orphans() == 0  # everything referenced by history


def test_full_merge_files_are_bucket_pure(spark, workdir):
    """merge_upsert_full writes with pre_aligned=True (no shuffle before the
    write) — every data file must still contain ONLY rows of its manifest
    bucket, i.e. hashpartitioning(pk, B) really is the bucket function."""
    import os

    from pyspark.sql import functions as F

    from airbyte_spark.changelog import ChangelogConfig, seed_df, write_changelog
    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.engine import CdcEngine

    cfg = ChangelogConfig(n_events=800, n_seed_docs=150)
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        # one 800-event batch on 150 rows takes the single-action full merge
        EngineConfig(batch_events=800),
    )
    eng.create_table()
    eng.bootstrap(seed_df(spark, cfg))
    clpath = os.path.join(workdir, "cl")
    write_changelog(spark, cfg, clpath)
    eng.replay(clpath)
    t = eng.table
    assert any(
        s.summary.get("operation") == "merge-full" for s in t.history()
    ), "full-merge path not taken"
    for f in t.snapshot().files:
        df = spark.read.parquet(os.path.join(t.root, f.path))
        bad = df.filter(
            F.pmod(F.hash(F.col("doc_id")), F.lit(8)).cast("int") != F.lit(f.bucket)
        ).count()
        assert bad == 0, f"file {f.path} has {bad} rows outside bucket {f.bucket}"


def test_manifest_parent_reference_for_pure_appends(spark, workdir):
    """Pure-append commits on a many-file table must NOT re-list every file
    in the snapshot JSON: they reference the parent manifest + additions,
    and resolution reproduces the exact file list."""
    import json
    import os

    from pyspark.sql import functions as F

    from airbyte_spark.lake.table import MANIFEST_REF_MIN, LakeTable
    from airbyte_spark.schemas import tokenseq_schema

    root = os.path.join(workdir, "t")
    t = LakeTable.create(
        spark, root, tokenseq_schema(), primary_key="doc_id",
        num_buckets=MANIFEST_REF_MIN, cursor_col="_ab_lsn",
    )
    df = spark.range(2000).select(
        F.format_string("doc%06d", F.col("id")).alias("doc_id"),
        F.array(F.lit(1)).alias("tokens"),
        F.lit(1).alias("n_tok"),
        F.lit("s").alias("source"),
        F.col("id").alias("_ab_lsn"),
        F.current_timestamp().alias("_ab_extracted_at"),
        F.lit("r").alias("_ab_raw_id"),
        F.lit(None).cast("timestamp").alias("_ab_cdc_deleted_at"),
        F.lit(None).cast("struct<errors:array<string>>").alias("_ab_meta"),
    )
    v2 = t.write_and_commit(df, replace_buckets=None, summary={"operation": "seed"})
    assert len(t.snapshot(v2).files) >= MANIFEST_REF_MIN

    small = df.limit(50)
    v3 = t.append_delta(small, summary={"operation": "d1"}, num_files=2)
    v4 = t.append_delta(small, summary={"operation": "d2"}, num_files=2)
    for v in (v3, v4):
        with open(os.path.join(root, "snapshots", f"v{v:08d}.json")) as fh:
            doc = json.load(fh)
        assert doc["files_parent"] == v - 1
        assert len(doc["files_add"]) == 2
        assert "files" not in doc
    # resolution (fresh instance, empty cache) reproduces the full list
    t2 = LakeTable.load(spark, root)
    assert [f.path for f in t2.snapshot(v4).files] == [
        f.path for f in t.snapshot(v4).files
    ]
    assert t2.delta_file_count(v4) == 4
    # a dropping commit (fold) re-inlines and resets the chain
    v5 = t2.compact()
    with open(os.path.join(root, "snapshots", f"v{v5:08d}.json")) as fh:
        doc5 = json.load(fh)
    assert "files_parent" not in doc5 and "files" in doc5


def test_append_rebase_on_commit_race(spark, table):
    """Iceberg fast-append retry semantics: an append that loses the CAS
    race rebases onto the winner and commits — both writers' rows land,
    no file is lost or overwritten (data files carry a commit-unique
    token, so two same-version writers can never clobber each other)."""
    base = table.snapshot()  # stale base held by the "slow" writer
    # winner commits first
    table.write_and_commit(
        _df(spark, [("a", 1, 1)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    # loser: files written against the stale base, then rebase-commit
    files, _ = table._write_files(
        _df(spark, [("b", 2, 2)]), base.spec, base.version + 1, base.schema_version, delta=True
    )
    v = table._commit_with_rebase(
        base, set(), files, {"operation": "merge-delta", "batch_id": "race-loser"},
        "delta-append",
    )
    assert v == 3  # rebased onto the winner (v2), committed as v3
    rows = {r.doc_id: r.v for r in table.scan().collect()}
    assert rows == {"a": 1, "b": 2}
    assert table.find_batch("race-loser") == 3


def test_append_rebase_refused_across_purge(spark, table):
    """A purge between base and retry makes rebase unsafe (resurrection
    risk): the conflict propagates instead of silently committing."""
    table.write_and_commit(
        _df(spark, [("a", 1, 1), ("b", 2, 2)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    base = table.snapshot()
    table.purge_keys(["a"])
    files, _ = table._write_files(
        _df(spark, [("c", 3, 3)]), base.spec, base.version + 1, base.schema_version, delta=True
    )
    with pytest.raises(CommitConflict):
        table._commit_with_rebase(
            base, set(), files, {"operation": "merge-delta", "batch_id": "x"},
            "delta-append",
        )


def test_concurrent_appends_both_land(spark, table):
    """Two threads appending concurrently through the public API: whatever
    the interleaving, both commits land exactly once."""
    import threading

    errs = []

    def appender(key, lsn):
        try:
            t = LakeTable.load(spark, table.root)  # own handle, like a 2nd process
            t.write_and_commit(
                _df(spark, [(key, lsn, lsn)]), replace_buckets=None,
                summary={"operation": "append", "batch_id": f"t-{key}"},
            )
        except Exception as e:  # surfaced below
            errs.append(e)

    th = [
        threading.Thread(target=appender, args=("x", 10)),
        threading.Thread(target=appender, args=("y", 11)),
    ]
    [t.start() for t in th]
    [t.join() for t in th]
    assert not errs, errs
    fresh = LakeTable.load(spark, table.root)
    rows = sorted(r.doc_id for r in fresh.scan().collect())
    assert rows == ["x", "y"]
    assert fresh.current_version() == 3  # create + two appends


def test_time_travel_by_timestamp(spark, table):
    """Iceberg TIMESTAMP AS OF: version_as_of resolves the latest commit at
    or before a wall-clock instant; reads match version-based travel."""
    import time as _time

    table.write_and_commit(
        _df(spark, [("a", 1, 1)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    t_mid = int(_time.time() * 1000)
    _time.sleep(0.05)
    table.write_and_commit(
        _df(spark, [("b", 2, 2)]), replace_buckets=None,
        summary={"operation": "append"},
    )
    v_mid = table.version_as_of(t_mid)
    assert v_mid == 2  # create=1, first append=2
    assert sorted(r.doc_id for r in table.scan(version=v_mid).collect()) == ["a"]
    now = int(_time.time() * 1000)
    assert table.version_as_of(now) == table.current_version()
    with pytest.raises(ValueError):
        # before the table existed
        table.version_as_of(0)


def test_data_files_pk_clustered(spark, table, workdir):
    """Every data file's rows are sorted by the primary key (the table
    sort order), so parquet row-group min/max stats can skip groups for
    pushed point-lookup predicates."""
    import pyarrow.parquet as pq

    rows = [(f"doc{i:04d}", i, i) for i in range(400)]
    import random

    random.Random(3).shuffle(rows)
    table.write_and_commit(
        _df(spark, rows), replace_buckets=None, summary={"operation": "append"}
    )
    snap = table.snapshot()
    assert snap.files
    for f in snap.files:
        col = pq.read_table(
            os.path.join(table.root, f.path), columns=["doc_id"]
        )["doc_id"].to_pylist()
        assert col == sorted(col), f.path


# every writer that ends in _write_files + _commit
_FAILED_CAS_WRITERS = {
    "cow": lambda t, spark: t.write_and_commit(
        _df(spark, [("a", 9, 9)]), [0], {"operation": "merge"}
    ),
    "append": lambda t, spark: t.write_and_commit(
        _df(spark, [("c", 9, 9)]), None, {"operation": "append"}
    ),
    "append_delta": lambda t, spark: t.append_delta(
        _df(spark, [("a", 9, 9)]), {"operation": "merge-delta"}
    ),
    "purge": lambda t, spark: t.purge_keys(["a"]),
    "compact": lambda t, spark: t.compact(),
}


@pytest.mark.parametrize("writer", sorted(_FAILED_CAS_WRITERS))
def test_failed_cas_leaves_table_unchanged(spark, workdir, monkeypatch, writer):
    """A commit that fails after its data files moved (the CAS write
    raises) leaves the table exactly as it was: same head, same rows, no
    staging directory, and only the call's own files as orphans. The
    retried call then commits."""
    table = LakeTable.create(
        spark, os.path.join(workdir, "t1"), SCHEMA, primary_key="doc_id",
        num_buckets=1, cursor_col="_ab_lsn",
    )
    table.write_and_commit(_df(spark, [("a", 1, 1), ("b", 2, 2)]), None, {"operation": "append"})
    # a second file in the one bucket gives compact something to rewrite
    table.write_and_commit(_df(spark, [("a", 3, 3)]), None, {"operation": "append"})
    call = _FAILED_CAS_WRITERS[writer]
    head = table.current_version()
    rows = sorted(table.scan().collect())
    data_dir = os.path.join(table.root, "data")
    files_before = set(os.listdir(data_dir))

    def failing_write(self, snap, parent=None):
        raise OSError("disk full")

    monkeypatch.setattr(LakeTable, "_write_snapshot", failing_write)
    with pytest.raises(OSError):
        call(table, spark)
    monkeypatch.undo()

    assert table.current_version() == head
    assert sorted(table.scan().collect()) == rows
    assert not [e for e in os.listdir(table.root) if e.startswith("_staging-")]
    moved = set(os.listdir(data_dir)) - files_before
    assert moved
    assert table.expire_orphans() == len(moved)
    assert call(table, spark) == head + 1
