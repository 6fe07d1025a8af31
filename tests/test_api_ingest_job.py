"""API-ingest job (jobs/api_ingest_job.py): manifest streams → lake tables
with exactly-once upsert and resumable state, all offline.

Scenarios: two-sync incremental upsert (LWW latest per pk, boundary
redelivery absorbed), crash-between-commit-and-checkpoint resume
(idempotent window skip), and full-refresh overwrite."""

from __future__ import annotations

import os

from jobs.api_ingest_job import ApiIngestJob
from tests.test_declarative_source import RoutedTransport

MANIFEST = {
    "spec": {"required": [], "properties": {}},
    "streams": [
        {
            "name": "items",
            "url": "https://api.test/items",
            "primary_key": "id",
            "records_field": "data",
            "paginator": {"kind": "offset", "param": "offset", "page_size": 100},
            "incremental": {"type": "cursor", "cursor_field": "ts",
                            "cursor_param": "since"},
            "schema": {"id": "bigint", "ts": "double", "v": "string"},
        },
        {
            "name": "dims",
            "url": "https://api.test/dims",
            "primary_key": "code",
            "records_field": "data",
            "paginator": {"kind": "offset", "param": "offset", "page_size": 100},
            "schema": {"code": "string", "label": "string"},
        },
    ],
}

SYNC1_ITEMS = (200, {"data": [
    {"id": 1, "ts": 10.0, "v": "a1"},
    {"id": 2, "ts": 11.0, "v": "b1"},
    {"id": 3, "ts": 12.0, "v": "c1"},
]})
# second window: boundary record id=3 redelivered (inclusive cursor) plus an
# update to id=1 and a brand-new id=4
SYNC2_ITEMS = (200, {"data": [
    {"id": 3, "ts": 12.0, "v": "c1"},
    {"id": 1, "ts": 20.0, "v": "a2"},
    {"id": 4, "ts": 21.0, "v": "d1"},
]})
DIMS = (200, {"data": [{"code": "x", "label": "X"}, {"code": "y", "label": "Y"}]})
DIMS2 = (200, {"data": [{"code": "x", "label": "X2"}]})


def test_incremental_two_syncs_lww_and_state(spark, tmp_path):
    t = RoutedTransport({
        "https://api.test/items": [SYNC1_ITEMS, SYNC2_ITEMS],
        "https://api.test/dims": [DIMS, DIMS2],
    })
    job = ApiIngestJob(spark, MANIFEST, {}, str(tmp_path / "lake"), t, num_buckets=4)
    r1 = job.sync()
    assert [x["applied"] for x in r1] == [3, 2]
    assert job.load_state()["items"] == 12.0
    r2 = job.sync()
    items = {x["stream"]: x for x in r2}
    assert items["items"]["applied"] == 3  # redelivery + update + insert
    assert job.load_state()["items"] == 21.0
    # cursor param was injected on the second call
    calls = [c for c in t.calls if c["url"].endswith("/items")]
    assert "since" not in calls[0]["params"] and calls[1]["params"]["since"] == 12.0
    final = {r.id: r for r in job.read_final("items").collect()}
    assert {i: final[i].v for i in sorted(final)} == {1: "a2", 2: "b1", 3: "c1", 4: "d1"}
    assert final[1]._ab_lsn == 20000
    # full refresh overwrote: only the second payload remains
    dims = {r.code: r.label for r in job.read_final("dims").collect()}
    assert dims == {"x": "X2"}


def test_crash_between_commit_and_checkpoint_is_idempotent(spark, tmp_path):
    t = RoutedTransport({
        "https://api.test/items": [SYNC1_ITEMS, SYNC1_ITEMS],
        "https://api.test/dims": [DIMS, DIMS],
    })
    root = str(tmp_path / "lake")
    job = ApiIngestJob(spark, MANIFEST, {}, root, t, num_buckets=4)
    job.sync()
    v_before = [s.version for s in _table(job, "items").history()]
    # simulate the crash: commit durable, checkpoint lost
    os.remove(job.state_path)
    job2 = ApiIngestJob(spark, MANIFEST, {}, root, t, num_buckets=4)
    out = {x["stream"]: x for x in job2.sync()}
    assert out["items"]["skipped"] is True  # same window -> batch-id skip
    assert [s.version for s in _table(job2, "items").history()] == v_before
    assert job2.load_state()["items"] == 12.0  # checkpoint restored
    final = {r.id: r.v for r in job2.read_final("items").collect()}
    assert final == {1: "a1", 2: "b1", 3: "c1"}


def _table(job, name):
    from airbyte_spark.lake.table import LakeTable

    return LakeTable.load(job.spark, os.path.join(job.root, "tables", name))


def test_full_refresh_replaces_every_bucket_of_the_table(spark, tmp_path):
    """A full refresh replaces the TABLE's buckets, not the job's count: a
    table created at 8 buckets keeps no row in buckets >= 2 when a job
    configured for 2 buckets refreshes it."""
    root = str(tmp_path / "lake")
    big = (200, {"data": [{"code": f"c{i:02d}", "label": "old"} for i in range(40)]})
    first = ApiIngestJob(
        spark, MANIFEST, {}, root, RoutedTransport({"https://api.test/dims": [big]}),
        num_buckets=8,
    )
    first.sync(streams=["dims"])
    assert max(f.bucket for f in _table(first, "dims").snapshot().files) >= 2
    job = ApiIngestJob(
        spark, MANIFEST, {}, root, RoutedTransport({"https://api.test/dims": [DIMS2]}),
        num_buckets=2,
    )
    job.sync(streams=["dims"])
    assert {r.code: r.label for r in job.read_final("dims").collect()} == {"x": "X2"}
