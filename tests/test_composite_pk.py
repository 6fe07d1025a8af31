"""Composite primary keys (protocol list-of-paths PK): the engine
synthesizes ONE md5(to_json(struct)) key column at ingest and every
downstream stage (bucketing, LWW dedup, merge, delete, resume) keys on it.
Golden = pure-pandas last-writer-wins over the natural key tuple."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from airbyte_spark import schemas as S
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine

CL_SCHEMA = StructType(
    [
        StructField("op", StringType(), False),
        StructField("k1", StringType(), True),
        StructField("k2", LongType(), True),
        StructField("lsn", LongType(), False),
        StructField("ts_ms", LongType(), False),
        StructField("source_partition", LongType(), False),
        StructField("score", DoubleType(), True),
    ]
)

TABLE_SCHEMA = StructType(
    [
        StructField("k1", StringType(), True),
        StructField("k2", LongType(), True),
        StructField("score", DoubleType(), True),
        StructField(S.COL_LSN, LongType(), False),
        *[f for f in S.tokenseq_schema().fields if f.name in S.ENGINE_COLS[1:]],
    ]
)


def _changelog(n=400, keys=60):
    """I/U/D events over (k1, k2) pairs; k1 collides across k2 so a
    single-column key would be WRONG (distinct rows share k1)."""
    rows = []
    for i in range(n):
        pair = i % keys
        k1, k2 = f"g{pair % 10}", pair // 10  # 10 k1 values x 6 k2 values
        op = "D" if i % 17 == 0 else ("U" if i % 3 else "I")
        rows.append((op, k1, k2, i + 1, 1000 + i, i % 4, float(i)))
    return rows


def _golden(rows):
    """Last writer per (k1, k2); deletes drop the key."""
    last = {}
    for op, k1, k2, lsn, ts, part, score in sorted(rows, key=lambda r: r[3]):
        if op == "D":
            last[(k1, k2)] = None
        else:
            last[(k1, k2)] = score
    return {k: v for k, v in last.items() if v is not None}


def _engine(spark, workdir, batch_events=100):
    return CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(primary_key=("k1", "k2"), num_buckets=4),
        EngineConfig(batch_events=batch_events, validate_tokens=False),
    )


def test_composite_replay_matches_golden(spark, workdir):
    rows = _changelog()
    cl = spark.createDataFrame(rows, CL_SCHEMA)
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    eng.replay(cl)
    final = {(r["k1"], r["k2"]): r["score"] for r in eng.read_final().collect()}
    assert final == _golden(rows)
    # the synthesized key column exists, is unique, and is the table's pk
    f = eng.read_final()
    assert S.COL_COMPOSITE_PK in f.columns
    assert f.select(S.COL_COMPOSITE_PK).distinct().count() == f.count()
    assert eng.stream.primary_key == S.COL_COMPOSITE_PK


def test_composite_resume_and_idempotence(spark, workdir):
    rows = _changelog()
    cl = spark.createDataFrame(rows, CL_SCHEMA)
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    s1 = eng.replay(cl, max_batches=2)
    assert 0 < s1["events"] < len(rows)
    eng2 = _engine(spark, workdir)
    eng2.replay(cl)
    final = {(r["k1"], r["k2"]): r["score"] for r in eng2.read_final().collect()}
    assert final == _golden(rows)
    v = eng2.table.current_version()
    eng2.replay(cl)  # re-replay: nothing applies
    assert eng2.table.current_version() == v


def test_composite_seed_then_tail(spark, workdir):
    """Bootstrap seed rows get the same synthesized key, so tail updates
    and deletes hit the seeded rows."""
    from pyspark.sql import functions as F

    seed_rows = [(f"g{i % 10}", i // 10, float(-i), 0, 0, 0) for i in range(30)]
    seed = spark.createDataFrame(
        seed_rows, "k1 string, k2 long, score double, lsn long, ts_ms long, source_partition long"
    )
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    eng.bootstrap(seed)
    tail = spark.createDataFrame(
        [
            ("U", "g3", 0, 10, 1010, 0, 99.0),   # update one seeded pair
            ("D", "g4", 1, 11, 1011, 0, None),   # delete another
        ],
        CL_SCHEMA,
    )
    eng.replay(tail)
    final = {(r["k1"], r["k2"]): r["score"] for r in eng.read_final().collect()}
    assert final[("g3", 0)] == 99.0
    assert ("g4", 1) not in final
    assert len(final) == 29
    # same natural tuple -> same synthesized key in seed and tail legs
    assert eng.read_final().filter(
        (F.col("k1") == "g3") & (F.col("k2") == 0)
    ).count() == 1


def test_composite_stream_replay_matches_golden(spark, workdir):
    """Structured Streaming epochs synthesize the same key as bounded
    replay: apply_stream_epoch admits raw rows through the same step."""
    from airbyte_spark.streaming import stream_replay

    rows = _changelog()
    cl = os.path.join(workdir, "cl")
    spark.createDataFrame(rows, CL_SCHEMA).repartitionByRange(2, "lsn").write.parquet(cl)
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    stream_replay(eng, cl, os.path.join(workdir, "ss"), max_files_per_trigger=1)
    final = {(r["k1"], r["k2"]): r["score"] for r in eng.read_final().collect()}
    assert final == _golden(rows)


def test_composite_resync_staged_matches_golden(spark, workdir):
    """The engine pinned at the next generation hashes the same key
    components, so a staged rebuild of a composite-key stream lands on
    golden."""
    rows = _changelog()
    seed = spark.createDataFrame(
        [(f"g{i % 10}", i // 10, float(-i), 0, 0, 0) for i in range(30)],
        "k1 string, k2 long, score double, lsn long, ts_ms long, source_partition long",
    )
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    stats = eng.resync_staged(seed, spark.createDataFrame(rows, CL_SCHEMA))
    assert stats["generation"] == 1
    final = {(r["k1"], r["k2"]): r["score"] for r in eng.read_final().collect()}
    assert final == _golden(rows)  # every seeded pair is touched by the log


def test_single_element_tuple_normalizes(spark, workdir):
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(primary_key=("doc_id",), num_buckets=4),
        EngineConfig(validate_tokens=False),
    )
    assert eng.stream.primary_key == "doc_id"
    assert eng._pk_source_cols is None


def test_missing_component_raises(spark, workdir):
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    bad = spark.createDataFrame(
        [("I", "a", 1, 1000, 0, 1.0)],
        "op string, k1 string, lsn long, ts_ms long, source_partition long, score double",
    )
    with pytest.raises(ValueError, match="composite primary key components"):
        eng.replay(bad)


def test_null_components_stay_distinct(spark, workdir):
    """NULL key components are distinct keys, not collapsed with string
    lookalikes (to_json null-safety)."""
    rows = [
        ("I", None, 1, 1, 1000, 0, 1.0),
        ("I", "None", 1, 2, 1001, 0, 2.0),
        ("I", None, None, 3, 1002, 0, 3.0),
    ]
    cl = spark.createDataFrame(rows, CL_SCHEMA)
    eng = _engine(spark, workdir)
    eng.create_table(TABLE_SCHEMA)
    eng.replay(cl)
    assert eng.read_final().count() == 3
