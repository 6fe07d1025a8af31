"""Wire-format CDC tail job (jobs/cdc_tail_job.py): Kafka-dump JSONL of
Debezium envelopes -> decode -> quarantine split -> engine replay must land
on the same final table as replaying the typed changelog directly, resume
idempotently, and bank undecodable lines."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from airbyte_spark.changelog import ChangelogConfig, changelog_df
from airbyte_spark.checkpoint import Checkpoint
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine

from jobs.cdc_tail_job import build_parser, run

CFG = ChangelogConfig(n_events=600, n_seed_docs=120, dup_pct=2.0)
PAYLOAD_DDL = "doc_id string, tokens array<int>, n_tok int, source string"


def _wire_df(spark):
    """Render the synthetic changelog as Debezium-postgres wire lines."""
    cl = changelog_df(spark, CFG)
    op_raw = F.when(F.col("op") == "I", "c").when(F.col("op") == "U", "u").otherwise("d")
    after = F.struct("doc_id", "tokens", "n_tok", "source")
    pk_only = F.struct(
        F.col("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
    )
    env = F.struct(
        F.when(F.col("op") == "D", pk_only).alias("before"),
        F.when(F.col("op") != "D", after).alias("after"),
        F.struct(F.col("ts_ms"), F.col("lsn")).alias("source"),
        op_raw.alias("op"),
        (F.col("ts_ms") + 5).alias("ts_ms"),
    )
    return cl.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    )


def _args(workdir, **over):
    base = dict(
        lake=os.path.join(workdir, "lake"),
        wire=os.path.join(workdir, "wire"),
        connector="postgres",
        payload_ddl=PAYLOAD_DDL,
        batch_events=200,
        num_buckets=8,
        validate_tokens=True,
    )
    base.update(over)
    argv = []
    for k, v in base.items():
        if v is True:
            argv.append(f"--{k.replace('_', '-')}")
        elif v is not None and v is not False:
            argv += [f"--{k.replace('_', '-')}", str(v)]
    return build_parser().parse_args(argv)


def test_tail_job_matches_direct_replay(spark, workdir):
    wire_path = os.path.join(workdir, "wire")
    _wire_df(spark).write.mode("overwrite").json(wire_path)
    # one undecodable line in the dump
    with open(os.path.join(wire_path, "junk.json"), "w") as f:
        f.write(json.dumps({"value": "{not an envelope", "partition": 0}) + "\n")

    args = _args(workdir)
    stats = run(spark, args)
    assert stats["quarantined"] == 1
    assert stats["events"] == CFG.n_events

    # direct replay of the typed changelog on an identical fresh table
    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(changelog_df(spark, CFG))

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    a = sorted(
        (r["doc_id"], r["_ab_lsn"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["_ab_lsn"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0

    # quarantine banked the bad line
    q = spark.read.parquet(os.path.join(workdir, "lake", "_quarantine"))
    assert q.count() == 1

    # resubmit: checkpointed ranges skip, table unchanged
    v = job_eng.table.current_version()
    stats2 = run(spark, args)
    assert stats2["events"] == 0
    assert job_eng.table.current_version() == v


def test_tail_job_wal2json_wire(spark, workdir):
    """wal2json dump: transaction envelopes decode, replay with the
    default commit-aligned windows (no txn splits across commits), and
    land on the same winners as a direct replay of the typed changelog."""
    from tests.test_wal2json import _encode_changelog_as_wal2json

    cl = changelog_df(spark, CFG)
    feed, _ = _encode_changelog_as_wal2json(cl)
    wire_path = os.path.join(workdir, "wire")
    feed.select(
        "value", F.lit(None).cast("string").alias("key"),
        F.col("part").cast("long").alias("partition"),
    ).write.mode("overwrite").json(wire_path)

    args = _args(workdir, connector="wal2json", batch_events=150)
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    # commit-aligned by default for wal2json: every merge boundary sits on
    # a commit boundary (except the stream's final statement)
    merges = [
        s for s in job_eng.table.history()
        if s.summary.get("operation", "").startswith("merge")
    ]
    assert len(merges) >= 2
    last_hi = max(int(s.summary["end_lsn"]) for s in merges)
    for s in merges:
        hi = int(s.summary["end_lsn"])
        assert (hi + 1) % (1 << 16) == 0 or hi == last_hi, hi

    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl)
    # LSNs are remapped by the wal2json packing; winners' payloads match
    a = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0


def test_tail_job_maxwell_wire(spark, workdir):
    """Maxwell dump: row envelopes with in-band txn framing (xoffset rows +
    commit:true row) decode, replay with the default commit-aligned windows
    (no txn splits), and land on the same winners as direct replay."""
    cl = changelog_df(spark, CFG)
    # 3-statement transactions: xid = lsn div 3; the last statement of each
    # txn is the commit row (no xoffset), the others carry xoffset 0/1
    sub = F.col("lsn") % 3
    env = F.struct(
        F.lit("app").alias("database"),
        F.lit("tokenseq").alias("table"),
        F.when(F.col("op") == "I", "insert")
        .when(F.col("op") == "U", "update")
        .otherwise("delete")
        .alias("type"),
        F.expr("ts_ms div 1000").alias("ts"),
        F.expr("lsn div 3").alias("xid"),
        F.when(sub < 2, sub.cast("long")).alias("xoffset"),
        F.when(sub == 2, F.lit(True)).alias("commit"),
        F.struct("doc_id", "tokens", "n_tok", "source").alias("data"),
    )
    cl.select(
        F.to_json(env).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    ).write.mode("overwrite").json(os.path.join(workdir, "wire"))

    args = _args(workdir, connector="maxwell", batch_events=150)
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    # commit-aligned by default for maxwell (lsn_align_bits=16): every merge
    # boundary sits on a commit row (suborder 0xffff) except the final one
    merges = [
        s for s in job_eng.table.history()
        if s.summary.get("operation", "").startswith("merge")
    ]
    assert len(merges) >= 2
    last_hi = max(int(s.summary["end_lsn"]) for s in merges)
    for s in merges:
        hi = int(s.summary["end_lsn"])
        assert (hi + 1) % (1 << 16) == 0 or hi == last_hi, hi

    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl)
    a = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0


def test_tail_job_canal_wire(spark, workdir):
    """Canal flatMessage dump: string-serialized row images (one envelope
    per statement — canal batches rows of ONE statement, so single-row
    ``data`` arrays are the wire-faithful rendering of independent
    changelog events; multi-row batching is covered in test_canal.py),
    an in-band DDL envelope split off (not quarantined), one junk line
    quarantined, and the replay lands on the same winners as direct
    replay of the typed changelog."""
    cl = changelog_df(spark, CFG)
    row = F.create_map(
        F.lit("doc_id"), F.col("doc_id"),
        F.lit("tokens"), F.to_json("tokens"),
        F.lit("n_tok"), F.col("n_tok").cast("string"),
        F.lit("source"), F.col("source"),
    )
    env = F.struct(
        F.col("lsn").alias("id"),
        F.lit("app").alias("database"),
        F.lit("tokenseq").alias("table"),
        F.lit(False).alias("isDdl"),
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .otherwise("DELETE")
        .alias("type"),
        F.col("ts_ms").alias("es"),
        (F.col("ts_ms") + 5).alias("ts"),
        F.array(row).alias("data"),
    )
    wire_path = os.path.join(workdir, "wire")
    cl.select(
        F.to_json(env).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    ).write.mode("overwrite").json(wire_path)
    with open(os.path.join(wire_path, "extra.json"), "w") as f:
        ddl = {"id": 1, "database": "app", "table": "tokenseq",
               "isDdl": True, "type": "ALTER", "es": 1, "ts": 1,
               "sql": "ALTER TABLE tokenseq ADD COLUMN x INT"}
        f.write(json.dumps({"value": json.dumps(ddl), "partition": 0}) + "\n")
        f.write(json.dumps({"value": "{not an envelope", "partition": 0}) + "\n")

    args = _args(workdir, connector="canal", batch_events=150)
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events
    assert stats["quarantined"] == 1  # the junk line; DDL was split off

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl)
    a = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0


def test_tail_job_dms_wire(spark, workdir):
    """AWS DMS dump: typed data payloads with ISO-microsecond commit-time
    ordering (timestamp derived from the changelog lsn so the total order
    survives the render->parse round trip), a control record and a junk
    line quarantined, and the replay lands on the same winners as direct
    replay of the typed changelog."""
    cl = changelog_df(spark, CFG)
    iso = F.date_format(
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + F.col("lsn")),
        "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'",
    )
    env = F.struct(
        F.struct("doc_id", "tokens", "n_tok", "source").alias("data"),
        F.struct(
            iso.alias("timestamp"),
            F.lit("data").alias("record-type"),
            F.when(F.col("op") == "I", "insert")
            .when(F.col("op") == "U", "update")
            .otherwise("delete")
            .alias("operation"),
            F.lit("schema-table").alias("partition-key-type"),
            F.lit("app").alias("schema-name"),
            F.lit("tokenseq").alias("table-name"),
            F.col("lsn").alias("transaction-id"),
        ).alias("metadata"),
    )
    wire_path = os.path.join(workdir, "wire")
    cl.select(
        F.to_json(env).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    ).write.mode("overwrite").json(wire_path)
    with open(os.path.join(wire_path, "extra.json"), "w") as f:
        ctl = {"data": None,
               "metadata": {"timestamp": "2024-01-01T00:00:00.000000Z",
                            "record-type": "control",
                            "operation": "create-table",
                            "schema-name": "app", "table-name": "tokenseq"}}
        f.write(json.dumps({"value": json.dumps(ctl), "partition": 0}) + "\n")
        f.write(json.dumps({"value": "{not an envelope", "partition": 0}) + "\n")

    args = _args(workdir, connector="dms", batch_events=150)
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events
    assert stats["quarantined"] == 2  # control record + junk line

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl)
    a = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0


def test_tail_job_mongo_patch_wire(spark, workdir):
    """Mongo change-stream dump without full-document lookup: the job's
    --connector mongo --update-mode patch path folds updateDescription
    envelopes and recovers ids from keys."""

    def env(op, after=None, upd=None, removed=None, sec=100, ord_=1, key_id=None):
        e = {
            "before": None,
            "after": json.dumps(after) if after is not None else None,
            "source": {"ts_ms": sec * 1000, "sec": sec, "ord": ord_},
            "op": op,
            "ts_ms": sec * 1000 + 5,
        }
        if upd is not None or removed is not None:
            e["updateDescription"] = {
                "updatedFields": json.dumps(upd) if upd is not None else None,
                "removedFields": removed,
            }
        return {
            "value": json.dumps(e),
            "key": json.dumps({"id": key_id}) if key_id else None,
            "partition": 0,
        }

    lines = [
        env("i", after={"_id": "a", "name": "x", "score": 1.0}, sec=100, ord_=1),
        env("i", after={"_id": "b", "name": "y", "score": 2.0}, sec=100, ord_=2),
        env("u", upd={"score": 9.0}, removed=["name"], key_id="a", sec=101, ord_=1),
        env("d", key_id="b", sec=101, ord_=2),
    ]
    wire_path = os.path.join(workdir, "wire")
    os.makedirs(wire_path)
    with open(os.path.join(wire_path, "part-0.json"), "w") as f:
        for ln in lines:
            f.write(json.dumps(ln) + "\n")

    args = _args(
        workdir,
        connector="mongo",
        update_mode="patch",
        payload_ddl="doc_id string, name string, score double",
        batch_events=10,
        validate_tokens=False,
    )
    stats = run(spark, args)
    assert stats["quarantined"] == 0 and stats["final_rows"] == 1

    eng = CdcEngine(
        spark,
        args.lake,
        StreamConfig(num_buckets=8, update_mode="patch"),
        EngineConfig(),
    )
    (row,) = eng.read_final().collect()
    assert row["doc_id"] == "a"
    assert row["score"] == 9.0 and row["name"] is None  # removedFields null


def test_sparse_lsn_windows_quantile_batching(spark, workdir):
    """BsonTimestamp-style sparse LSNs (sec*2^32+ord): the window planner
    must window by event-count quantiles — bounded batches, exact
    golden-by-construction final state, resume across the sparse space —
    while dense LSNs keep the arithmetic split at no extra Spark job."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    rows = []
    for i in range(300):
        lsn = (100 + i) * (1 << 32) + (i % 7)
        op = "U" if i % 3 else "I"
        rows.append((op, f"d{i % 50}", lsn, lsn >> 32, 0, f"n{i}", float(i)))
    schema = StructType(
        [
            StructField("op", StringType(), False),
            StructField("doc_id", StringType(), False),
            StructField("lsn", LongType(), False),
            StructField("ts_ms", LongType(), False),
            StructField("source_partition", LongType(), False),
            StructField("name", StringType(), True),
            StructField("score", DoubleType(), True),
        ]
    )
    cl = spark.createDataFrame(rows, schema)

    from airbyte_spark import schemas as S

    table_schema = StructType(
        [
            StructField("doc_id", StringType(), False),
            StructField("name", StringType(), True),
            StructField("score", DoubleType(), True),
            StructField(S.COL_LSN, LongType(), False),
            *[f for f in S.tokenseq_schema().fields if f.name in S.ENGINE_COLS[1:]],
        ]
    )
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=4),
        EngineConfig(batch_events=100, validate_tokens=False),
    )
    eng.create_table(table_schema)

    state = os.path.join(workdir, "plan_state.json")
    bounds, n, _ = eng._plan_windows(cl, Checkpoint(), state, 100)
    assert n == 300 and 2 <= len(bounds) <= 5
    assert bounds[-1] == rows[-1][2] and bounds == sorted(bounds)

    # interrupted replay + fresh-engine resume across the sparse space
    stats1 = eng.replay(cl, max_batches=1)
    assert 0 < stats1["events"] < 300
    eng2 = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=4),
        EngineConfig(batch_events=100, validate_tokens=False),
    )
    stats2 = eng2.replay(cl)
    assert stats1["events"] + stats2["events"] == 300

    final = {r["doc_id"]: r for r in eng2.read_final().collect()}
    assert len(final) == 50
    # per-key winner = highest lsn = highest i for that key
    for kid in (0, 7, 49):
        i = 250 + kid  # last i with i % 50 == kid
        assert final[f"d{kid}"]["score"] == float(i)

    # dense LSNs keep the arithmetic split: no Spark job past the probe,
    # the same jobs as planning all 1000 events as one window
    dense = spark.range(1, 1001).select(F.col("id").alias("lsn"))
    sc = spark.sparkContext

    def plan_jobs(batch_events):
        group = f"plan-{batch_events}"
        sc.setJobGroup(group, "window planning")
        try:
            planned = eng._plan_windows(dense, Checkpoint(), state, batch_events)
        finally:
            sc.setJobGroup(None, None)
        return planned, len(sc.statusTracker().getJobIdsForGroup(group))

    (dense_bounds, dense_n, _), split_jobs = plan_jobs(100)
    (one_window, _, _), probe_jobs = plan_jobs(1000)
    assert dense_n == 1000 and dense_bounds == [100 * i for i in range(1, 11)]
    assert one_window == [1000] and split_jobs == probe_jobs


def test_tail_job_streaming_wal2json(spark, workdir):
    """--streaming --connector wal2json: the transaction-envelope decode
    (posexplode + map_from_arrays) is stream-legal; epochs drain through
    foreachBatch and land on the same winners as the bounded run."""
    from tests.test_wal2json import _encode_changelog_as_wal2json

    cl = changelog_df(spark, CFG)
    feed, _ = _encode_changelog_as_wal2json(cl)
    wire_path = os.path.join(workdir, "wire")
    feed.select(
        "value", F.lit(None).cast("string").alias("key"),
        F.col("part").cast("long").alias("partition"),
    ).repartition(3).write.mode("overwrite").json(wire_path)

    args = _args(
        workdir, connector="wal2json", streaming=True,
        ss_checkpoint=os.path.join(workdir, "ss"),
    )
    stats = run(spark, args)
    assert stats["rows_applied"] > 0

    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl)
    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    a = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0

    stats2 = run(spark, args)  # SS-checkpoint resume applies nothing
    assert stats2["rows_applied"] == 0


def test_tail_job_streaming_wire(spark, workdir):
    """--streaming: the decoded wire stream drains through foreachBatch
    epochs (stream_replay_df) — same final table as the bounded run,
    per-epoch quarantine, and SS-checkpoint resume applies nothing."""
    wire_path = os.path.join(workdir, "wire")
    _wire_df(spark).repartition(4).write.mode("overwrite").json(wire_path)
    with open(os.path.join(wire_path, "junk.json"), "w") as f:
        f.write(json.dumps({"value": "{not an envelope", "partition": 0}) + "\n")

    args = _args(
        workdir, streaming=True, ss_checkpoint=os.path.join(workdir, "ss")
    )
    stats = run(spark, args)
    assert stats["quarantined"] == 1
    assert stats["rows_applied"] > 0

    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(changelog_df(spark, CFG))

    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    a = sorted(
        (r["doc_id"], r["_ab_lsn"], r["tokens"], r["n_tok"], r["source"])
        for r in job_eng.read_final().collect()
    )
    b = sorted(
        (r["doc_id"], r["_ab_lsn"], r["tokens"], r["n_tok"], r["source"])
        for r in ref.read_final().collect()
    )
    assert a == b and len(a) > 0

    # quarantine banked exactly once, under its epoch directory
    q = spark.read.parquet(os.path.join(workdir, "lake", "_quarantine"))
    assert q.count() == 1

    # resume from the SS checkpoint: no new files -> nothing applied
    v = job_eng.table.current_version()
    stats2 = run(spark, args)
    assert stats2["rows_applied"] == 0
    assert job_eng.table.current_version() == v


def test_tail_job_txn_markers_gate(spark, workdir):
    """--txn-markers: only transactions confirmed complete by the metadata
    topic replay; the tail transaction (END withheld) stays pending and its
    events never reach the table."""
    import json as _json

    cl = changelog_df(spark, CFG)
    txn = F.expr("lsn div 3")
    op_raw = (
        F.when(F.col("op") == "I", "c").when(F.col("op") == "U", "u").otherwise("d")
    )
    after = F.struct("doc_id", "tokens", "n_tok", "source")
    pk_only = F.struct(
        F.col("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
    )
    env = F.struct(
        F.when(F.col("op") == "D", pk_only).alias("before"),
        F.when(F.col("op") != "D", after).alias("after"),
        F.struct(F.col("ts_ms"), F.col("lsn")).alias("source"),
        op_raw.alias("op"),
        (F.col("ts_ms") + 5).alias("ts_ms"),
        F.struct(
            F.concat(F.lit("tx"), txn).alias("id"),
            (F.col("lsn") % 3 + 1).alias("total_order"),
            (F.col("lsn") % 3 + 1).alias("data_collection_order"),
        ).alias("transaction"),
    )
    cl.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    ).write.mode("overwrite").json(os.path.join(workdir, "wire"))

    # marker topic: BEGIN+END per txn, but withhold the LAST txn's END
    counts = cl.groupBy(txn.alias("t")).count().collect()
    t_max = max(r["t"] for r in counts)
    lines = []
    for r in counts:
        lines.append(_json.dumps({"status": "BEGIN", "id": f"tx{r['t']}", "ts_ms": 1}))
        if r["t"] != t_max:
            lines.append(_json.dumps(
                {"status": "END", "id": f"tx{r['t']}",
                 "event_count": r["count"], "ts_ms": 2}))
    spark.createDataFrame(
        [(l, None, 0) for l in lines],
        "value string, key string, partition long",
    ).write.mode("overwrite").json(os.path.join(workdir, "markers"))

    args = _args(workdir, txn_markers=os.path.join(workdir, "markers"))
    stats = run(spark, args)
    n_last = next(r["count"] for r in counts if r["t"] == t_max)
    assert stats["txn_pending"] == n_last
    assert stats["events"] == CFG.n_events - n_last

    # equals a direct replay of exactly the complete transactions
    ref = CdcEngine(
        spark,
        os.path.join(workdir, "lake_ref"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=200),
    )
    ref.create_table()
    ref.replay(cl.filter(txn != t_max))
    job_eng = CdcEngine(
        spark, args.lake, StreamConfig(num_buckets=8), EngineConfig()
    )
    a = sorted(map(tuple, job_eng.read_final().drop("_ab_meta").collect()))
    b = sorted(map(tuple, ref.read_final().drop("_ab_meta").collect()))
    assert a == b and len(a) > 0


def test_tail_job_token_append_mode(spark, workdir):
    """--update-mode token_append over a Maxwell-shaped doc-growth wire:
    I rows carry the full image, U rows carry only the appended token
    suffix; the job lands on the reference fold of the same events."""
    rows = []
    lsn = 1
    for d in range(12):
        doc = f"doc{d:03d}"
        rows.append(("insert", doc, lsn, [d, d + 1], "web")); lsn += 1
        for j in range(d % 3 + 1):
            rows.append(("update", doc, lsn, [50 + j], None)); lsn += 1
        if d % 5 == 4:
            rows.append(("delete", doc, lsn, None, None)); lsn += 1
    wire_path = os.path.join(workdir, "wire")
    os.makedirs(wire_path, exist_ok=True)
    with open(os.path.join(wire_path, "w.json"), "w") as f:
        for typ, doc, lsn_, toks, src in rows:
            data = {"doc_id": doc}
            if toks is not None:
                data["tokens"] = toks
                data["n_tok"] = len(toks)
            if src is not None:
                data["source"] = src
            env = {"database": "app", "table": "tokenseq", "type": typ,
                   "ts": 100 + lsn_, "xid": lsn_, "commit": True,
                   "data": data}
            f.write(json.dumps({"value": json.dumps(env), "partition": 0})
                    + "\n")

    args = _args(workdir, connector="maxwell", batch_events=10,
                 update_mode="token_append")
    stats = run(spark, args)
    assert stats["events"] == len(rows)

    # reference fold
    state = {}
    for typ, doc, _, toks, src in rows:
        if typ == "insert":
            state[doc] = {"tokens": list(toks), "source": src}
        elif typ == "delete":
            state[doc] = None
        elif state.get(doc) is not None:
            state[doc]["tokens"] += toks
    ref = {k: (tuple(v["tokens"]), v["source"])
           for k, v in state.items() if v is not None}

    job_eng = CdcEngine(
        spark, args.lake,
        StreamConfig(num_buckets=8, update_mode="token_append"),
        EngineConfig(),
    )
    got = {r["doc_id"]: (tuple(r["tokens"]), r["source"])
           for r in job_eng.read_final().collect()}
    assert got == ref and len(got) > 0


@pytest.mark.parametrize(
    "flags",
    [
        {"streaming": True},  # no --ss-checkpoint
        {"connector": "wal2json", "txn_markers": "markers"},  # Debezium-only gate
    ],
    ids=["streaming-without-ss-checkpoint", "txn-markers-non-debezium"],
)
def test_tail_job_rejects_bad_flags_before_creating_the_table(spark, workdir, flags):
    """An impossible flag combination must fail before the job creates a
    table or commits DDL: a rejected run leaves a fresh lake fresh."""
    from airbyte_spark.lake.table import LakeTable

    os.makedirs(os.path.join(workdir, "wire"))
    open(os.path.join(workdir, "wire", "empty.json"), "w").close()
    args = _args(workdir, **flags)
    with pytest.raises(SystemExit):
        run(spark, args)
    lake = CdcEngine(spark, args.lake)
    assert not LakeTable.exists(lake.table_root)
