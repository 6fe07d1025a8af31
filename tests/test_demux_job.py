"""Demux spark-submit job (jobs/demux_job.py): the shared-WAL fan-out
driven through the packaged job surface — golden equality per table,
resubmit idempotence, stream-spec parsing."""

from __future__ import annotations

import os

import pytest

from airbyte_spark.changelog import changelog_df
from airbyte_spark.demux import DemuxEngine

from jobs.demux_job import build_parser, parse_stream, run
from tests.test_demux import CFG, _bootstrap, _goldens, _mk, _routed
from tests.util import assert_frames_equal, final_as_pandas


def _args(workdir, **over):
    base = dict(
        root=os.path.join(workdir, "demux"),
        changelog=os.path.join(workdir, "wal"),
        batch_events=300,
    )
    base.update(over)
    argv = []
    for k, v in base.items():
        if v is True:
            argv.append(f"--{k.replace('_', '-')}")
        elif v is not None and v is not False:
            argv += [f"--{k.replace('_', '-')}", str(v)]
    argv += ["--stream", "t0:4", "--stream", "t1:4"]
    return build_parser().parse_args(argv)


def test_parse_stream_specs():
    assert parse_stream("a").name == "a"
    s = parse_stream("b:16")
    assert (s.name, s.num_buckets) == ("b", 16)
    s = parse_stream("c:8:user_id")
    assert (s.name, s.num_buckets, s.primary_key) == ("c", 8, "user_id")
    with pytest.raises(ValueError):
        parse_stream("d:1:x:y")


def test_demux_job_golden_and_idempotent(spark, workdir):
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    _routed(changelog_df(spark, CFG)).write.mode("overwrite").parquet(
        os.path.join(workdir, "wal")
    )

    stats = run(spark, _args(workdir))
    assert stats["events"] == CFG.n_events
    for name, exp in _goldens(spark).items():
        eng = DemuxEngine(
            spark,
            os.path.join(workdir, "demux"),
            [parse_stream("t0:4"), parse_stream("t1:4")],
        ).engine(name)
        assert_frames_equal(final_as_pandas(eng.read_final()), exp)

    # resubmit: shared offset already at target -> noop
    again = run(spark, _args(workdir))
    assert again["events"] == 0 and again["batches"] == 0


def test_demux_job_requires_bootstrapped_tables(spark, workdir):
    _routed(changelog_df(spark, CFG)).limit(10).write.mode("overwrite").parquet(
        os.path.join(workdir, "wal")
    )
    with pytest.raises(SystemExit, match="bootstrap"):
        run(spark, _args(workdir))


def test_wire_topic_decodes_and_demuxes(spark, workdir):
    """ONE Debezium topic carrying two tables' changes: decode with
    include_table=True surfaces source.table as _ab_stream, and the demux
    engine fans the decoded stream out to per-table goldens — the
    single-connection WAL shape a real Debezium deployment emits."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        StringType,
        StructField,
        StructType,
    )

    from airbyte_spark.sources.debezium import decode_debezium, split_malformed

    payload_schema = StructType(
        [
            StructField("doc_id", StringType(), True),
            StructField("tokens", ArrayType(IntegerType()), True),
            StructField("n_tok", IntegerType(), True),
            StructField("source", StringType(), True),
        ]
    )
    cl = _routed(changelog_df(spark, CFG))
    payload = F.struct("doc_id", "tokens", "n_tok", "source")
    pk_only = F.struct(
        F.col("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
    )
    env = F.struct(
        F.when(F.col("op") == "D", pk_only).alias("before"),
        F.when(F.col("op") != "D", payload).alias("after"),
        F.struct(
            F.col("ts_ms"),
            F.col("lsn"),
            F.lit("app").alias("db"),
            F.col("_ab_stream").alias("table"),  # routing rides the envelope
        ).alias("source"),
        F.when(F.col("op") == "I", F.lit("c"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
        (F.col("ts_ms") + 5).alias("ts_ms"),
    )
    wire = cl.select(
        F.to_json(env, {"ignoreNullFields": "false"}).alias("value"),
        F.col("source_partition").alias("part"),
    )
    good, bad = split_malformed(
        decode_debezium(wire, payload_schema, partition_col="part",
                        include_table=True)
    )
    assert bad.count() == 0
    assert good.columns[-1] == "_ab_stream"

    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    stats = dx.replay(good)
    assert stats["events"] == CFG.n_events
    for name, exp in _goldens(spark).items():
        assert_frames_equal(final_as_pandas(dx.engine(name).read_final()), exp)


def _debezium_wire(spark, with_txn=False):
    """Routed changelog rendered as one Debezium topic; optional
    transaction blocks (txn = lsn div 3)."""
    from pyspark.sql import functions as F

    cl = _routed(changelog_df(spark, CFG))
    payload = F.struct("doc_id", "tokens", "n_tok", "source")
    pk_only = F.struct(
        F.col("doc_id"),
        F.lit(None).cast("array<int>").alias("tokens"),
        F.lit(None).cast("int").alias("n_tok"),
        F.lit(None).cast("string").alias("source"),
    )
    fields = [
        F.when(F.col("op") == "D", pk_only).alias("before"),
        F.when(F.col("op") != "D", payload).alias("after"),
        F.struct(
            F.col("ts_ms"), F.col("lsn"),
            F.lit("app").alias("db"),
            F.col("_ab_stream").alias("table"),
        ).alias("source"),
        F.when(F.col("op") == "I", F.lit("c"))
        .when(F.col("op") == "U", F.lit("u"))
        .otherwise(F.lit("d"))
        .alias("op"),
        (F.col("ts_ms") + 5).alias("ts_ms"),
    ]
    if with_txn:
        fields.append(
            F.struct(
                F.concat(F.lit("tx"), F.expr("lsn div 3")).alias("id"),
                (F.col("lsn") % 3 + 1).alias("total_order"),
                (F.col("lsn") % 3 + 1).alias("data_collection_order"),
            ).alias("transaction")
        )
    return cl, cl.select(
        F.to_json(F.struct(*fields), {"ignoreNullFields": "false"}).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    )


def test_demux_job_wire_mode(spark, workdir):
    """--wire: the packaged job decodes ONE Debezium topic, routes by
    source.table and lands every table on its golden."""
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    _cl, wire = _debezium_wire(spark)
    wire.write.mode("overwrite").json(os.path.join(workdir, "wire"))
    args = _args(
        workdir,
        changelog=None,
        wire=os.path.join(workdir, "wire"),
        payload_ddl="doc_id string, tokens array<int>, n_tok int, source string",
    )
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events and stats["quarantined"] == 0
    for name, exp in _goldens(spark).items():
        eng = DemuxEngine(
            spark,
            os.path.join(workdir, "demux"),
            [parse_stream("t0:4"), parse_stream("t1:4")],
        ).engine(name)
        from tests.util import assert_frames_equal as _afe

        _afe(final_as_pandas(eng.read_final()), exp)


def test_demux_job_wire_txn_gate(spark, workdir):
    """--wire + --txn-markers: per-(txn, table) completeness — withholding
    the last transaction's END pends exactly its events across BOTH
    tables."""
    import json as _json

    from pyspark.sql import functions as F

    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    cl, wire = _debezium_wire(spark, with_txn=True)
    wire.write.mode("overwrite").json(os.path.join(workdir, "wire"))

    per = (
        cl.groupBy(F.expr("lsn div 3").alias("t"), "_ab_stream")
        .count()
        .collect()
    )
    t_max = max(r["t"] for r in per)
    by_txn: dict = {}
    for r in per:
        by_txn.setdefault(r["t"], []).append((r["_ab_stream"], r["count"]))
    lines = []
    for t, colls in by_txn.items():
        if t == t_max:
            continue  # withhold the last END
        lines.append(_json.dumps({
            "status": "END", "id": f"tx{t}",
            "event_count": sum(c for _n, c in colls),
            "data_collections": [
                {"data_collection": n, "event_count": c} for n, c in colls
            ],
            "ts_ms": 1,
        }))
    spark.createDataFrame(
        [(l, None, 0) for l in lines],
        "value string, key string, partition long",
    ).write.mode("overwrite").json(os.path.join(workdir, "markers"))

    args = _args(
        workdir,
        changelog=None,
        wire=os.path.join(workdir, "wire"),
        payload_ddl="doc_id string, tokens array<int>, n_tok int, source string",
        txn_markers=os.path.join(workdir, "markers"),
    )
    stats = run(spark, args)
    n_last = sum(c for _n, c in by_txn[t_max])
    assert stats["txn_pending"] == n_last
    assert stats["events"] == CFG.n_events - n_last


def test_demux_job_canal_wire_mode(spark, workdir):
    """--wire --connector canal: one canal topic carrying two tables'
    changes (the DEFAULT canal deployment: one instance, many tables, one
    topic) decodes once, routes by the envelope's table, and lands every
    table on its golden."""
    from pyspark.sql import functions as F

    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    cl = _routed(changelog_df(spark, CFG))
    row = F.create_map(
        F.lit("doc_id"), F.col("doc_id"),
        F.lit("tokens"), F.to_json("tokens"),
        F.lit("n_tok"), F.col("n_tok").cast("string"),
        F.lit("source"), F.col("source"),
    )
    env = F.struct(
        F.col("lsn").alias("id"),
        F.lit("app").alias("database"),
        F.col("_ab_stream").alias("table"),
        F.lit(False).alias("isDdl"),
        F.when(F.col("op") == "I", "INSERT")
        .when(F.col("op") == "U", "UPDATE")
        .otherwise("DELETE")
        .alias("type"),
        F.col("ts_ms").alias("es"),
        (F.col("ts_ms") + 5).alias("ts"),
        F.array(row).alias("data"),
    )
    cl.select(
        F.to_json(env).alias("value"),
        F.lit(None).cast("string").alias("key"),
        F.col("source_partition").cast("long").alias("partition"),
    ).write.mode("overwrite").json(os.path.join(workdir, "wire"))

    args = _args(
        workdir,
        changelog=None,
        wire=os.path.join(workdir, "wire"),
        connector="canal",
        payload_ddl="doc_id string, tokens array<int>, n_tok int, source string",
    )
    stats = run(spark, args)
    assert stats["events"] == CFG.n_events and stats["quarantined"] == 0
    for name, exp in _goldens(spark).items():
        eng = DemuxEngine(
            spark,
            os.path.join(workdir, "demux"),
            [parse_stream("t0:4"), parse_stream("t1:4")],
        ).engine(name)
        got = final_as_pandas(eng.read_final())
        # canal LSNs are id<<16 remaps of the original; winners' payloads
        # match the golden (which carries original lsns) on payload cols
        import pandas as pd

        keep = [c for c in exp.columns if not c.startswith("_ab")]
        a = got[keep].sort_values("doc_id").reset_index(drop=True)
        b = exp[keep].sort_values("doc_id").reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)


@pytest.mark.parametrize(
    "flags",
    [
        {"wire": "wire"},  # --changelog and --wire together
        {"changelog": None, "wire": "wire"},  # --wire without --payload-ddl
        {"changelog": None, "wire": "wire", "payload_ddl": "doc_id string",
         "connector": "canal", "txn_markers": "markers"},
    ],
    ids=["changelog-and-wire", "wire-without-payload-ddl", "canal-txn-markers"],
)
def test_demux_job_rejects_bad_flags_before_touching_the_root(spark, workdir, flags):
    """Flag checks run before DemuxEngine makes the root's directories."""
    args = _args(workdir, **flags)
    with pytest.raises(SystemExit):
        run(spark, args)
    assert not os.path.exists(args.root)
