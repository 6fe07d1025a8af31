"""Shared-WAL demux: one interleaved change stream fanned out to N tables
under ONE shared offset (GLOBAL state — airbyte-protocol.md:491-511;
MySqlCdcStateHandler.java:38-63 stores the offset once per connection).
Golden equality per table, mid-window crash resume, unrouted handling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from airbyte_spark.changelog import (
    ChangelogConfig,
    apply_golden,
    changelog_df,
    seed_df,
)
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.demux import DemuxEngine, UnroutedRecordsError
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=900, n_seed_docs=220, dup_pct=2.0, seed=7)


def _routed(df):
    route = (F.abs(F.xxhash64("doc_id")) % 2).cast("string")
    return df.withColumn("_ab_stream", F.concat(F.lit("t"), route))


def _mk(spark, workdir, on_unrouted="error") -> DemuxEngine:
    return DemuxEngine(
        spark,
        os.path.join(workdir, "demux"),
        [StreamConfig(name="t0", num_buckets=4), StreamConfig(name="t1", num_buckets=4)],
        cfg=EngineConfig(batch_events=300),
        on_unrouted=on_unrouted,
    )


def _bootstrap(spark, dx):
    seeds = _routed(seed_df(spark, CFG))
    dx.create_tables()
    dx.bootstrap(
        {
            name: seeds.filter(F.col("_ab_stream") == name).drop("_ab_stream")
            for name in ("t0", "t1")
        }
    )


def _goldens(spark):
    seeds = _routed(seed_df(spark, CFG)).toPandas()
    wal = _routed(changelog_df(spark, CFG)).toPandas()
    out = {}
    for name in ("t0", "t1"):
        s = seeds[seeds["_ab_stream"] == name].drop(columns=["_ab_stream"])
        c = wal[wal["_ab_stream"] == name].drop(columns=["_ab_stream"])
        out[name] = golden_normalize(apply_golden(s, c, CFG.vocab_size))
    return out


def test_demux_golden_both_tables(spark, workdir):
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    wal = _routed(changelog_df(spark, CFG))
    stats = dx.replay(wal)
    assert stats["batches"] == 3  # 900 events / 300 window
    assert stats["last_committed_lsn"] == CFG.n_events
    assert stats["unrouted"] == 0
    exp = _goldens(spark)
    for name in ("t0", "t1"):
        assert_frames_equal(
            final_as_pandas(dx.engine(name).read_final()), exp[name]
        )
    # GLOBAL state doc: shared offset + both tables' own states
    st = dx.state()
    assert st["type"] == "GLOBAL"
    assert st["global"]["shared_state"]["max_committed_lsn"] == CFG.n_events
    assert {
        e["stream_descriptor"]["name"] for e in st["global"]["stream_states"]
    } == {"t0", "t1"}


def test_demux_mid_window_crash_resume(spark, workdir):
    """Crash BETWEEN table commits inside one window: t0 committed window 2,
    t1 did not, shared offset still at window 1. Resume re-runs window 2 —
    t0 skips idempotently (batch id in snapshot summary), t1 applies — and
    both tables land bit-identical to golden with no duplicate commits."""
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    wal = _routed(changelog_df(spark, CFG)).persist()
    dx.replay(wal, max_batches=1)
    assert dx.state()["global"]["shared_state"]["max_committed_lsn"] == 300

    # simulate the crash: apply window 2 for t0 ONLY, shared offset untouched
    sub = wal.filter(F.col("_ab_stream") == "t0").drop("_ab_stream")
    dx.engine("t0").apply_range(sub, 300, 600)
    t0_snaps_before = len(dx.engine("t0").table.history())
    assert dx.state()["global"]["shared_state"]["max_committed_lsn"] == 300

    dx2 = _mk(spark, workdir)  # fresh process, same root
    stats = dx2.replay(wal)
    assert stats["batches"] == 2  # windows 2 and 3
    # t0's window-2 commit was NOT repeated: replay added exactly one more
    # snapshot (window 3) on top of the pre-crash history
    assert len(dx2.engine("t0").table.history()) == t0_snaps_before + 1
    exp = _goldens(spark)
    for name in ("t0", "t1"):
        assert_frames_equal(
            final_as_pandas(dx2.engine(name).read_final()), exp[name]
        )
    wal.unpersist()


def test_demux_unrouted_error_and_skip(spark, workdir):
    wal = _routed(changelog_df(spark, CFG))
    rogue = wal.withColumn(
        "_ab_stream",
        F.when(F.col("lsn") % 97 == 0, F.lit("t_unknown")).otherwise(
            F.col("_ab_stream")
        ),
    )
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    with pytest.raises(UnroutedRecordsError, match="t_unknown"):
        dx.replay(rogue)
    # offset never advanced past the poisoned window
    assert dx.state()["global"]["shared_state"]["max_committed_lsn"] == 0

    dx_skip = _mk(spark, os.path.join(workdir, "skip"), on_unrouted="skip")
    _bootstrap(spark, dx_skip)
    stats = dx_skip.replay(rogue)
    assert stats["unrouted"] > 0
    assert stats["last_committed_lsn"] == CFG.n_events


def test_demux_missing_routing_column(spark, workdir):
    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    with pytest.raises(ValueError, match="_ab_stream"):
        dx.replay(changelog_df(spark, CFG))


def test_streaming_demux_golden_and_idempotent(spark, workdir):
    """Structured-Streaming demux: one stream over the interleaved WAL,
    per-epoch fan-out — both tables land on golden; re-running with the
    same Spark checkpoint applies nothing new."""
    from airbyte_spark.streaming.replay import stream_demux_replay

    dx = _mk(spark, workdir)
    _bootstrap(spark, dx)
    wal_dir = os.path.join(workdir, "wal")
    _routed(changelog_df(spark, CFG)).repartition(4).write.parquet(wal_dir)
    ss_ckpt = os.path.join(workdir, "ss_ckpt")

    stats = stream_demux_replay(
        dx, wal_dir, ss_ckpt, max_files_per_trigger=2, timeout_s=300
    )
    assert stats["epochs"] >= 2  # really micro-batched
    assert stats["unrouted"] == 0
    exp = _goldens(spark)
    for name in ("t0", "t1"):
        assert_frames_equal(
            final_as_pandas(dx.engine(name).read_final()), exp[name]
        )

    again = stream_demux_replay(dx, wal_dir, ss_ckpt, timeout_s=300)
    assert again["rows_applied"] == 0  # offsets already consumed
    for name in ("t0", "t1"):
        assert_frames_equal(
            final_as_pandas(dx.engine(name).read_final()), exp[name]
        )


@pytest.mark.parametrize("leg", ["engine", "demux"])
def test_sparse_lsn_offset_loss_check(spark, workdir, leg):
    """With a packed LSN encoding (lsn_align_bits set) the offset-loss
    check compares COMMIT components, on the demux shared offset and on a
    single stream's checkpoint alike: normal retention of a sparse dump
    (next envelope at (id+1)<<16, far above last+1) must not raise; a
    genuinely skipped commit id must."""
    import os as _os

    import pytest as _pytest

    from airbyte_spark.checkpoint import Checkpoint, save_checkpoint
    from airbyte_spark.config import EngineConfig
    from airbyte_spark.demux import DemuxEngine, OffsetLossError
    from jobs.demux_job import parse_stream

    dx = DemuxEngine(
        spark,
        _os.path.join(workdir, "demux"),
        [parse_stream("t0:4")],
        cfg=EngineConfig(batch_events=10, lsn_align_bits=16),
    )
    e = dx.engine("t0")
    e.create_table()
    e.table.commit_metadata_only(summary={"operation": "bootstrap-done"})
    ck = Checkpoint()
    ck.max_committed_lsn = (5 << 16) | 3  # applied through batch id 5
    save_checkpoint(dx.state_path if leg == "demux" else e.checkpoint_path, ck)

    def feed(first_id):
        df = spark.createDataFrame(
            [("I", f"d{i}", (i << 16), 1000 + i, 0, [1], 1, "s", "t0")
             for i in range(first_id, first_id + 3)],
            "op string, doc_id string, lsn long, ts_ms long,"
            " source_partition int, tokens array<int>, n_tok int,"
            " source string, _ab_stream string",
        )
        return df if leg == "demux" else df.drop("_ab_stream")

    replay = dx.replay if leg == "demux" else e.replay
    # next commit id (6): retention trimmed below it — fine, applies
    stats = replay(feed(6))
    assert stats["events"] == 3

    # a HOLE in commit ids (11 when 9-10 were never applied): loss
    with _pytest.raises(OffsetLossError):
        replay(feed(11))
