"""Structured Streaming replay: same semantics as bounded replay, plus
offset-resume and epoch idempotence (SURVEY.md §2.9)."""

from __future__ import annotations

import os
import time

from airbyte_spark.changelog import (
    ChangelogConfig,
    apply_golden,
    changelog_df,
    seed_df,
    write_changelog,
)
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine
from airbyte_spark.streaming import stream_replay
from tests.util import assert_frames_equal, final_as_pandas, golden_normalize

CFG = ChangelogConfig(n_events=1200, n_seed_docs=150, dup_pct=2.0, corrupt_pct=1.0)


def _setup(spark, workdir):
    seed = seed_df(spark, CFG)
    clpath = os.path.join(workdir, "changelog")
    write_changelog(spark, CFG, clpath, n_files=6)
    eng = CdcEngine(
        spark,
        os.path.join(workdir, "lake"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=500),
    )
    eng.create_table()
    eng.bootstrap(seed)
    return eng, seed, clpath


def test_stream_replay_matches_golden(spark, workdir):
    """availableNow drain over the changelog dir == golden final state, in
    multiple micro-batches (maxFilesPerTrigger=2 over 6 files)."""
    eng, seed, clpath = _setup(spark, workdir)
    ckpt = os.path.join(workdir, "ss_ckpt")
    stats = stream_replay(eng, clpath, ckpt, max_files_per_trigger=2)
    assert stats["epochs"] >= 3  # bounded files / maxFilesPerTrigger
    exp = golden_normalize(
        apply_golden(seed.toPandas(), changelog_df(spark, CFG).toPandas(), CFG.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)

    # resume from SS checkpoint: no new files -> no rows applied, table unchanged
    before = eng.table.current_version()
    stats2 = stream_replay(eng, clpath, ckpt)
    assert stats2["rows_applied"] == 0
    assert eng.table.current_version() == before


def test_stream_epoch_idempotent(spark, workdir):
    """Re-delivering the same epoch (crash between commit and SS offset
    write) is a no-op — the epoch-stamped batch id is found in the snapshot
    history and skipped."""
    eng, seed, clpath = _setup(spark, workdir)
    batch = spark.read.parquet(clpath)
    applied1 = eng.apply_stream_epoch(batch, 7)
    v1 = eng.table.current_version()
    applied2 = eng.apply_stream_epoch(batch, 7)
    assert applied1 > 0 and applied2 == 0
    assert eng.table.current_version() == v1


def test_stream_epochs_write_raw_and_history(spark, workdir):
    """Stream epochs take replay's apply step, side tables included: with
    the raw table and SCD2 history on, three one-file epochs over an
    LSN-range-partitioned changelog leave the same raw rows and the same
    history table as a three-window bounded replay."""
    import pandas as pd

    cfg = ChangelogConfig(n_events=600, n_seed_docs=150, dup_pct=2.0, seed=17)
    clpath = os.path.join(workdir, "changelog")
    changelog_df(spark, cfg).repartitionByRange(3, "lsn").write.parquet(clpath)
    # SCD2 history needs epochs in LSN order, and the file source takes
    # files in modification-time order: stamp the range files in LSN order
    parts = sorted(f for f in os.listdir(clpath) if f.endswith(".parquet"))
    assert len(parts) == 3
    t = time.time() - 60
    for i, f in enumerate(parts):
        os.utime(os.path.join(clpath, f), (t + i, t + i))

    def engine(sub):
        eng = CdcEngine(
            spark,
            os.path.join(workdir, sub),
            StreamConfig(num_buckets=8),
            EngineConfig(batch_events=200, keep_raw_table=True, scd2_history=True),
        )
        eng.create_table()
        eng.bootstrap(seed_df(spark, cfg))
        return eng

    batch = engine("batch")
    assert batch.replay(clpath)["batches"] == 3
    streamed = engine("stream")
    stats = stream_replay(
        streamed, clpath, os.path.join(workdir, "ss"), max_files_per_trigger=1
    )
    assert stats["epochs"] == 3

    raw_b, raw_s = batch.read_raw_log(), streamed.read_raw_log()
    assert raw_b.count() == raw_s.count() == cfg.n_events
    assert raw_b.exceptAll(raw_s).count() == 0 and raw_s.exceptAll(raw_b).count() == 0

    def history(eng):
        return (
            eng.read_history().toPandas()
            .sort_values(["doc_id", "lsn"])
            .reset_index(drop=True)
            .astype({"valid_to_ms": "float64"})  # NULLs -> NaN uniformly
        )

    pd.testing.assert_frame_equal(history(streamed), history(batch))
    assert_frames_equal(
        final_as_pandas(streamed.read_final()), final_as_pandas(batch.read_final())
    )


def test_stream_then_batch_equivalence(spark, workdir):
    """A stream-mode run and a batch-mode run over the same changelog
    produce identical final tables (the two modes are interchangeable)."""
    eng_s, seed, clpath = _setup(spark, workdir)
    stream_replay(eng_s, clpath, os.path.join(workdir, "ss_ckpt2"))

    eng_b = CdcEngine(
        spark,
        os.path.join(workdir, "lake_batch"),
        StreamConfig(num_buckets=8),
        EngineConfig(batch_events=400),
    )
    eng_b.create_table()
    eng_b.bootstrap(seed)
    eng_b.replay(clpath)
    assert_frames_equal(
        final_as_pandas(eng_s.read_final()), final_as_pandas(eng_b.read_final())
    )


def test_partition_cursor_tracker_stateful(spark, workdir):
    """applyInPandasWithState cursor tracker: per-partition high-water marks
    accumulate across micro-batches; final state matches the batch truth;
    at-least-once re-deliveries (same-lsn dups across batches) are counted
    as dup_redeliveries, never advancing the cursor."""
    import pandas as pd
    from pyspark.sql import functions as F

    from airbyte_spark.streaming import partition_cursor_tracker

    clpath = os.path.join(workdir, "changelog")
    write_changelog(spark, CFG, clpath, n_files=6)
    static = spark.read.parquet(clpath)
    schema = static.schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "2").parquet(clpath)
    )
    out_dir = os.path.join(workdir, "state_out")
    q = (
        partition_cursor_tracker(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(workdir, "state_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir).toPandas()
    # multiple triggers -> multiple state emissions per partition
    assert got.groupby("source_partition").size().min() >= 2
    # the LAST emission per partition must equal the batch ground truth
    last = got.sort_values(["source_partition", "events_seen"]).groupby("source_partition").last()
    truth = (
        static.groupBy("source_partition")
        .agg(F.max("lsn").alias("last_lsn"), F.count("*").alias("events_seen"))
        .toPandas()
        .set_index("source_partition")
        .sort_index()
    )
    assert (last["last_lsn"] == truth["last_lsn"]).all()
    assert (last["events_seen"] == truth["events_seen"]).all()
    # cursor is monotone across emissions within each partition
    for _, g in got.groupby("source_partition"):
        lsns = g.sort_values("events_seen")["last_lsn"].tolist()
        assert lsns == sorted(lsns)


def test_stream_replay_continuous_idle_stop(spark, workdir):
    """Liveness guard (heartbeats/DebeziumRecordIterator analog): the
    continuous tail drains all files, then stops ITSELF after
    max_idle_triggers empty triggers — and the result matches golden."""
    from airbyte_spark.streaming import stream_replay_continuous

    eng, seed, clpath = _setup(spark, workdir)
    stats = stream_replay_continuous(
        eng,
        clpath,
        os.path.join(workdir, "ss_ckpt_cont"),
        idle_timeout_s=8.0,
        trigger_interval="1 second",
        max_files_per_trigger=3,
        max_wall_s=120,
    )
    assert stats["stop_reason"] == "idle"
    assert stats["rows_applied"] > 0
    exp = golden_normalize(
        apply_golden(seed.toPandas(), changelog_df(spark, CFG).toPandas(), CFG.vocab_size)
    )
    assert_frames_equal(final_as_pandas(eng.read_final()), exp)
