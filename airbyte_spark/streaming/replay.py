"""Structured Streaming replay: tail the changelog directory as a stream.

Maps the reference's Debezium engine-thread -> BlockingQueue -> iterator
pipeline (AirbyteDebeziumHandler.java:113-164, queue cap 10,000) onto
``spark.readStream`` with ``maxFilesPerTrigger`` as the backpressure knob.
Every file stream is built by one function (:func:`_file_stream`), whose
static schema comes from the same changelog reader as bounded replay
(``engine.read_changelog``, with ``mergeSchema``). Each micro-batch enters
the engine through ``CdcEngine.apply_stream_epoch``: the same admission
step as bounded replay (mappers, composite key, bootstrap check, schema
evolution), then the one prepare step (validate, batch stats) and the one
apply step every replay window takes (batch-id skip, raw and SCD2 side
tables, LWW dedup -> merge, lineage, checkpoint, NULL-key quarantine), so
batch and streaming modes are semantically interchangeable; out-of-order
arrival across micro-batches is absorbed by LWW + retained tombstones. The
demux form routes each epoch through the same router as
``DemuxEngine.replay``.

Exactly-once composition:
- Spark's checkpointLocation tracks which source files each epoch consumed
  (the analog of the Debezium offset store,
  AirbyteFileOffsetBackingStore.java:30-60);
- the engine stamps every epoch's commit with a batch id, so a re-delivered
  epoch after a crash between table-commit and offset-write is skipped
  (same two-sided idempotence as the batch path's commit manifests).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from airbyte_spark.engine import CdcEngine, read_changelog
from airbyte_spark.sources.wire import quarantine_malformed


def _file_stream(
    spark: SparkSession, changelog_path: str, max_files_per_trigger: int | None
) -> DataFrame:
    """The one changelog file stream. Streams cannot infer a schema, so it
    is read statically through the batch changelog reader first."""
    reader = spark.readStream.schema(read_changelog(spark, changelog_path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(changelog_path)


def _start(stream: DataFrame, sink, checkpoint_dir: str, **trigger) -> StreamingQuery:
    """Start ``sink`` as the foreachBatch of ``stream``. The bounded
    entry points trigger ``availableNow`` — a bounded run of the unbounded
    pipeline, the moral equivalent of the reference's
    reached-target-position stop."""
    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )


def stream_replay(
    engine: CdcEngine,
    changelog_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_s: float | None = None,
) -> dict:
    """Drain all currently-available changelog files through the engine,
    one epoch per trigger, each applied like one replay window (with the
    raw table and SCD2 history when the engine keeps them). SCD2 history
    needs epochs in LSN order, as replay windows are: files are consumed in
    modification-time order. Re-running with the same checkpoint_dir
    resumes from the recorded offsets and processes only new files.
    Returns progress stats."""
    stream = _file_stream(engine.spark, changelog_path, max_files_per_trigger)
    return stream_replay_df(engine, stream, checkpoint_dir, timeout_s)


def stream_replay_df(
    engine: CdcEngine,
    stream: DataFrame,
    checkpoint_dir: str,
    timeout_s: float | None = None,
    quarantine: str | None = None,
) -> dict:
    """:func:`stream_replay` over a CALLER-BUILT streaming DataFrame — the
    composition point for wire-format tails (readStream.json over a Kafka
    dump -> sources/mongo.py / sources/debezium.py decode is a pure
    projection, legal on a stream). With ``quarantine`` set, rows whose
    ``op`` is NULL (failed envelope parse / unknown op) are banked per
    epoch under ``<quarantine>/epoch=<id>`` with overwrite — idempotent on
    epoch redelivery, same discipline as the engine's batch ids — and only
    decodable rows reach the engine."""
    applied = {"epochs": 0, "rows_applied": 0, "quarantined": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        applied["epochs"] += 1
        good = batch_df
        if quarantine is not None:
            good, n_bad = quarantine_malformed(
                batch_df, f"{quarantine}/epoch={int(epoch_id)}", mode="overwrite"
            )
            applied["quarantined"] += n_bad
        applied["rows_applied"] += engine.apply_stream_epoch(good, epoch_id)

    _start(stream, sink, checkpoint_dir, availableNow=True).awaitTermination(timeout_s)
    return applied


def stream_replay_continuous(
    engine: CdcEngine,
    changelog_path: str,
    checkpoint_dir: str,
    idle_timeout_s: float = 10.0,
    trigger_interval: str = "1 second",
    max_files_per_trigger: int | None = None,
    poll_s: float = 0.5,
    max_wall_s: float = 300.0,
) -> dict:
    """Unbounded tail with a LIVENESS guard: run on a processing-time
    trigger and stop the query once no data-carrying trigger has completed
    for ``idle_timeout_s`` — the engine's analog of the reference's
    heartbeat-driven idle handling (DebeziumRecordIterator.java:78-140
    waits on heartbeats and finishes when the source goes quiet;
    heartbeats.md:11-34 kills a source unresponsive past a deadline).
    Time-based rather than trigger-counting because Structured Streaming
    does not advance batchId on no-data triggers. ``max_wall_s`` is the
    hard deadline backstop. Returns progress stats + the stop reason
    ("idle" | "deadline")."""
    stream = _file_stream(engine.spark, changelog_path, max_files_per_trigger)

    applied = {
        "epochs": 0, "rows_applied": 0,
        "last_data_at": time.monotonic(), "busy": False,
    }

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # Idleness means NO DATA ARRIVING — a batch mid-apply is workload,
        # not idleness. Mark busy for the guard and stamp activity on both
        # edges, so a single batch slower than idle_timeout_s can never be
        # declared idle and killed mid-apply (the reference's heartbeat
        # guard likewise only fires between records, never during a poll:
        # DebeziumRecordIterator.java:78-140 computeNext blocks per record).
        applied["busy"] = True
        applied["last_data_at"] = time.monotonic()
        try:
            applied["epochs"] += 1
            applied["rows_applied"] += engine.apply_stream_epoch(batch_df, epoch_id)
        finally:
            applied["busy"] = False
            applied["last_data_at"] = time.monotonic()

    q = _start(stream, sink, checkpoint_dir, processingTime=trigger_interval)
    reason = "deadline"
    deadline = time.monotonic() + max_wall_s
    try:
        while time.monotonic() < deadline:
            time.sleep(poll_s)
            if not q.isActive or applied["busy"]:
                continue
            # isDataAvailable covers the startup race: files discovered but
            # the first trigger not yet fired under load is NOT idleness
            if q.status.get("isDataAvailable"):
                continue
            if time.monotonic() - applied["last_data_at"] > idle_timeout_s:
                reason = "idle"
                break
    finally:
        q.stop()
        q.awaitTermination(30)
    return {
        "epochs": applied["epochs"],
        "rows_applied": applied["rows_applied"],
        "stop_reason": reason,
    }


def stream_demux_replay(
    demux,
    changelog_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_s: float | None = None,
) -> dict:
    """Structured-Streaming form of the shared-WAL demux (demux.py): ONE
    stream tails the interleaved changelog, each epoch fans out to every
    configured table through the same router as ``DemuxEngine.replay``.
    The GLOBAL shared offset is Spark's checkpointLocation (one stream =
    one offset log); per-table epoch-stamped batch ids make a crash
    BETWEEN table commits inside an epoch resume exactly — the re-delivered
    epoch skips committed tables and applies the rest, the streaming analog
    of DemuxEngine.replay's window invariant. Unrouted records follow
    demux.on_unrouted."""
    stream = _file_stream(demux.spark, changelog_path, max_files_per_trigger)
    if demux.stream_col not in stream.columns:
        raise ValueError(f"changelog lacks routing column {demux.stream_col!r}")
    applied = {"epochs": 0, "rows_applied": 0, "unrouted": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        applied["epochs"] += 1
        per_table, unrouted = demux._route(
            batch_df,
            lambda eng, rows: eng.apply_stream_epoch(rows, epoch_id),
            f"epoch {epoch_id}",
            epoch=int(epoch_id),
        )
        applied["rows_applied"] += sum(per_table.values())
        applied["unrouted"] += unrouted

    _start(stream, sink, checkpoint_dir, availableNow=True).awaitTermination(timeout_s)
    return applied


def streaming_dedup(changelog_stream: DataFrame, watermark_delay: str = "1 hour") -> DataFrame:
    """The pure-streaming duplicate absorber: event-time watermark +
    dropDuplicates on (doc_id, lsn) — the Structured Streaming shape of the
    reference's at-least-once re-send absorption ("Inclusive Cursors",
    incremental-append-deduped.md:108-112). State for keys older than the
    watermark is evicted, bounding memory on an infinite tail. Exposed for
    pipelines that want in-stream dedup before foreachBatch."""
    with_ts = changelog_stream.withColumn(
        "_event_time", F.timestamp_millis(F.col("ts_ms"))
    )
    return with_ts.withWatermark("_event_time", watermark_delay).dropDuplicates(
        ["doc_id", "lsn"]
    )
