"""Structured Streaming replay: tail the changelog directory as a stream.

Maps the reference's Debezium engine-thread -> BlockingQueue -> iterator
pipeline (AirbyteDebeziumHandler.java:113-164, queue cap 10,000) onto
``spark.readStream`` with ``maxFilesPerTrigger`` as the backpressure knob.
Each micro-batch flows through the exact same validate -> batch stats ->
LWW dedup -> merge path and finish step (lineage, checkpoint, NULL-key
quarantine) as bounded replay (CdcEngine.apply_stream_epoch), so batch and
streaming modes are semantically interchangeable; out-of-order arrival
across micro-batches is absorbed by LWW + retained tombstones.

Exactly-once composition:
- Spark's checkpointLocation tracks which source files each epoch consumed
  (the analog of the Debezium offset store,
  AirbyteFileOffsetBackingStore.java:30-60);
- the engine stamps every epoch's commit with a batch id, so a re-delivered
  epoch after a crash between table-commit and offset-write is skipped
  (same two-sided idempotence as the batch path's commit manifests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airbyte_spark.engine import CdcEngine


def stream_replay(
    engine: CdcEngine,
    changelog_path: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
    timeout_s: float | None = None,
) -> dict:
    """Drain all currently-available changelog files through the engine
    (Trigger.AvailableNow — bounded run of the unbounded pipeline, the moral
    equivalent of the reference's reached-target-position stop). Re-running
    with the same checkpoint_dir resumes from the recorded offsets and
    processes only new files. Returns progress stats."""
    spark = engine.spark
    schema = spark.read.parquet(changelog_path).schema  # static inference
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(changelog_path)

    applied = {"epochs": 0, "rows_applied": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        applied["epochs"] += 1
        applied["rows_applied"] += engine.apply_stream_epoch(batch_df, epoch_id)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return applied


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
            from pyspark.sql import functions as F

            bad = batch_df.filter(F.col("op").isNull())
            n_bad = bad.count()
            if n_bad:
                bad.write.mode("overwrite").parquet(
                    f"{quarantine}/epoch={int(epoch_id)}"
                )
            applied["quarantined"] += n_bad
            good = batch_df.filter(F.col("op").isNotNull())
        applied["rows_applied"] += engine.apply_stream_epoch(good, epoch_id)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
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
    import time as _time

    spark = engine.spark
    schema = spark.read.parquet(changelog_path).schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(changelog_path)

    applied = {
        "epochs": 0, "rows_applied": 0,
        "last_data_at": _time.monotonic(), "busy": False,
    }

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        # Idleness means NO DATA ARRIVING — a batch mid-apply is workload,
        # not idleness. Mark busy for the guard and stamp activity on both
        # edges, so a single batch slower than idle_timeout_s can never be
        # declared idle and killed mid-apply (the reference's heartbeat
        # guard likewise only fires between records, never during a poll:
        # DebeziumRecordIterator.java:78-140 computeNext blocks per record).
        applied["busy"] = True
        applied["last_data_at"] = _time.monotonic()
        try:
            applied["epochs"] += 1
            applied["rows_applied"] += engine.apply_stream_epoch(batch_df, epoch_id)
        finally:
            applied["busy"] = False
            applied["last_data_at"] = _time.monotonic()

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=trigger_interval)
        .start()
    )
    reason = "deadline"
    deadline = _time.monotonic() + max_wall_s
    try:
        while _time.monotonic() < deadline:
            _time.sleep(poll_s)
            if not q.isActive or applied["busy"]:
                continue
            # isDataAvailable covers the startup race: files discovered but
            # the first trigger not yet fired under load is NOT idleness
            if q.status.get("isDataAvailable"):
                continue
            if _time.monotonic() - applied["last_data_at"] > idle_timeout_s:
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
    configured table. The GLOBAL shared offset is Spark's
    checkpointLocation (one stream = one offset log); per-table epoch-
    stamped batch ids make a crash BETWEEN table commits inside an epoch
    resume exactly — the re-delivered epoch skips committed tables and
    applies the rest, the streaming analog of DemuxEngine.replay's window
    invariant. Unrouted records follow demux.on_unrouted."""
    from airbyte_spark.demux import UnroutedRecordsError
    from airbyte_spark.lineage import log_metric

    spark = demux.spark
    schema = spark.read.parquet(changelog_path).schema
    if demux.stream_col not in schema.fieldNames():
        raise ValueError(f"changelog lacks routing column {demux.stream_col!r}")
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    stream = reader.parquet(changelog_path)

    applied = {"epochs": 0, "rows_applied": 0, "unrouted": 0}

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        applied["epochs"] += 1
        batch_df = batch_df.persist()
        try:
            counts = {
                r[0]: r[1]
                for r in batch_df.groupBy(demux.stream_col).count().collect()
            }
            unrouted = {k: v for k, v in counts.items() if k not in demux.engines}
            if unrouted:
                log_metric(
                    "demux_unrouted",
                    epoch=int(epoch_id),
                    streams={str(k): int(v) for k, v in unrouted.items()},
                )
                if demux.on_unrouted == "error":
                    raise UnroutedRecordsError(
                        f"epoch {epoch_id} has records for unconfigured "
                        f"table(s) {sorted(map(str, unrouted))}"
                    )
                applied["unrouted"] += sum(unrouted.values())
            for name, eng in demux.engines.items():  # deterministic order
                if counts.get(name, 0) == 0:
                    continue
                sub = batch_df.filter(
                    F.col(demux.stream_col) == name
                ).drop(demux.stream_col)
                applied["rows_applied"] += eng.apply_stream_epoch(sub, epoch_id)
        finally:
            batch_df.unpersist()

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
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
