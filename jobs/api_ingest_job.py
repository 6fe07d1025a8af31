"""API-ingest job: declarative manifest source → lake tables, exactly-once.

The full Airbyte replacement loop for API connectors, as one
spark-submit-able job: interpret the manifest (sources/declarative.py),
read each stream's records for the current state window, hand them to
Spark as ONE typed DataFrame, LWW-upsert into a per-stream LakeTable
(operators/merge.py — bucket-pruned CoW, same engine semantics as the CDC
path), and checkpoint per-stream state ONLY after the commit is durable.

Exactly-once mechanics (identical discipline to CdcEngine.replay):
- the batch id is a pure function of (stream, state window) — a sync
  killed between commit and checkpoint re-derives the same id on rerun
  and `find_batch` skips the already-applied window (at-least-once read,
  exactly-once apply);
- within a window the API may redeliver boundary records
  (inclusive-cursor rule); the LWW merge absorbs them;
- state is one consolidated JSON doc (per-stream cursor), written after
  each stream's commit — a crash between streams resumes mid-catalog.

Stream → table mapping:
- incremental streams (numeric cursor) MERGE on the primary key: envelope
  ``doc_id = CAST(pk AS STRING)``, ``_ab_lsn = floor(cursor * 1000)``
  (millisecond-resolution monotone order), ``_ab_extracted_at`` derived
  from the cursor (deterministic — never wall clock);
- full-refresh streams OVERWRITE the table atomically (all buckets
  replaced in one commit).

Scale notes: the API pagination loop is inherently sequential driver-side
(reference-identical); everything after createDataFrame is columnar. The
merge path inherits the engine's properties — winners computed per batch,
only touched buckets rewritten, no per-row Python.
"""

from __future__ import annotations

import hashlib
import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airbyte_spark.durable import write_json
from airbyte_spark.lake.table import LakeTable
from airbyte_spark.lineage import log_metric
from airbyte_spark.operators.dedup import lww_dedup
from airbyte_spark.operators.merge import merge_upsert
from airbyte_spark.sources.declarative import DeclarativeStream, ManifestSource

_ENGINE_FIELDS = [
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("_ab_lsn", T.LongType(), False),
    T.StructField("_ab_extracted_at", T.TimestampType(), True),
]


def _batch_id(stream: str, lo: Any, hi: Any) -> str:
    return hashlib.md5(f"api:{stream}:{lo}:{hi}".encode()).hexdigest()[:20]


def _table_schema(stream: DeclarativeStream) -> T.StructType:
    ddl = ", ".join(f"`{n}` {t}" for n, t in stream.schema.items())
    payload = T.StructType.fromDDL(ddl + ", `_ab_errors` string")
    return T.StructType(payload.fields + _ENGINE_FIELDS)


class ApiIngestJob:
    def __init__(
        self,
        spark: SparkSession,
        manifest: dict,
        config: dict,
        root: str,
        transport,
        num_buckets: int = 8,
    ):
        self.spark = spark
        self.source = ManifestSource(manifest, transport)
        self.config = config
        self.root = root
        self.num_buckets = num_buckets
        self.state_path = os.path.join(root, "state.json")
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------ state

    def load_state(self) -> dict:
        if not os.path.exists(self.state_path):
            return {}
        with open(self.state_path) as fh:
            return json.load(fh)

    def _save_state(self, state: dict) -> None:
        write_json(self.state_path, state)

    # ------------------------------------------------------------ sync

    def _table(self, stream: DeclarativeStream) -> LakeTable:
        root = os.path.join(self.root, "tables", stream.name)
        if LakeTable.exists(root):
            return LakeTable.load(self.spark, root)
        return LakeTable.create(
            self.spark,
            root,
            _table_schema(stream),
            primary_key="doc_id",
            num_buckets=self.num_buckets,
            cursor_col="_ab_lsn",
            ts_col="_ab_extracted_at",
        )

    def _envelope(self, stream: DeclarativeStream, df: DataFrame) -> DataFrame:
        pk = stream.primary_key
        if not pk:
            raise ValueError(f"stream {stream.name} declares no primary_key")
        cur = stream.cursor_field
        lsn = (
            F.floor(F.col(cur).cast("double") * 1000).cast("long")
            if cur
            else F.lit(0).cast("long")
        )
        return (
            df.withColumn("doc_id", F.col(pk).cast("string"))
            .withColumn("_ab_lsn", lsn)
            .withColumn("_ab_extracted_at", F.timestamp_millis(F.col("_ab_lsn")))
        )

    def sync_stream(
        self, stream: DeclarativeStream, state: Any, max_pages: int | None = None
    ) -> dict:
        df, new_state = stream.read_df(self.spark, state=state, max_pages=max_pages)
        table = self._table(stream)
        if stream.incremental:
            bid = _batch_id(stream.name, state, new_state)
        else:
            # full refresh ALWAYS re-applies (reference semantics — no
            # state); key the id to the current version so a rerun after a
            # successful overwrite is a fresh (idempotent-by-value) commit
            bid = _batch_id(stream.name, "full", table.current_version())
        if table.find_batch(bid) is not None:
            log_metric("api_batch_skipped", stream=stream.name, batch_id=bid)
            return {"stream": stream.name, "applied": 0, "skipped": True,
                    "state": new_state}
        env = self._envelope(stream, df)
        cols = table.snapshot().schema.fieldNames()
        summary = {"operation": "api-sync", "batch_id": bid,
                   "window": [state, new_state]}
        if stream.incremental:
            winners = lww_dedup(
                env.withColumn("ts_ms", F.col("_ab_lsn")),
                key="doc_id",
                order_cols=("_ab_lsn", "ts_ms"),
            )
            version = merge_upsert(table, winners, summary)
        else:
            # full refresh: atomic overwrite of every bucket the TABLE has
            # (created at another bucket count, or rebucketed since)
            version = table.write_and_commit(
                env.select(*cols),
                replace_buckets=range(table.snapshot().spec["num_buckets"]),
                summary=summary,
            )
        applied = env.count()
        log_metric(
            "api_stream_synced", stream=stream.name, rows=applied,
            snapshot=version, state=new_state,
        )
        return {"stream": stream.name, "applied": applied, "skipped": False,
                "state": new_state, "snapshot": version}

    def sync(self, streams: list[str] | None = None, max_pages: int | None = None) -> list[dict]:
        """Sync every (selected) stream; checkpoint state after each commit."""
        state = self.load_state()
        out = []
        for s in self.source.streams(self.config):
            if streams is not None and s.name not in streams:
                continue
            res = self.sync_stream(s, state.get(s.name), max_pages=max_pages)
            out.append(res)
            if res["state"] is not None:
                state[s.name] = res["state"]
                self._save_state(state)
        return out

    def read_final(self, stream_name: str) -> DataFrame:
        root = os.path.join(self.root, "tables", stream_name)
        return LakeTable.load(self.spark, root).scan()
