"""Per-partition lineage + throughput metrics.

FIXTURES.md T4: every committed batch emits one row per source partition —
(batch_id, source_partition, start_lsn, end_lsn, rows_applied,
commit_snapshot_id, wall_ms). On every apply path (full / copy-on-write /
merge-on-read merge, append, overwrite, stream epoch) ``rows_applied`` is
the partition's delivered events minus its quarantined NULL-key events, and
start/end_lsn are the min/max LSN of its delivered events. Stored as an append-only JSONL log (tiny:
O(batches × partitions)) and queryable as a DataFrame. Metric events are
also printed as single JSON lines on stdout, the analog of the reference's
per-sync summary (AsyncStreamConsumer.java:199-221) and its Datadog-pushed
throughput numbers (PerformanceTest.java:127-140).
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

LINEAGE_SCHEMA = StructType(
    [
        StructField("batch_id", StringType(), False),
        StructField("source_partition", IntegerType(), False),
        StructField("start_lsn", LongType(), False),
        StructField("end_lsn", LongType(), False),
        StructField("rows_applied", LongType(), False),
        StructField("commit_snapshot_id", LongType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)


class LineageLog:
    def __init__(self, root: str):
        self.path = os.path.join(root, "lineage.jsonl")

    def append(self, rows: list[dict]) -> None:
        with open(self.path, "a") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
            fh.flush()
            os.fsync(fh.fileno())

    def read(self, spark: SparkSession) -> DataFrame:
        if not os.path.exists(self.path):
            return spark.createDataFrame([], LINEAGE_SCHEMA)
        return spark.read.schema(LINEAGE_SCHEMA).json(self.path)


def log_metric(event: str, **kv) -> None:
    print(json.dumps({"event": event, **kv}), file=sys.stderr, flush=True)
