#!/usr/bin/env python
"""spark-submit entry point for the CDC replay job.

The same job the engine tests drive in-process, packaged the way a cluster
runs it (BASELINE.json north rule: "the same spark-submit --py-files job ...
at two cluster sizes"):

    python -m zipfile -c /tmp/airbyte_spark.zip airbyte_spark
    spark-submit --master local[8] --py-files /tmp/airbyte_spark.zip \
        jobs/replay_job.py --lake /data/lake --changelog /data/changelog \
        --batch-events 1000000 --num-buckets 64

On a real cluster only --master / executor conf change; the job body is
identical (partitioning, dedup, merge, checkpointing all live in the
package). Prints ONE JSON line with replay stats on stdout.

Idempotent by construction: re-submitting after a crash resumes from the
checkpoint; completed LSN ranges are skipped via commit manifests.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--lake", required=True, help="lake root directory (table + checkpoint)")
    p.add_argument("--changelog", required=True, help="change-stream path")
    p.add_argument("--format", default="parquet", choices=["parquet", "jsonl", "csv", "avro"])
    p.add_argument("--seed", default=None, help="optional parquet snapshot to bootstrap from")
    p.add_argument("--batch-events", type=int, default=1_000_000)
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--sync-mode", default="append_dedup",
                   choices=["append_dedup", "append", "overwrite"])
    p.add_argument("--write-partitions", type=int, default=None)
    p.add_argument("--vocab-size", type=int, default=50_257)
    p.add_argument("--mor-max-fraction", type=float, default=0.05,
                   help="batches below this fraction of table rows append "
                        "merge-on-read deltas (0 disables MoR)")
    p.add_argument("--keep-raw-table", action="store_true",
                   help="also append every batch's pre-dedup events to "
                        "<stream>_raw (Destinations-V2 raw layer)")
    p.add_argument("--tombstone-retention-lsns", type=int, default=None,
                   help="GC tombstones older than max_lsn - N at compaction")
    p.add_argument("--union-type-fallback", action="store_true",
                   help="degrade conflicting column types to JSON strings "
                        "instead of requiring a soft reset")
    p.add_argument("--streaming", action="store_true",
                   help="drain via Structured Streaming (availableNow) instead "
                        "of bounded batch replay; offsets live in --ss-checkpoint")
    p.add_argument("--ss-checkpoint", default=None,
                   help="Structured Streaming checkpointLocation (required with --streaming)")
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    args = p.parse_args(argv)
    # reject impossible flag combinations before the job touches the lake
    if args.streaming and not args.ss_checkpoint:
        p.error("--streaming requires --ss-checkpoint")
    if args.streaming and args.format != "parquet":
        p.error("--streaming supports parquet changelogs")

    # spark-submit owns master/deploy conf; just pick up the session.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc-replay").getOrCreate()

    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.engine import CdcEngine
    from airbyte_spark.lake.table import LakeTable
    from airbyte_spark.sources.files import open_changelog

    eng = CdcEngine(
        spark,
        args.lake,
        StreamConfig(num_buckets=args.num_buckets, sync_mode=args.sync_mode),
        EngineConfig(
            batch_events=args.batch_events,
            write_partitions=args.write_partitions,
            vocab_size=args.vocab_size,
            mor_max_fraction=args.mor_max_fraction or None,
            keep_raw_table=args.keep_raw_table,
            tombstone_retention_lsns=args.tombstone_retention_lsns,
            union_type_fallback=args.union_type_fallback,
        ),
    )
    if not LakeTable.exists(eng.table_root):
        eng.create_table()
    if args.seed is not None:
        seed = spark.read.parquet(args.seed)
        eng.bootstrap(seed)

    if args.streaming:
        from airbyte_spark.streaming import stream_replay

        stats = stream_replay(
            eng,
            args.changelog,
            args.ss_checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
        )
    else:
        stats = eng.replay(open_changelog(spark, args.changelog, args.format))
    stats["final_rows"] = eng.read_final().count()
    print(json.dumps(stats), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
