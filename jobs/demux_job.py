#!/usr/bin/env python
"""spark-submit entry point for the shared-WAL multi-table demux job.

One change stream interleaving N tables' changes (the shape a Debezium
connection actually emits — one binlog/WAL, GLOBAL offset,
airbyte-protocol.md:491-511), replayed into N lake tables with ONE shared
offset that advances only after EVERY table durably applied the window:

    python -m zipfile -c /tmp/airbyte_spark.zip airbyte_spark
    spark-submit --master local[8] --py-files /tmp/airbyte_spark.zip \
        jobs/demux_job.py --root /data/demux --changelog /data/wal \
        --stream tokenseq --stream profiles:16:user_id --batch-events 1000000

Each ``--stream`` is ``name[:num_buckets[:primary_key]]``. The WAL window
is scanned ONCE and persisted; each table's slice is a routing-column
filter over the cached window, so demux costs N-1 fewer WAL scans than N
independent syncs (see airbyte_spark/demux.py for the crash/resume
contract). Prints ONE JSON line with replay stats on stdout.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_stream(spec: str):
    from airbyte_spark.config import StreamConfig

    parts = spec.split(":")
    if len(parts) == 1:
        return StreamConfig(name=parts[0])
    if len(parts) == 2:
        return StreamConfig(name=parts[0], num_buckets=int(parts[1]))
    if len(parts) == 3:
        return StreamConfig(
            name=parts[0], num_buckets=int(parts[1]), primary_key=parts[2]
        )
    raise ValueError(f"bad --stream spec {spec!r} (name[:buckets[:pk]])")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--root", required=True,
                   help="demux root (per-stream tables + shared offset)")
    p.add_argument("--changelog", default=None,
                   help="shared WAL path (parquet) with the routing column")
    p.add_argument("--wire", default=None,
                   help="INSTEAD of --changelog: JSONL dir of a single "
                        "Debezium topic carrying every table's changes "
                        "({value, key?, partition?} lines); decoded once "
                        "with source.table as the routing column")
    p.add_argument("--payload-ddl", default=None,
                   help="with --wire: payload schema as DDL (union of all "
                        "tables' columns; absent fields decode null)")
    p.add_argument("--connector", default="postgres",
                   choices=["postgres", "mysql", "canal"],
                   help="with --wire: Debezium position semantics, or "
                        "canal flatMessage (a canal instance routes MANY "
                        "tables to one topic by default). Routing uses the "
                        "BARE table name (_ab_stream contract) for every "
                        "connector — same-named tables from different "
                        "databases need separate demux roots")
    p.add_argument("--txn-markers", default=None,
                   help="with --wire: transaction-metadata topic JSONL; "
                        "gate on per-data_collection completeness so a "
                        "truncated table pends its whole transaction")
    p.add_argument("--quarantine", default=None,
                   help="with --wire: undecodable lines land here "
                        "(default <root>/_quarantine)")
    p.add_argument("--stream", action="append", required=True,
                   dest="streams", metavar="NAME[:BUCKETS[:PK]]",
                   help="repeatable; one configured destination table per use")
    p.add_argument("--stream-col", default="_ab_stream",
                   help="routing column naming each record's table")
    p.add_argument("--batch-events", type=int, default=1_000_000)
    p.add_argument("--max-batches", type=int, default=None)
    p.add_argument("--on-unrouted", default="error", choices=["error", "skip"],
                   help="records routed to an unconfigured table: fail the "
                        "window (default) or count+skip them")
    return p


def run(spark, args) -> dict:
    from airbyte_spark.config import EngineConfig
    from airbyte_spark.demux import DemuxEngine
    from airbyte_spark.lake.table import LakeTable
    from airbyte_spark.sources.connectors import CONNECTORS, admit, read_wire

    conn = CONNECTORS[args.connector]
    # flag combinations are checked before DemuxEngine makes directories
    if (args.changelog is None) == (args.wire is None):
        raise SystemExit("exactly one of --changelog / --wire is required")
    if args.wire is not None and args.payload_ddl is None:
        raise SystemExit("--payload-ddl is required with --wire")
    if args.txn_markers is not None and not conn.txn_markers:
        raise SystemExit(
            f"--txn-markers is Debezium transaction metadata; {args.connector} "
            "envelopes carry no marker topic"
        )

    demux = DemuxEngine(
        spark,
        args.root,
        [parse_stream(s) for s in args.streams],
        stream_col=args.stream_col,
        cfg=EngineConfig(
            batch_events=args.batch_events,
            # canal packs lsn = batch_id<<16|row_index: align windows to
            # envelope boundaries and make the shared-offset loss check
            # compare commit components (sparse-LSN safe)
            lsn_align_bits=conn.align_bits if args.wire else None,
        ),
        on_unrouted=args.on_unrouted,
    )
    for eng in demux.engines.values():
        if not LakeTable.exists(eng.table_root):
            raise SystemExit(
                f"table for stream {eng.stream.name!r} does not exist — "
                "bootstrap the demux catalog first (DemuxEngine.bootstrap)"
            )
    if args.changelog is not None:
        return demux.replay(args.changelog, max_batches=args.max_batches)

    # --wire: ONE topic for every table -> decode once, route by the source
    # table, optional transaction-completeness gate, then the same
    # shared-offset windowed replay
    from pyspark.sql.types import StructType

    decoded = conn.decode(
        read_wire(spark, args.wire),
        StructType.fromDDL(args.payload_ddl),
        include_table=True,
        **({"include_txn": True} if args.txn_markers is not None else {}),
    )
    good, admitted = admit(
        spark, decoded, args.quarantine or f"{args.root.rstrip('/')}/_quarantine",
        args.txn_markers, collection_col=args.stream_col,
    )
    return {**demux.replay(good, max_batches=args.max_batches), **admitted}


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc-demux").getOrCreate()
    stats = run(spark, args)
    print(json.dumps({"job": "demux", **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
