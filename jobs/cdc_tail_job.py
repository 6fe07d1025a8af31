#!/usr/bin/env python
"""spark-submit entry point for the wire-format CDC tail job.

The missing first mile of ``replay_job.py``: that job replays an
already-typed changelog; THIS one starts from the raw wire — a directory
of JSON-lines files holding change-event envelopes of any of the six wire
formats (Debezium postgres/mysql, Debezium-Mongo, wal2json, Maxwell,
Canal, AWS DMS) exactly as a Kafka-topic dump lands them (one object per
line, ``sources/connectors.py:WIRE_SCHEMA``) — decodes them through the
``--connector`` row of ``sources/connectors.py`` (decoder, commit-aligned
replay windows, in-stream DDL), quarantines undecodable lines to a parquet
side path (never silently dropped, never poisoning the replay), and
replays the good rows through the engine with the usual exactly-once
checkpointing:

    python -m zipfile -c /tmp/airbyte_spark.zip airbyte_spark
    spark-submit --master local[8] --py-files /tmp/airbyte_spark.zip \\
        jobs/cdc_tail_job.py --lake /data/lake --wire /data/kafka_dump \\
        --connector postgres --payload-ddl "doc_id string, tokens array<int>, n_tok int, source string"

Scale shape: the decode is pure projection (typed from_json, whole-stage
codegen) fused into the same scan the replay batches — no extra pass over
the wire; the quarantine split is one filter each way. Re-submitting after
a crash resumes from the checkpoint (LSN-range batch ids), identical to
replay_job.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    from airbyte_spark.sources.connectors import CONNECTORS

    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--lake", required=True, help="lake root (table + checkpoint)")
    p.add_argument("--wire", required=True,
                   help="directory of JSON-lines Kafka-dump files "
                        "({value, key?, partition?} per line)")
    p.add_argument("--connector", required=True, choices=list(CONNECTORS))
    p.add_argument("--lsn-align-bits", type=int, default=None,
                   help="LSN packs (commit_lsn << bits | statement_index) "
                        "(wal2json/maxwell/canal: 16): align replay-window "
                        "bounds "
                        "to commit boundaries so no source transaction "
                        "splits across two destination commits")
    p.add_argument("--txn-markers", default=None,
                   help="postgres/mysql: JSONL dir of the Debezium "
                        "transaction-metadata topic (provide.transaction."
                        "metadata); replay only transactions whose END "
                        "marker + event count confirm completeness "
                        "(bounded replay only)")
    p.add_argument("--txn-collection", default=None,
                   help="with --txn-markers: this topic carries ONE table "
                        "of multi-table transactions — gate on its "
                        "data_collections entry instead of the END's "
                        "cross-table total")
    p.add_argument("--connect-wrapper", action="store_true",
                   help="postgres/mysql: unwrap Kafka Connect JSONConverter "
                        "schemas.enable=true messages ({schema, payload}) — "
                        "same single typed parse, in-band schema blob ignored")
    p.add_argument("--maxwell-use-position", action="store_true",
                   help="maxwell: order by the binlog position field instead "
                        "of the xid fallback (requires output_binlog_position "
                        "on the wire)")
    p.add_argument("--payload-ddl", default=None,
                   help="payload schema as DDL ('name type, ...'); optional "
                        "when the lake table already exists (derived from it)")
    p.add_argument("--pk", default="doc_id", help="primary-key payload column")
    p.add_argument("--mongo-id-field", default="_id",
                   help="mongo document id field in the payload schema; "
                        "renamed to --pk for the engine when they differ")
    p.add_argument("--update-mode", default="full", choices=["full", "patch", "token_append"],
                   help="patch: mongo updateDescription-only updates fold "
                        "column-wise (StreamConfig.update_mode)")
    p.add_argument("--quarantine", default=None,
                   help="parquet path for undecodable wire lines "
                        "(default <lake>/_quarantine)")
    p.add_argument("--batch-events", type=int, default=1_000_000)
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument("--validate-tokens", action="store_true",
                   help="run the token validator (requires tokens/n_tok cols)")
    p.add_argument("--vocab-size", type=int, default=50_257)
    p.add_argument("--streaming", action="store_true",
                   help="drain via Structured Streaming (availableNow) — "
                        "offsets live in --ss-checkpoint; quarantine is "
                        "banked per epoch (idempotent on redelivery)")
    p.add_argument("--ss-checkpoint", default=None,
                   help="Structured Streaming checkpointLocation "
                        "(required with --streaming)")
    return p


def run(spark, args) -> dict:
    """Decode + replay with an existing SparkSession; returns replay stats.

    Split from ``main`` so tests (and notebook users) can drive the job
    in-process without the session lifecycle."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    from airbyte_spark.config import EngineConfig, StreamConfig
    from airbyte_spark.engine import CdcEngine
    from airbyte_spark.lake.table import LakeTable
    from airbyte_spark.lineage import log_metric
    from airbyte_spark.sources.connectors import CONNECTORS, admit, read_wire

    conn = CONNECTORS[args.connector]
    streaming = getattr(args, "streaming", False)
    # every flag combination is checked before the engine, the table or a
    # DDL commit touches the lake: a rejected run leaves it as it was
    if streaming and not args.ss_checkpoint:
        raise SystemExit("--streaming requires --ss-checkpoint")
    if args.txn_markers is not None and not conn.txn_markers:
        raise SystemExit("--txn-markers requires a Debezium connector")
    if args.txn_markers is not None and streaming:
        raise SystemExit(
            "--txn-markers needs the bounded replay path (the gate "
            "aggregates per-transaction counts over the window)"
        )

    eng = CdcEngine(
        spark,
        args.lake,
        StreamConfig(
            num_buckets=args.num_buckets,
            primary_key=args.pk,
            update_mode=args.update_mode,
        ),
        EngineConfig(
            batch_events=args.batch_events,
            validate_tokens=args.validate_tokens,
            vocab_size=args.vocab_size,
            lsn_align_bits=(
                conn.align_bits if args.lsn_align_bits is None else args.lsn_align_bits
            ),
        ),
    )
    if not LakeTable.exists(eng.table_root):
        eng.create_table(_table_schema_from_ddl(args))

    wire = batch_wire = read_wire(spark, args.wire)
    if streaming:
        wire = read_wire(spark, args.wire, streaming=True)

    # In-stream DDL: schema-change envelopes evolve the table BEFORE the
    # data decode, so the DML from_json uses the final (widest) payload
    # schema — additive evolution makes early-apply sound (pre-DDL
    # envelopes parse to NULL for the new column; widened columns parse old
    # narrower values exactly). Streaming uses a bounded batch pre-pass
    # over the same dump for the (metadata-scale) DDL side and filters
    # those lines out of the stream.
    n_ddl = 0
    if conn.split_ddl is not None:
        ddl_lines, _ = conn.split_ddl(batch_wire)
        _, wire = conn.split_ddl(wire)
        if conn.decode_ddl is None:
            n_raw_ddl = ddl_lines.count()
            if n_raw_ddl:
                log_metric("ddl_requires_rediscover", rows=n_raw_ddl)
        else:
            changes = conn.decode_ddl(ddl_lines)
            n_bad_ddl = changes.filter(F.col("change_type").isNull()).count()
            if n_bad_ddl:
                log_metric("ddl_quarantined", rows=n_bad_ddl)
            n_ddl = eng.apply_schema_changes(
                changes.filter(F.col("change_type").isNotNull())
            )

    if args.payload_ddl is not None and not n_ddl:
        payload = StructType.fromDDL(args.payload_ddl)
    else:
        # no DDL given, or DDL happened: the table snapshot carries the
        # final shape — decode with IT, not the (stale) --payload-ddl
        # bootstrap schema
        from airbyte_spark import schemas as S

        snap = eng.table.snapshot()
        payload = StructType(
            [f for f in S.payload_fields(snap.schema) if f.name != "op"]
        )
    id_field = args.mongo_id_field if args.connector == "mongo" else args.pk
    if id_field != args.pk:
        payload = StructType([
            StructField(id_field, f.dataType, f.nullable) if f.name == args.pk else f
            for f in payload.fields
        ])

    # connector-specific CLI options on top of the table's decoder
    debezium = {"connect_wrapper": args.connect_wrapper,
                "include_txn": args.txn_markers is not None}
    options = {
        "postgres": debezium,
        "mysql": debezium,
        "mongo": {"key_col": "key", "pk_field": id_field,
                  "emit_patch": args.update_mode == "patch"},
        "maxwell": {"use_position": args.maxwell_use_position},
        "dms": {"seq_col": "seq"},
    }.get(args.connector, {})
    decoded = conn.decode(wire, payload, **options)
    if id_field != args.pk:
        decoded = decoded.withColumnRenamed(id_field, args.pk)
    quarantine_path = args.quarantine or f"{args.lake.rstrip('/')}/_quarantine"
    if streaming:
        from airbyte_spark.streaming import stream_replay_df

        stats = stream_replay_df(
            eng, decoded, args.ss_checkpoint, quarantine=quarantine_path
        )
    else:
        good, admitted = admit(
            spark, decoded, quarantine_path, args.txn_markers,
            collection=args.txn_collection,
        )
        stats = {**eng.replay(good), **admitted}
    stats["final_rows"] = eng.read_final().count()
    return stats


def _table_schema_from_ddl(args):
    """First run against a fresh lake: table schema = payload DDL + engine
    metadata columns (the same layout CdcEngine.create_table defaults to)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airbyte_spark import schemas as S

    if args.payload_ddl is None:
        raise SystemExit("--payload-ddl is required when the lake table does not exist")
    payload = StructType.fromDDL(args.payload_ddl)
    pk = args.pk
    if pk not in payload.fieldNames():
        raise SystemExit(f"--pk {pk!r} not in --payload-ddl")
    engine_tail = [
        f for f in S.tokenseq_schema().fields if f.name in S.ENGINE_COLS[1:]
    ]
    return StructType(
        list(payload.fields)
        + [StructField(S.COL_LSN, LongType(), False)]
        + engine_tail
    )


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("cdc-tail").getOrCreate()
    stats = run(spark, args)
    print(json.dumps(stats), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
