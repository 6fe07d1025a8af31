"""Destination-side protocol: ``spec | check | write`` over JSONL
AirbyteMessages into lake tables.

Reference parity: ``airbyte_cdk/destinations/destination.py`` — ``write``
consumes a stream of RECORD/STATE messages (stdin in the platform), buffers
records per stream, and the connector emits each STATE message back ONLY
after the records preceding it are durably written (``destination.py:43-50``
``_run_write``; the at-least-once -> exactly-once contract of
``GlobalAsyncStateManager.java:100-141`` "state only emitted once records
are durable"). Typing follows Destinations V2: each record's JSON payload is
extracted into the catalog-configured typed columns with per-column error
capture, never a failed row (``BigQuerySqlGenerator.java:536-566``).

Spark-first: records cross the process boundary as JSON (that hop is the
protocol, same as the reference), but every flush is ONE ``createDataFrame``
-> one vectorized ``schema_extract`` projection -> one bucket-scoped
LakeTable commit. Dedup mode is a bucket-scoped CoW merge: only buckets the
batch touches are read and rewritten, with LWW on (cursor, extracted_at)
per primary key — the same shape as the engine's merge path.

Idempotence across platform retries: a batch's id is the md5 of the STATE
message that closes it (replays re-send the identical state, a resumed sync
starts after the last acked state with NEW state payloads), so re-delivered
batches skip via the snapshot-summary batch index like every other commit
path in this repo.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field
from typing import Any, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType, TimestampType

from airbyte_spark.lake.table import LakeTable
from airbyte_spark.operators.dedup import lww_dedup
from airbyte_spark.plans.transforms import schema_extract

SPEC = {
    "type": "SPEC",
    "spec": {
        "documentationUrl": "https://example.invalid/airbyte-spark-lake",
        "connectionSpecification": {
            "type": "object",
            "required": ["root"],
            "properties": {
                "root": {"type": "string", "description": "lake root directory"},
                "num_buckets": {"type": "integer", "default": 16},
            },
        },
        "supportedDestinationSyncModes": ["append", "overwrite", "append_dedup"],
    },
}

# JSON-schema primitive -> Spark SQL type (SURVEY.md §1.2 type table)
_JSON_TYPES = {
    "string": "string",
    "integer": "bigint",
    "number": "double",
    "boolean": "boolean",
    "array": "array<string>",
    "object": "string",  # serialized passthrough (UNKNOWN/object -> string)
}

_META_FIELDS = ["_airbyte_raw_id", "_airbyte_extracted_at", "_airbyte_meta"]


#: synthesized key column for composite primary keys: the protocol's
#: primary_key is a LIST of field paths (airbyte-protocol.md:365-428), and
#: a multi-column key can't drive a single-column bucket layout directly —
#: so the destination derives one deterministic, null-safe hash column from
#: the configured paths and buckets/dedups on it (the natural columns stay
#: in the table verbatim).
COMPOSITE_KEY_COL = "_ab_pk"


@dataclass
class StreamDest:
    name: str
    sync_mode: str  # append | overwrite | append_dedup
    columns: dict[str, str]  # name -> spark sql type
    primary_key: list[str] = field(default_factory=list)
    cursor_field: str | None = None

    @property
    def key_col(self) -> str:
        """The single column the lake layout keys on: the pk itself when
        one column is configured, the synthesized hash for composite keys,
        the raw id when keyless."""
        if len(self.primary_key) == 1:
            return self.primary_key[0]
        if len(self.primary_key) > 1:
            return COMPOSITE_KEY_COL
        return "_airbyte_raw_id"


def parse_catalog(catalog: dict) -> dict[str, StreamDest]:
    """ConfiguredAirbyteCatalog -> per-stream destination config
    (airbyte-protocol.md:365-428: sync_mode enums, nested primary_key
    lists-of-paths; only top-level paths are supported here)."""
    out: dict[str, StreamDest] = {}
    for s in catalog.get("streams", []):
        stream = s.get("stream") or {}
        name = stream.get("name") or s.get("name")
        props = (stream.get("json_schema") or {}).get("properties", {})
        cols = {}
        for cname, cschema in props.items():
            t = cschema.get("type")
            if isinstance(t, list):  # ["null", "integer"] nullable unions
                t = next((x for x in t if x != "null"), "string")
            cols[cname] = _JSON_TYPES.get(t, "string")
        pk = [p[0] for p in s.get("primary_key", []) if p]
        cursor = (s.get("cursor_field") or [None])[0]
        mode = s.get("destination_sync_mode", "append")
        if mode == "append_dedup" and not pk:
            raise ValueError(f"stream {name}: append_dedup requires a primary key")
        missing = [p for p in pk if p not in cols]
        if missing:
            raise ValueError(
                f"stream {name}: primary key column(s) {missing} not in the "
                "stream's json_schema properties"
            )
        out[name] = StreamDest(name, mode, cols, pk, cursor)
    return out


class LakeDestination:
    """A lake-backed Airbyte destination."""

    def __init__(self, spark: SparkSession, root: str, num_buckets: int = 16):
        self.spark = spark
        self.root = root
        self.num_buckets = num_buckets
        self._overwritten: set[str] = set()  # streams replaced this invocation

    # ------------------------------------------------------------- protocol

    def spec(self) -> dict:
        return SPEC

    def check(self, config: dict) -> dict:
        root = config.get("root", self.root)
        try:
            os.makedirs(root, exist_ok=True)
            probe = os.path.join(root, ".ab_check")
            with open(probe, "w") as f:
                f.write("ok")
            os.remove(probe)
            status = {"status": "SUCCEEDED"}
        except OSError as e:
            status = {"status": "FAILED", "message": str(e)}
        return {"type": "CONNECTION_STATUS", "connectionStatus": status}

    def write(
        self, config: dict, catalog: dict, messages: Iterable[dict]
    ) -> Iterator[dict]:
        """Consume RECORD/STATE messages; yield each STATE back only after
        every record that preceded it is durably committed."""
        streams = parse_catalog(catalog)
        buffers: dict[str, list[dict]] = {n: [] for n in streams}
        for msg in messages:
            t = msg.get("type")
            if t == "RECORD":
                rec = msg["record"]
                name = rec.get("stream")
                if name not in streams:
                    continue  # unknown stream: ignored, as the reference logs+skips
                buffers[name].append(rec)
            elif t == "STATE":
                sid = _state_id(msg)
                for name, rows in buffers.items():
                    if rows:
                        self._flush(streams[name], rows, f"{name}:{sid}")
                        buffers[name] = []
                yield msg  # the ack: records before it are now durable
            # other types (LOG/TRACE/...) pass through unprocessed
        # tail flush: records after the last state (reference flushes them
        # too; without a closing state there is nothing to ack)
        for name, rows in buffers.items():
            if rows:
                self._flush(streams[name], rows, f"{name}:tail:{_rows_digest(rows)}")

    # ------------------------------------------------------------- plumbing

    def _table(self, scfg: StreamDest) -> LakeTable:
        path = os.path.join(self.root, scfg.name)
        if LakeTable.exists(path):
            return LakeTable(self.spark, path)
        fields = [StructField(n, _parse_type(t), True) for n, t in scfg.columns.items()]
        fields += [
            StructField("_airbyte_raw_id", StringType(), False),
            StructField("_airbyte_extracted_at", TimestampType(), True),
            StructField("_airbyte_meta", StringType(), True),
        ]
        if scfg.key_col == COMPOSITE_KEY_COL:
            fields.append(StructField(COMPOSITE_KEY_COL, StringType(), False))
        return LakeTable.create(
            self.spark,
            path,
            StructType(fields),
            primary_key=scfg.key_col,
            num_buckets=self.num_buckets,
            cursor_col=None,
            ts_col="_airbyte_extracted_at",
        )

    def _typed_batch(self, scfg: StreamDest, rows: list[dict], batch_id: str) -> DataFrame:
        payload = [
            (
                json.dumps(r.get("data", {}), sort_keys=True),
                int(r.get("emitted_at", 0)),
                hashlib.md5(f"{batch_id}:{i}".encode()).hexdigest(),
            )
            for i, r in enumerate(rows)
        ]
        df = self.spark.createDataFrame(
            payload, "_airbyte_data string, _emitted_ms long, _airbyte_raw_id string"
        )
        typed = schema_extract(df, "_airbyte_data", scfg.columns, errors_col="_err")
        out_cols = [
            *[F.col(c) for c in scfg.columns.keys()],
            F.col("_airbyte_raw_id"),
            F.timestamp_millis(F.col("_emitted_ms")).alias("_airbyte_extracted_at"),
            F.to_json(
                F.struct(
                    F.when(
                        F.coalesce(F.col("_err"), F.lit("")) == "",
                        F.array().cast("array<string>"),
                    )
                    .otherwise(F.split(F.col("_err"), ","))
                    .alias("errors")
                )
            ).alias("_airbyte_meta"),
        ]
        if scfg.key_col == COMPOSITE_KEY_COL:
            # null-safe deterministic composite key: to_json keeps NULL
            # components distinct from string lookalikes; narrow projection,
            # computed once at ingest so every downstream bucket/merge/scan
            # keys on one 32-char column instead of N-column comparisons
            out_cols.append(
                F.md5(
                    F.to_json(F.struct(*[F.col(c) for c in scfg.primary_key]))
                ).alias(COMPOSITE_KEY_COL)
            )
        return typed.select(*out_cols)

    def _flush(self, scfg: StreamDest, rows: list[dict], batch_id: str) -> None:
        table = self._table(scfg)
        bid = hashlib.md5(batch_id.encode()).hexdigest()[:20]
        if table.find_batch(bid) is not None:
            return  # platform re-delivered an already-durable batch
        batch = self._typed_batch(scfg, rows, bid)
        summary = {"operation": f"dest-{scfg.sync_mode}", "batch_id": bid}
        if scfg.sync_mode == "overwrite" and scfg.name not in self._overwritten:
            # full refresh: the FIRST flush of this invocation replaces the
            # table (IcebergConsumer.java:160-195 temp->final overwrite)
            self._overwritten.add(scfg.name)
            table.write_and_commit(
                batch,
                replace_buckets=range(table.snapshot().spec["num_buckets"]),
                summary=summary,
            )
            return
        if scfg.sync_mode == "append_dedup":
            self._merge_dedup(table, scfg, batch, summary)
            return
        table.write_and_commit(batch, replace_buckets=None, summary=summary)

    def _merge_dedup(
        self, table: LakeTable, scfg: StreamDest, batch: DataFrame, summary: dict
    ) -> None:
        """Bucket-scoped CoW LWW merge on the configured PK: read only the
        buckets the batch touches, keep the winner per key by (cursor DESC
        NULLS LAST, extracted_at DESC, raw_id DESC) — the incremental
        append-dedup final-table contract
        (docs/.../incremental-append-deduped.md:14-20). ``lww_dedup``'s
        order struct puts a NULL cursor lowest, and ``_airbyte_raw_id`` is
        unique, so its max is exactly that window's first row. Composite
        keys dedup on the synthesized hash column — one 32-char key, same
        plan shape as a single-column pk."""
        pk = scfg.key_col
        batch = batch.persist()
        try:
            affected = table.key_buckets(batch)
            if not affected:
                return
            cols = table.snapshot().schema.fieldNames()
            combined = table.scan(buckets=affected).select(*cols).unionByName(
                batch.select(*cols)
            )
            order = (scfg.cursor_field,) if scfg.cursor_field else ()
            order += ("_airbyte_extracted_at", "_airbyte_raw_id")
            winners = lww_dedup(combined, key=pk, order_cols=order)
            table.write_and_commit(
                winners.select(*cols), replace_buckets=affected, summary=summary
            )
        finally:
            batch.unpersist()


def _parse_type(sql_type: str):
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(sql_type)


def _state_id(msg: dict) -> str:
    body = msg.get("state", msg)
    return hashlib.md5(json.dumps(body, sort_keys=True).encode()).hexdigest()


def _rows_digest(rows: list[dict]) -> str:
    h = hashlib.md5()
    for r in rows:
        h.update(json.dumps(r.get("data", {}), sort_keys=True).encode())
        h.update(str(r.get("emitted_at", 0)).encode())
    return h.hexdigest()


def run(
    argv: list[str],
    spark: SparkSession | None = None,
    messages: Iterable[dict] | None = None,
    out=None,
) -> int:
    """CLI shell: ``spec | check --config c.json | write --config c.json
    --catalog cat.json`` with messages on stdin (JSONL), mirroring
    Destination.run/parse_args (destination.py:53-126). ``messages``/``out``
    are injectable for tests."""
    import argparse
    import sys

    out = out or sys.stdout
    p = argparse.ArgumentParser(prog="airbyte-spark-destination")
    sub = p.add_subparsers(dest="command", required=True)
    sub.add_parser("spec")
    pc = sub.add_parser("check")
    pc.add_argument("--config", required=True)
    pw = sub.add_parser("write")
    pw.add_argument("--config", required=True)
    pw.add_argument("--catalog", required=True)
    a = p.parse_args(argv)

    if a.command == "spec":
        print(json.dumps(SPEC), file=out)
        return 0
    config = json.load(open(a.config))
    if spark is None:
        from airbyte_spark.session import get_spark

        spark = get_spark()
    dest = LakeDestination(
        spark, config["root"], num_buckets=int(config.get("num_buckets", 16))
    )
    if a.command == "check":
        print(json.dumps(dest.check(config)), file=out)
        return 0
    catalog = json.load(open(a.catalog))
    if messages is None:
        messages = (
            json.loads(line)
            for line in sys.stdin
            if line.strip()
        )
    for msg in dest.write(config, catalog, messages):
        print(json.dumps(msg), file=out)
    return 0
