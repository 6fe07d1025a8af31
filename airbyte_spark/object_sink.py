"""Object-storage destination: path-templated file objects per stream with
per-batch manifests — the reference's ``destination-s3`` family re-expressed
Spark-first.

Reference parity (semantics, not code):
- ``destination-s3``'s layout ``<bucket>/<namespace>/<stream>/<upload-date>_
  <epoch>_<part>.<ext>`` with CSV / JSONL (optionally gzip) and Parquet
  formats (``destination-s3/src/main/.../S3DestinationConfig.java``,
  ``template/s3/...``). Here: one Spark distributed write per batch — the
  writer tasks produce the part files in parallel; there is no driver-side
  row loop.
- Warehouse staging destinations publish a COPY manifest listing the staged
  objects for ``COPY FROM`` (Redshift ``manifest`` format: ``{"entries":
  [{"url": ..., "mandatory": true}]}``) — ``copy_manifest()`` emits exactly
  that.
- Exactly-once across platform retries: every batch lands under an id the
  CALLER derives from the closing STATE message (same contract as
  ``destination.py``); a re-delivered batch id finds its manifest and skips.
  The manifest is written AFTER the objects (write-then-publish): a crash
  between leaves orphan files that the next attempt of the same batch id
  overwrites in place (same prefix), never double-counted — readers only
  trust manifests.
- ``overwrite`` sync mode is a generation swap, not a delete-then-write: the
  new batch's manifest marks a full replacement, readers resolve "the last
  overwrite manifest plus every append after it", and stale generations
  stay until ``vacuum()`` — the same pointer-swap discipline as the
  engine's refresh generations.

Scale: the data path is one ``df.write`` per batch (distributed, columnar
for parquet, text codecs for csv/jsonl with optional gzip); manifests are
one tiny JSON file per batch; reads plan from manifests only (no listing of
data prefixes).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from airbyte_spark.durable import write_json

_FORMATS = {"jsonl": "json", "csv": "csv", "parquet": "parquet"}
_EXT = {"jsonl": ".jsonl", "csv": ".csv", "parquet": ".parquet"}


@dataclass(frozen=True)
class ObjectSinkConfig:
    fmt: str = "jsonl"                 # jsonl | csv | parquet
    compression: str | None = None     # gzip (csv/jsonl) | snappy (parquet)
    csv_header: bool = True
    csv_delimiter: str = ","

    def __post_init__(self) -> None:
        if self.fmt not in _FORMATS:
            raise ValueError(f"fmt must be one of {sorted(_FORMATS)}: {self.fmt!r}")
        if self.compression == "gzip" and self.fmt == "parquet":
            raise ValueError("gzip is a text codec; parquet uses snappy/zstd")


class ObjectSink:
    """Per-stream object-file destination rooted at ``root``.

    Layout::

        <root>/<stream>/objects/<batch_seq>_<batch_id>/part-*.<ext>[.gz]
        <root>/<stream>/_manifests/<seq>_<batch_id>.json

    ``batch_seq`` is the zero-padded manifest ordinal — deterministic and
    monotonic, so object paths sort in commit order without wall-clock
    timestamps (replays stay bit-identical).
    """

    def __init__(self, spark: SparkSession, root: str,
                 cfg: ObjectSinkConfig | None = None) -> None:
        self.spark = spark
        self.root = root.rstrip("/")
        self.cfg = cfg or ObjectSinkConfig()

    # ------------------------------------------------------------ layout
    def _stream_root(self, stream: str) -> str:
        return os.path.join(self.root, stream)

    def _manifest_dir(self, stream: str) -> str:
        return os.path.join(self._stream_root(stream), "_manifests")

    def _manifests(self, stream: str) -> list[dict]:
        mdir = self._manifest_dir(stream)
        if not os.path.isdir(mdir):
            return []
        out = []
        for name in sorted(os.listdir(mdir)):
            if name.endswith(".json"):
                with open(os.path.join(mdir, name)) as f:
                    out.append(json.load(f))
        return out

    def find_batch(self, stream: str, batch_id: str) -> dict | None:
        for m in self._manifests(stream):
            if m["batch_id"] == batch_id:
                return m
        return None

    # ------------------------------------------------------------- write
    def write_batch(
        self,
        df: DataFrame,
        stream: str,
        batch_id: str,
        sync_mode: str = "append",
    ) -> dict:
        """Write one batch of records as objects + publish its manifest.
        Returns the manifest dict; a re-delivered ``batch_id`` returns the
        existing manifest without writing (idempotent)."""
        if sync_mode not in ("append", "overwrite"):
            raise ValueError(f"sync_mode must be append|overwrite: {sync_mode!r}")
        if df.isStreaming:
            raise ValueError("ObjectSink.write_batch takes batch DataFrames; "
                             "drive streams through foreachBatch epochs")
        existing = self.find_batch(stream, batch_id)
        if existing is not None:
            return existing
        seq = len(self._manifests(stream))
        prefix = f"{seq:06d}_{batch_id}"
        obj_dir = os.path.join(self._stream_root(stream), "objects", prefix)
        if os.path.isdir(obj_dir):            # crashed earlier attempt
            shutil.rmtree(obj_dir)

        w = df.write.mode("overwrite")
        fmt = _FORMATS[self.cfg.fmt]
        if self.cfg.fmt == "csv":
            w = w.option("header", str(self.cfg.csv_header).lower())
            w = w.option("delimiter", self.cfg.csv_delimiter)
        if self.cfg.compression:
            w = w.option("compression", self.cfg.compression)
        w.format(fmt).save(obj_dir)

        files = sorted(
            os.path.join(obj_dir, f)
            for f in os.listdir(obj_dir)
            if f.startswith("part-")
        )
        # row count from the WRITTEN objects (parquet: footer metadata only),
        # never a second evaluation of the input plan
        rb = self.spark.read
        if self.cfg.fmt == "csv":
            rb = rb.option("header", str(self.cfg.csv_header).lower())
            rb = rb.option("delimiter", self.cfg.csv_delimiter)
        n_rows = rb.format(fmt).load(obj_dir).count()
        manifest = {
            "batch_id": batch_id,
            "seq": seq,
            "stream": stream,
            "sync_mode": sync_mode,
            "format": self.cfg.fmt,
            "compression": self.cfg.compression,
            "objects": [os.path.relpath(p, self.root) for p in files],
            "rows": n_rows,
        }
        mdir = self._manifest_dir(stream)
        os.makedirs(mdir, exist_ok=True)
        write_json(os.path.join(mdir, f"{prefix}.json"), manifest)  # atomic publish
        return manifest

    # -------------------------------------------------------------- read
    def live_manifests(self, stream: str) -> list[dict]:
        """Manifests that contribute to the current state: everything after
        (and including) the LAST overwrite; all of history when none."""
        ms = self._manifests(stream)
        last_ow = max(
            (i for i, m in enumerate(ms) if m["sync_mode"] == "overwrite"),
            default=None,
        )
        return ms if last_ow is None else ms[last_ow:]

    def read(self, stream: str) -> DataFrame:
        """DataFrame over the stream's LIVE objects (manifest-planned — no
        directory listing of the data prefixes)."""
        live = self.live_manifests(stream)
        paths = [os.path.join(self.root, o) for m in live for o in m["objects"]]
        if not paths:
            raise FileNotFoundError(f"no live objects for stream {stream!r}")
        fmt = live[-1]["format"]
        r = self.spark.read
        if fmt == "csv":
            r = r.option("header", str(self.cfg.csv_header).lower())
            r = r.option("delimiter", self.cfg.csv_delimiter)
            r = r.option("inferSchema", "true")
        return r.format(_FORMATS[fmt]).load(paths)

    def copy_manifest(self, stream: str, url_prefix: str = "") -> dict:
        """Redshift-style COPY manifest over the live objects:
        ``{"entries": [{"url": <prefix>/<object>, "mandatory": true}]}`` —
        what a warehouse ``COPY FROM ... MANIFEST`` consumes after staging."""
        return {
            "entries": [
                {"url": f"{url_prefix}{o}", "mandatory": True}
                for m in self.live_manifests(stream)
                for o in m["objects"]
            ]
        }

    # ------------------------------------------------------------ vacuum
    def vacuum(self, stream: str) -> int:
        """Delete object dirs no live manifest references (stale overwrite
        generations, orphans from crashed attempts). Returns dirs removed."""
        objroot = os.path.join(self._stream_root(stream), "objects")
        if not os.path.isdir(objroot):
            return 0
        live_dirs = {
            os.path.dirname(o).split("/")[-1]
            for m in self.live_manifests(stream)
            for o in m["objects"]
        }
        removed = 0
        for d in sorted(os.listdir(objroot)):
            if d not in live_dirs:
                shutil.rmtree(os.path.join(objroot, d))
                removed += 1
        return removed
