"""Multi-table WAL demux — ONE change stream, N tables, ONE shared offset.

Reference semantics: a Debezium CDC source tails a single binlog/WAL that
interleaves every table's changes, and sync state is GLOBAL — one shared
WAL position plus per-stream states (airbyte-protocol.md:491-511;
MySqlCdcStateHandler.java:38-63 stores the offset once for the whole
connection, not per table; DebeziumRecordIterator hands each record to its
stream by source table). ``catalog.py`` covers the independent-sources
case; this module covers the shared-WAL case, where the offset can only
advance once EVERY table has durably applied the window.

Spark-first shape: the WAL window is scanned ONCE and persisted; each
stream's slice is a filter on the routing column over that cached window
(no re-scan per table). Per-table commits stay idempotent via batch ids in
snapshot summaries, so a crash between table commits inside one window
resumes exactly: already-committed tables skip, the rest apply, and only
then does the shared offset advance. Routing values with no configured
stream are counted and surfaced — never silently dropped
(``on_unrouted="error"|"skip"``).

Scale notes: the per-window persisted slice is the same memory budget as
the single-stream engine's prefetched batch; the routing groupBy-count is
one tiny aggregate (≤ streams rows) reusing the cached slice. Each table's
merge then proceeds exactly as the single-stream engine (bucket-pruned CoW
/ MoR delta dispatch), so demux adds zero extra exchanges over syncing the
tables separately — it removes N-1 WAL scans per window.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbyte_spark.checkpoint import Checkpoint, load_checkpoint, save_checkpoint
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import CdcEngine, OffsetLossError
from airbyte_spark.lineage import log_metric


class UnroutedRecordsError(RuntimeError):
    """The WAL window contains records for a table not in the catalog."""


class DemuxEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        streams: list[StreamConfig],
        stream_col: str = "_ab_stream",
        cfg: EngineConfig | None = None,
        on_unrouted: str = "error",
    ):
        names = [s.name for s in streams]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stream names: {names}")
        if on_unrouted not in ("error", "skip"):
            raise ValueError("on_unrouted must be 'error' or 'skip'")
        self.spark = spark
        self.root = root
        self.stream_col = stream_col
        self.streams = list(streams)
        self.on_unrouted = on_unrouted
        from airbyte_spark.catalog import _stream_root

        self.engines: dict[str, CdcEngine] = {
            s.name: CdcEngine(spark, _stream_root(root, s), s, cfg)
            for s in streams
        }
        # the GLOBAL shared WAL position — reuses the Checkpoint doc; only
        # its shared_state (max_committed_lsn/target) matters here, the
        # per-table states live in each engine's own checkpoint.
        self.state_path = os.path.join(root, "demux_state.json")
        os.makedirs(root, exist_ok=True)
        # cross-table consistent reads: same pin-doc store as CatalogEngine
        # (see catalog.py module docstring) — a pin is committed only at the
        # window barrier (bootstrap / replay end), where every table has
        # durably applied the same WAL prefix, so read() can never observe
        # table A ahead of table B inside a window.
        from airbyte_spark.catalog import CatalogSnapshotStore

        self.snapshots = CatalogSnapshotStore(os.path.join(root, "catalog_snapshots"))

    def engine(self, name: str) -> CdcEngine:
        return self.engines[name]

    def create_tables(self) -> None:
        from airbyte_spark.lake.table import LakeTable

        for eng in self.engines.values():
            if not LakeTable.exists(eng.table_root):
                eng.create_table()

    def bootstrap(self, seeds: dict[str, DataFrame]) -> None:
        for name, seed in seeds.items():
            self.engines[name].bootstrap(seed)
        self._commit_catalog_snapshot("bootstrap")

    # ------------------------------------------------------------------ sync

    def replay(
        self,
        changelog: DataFrame | str,
        batch_events: int | None = None,
        max_batches: int | None = None,
    ) -> dict:
        """Windowed replay of the shared WAL into every configured table.

        The shared offset advances strictly after ALL tables commit the
        window; per-table batch-id idempotence makes mid-window crashes
        resume without loss or duplication.
        """
        source = (
            self.spark.read.parquet(changelog)
            if isinstance(changelog, str)
            else changelog
        )
        if self.stream_col not in source.columns:
            raise ValueError(f"changelog lacks routing column {self.stream_col!r}")
        sub_schema = source.drop(self.stream_col).schema
        for eng in self.engines.values():
            eng._assert_bootstrap_complete()
            eng._maybe_evolve_schema(sub_schema)
        batch_events = batch_events or next(
            iter(self.engines.values())
        ).cfg.batch_events

        shared = load_checkpoint(self.state_path) or Checkpoint()
        last = shared.max_committed_lsn
        mn, target = source.agg(F.min("lsn"), F.max("lsn")).first()
        # Offset-loss detection must be encoding-aware: packed LSNs
        # (canal id<<16, wal2json commit<<16) are SPARSE, so the oldest
        # retained event after normal retention sits at (commit+1)<<bits —
        # far above last+1 with nothing lost. With lsn_align_bits set the
        # comparison runs on commit components; dense encodings keep the
        # strict last+1 rule.
        bits = next(iter(self.engines.values())).cfg.lsn_align_bits or 0
        lost = (
            last > 0
            and mn is not None
            and ((mn >> bits) > (last >> bits) + 1 if bits else mn > last + 1)
        )
        if lost:
            log_metric("demux_offset_lost", last_committed_lsn=last, min_lsn=mn)
            raise OffsetLossError(
                f"shared offset {last} predates oldest retained event {mn}"
            )
        if target is None or target <= last:
            log_metric("demux_noop", last_committed_lsn=last, target_lsn=target)
            return {"batches": 0, "events": 0, "last_committed_lsn": last}
        shared.target_lsn = target
        save_checkpoint(self.state_path, shared)

        known = list(self.engines)
        t0 = time.monotonic()
        per_stream = {n: 0 for n in known}
        unrouted_total = 0
        n_windows = 0
        # window bounds via the engine's dense/sparse-aware splitter: a
        # sparse LSN encoding (Postgres byte offsets, canal/wal2json
        # commit<<bits packings) would turn the arithmetic lo+batch_events
        # loop into millions of empty windows — the same fix the
        # single-engine replay carries (CdcEngine._lsn_windows: event-count
        # quantile boundaries past engine._MAX_ARITHMETIC_WINDOWS). Any
        # ascending bounds ending at target are correct; resume recomputes
        # over remaining events only.
        bounds, _ = next(iter(self.engines.values()))._lsn_windows(
            source, last, target, batch_events
        )
        lo = last
        for hi in bounds:
            window = source.filter(
                (F.col("lsn") > lo) & (F.col("lsn") <= hi)
            ).persist()
            try:
                counts = {
                    r[0]: r[1]
                    for r in window.groupBy(self.stream_col).count().collect()
                }
                unrouted = {
                    k: v for k, v in counts.items() if k not in self.engines
                }
                if unrouted:
                    log_metric(
                        "demux_unrouted",
                        start_lsn=lo,
                        end_lsn=hi,
                        streams={str(k): int(v) for k, v in unrouted.items()},
                    )
                    if self.on_unrouted == "error":
                        raise UnroutedRecordsError(
                            f"window ({lo},{hi}] has records for unconfigured "
                            f"table(s) {sorted(map(str, unrouted))}"
                        )
                    unrouted_total += sum(unrouted.values())
                for name in known:  # deterministic catalog order
                    if counts.get(name, 0) == 0:
                        continue
                    sub = window.filter(
                        F.col(self.stream_col) == name
                    ).drop(self.stream_col)
                    applied = self.engines[name].apply_range(sub, lo, hi)
                    per_stream[name] += applied
            finally:
                window.unpersist()
            # every table durably committed (or skipped idempotently):
            # NOW the shared WAL position may advance.
            shared.max_committed_lsn = hi
            shared.note_batch(f"demux-{lo}-{hi}")
            save_checkpoint(self.state_path, shared)
            lo = hi
            n_windows += 1
            if max_batches is not None and n_windows >= max_batches:
                break

        wall = time.monotonic() - t0
        stats = {
            "batches": n_windows,
            "events": sum(per_stream.values()),
            "per_stream": per_stream,
            "unrouted": unrouted_total,
            "wall_s": round(wall, 3),
            "last_committed_lsn": shared.max_committed_lsn,
        }
        # all tables are at the same WAL prefix here (window barrier):
        # publish ONE pin for consistent cross-table reads. A crashed replay
        # pins nothing — readers keep the previous coherent view while the
        # per-table progress stays durable for resume.
        if n_windows > 0:
            self._commit_catalog_snapshot("replay")
        log_metric("demux_done", **stats)
        return stats

    # ----------------------------------------------- consistent reads

    def _commit_catalog_snapshot(self, op: str) -> int:
        from airbyte_spark.catalog import _published_pins

        return self.snapshots.commit(_published_pins(self.streams, self.engines), op)

    def read(self, stream: str, catalog_version: int | None = None, buckets=None) -> DataFrame:
        """Version-pinned scan THROUGH a catalog snapshot: reads of multiple
        demuxed tables at one catalog_version all observe the same fully
        committed WAL prefix, never a half-applied window."""
        return self.snapshots.pinned_read(self.engines, stream, catalog_version, buckets)

    def state(self) -> dict | None:
        ckpt = load_checkpoint(self.state_path)
        if ckpt is None:
            return None
        from airbyte_spark.catalog import _descriptor as _desc
        from airbyte_spark.checkpoint import load_checkpoint as _lc

        return {
            "type": "GLOBAL",
            "global": {
                "shared_state": ckpt.to_json()["shared_state"],
                "stream_states": [
                    {
                        "stream_descriptor": _desc(s),
                        "stream_state": (
                            c.to_json()
                            if (c := _lc(self.engines[s.name].checkpoint_path))
                            else None
                        ),
                    }
                    for s in self.streams
                ],
            },
        }
