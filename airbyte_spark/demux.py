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

One front door with the single-stream engine: the same changelog reader,
the lead engine's window planner over the shared offset, and each slice
admitted by ``CdcEngine.apply_range`` exactly as ``CdcEngine.replay``
admits its rows (mappers, bootstrap check, schema evolution). The router
(:meth:`DemuxEngine._route`) also serves the Structured-Streaming demux.

Scale notes: the per-window persisted slice is the same memory budget as
the single-stream engine's read-ahead window; the routing groupBy-count is
one tiny aggregate (≤ streams rows) reusing the cached slice. Each table's
merge then takes the single-stream engine's batch path (bucket-pruned CoW
/ MoR delta dispatch), so demux adds zero extra exchanges over syncing the
tables separately — it removes N-1 WAL scans per window.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airbyte_spark.catalog import (
    CatalogSnapshotStore,
    _descriptor,
    _published_pins,
    _stream_root,
)
from airbyte_spark.checkpoint import Checkpoint, advance_checkpoint, load_checkpoint
from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.engine import (  # noqa: F401 (OffsetLossError re-export)
    CdcEngine,
    OffsetLossError,
    _lsn_range,
    read_changelog,
)
from airbyte_spark.lake.table import LakeTable
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
        self.snapshots = CatalogSnapshotStore(os.path.join(root, "catalog_snapshots"))

    def engine(self, name: str) -> CdcEngine:
        return self.engines[name]

    def create_tables(self) -> None:
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
        source = read_changelog(self.spark, changelog)
        if self.stream_col not in source.columns:
            raise ValueError(f"changelog lacks routing column {self.stream_col!r}")
        # admit every table before any window commits; apply_range
        # re-admits each slice, a no-op by then
        sub = source.drop(self.stream_col)
        for eng in self.engines.values():
            eng._admit(sub)
        lead = next(iter(self.engines.values()))
        batch_events = batch_events or lead.cfg.batch_events

        shared = load_checkpoint(self.state_path) or Checkpoint()
        last = shared.max_committed_lsn
        # the lead engine's planner over the SHARED offset; any ascending
        # bounds ending at target are correct, and resume recomputes over
        # remaining events only
        bounds, _, _ = lead._plan_windows(source, shared, self.state_path, batch_events)
        if not bounds:
            return {"batches": 0, "events": 0, "last_committed_lsn": last}

        t0 = time.monotonic()
        per_stream = {n: 0 for n in self.engines}
        unrouted_total = 0
        n_windows = 0
        lo = last
        for hi in bounds:
            applied, unrouted = self._route(
                _lsn_range(source, lo, hi),
                lambda eng, rows: eng.apply_range(rows, lo, hi),
                f"window ({lo},{hi}]",
                start_lsn=lo,
                end_lsn=hi,
            )
            for name, n in applied.items():
                per_stream[name] += n
            unrouted_total += unrouted
            # every table durably committed (or skipped idempotently):
            # NOW the shared WAL position may advance.
            advance_checkpoint(self.state_path, hi, f"demux-{lo}-{hi}")
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
            "last_committed_lsn": lo,
        }
        # all tables are at the same WAL prefix here (window barrier):
        # publish ONE pin for consistent cross-table reads. A crashed replay
        # pins nothing — readers keep the previous coherent view while the
        # per-table progress stays durable for resume.
        if n_windows > 0:
            self._commit_catalog_snapshot("replay")
        log_metric("demux_done", **stats)
        return stats

    def _route(
        self,
        batch: DataFrame,
        apply: Callable[[CdcEngine, DataFrame], int],
        label: str,
        **where,
    ) -> tuple[dict[str, int], int]:
        """The one router for a demux window or stream epoch: route counts
        over the persisted ``batch``, unrouted values raised or counted per
        ``on_unrouted``, then each table's slice handed to ``apply(engine,
        rows)`` in catalog order. ``label``/``where`` name the batch in the
        error and metric. Returns (rows applied per table, unrouted rows)."""
        batch = batch.persist()
        try:
            counts = {
                r[0]: r[1] for r in batch.groupBy(self.stream_col).count().collect()
            }
            unrouted = {k: v for k, v in counts.items() if k not in self.engines}
            if unrouted:
                log_metric(
                    "demux_unrouted",
                    **where,
                    streams={str(k): int(v) for k, v in unrouted.items()},
                )
                if self.on_unrouted == "error":
                    raise UnroutedRecordsError(
                        f"{label} has records for unconfigured "
                        f"table(s) {sorted(map(str, unrouted))}"
                    )
            applied = {}
            for name, eng in self.engines.items():
                if counts.get(name, 0) == 0:
                    continue
                rows = batch.filter(F.col(self.stream_col) == name).drop(
                    self.stream_col
                )
                applied[name] = apply(eng, rows)
            return applied, sum(unrouted.values())
        finally:
            batch.unpersist()

    # ----------------------------------------------- consistent reads

    def _commit_catalog_snapshot(self, op: str) -> int:
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
        return {
            "type": "GLOBAL",
            "global": {
                "shared_state": ckpt.to_json()["shared_state"],
                "stream_states": [
                    {
                        "stream_descriptor": _descriptor(s),
                        "stream_state": (
                            c.to_json()
                            if (c := load_checkpoint(self.engines[s.name].checkpoint_path))
                            else None
                        ),
                    }
                    for s in self.streams
                ],
            },
        }
