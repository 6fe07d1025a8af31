"""Multi-stream catalog orchestration — the configured-catalog sync loop.

Reference semantics: ``AbstractSource.read`` loops the configured catalog's
streams sequentially, restoring each stream's state from the consolidated
state input and emitting updated per-stream states as it goes
(airbyte_cdk/python/airbyte_cdk/sources/abstract_source.py:89-157);
``ConnectorStateManager`` consolidates legacy/global/per-stream state
shapes into one document (connector_state_manager.py:25-46). A failure in
one stream does not invalidate the others' progress.

Spark-first: each stream is an independent ``CdcEngine`` (own lake table +
own durable checkpoint = the per-stream state), and the catalog engine
maintains the consolidated GLOBAL-state analog ``catalog_state.json`` —
shared info + every stream's state in ONE document — refreshed after each
stream sync. Resume is per-stream: a partially-synced catalog re-run skips
each stream's already-applied ranges independently (batch-id idempotence),
so interleaved/partial failures never cross-contaminate.

Cross-stream read consistency — catalog snapshots: per-stream checkpoints
make WRITES independent, but a reader joining two streams mid-sync (or
after a partially-failed sync) could otherwise see stream A at its new
version against stream B at its old one. After every fully-successful
catalog operation the engine commits a CATALOG SNAPSHOT — one atomic JSON
doc pinning every stream to its published table version — and ``read()``
routes through the latest (or any retained) catalog snapshot via the lake
table's existing version-pinned scan. A partially-failed sync commits NO
catalog snapshot: the finished streams' progress is durable and resumable,
but consistent readers keep seeing the previous coherent cross-stream
state until the catalog completes. This is the multi-table-transaction
semantics an Iceberg REST/Nessie catalog layers over per-table commits;
the reference's GLOBAL state message (airbyte-protocol.md:491-511) carries
the same all-streams-at-one-WAL-position intent on the state side.
Staged (write-audit-publish) commits are never pinned: snapshots pin
``published_version()``, so an unaudited WAP build cannot leak into a
consistent read.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from airbyte_spark.config import EngineConfig, StreamConfig
from airbyte_spark.durable import write_json
from airbyte_spark.engine import CdcEngine
from airbyte_spark.lineage import log_metric


def _stream_root(root: str, s: StreamConfig) -> str:
    """Lake-table root for a stream: namespaced streams land under a
    namespace subdirectory — the destination-schema analog of the
    protocol's stream_descriptor.namespace."""
    if s.namespace:
        if os.sep in s.namespace or s.namespace in (".", ".."):
            raise ValueError(f"invalid namespace {s.namespace!r}")
        return os.path.join(root, "streams", s.namespace, s.name)
    return os.path.join(root, "streams", s.name)


def _descriptor(s: StreamConfig) -> dict:
    d = {"name": s.name}
    if s.namespace:
        d["namespace"] = s.namespace
    return d


class CatalogSnapshotStore:
    """Atomic ``{stream -> table_version}`` pin documents on disk — the
    storage primitive behind catalog snapshots. Single-writer per directory
    (same contract as the engine checkpoint); tmp+rename keeps a crashed
    commit invisible. Shared by ``CatalogEngine`` (independent sources) and
    ``DemuxEngine`` (shared-WAL fan-out)."""

    def __init__(self, snapshots_dir: str):
        self.dir = snapshots_dir
        os.makedirs(snapshots_dir, exist_ok=True)

    def commit(self, pins: dict[str, int], op: str) -> int:
        version = (self.versions() or [0])[-1] + 1
        doc = {
            "catalog_version": version,
            "committed_at_ms": int(time.time() * 1000),
            "op": op,
            "streams": pins,
        }
        write_json(os.path.join(self.dir, f"c{version}.json"), doc)
        log_metric("catalog_snapshot_committed", version=version, op=op, streams=len(pins))
        return version

    def versions(self) -> list[int]:
        return sorted(
            int(f[1:-5])
            for f in os.listdir(self.dir)
            if f.startswith("c") and f.endswith(".json")
        )

    def current(self) -> int:
        vs = self.versions()
        if not vs:
            raise FileNotFoundError(f"no catalog snapshots in {self.dir}")
        return vs[-1]

    def get(self, version: int | None = None) -> dict:
        v = self.current() if version is None else version
        with open(os.path.join(self.dir, f"c{v}.json")) as fh:
            return json.load(fh)

    def as_of(self, ts_ms: int) -> int:
        """Latest catalog snapshot committed at or before ``ts_ms`` — the
        catalog-level ``TIMESTAMP AS OF`` (same contract as the table's)."""
        best = None
        for v in self.versions():
            if self.get(v)["committed_at_ms"] <= ts_ms:
                best = v
            else:
                break
        if best is None:
            raise ValueError(f"no catalog snapshot at or before ts_ms={ts_ms}")
        return best

    def expire(self, keep_last: int) -> list[int]:
        vs = self.versions()
        expired = vs[:-keep_last] if keep_last >= 1 else []
        for v in expired:
            os.remove(os.path.join(self.dir, f"c{v}.json"))
        return expired

    def pinned_read(self, engines: dict, stream: str, catalog_version=None, buckets=None) -> DataFrame:
        snap = self.get(catalog_version)
        if stream not in snap["streams"]:
            raise KeyError(
                f"stream {stream!r} not pinned in catalog snapshot "
                f"{snap['catalog_version']} (table did not exist yet)"
            )
        return engines[stream].table.scan(
            buckets=buckets, version=snap["streams"][stream]
        )


def _published_pins(streams: list[StreamConfig], engines: dict) -> dict[str, int]:
    """Current published version of every stream whose table exists."""
    from airbyte_spark.lake.table import LakeTable

    return {
        s.name: engines[s.name].table.published_version()
        for s in streams
        if LakeTable.exists(engines[s.name].table_root)
    }


class CatalogEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        streams: list[StreamConfig],
        cfg: EngineConfig | None = None,
    ):
        names = [s.name for s in streams]
        if len(set(names)) != len(names):
            raise ValueError(f"duplicate stream names in catalog: {names}")
        self.spark = spark
        self.root = root
        self.streams = list(streams)
        self.engines: dict[str, CdcEngine] = {
            s.name: CdcEngine(spark, _stream_root(root, s), s, cfg)
            for s in streams
        }
        self.state_path = os.path.join(root, "catalog_state.json")
        self.snapshots = CatalogSnapshotStore(os.path.join(root, "catalog_snapshots"))

    def engine(self, name: str) -> CdcEngine:
        return self.engines[name]

    # ------------------------------------------------------------------ sync

    def create_tables(self) -> None:
        from airbyte_spark.lake.table import LakeTable

        for eng in self.engines.values():
            if not LakeTable.exists(eng.table_root):
                eng.create_table()

    def bootstrap(self, seeds: dict[str, DataFrame]) -> None:
        for name, seed in seeds.items():
            self.engines[name].bootstrap(seed)
        self._write_state()
        self._commit_catalog_snapshot("bootstrap")

    def sync(
        self,
        changelogs: dict[str, DataFrame | str],
        max_batches: int | None = None,
        concurrency: int = 1,
        commit_snapshot: bool = True,
    ) -> dict[str, dict]:
        """Per-stream incremental sync. Default is the reference's
        sequential stream loop; ``concurrency > 1`` runs streams in a
        bounded thread pool — the stream-level analog of the reference's
        concurrent source (airbyte_cdk/python/airbyte_cdk/sources/
        concurrent_source/concurrent_source.py:74-146, a thread pool over
        per-stream partition readers). Spark schedules concurrent actions
        from multiple threads natively; each stream is an independent
        engine (own table, own checkpoint), so no state is shared beyond
        the consolidated doc, which is written under a lock.

        Returns per-stream replay stats; consolidated state is refreshed
        after EVERY stream completion so a crash mid-catalog leaves the
        finished streams' progress recorded. Failure isolation (both
        modes, matching the reference contract that one stream's failure
        never invalidates the others): every selected stream is attempted
        — including when a consolidated-state WRITE fails (the stream's
        own checkpoint is already durable; only the summary doc is stale).
        Failures land in the result as ``{"error": ...}`` and ONE
        RuntimeError naming the failed streams is raised at the end, with
        the successful streams' commits and state intact; the original
        exception objects are preserved on its ``stream_errors`` dict (and
        the first is its ``__cause__``) so callers can still dispatch on
        typed errors like ``OffsetLossError``/``CursorChangeError`` to run
        the documented resync/soft-reset recovery. Unknown stream names
        raise; streams without a changelog entry are skipped (unselected
        in the configured catalog)."""
        import threading

        unknown = set(changelogs) - set(self.engines)
        if unknown:
            raise KeyError(f"changelog for unconfigured stream(s): {sorted(unknown)}")
        selected = [s.name for s in self.streams if s.name in changelogs]
        results: dict[str, dict] = {}
        errors: dict[str, Exception] = {}
        lock = threading.Lock()
        t0 = time.monotonic()

        def _one(name: str) -> None:
            try:
                stats = self.engines[name].replay(
                    changelogs[name], max_batches=max_batches
                )
                with lock:
                    results[name] = stats
                    self._write_state()
            except Exception as e:  # isolate: other streams keep their progress
                with lock:
                    results[name] = {"error": f"{type(e).__name__}: {e}"}
                    errors[name] = e

        if concurrency <= 1:
            for name in selected:  # deterministic catalog order
                _one(name)
        else:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=concurrency) as pool:
                list(pool.map(_one, selected))
        log_metric(
            "catalog_sync_done",
            streams=len(results),
            failed=len(errors),
            wall_ms=int((time.monotonic() - t0) * 1000),
        )
        if errors:
            # No catalog snapshot: finished streams' progress is durable
            # (their own checkpoints + tables), but consistent readers keep
            # the previous coherent cross-stream view until a full sync.
            failed = sorted(errors)
            err = RuntimeError(
                f"catalog sync failed for stream(s) {failed}: "
                + "; ".join(f"{n}: {results[n]['error']}" for n in failed)
            )
            err.stream_errors = errors  # typed originals for caller dispatch
            raise err from errors[failed[0]]
        if selected and commit_snapshot:
            self._commit_catalog_snapshot("sync")
        return results

    def sync_transaction(
        self,
        changelogs: dict[str, DataFrame | str],
        audits: dict[str, list[dict]] | None = None,
        max_batches: int | None = None,
        concurrency: int = 1,
    ) -> tuple[bool, dict[str, object]]:
        """Atomic multi-stream sync: multi-table write-audit-publish.

        All selected streams replay as STAGED commits (each engine's WAP
        path), per-stream ``audits`` specs (airbyte_spark/audits.py) run
        against every staged state, and then EITHER every stream publishes
        and ONE catalog snapshot commits — the transaction's visibility
        point for consistent readers — OR every stream abandons (staged
        commits reverted, checkpoints rewound so the whole LSN range
        replays next attempt). A replay failure or an audit failure in ANY
        stream rejects the WHOLE transaction: strictly stronger than
        ``sync``'s per-stream isolation, for pipelines where cross-stream
        consistency matters more than partial progress (the Nessie /
        Iceberg-REST multi-table-transaction semantic, with the catalog
        pointer as the commit point).

        Returns ``(published, results)`` — ``results`` holds per-stream
        replay stats plus, under ``"_audits"``, the per-stream
        AuditResult lists. Replay ERRORS raise (after the rollback), like
        ``sync``; audit REJECTION returns ``(False, results)``, like
        ``CdcEngine.audit_and_publish``.

        Crash safety: staged commits are durable but invisible to
        published/catalog readers. A crash before the publish loop →
        re-running the transaction resumes (batch-id idempotence skips
        applied staged batches). A crash DURING the publish loop →
        per-table heads flip one at a time, so direct-table readers may
        briefly see a subset published, but catalog-pinned readers keep
        the previous coherent view until the final snapshot commits;
        re-running publishes the remainder idempotently. Pre-existing
        staged commits on any selected stream raise — the transaction
        must own the entire staged range it might abandon."""
        from airbyte_spark.lake.table import LakeTable

        unknown = set(changelogs) - set(self.engines)
        if unknown:  # same contract as sync(): never silently drop a stream
            raise KeyError(f"changelog for unconfigured stream(s): {sorted(unknown)}")
        bad_audits = set(audits or {}) - set(changelogs)
        if bad_audits:  # validate BEFORE staging anything, not mid-transaction
            raise KeyError(f"audits for unselected stream(s): {sorted(bad_audits)}")
        selected = [s.name for s in self.streams if s.name in changelogs]
        for name in selected:
            eng = self.engines[name]
            pre = (
                eng.table.staged_versions()
                if LakeTable.exists(eng.table_root)
                else []
            )
            if pre:
                raise RuntimeError(
                    f"stream {name!r} already has staged commits {pre}; "
                    "publish or abandon them before a transaction"
                )
        import dataclasses

        # EngineConfig is frozen: swap each engine's config for a staged
        # twin for the duration of the transaction, restore after
        originals = {n: self.engines[n].cfg for n in selected}
        for n in selected:
            self.engines[n].cfg = dataclasses.replace(
                originals[n], stage_commits=True
            )
        t0 = time.monotonic()

        def _abandon_all() -> None:
            # Roll back EVERY stream, not just failed ones. Per-stream
            # guard: a rollback of the others must never be skipped (or
            # the original error masked) because one stream's table is
            # missing or its abandon throws.
            for n in selected:
                eng = self.engines[n]
                try:
                    if LakeTable.exists(eng.table_root):
                        eng.abandon_staged()
                except Exception as e:  # noqa: BLE001 — logged, not raised
                    log_metric(
                        "catalog_txn_abandon_failed", stream=n, error=str(e)
                    )
            # abandon rewinds checkpoints — the consolidated GLOBAL state
            # doc must follow, or a consumer emitting it upstream lets the
            # source purge WAL for a range that was rolled back
            self._write_state()
            log_metric("catalog_txn_rolled_back", streams=len(selected))

        try:
            try:
                results: dict[str, object] = dict(
                    self.sync(
                        {k: changelogs[k] for k in selected},
                        max_batches=max_batches,
                        concurrency=concurrency,
                        commit_snapshot=False,
                    )
                )
                audit_results: dict[str, list] = {}
                failed: dict[str, list[str]] = {}
                for name, specs in (audits or {}).items():
                    res = self.engines[name].audit(specs)
                    audit_results[name] = res
                    bad = [r.name for r in res if not r.passed]
                    if bad:
                        failed[name] = bad
            except Exception:
                _abandon_all()
                raise
            results["_audits"] = audit_results
            if failed:
                _abandon_all()
                log_metric("catalog_txn_rejected_by_audit", failed=failed)
                return False, results
            for n in selected:
                self.engines[n].publish_staged()
            self._commit_catalog_snapshot("transaction")
            log_metric(
                "catalog_txn_committed",
                streams=len(selected),
                wall_ms=int((time.monotonic() - t0) * 1000),
            )
            return True, results
        finally:
            for n, v in originals.items():
                self.engines[n].cfg = v

    # ----------------------------------------------------------------- state

    def _write_state(self) -> None:
        """Consolidated GLOBAL-state doc: shared info + one entry per
        stream embedding that stream's full checkpoint (the
        AirbyteStateMessage GLOBAL shape — airbyte-protocol.md:491-511)."""
        from airbyte_spark.checkpoint import load_checkpoint

        stream_states = []
        for s in self.streams:
            ckpt = load_checkpoint(self.engines[s.name].checkpoint_path)
            stream_states.append(
                {
                    "stream_descriptor": _descriptor(s),
                    "stream_state": ckpt.to_json() if ckpt else None,
                }
            )
        doc = {
            "type": "GLOBAL",
            "global": {
                "shared_state": {
                    "max_committed_lsn": max(
                        (
                            st["stream_state"]["shared_state"]["max_committed_lsn"]
                            for st in stream_states
                            if st["stream_state"] is not None
                        ),
                        default=0,
                    )
                },
                "stream_states": stream_states,
            },
        }
        write_json(self.state_path, doc)

    def state(self) -> dict | None:
        if not os.path.exists(self.state_path):
            return None
        with open(self.state_path) as fh:
            return json.load(fh)

    # ----------------------------------------------- catalog snapshots

    def _commit_catalog_snapshot(self, op: str) -> int:
        """Pin every existing stream table at its PUBLISHED version in one
        atomic doc (storage contract: CatalogSnapshotStore)."""
        return self.snapshots.commit(_published_pins(self.streams, self.engines), op)

    def catalog_versions(self) -> list[int]:
        return self.snapshots.versions()

    def catalog_current_version(self) -> int:
        return self.snapshots.current()

    def catalog_snapshot(self, version: int | None = None) -> dict:
        return self.snapshots.get(version)

    def catalog_version_as_of(self, ts_ms: int) -> int:
        return self.snapshots.as_of(ts_ms)

    def read(self, stream: str, catalog_version: int | None = None, buckets=None) -> DataFrame:
        """Version-pinned scan of one stream THROUGH a catalog snapshot, so
        reads of multiple streams at the same catalog_version are mutually
        consistent (all observe the same completed catalog sync, never a
        partial one)."""
        return self.snapshots.pinned_read(self.engines, stream, catalog_version, buckets)

    def expire_catalog_snapshots(self, keep_last: int = 10, table_keep_last: int = 2) -> dict:
        """Expire old catalog snapshots, then expire each stream table's
        snapshots DOWN TO the oldest version still pinned by a retained
        catalog snapshot — pinned reads can never break. ``table_keep_last``
        is the floor each table keeps regardless (engine-resume safety, see
        LakeTable.expire_snapshots)."""
        from airbyte_spark.lake.table import LakeTable

        expired = self.snapshots.expire(keep_last)
        retained = [self.snapshots.get(v) for v in self.snapshots.versions()]
        stats = {"expired_catalog_snapshots": len(expired), "tables": {}}
        for s in self.streams:
            eng = self.engines[s.name]
            if not LakeTable.exists(eng.table_root):
                continue
            pins = [
                snap["streams"][s.name] for snap in retained if s.name in snap["streams"]
            ]
            cur = eng.table.current_version()
            keep = max(table_keep_last, cur - min(pins) + 1 if pins else 0)
            stats["tables"][s.name] = eng.table.expire_snapshots(keep_last=keep)
        return stats
