"""Per-layer tracing installed from outside the program.

``Tracer`` wraps the public functions of each layer (see ``LAYERS``) with a
span recorder: name, start, end and parent span, kept in memory and folded
into ``calls`` / ``ms`` / ``self_ms`` per layer when the traced round ends.
Self time is a span's duration minus the time its child spans cover.

``SparkCounters`` reads Spark's job and stage counters for each timed
operation: the operation runs under a job group, and the jobs it started
are that group's jobs plus any ungrouped job started meanwhile (the
engine's prefetch thread submits jobs from its own thread, which carries
no group). Stage figures come from the status store, which works with the
UI disabled.

``lake_counters`` reads which merge path each commit took, and how many
rows it wrote, from the public ``LakeTable.history()`` snapshot summaries.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import sys
import threading
import time

from py4j.protocol import Py4JJavaError

# (span name, module, attribute path) of every wrapped public function
LAYERS = [
    ("engine.replay", "airbyte_spark.engine", "CdcEngine.replay"),
    ("engine.bootstrap", "airbyte_spark.engine", "CdcEngine.bootstrap"),
    ("operators.merge.merge_upsert_full", "airbyte_spark.operators.merge", "merge_upsert_full"),
    ("operators.merge.merge_upsert", "airbyte_spark.operators.merge", "merge_upsert"),
    ("operators.merge.merge_upsert_mor", "airbyte_spark.operators.merge", "merge_upsert_mor"),
    ("lake.table.write_and_commit", "airbyte_spark.lake.table", "LakeTable.write_and_commit"),
    ("lake.table.append_delta", "airbyte_spark.lake.table", "LakeTable.append_delta"),
    ("lake.table.compact", "airbyte_spark.lake.table", "LakeTable.compact"),
    ("lake.table.lookup", "airbyte_spark.lake.table", "LakeTable.lookup"),
    ("functions.validate.apply_validation", "airbyte_spark.functions.validate", "apply_validation"),
    ("operators.dedup.lww_dedup", "airbyte_spark.operators.dedup", "lww_dedup"),
    ("checkpoint.save_checkpoint", "airbyte_spark.checkpoint", "save_checkpoint"),
    ("checkpoint.load_checkpoint", "airbyte_spark.checkpoint", "load_checkpoint"),
    ("lineage.LineageLog.append", "airbyte_spark.lineage", "LineageLog.append"),
]

SPARK_COUNTERS = [
    ("spark.jobs", "count"),
    ("spark.jobs_per_op", "jobs/op"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"),
]

LAKE_COUNTERS = [
    ("lake.rows_written_per_event", "rows/event"),
    ("lake.commits.merge_full", "count"),
    ("lake.commits.merge", "count"),
    ("lake.commits.merge_delta", "count"),
    ("lake.commits.compact", "count"),
]

# snapshot summary "operation" -> counter
_COMMIT_KINDS = {
    "merge-full": "lake.commits.merge_full",
    "merge": "lake.commits.merge",
    "merge-delta": "lake.commits.merge_delta",
    "compact": "lake.commits.compact",
    "compact-fold": "lake.commits.compact",
}


def layer_metric_names() -> list[tuple[str, str]]:
    out = []
    for name, _, _ in LAYERS:
        out += [(f"{name}.calls", "count"), (f"{name}.ms", "ms"), (f"{name}.self_ms", "ms")]
    return out


class Tracer:
    """Span recorder around the functions in ``LAYERS``; ``install()``
    patches them (also where another module imported the name directly),
    ``uninstall()`` restores every original."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        # time spent recording spans rather than running the program
        self.overhead_s = 0.0

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            with tracer._lock:
                idx = len(tracer.spans)
                tracer.spans.append((name, 0.0, 0.0, stack[-1] if stack else None))
            stack.append(idx)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans[idx] = (name, t0, t1, tracer.spans[idx][3])
                    tracer.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, value)

    def install(self) -> None:
        for name, mod_name, path in LAYERS:
            mod = importlib.import_module(mod_name)
            if "." in path:
                cls_name, meth = path.split(".")
                cls = getattr(mod, cls_name)
                self._set(cls, meth, self._wrap(name, cls.__dict__[meth]))
                continue
            orig = getattr(mod, path)
            wrapped = self._wrap(name, orig)
            # rebind every `from module import fn` copy too
            for other in list(sys.modules.values()):
                d = getattr(other, "__dict__", None)
                if d is not None and d.get(path) is orig and (
                    other is mod
                    or other.__name__.startswith("airbyte_spark")
                    or other.__name__ == "__spark_entry__"
                ):
                    self._set(other, path, wrapped)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def summary(self) -> dict[str, float]:
        child_s = [0.0] * len(self.spans)
        for name, t0, t1, parent in self.spans:
            if parent is not None:
                child_s[parent] += t1 - t0
        out: dict[str, float] = {}
        for name, _, _ in LAYERS:
            out[f"{name}.calls"] = 0
            out[f"{name}.ms"] = 0.0
            out[f"{name}.self_ms"] = 0.0
        for i, (name, t0, t1, _) in enumerate(self.spans):
            out[f"{name}.calls"] += 1
            out[f"{name}.ms"] += (t1 - t0) * 1e3
            out[f"{name}.self_ms"] += (t1 - t0 - child_s[i]) * 1e3
        return out


class NullCounters:
    """Stand-in for ``SparkCounters`` when tracing is off."""

    def op(self, label: str, fn, setup: bool = False):
        return fn()


class SparkCounters:
    """Job/stage counters of the operations run under ``op()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = self.sc._jsc.sc().statusStore()
        self.job_ids: set[int] = set()
        self.ops = 0
        self.op_jobs = 0
        self.overhead_s = 0.0  # time spent in job-group bookkeeping
        self._seen = set(self.tracker.getJobIdsForGroup(None))
        self._groups = itertools.count()

    def op(self, label: str, fn, setup: bool = False):
        """Run ``fn`` and count its jobs; ``setup`` ops (a bootstrap) count
        toward the totals but not toward ``spark.jobs_per_op``."""
        t_in = time.perf_counter()
        group = f"perfbench-{label}-{next(self._groups)}"
        self.sc.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            self.sc.setJobGroup(None, None)
            ungrouped = set(self.tracker.getJobIdsForGroup(None))
            jobs = set(self.tracker.getJobIdsForGroup(group)) | (ungrouped - self._seen)
            self._seen = ungrouped
            self.job_ids |= jobs
            if not setup:
                self.ops += 1
                self.op_jobs += len(jobs)
            self.overhead_s += (t0 - t_in) + (time.perf_counter() - t1)

    def summary(self) -> dict[str, float]:
        stage_ids = set()
        for jid in self.job_ids:
            info = self.tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {
            "spark.jobs": len(self.job_ids),
            "spark.jobs_per_op": self.op_jobs / max(self.ops, 1),
            "spark.stages": 0,
            "spark.tasks": 0,
            "spark.shuffle_read_bytes": 0,
            "spark.shuffle_write_bytes": 0,
            "spark.spill_bytes": 0,
            "spark.executor_cpu_ms": 0.0,
            "spark.gc_ms": 0,
        }
        for sid in stage_ids:
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # no attempt of this stage in the status store
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += sd.numCompleteTasks()
            out["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spark.spill_bytes"] += sd.diskBytesSpilled() + sd.memoryBytesSpilled()
            out["spark.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["spark.gc_ms"] += sd.jvmGcTime()
        return out


def lake_counters(table, after_version: int, events: int) -> dict[str, float]:
    """Commit-path counts and write amplification of every snapshot after
    ``after_version``: rows in files a commit added, per delivered event."""
    out = {name: 0 for name, _ in LAKE_COUNTERS}
    rows_written = 0
    snaps = {s.version: s for s in table.history()}
    for v, snap in sorted(snaps.items()):
        if v <= after_version:
            continue
        kind = _COMMIT_KINDS.get(snap.summary.get("operation"))
        if kind is not None:
            out[kind] += 1
        parent = snaps.get(snap.parent)
        before = {f.path for f in parent.files} if parent is not None else set()
        rows_written += sum(f.rows for f in snap.files if f.path not in before)
    out["lake.rows_written_per_event"] = rows_written / max(events, 1)
    return out
