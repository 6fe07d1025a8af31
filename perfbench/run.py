#!/usr/bin/env python3
"""perfbench: closed-loop benchmark of the airbyte_spark CDC engine and its
curation operators.

    python3 perfbench/run.py --workload catchup_tail --seed 1 --seconds 15 --trace 0

Run from the repository root. One client thread drives one local Spark
session; inputs are generated from ``--seed``. A run sets up (session
start, input generation, the workload's warm-up), measures
``--seconds // round_s`` rounds of the workload (at least one), checks
the outputs, and prints one JSON line as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs one
traced round and reports the per-layer metrics (see README.md in this
directory).
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("catchup_tail", "curate_ops")
END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("records_per_s", "1/s")]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(work: str, cores: int):
    """The engine's own session factory, confined to ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    # pandas/Arrow UDF workers import airbyte_spark too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    # both JVMs, spark-submit's launcher too: no hsperfdata, temp files in work
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}")
        if p
    )
    from airbyte_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )


def stop_spark(spark) -> float:
    """Stop the session and its JVM, wait for it to exit; return the JVM's
    peak resident set (VmHWM) in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    with open(f"/proc/{proc.pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    return hwm_kb / 1024


def make_workload(spark, name: str, seed: int, work: str):
    if name == "curate_ops":
        from curate import CurateWorkload

        return CurateWorkload(spark, seed, work)
    from cdc import CdcWorkload

    return CdcWorkload(spark, seed, work)


def end_to_end(wl, seconds: float, setup_s: float):
    from spans import NullCounters

    # a fixed number of rounds, so the work measured does not depend on speed
    rounds = []
    for _ in range(max(1, int(seconds // wl.round_s))):
        rounds.append(wl.run_round(NullCounters()))
        print(
            "perfbench: round ops ms " + " ".join(f"{s * 1e3:.0f}" for s in rounds[-1].ops_s),
            file=sys.stderr,
        )
    ops = [s for r in rounds for s in r.ops_s]
    values = {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(ops) * 1e3,
        "records_per_s": sum(r.records for r in rounds) / sum(r.busy_s for r in rounds),
    }
    return values, sum(r.attempted for r in rounds) + wl.n_checks, wl.check(rounds[-1])


def per_layer(wl, spark):
    import spans as T

    tracer, counters = T.Tracer(), T.SparkCounters(spark)
    tracer.install()
    t0 = time.perf_counter()
    try:
        r = wl.run_round(counters)
    finally:
        tracer.uninstall()
    # the raw spans, in ms from the round's start: (name, start, end, parent)
    spans = [(n, (a - t0) * 1e3, (b - t0) * 1e3, p) for n, a, b, p in tracer.spans]
    print(json.dumps({"spans": spans}), file=sys.stderr)
    values = dict.fromkeys(list(metric_units())[len(END_TO_END) :], 0)
    values.update(tracer.summary())
    values.update(counters.summary())
    values.update(wl.layer_metrics(r))
    values["trace.round_ms"] = r.wall_s * 1e3
    values["trace.overhead_ms"] = (tracer.overhead_s + counters.overhead_s) * 1e3
    return values, r.attempted + wl.n_checks, wl.check(r)


def metric_units() -> dict[str, str]:
    """Unit of every metric: the end-to-end ones, then the per-layer ones
    in report order."""
    import spans as T
    from curate import QUERIES

    per_layer = (
        T.layer_metric_names()
        + T.SPARK_COUNTERS
        + T.LAKE_COUNTERS
        + [(f"query.{q}.{part}", "ms") for q in QUERIES for part in ("plan_ms", "exec_ms")]
        + [("trace.round_ms", "ms"), ("trace.overhead_ms", "ms"), ("jvm.peak_rss_mb", "MB")]
    )
    return dict(END_TO_END + per_layer)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "airbyte_spark", "engine.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"perfbench: no airbyte_spark source tree under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = None
    try:
        # stdout carries only the result line; engine chatter goes to stderr
        with contextlib.redirect_stdout(sys.stderr):
            spark = start_spark(work, cores)
            t_session = time.perf_counter()
            wl = make_workload(spark, args.workload, args.seed, work)
            t_inputs = time.perf_counter()
            wl.warm_up()
            setup_s = time.perf_counter() - T_START
            print(
                f"perfbench: session {t_session - T_START:.1f} s, inputs "
                f"{t_inputs - t_session:.1f} s, warm-up {T_START + setup_s - t_inputs:.1f} s",
                file=sys.stderr,
            )
            if args.trace:
                values, attempted, failed = per_layer(wl, spark)
            else:
                values, attempted, failed = end_to_end(wl, args.seconds, setup_s)
            t_stop = time.perf_counter()
            rss_mb = stop_spark(spark)
            spark = None
            if args.trace:
                values["jvm.peak_rss_mb"] = rss_mb
            print(
                f"perfbench: rounds and check {t_stop - T_START - setup_s:.1f} s, "
                f"stop {time.perf_counter() - t_stop:.1f} s",
                file=sys.stderr,
            )
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    units = metric_units()
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
