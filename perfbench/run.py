#!/usr/bin/env python3
"""Benchmark command for flink_state_eviction_spark.

    python3 perfbench/run.py --workload stream_churn --seed 1 --seconds 15 --trace 0

Workloads: ``stream_churn`` runs the paper's TTL-evicting
``running_sum_stream`` under key churn and ``batch_headline`` runs pinned
registry queries (both listed in BENCHMARK.json); ``stream_dense`` runs
the same operator on a few hot keys and is kept for runs by hand, since
a third workload does not fit the benchmark's time budget. Every run generates its inputs from
``--seed`` inside ``.perfbench/`` at the checkout root, checks every
result, and prints the environment and details, then as its last line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` first repeats
the untraced run, then runs again with a Spark event log and in-memory
spans, and reports the per-layer metrics plus the tracing overhead
(traced against untraced, same process). Spans are written to
``.perfbench/traces/``.

Exit codes: 0 when every check passed, 1 when a result was wrong (the
JSON line still prints), 2 when the package under test is missing.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if not __package__:  # run as a script, sys.path[0] is perfbench/ itself
    sys.path[:1] = [ROOT]

from perfbench.measure import Tracer, find_event_log, peak_rss_mb, read_event_log  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEMORY = "2g"

END_TO_END = ("events_per_s", "latency_p50_ms", "latency_tail_ms",
              "latency_geomean_ms", "setup_s")


def per_layer() -> "dict[str, str]":
    """Every per-layer metric and its unit, reported on every workload;
    a layer the workload does not exercise reads 0."""
    from perfbench.batch import PINNED

    return {
        "session.start_s": "s",
        "session.jvm_rss_mb": "MB",
        "session.python_workers_rss_mb": "MB",
        "session.python_workers": "count",
        "sources.offset_ms": "ms",
        "sources.rows_per_batch": "count",
        "streaming.add_batch_ms": "ms",
        "streaming.planning_ms": "ms",
        "streaming.log_ms": "ms",
        "streaming.python_run_ms": "ms",
        "streaming.python_mb_in": "MB",
        "streaming.python_mb_out": "MB",
        "streaming.keys_per_batch": "count",
        "state.rows_total": "count",
        "state.rows_peak": "count",
        "state.evicted": "count",
        "state.updates_ms": "ms",
        "state.removals_ms": "ms",
        "state.commit_ms": "ms",
        "state.memory_bytes": "bytes",
        "tables.load_table_ms": "ms",
        "querydefs.build_s": "s",
        "operators.exec_s": "s",
        "operators.shuffle_mb": "MB",
        "operators.spill_mb": "MB",
        "operators.python_mb": "MB",
        "operators.task_skew_max": "ratio",
        "operators.cpu_util": "ratio",
        **{f"q.{n}.s": "s" for n in PINNED},
        "trace.overhead_events_pct": "%",
        "trace.overhead_p50_pct": "%",
    }


def pin_environment(work: str) -> "dict[str, str]":
    """Set before pyspark starts: cores, memory, import path, and every
    temporary directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # Lower JIT thresholds, so that Spark's planning and scheduling
        # code is compiled during set-up rather than speeding up through
        # the timed window.
        "JAVA_TOOL_OPTIONS": "-XX:CompileThresholdScaling=0.1 -XX:-UsePerfData "
                             f"-Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = None  # recomputed from TMPDIR on next use
    return {"cpus": cpus, "java_tool_options": os.environ["JAVA_TOOL_OPTIONS"]}


class Context:
    """What one measured phase needs: session, tracer, paths, knobs."""

    def __init__(self, args, work: str, trace: bool):
        self.seed, self.seconds, self.sf = args.seed, args.seconds, args.sf
        self.trace = trace
        self.work = work
        self.cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        self.tracer = Tracer(trace, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.reference_hook = _corrupt if args.corrupt_reference else (lambda r: r)
        self.t_start = time.perf_counter()
        self.spark = None

    def open_session(self, name: str):
        from flink_state_eviction_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "100000",
            # the whole heap from the start, so that heap growth and the
            # frequent collections of a small heap end before timing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        }
        if self.trace:
            self.log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.log_dir,
                "spark.eventLog.compress": "false",
            })
        with self.tracer.span("session.get_spark"):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{name}", extra_conf=conf)
            self.session_s = time.perf_counter() - t0

    def setup_done(self) -> None:
        """Called by the workload once inputs are staged and warm."""
        self.setup_s = time.perf_counter() - self.t_start

    def read_memory(self) -> None:
        """Called by the workload at the end of its measured work."""
        self.memory = peak_rss_mb(self.spark.sparkContext._gateway.proc.pid)


def _corrupt(ref):
    """Perturb a reference (stream rows or an oracle frame) so that the
    check against it must fail: used by the smoke test."""
    if isinstance(ref, list):
        n, s, live, new = ref[0]
        return [(n, s + 1, live, new)] + ref[1:]
    return ref.iloc[:-1] if len(ref) else ref


def run_phase(args, trace: bool):
    """Open a session, run the workload once, stop the session."""
    from perfbench import batch, streams

    work = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ctx = Context(args, work, trace)
    ctx.open_session(args.workload)
    spark = ctx.spark
    ctx.app_id = spark.sparkContext.applicationId
    env = {
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
    }
    runner = batch.run if args.workload == "batch_headline" else streams.run
    try:
        try:
            with ctx.tracer.span("workload", workload=args.workload):
                result = runner(ctx, args.workload)
        finally:
            spark.stop()
        if trace:
            # the event log is complete only once the session has stopped
            tasks = read_event_log(find_event_log(ctx.log_dir, ctx.app_id))
            result["layers"].update(result.pop("from_event_log")(tasks))
    finally:
        ctx.tracer.write(os.path.join(WORK, "traces", f"{ctx.tracer.run_id}.json"))
        shutil.rmtree(work, ignore_errors=True)
    jvm_mb, py_mb, n_py = ctx.memory
    result["metrics"]["setup_s"] = (ctx.setup_s, "s")
    memory = {
        "session.jvm_rss_mb": jvm_mb,
        "session.python_workers_rss_mb": py_mb,
        "session.python_workers": n_py,
    }
    result["layers"].update(memory)
    result["info"].update(memory, peak_rss_mb=jvm_mb + py_mb)
    result["env"] = env
    result["session_s"] = ctx.session_s
    return result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("stream_churn", "stream_dense", "batch_headline"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=0.01,
                    help="scale factor of the batch fixture")
    ap.add_argument("--corrupt-reference", action="store_true",
                    help="perturb the expected results (smoke test of the checks)")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("flink_state_eviction_spark") is None:
        print("perfbench: package flink_state_eviction_spark not found under "
              f"{ROOT}", file=sys.stderr)
        return 2
    env = pin_environment(WORK)
    import numpy
    import pandas
    import pyarrow
    import pyspark

    from pyspark import SparkContext

    try:
        base = run_phase(args, trace=False)
        result = run_phase(args, trace=True) if args.trace else base
    finally:
        # The JVM exits when its stdin closes; wait for it (and with it
        # the Python workers) before leaving.
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    attempted = base["attempted"] + (result["attempted"] if args.trace else 0)
    failed = base["failed"] + (result["failed"] if args.trace else 0)
    result["info"]["error_rate"] = failed / attempted
    env.update(result.pop("env"))
    env.update({"pyspark": pyspark.__version__, "pandas": pandas.__version__,
                "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
                "python": sys.version.split()[0]})
    print("perfbench env:", json.dumps(env, sort_keys=True))
    print("perfbench info:", json.dumps(result["info"], sort_keys=True, default=str))
    if args.trace:
        units = per_layer()
        layers = dict.fromkeys(units, 0.0)
        layers.update(result["layers"])
        layers["session.start_s"] = base["session_s"]
        for key, metric in (("trace.overhead_events_pct", "events_per_s"),
                            ("trace.overhead_p50_pct", "latency_p50_ms")):
            untraced, traced = base["metrics"][metric][0], result["metrics"][metric][0]
            worse = untraced - traced if metric == "events_per_s" else traced - untraced
            layers[key] = 100 * worse / untraced
        metrics = {k: {"value": float(v), "unit": units[k]} for k, v in layers.items()}
    else:
        metrics = {k: {"value": float(result["metrics"][k][0]), "unit": result["metrics"][k][1]}
                   for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
