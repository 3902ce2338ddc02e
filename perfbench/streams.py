"""Stream workloads: ``running_sum_stream`` with event-time TTL eviction
over a file-stream source, one pre-staged parquet file per micro-batch.

Closed loop, one client: the feeder moves staged files into the source
directory so that at most two wait ahead of the query; each micro-batch
starts only after the previous one committed. Timing, state and phase
figures come from Spark's own ``recentProgress``; every data batch is
checked against the numpy reference in ``gen.stream_reference``.
"""

from __future__ import annotations

import os
import time
from datetime import datetime

from pyspark.sql import functions as F

from flink_state_eviction_spark.streaming.map_with_state import running_sum_stream

from . import gen
from .measure import geomean, p50, tail

SHAPES = {
    # ~300 keys live per batch (100 new, each for 2-4 batches); TTL
    # two periods, so a key leaves the store about two batches after
    # its last row.
    "stream_churn": gen.StreamShape(
        kind="churn", keys=100, rows_per_key=1, period_ms=10_000,
        ttl_ms=20_000, warmup=2, max_batches=150,
    ),
    # 16 keys x 625 rows per batch; a 100 ms TTL against ~16 ms mean
    # gaps splits a few segments per key and batch.
    "stream_dense": gen.StreamShape(
        kind="dense", keys=16, rows_per_key=625, period_ms=10_000,
        ttl_ms=100, warmup=2, max_batches=150,
    ),
}

SCHEMA = "key long, ts timestamp, value long"
AHEAD = 2  # staged files released ahead of the running micro-batch


def _ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


class _Feeder:
    """Moves staged files into the source directory in batch order."""

    def __init__(self, paths: "list[str]", src_dir: str):
        self.paths, self.src_dir, self.released = paths, src_dir, 0

    def release_upto(self, n: int) -> None:
        while self.released < min(n, len(self.paths)):
            p = self.paths[self.released]
            os.rename(p, os.path.join(self.src_dir, os.path.basename(p)))
            self.released += 1

    @property
    def exhausted(self) -> bool:
        return self.released == len(self.paths)


def run(ctx, name: str) -> dict:
    shape = SHAPES[name]
    spark, tracer = ctx.spark, ctx.tracer
    staged, src, ckpt = (os.path.join(ctx.work, d) for d in ("staged", "in", "ckpt"))
    with tracer.span("sources.stage"):
        paths, batches = gen.stage_stream(shape, ctx.seed, staged)
        # The file source orders new files by modification time: make it
        # strictly increasing in batch order.
        base = int(time.time()) - len(paths)
        for i, p in enumerate(paths):
            os.utime(p, (base + i, base + i))
        os.makedirs(src)
    input_sha = gen.sha256_files(paths)
    ref = ctx.reference_hook(gen.stream_reference(shape, batches))

    # foreachBatch result per batch id: (rows, exact sum of running_sum).
    # The aggregate is the batch's only action, so it executes the
    # stateful plan once.
    seen: "dict[int, tuple[int, int]]" = {}

    def check(df, batch_id):
        r = df.agg(
            F.count(F.lit(1)),
            F.sum(F.col("running_sum").cast("decimal(38,0)")),
        ).collect()[0]
        seen[batch_id] = (int(r[0]), int(r[1] or 0))

    def data_batches() -> int:
        return sum(1 for n, _ in seen.values() if n > 0)

    # Eviction runs only in batches that carry data, as the reference
    # assumes; the feeder never lets the source run dry mid-run anyway.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    with tracer.span("streaming.start"):
        sdf = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
        out = running_sum_stream(
            sdf, "key", "value", ttl_ms=shape.ttl_ms,
            time_mode="event", watermark_delay="0 seconds",
        )
        q = (
            out.writeStream.outputMode("update").foreachBatch(check)
            .option("checkpointLocation", ckpt).start()
        )
    feeder = _Feeder(paths, src)
    try:
        with tracer.span("streaming.warmup"):
            while data_batches() < shape.warmup:
                feeder.release_upto(data_batches() + AHEAD)
                _poll(q)
        ctx.setup_done()
        with tracer.span("streaming.timed"):
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < ctx.seconds and not feeder.exhausted:
                feeder.release_upto(data_batches() + AHEAD)
                _poll(q)
            while data_batches() < feeder.released:
                _poll(q)
        ctx.read_memory()
    finally:
        q.stop()
    progress = sorted(
        (p for p in q.recentProgress if p["numInputRows"] > 0), key=lambda p: p["batchId"]
    )
    for p in progress:
        start = _ms(p["timestamp"])
        tracer.add("streaming.batch", start / 1000,
                   (start + p["durationMs"]["triggerExecution"]) / 1000, batch_id=p["batchId"])
    return _summarise(ctx, shape, progress, seen, ref, input_sha)


def _poll(q) -> None:
    if q.exception() is not None:
        raise RuntimeError(f"stream failed: {q.exception()}")
    time.sleep(0.005)


def _summarise(ctx, shape, progress, seen, ref, input_sha) -> dict:
    failed = 0
    mismatches = []
    for i, p in enumerate(progress):
        op = p["stateOperators"][0]
        got = (*seen.get(p["batchId"], (-1, -1)), op["numRowsTotal"])
        want = ref[i][:3]
        if got != want or p["numInputRows"] != ref[i][0]:
            failed += 1
            mismatches.append((i, got, want))
    timed = progress[shape.warmup:]
    lat = [p["durationMs"]["triggerExecution"] for p in timed]
    events = sum(p["numInputRows"] for p in timed)
    if timed:
        wall_ms = (_ms(timed[-1]["timestamp"]) + lat[-1]) - _ms(timed[0]["timestamp"])
    else:
        wall_ms = float("nan")
    tail_ms, tail_pct = tail(lat)
    metrics = {
        "events_per_s": (events / (wall_ms / 1000), "1/s"),
        "latency_p50_ms": (p50(lat), "ms"),
        "latency_tail_ms": (tail_ms, "ms"),
        "latency_geomean_ms": (geomean(lat), "ms"),
    }
    ops = [p["stateOperators"][0] for p in timed]
    rows = [o["numRowsTotal"] for o in ops]
    prev = [progress[shape.warmup - 1]["stateOperators"][0]["numRowsTotal"]] + rows[:-1]
    new = [ref[shape.warmup + i][3] for i in range(len(timed))]
    info = {
        "input_sha256": input_sha,
        "timed_batches": len(timed),
        "tail_percentile": tail_pct,
        "state_rows_peak": max(rows, default=0),
        # the reference's peak over every staged batch: fixed by the seed
        "state_rows_ref_peak": max(r[2] for r in ref),
        "state_bytes_peak": max((o["memoryUsedBytes"] for o in ops), default=0),
        "mismatches": mismatches[:5],
    }
    layers = {}
    if ctx.trace:
        dur = lambda k: p50([p["durationMs"].get(k, 0) for p in timed])  # noqa: E731
        layers = {
            "sources.offset_ms": p50([
                p["durationMs"].get("latestOffset", 0) + p["durationMs"].get("getBatch", 0)
                for p in timed
            ]),
            "sources.rows_per_batch": p50([p["numInputRows"] for p in timed]),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.log_ms": p50([
                p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commit", 0)
                for p in timed
            ]),
            "streaming.keys_per_batch": p50([o["numRowsUpdated"] for o in ops]),
            "state.rows_total": p50(rows),
            "state.rows_peak": info["state_rows_peak"],
            "state.evicted": p50([pv + n - r for pv, n, r in zip(prev, new, rows)]),
            "state.updates_ms": p50([o["allUpdatesTimeMs"] for o in ops]),
            "state.removals_ms": p50([o["allRemovalsTimeMs"] for o in ops]),
            "state.commit_ms": p50([o["commitTimeMs"] for o in ops]),
            "state.memory_bytes": info["state_bytes_peak"],
        }
    result = {
        "attempted": len(progress),
        "failed": failed,
        "metrics": metrics,
        "layers": layers,
        "info": info,
    }
    if ctx.trace:
        ids = {p["batchId"] for p in timed}
        result["from_event_log"] = lambda tasks: _python_mb(tasks, ids)
    return result


def _python_mb(tasks: "list[dict]", batch_ids: "set[int]") -> dict:
    """Python worker time and Arrow bytes per timed batch, from the
    event log (jobs carry the stream's batch id as a property). Spark
    4.1 reports 0 bytes sent for this operator."""
    tasks = [t for t in tasks if int(t["props"].get("streaming.sql.batchId", -1)) in batch_ids]
    n = max(1, len(batch_ids))
    return {
        "streaming.python_run_ms": sum(t["py_run_ms"] for t in tasks) / n,
        "streaming.python_mb_in": sum(t["py_in"] for t in tasks) / n / 2**20,
        "streaming.python_mb_out": sum(t["py_out"] for t in tasks) / n / 2**20,
    }
