"""Batch workload: pinned registry queries over a seeded TPC-H-like
fixture, each checked against its DuckDB oracle on an untimed pass and
then timed through the noop sink in whole, seed-shuffled passes. One
pass over all pinned queries is the unit of latency (like bench.py's
total); per-query medians give the geomean.

Closed loop, one client: one query at a time. The fixture is generated
into the run's work directory (``gen.batch_tables``), so no input comes
from outside the checkout.
"""

from __future__ import annotations

import math
import os
import random
import re
import statistics
import sys
import time

import duckdb

from flink_state_eviction_spark import queries as Q
from flink_state_eviction_spark import tables

from . import gen
from .measure import geomean, p50, stage_skew, tail

# Pinned by name: a registry rename or removal fails the run instead of
# silently changing what is timed. They span the layers below
# `querydefs`: SQL aggregation and joins, the paper's keyed TTL running
# sum in batch form, windows, sketches and MinHash text dedup. Each
# query costs well under a second at sf0.01, most of it Spark's fixed
# per-query work, so fewer queries repeated more often give steadier
# medians than many queries run once.
PINNED = (
    "tpch_q1",
    "revenue_by_nation",
    "mws_running_sum_ttl",
    "tumbling_window_sum",
    "events_heavy_hitters",
    "dedup_minhash_lsh",
)
# Untimed noop passes after the verify pass: per-query time keeps
# falling for the first few dozen queries while the JVM compiles
# Spark's planning code (see JAVA_TOOL_OPTIONS in run.py).
WARM_PASSES = 3


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def _rows(pdf):
    cols = sorted(pdf.columns)
    rs = [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    # mixed None/str/float columns: a plain sort raises TypeError
    return sorted(rs, key=lambda t: tuple((v is None, str(v)) for v in t))


def same_result(sp, du) -> bool:
    """Spark and DuckDB frames agree on column names, pandas dtypes and
    the multiset of rows."""
    return (
        sorted(sp.columns) == sorted(du.columns)
        and all(str(sp[c].dtype) == str(du[c].dtype) for c in sp.columns)
        and len(sp) == len(du)
        and _rows(sp) == _rows(du)
    )


def input_rows(oracle: str, table_rows: "dict[str, int]") -> int:
    """Rows of every fixture table the oracle SQL reads: the query's
    input size, independent of how the engine plans it."""
    return sum(
        n for t, n in table_rows.items()
        if re.search(rf"\b(FROM|JOIN)\s+{t}\b", oracle, re.IGNORECASE)
    )


def _wrap_load_table(tracer):
    """Record a span around every ``load_table`` call the query modules
    make; returns a function that restores the originals."""
    orig = tables.load_table
    mods = [
        m for name, m in list(sys.modules.items())
        if name.startswith("flink_state_eviction_spark.querydefs.")
        and getattr(m, "load_table", None) is orig
    ]

    def traced(spark, sf_dir, name):
        with tracer.span("tables.load_table", table=name):
            return orig(spark, sf_dir, name)

    for m in mods:
        m.load_table = traced

    def restore():
        for m in mods:
            m.load_table = orig

    return restore


def run(ctx, name: str) -> dict:
    spark, tracer = ctx.spark, ctx.tracer
    fns, oracles = Q.all_queries(), Q.all_oracle_sql()
    missing = [n for n in PINNED if n not in fns or n not in oracles]
    if missing:
        raise KeyError(f"pinned queries missing from the registry: {missing}")
    sf_dir = os.path.join(ctx.work, "fixture")
    with tracer.span("sources.stage"):
        table_rows, fixture_sha = gen.stage_tables(ctx.seed, ctx.sf, sf_dir)
    rows_in = {n: input_rows(oracles[n], table_rows) for n in PINNED}
    order = list(PINNED)
    rng = random.Random(ctx.seed)
    rng.shuffle(order)

    con = duckdb.connect(config={"threads": 2})
    for t in table_rows:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    bad = []
    with tracer.span("batch.verify"):
        for n in order:
            sp = fns[n](spark, sf_dir).toPandas()
            du = ctx.reference_hook(con.execute(oracles[n]).fetchdf())
            if not same_result(sp, du):
                bad.append(n)
    con.close()

    times: "dict[str, list[float]]" = {n: [] for n in PINNED}
    builds: "list[float]" = []

    def timed_query(n: str) -> None:
        sc.setLocalProperty("perfbench.query", n)
        with tracer.span("query", query=n):
            q0 = time.perf_counter()
            with tracer.span("querydefs.build"):
                df = fns[n](spark, sf_dir)
            q1 = time.perf_counter()
            with tracer.span("operators.action"):
                df.write.format("noop").mode("overwrite").save()
            q2 = time.perf_counter()
        times[n].append(q2 - q0)
        builds.append(q1 - q0)

    sc = spark.sparkContext
    # Untimed passes through the noop sink: the verify pass collects
    # instead, so the noop plans would otherwise compile inside the
    # first timed pass.
    with tracer.span("batch.warm"):
        for _ in range(WARM_PASSES):
            for n in order:
                fns[n](spark, sf_dir).write.format("noop").mode("overwrite").save()
    ctx.setup_done()
    restore = _wrap_load_table(tracer) if ctx.trace else None
    pass_s: "list[float]" = []
    try:
        with tracer.span("batch.timed"):
            t0 = time.perf_counter()
            while not pass_s or time.perf_counter() - t0 < ctx.seconds:
                p0 = time.perf_counter()
                for n in order:
                    timed_query(n)
                pass_s.append(time.perf_counter() - p0)
                rng.shuffle(order)
        sc.setLocalProperty("perfbench.query", None)
        ctx.read_memory()
    finally:
        if restore:
            restore()

    passes = len(pass_s)
    med = {n: statistics.median(times[n]) for n in PINNED}
    tail_s, tail_pct = tail(pass_s)
    metrics = {
        # median pass, so that one slow pass does not move it
        "events_per_s": (sum(rows_in.values()) / p50(pass_s), "1/s"),
        "latency_p50_ms": (p50(pass_s) * 1000, "ms"),
        "latency_tail_ms": (tail_s * 1000, "ms"),
        "latency_geomean_ms": (geomean(med.values()) * 1000, "ms"),
    }
    info = {
        "fixture_sha256": fixture_sha,
        "sf": ctx.sf,
        "pinned": list(PINNED),
        "passes": passes,
        "pass_s": [round(x, 3) for x in pass_s],
        "tail_percentile": tail_pct,
        "query_total_s": sum(med.values()),
        "query_geomean_s": geomean(med.values()),
        "query_median_s": {n: round(med[n], 4) for n in PINNED},
        "wrong_results": bad,
    }
    result = {
        "attempted": len(PINNED) * (1 + passes),
        "failed": len(bad),
        "metrics": metrics,
        "layers": {},
        "info": info,
    }
    if ctx.trace:
        result["layers"] = {
            "tables.load_table_ms": tracer.total("tables.load_table") * 1000 / passes,
            "querydefs.build_s": sum(builds) / passes,
            **{f"q.{n}.s": med[n] for n in PINNED},
        }
        result["from_event_log"] = lambda tasks: _operator_layers(
            tasks, passes, sum(pass_s), ctx.cpus, info)
    return result


def _operator_layers(tasks, passes: int, wall_s: float, cpus: int, info: dict) -> dict:
    """Per-pass task totals of the timed queries, from the event log
    (their jobs carry the ``perfbench.query`` property)."""
    tasks = [t for t in tasks if t["props"].get("perfbench.query")]
    run_s = sum(t["run_ms"] for t in tasks) / 1000
    skew, info["task_skew_at"] = stage_skew(tasks, "perfbench.query")
    mb = lambda key: sum(t[key] for t in tasks) / passes / 2**20  # noqa: E731
    return {
        "operators.exec_s": run_s / passes,
        "operators.shuffle_mb": mb("shuffle_bytes"),
        "operators.spill_mb": mb("spill_bytes"),
        "operators.python_mb": mb("py_in") + mb("py_out"),
        "operators.task_skew_max": skew,
        "operators.cpu_util": run_s / (wall_s * cpus),
    }
