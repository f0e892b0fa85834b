"""``analytic``: the registry's batch operators, each to a full result.

Six of bench.py's headline queries plus the three fixed-latency targets of
the roadmap run through their registry builders over generated tables at
scale 0.01 (60k lineitem rows).  ``spark.catalog.clearCache()`` runs before
every query, untimed.  The tables are the same in every run; the seed
permutes the query order of every pass.

An unmeasured cold pass first pays plan compilation, JIT warm-up and Python
worker start-up; measured, those one-time costs land on whichever query runs
first and swamp the per-query figures.  Measured passes then repeat while
another one fits in the window (at least one runs); a query's figure is its
median over the passes.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import time
from decimal import Decimal

import numpy as np

import gen
from common import Window, geomean, median, percentile

SCALE = 0.01
DATA_SEED = 0  # tables are fixed; --seed permutes the query order
SETUP_REPS = 3
# One headline query per operator family: scan aggregate, join, semi/anti
# join, ranking window, sessionization, Arrow cosine top-k.  bench.py's other
# fourteen headline queries repeat these shapes; leaving them out keeps a run
# of both workloads inside the benchmark's time budget.
HEADLINE = (
    "flagship_dashboard",
    "tpch_q3_shipping_priority",
    "tpch_q21_suppliers_who_kept_waiting",
    "b43_ranking_windows",
    "c5_sessionization",
    "c2_cosine_topk",
)
FIXED_LATENCY = ("c23_semantic_dedup", "b14_json_match_extended", "c2_cosine_topk_lsh")
QUERIES = HEADLINE + FIXED_LATENCY


def pass_orders(seed: int, n_passes: int) -> list[list[str]]:
    rng = np.random.default_rng([seed, 23])
    return [[QUERIES[i] for i in rng.permutation(len(QUERIES))] for _ in range(n_passes)]


def run(spark, work: str, seed: int, seconds: int, tracer, proc) -> dict:
    from real_time_analytics_with_apache_pinot_on_aws_spark import functions as pfn
    from real_time_analytics_with_apache_pinot_on_aws_spark import queries as Q

    tables = gen.analytic_tables(DATA_SEED, SCALE)
    dirs = [os.path.join(work, f"data{k}") for k in range(SETUP_REPS)]
    for d in dirs:
        gen.write_tables(tables, d)
    registry = Q.all_queries()

    t = time.perf_counter()
    pfn.register_all(spark)  # once per session, like the session itself
    once_s = time.perf_counter() - t
    reps = []
    for d in dirs:  # table registration and the first result, on fresh files
        t = time.perf_counter()
        registry["flagship_dashboard"].builder(spark, d).collect()
        reps.append(time.perf_counter() - t)
    data = dirs[-1]
    orders = pass_orders(seed, 64)

    def timed(name: str) -> tuple[float, list]:
        spark.catalog.clearCache()
        t = time.perf_counter()
        rows = registry[name].builder(spark, data).collect()
        return (time.perf_counter() - t) * 1000, rows

    t = time.perf_counter()
    for name in orders[0]:  # cold pass: plan compilation, JIT, Python workers
        timed(name)
    phases = {"cold_pass_s": time.perf_counter() - t}
    times: dict[str, list[float]] = {q: [] for q in QUERIES}
    results: dict[str, list] = {}
    failed, errors = 0, []
    window = Window(proc)
    passes = 0
    pass_s = 0.0
    while passes == 0 or time.perf_counter() - window.t0 + pass_s <= seconds:
        t = time.perf_counter()
        for name in orders[1 + passes % (len(orders) - 1)]:
            try:
                ms, rows = timed(name)
            except Exception as e:  # a builder exception is a failed query
                failed += 1
                errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
                continue
            times[name].append(ms)
            results.setdefault(name, rows)
        passes += 1
        pass_s = time.perf_counter() - t
    window.close()

    traced = None
    if tracer is not None:  # an untraced and a traced pass, both warm
        warm = {name: timed(name)[0] for name in orders[0]}
        tracer.install()
        t_ms: dict[str, float] = {}
        for name in orders[0]:
            spark.catalog.clearCache()
            t = time.perf_counter()
            with tracer.bind(name), tracer.tagged(name), tracer.span("query"):
                with tracer.span("registry.build"):
                    df = registry[name].builder(spark, data)
                df.collect()
            t_ms[name] = (time.perf_counter() - t) * 1000
        tracer.uninstall()
        traced = {
            "tids": list(QUERIES),
            "bytes": {},
            "reduce": sum,
            "overhead_ms": median(t_ms[q] - warm[q] for q in QUERIES),
        }

    t = time.perf_counter()
    checked, wrong = check(registry, data, results, errors)
    failed += wrong
    phases["checks_s"] = time.perf_counter() - t
    per_query = {q: median(v) for q, v in times.items() if v}
    every = [ms for v in times.values() for ms in v]
    p50, _ = percentile(every, 50)
    p90, n = percentile(every, 90)
    return {
        "attempted": len(every) + failed - wrong + checked,
        "failed": failed,
        "errors": errors[:20],
        "end_to_end": {
            "setup_s": None,
            "query_qps": len(every) / window.wall,
            "query_p50_ms": p50,
            "query_p90_ms": p90,
            "peak_rss_mb": proc.peak_rss_mb(),
        },
        "setup_once_s": once_s,
        "setup_reps_s": reps,
        "samples": {"query_latency": n, "passes": passes},
        "phases": phases,
        "per_op_ms": {q: [round(x) for x in times[q]] for q in QUERIES},
        "layers": {
            "batch_total_s": sum(per_query.values()) / 1000,
            "batch_geomean_ms": geomean(per_query.values()),
            **{f"batch.{q}_ms": per_query.get(q, 0.0) for q in QUERIES},
        },
        "window": window,
        "traced": traced,
        "close": lambda: None,
    }


# -- answers ---------------------------------------------------------------------

def _cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float)):
        return ("n", repr(float(v)))
    if isinstance(v, Decimal):
        return ("n", repr(float(v)))
    if isinstance(v, dt.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, dt.date):
        return ("ts", dt.datetime(v.year, v.month, v.day).isoformat())
    return ("s", str(v))


def canonical(columns: list[str], rows) -> list[tuple]:
    """Order-insensitive rows with columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_cell(row[i]) for i in order) for row in rows)


def check(registry, data: str, results: dict, errors: list[str]) -> tuple[int, int]:
    """Compare each query's first measured result with its DuckDB oracle."""
    import duckdb

    from real_time_analytics_with_apache_pinot_on_aws_spark import catalog

    con = duckdb.connect()
    for t in catalog.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    checked = wrong = 0
    for name, rows in results.items():
        oracle = registry[name].oracle
        if oracle is None:
            continue
        checked += 1
        rel = con.sql(oracle)
        cols = list(rows[0].__fields__) if rows else None
        want = rel.fetchall()
        if cols is not None and sorted(cols) != sorted(rel.columns):
            ok = False
        else:
            ok = canonical(cols or rel.columns, rows) == canonical(rel.columns, want)
        if not ok:
            wrong += 1
            errors.append(f"{name}: result differs from its DuckDB oracle")
    con.close()
    return checked, wrong
