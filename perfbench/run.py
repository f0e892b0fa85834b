"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest_live,analytic} --seed N \\
        --seconds S --trace {0,1}

Runs one workload in this fresh process and prints, as its last stdout line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: every
end-to-end metric with ``--trace 0``, every per-layer metric with
``--trace 1``.  The line before it carries the host fingerprint, wall/CPU/GC
seconds of the window, sample counts and the first errors.  Exits non-zero
when any answer check fails or any operation fails.

Scratch space (warehouse, checkpoints, source directories, Spark local and
temp dirs) lives under ``.perfbench_tmp/`` in the checkout and is removed on
exit, after the Spark JVM has ended.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

import analytic
import ingest_live

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "query_qps": "req/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "fresh_p50_ms": "ms", "fresh_p90_ms": "ms", "ingest_rows_per_s": "rows/s",
    "batch_total_s": "s", "batch_geomean_ms": "ms", "failed_share": "ratio",
    "broker_http.self_ms": "ms", "broker_http.resp_bytes": "bytes",
    "engine.query_ms": "ms", "engine.rewrite_ms": "ms", "engine.envelope_ms": "ms",
    "catalyst.parse_ms": "ms", "catalyst.analysis_ms": "ms",
    "catalyst.optimize_ms": "ms", "catalyst.plan_ms": "ms",
    "exec.collect_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.run_ms": "ms", "exec.cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.shuffle_bytes": "bytes", "exec.scan_rows": "rows", "exec.scan_files": "count",
    "exec.scan_bytes": "bytes", "exec.scan_rows_per_result_row": "ratio",
    "exec.inmemory_scans": "count", "exec.python_ms": "ms", "exec.python_boot_ms": "ms",
    "exec.python_bytes": "bytes",
    "ingest.batches": "count", "ingest.rows_per_batch": "rows", "ingest.trigger_ms": "ms",
    "ingest.add_batch_ms": "ms", "ingest.latest_offset_ms": "ms", "ingest.plan_ms": "ms",
    "ingest.wal_ms": "ms", "ingest.busy_share": "ratio", "ingest.lag_files_max": "count",
    "storage.files": "count", "storage.rollup_files": "count",
    "storage.bytes_per_event": "bytes",
    **{f"batch.{q}_ms": "ms" for q in analytic.QUERIES},
    "proc.cpu_s": "s", "proc.gc_s": "s", "gen.late_ms_max": "ms",
    "trace.overhead_ms": "ms",
}
WORKLOADS = ("ingest_live", "analytic")


def _stop_jvm(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_main = time.perf_counter()

    sys.path.insert(0, ROOT)
    import real_time_analytics_with_apache_pinot_on_aws_spark  # noqa: F401  (fails loudly when absent)

    from common import Proc, fingerprint, median, prepare_env, start_session
    from tracing import Tracer, layer_numbers

    load = os.getloadavg()
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    prepare_env(ROOT, work)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, trace=bool(args.trace))
        session_s = time.perf_counter() - t0
        proc = Proc(spark)
        tracer = Tracer(spark) if args.trace else None
        workload = {"ingest_live": ingest_live, "analytic": analytic}[args.workload]
        out = workload.run(spark, work, args.seed, args.seconds, tracer, proc)
        out["close"]()
        win = out["window"]
        e2e = out["end_to_end"]
        e2e["setup_s"] = session_s + out["setup_once_s"] + median(out["setup_reps_s"])
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(out["layers"])
        layers.update({
            "failed_share": out["failed"] / out["attempted"],
            "proc.cpu_s": win.cpu, "proc.gc_s": win.gc,
        })
        if out["traced"] is not None:
            t = out["traced"]
            layers.update(layer_numbers(tracer, t["tids"], t["bytes"], t["reduce"]))
            layers["trace.overhead_ms"] = t["overhead_ms"]
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "fingerprint": fingerprint(spark, load),
            "session_s": session_s, "setup_once_s": out["setup_once_s"],
            "setup_reps_s": out["setup_reps_s"],
            "window": {"wall_s": win.wall, "cpu_s": win.cpu, "gc_s": win.gc},
            "samples": out["samples"], "phases": out["phases"],
            "per_op_ms": out["per_op_ms"],
            "layers": {k: v for k, v in layers.items() if v},
            "end_to_end": e2e, "errors": out["errors"],
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    unknown = set(layers) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    missing = [k for k in units if not math.isfinite(chosen[k])]
    if missing:  # e.g. a window without a single completed request
        raise RuntimeError(f"no value measured for {missing}")
    correct = out["failed"] == 0
    detail["wall_total_s"] = time.perf_counter() - t_main
    print(json.dumps(detail))
    print(json.dumps({
        "correct": correct,
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
