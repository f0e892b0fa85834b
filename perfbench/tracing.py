"""Spans around the calls into each layer, plus Spark's own per-query metrics.

Only the traced run (``--trace 1``) installs anything.  The wrappers live
here and wrap the layer calls on the instance or class:

- ``BaseHTTPRequestHandler.parse_request`` (stdlib) carries the client's
  trace id from the ``X-Perfbench-Trace`` header into the broker's handler
  thread;
- ``Engine.query_broker_response`` and ``Engine.query`` on the engine
  instance;
- ``DataFrame.collect`` on the session's DataFrame class;
- registry builders are timed by the analytic loop through :meth:`span`.

Spans stay in memory and are reduced after the measured window.  Spark's
numbers come from public read-side APIs only: the query's planning tracker
(Catalyst phases), the status store (jobs found by a per-request job tag)
and the executed plan's SQL metrics.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler

from common import median

HEADER = "X-Perfbench-Trace"
_PHASES = (("parse", "parsing"), ("analysis", "analysis"),
           ("optimize", "optimization"), ("plan", "planning"))


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[tuple[str, str, float, float]] = []  # (tid, name, t0, t1)
        self.collects: dict[str, list] = {}  # tid -> [(java QueryExecution, rows)]
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- recording ----------------------------------------------------------

    def current(self) -> str | None:
        return getattr(self._local, "tid", None)

    @contextmanager
    def bind(self, tid: str | None):
        prev = self.current()
        self._local.tid = tid
        try:
            yield
        finally:
            self._local.tid = prev

    @contextmanager
    def span(self, name: str, tid: str | None = None):
        tid = tid or self.current()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if tid is not None:
                with self._lock:
                    self.spans.append((tid, name, t0, time.perf_counter()))

    @contextmanager
    def tagged(self, tid: str):
        """Tag every Spark job this thread submits with the trace id."""
        sc = self.spark.sparkContext
        sc.addJobTag(f"pb-{tid}")
        try:
            yield
        finally:
            sc.removeJobTag(f"pb-{tid}")

    # -- wrappers -----------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        had = attr in vars(owner)
        old = vars(owner).get(attr)
        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, had, old))

    def install(self, engine=None) -> "Tracer":
        tracer = self
        df_cls = type(self.spark.range(1))
        collect = df_cls.collect

        @functools.wraps(collect)
        def traced_collect(df):
            tid = tracer.current()
            if tid is None:
                return collect(df)
            with tracer.span("dataframe.collect", tid):
                rows = collect(df)
            with tracer._lock:
                tracer.collects.setdefault(tid, []).append(
                    (df._jdf.queryExecution(), len(rows)))
            return rows

        self._patch(df_cls, "collect", traced_collect)
        if engine is None:
            return self
        parse_request = BaseHTTPRequestHandler.parse_request

        @functools.wraps(parse_request)
        def traced_parse(handler):
            ok = parse_request(handler)
            tracer._local.tid = handler.headers.get(HEADER) if ok else None
            return ok

        self._patch(BaseHTTPRequestHandler, "parse_request", traced_parse)
        qbr, query = engine.query_broker_response, engine.query

        @functools.wraps(qbr)
        def traced_qbr(sql):
            tid = tracer.current()
            if tid is None:
                return qbr(sql)
            try:
                with tracer.tagged(tid), tracer.span("engine.query_broker_response", tid):
                    return qbr(sql)
            finally:
                tracer._local.tid = None

        @functools.wraps(query)
        def traced_query(sql):
            with tracer.span("engine.query"):
                return query(sql)

        self._patch(engine, "query_broker_response", traced_qbr)
        self._patch(engine, "query", traced_query)
        return self

    def uninstall(self) -> None:
        for owner, attr, had, old in reversed(self._undo):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._undo.clear()

    # -- reduction ----------------------------------------------------------

    def self_times(self, tid: str) -> dict[str, tuple[float, float]]:
        """name -> (duration ms, self ms) summed over the trace's spans.  Self
        time is the duration minus the part covered by directly nested spans."""
        spans = sorted((s for s in self.spans if s[0] == tid), key=lambda s: (s[2], -s[3]))
        out: dict[str, list[float]] = {}
        for i, (_, name, t0, t1) in enumerate(spans):
            covered, edge = 0.0, t0
            for _, _, c0, c1 in spans[i + 1:]:
                if c0 >= t1:
                    break
                if c0 >= edge and c1 <= t1:  # a direct child (siblings never overlap)
                    covered += c1 - c0
                    edge = c1
            acc = out.setdefault(name, [0.0, 0.0])
            acc[0] += (t1 - t0) * 1000
            acc[1] += (t1 - t0 - covered) * 1000
        return {k: (v[0], v[1]) for k, v in out.items()}

    def spark_metrics(self, tid: str) -> dict[str, float]:
        """Jobs, stages and task time of the trace's tagged jobs, and the
        executed-plan metrics and planning phases of its collects."""
        sc = self.spark.sparkContext._jsc.sc()
        store = sc.statusStore()
        m = dict.fromkeys(
            ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
             "scan_rows", "scan_files", "scan_bytes", "inmemory_scans",
             "python_ms", "python_boot_ms", "python_bytes", "result_rows"), 0.0)
        stage_ids: set[int] = set()
        for job_id in sc.statusTracker().getJobIdsForTag(f"pb-{tid}"):
            m["jobs"] += 1
            ids = store.job(job_id).stageIds()
            stage_ids.update(int(ids.apply(i)) for i in range(ids.size()))
        for sid in stage_ids:
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks()
            m["run_ms"] += st.executorRunTime()
            m["cpu_ms"] += st.executorCpuTime() / 1e6
            m["gc_ms"] += st.jvmGcTime()
            m["shuffle_bytes"] += st.shuffleWriteBytes()
        phases = dict.fromkeys((p for p, _ in _PHASES), 0.0)
        for jqe, rows in self.collects.get(tid, ()):
            m["result_rows"] += rows
            tracked = jqe.tracker().phases()
            for key, name in _PHASES:
                opt = tracked.get(name)
                if opt.isDefined():
                    phases[key] += opt.get().durationMs()
            _walk(jqe.executedPlan(), m)
        return {**m, **{f"catalyst.{k}_ms": v for k, v in phases.items()}}


def _metric_values(node) -> dict[str, int]:
    out, it = {}, node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _walk(node, m: dict) -> None:
    """Sum scan and Python-stage SQL metrics over an executed plan, through
    adaptive plans, query stages and reused exchanges."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), m)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), m)
        return
    name = node.nodeName()
    if name.startswith("Scan ") or name.startswith("BatchScan") or name == "InMemoryTableScan":
        vals = _metric_values(node)
        m["scan_rows"] += vals.get("numOutputRows", 0)
        m["scan_files"] += vals.get("numFiles", 0)
        m["scan_bytes"] += vals.get("filesSize", 0)
        m["inmemory_scans"] += name == "InMemoryTableScan"
    elif "Python" in name or "Arrow" in name or "Pandas" in name:
        vals = _metric_values(node)
        if "pythonTotalTime" in vals or "pythonDataSent" in vals:
            m["python_ms"] += vals.get("pythonTotalTime", 0)
            m["python_boot_ms"] += vals.get("pythonBootTime", 0)
            m["python_bytes"] += vals.get("pythonDataSent", 0) + vals.get("pythonDataReceived", 0)
    kids = node.children()
    for i in range(kids.size()):
        _walk(kids.apply(i), m)


def layer_numbers(tracer: Tracer, tids: list[str], client_bytes: dict[str, int],
                  reduce=median) -> dict[str, float]:
    """Per-op layer numbers over ``tids``, reduced by ``reduce`` (the median
    per broker request; the sum over the queries of an analytic pass)."""
    rows: list[dict[str, float]] = []
    for tid in tids:
        st = tracer.self_times(tid)
        sm = tracer.spark_metrics(tid)
        dur = lambda n: st.get(n, (0.0, 0.0))[0]  # noqa: E731
        parse_analysis = sm["catalyst.parse_ms"] + sm["catalyst.analysis_ms"]
        row = {
            "engine.query_ms": dur("engine.query"),
            "engine.rewrite_ms": max(0.0, dur("engine.query") - parse_analysis)
            if "engine.query" in st else 0.0,
            "engine.envelope_ms": st.get("engine.query_broker_response", (0.0, 0.0))[1],
            "exec.collect_ms": dur("dataframe.collect"),
            "result_rows": sm["result_rows"],
        }
        if "client" in st:
            row["broker_http.self_ms"] = dur("client") - dur("engine.query_broker_response")
            row["broker_http.resp_bytes"] = client_bytes.get(tid, 0)
        for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_bytes",
                  "scan_rows", "scan_files", "scan_bytes", "inmemory_scans",
                  "python_ms", "python_boot_ms", "python_bytes"):
            row[f"exec.{k}"] = sm[k]
        for k, v in sm.items():
            if k.startswith("catalyst."):
                row[k] = v
        rows.append(row)
    keys = sorted({k for r in rows for k in r})
    out = {k: reduce([r.get(k, 0.0) for r in rows]) for k in keys}
    out["exec.scan_rows_per_result_row"] = out["exec.scan_rows"] / max(1.0, out.pop("result_rows"))
    return out
