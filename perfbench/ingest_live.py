"""``ingest_live``: dashboard queries beside a live KDG stream.

An open-loop generator lands KDG JSON files in the table's file source on a
fixed schedule (written beside the source directory, then renamed in).  The
table is provisioned the way the reference's bastion does it, through the
controller's ``POST /schemas`` + ``POST /tables`` with ``streamType: file``
and a 1-second flush threshold, so its pipeline runs a 1-second
processingTime trigger.  Meanwhile three closed-loop dashboard clients POST
SQL to the broker's ``/query/sql``.  Every third request is the live counter
tile, ``count(*)`` and ``sum(price)``, whose answers also measure freshness;
the other requests are panels drawn from a few templates with Zipf-popular
parameters (star-tree-routable, selective, high-cardinality top-N, Pinot
spellings, a ``queryOptions`` timeout).

The engine serves a table's files as of its last ``register_view``; a
refresher thread re-registers the view after every committed micro-batch,
as an application serving this engine must.
"""

from __future__ import annotations

import http.client
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np

import gen
from common import Window, median, percentile
from tracing import HEADER

RATE = 1000  # events per second offered by the open loop
PERIOD = 0.1  # seconds between landed files
PER_FILE = int(RATE * PERIOD)
INITIAL = 20_000  # events in the table before the window
INITIAL_FILES = 4
SETUP_REPS = 3
WARMUP_S = 3.0
CLIENTS = 3
PROBE_EVERY = 3  # every third request of a client is the live counter tile
TABLE = "clickstream"
PROBE = "SELECT COUNT(*) AS n, SUM(price) AS revenue FROM clickstream"

SCHEMA = {
    "schemaName": TABLE,
    "dimensionFieldSpecs": [
        {"name": k, "dataType": "STRING"}
        for k in ("userID", "productName", "color", "department", "product", "campaign")
    ],
    "metricFieldSpecs": [{"name": "price", "dataType": "INT"}],
    "dateTimeFieldSpecs": [{
        "name": "creationTimestamp", "dataType": "STRING",
        "format": "SIMPLE_DATE_FORMAT|yyyy-MM-dd HH:mm:ss", "granularity": "1:DAYS",
    }],
}


def table_config(name: str, src: str) -> dict:
    return {
        "tableName": name,
        "tableType": "REALTIME",
        "segmentsConfig": {"timeColumnName": "creationTimestamp", "schemaName": TABLE},
        "tableIndexConfig": {
            "streamConfigs": {
                "streamType": "file",
                "stream.file.path": src,
                # milliseconds; a duration string such as "1s" is not parsed
                "realtime.segment.flush.threshold.time": "1000",
            },
            "starTreeIndexConfigs": [{
                "dimensionsSplitOrder": ["campaign", "ingest_date"],
                "functionColumnPairs": ["SUM__price", "COUNT__price", "DISTINCTCOUNTHLL__userID"],
            }],
        },
    }


# -- the dashboard SQL mix ------------------------------------------------------
# (name, weight, Pinot SQL, DuckDB oracle, params in popularity order, options)

def templates(cols: dict[str, np.ndarray]) -> list[tuple]:
    users, counts = np.unique(cols["userID"], return_counts=True)
    hot_users = users[np.argsort(-counts, kind="stable")][:8].tolist()
    days = [str(np.datetime64(gen.BASE_DAY, "D") + i) for i in range(gen.EVENT_DAYS)]
    return [
        ("startree", 0.25,
         "SELECT campaign, SUM(price) AS revenue, COUNT(*) AS n FROM clickstream "
         "GROUP BY campaign ORDER BY campaign", None, [None], None),
        ("user", 0.20,
         "SELECT COUNT(*) AS n, SUM(price) AS revenue FROM clickstream WHERE userID = '{}'",
         None, hot_users, None),
        ("topn", 0.15,
         "SELECT userID, COUNT(*) AS n FROM clickstream GROUP BY userID "
         "ORDER BY n DESC, userID LIMIT {}", None, [10, 5, 20], None),
        ("hll", 0.15,
         "SELECT campaign, DISTINCTCOUNTHLL(userID) AS users FROM clickstream "
         "WHERE department = '{}' GROUP BY campaign ORDER BY campaign",
         "SELECT campaign, COUNT(DISTINCT userID) AS users FROM clickstream "
         "WHERE department = '{}' GROUP BY campaign ORDER BY campaign",
         list(gen.DEPARTMENTS[:6]), None),
        ("percentile", 0.10,
         "SELECT PERCENTILE(price, {}) AS p FROM clickstream WHERE campaign = '{}'",
         "SELECT quantile_cont(price, {} / 100.0) AS p FROM clickstream WHERE campaign = '{}'",
         [(90, c) for c in gen.CAMPAIGNS] + [(50, c) for c in gen.CAMPAIGNS], None),
        ("timeout", 0.10,
         "SELECT productName, SUM(price) AS revenue FROM clickstream WHERE color = '{}' "
         "GROUP BY productName ORDER BY revenue DESC, productName LIMIT 10",
         None, list(gen.COLORS[:6]), "timeoutMs=30000"),
        ("day", 0.05,
         "SELECT campaign, COUNT(*) AS n FROM clickstream WHERE creationTimestamp "
         "BETWEEN '{0} 00:00:00' AND '{0} 23:59:59' GROUP BY campaign ORDER BY campaign",
         None, days, None),
    ]


def _fill(text: str, param) -> str:
    if param is None:
        return text
    return text.format(*param) if isinstance(param, tuple) else text.format(param)


def query_sequence(seed: int, client: int, tmpl: list[tuple], n: int) -> list[tuple]:
    """The ``n`` requests a dashboard client sends, as (template, sql,
    options).  Every ``PROBE_EVERY``-th request is the live counter tile
    (``PROBE``, which also measures freshness); the panels between follow
    one fixed interleaved cycle that matches the template weights, so every
    stretch of the run asks the same mix.  The seed picks the starting point
    and each panel's Zipf-popular parameter."""
    rng = np.random.default_rng([seed, client])
    cycle = _interleave([round(t[1] * 20) for t in tmpl])
    start = int(rng.integers(0, len(cycle)))
    ranks = rng.zipf(1.5, size=n) - 1
    out, panel = [], start
    for k, rank in enumerate(ranks.tolist()):
        if k % PROBE_EVERY == 0:
            out.append(("probe", PROBE, None))
            continue
        name, _, text, _, params, opts = tmpl[cycle[panel % len(cycle)]]
        panel += 1
        out.append((name, _fill(text, params[min(rank, len(params) - 1)]), opts))
    return out


def _interleave(counts: list[int]) -> list[int]:
    """Indexes with ``counts[i]`` copies of ``i``, each spread evenly over
    the cycle (smooth weighted round-robin)."""
    credit, total, out = [0] * len(counts), sum(counts), []
    for _ in range(total):
        credit = [c + w for c, w in zip(credit, counts)]
        best = max(range(len(counts)), key=lambda i: credit[i])
        credit[best] -= total
        out.append(best)
    return out


# -- HTTP ---------------------------------------------------------------------

def post(port: int, path: str, body: dict, headers: dict | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
    try:
        conn.request("POST", path, json.dumps(body).encode(),
                     {"Content-Type": "application/json", **(headers or {})})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def ask(port: int, sql: str, opts: str | None = None, headers: dict | None = None) -> tuple[dict, int]:
    body = {"sql": sql}
    if opts:
        body["queryOptions"] = opts
    status, raw = post(port, "/query/sql", body, headers)
    if status != 200:
        raise RuntimeError(f"broker HTTP {status}")
    return json.loads(raw), len(raw)


# -- serving glue ----------------------------------------------------------------

class Refresher(threading.Thread):
    """Re-register the table's view after every committed micro-batch."""

    def __init__(self, spark, engine, name: str):
        super().__init__(name="perfbench-refresher", daemon=True)
        self.spark, self.engine, self.name = spark, engine, name
        self.stop_evt = threading.Event()
        self.last_batch = -1
        self.error: Exception | None = None

    def run(self) -> None:
        try:
            while not self.stop_evt.wait(0.02):
                active = self.spark.streams.active
                prog = active[0].lastProgress if active else None
                if prog is not None and prog.batchId != self.last_batch and prog.numInputRows > 0:
                    self.engine.register_view(self.name)
                    self.last_batch = prog.batchId
        except Exception as e:  # re-raised by close() in the caller's thread
            self.error = e

    def close(self) -> None:
        self.stop_evt.set()
        self.join(timeout=30)
        if self.error is not None:
            raise self.error


def land(src: str, stage: str, name: str, text: str) -> float:
    """Write beside the source directory, rename in; returns the landing time."""
    tmp = os.path.join(stage, name)
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, os.path.join(src, name))
    return time.perf_counter()


class Serving:
    """The engine with its controller and broker, started once per run."""

    def __init__(self, spark, work: str):
        from real_time_analytics_with_apache_pinot_on_aws_spark.broker_http import start_broker
        from real_time_analytics_with_apache_pinot_on_aws_spark.controller_http import start_controller
        from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine

        self.spark, self.work = spark, work
        self.engine = Engine(spark, os.path.join(work, "warehouse"))
        self.controller = start_controller(self.engine, port=0)
        self.broker = start_broker(self.engine, port=0)
        self.refresher: Refresher | None = None

    def provision(self, name: str, initial_text: list[str]) -> str:
        """Land the initial files, provision ``name`` over the controller and
        wait for the first broker answer that sees them all; returns the
        table's source directory."""
        src = os.path.join(self.work, name, "src")
        stage = os.path.join(self.work, name, "stage")
        os.makedirs(src)
        os.makedirs(stage)
        for i, text in enumerate(initial_text):
            land(src, stage, f"init-{i:03d}.json", text)
        for path, body in (("/schemas", SCHEMA), ("/tables", table_config(name, src))):
            status, raw = post(self.controller.port, path, body)
            if status != 200:
                raise RuntimeError(f"controller {path}: HTTP {status} {raw[:200]!r}")
        self.refresher = Refresher(self.spark, self.engine, name)
        self.refresher.start()
        probe = PROBE.replace(TABLE, name)
        deadline = time.perf_counter() + 120
        while True:
            if time.perf_counter() > deadline:
                raise TimeoutError(f"{name}: initial load not visible within 120 s")
            if self.refresher.last_batch < 0:  # no view to query yet
                time.sleep(0.01)
                continue
            resp, _ = ask(self.broker.port, probe)
            if not resp["exceptions"] and resp["resultTable"]["rows"][0][0] == INITIAL:
                return src
            time.sleep(0.02)

    def stop_table(self, name: str) -> None:
        """Stop consuming ``name`` between triggers."""
        self.refresher.close()
        self.refresher = None
        for q in self.spark.streams.active:
            deadline = time.perf_counter() + 10
            while q.status["isTriggerActive"] and time.perf_counter() < deadline:
                time.sleep(0.01)
        self.engine.pipelines[name].stop()

    def close(self) -> None:
        try:
            if self.refresher is not None:
                self.refresher.close()
        finally:
            self.broker.stop()
            self.controller.stop()
            self.engine.stop()


# -- the run ---------------------------------------------------------------------

class Generator(threading.Thread):
    """Open loop: file ``i`` is due at ``t0 + i * PERIOD`` whatever the
    system does; lateness is recorded, never compensated by skipping."""

    def __init__(self, texts: list[str], src: str, stage: str):
        super().__init__(name="perfbench-generator", daemon=True)
        self.texts, self.src, self.stage = texts, src, stage
        self.landed: list[tuple[float, float]] = []  # (due, landed)
        self.stop_evt = threading.Event()

    def run(self) -> None:
        t0 = time.perf_counter()
        for i, text in enumerate(self.texts):
            due = t0 + i * PERIOD
            if self.stop_evt.wait(max(0.0, due - time.perf_counter())):
                return
            self.landed.append((due, land(self.src, self.stage, f"live-{i:05d}.json", text)))


def run(spark, work: str, seed: int, seconds: int, tracer, proc) -> dict:
    files_total = int((WARMUP_S + seconds) / PERIOD)
    cols = gen.kdg_events(seed, INITIAL + files_total * PER_FILE)
    per_init = INITIAL // INITIAL_FILES
    initial_text = [gen.kdg_lines(cols, i * per_init, (i + 1) * per_init)
                    for i in range(INITIAL_FILES)]
    live_text = [gen.kdg_lines(cols, INITIAL + i * PER_FILE, INITIAL + (i + 1) * PER_FILE)
                 for i in range(files_total)]
    price = cols["price"].astype(np.int64)
    cum_n = INITIAL + PER_FILE * np.arange(files_total + 1)
    cum_sum = np.concatenate([[0], np.cumsum(price)])[cum_n]
    boundaries = {int(n): int(s) for n, s in zip(cum_n, cum_sum)}
    tmpl = templates(cols)
    sequences = [query_sequence(seed, c, tmpl, 5000) for c in range(CLIENTS)]

    t = time.perf_counter()
    serving = Serving(spark, work)
    once_s = time.perf_counter() - t
    reps = []
    for rep in range(SETUP_REPS):  # the last one provisions the measured table
        name = TABLE if rep == SETUP_REPS - 1 else f"{TABLE}_setup{rep}"
        t = time.perf_counter()
        src = serving.provision(name, initial_text)
        reps.append(time.perf_counter() - t)
        if name != TABLE:
            serving.stop_table(name)
    if tracer is not None:
        tracer.install(serving.engine)
    port = serving.broker.port

    records: list[dict] = []  # one per completed request
    rec_lock = threading.Lock()
    stop_clients = threading.Event()
    errors: list[str] = []

    def client(cid: int, seq) -> None:
        k = 0
        while not stop_clients.is_set():
            tmpl_name, sql, opts = seq[k % len(seq)]
            tid = f"c{cid}-{k}" if tracer is not None and k % 2 else None
            t0 = time.perf_counter()
            try:
                with tracer.span("client", tid) if tid else nullcontext():
                    resp, nbytes = ask(port, sql, opts, {HEADER: tid} if tid else None)
                ok = not resp["exceptions"]
                if not ok:
                    errors.append(f"{sql}: {resp['exceptions']}")
            except Exception as e:  # counted as a failed request
                resp, nbytes, ok = None, 0, False
                errors.append(f"{sql}: {type(e).__name__}: {e}")
            rec = {"client": cid, "template": tmpl_name, "sql": sql, "opts": opts,
                   "t0": t0, "t1": time.perf_counter(), "ok": ok, "bytes": nbytes,
                   "tid": tid, "rows": resp["resultTable"]["rows"] if ok else None}
            with rec_lock:
                records.append(rec)
            k += 1

    generator = Generator(live_text, src, os.path.join(os.path.dirname(src), "stage"))
    threads = [threading.Thread(target=client, args=(c, sequences[c]), daemon=True)
               for c in range(CLIENTS)]
    generator.start()
    for t in threads:
        t.start()
    time.sleep(WARMUP_S)
    w0 = time.perf_counter()
    window = Window(proc)
    query = spark.streams.active[0]
    first_batch = _last_batch(query) + 1
    time.sleep(seconds)
    w1 = time.perf_counter()
    window.close()
    last_batch = _last_batch(query)
    generator.stop_evt.set()
    generator.join(timeout=30)
    landed = list(generator.landed)
    total_n = INITIAL + PER_FILE * len(landed)
    deadline = time.perf_counter() + 90
    while True:  # drain: keep the clients running until a tile answer covers it all
        with rec_lock:
            seen = max((r["rows"][0][0] for r in records if r["template"] == "probe" and r["ok"]),
                       default=0)
        if seen >= total_n or time.perf_counter() > deadline:
            break
        time.sleep(0.05)
    stop_clients.set()
    for t in threads:
        t.join(timeout=120)
    t_drained = time.perf_counter()
    progress = [p for p in query.recentProgress  # batches completed in the window
                if first_batch <= p.batchId <= last_batch and p.numInputRows > 0]
    if tracer is not None:
        tracer.uninstall()

    # -- answers ----------------------------------------------------------
    failed = sum(not r["ok"] for r in records)
    probes = sorted((r for r in records if r["template"] == "probe" and r["ok"]),
                    key=lambda r: r["t1"])
    for r in probes:  # every answer is a committed prefix of the stream
        n, s = r["rows"][0]
        if boundaries.get(int(n)) != (int(s) if s is not None else 0):
            failed += 1
            errors.append(f"count/sum {n}/{s} is no committed prefix")
    failed += monotonic_violations(probes, errors)
    final, _ = ask(port, PROBE)
    if final["exceptions"] or final["resultTable"]["rows"][0] != [total_n, boundaries[total_n]]:
        failed += 1
        errors.append(f"final count/sum {final.get('resultTable')} != "
                      f"{total_n}/{boundaries[total_n]}")
    checked, wrong = check_mix(port, records, tmpl, cols, total_n, errors)
    failed += wrong
    phases = {"drain_s": t_drained - w1, "checks_s": time.perf_counter() - t_drained}

    # -- metrics ----------------------------------------------------------
    in_window = [r for r in records if w0 <= r["t0"] and r["t1"] <= w1 and r["ok"]]
    lat = [(r["t1"] - r["t0"]) * 1000 for r in in_window if r["tid"] is None]
    p50, _ = percentile(lat, 50)
    p90, n_lat = percentile(lat, 90)
    fresh, lag = freshness(landed, probes, w0, w1)
    f50, _ = percentile(fresh, 50)
    f90, n_fresh = percentile(fresh, 90)
    trig = [p.durationMs.get("triggerExecution", 0) for p in progress]
    rows_in = sum(p.numInputRows for p in progress)
    data_dir = os.path.join(work, "warehouse", TABLE)
    files, nbytes = _parquet(os.path.join(data_dir, "data"))
    rollup_files, _ = _parquet(os.path.join(data_dir, "startree"))
    attempted = len(records) + len(probes) + 1 + checked
    out = {
        "attempted": attempted,
        "failed": failed,
        "errors": errors[:20],
        "end_to_end": {
            "setup_s": None,  # filled in by the caller (adds session start)
            "query_qps": sum(1 for r in records if w0 <= r["t1"] <= w1 and r["ok"]) / (w1 - w0),
            "query_p50_ms": p50,
            "query_p90_ms": p90,
            "peak_rss_mb": proc.peak_rss_mb(),
        },
        "setup_once_s": once_s,
        "setup_reps_s": reps,
        "samples": {"query_latency": n_lat, "freshness": n_fresh},
        "phases": phases,
        "per_op_ms": {
            name: [round(median((r["t1"] - r["t0"]) * 1000 for r in in_window
                                if r["template"] == name and r["tid"] is None)),
                   sum(r["template"] == name and r["tid"] is None for r in in_window)]
            for name in ["probe"] + [t[0] for t in tmpl]},
        "layers": {
            "fresh_p50_ms": f50,
            "fresh_p90_ms": f90,
            "ingest_rows_per_s": rows_in / (sum(trig) / 1000) if trig else 0.0,
            "ingest.batches": len(progress),
            "ingest.rows_per_batch": median(p.numInputRows for p in progress),
            "ingest.trigger_ms": median(trig),
            "ingest.add_batch_ms": median(p.durationMs.get("addBatch", 0) for p in progress),
            "ingest.latest_offset_ms": median(p.durationMs.get("latestOffset", 0) for p in progress),
            "ingest.plan_ms": median(p.durationMs.get("queryPlanning", 0) for p in progress),
            "ingest.wal_ms": median(p.durationMs.get("walCommit", 0) for p in progress),
            "ingest.busy_share": sum(trig) / 1000 / (w1 - w0),
            "ingest.lag_files_max": lag,
            "storage.files": files,
            "storage.rollup_files": rollup_files,
            "storage.bytes_per_event": nbytes / total_n,
            "gen.late_ms_max": max((l - d) * 1000 for d, l in landed) if landed else 0.0,
        },
        "window": window,
        "traced": None,
    }
    if tracer is not None:
        traced = [r for r in in_window if r["tid"] is not None]
        t_lat = [(r["t1"] - r["t0"]) * 1000 for r in traced]
        out["traced"] = {
            "tids": [r["tid"] for r in traced],
            "bytes": {r["tid"]: r["bytes"] for r in traced},
            "reduce": median,
            "overhead_ms": median(t_lat) - median(lat),
        }
    out["close"] = serving.close
    return out


def _last_batch(query) -> int:
    prog = query.lastProgress
    return prog.batchId if prog is not None else -1


def monotonic_violations(probes: list[dict], errors: list[str]) -> int:
    """A probe that started after another completed must not see fewer rows."""
    bad, best, done = 0, 0, sorted(probes, key=lambda r: r["t1"])
    j = 0
    for r in sorted(probes, key=lambda r: r["t0"]):
        while j < len(done) and done[j]["t1"] <= r["t0"]:
            best = max(best, done[j]["rows"][0][0])
            j += 1
        if r["rows"][0][0] < best:
            bad += 1
            errors.append(f"count went back from {best} to {r['rows'][0][0]}")
    return bad


def freshness(landed, probes, w0: float, w1: float) -> tuple[list[float], int]:
    """Per file landed in the window: ms from landing until the first
    completed probe whose count covers it; and the most files that were
    landed but not yet visible at once."""
    out, events = [], []
    for i, (_, at) in enumerate(landed):
        need = INITIAL + PER_FILE * (i + 1)
        seen = next((p["t1"] for p in probes
                     if p["t1"] >= at and p["rows"][0][0] >= need), None)
        if seen is None:
            break
        if w0 <= at <= w1:
            out.append((seen - at) * 1000)
            events += [(at, 1), (seen, -1)]
    depth = peak = 0
    for _, d in sorted(events):  # at equal times a departure sorts first
        depth += d
        peak = max(peak, depth)
    return out, peak


def _parquet(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, names in os.walk(root):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def check_mix(port: int, records, tmpl, cols, total_n: int, errors: list[str]) -> tuple[int, int]:
    """Re-ask every distinct dashboard text on the final table and compare
    with DuckDB over the generated events.  HLL within 6% (about 4 standard
    errors of a lgK=12 sketch); everything else exactly."""
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    con.register("clickstream", pa.table({k: v[:total_n] for k, v in cols.items()}))
    oracle_of = {t[0]: (t[2], t[3], t[4]) for t in tmpl}
    texts = sorted({(r["template"], r["sql"], r["opts"]) for r in records
                    if r["template"] != "probe"},
                   key=lambda x: x[1])
    wants = []
    for name, sql, _ in texts:
        text, oracle, params = oracle_of[name]
        param = next(p for p in params if _fill(text, p) == sql)
        wants.append([list(row) for row in con.sql(_fill(oracle or text, param)).fetchall()])
    con.close()
    with ThreadPoolExecutor(CLIENTS + 1) as pool:
        answers = list(pool.map(lambda t: ask(port, t[1], t[2])[0], texts))
    wrong = 0
    for (name, sql, _), want, resp in zip(texts, wants, answers):
        got = resp["resultTable"]["rows"] if not resp["exceptions"] else resp["exceptions"]
        if not _same(got, want, hll=name == "hll"):
            wrong += 1
            errors.append(f"{sql}: got {str(got)[:200]} want {str(want)[:200]}")
    return len(texts), wrong


def _same(got, want, hll: bool) -> bool:
    if len(got) != len(want):
        return False
    for g_row, w_row in zip(got, want):
        if len(g_row) != len(w_row):
            return False
        for g, w in zip(g_row, w_row):
            if isinstance(w, float) or (hll and isinstance(w, int) and not isinstance(g, str)):
                tol = 0.06 * abs(w) if hll else 1e-9 * max(1.0, abs(w))
                if g is None or abs(g - w) > tol:
                    return False
            elif g != w:
                return False
    return True
