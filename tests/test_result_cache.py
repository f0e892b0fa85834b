"""The broker result cache (resultcache.py + Engine.query_broker_response):
answers keyed on the request text and the engine's view generation, stored
only for deterministic plain-SQL plans over engine-published views, with
single-flight misses.  Freshness, never-stored shapes, DDL invalidation,
envelope isolation, counters, bounds, and a concurrent stress run checked
against the serial answers of each generation."""

from __future__ import annotations

import json
import threading
import time

import pytest

from real_time_analytics_with_apache_pinot_on_aws_spark import broker_http, resultcache
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from real_time_analytics_with_apache_pinot_on_aws_spark.resultcache import ResultCache
from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import RawRecordSource
from tests.test_schema import CLICKSTREAM_SCHEMA

CAMPAIGNS = ("BlackFriday", "10Percent", "NONE")
PER_FILE = 4
COUNT = "SELECT count(*) AS n, sum(price) AS s FROM rc"
GROUPED = (
    "SELECT campaign, count(*) AS n, sum(price) AS s FROM rc "
    "GROUP BY campaign ORDER BY campaign"
)
JSON_MATCH = "SELECT userID FROM rc WHERE JSON_MATCH(payload, '\"$.k\" = 1')"


def _rows(k: int) -> list[dict]:
    """The events of source file ``k``."""
    return [
        {
            "userID": f"u{k}-{i}",
            "campaign": CAMPAIGNS[(k + i) % 3],
            "price": 10 * k + i,
            "payload": json.dumps({"k": i % 2}),
            "creationTimestamp": f"2024-06-01 {k % 24:02d}:{i:02d}:00",
        }
        for i in range(PER_FILE)
    ]


def _events(level: int) -> list[dict]:
    return [r for k in range(level + 1) for r in _rows(k)]


def _count(level: int) -> list:
    ev = _events(level)
    return [[len(ev), sum(r["price"] for r in ev)]]


def _grouped(level: int) -> list:
    ev = _events(level)
    return [
        [c, sum(r["campaign"] == c for r in ev),
         sum(r["price"] for r in ev if r["campaign"] == c)]
        for c in sorted(CAMPAIGNS)
    ]


def _json_ids(level: int) -> set:
    return {r["userID"] for r in _events(level) if json.loads(r["payload"])["k"] == 1}


class _Table:
    """An engine with one file-sourced REALTIME table ``rc`` (primary key,
    JSON column, TEXT index) whose view shows source files 0..level."""

    def __init__(self, spark, tmp_path):
        self.src = tmp_path / "src"
        self.src.mkdir()
        config = {
            "tableName": "rc",
            "tableType": "REALTIME",
            "primaryKeyColumns": ["userID"],
            "segmentsConfig": {"timeColumnName": "creationTimestamp"},
            "tableIndexConfig": {
                "streamConfigs": {"realtime.segment.flush.threshold.time": "2m"}
            },
            "fieldConfigList": [{
                "name": "campaign", "encodingType": "RAW", "indexType": "TEXT",
                "properties": {
                    "luceneAnalyzerClass": "org.apache.lucene.analysis.en.EnglishAnalyzer",
                },
            }],
        }
        self.engine = Engine(spark, str(tmp_path / "warehouse"))
        self.level = -1
        self.land()
        self.pipe = self.engine.add_table(
            CLICKSTREAM_SCHEMA, config,
            RawRecordSource(kind="files", path=str(self.src)), available_now=True,
        )
        self.pipe.process_available()
        self.engine.register_view("rc")

    def land(self) -> None:
        """Write the next source file (not yet ingested)."""
        self.level += 1
        with open(self.src / f"f{self.level:03d}.json", "w") as fh:
            for r in _rows(self.level):
                fh.write(json.dumps(r) + "\n")

    def ask(self, sql: str) -> dict:
        resp = self.engine.query_broker_response(sql)
        assert resp["exceptions"] == [], resp["exceptions"]
        return resp

    def rows(self, sql: str) -> list:
        return self.ask(sql)["resultTable"]["rows"]

    def stats(self) -> dict:
        return self.engine.result_cache_stats()

    def close(self) -> None:
        self.pipe.stop()


@pytest.fixture
def table(spark, tmp_path):
    t = _Table(spark, tmp_path)
    yield t
    t.close()


def test_freshness_needs_register_view_and_then_sees_the_new_rows(table):
    assert table.rows(COUNT) == _count(0)
    assert table.rows(COUNT) == _count(0)  # hit
    table.land()
    table.pipe.process_available()
    # the engine serves files as of its last register_view, cached or not
    assert table.rows(COUNT) == _count(0)
    table.engine.register_view("rc")
    assert table.rows(COUNT) == _count(1)
    assert table.rows(GROUPED) == _grouped(1)


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT userID, rand() AS r FROM rc",
        "SELECT count(*) AS n FROM rc WHERE price < unix_millis(now())",
        "SELECT count(*) AS n FROM rc WHERE price < AGO('PT1H')",
        "SELECT count(*) AS n, current_date() AS d FROM rc",
        "SELECT count(*) AS n FROM rc WHERE price < "
        "(SELECT max(unix_millis(now())) FROM rc)",
        "SELECT count(*) AS n FROM rc WHERE price IN "
        "(SELECT price FROM rc WHERE rand() < 2)",
        "SELECT count(*) AS n FROM rc_nums",
        "SELECT count(*) AS n FROM rc JOIN rc_nums ON rc.price = rc_nums.id",
        "SELECT count(*) AS n FROM rc_copy",
        "SELECT 1 AS one",
        "EXPLAIN PLAN FOR SELECT count(*) FROM rc",
        "SELECT userID FROM rc WHERE TEXT_MATCH(campaign, 'blackfridays')",
        JSON_MATCH,
        "SELECT $docId, userID FROM rc WHERE price = 0",
        "SELECT count(*) AS n FROM ("
        "SELECT GAPFILL(tb, '1:HOURS:EPOCH', '2024-06-01 00:00:00', "
        "'2024-06-01 04:00:00', '1:HOURS', FILL(v, 'FILL_DEFAULT_VALUE')) AS tb, v "
        "FROM (SELECT date_trunc('HOUR', creationTimestamp__ts) AS tb, "
        "CAST(price AS DOUBLE) AS v FROM rc))",
    ],
    ids=[
        "rand", "now", "ago", "current_date", "now_in_subquery",
        "rand_in_subquery", "range_view", "range_view_join",
        "user_view_over_warehouse_files", "no_relation", "explain",
        "text_match", "json_match", "docid", "gapfill",
    ],
)
def test_uncacheable_answers_are_never_stored(table, spark, sql):
    spark.range(7).createOrReplaceTempView("rc_nums")
    # the same files as rc, but a view the engine did not publish
    spark.read.parquet(table.pipe.table_path).createOrReplaceTempView("rc_copy")
    before = table.stats()
    for _ in range(2):
        table.ask(sql)
    after = table.stats()
    assert after["stores"] == before["stores"]
    assert after["hits"] == before["hits"]
    assert after["misses"] == before["misses"] + 2


def test_direct_parquet_path_is_never_stored(table):
    sql = f"SELECT count(*) AS n FROM parquet.`{table.pipe.table_path}`"
    before = table.stats()
    assert table.rows(sql) == [[PER_FILE]]
    table.land()
    table.pipe.process_available()
    # a path read lists the directory per request: it must see new files
    # at once, which a stored answer could not
    assert table.rows(sql) == [[2 * PER_FILE]]
    assert table.stats()["stores"] == before["stores"]


def test_ddl_through_broker_invalidates(table):
    srv = broker_http.start_broker(table.engine, port=0)
    try:
        def post(sql: str) -> dict:
            import urllib.request

            req = urllib.request.Request(
                srv.url(), data=json.dumps({"sql": sql}).encode(),
                headers={"Content-Type": "application/json"}, method="POST",
            )
            with urllib.request.urlopen(req, timeout=60) as resp:
                body = json.loads(resp.read())
            assert body["exceptions"] == [], body["exceptions"]
            return body

        post("CREATE OR REPLACE TEMPORARY VIEW rc_cheap AS SELECT * FROM rc WHERE price < 2")
        q = "SELECT count(*) AS n FROM rc_cheap"
        assert post(q)["resultTable"]["rows"] == [[2]]
        stats = table.stats()
        assert post(q)["resultTable"]["rows"] == [[2]]
        assert table.stats()["hits"] == stats["hits"] + 1
        post("CREATE OR REPLACE TEMPORARY VIEW rc_cheap AS SELECT * FROM rc WHERE price < 3")
        assert table.stats()["invalidations"] == stats["invalidations"] + 1
        assert post(q)["resultTable"]["rows"] == [[3]]
    finally:
        srv.stop()


def test_mutating_a_returned_envelope_leaves_the_next_hit_unchanged(table):
    first = table.ask(GROUPED)
    first["resultTable"]["rows"][0][1] = -1
    first["resultTable"]["rows"].append(["x", 0, 0])
    hit = table.ask(GROUPED)
    assert hit["resultTable"]["rows"] == _grouped(0)
    hit["resultTable"]["rows"].clear()
    hit["resultTable"]["dataSchema"]["columnNames"].reverse()
    again = table.ask(GROUPED)
    assert again["resultTable"]["rows"] == _grouped(0)
    assert again["resultTable"]["dataSchema"]["columnNames"] == ["campaign", "n", "s"]
    assert len({first["requestId"], hit["requestId"], again["requestId"]}) == 3


def test_result_cache_stats_counters(table, monkeypatch):
    engine = table.engine
    base = table.stats()
    assert base["invalidations"] == 1  # the register_view in the fixture
    assert base == {
        "hits": 0, "misses": 0, "coalesced": 0, "stores": 0,
        "invalidations": 1, "entries": 0, "generation": base["generation"],
    }
    table.ask(COUNT)
    table.ask(COUNT)
    table.ask("SELECT userID, rand() AS r FROM rc")
    s = table.stats()
    assert (s["hits"], s["misses"], s["stores"], s["entries"]) == (1, 2, 1, 1)

    # identical concurrent misses: one leader runs, the rest wait for it
    real = engine._broker_answer
    calls = []

    def slow(*args):
        calls.append(args[0])
        time.sleep(1.0)
        return real(*args)

    monkeypatch.setattr(engine, "_broker_answer", slow)
    out = []
    threads = [
        threading.Thread(target=lambda: out.append(table.rows(GROUPED)))
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert out == [_grouped(0)] * 4
    assert calls == [GROUPED]
    s2 = table.stats()
    assert s2["coalesced"] == s["coalesced"] + 3
    assert s2["misses"] == s["misses"] + 1
    assert s2["stores"] == s["stores"] + 1

    engine.register_view("rc")
    s3 = table.stats()
    assert s3["invalidations"] == s2["invalidations"] + 1
    assert s3["generation"] > s2["generation"]
    assert s3["entries"] == 0


def test_waiter_gives_up_at_its_own_timeout(table, monkeypatch):
    engine = table.engine
    real = engine._broker_answer

    def slow(*args):
        time.sleep(2.5)
        return real(*args)

    monkeypatch.setattr(engine, "_broker_answer", slow)
    sql = "SET timeoutMs=300; " + COUNT
    leader = threading.Thread(target=engine.query_broker_response, args=(sql,))
    leader.start()
    time.sleep(0.3)
    t0 = time.monotonic()
    resp = engine.query_broker_response(sql)
    waited = time.monotonic() - t0
    leader.join()
    assert resp["exceptions"][0]["errorCode"] == 250
    assert waited < 1.5
    assert table.stats()["coalesced"] == 1


def test_waiter_runs_itself_when_the_leader_fails(table, monkeypatch):
    engine = table.engine
    real = engine._broker_answer
    first = threading.Event()

    def flaky(*args):
        if not first.is_set():
            first.set()
            time.sleep(1.0)
            return {"numRowsResultSet": 0, "timeUsedMs": 0,
                    "exceptions": [{"errorCode": 200, "message": "boom"}]}, False
        return real(*args)

    monkeypatch.setattr(engine, "_broker_answer", flaky)
    out = {}
    leader = threading.Thread(
        target=lambda: out.setdefault("leader", engine.query_broker_response(COUNT))
    )
    leader.start()
    first.wait()
    waiter = engine.query_broker_response(COUNT)
    leader.join()
    assert out["leader"]["exceptions"][0]["message"] == "boom"
    assert waiter["exceptions"] == [] and waiter["resultTable"]["rows"] == _count(0)
    s = table.stats()
    assert (s["coalesced"], s["misses"], s["stores"]) == (1, 2, 0)


def test_entry_and_size_bounds(table, monkeypatch):
    monkeypatch.setattr(resultcache, "MAX_ENTRIES", 2)
    texts = [f"SELECT count(*) AS n FROM rc WHERE price >= {i}" for i in range(3)]
    for sql in texts:
        table.ask(sql)
    assert table.stats()["entries"] == 2
    hits = table.stats()["hits"]
    table.ask(texts[2])  # most recent: still stored
    table.ask(texts[0])  # least recently used: evicted
    assert table.stats()["hits"] == hits + 1

    monkeypatch.setattr(resultcache, "MAX_RESULT_BYTES", 64)
    stores = table.stats()["stores"]
    table.ask(GROUPED)  # pickles to more than 64 bytes
    assert table.stats()["stores"] == stores


def test_generation_moves_while_running_is_not_stored():
    cache = ResultCache()

    def run_across_publish():
        with cache.publishing():
            pass
        return {"rows": [1]}, True

    assert cache.serve("q", run_across_publish, None) == ({"rows": [1]}, "run")
    assert cache.stats()["stores"] == 0
    # while a publish is open, nothing is looked up or stored
    with cache.publishing():
        assert cache.serve("q", lambda: ({"rows": [2]}, True), None)[1] == "run"
        assert cache.stats()["stores"] == 0
    assert cache.serve("q", lambda: ({"rows": [3]}, True), None)[1] == "run"
    assert cache.serve("q", lambda: ({"rows": [4]}, True), None) == ({"rows": [3]}, "hit")
    cache.invalidate()
    assert cache.serve("q", lambda: ({"rows": [5]}, True), None) == ({"rows": [5]}, "run")


def test_result_cache_threads_never_serve_a_stale_generation():
    """More threads than cores on one key while publishes change the
    answer inside their bracket: no request may get an answer older than
    the last publish that finished before it started."""
    import sys

    cache = ResultCache()
    version = [0]
    stop = threading.Event()
    failures: list = []

    def run():
        v = version[0]
        time.sleep(0.001)
        return v, True

    def publisher():
        while not stop.is_set():
            with cache.publishing():
                time.sleep(0.0005)  # the catalog update takes a while
                version[0] += 1
            time.sleep(0.001)

    def client():
        for _ in range(200):
            v0 = version[0]
            answer, _ = cache.serve("q", run, None)
            if answer < v0:
                failures.append((answer, v0))

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        pub = threading.Thread(target=publisher)
        clients = [threading.Thread(target=client) for _ in range(16)]
        pub.start()
        for t in clients:
            t.start()
        for t in clients:
            t.join(timeout=60)
        stop.set()
        pub.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in clients + [pub])
    assert failures == []
    s = cache.stats()
    assert s["hits"] + s["coalesced"] > 0 and s["invalidations"] > 1


def test_concurrent_broker_stress(table, spark):
    """Eight clients over the broker path while views churn: cacheable
    texts, nondeterministic and current-time texts, a non-warehouse view,
    JSON_MATCH and a timeoutMs request.  Every answer must be the serial
    answer of some generation at least as new as the one visible when the
    request started, and no count may go backwards."""
    spark.range(7).createOrReplaceTempView("rc_nums")
    texts = {
        "count": COUNT,
        "grouped": GROUPED,
        "timeout": "SET timeoutMs=60000; " + COUNT,
        "rand": "SELECT count(*) AS n, sum(price) AS s, rand() AS r FROM rc",
        "now": COUNT + " WHERE unix_millis(now()) > 0",
        "range": "SELECT count(*) AS n FROM rc_nums",
        "json": JSON_MATCH,
    }
    kinds = list(texts)
    levels = 5
    visible = [0]  # newest level whose register_view has returned
    churning = threading.Event()
    churning.set()
    records: list[tuple] = []
    lock = threading.Lock()
    errors: list[BaseException] = []

    def churn() -> None:
        try:
            for _ in range(levels):
                table.land()
                table.pipe.process_available()
                table.engine.register_view("rc")
                visible[0] = table.level
                table.engine.register_view("rc")  # a publish with no new data
                time.sleep(0.3)
        except BaseException as e:  # pragma: no cover - surfaced below
            errors.append(e)
        finally:
            churning.clear()

    def client(cid: int) -> None:
        try:
            k = cid
            rounds_after = 0
            while churning.is_set() or rounds_after < len(kinds):
                if not churning.is_set():
                    rounds_after += 1
                kind = kinds[k % len(kinds)]
                k += 1
                lvl0 = visible[0]
                t0 = time.monotonic()
                resp = table.engine.query_broker_response(texts[kind])
                t1 = time.monotonic()
                with lock:
                    records.append((kind, lvl0, t0, t1, resp))
        except BaseException as e:  # pragma: no cover - surfaced below
            errors.append(e)

    threads = [threading.Thread(target=client, args=(c,)) for c in range(8)]
    threads.append(threading.Thread(target=churn))
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not errors, errors
    assert not any(t.is_alive() for t in threads)

    counts = {tuple(_count(lv)[0]): lv for lv in range(levels + 1)}
    grouped = {json.dumps(_grouped(lv)): lv for lv in range(levels + 1)}
    json_sets = {frozenset(_json_ids(lv)): lv for lv in range(levels + 1)}
    rands = []
    seen = []  # (t0, t1, level) of every answer that identifies its level
    for kind, lvl0, t0, t1, resp in records:
        assert resp["exceptions"] == [], (kind, resp["exceptions"])
        rows = resp["resultTable"]["rows"]
        if kind == "range":
            assert rows == [[7]]
            continue
        if kind == "grouped":
            level = grouped.get(json.dumps(rows))
        elif kind == "json":
            level = json_sets.get(frozenset(r[0] for r in rows))
        else:
            level = counts.get(tuple(rows[0][:2]))
            if kind == "rand":
                rands.append(rows[0][2])
        assert level is not None, (kind, rows)  # a serial answer of a generation
        assert level >= lvl0, (kind, level, lvl0)  # never from a stale one
        seen.append((t0, t1, level))
    assert len(set(rands)) == len(rands)  # rand() answers were never shared
    done = sorted(seen, key=lambda r: r[1])
    best, j = -1, 0
    for t0, _, level in sorted(seen):
        while j < len(done) and done[j][1] <= t0:
            best = max(best, done[j][2])
            j += 1
        assert level >= best  # no count goes backwards
    assert max(level for _, _, level in seen) == levels
    assert table.stats()["hits"] > 0
