"""Controller REST facade: the reference's provisioning flow over HTTP.

The reference creates its table with ``pinot-admin.sh AddTable -schemaFile
-tableConfigFile -controllerHost <ALB>`` (bastionUserData.sh:36) — two
controller calls, POST /schemas then POST /tables.  These tests run that
exact flow (file-backed stream source so the round-trip is jar-free),
query the provisioned table, inspect it, and drop it.
"""

from __future__ import annotations

import json
import time
import urllib.request
from pathlib import Path

from real_time_analytics_with_apache_pinot_on_aws_spark.controller_http import start_controller
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine
from tests.test_schema import CLICKSTREAM_SCHEMA
from tests.test_streaming_engine import TABLE_CONFIG, _write_events


def _req(url: str, method: str = "GET", body: dict | None = None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        url, data=data, method=method,
        headers={"Content-Type": "application/json"} if data else {},
    )
    def _parse(raw: bytes):
        try:
            return json.loads(raw or b"null")
        except json.JSONDecodeError:
            return raw.decode()  # text endpoints (/health)

    try:
        with urllib.request.urlopen(req, timeout=30) as resp:
            return resp.status, _parse(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, _parse(e.read())


def _table_config(src_dir: str) -> dict:
    cfg = json.loads(json.dumps(TABLE_CONFIG))
    # the reference's streamConfigs block (kinesisTableConfigFile.json:14-26)
    # with the jar-free file stream standing in for the Kinesis shard reader
    cfg["tableIndexConfig"]["streamConfigs"] = {
        "streamType": "file",
        "stream.file.path": src_dir,
        "realtime.segment.flush.threshold.time": "5000",
    }
    return cfg


def test_addtable_over_http_round_trip(spark, tmp_path):
    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 9, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        # AddTable without a schema is rejected like Pinot's controller
        code, resp = _req(f"{base}/tables", "POST", _table_config(str(src_dir)))
        assert code == 400 and "schema" in resp["error"]

        code, resp = _req(f"{base}/schemas", "POST", CLICKSTREAM_SCHEMA)
        assert code == 200 and "successfully added" in resp["status"]
        code, resp = _req(f"{base}/tables", "POST", _table_config(str(src_dir)))
        assert code == 200 and resp["consuming"] is True

        # an AddTable retry must not clobber the live pipeline: 409
        code, resp = _req(f"{base}/tables", "POST", _table_config(str(src_dir)))
        assert code == 409 and "already exists" in resp["error"]

        code, resp = _req(f"{base}/tables")
        assert code == 200 and "kinesisTable" in resp["tables"]
        code, resp = _req(f"{base}/tables/kinesisTable")
        assert code == 200
        assert resp["REALTIME"]["tableIndexConfig"]["streamConfigs"]["streamType"] == "file"

        # the stream picks up the pre-written events on its first trigger;
        # poll the A4 freshness contract instead of sleeping a fixed time
        deadline = time.time() + 60
        n = 0
        while time.time() < deadline:
            engine.register_view("kinesisTable")
            n = spark.table("kinesisTable").count()
            if n == 9:
                break
            time.sleep(1)
        assert n == 9

        code, resp = _req(f"{base}/segments/kinesisTable")
        assert code == 200 and resp.get("table") == "kinesisTable"

        code, resp = _req(f"{base}/tables/kinesisTable", "DELETE")
        assert code == 200 and resp["dropped"] == ["REALTIME"]
        code, resp = _req(f"{base}/tables")
        assert "kinesisTable" not in resp["tables"]
        assert not (Path(engine.warehouse) / "kinesisTable" / "data").exists()
        code, resp = _req(f"{base}/tables/kinesisTable")
        assert code == 404
    finally:
        ctl.stop()
        for p in list(engine.pipelines.values()):
            p.stop()


def test_controller_health_and_bad_requests(spark, tmp_path):
    engine = Engine(spark, str(tmp_path / "warehouse"))
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, _ = _req(f"{base}/health")
        assert code == 200
        code, resp = _req(f"{base}/schemas", "POST", {"fieldSpecs": "nonsense"})
        assert code == 400
        code, resp = _req(f"{base}/tables/nosuch", "DELETE")
        assert code == 404
        code, resp = _req(f"{base}/segments/nosuch")
        assert code == 404
    finally:
        ctl.stop()


def test_addtable_rejects_bad_flush_threshold(spark, tmp_path):
    """An unparseable ``realtime.segment.flush.threshold.time`` is a 400
    naming the key, not a silent 2-minute or back-to-back trigger."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, _ = _req(f"{base}/schemas", "POST", CLICKSTREAM_SCHEMA)
        assert code == 200
        cfg = _table_config(str(tmp_path / "stream_in"))
        cfg["tableIndexConfig"]["streamConfigs"][
            "realtime.segment.flush.threshold.time"
        ] = "bogus"
        code, resp = _req(f"{base}/tables", "POST", cfg)
        assert code == 400
        assert "realtime.segment.flush.threshold.time" in resp["error"]
        assert engine.pipelines == {}
    finally:
        ctl.stop()


def test_drop_table_hybrid_one_side(spark, tmp_path):
    """DELETE ?type=REALTIME on a hybrid table leaves the OFFLINE side
    serving (Pinot keys configs by (name, type))."""
    from tests.test_streaming_engine import OFFLINE_CONFIG
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "rt.json", 4, "2024-06-02")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    engine.upload_segment("kinesisTable", spark.createDataFrame(
        [("u1", "X", 30, "2024-06-01 09:00:00")],
        "userID string, campaign string, price int, creationTimestamp string",
    ))
    engine.register_view("kinesisTable")
    assert spark.table("kinesisTable").count() == 5
    out = engine.drop_table("kinesisTable", "REALTIME")
    assert out["dropped"] == ["REALTIME"]
    # the view re-registers over the surviving side — no caller action, no
    # stale plan over the deleted realtime files
    assert spark.table("kinesisTable").count() == 1
    import pytest as _pytest

    with _pytest.raises(KeyError):
        engine.drop_table("kinesisTable", "REALTIME")  # already gone -> 404
    out = engine.drop_table("kinesisTable")
    assert out["dropped"] == ["OFFLINE"]
    assert "kinesisTable" not in engine.list_tables()
    assert not spark.catalog.tableExists("kinesisTable")  # view dropped too


def test_periodictask_run_endpoint(spark, tmp_path):
    """GET/POST /periodictask/run (Pinot controller API): maintenance task
    names map onto the engine's analogs — RealtimeToOfflineSegmentsTask
    moves sealed days, MergeRollupTask compacts, RetentionManager expires."""
    from tests.test_streaming_engine import OFFLINE_CONFIG, _st_config
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "d1.json", 6, "2024-06-01")
    _write_events(src_dir / "d2.json", 2, "2024-06-02", start=100)
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, _st_config(),
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, resp = _req(
            f"{base}/periodictask/run?taskname=RealtimeToOfflineSegmentsTask"
            "&tableName=kinesisTable"
        )
        assert code == 200 and resp["moved_days"] == ["2024-06-01"]
        code, resp = _req(
            f"{base}/periodictask/run?taskname=MergeRollupTask&tableName=kinesisTable",
            "POST",
        )
        assert code == 200 and "compacted_partitions" in resp
        code, resp = _req(
            f"{base}/periodictask/run?taskname=RetentionManager&tableName=kinesisTable"
        )
        assert code == 200 and resp["dropped"] == []  # nothing past 7 days
        code, resp = _req(
            f"{base}/periodictask/run?taskname=NoSuchTask&tableName=kinesisTable"
        )
        assert code == 400
        code, resp = _req(
            f"{base}/periodictask/run?taskname=RetentionManager&tableName=ghost"
        )
        assert code == 404
        engine.register_view("kinesisTable")
        assert spark.table("kinesisTable").count() == 8  # nothing lost
    finally:
        ctl.stop()
        pipe.stop()


def test_schema_endpoints_round_trip(spark, tmp_path):
    """GET /schemas (list) and GET /schemas/{name} return what POST
    /schemas registered — the Pinot controller schema API."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, resp = _req(f"{base}/schemas", "POST", CLICKSTREAM_SCHEMA)
        assert code == 200
        code, resp = _req(f"{base}/schemas")
        assert code == 200 and resp == ["kinesisTable"]
        code, resp = _req(f"{base}/schemas/kinesisTable")
        assert code == 200 and resp["schemaName"] == "kinesisTable"
        assert any(f["name"] == "price" for f in resp["metricFieldSpecs"])
        code, resp = _req(f"{base}/schemas/ghost")
        assert code == 404
    finally:
        ctl.stop()


def test_size_rebalance_version_endpoints(spark, tmp_path):
    """GET /tables/{t}/size, POST /tables/{t}/rebalance, GET /version —
    the Pinot controller ops surface an operator checks after provisioning."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 5, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, resp = _req(f"{base}/version")
        assert code == 200 and resp["spark"] == spark.version
        code, resp = _req(f"{base}/tables/kinesisTable/size")
        assert code == 200
        assert resp["tableName"] == "kinesisTable"
        assert resp["reportedSizeInBytes"] == resp["estimatedSizeInBytes"]
        assert resp["reportedSizeInBytes"] > 0 and resp["numSegments"] >= 1
        code, resp = _req(f"{base}/tables/ghost/size")
        assert code == 404
        code, resp = _req(f"{base}/tables/kinesisTable/rebalance", "POST", {})
        assert code == 200 and resp["status"] == "NO_OP"
        assert resp["jobId"].startswith("kinesisTable-rebalance")
        code, resp = _req(f"{base}/tables/ghost/rebalance", "POST", {})
        assert code == 404
    finally:
        ctl.stop()
        pipe.stop()


def test_segment_upload_over_http(spark, tmp_path):
    """POST /v2/segments (Pinot's batch segment push): JSON records decode
    through the SAME schema path as realtime ingest and land in the OFFLINE
    table's day-partitioned storage; unknown tables 404, malformed bodies
    400 — and the rows are immediately queryable."""
    from tests.test_streaming_engine import OFFLINE_CONFIG

    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_schema(CLICKSTREAM_SCHEMA)
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        rows = [
            # mixed JSON types: price arrives as string AND number — the
            # lenient decode + try_cast path must land both in INT
            {"userID": "u1", "campaign": "Push", "price": "30",
             "creationTimestamp": "2024-06-01 09:00:00"},
            {"userID": "u2", "campaign": "Push", "price": 40,
             "creationTimestamp": "2024-06-02 10:00:00"},
        ]
        code, out = _req(
            f"{base}/v2/segments?tableName=kinesisTable", "POST", {"rows": rows}
        )
        assert code == 200, out
        assert out["segments_partitions"] == ["ingest_date=2024-06-01",
                                              "ingest_date=2024-06-02"]
        engine.register_view("kinesisTable")
        got = {r["userID"]: r["price"]
               for r in spark.table("kinesisTable").collect()}
        assert got == {"u1": 30, "u2": 40}
        # the un-versioned alias works too, tableName in the body
        code2, out2 = _req(f"{base}/segments", "POST",
                           {"tableName": "kinesisTable", "rows": rows[:1]})
        assert code2 == 200 and len(out2["segments_partitions"]) == 2
        # unknown table -> 404 (Pinot controller behavior)
        code3, out3 = _req(f"{base}/v2/segments?tableName=nope", "POST",
                           {"rows": rows})
        assert code3 == 404 and out3["code"] == 404
        # malformed bodies -> 400
        code4, _ = _req(f"{base}/v2/segments?tableName=kinesisTable", "POST",
                        {"rows": []})
        assert code4 == 400
        code5, _ = _req(f"{base}/v2/segments?tableName=kinesisTable", "POST",
                        {"rows": ["not-an-object"]})
        assert code5 == 400
        code6, _ = _req(f"{base}/v2/segments", "POST", {"rows": rows})
        assert code6 == 400  # no tableName anywhere
    finally:
        ctl.stop()


def test_schema_update_over_http(spark, tmp_path):
    """PUT /schemas/{name} (Pinot schema evolution): backward-compatible
    updates (append a column) succeed and feed the re-AddTable reload flow;
    dropped/re-typed columns 400 (Pinot without forceTableSchemaUpdate);
    unknown schemas 404; name mismatch 400."""
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_schema(CLICKSTREAM_SCHEMA)
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        evolved = json.loads(json.dumps(CLICKSTREAM_SCHEMA))
        evolved["dimensionFieldSpecs"].append(
            {"name": "channel", "dataType": "STRING",
             "defaultNullValue": "unknown"}
        )
        name = CLICKSTREAM_SCHEMA["schemaName"]
        code, out = _req(f"{base}/schemas/{name}", "PUT", evolved)
        assert code == 200 and "updated" in out["status"]
        # the registered schema now carries the new column — what the
        # re-AddTable reload reads
        code_g, got = _req(f"{base}/schemas/{name}")
        assert code_g == 200
        assert any(f["name"] == "channel"
                   for f in got["dimensionFieldSpecs"])
        # dropping an existing column is backward-incompatible -> 400
        dropped = json.loads(json.dumps(CLICKSTREAM_SCHEMA))
        dropped["dimensionFieldSpecs"] = [
            f for f in dropped["dimensionFieldSpecs"] if f["name"] != "campaign"
        ]
        code2, out2 = _req(f"{base}/schemas/{name}", "PUT", dropped)
        assert code2 == 400 and "campaign" in out2["error"]
        # re-typing is too
        retyped = json.loads(json.dumps(evolved))
        for f in retyped["metricFieldSpecs"]:
            f["dataType"] = "STRING"
        code3, _ = _req(f"{base}/schemas/{name}", "PUT", retyped)
        assert code3 == 400
        # unknown schema -> 404; name mismatch -> 400
        code4, _ = _req(f"{base}/schemas/doesNotExist", "PUT",
                        {"schemaName": "doesNotExist",
                         "dimensionFieldSpecs": [{"name": "x", "dataType": "STRING"}]})
        assert code4 == 404
        code5, _ = _req(f"{base}/schemas/{name}", "PUT",
                        {"schemaName": "otherName",
                         "dimensionFieldSpecs": [{"name": "x", "dataType": "STRING"}]})
        assert code5 == 400
    finally:
        ctl.stop()


def test_schema_delete_over_http(spark, tmp_path):
    """DELETE /schemas/{name}: free schemas delete; a schema whose table is
    live answers 409 Conflict (Pinot refuses while in use); unknown 404."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 3, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_schema(CLICKSTREAM_SCHEMA)
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    free = {"schemaName": "unusedSchema",
            "dimensionFieldSpecs": [{"name": "x", "dataType": "STRING"}]}
    engine.add_schema(free)
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, out = _req(f"{base}/schemas/unusedSchema", "DELETE")
        assert code == 200 and "deleted" in out["status"]
        assert "unusedSchema" not in engine.schemas
        code2, out2 = _req(f"{base}/schemas/kinesisTable", "DELETE")
        assert code2 == 409 and "in use" in out2["error"]
        code3, _ = _req(f"{base}/schemas/unusedSchema", "DELETE")
        assert code3 == 404
    finally:
        ctl.stop()
        pipe.stop()


def test_table_schema_read_path(spark, tmp_path):
    """GET /tables/{name}/schema **[P1.2]** — the console's other schema
    read path: resolves the schema by the table's raw name."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 3, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_schema(CLICKSTREAM_SCHEMA)
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    ctl = start_controller(engine, port=0)
    try:
        base = ctl.url()
        code, resp = _req(f"{base}/tables/kinesisTable/schema")
        assert code == 200 and resp["schemaName"] == "kinesisTable"
        assert any(f["name"] == "price" for f in resp["metricFieldSpecs"])
        code, resp = _req(f"{base}/tables/ghost/schema")
        assert code == 404
    finally:
        ctl.stop()
        pipe.stop()


def test_pause_resume_consumption_over_http(spark, tmp_path):
    """POST /tables/{t}/pauseConsumption + resumeConsumption and GET
    /tables/{t}/pauseStatus **[P1.2]**: the PauseStatus envelope tracks the
    stream across the cycle; the table stays queryable while paused, and
    resume drains from the checkpointed offset (exactly-once)."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 5, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    ctl = start_controller(engine, port=0)
    try:
        pipe.process_available()
        engine.register_view("kinesisTable")
        base = ctl.url()
        # never paused: the flag is the explicit operator state, NOT
        # momentary stream liveness (an availableNow query between drains
        # is idle, not paused)
        code, st = _req(f"{base}/tables/kinesisTable/pauseStatus")
        assert code == 200 and st["pauseFlag"] is False
        code, st = _req(f"{base}/tables/kinesisTable/pauseConsumption", method="POST")
        assert code == 200 and st["pauseFlag"] is True
        assert st["consumingSegments"] == []
        # paused table still answers
        n0 = engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"]
        assert n0 == 5
        # new data while paused is NOT consumed
        _write_events(src_dir / "b.json", 4, "2024-06-01", start=100)
        code, st = _req(f"{base}/tables/kinesisTable/pauseStatus")
        assert code == 200 and st["pauseFlag"] is True
        code, st = _req(f"{base}/tables/kinesisTable/resumeConsumption", method="POST")
        assert code == 200 and st["pauseFlag"] is False
        assert st["consumingSegments"]
        pipe.process_available()
        engine.register_view("kinesisTable")
        n1 = engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"]
        assert n1 == 9                     # resumed exactly-once from the offset
        code, _ = _req(f"{base}/tables/ghost/pauseStatus")
        assert code == 404
        code, _ = _req(f"{base}/tables/ghost/pauseConsumption", method="POST")
        assert code == 404
    finally:
        ctl.stop()
        pipe.stop()


def test_delete_all_segments_over_http(spark, tmp_path):
    """DELETE /segments/{table} **[P1.2]**: every segment goes, the table
    STAYS — schema/config/stream/view all keep serving (empty), new data
    keeps flowing, and the exactly-once checkpoint means deleted rows are
    never re-consumed."""
    from real_time_analytics_with_apache_pinot_on_aws_spark.streaming.ingest import RawRecordSource

    src_dir = tmp_path / "stream_in"
    _write_events(src_dir / "a.json", 6, "2024-06-01")
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, TABLE_CONFIG,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    ctl = start_controller(engine, port=0)
    try:
        pipe.process_available()
        engine.register_view("kinesisTable")
        assert engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"] == 6
        code, out = _req(f"{ctl.url()}/segments/kinesisTable", method="DELETE")
        assert code == 200 and out == {"table": "kinesisTable", "deleted": ["REALTIME"]}
        # table still registered and answering — empty
        assert "kinesisTable" in engine.list_tables()
        assert engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"] == 0
        # consumption continues; deleted rows do NOT come back (checkpoint)
        _write_events(src_dir / "b.json", 4, "2024-06-02", start=100)
        pipe.process_available()
        engine.register_view("kinesisTable")
        assert engine.query("SELECT count(*) AS n FROM kinesisTable").collect()[0]["n"] == 4
        code, _ = _req(f"{ctl.url()}/segments/ghost", method="DELETE")
        assert code == 404
        code, _ = _req(f"{ctl.url()}/segments/kinesisTable?type=OFFLINE", method="DELETE")
        assert code == 404            # no OFFLINE side exists
    finally:
        ctl.stop()
        pipe.stop()
