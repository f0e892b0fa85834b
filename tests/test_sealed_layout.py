"""Sealed segment layout: every day-partitioned write (micro-batch commit,
star-tree cells, segment upload, offline cell rebuild, upsert compaction)
leaves ONE parquet file per ``ingest_date`` partition, through the single
writer ``streaming.ingest.seal_day_partitions``."""

from __future__ import annotations

import ast
import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import real_time_analytics_with_apache_pinot_on_aws_spark as pkg
from real_time_analytics_with_apache_pinot_on_aws_spark.engine import Engine, TableConfig
from real_time_analytics_with_apache_pinot_on_aws_spark.streaming import RawRecordSource
from tests.test_schema import CLICKSTREAM_SCHEMA
from tests.test_streaming_engine import OFFLINE_CONFIG, TABLE_CONFIG

DAYS = ("2024-06-01", "2024-06-02", "2024-06-03")

STAR_TREES = [
    {
        "dimensionsSplitOrder": ["campaign", "ingest_date"],
        "functionColumnPairs": ["COUNT__price", "SUM__price"],
    },
    {
        "dimensionsSplitOrder": ["ingest_date"],
        "functionColumnPairs": ["MAX__price"],
    },
]


def _rows(n: int, start: int) -> list[tuple]:
    """(userID, campaign, price, creationTimestamp): consecutive rows cycle
    through all three days, so every input split holds every day."""
    return [
        (
            f"u{i % 50}",
            ["BlackFriday", "10Percent", "NONE"][i % 3],
            10 + (i * 7) % 140,
            f"{DAYS[i % 3]} 10:{i % 60:02d}:00",
        )
        for i in range(start, start + n)
    ]


def _write_json(path: Path, rows) -> None:
    cols = ("userID", "campaign", "price", "creationTimestamp")
    path.write_text("\n".join(json.dumps(dict(zip(cols, r))) for r in rows))


def _per_day(rows) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for _u, _c, price, ts in rows:
        n, s = out.get(ts[:10], (0, 0))
        out[ts[:10]] = (n + 1, s + price)
    return out


def _files_per_day(root: str) -> dict[str, int]:
    return {
        d.name.split("=", 1)[1]: len(list(d.glob("*.parquet")))
        for d in sorted(Path(root).glob("ingest_date=*"))
    }


def _day_totals(frame) -> dict[str, tuple[int, int]]:
    rows = frame.groupBy("ingest_date").agg(
        F.count("*").alias("n"), F.sum("price").alias("s")
    ).collect()
    return {str(r["ingest_date"]): (r["n"], r["s"]) for r in rows}


def test_micro_batch_seals_one_file_per_day(spark, tmp_path):
    """One micro-batch read from 8 source files, each spanning 3 days: a
    bare partitionBy write leaves one file per task per day (24 here);
    the sealed commit leaves exactly one per day, for the raw log and for
    every day-partitioned star-tree, with per-day totals unchanged."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    written = []
    for f in range(8):
        rows = _rows(60, start=f * 60)
        written += rows
        _write_json(src_dir / f"f{f}.json", rows)
    config = json.loads(json.dumps(TABLE_CONFIG))
    config["tableIndexConfig"]["starTreeIndexConfigs"] = STAR_TREES
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        CLICKSTREAM_SCHEMA, config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    pipe.stop()

    assert _files_per_day(pipe.table_path) == {d: 1 for d in DAYS}
    assert len(pipe._rollups) == 2
    for _spec, path in pipe._rollups:
        assert _files_per_day(path) == {d: 1 for d in DAYS}, path
    assert _day_totals(pipe.table()) == _per_day(written)


def test_upload_and_offline_rebuild_seal_one_file_per_day(spark, tmp_path):
    """A 3-day upload_segment frame spread over 6 partitions seals one
    file per day for the segments and for each hybrid star-tree's cells;
    rebuild_offline_rollup re-seals the cells the same way."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    config = json.loads(json.dumps(TABLE_CONFIG))
    config["tableIndexConfig"]["starTreeIndexConfigs"] = STAR_TREES
    engine = Engine(spark, str(tmp_path / "warehouse"))
    engine.add_table(
        CLICKSTREAM_SCHEMA, config,
        RawRecordSource(kind="files", path=str(src_dir)), start=False,
    )
    engine.add_offline_table(CLICKSTREAM_SCHEMA, OFFLINE_CONFIG)
    rows = _rows(300, start=0)
    seg = spark.createDataFrame(
        rows, "userID string, campaign string, price int, creationTimestamp string"
    ).repartition(6)
    assert seg.rdd.getNumPartitions() == 6

    engine.upload_segment("kinesisTable", seg)
    cell_roots = [
        engine._offline_rollup_path("kinesisTable", i) for i in range(len(STAR_TREES))
    ]
    assert _files_per_day(engine._offline_path("kinesisTable")) == {d: 1 for d in DAYS}
    for root in cell_roots:
        assert _files_per_day(root) == {d: 1 for d in DAYS}, root
    assert _day_totals(engine._offline_frame("kinesisTable")) == _per_day(rows)

    engine.rebuild_offline_rollup("kinesisTable")
    for root in cell_roots:
        assert _files_per_day(root) == {d: 1 for d in DAYS}, root


def test_upsert_compact_reseals_sorted_one_file_per_day(spark, tmp_path):
    """upsert_compact rewrites the resolved log through the same writer:
    one file per day, rows sorted by the table's sortedColumn."""
    src_dir = tmp_path / "stream_in"
    src_dir.mkdir()
    config = json.loads(json.dumps(TABLE_CONFIG))
    config["tableName"] = "sealUp"
    config["upsertConfig"] = {"mode": "FULL"}
    config["tableIndexConfig"]["sortedColumn"] = ["price"]
    schema = json.loads(json.dumps(CLICKSTREAM_SCHEMA))
    schema["primaryKeyColumns"] = ["userID"]
    rows = _rows(90, start=0)
    for f in range(3):
        _write_json(src_dir / f"f{f}.json", rows[f * 30:(f + 1) * 30])
    engine = Engine(spark, str(tmp_path / "warehouse"))
    pipe = engine.add_table(
        schema, config,
        RawRecordSource(kind="files", path=str(src_dir)), available_now=True,
    )
    pipe.process_available()
    pipe.stop()

    report = engine.upsert_compact("sealUp")
    assert report["rows_after"] == 50  # one surviving version per userID
    assert _files_per_day(pipe.table_path) == {d: 1 for d in DAYS}
    for f in Path(pipe.table_path).rglob("*.parquet"):
        prices = [r["price"] for r in spark.read.parquet(str(f)).collect()]
        assert prices == sorted(prices), f


@pytest.mark.parametrize(
    "value, seconds",
    [
        ("2m", 120),
        ("1000", 1),
        ("1s", 1),
        ("6h", 6 * 3600),
        ("1h30m", 5400),
        ("500", 1),  # rounds up: never a 0-second (back-to-back) trigger
        ("bogus", None),
        ("0", None),
    ],
)
def test_flush_threshold_time_parse(value, seconds):
    conf = json.loads(json.dumps(TABLE_CONFIG))
    conf["tableIndexConfig"]["streamConfigs"][
        "realtime.segment.flush.threshold.time"
    ] = value
    if seconds is None:
        with pytest.raises(ValueError, match="realtime.segment.flush.threshold.time"):
            TableConfig.parse(conf)
    else:
        assert TableConfig.parse(conf).flush_threshold_seconds == seconds


def test_day_partitioned_writes_only_in_shared_writer():
    """No write site partitions by ``ingest_date`` on its own: the only
    ``partitionBy("ingest_date")`` in the package is inside
    ``seal_day_partitions``."""

    class _Finder(ast.NodeVisitor):
        def __init__(self) -> None:
            self.scope: list[str] = []
            self.hits: list[str] = []

        def visit_FunctionDef(self, node) -> None:
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node) -> None:
            if (
                isinstance(node.func, ast.Attribute)
                and node.func.attr == "partitionBy"
                and any(
                    isinstance(a, ast.Constant) and a.value == "ingest_date"
                    for a in node.args
                )
            ):
                self.hits.append(".".join(self.scope))
            self.generic_visit(node)

    root = Path(pkg.__file__).parent
    sites: dict[str, list[str]] = {}
    for path in sorted(root.rglob("*.py")):
        finder = _Finder()
        finder.visit(ast.parse(path.read_text()))
        if finder.hits:
            sites[path.relative_to(root).as_posix()] = finder.hits
    assert sites == {"streaming/ingest.py": ["seal_day_partitions"]}
