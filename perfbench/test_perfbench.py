"""Tests of the benchmark itself (no Spark): ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import json
import math
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analytic  # noqa: E402
import gen  # noqa: E402
import ingest_live  # noqa: E402
import run  # noqa: E402
from common import percentile  # noqa: E402
from tracing import Tracer  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def _files(out_dir: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b = gen.kdg_events(5, 3000), gen.kdg_events(5, 3000)
    assert gen.kdg_lines(a, 0, 3000) == gen.kdg_lines(b, 0, 3000)
    gen.write_tables(gen.analytic_tables(5, 0.001), str(tmp_path / "a"))
    gen.write_tables(gen.analytic_tables(5, 0.001), str(tmp_path / "b"))
    assert _files(str(tmp_path / "a")) == _files(str(tmp_path / "b"))


def test_other_seed_gives_other_inputs():
    assert gen.kdg_lines(gen.kdg_events(5, 500), 0, 500) != gen.kdg_lines(gen.kdg_events(6, 500), 0, 500)
    assert not gen.analytic_tables(5, 0.001)["lineitem"].equals(gen.analytic_tables(6, 0.001)["lineitem"])


def test_kdg_lines_are_json_with_the_kdg_fields():
    cols = gen.kdg_events(3, 50)
    rows = [json.loads(line) for line in gen.kdg_lines(cols, 0, 50).splitlines()]
    assert len(rows) == 50
    assert list(rows[0]) == list(gen.EVENT_KEYS)
    assert all(10 <= r["price"] <= 150 and isinstance(r["price"], int) for r in rows)
    assert all(re.fullmatch(r"\d{4}-\d\d-\d\d \d\d:\d\d:\d\d", r["creationTimestamp"]) for r in rows)
    assert {r["campaign"] for r in rows} <= set(gen.CAMPAIGNS)


def test_same_seed_gives_the_same_query_sequence():
    cols = gen.kdg_events(9, 5000)
    tmpl = ingest_live.templates(cols)
    assert ingest_live.query_sequence(9, 1, tmpl, 200) == ingest_live.query_sequence(9, 1, tmpl, 200)
    assert ingest_live.query_sequence(9, 1, tmpl, 200) != ingest_live.query_sequence(10, 1, tmpl, 200)
    assert analytic.pass_orders(9, 4) == analytic.pass_orders(9, 4)
    assert sorted(analytic.pass_orders(9, 1)[0]) == sorted(analytic.QUERIES)


def test_query_mix_repeats_texts_and_covers_every_template():
    cols = gen.kdg_events(9, 5000)
    seq = ingest_live.query_sequence(9, 1, ingest_live.templates(cols), 500)
    assert len({sql for _, sql, _ in seq}) < 100  # Zipf-popular texts recur
    assert {name for name, _, _ in seq} == {"probe"} | {t[0] for t in ingest_live.templates(cols)}
    assert [name == "probe" for name, _, _ in seq[:6]] == [True, False, False] * 2


def test_percentile_reports_its_sample_count():
    assert percentile([], 90)[1] == 0 and math.isnan(percentile([], 90)[0])
    assert percentile([5.0], 90) == (5.0, 1)
    value, n = percentile(range(1, 101), 90)
    assert n == 100 and value == pytest.approx(90.1)
    assert percentile([3, 1, 2], 50) == (2, 3)


def test_metric_names_are_well_formed_and_declared():
    doc = _benchmark_json()
    pattern = re.compile(r"[A-Za-z0-9_.-]+")
    for names in (run.END_TO_END, run.PER_LAYER):
        assert all(pattern.fullmatch(n) and len(n) <= 64 for n in names)
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in doc["workloads"]] == list(run.WORKLOADS)
    assert next(m for m in doc["end_to_end"] if m["name"] == "setup_s")["bound"] == max(
        m["bound"] for m in doc["end_to_end"])


def _probe(t0, t1, n, client=0):
    return {"client": client, "t0": t0, "t1": t1, "rows": [[n, 0]], "ok": True}


def test_freshness_uses_the_first_probe_that_covers_each_file():
    base = ingest_live.INITIAL
    landed = [(0.0, 1.0), (0.1, 1.1)]  # (due, landed)
    probes = [_probe(0.5, 1.05, base), _probe(1.2, 1.5, base + ingest_live.PER_FILE),
              _probe(1.6, 2.0, base + 2 * ingest_live.PER_FILE)]
    fresh, lag = ingest_live.freshness(landed, probes, 0.0, 10.0)
    assert fresh == pytest.approx([500.0, 900.0])
    assert lag == 2


def test_counts_that_go_back_are_violations():
    errors: list[str] = []
    ok = [_probe(0, 1, 10), _probe(1.5, 2, 20), _probe(1.2, 3, 15)]
    assert ingest_live.monotonic_violations(ok, errors) == 0
    assert ingest_live.monotonic_violations(ok + [_probe(2.5, 4, 12)], errors) == 1


def test_answer_comparison_tolerates_only_hll_error():
    assert ingest_live._same([["a", 100]], [["a", 100]], hll=False)
    assert not ingest_live._same([["a", 101]], [["a", 100]], hll=False)
    assert ingest_live._same([["a", 104]], [["a", 100]], hll=True)
    assert not ingest_live._same([["a", 110]], [["a", 100]], hll=True)
    assert not ingest_live._same([["a", 100]], [["a", 100], ["b", 1]], hll=True)


def test_canonical_rows_ignore_row_and_column_order():
    a = analytic.canonical(["x", "y"], [(1, "p"), (2, "q")])
    b = analytic.canonical(["y", "x"], [("q", 2.0), ("p", 1)])
    assert a == b


def test_self_time_subtracts_direct_children_only():
    tracer = Tracer(spark=None)
    tracer.spans = [("t", "client", 0.0, 1.0), ("t", "engine.query_broker_response", 0.1, 0.9),
                    ("t", "engine.query", 0.2, 0.3), ("t", "dataframe.collect", 0.4, 0.8)]
    st = tracer.self_times("t")
    assert st["client"] == pytest.approx((1000.0, 200.0))
    assert st["engine.query_broker_response"] == pytest.approx((800.0, 300.0))
    assert st["dataframe.collect"] == pytest.approx((400.0, 400.0))
