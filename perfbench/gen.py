"""Seeded input generators.  Everything here is a pure function of the seed.

Two families:

- KDG clickstream events (the reference's Kinesis Data Generator template,
  FIXTURES.md section B) rendered as one JSON object per line, with userID
  widened to ~100k Zipf-skewed ids;
- the analytic star schema plus the ``events``/``documents``/``embeddings``
  side tables (FIXTURES.md section A), written as one parquet file per table
  with the column types the registry queries expect.

Generation always runs outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CAMPAIGNS = ("BlackFriday", "10Percent", "NONE")
COLORS = ("red", "blue", "green", "black", "white", "silver", "gold", "orange",
          "purple", "teal", "pink", "brown")
DEPARTMENTS = ("Books", "Garden", "Toys", "Music", "Sports", "Tools", "Home",
               "Kids", "Beauty", "Games", "Shoes", "Outdoors")
PRODUCTS = ("Chair", "Table", "Shirt", "Hat", "Ball", "Lamp", "Shoes", "Gloves",
            "Bike", "Car", "Pants", "Towels", "Mouse", "Soap", "Pizza", "Chips")
ADJECTIVES = ("Small", "Rustic", "Sleek", "Ergonomic", "Gorgeous", "Handmade",
              "Refined", "Tasty")
USER_IDS = 100_000
EVENT_KEYS = ("userID", "productName", "color", "department", "product",
              "campaign", "price", "creationTimestamp")
BASE_DAY = dt.datetime(2024, 6, 1)
EVENT_DAYS = 3


def zipf_ids(rng: np.random.Generator, n: int, universe: int, a: float = 1.2) -> np.ndarray:
    """``n`` ids in ``[1, universe]``, Zipf-skewed, via a seeded permutation
    so the hot ids are not simply 1, 2, 3 ..."""
    ranks = rng.zipf(a, size=n)
    ranks = np.where(ranks > universe, rng.integers(1, universe + 1, size=n), ranks)
    perm = rng.permutation(universe) + 1
    return perm[ranks - 1]


def kdg_events(seed: int, n: int) -> dict[str, np.ndarray]:
    """``n`` KDG-shaped events as column arrays (strings as numpy str)."""
    rng = np.random.default_rng(seed)
    names = np.array([f"{a} {p}" for a in ADJECTIVES for p in PRODUCTS])
    secs = rng.integers(0, EVENT_DAYS * 86400, size=n)
    stamps = (np.datetime64(BASE_DAY, "s") + secs.astype("timedelta64[s]")).astype(str)
    return {
        "userID": zipf_ids(rng, n, USER_IDS).astype(str),
        "productName": names[rng.integers(0, len(names), size=n)],
        "color": np.array(COLORS)[rng.integers(0, len(COLORS), size=n)],
        "department": np.array(DEPARTMENTS)[rng.integers(0, len(DEPARTMENTS), size=n)],
        "product": np.array(PRODUCTS)[rng.integers(0, len(PRODUCTS), size=n)],
        "campaign": np.array(CAMPAIGNS)[rng.integers(0, len(CAMPAIGNS), size=n)],
        "price": rng.integers(10, 151, size=n),
        # numpy renders 'YYYY-MM-DDTHH:MM:SS'; the KDG template has a space
        "creationTimestamp": np.char.replace(stamps, "T", " "),
    }


def kdg_lines(cols: dict[str, np.ndarray], lo: int, hi: int) -> str:
    """Rows ``[lo, hi)`` as JSON lines.  Every value is drawn from the fixed
    vocabularies above, so no string needs escaping."""
    c = {k: cols[k][lo:hi].tolist() for k in EVENT_KEYS}
    return "".join(
        f'{{"userID": "{u}", "productName": "{pn}", "color": "{co}", '
        f'"department": "{de}", "product": "{pr}", "campaign": "{ca}", '
        f'"price": {p}, "creationTimestamp": "{ts}"}}\n'
        for u, pn, co, de, pr, ca, p, ts in zip(*(c[k] for k in EVENT_KEYS))
    )


# -- analytic tables ----------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PADJ = ("red", "new", "hot", "small", "big", "old", "blue", "cold")
_PNOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "spring")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, start: str, span: int, n: int) -> np.ndarray:
    d = np.datetime64(start, "D") + rng.integers(0, span, size=n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def analytic_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (1.0 ~ 6M lineitem rows, the TPC-H
    unit; the benchmark uses 0.01)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(15, int(150_000 * scale)), max(10, int(10_000 * scale))
    n_part, n_ord = max(20, int(200_000 * scale)), max(150, int(1_500_000 * scale))
    n_line, n_ev = 4 * n_ord, max(1000, int(1_000_000 * scale))
    n_users = max(15, n_ev // 66)
    n_docs = n_vec = max(50, int(50_000 * scale))
    dim = 64
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32), "r_name": list(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, size=25), i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, size=n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pnames = np.array([f"{a} {b}" for a in _PADJ for b in _PNOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pnames[rng.integers(0, len(pnames), size=n_part)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, size=n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, size=n_part)],
        "p_size": pa.array(rng.integers(1, 51, size=n_part), i32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, size=n_part) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord), i64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, size=n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, size=n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, size=n_line)), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), i32),
        "l_quantity": rng.integers(1, 51, size=n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
        "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, size=n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, size=n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)})
    ev_us = rng.integers(0, 30 * 86400 * 10**6, size=n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.sort(ev_us).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n_ev), i64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, size=n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, size=n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n_ev)]})
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(_WORDS)[rng.integers(0, len(_WORDS), size=int(rng.integers(10, 101)))]
            texts.append(" ".join(words.tolist()))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, size=n_docs, p=(0.4, 0.15, 0.15, 0.15, 0.15))],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    vecs = rng.normal(size=(n_vec, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vec), i32)})
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
