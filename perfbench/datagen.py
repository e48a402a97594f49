"""Seeded input generation for the benchmark.

Two kinds of input:

- the analytics lake (TPC-H-style star schema plus ``events``,
  ``documents`` and ``embeddings``), drawn from a fixed dataset seed so
  every run reads the same lake: the sf0.001, sf0.01 and sf0.1 test lakes
  of ``TESTDATA.md``, value for value.
- the ETL landing zone: per-day clickstream parquet drawn from the run's
  ``--seed``, with 0.1% (at least one) bad rows (null ``user_id``) and one
  short partial day that a ``min_row_count`` gate must reject.

Only numpy and pyarrow are used, so the inputs exist before Spark starts.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# List orders and draw order below are those of the generator behind the
# test lakes of TESTDATA.md: with DATA_SEED the tables come out equal to
# them value for value.
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_ORDER_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]

_US_PER_DAY = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    days = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array(base + days, pa.timestamp("us"))


def _keys(n: int) -> np.ndarray:
    return np.arange(n, dtype=np.int64)


def lake_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """The analytics tables at scale factor ``sf`` (sf0.1: 600k lineitem).

    Every column is drawn independently and uniformly, except ``events.ts``
    (sorted), ``events.value`` (exponential), ``documents.lang`` (``en``
    three times as likely as each other language) and ``documents.text``
    (10 to 99 words from a 30-word vocabulary; 5% of documents are
    replaced by a copy of a random document plus `` dup``)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 50)
    n_line = max(int(6_000_000 * sf), 200)
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": _keys(n_cust),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": _keys(n_supp),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": _keys(n_part),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": _keys(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(_ORDER_STATUS, n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2405, n_ord),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_line),
            "l_discount": _money(rng, 0, 0.1, n_line),
            "l_tax": _money(rng, 0, 0.08, n_line),
            "l_returnflag": rng.choice(_RETURN_FLAGS, n_line),
            "l_linestatus": rng.choice(_LINE_STATUS, n_line),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2499, n_line),
        }
    )
    # seconds drawn as floats, taken to ns and truncated to us
    sec = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts = np.datetime64("2024-01-01", "ns") + (sec * 1e9).astype("timedelta64[ns]")
    t["events"] = pa.table(
        {
            "event_id": _keys(n_ev),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": _keys(n_vecs),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vecs).astype(np.int32),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(n)]
    near = rng.choice(n, n // 20, replace=False)
    for i, src in zip(near, rng.integers(0, n, len(near))):
        texts[i] = texts[src] + " dup"
    return pa.table(
        {
            "doc_id": _keys(n),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(s) for s in texts], np.int64),
        }
    )


def write_lake(root: str, sf: float) -> str:
    """Write the analytics lake under ``root``; return its directory."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    for name, table in lake_tables(sf).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
    return root


# ---------------------------------------------------------------- ETL landing

_CLICK_TYPES = ["view", "cart", "remove_from_cart", "purchase"]
_CATEGORIES = [
    "electronics.smartphone",
    "electronics.audio.headphone",
    "appliances.kitchen.kettle",
    "computers.notebook",
    "apparel.shoes",
    None,
]
_BRANDS = ["samsung", "apple", "xiaomi", "huawei", "lenovo", None]


def landing_day(rng, ds: str, n: int, bad_rate: float) -> tuple[pa.Table, int]:
    """One day of clickstream; returns the table and its bad-row count."""
    n_users = max(n // 20, 10)
    user = rng.integers(0, n_users, n)
    # a fixed count per day (at least one), so every day's plan, and with
    # it the job count, is the same for every seed
    bad = np.zeros(n, bool)
    bad[rng.choice(n, max(1, round(n * bad_rate)), replace=False)] = True
    ts = np.sort(rng.integers(0, _US_PER_DAY, n))
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "event_time": pa.array(
                np.datetime64(ds, "us") + ts.astype("timedelta64[us]"),
                pa.timestamp("us", tz="UTC"),
            ),
            "event_type": rng.choice(_CLICK_TYPES, n, p=[0.7, 0.15, 0.05, 0.1]),
            "product_id": rng.integers(1_000_000, 1_100_000, n),
            "category_code": pa.array(
                [_CATEGORIES[i] for i in rng.integers(0, len(_CATEGORIES), n)],
                pa.string(),
            ),
            "brand": pa.array(
                [_BRANDS[i] for i in rng.integers(0, len(_BRANDS), n)], pa.string()
            ),
            "price": _money(rng, 0.5, 2500.0, n),
            "user_id": pa.array(user, pa.int64(), mask=bad),
        }
    )
    return table, int(bad.sum())


def write_landing(
    root: str, seed: int, days: list[str], partial_day: str, rows_per_day: int,
    partial_rows: int, bad_rate: float = 0.001,
) -> dict[str, dict[str, int]]:
    """Write ``root/ds=<day>/part-0.parquet`` per day; return per-day
    ``rows``, ``bad`` and ``bytes`` for the correctness gate."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(root, ignore_errors=True)
    info: dict[str, dict[str, int]] = {}
    for ds in days + [partial_day]:
        n = partial_rows if ds == partial_day else rows_per_day
        table, n_bad = landing_day(rng, ds, n, bad_rate)
        d = os.path.join(root, f"ds={ds}")
        os.makedirs(d)
        path = os.path.join(d, "part-0.parquet")
        pq.write_table(table, path)
        info[ds] = {"rows": n, "bad": n_bad, "bytes": os.path.getsize(path)}
    return info
