"""Seeded synthetic inputs for the benchmark.

The tables have the schemas and value shapes of the engine's fixture
tables (a TPC-H-like star plus ``events``, ``documents`` and
``embeddings``): uniform keys, two-decimal money, day-granular order
and ship dates, a 30-day event stream, a 30-word document corpus with
planted exact and near duplicates, and unit-norm 64-d embeddings with a
weak per-label direction.  Everything is a pure function of ``seed``
and ``sf``: the same arguments write byte-identical parquet files.

``DaySource`` derives the daily-ingest snapshots: each day re-prices a
share of ``orders`` (so the top-selling candidate pool churns) and
rewrites a share of ``part`` rows (so dimension rows update).  Tables a
day does not change are hard links to the previous day's files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# Daily churn of the ingest snapshots.
REPRICE_SHARE = 0.10
PART_CHANGE_SHARE = 0.05

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return (rng.integers(a, b + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).dictionary_decode()


def _padded(prefix: str, keys: np.ndarray) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _part_names(rng, n: int) -> pa.Array:
    words = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    return _pick(rng, words, n)


def _documents(rng, n: int) -> pa.Table:
    words = np.array(WORDS)
    lens = rng.integers(10, 101, n)
    flat = words[rng.integers(0, len(WORDS), int(lens.sum()))]
    texts, at = [], 0
    for k in lens.tolist():
        texts.append(" ".join(flat[at:at + k].tolist()))
        at += k
    # 5% near duplicates (an earlier document plus one token) and a few
    # exact duplicates, so dedup operators have something to find.
    for i in rng.choice(np.arange(n // 10, n), n // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n // 10))] + " dup"
    for i in rng.choice(np.arange(n // 10, n), max(1, n // 600), replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n // 10))]
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.standard_normal((10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    x = rng.standard_normal((n, 64)) / 8.0 + 0.08 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * 64, 64, dtype=np.int32)),
        pa.array(x.reshape(-1)),
    )
    return pa.table(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": emb, "label": labels}
    )


def generate(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """All fixture tables at scale ``sf`` (0.1 = 600k lineitem rows)."""
    rng = np.random.default_rng([seed, 0])
    k = sf / 0.1
    n_cust, n_supp, n_part = int(15000 * k), int(1000 * k), int(20000 * k)
    n_ord, n_li, n_ev = int(150000 * k), int(600000 * k), int(100000 * k)
    n_users = max(15, int(1500 * k))
    n_docs, n_vecs = max(500, int(5000 * k)), max(500, int(2000 * k))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": _padded("Customer", ck),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table(
        {
            "s_suppkey": sk,
            "s_name": _padded("Supplier", sk),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": _part_names(rng, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (pk % 1000) / 10.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, STATUSES, n_ord),
            "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
            "l_linestatus": _pick(rng, ["F", "O"], n_li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
        }
    )
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    ts = ts + (np.datetime64("2024-01-01", "us") - np.datetime64(0, "us")).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts.astype("datetime64[us]"),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev).tolist()]),
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = generate(seed, sf)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


def next_day(orders: pa.Table, part: pa.Table, seed: int, day: int) -> tuple[pa.Table, pa.Table]:
    """One day of churn: re-price a share of orders, rewrite a share of parts."""
    rng = np.random.default_rng([seed, 1, day])
    n_ord, n_part = orders.num_rows, part.num_rows
    price = orders.column("o_totalprice").to_numpy().copy()
    idx = rng.choice(n_ord, int(n_ord * REPRICE_SHARE), replace=False)
    price[idx] = _money(rng, 1000.0, 500000.0, len(idx))
    orders = orders.set_column(
        orders.schema.get_field_index("o_totalprice"), "o_totalprice", pa.array(price)
    )
    idx = np.sort(rng.choice(n_part, int(n_part * PART_CHANGE_SHARE), replace=False))
    cols = {c: part.column(c).to_pylist() for c in ("p_name", "p_brand", "p_type")}
    retail = part.column("p_retailprice").to_numpy().copy()
    names = _part_names(rng, len(idx)).to_pylist()
    brands = [f"Brand#{b}" for b in rng.integers(1, 26, len(idx)).tolist()]
    types = _pick(rng, P_TYPES, len(idx)).to_pylist()
    for j, i in enumerate(idx.tolist()):
        cols["p_name"][i], cols["p_brand"][i], cols["p_type"][i] = names[j], brands[j], types[j]
    retail[idx] = 900.0 + rng.integers(0, 1000, len(idx)) / 10.0
    for c, v in cols.items():
        part = part.set_column(part.schema.get_field_index(c), c, pa.array(v))
    part = part.set_column(
        part.schema.get_field_index("p_retailprice"), "p_retailprice", pa.array(retail)
    )
    return orders, part


class DaySource:
    """Daily-ingest snapshots, written on demand as ``<root>/day=<k>``.

    Day 0 is ``generate(seed, sf)``; each later day applies ``next_day``
    to the previous one.  Only ``orders`` and ``part`` are rewritten;
    the other tables are hard links to day 0's files.
    """

    def __init__(self, root: str, seed: int, sf: float = 0.1):
        self.root, self.seed = root, seed
        self._tables = generate(seed, sf)
        self.dirs: list[str] = []

    def next(self) -> str:
        day = len(self.dirs)
        d = os.path.join(self.root, f"day={day}")
        os.makedirs(d, exist_ok=True)
        t = self._tables
        if day:
            t["orders"], t["part"] = next_day(t["orders"], t["part"], self.seed, day)
        for name in TABLES:
            path = os.path.join(d, f"{name}.parquet")
            if day and name not in ("orders", "part"):
                os.link(os.path.join(self.dirs[0], f"{name}.parquet"), path)
            else:
                _write(t[name], path)
        self.dirs.append(d)
        return d


def write_days(root: str, seed: int, n_days: int, sf: float = 0.1) -> list[str]:
    """The first ``n_days`` snapshots of ``DaySource(root, seed, sf)``."""
    days = DaySource(root, seed, sf)
    return [days.next() for _ in range(n_days)]
