"""Seeded synthetic inputs in the schema of the engine's star-schema tables.

The same ``(seed, scale)`` always yields byte-identical parquet files.
Row counts follow the TPC-H-style scale factor the engine is tested at
(``scale=0.01`` gives 60 k lineitem rows).  Money and rate columns are
whole cents divided by 100, so every value is the double nearest to a
two-decimal literal, as in the reference data; the fact's model key
``(orderkey, linenumber, partkey, suppkey)`` is unique and no source
has a NULL key or a full-row duplicate, so the cleaning stage keeps
every row.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "frame"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a the data table row column key value part line order customer query "
    "scan join agg group sort filter merge hash batch stream window spark "
    "vector small big fast slow"
).split()

_DAY_US = 86_400_000_000
_EPOCH = np.datetime64("1970-01-01", "D")


def _days(date: str) -> int:
    return int((np.datetime64(date, "D") - _EPOCH).astype(np.int64))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi + 1, n) / 100.0


def _ts_days(rng, lo: str, hi: str, n: int) -> pa.Array:
    d = rng.integers(_days(lo), _days(hi) + 1, n).astype(np.int64) * _DAY_US
    return pa.array(d, pa.timestamp("us"))


def _pick(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{k:09d}" for k in range(n)])


def _counts(scale: float) -> dict[str, int]:
    return {
        "customer": max(10, round(150_000 * scale)),
        "supplier": max(5, round(10_000 * scale)),
        "part": max(10, round(200_000 * scale)),
        "orders": max(50, round(1_500_000 * scale)),
        "lineitem": max(200, round(6_000_000 * scale)),
        "events": max(100, round(1_000_000 * scale)),
        "documents": max(500, round(50_000 * scale)),
        "embeddings": max(500, round(20_000 * scale)),
    }


def _lineitem(rng, n: int, n_orders: int, n_part: int, n_supp: int) -> pa.Table:
    key = np.stack(
        [
            rng.integers(0, n_orders, n),
            rng.integers(1, 8, n),
            rng.integers(0, n_part, n),
            rng.integers(0, n_supp, n),
        ],
        axis=1,
    )
    # Drop the (rare) repeated model keys, keeping generation order.
    _, first = np.unique(key, axis=0, return_index=True)
    key = key[np.sort(first)]
    m = len(key)
    return pa.table(
        {
            "l_orderkey": pa.array(key[:, 0], pa.int64()),
            "l_partkey": pa.array(key[:, 2], pa.int64()),
            "l_suppkey": pa.array(key[:, 3], pa.int64()),
            "l_linenumber": pa.array(key[:, 1], pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
            "l_extendedprice": pa.array(_cents(rng, 90_000, 10_000_000, m)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], m),
            "l_linestatus": _pick(rng, ["F", "O"], m),
            "l_shipdate": _ts_days(rng, "1995-01-02", "2001-11-04", m),
        }
    )


def _documents(rng, n: int) -> pa.Table:
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 90))])
        for _ in range(n)
    ]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """``n`` events over January 2024 in time order, ids ``0..n-1``."""
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + _days("2024-01-01") * _DAY_US
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(_cents(rng, 1, 49_000, n)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def build(rng: np.random.Generator, scale: float, names) -> dict[str, pa.Table]:
    """The tables in ``names``, generated from ``rng`` at ``scale``.

    Every table draws from its own child generator, so the rows of one
    table do not depend on which other tables were asked for.
    """
    n = _counts(scale)
    streams = dict(zip(
        ["customer", "supplier", "part", "orders", "lineitem",
         "events", "documents", "embeddings"],
        rng.spawn(8),
    ))
    out: dict[str, pa.Table] = {}
    for name in names:
        r = streams.get(name)
        if name == "region":
            t = pa.table({
                "r_regionkey": pa.array(range(5), pa.int32()),
                "r_name": pa.array(REGIONS),
            })
        elif name == "nation":
            t = pa.table({
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{k}" for k in range(25)]),
                "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
            })
        elif name == "customer":
            k = n["customer"]
            t = pa.table({
                "c_custkey": pa.array(np.arange(k), pa.int64()),
                "c_name": _names("Customer", k),
                "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                "c_acctbal": pa.array(_cents(r, -99_999, 999_999, k)),
                "c_mktsegment": _pick(r, SEGMENTS, k),
            })
        elif name == "supplier":
            k = n["supplier"]
            t = pa.table({
                "s_suppkey": pa.array(np.arange(k), pa.int64()),
                "s_name": _names("Supplier", k),
                "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
                "s_acctbal": pa.array(_cents(r, -99_999, 999_999, k)),
            })
        elif name == "part":
            k = n["part"]
            t = pa.table({
                "p_partkey": pa.array(np.arange(k), pa.int64()),
                "p_name": pa.array([
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(r.integers(0, 8, k), r.integers(0, 8, k))
                ]),
                "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, k)]),
                "p_type": _pick(r, PART_TYPES, k),
                "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
                "p_retailprice": pa.array((90_000 + r.integers(0, 1000, k) * 10) / 100.0),
            })
        elif name == "orders":
            k = n["orders"]
            t = pa.table({
                "o_orderkey": pa.array(np.arange(k), pa.int64()),
                "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
                "o_orderstatus": _pick(r, STATUSES, k),
                "o_totalprice": pa.array(_cents(r, 100_000, 50_000_000, k)),
                "o_orderdate": _ts_days(r, "1995-01-01", "2001-08-01", k),
                "o_orderpriority": _pick(r, PRIORITIES, k),
            })
        elif name == "lineitem":
            t = _lineitem(r, n["lineitem"], n["orders"], n["part"], n["supplier"])
        elif name == "events":
            t = events_table(r, n["events"], max(10, n["customer"] // 10))
        elif name == "documents":
            t = _documents(r, n["documents"])
        elif name == "embeddings":
            t = _embeddings(r, n["embeddings"])
        else:
            raise ValueError(f"unknown table {name!r}")
        out[name] = t
    return out


def write(tables: dict[str, pa.Table], sf_dir: str) -> dict[str, int]:
    """Write each table to ``<sf_dir>/<name>.parquet``; return row counts."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
