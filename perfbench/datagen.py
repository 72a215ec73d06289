"""Seeded generator for the benchmark's input corpus.

Writes the ten tables the engine reads (``biggie_spark.io.TABLES``) as
one parquet file each, one row group per file, with the same schemas,
row counts and value domains as the scale-factor-0.1 corpus described in
TESTDATA.md: a TPC-H-like star schema, an ``events`` stream, a
``documents`` text corpus (with exact and near duplicates) and an
``embeddings`` table of unit vectors.  Every column is drawn from a numpy
generator seeded by the caller, so the same seed gives byte-identical
tables and a different seed gives a different corpus of the same shape.
"""

from __future__ import annotations

import datetime
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts at scale factor 0.1.
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EMB_DIM = 64
# Share of documents that copy an earlier document: near duplicates get a
# trailing marker token, exact duplicates copy the text verbatim.
NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.004


def _days(lo: datetime.date, hi: datetime.date, rng, n) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "D")
    return (base + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(values: list[str], rng, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # Copies always point at an earlier, original document so a copy of a
    # copy never occurs and doc ids below the ingest split hold originals.
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    copies = rng.choice(np.arange(16, n), n_near + n_exact, replace=False)
    originals = set(range(n)) - set(copies.tolist())
    for i, c in enumerate(copies.tolist()):
        src = int(rng.integers(0, c))
        while src not in originals:
            src = int(rng.integers(0, c))
        texts[c] = texts[src] + (" dup" if i < n_near else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(LANGS, rng, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng) -> pa.Table:
    n = ROWS["embeddings"]
    v = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _events(rng) -> pa.Table:
    n = ROWS["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n).astype(np.int64)),
            "event_type": _pick(EVENT_TYPES, rng, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _region(_rng) -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )


def _nation(_rng) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )


def _customer(rng) -> pa.Table:
    n = ROWS["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": pa.array(_names("Customer", n)),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _pick(SEGMENTS, rng, n),
        }
    )


def _supplier(rng) -> pa.Table:
    n = ROWS["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": pa.array(_names("Supplier", n)),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def _part(rng) -> pa.Table:
    n = ROWS["part"]
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(PART_TYPES, rng, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 1)),
        }
    )


def _orders(rng) -> pa.Table:
    no = ROWS["orders"]
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, ROWS["customer"], no).astype(np.int64)),
            "o_orderstatus": _pick(["F", "O", "P"], rng, no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(
                _days(datetime.date(1995, 1, 1), datetime.date(2001, 8, 1), rng, no),
                type=pa.timestamp("us"),
            ),
            "o_orderpriority": _pick(PRIORITIES, rng, no),
        }
    )


def _lineitem(rng) -> pa.Table:
    nl = ROWS["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, ROWS["part"], nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
            "l_returnflag": _pick(["A", "N", "R"], rng, nl),
            "l_linestatus": _pick(["F", "O"], rng, nl),
            "l_shipdate": pa.array(
                _days(datetime.date(1995, 1, 2), datetime.date(2001, 11, 4), rng, nl),
                type=pa.timestamp("us"),
            ),
        }
    )


# Builder of each table, in a fixed order: a table's position picks its own
# random stream, so one table comes out the same whichever others are built.
BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": _documents,
    "embeddings": _embeddings,
}


def tables(seed: int, names=None) -> dict[str, pa.Table]:
    """The tables ``names`` (default all ten) for one seed, keyed by name."""
    return {
        name: build(np.random.default_rng([seed, i]))
        for i, (name, build) in enumerate(BUILDERS.items())
        if names is None or name in names
    }


def write(seed: int, out_dir: str, names=None) -> str:
    """Write the tables for ``seed`` (``names``, default all) under
    ``out_dir``; return the dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed, names).items():
        pq.write_table(
            t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(t) + 1
        )
    return out_dir


if __name__ == "__main__":
    # python3 -m perfbench.datagen <seed> <out_dir> [table ...]
    write(int(sys.argv[1]), sys.argv[2], sys.argv[3:] or None)
