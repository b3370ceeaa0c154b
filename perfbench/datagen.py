"""Deterministic synthetic tables for the benchmark.

Writes the ten tables ``mr_dice_spark.catalog.TABLE_NAMES`` expects (one
Parquet file each) with the columns and value distributions of the
TPC-H-shaped test data the golden corpus is written against: uniform keys
and measures, 30-word documents with ~5% " dup" near-copies, unit-norm
64-d embeddings. ``events.ts`` is stored as TIMESTAMP(NANOS), the
physical type ``mr_dice_spark/session.py`` and ``catalog.py`` are written
for; the other timestamps are microseconds. At scale factor 0.1 that is
lineitem 600k, orders 150k, events 100k and documents 5k rows.

The tables depend only on ``(scale, DATA_SEED)``, never on a workload seed,
so every benchmark run of one scale reads the same bytes; the workload seed
picks the requests and the query order instead.

    python3 perfbench/datagen.py OUT_DIR [--scale 0.1]
"""

from __future__ import annotations

import argparse
import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

ADJECTIVES = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
NOUNS = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _ts(start: str, seconds: np.ndarray, unit: str = "us") -> pa.Array:
    """Timestamps in whole microseconds, stored with ``unit`` precision."""
    base = np.datetime64(start, unit)
    micros = (seconds * 1_000_000).astype("timedelta64[us]")
    return pa.array(base + micros.astype(f"timedelta64[{unit}]"))


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> pa.Array:
    return _ts(start, rng.integers(0, n_days, n) * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def tables(scale: float) -> dict[str, pa.Table]:
    """Build every table for ``scale`` (TPC-H scale factor)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(int(150_000 * scale), 10)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 10)
    n_ord = max(int(1_500_000 * scale), 10)
    n_li = max(int(6_000_000 * scale), 10)
    n_ev = max(int(1_000_000 * scale), 100)
    n_doc = max(int(50_000 * scale), 500)
    n_emb = max(int(20_000 * scale), 500)
    n_users = max(n_ev // 66, 10)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part_names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, part_names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.rint(rng.uniform(0, 10, n_li)) / 100.0,
        "l_tax": np.rint(rng.uniform(0, 8, n_li)) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        # TIMESTAMP(NANOS), the type the engine's events reader is written
        # for, so its nanosecond read path is part of every events request
        "ts": _ts("2024-01-01", secs, "ns"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [
        " ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)])
        for k in rng.integers(10, 101, n_doc)
    ]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return out


def ensure(out_dir: str, scale: float) -> str:
    """Write the tables under ``out_dir`` unless a finished copy is there.

    The copy is built in a sibling temp directory and renamed into place,
    so an interrupted run never leaves a half-written data set behind.
    """
    if os.path.isfile(os.path.join(out_dir, "_SUCCESS")):
        return out_dir
    parent = os.path.dirname(os.path.abspath(out_dir))
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-data-", dir=parent)
    try:
        for name, table in tables(scale).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.rename(tmp, out_dir)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, default=0.1)
    args = ap.parse_args()
    print(ensure(args.out_dir, args.scale))
