"""Seeded generator for the query_mix tables: the ten-table TPC-H-ish star
schema plus ``events``, ``documents`` and ``embeddings``, in the shape,
types and value ranges of the repository's sf0.1 test data (TESTDATA.md;
600k lineitem rows), one parquet file per table.

Same seed, same bytes: every column comes from one ``numpy`` generator.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 15_000, "supplier": 1_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "new", "old", "red", "small", "large"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    off = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + off).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0x7C])
    n = SIZES
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
    c = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": c,
        "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(c)),
    })
    s = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": s,
        "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s)),
    })
    p = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": p,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, ADJ, len(p)), _pick(rng, NOUN, len(p)))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(p))],
        "p_type": _pick(rng, PART_TYPES, len(p)),
        "p_size": pa.array(rng.integers(1, 51, len(p)), pa.int32()),
        "p_retailprice": 900.0 + (p % 1000) / 10.0,
    })
    o = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": o,
        "o_custkey": rng.integers(0, n["customer"], len(o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, len(o)),
        "o_orderdate": _days(rng, len(o), "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, len(o)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, m, "1995-01-02", "2001-11-04"),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, e))
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": _money(rng, 0.0, 560.0, e),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    out["documents"] = _documents(rng, n["documents"])
    d = n["embeddings"]
    v = rng.standard_normal((d, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(d, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, d), pa.int32()),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary. Every block of 100
    holds 5 near duplicates (an earlier document of the block plus the token
    ``dup``); 8 documents are verbatim copies of an earlier one. Fixing the
    counts per block keeps the dedup queries' work the same for every seed
    (``minhash_near_dups`` reads the first 500 documents)."""
    texts: list[str] = []
    near = {int(b + k) for b in range(0, n, 100)
            for k in rng.choice(np.arange(10, min(100, n - b)), 5, replace=False)}
    exact = set(rng.choice(np.arange(10, n), 8, replace=False).tolist()) - near
    for i in range(n):
        if i in near:
            texts.append(texts[int(rng.integers(i - i % 100, i))] + " dup")
        elif i in exact:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write(seed: int, out_dir: str) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
