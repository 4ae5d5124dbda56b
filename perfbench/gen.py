"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``region`` ... ``embeddings``,
one Parquet file each, the layout of the repository's test data) from a
seed alone, so a run needs nothing outside its checkout:

- relational tables: a seeded bijective remap of every business key
  (customer, supplier, part, order) and a seeded row permutation;
- documents: a 31-word vocabulary, 10-100 tokens each, with a fixed share
  of near duplicates made by seeded token substitutions of an earlier
  document, and a few exact copies;
- embeddings: seeded unit vectors, 64 dimensions, 10 labels.

Row counts are fixed by ``SIZES`` and do not depend on the seed, and the
bytes differ across seeds only by Parquet encoding, so a run's length does
not depend on its seed. The same seed always gives byte-identical files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: Rows per table: the repository's sf0.01 test-data shape, the largest
#: at which both workloads' runs fit the time a benchmark check allows.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}

NEAR_DUP_SHARE = 0.05
EXACT_DUP_SHARE = 0.005

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("big", "blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_SOURCES = 20
_DIM = 64


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _days(start: datetime, offsets) -> pa.Array:
    return pa.array([start + timedelta(days=int(d)) for d in offsets],
                    pa.timestamp("us"))


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(_WORDS, dtype=object)
    docs = [list(words[rng.integers(0, len(words), rng.integers(10, 101))])
            for _ in range(n)]
    # Copies always point at an earlier, original document so every
    # duplicate cluster has one clean representative.
    n_near = int(n * NEAR_DUP_SHARE)
    n_exact = int(n * EXACT_DUP_SHARE)
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    for k, i in enumerate(copies):
        src = list(docs[int(rng.integers(0, n // 10))])
        if k < n_near:
            for pos in rng.choice(len(src), int(rng.integers(1, 4)), replace=False):
                src[pos] = words[rng.integers(0, len(words))]
        docs[i] = src
    text = [" ".join(d) for d in docs]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(_pick(rng, _LANGS, n, _LANG_P), pa.string()),
        "source": pa.array([f"src{i % _SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, _DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(rng.permutation(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(seed: int) -> dict[str, pa.Table]:
    """All ten tables for ``seed``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = SIZES
    cust_key = rng.permutation(n["customer"])
    supp_key = rng.permutation(n["supplier"])
    part_key = rng.permutation(n["part"])
    order_key = rng.permutation(n["orders"])

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(cust_key, pa.int64()),
        "c_name": pa.array([f"Customer#{k:09d}" for k in cust_key], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pa.array(_pick(rng, _SEGMENTS, n["customer"]), pa.string()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(supp_key, pa.int64()),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in supp_key], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(part_key, pa.int64()),
        "p_name": pa.array(_pick(rng, names, n["part"]), pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
                            pa.string()),
        "p_type": pa.array(_pick(rng, _TYPES, n["part"]), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n["part"]) / 10, 1),
    })
    order_day = rng.integers(0, 2404, n["orders"])  # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(order_key, pa.int64()),
        "o_custkey": pa.array(cust_key[rng.integers(0, n["customer"], n["orders"])],
                              pa.int64()),
        "o_orderstatus": pa.array(_pick(rng, ("F", "O", "P"), n["orders"]), pa.string()),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days(datetime(1995, 1, 1), order_day),
        "o_orderpriority": pa.array(_pick(rng, _PRIORITIES, n["orders"]), pa.string()),
    })
    m = n["lineitem"]
    line_order = rng.integers(0, n["orders"], m)
    qty = rng.integers(1, 51, m).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(order_key[line_order], pa.int64()),
        "l_partkey": pa.array(part_key[rng.integers(0, n["part"], m)], pa.int64()),
        "l_suppkey": pa.array(supp_key[rng.integers(0, n["supplier"], m)], pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, m), 2),
        "l_discount": np.round(rng.uniform(0, 0.1, m), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, m), 2),
        "l_returnflag": pa.array(_pick(rng, ("A", "N", "R"), m), pa.string()),
        "l_linestatus": pa.array(_pick(rng, ("F", "O"), m), pa.string()),
        "l_shipdate": _days(datetime(1995, 1, 1),
                            order_day[line_order] + rng.integers(1, 122, m)),
    })
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, e // 66, e), pa.int64()),
        "event_type": pa.array(_pick(rng, _EVENT_TYPES, e), pa.string()),
        "value": np.round(rng.exponential(50, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
                          pa.string()),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    # Row permutation last, so the key remaps above do not depend on it.
    for name in ("customer", "supplier", "part", "orders", "lineitem"):
        t[name] = t[name].take(rng.permutation(t[name].num_rows))
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> dict:
    """Write each table to ``out_dir/<name>.parquet``; return the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name in TABLES:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path, compression="snappy")
        manifest[name] = {"rows": tables[name].num_rows,
                          "bytes": os.path.getsize(path)}
    return manifest


def ensure(seed: int, root: str) -> tuple[str, dict]:
    """Generated inputs for ``seed`` under ``root``, written once per seed.

    Returns the input directory and its manifest (rows and bytes per
    table). A half-written directory from an interrupted run is rebuilt:
    the manifest is written last and marks the directory complete."""
    # The directory name carries the generator's shape and source, so a
    # cache written with other sizes or by other generator code is never
    # reused.
    with open(__file__, "rb") as f:
        source = hashlib.sha256(f.read()).hexdigest()
    shape = json.dumps([SIZES, NEAR_DUP_SHARE, EXACT_DUP_SHARE, source],
                       sort_keys=True)
    out = os.path.join(root, f"seed-{seed}-{hashlib.sha256(shape.encode()).hexdigest()[:10]}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = write(generate(seed), tmp)
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, manifest
