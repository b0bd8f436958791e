"""Seeded input generator for the benchmark.

Every table is synthesised from ``numpy.random.default_rng(seed)`` with the
schemas of the repo's sf-style fixtures (TPC-H-like star schema plus the
``events``, ``documents`` and ``embeddings`` tables), so the suite's query
functions and DuckDB oracles run on it unchanged.  The same seed writes
byte-identical files.  Nothing here imports Spark: generation is harness
cost and stays outside every timed region.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes per workload, about sf0.01, so that one run (a fresh JVM and a
# cold first pass over every request shape included) takes about a minute.
# At this size a request still costs a few Spark jobs, so the per-query
# scheduling floor that dominates sf0.1 dominates here too.
SIZES = {
    "analytics": {"customer": 1500, "orders": 15000, "lineitem": 60000,
                  "part": 2000, "supplier": 100, "events": 10000,
                  "sales": 10000, "customers": 1000},
    "curation": {"documents": 500, "embeddings": 500},
}
# Curation corpus duplication: share of documents that copy an earlier
# document verbatim, and share that copy one and append a word (Jaccard of
# 3-shingles >= 0.89, so MinHash LSH finds every such pair).
EXACT_DUP_RATE = 0.01
NEAR_DUP_RATE = 0.04

WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
EMB_DIM = 64

_SECOND_US = 1_000_000
_DAY_US = 86_400 * _SECOND_US


def _epoch_us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def _tpch(rng: np.random.Generator, n: dict) -> dict[str, pa.Table]:
    nc, no, nl, npart, ns = (n["customer"], n["orders"], n["lineitem"],
                             n["part"], n["supplier"])
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segments[rng.integers(0, 5, nc)],
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    adj = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
    noun = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
                     "widget"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, npart)], " "),
                              noun[rng.integers(0, 8, npart)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(npart) % 2000) / 10, 1),
    })
    day0 = _epoch_us("1992-01-01")
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                           "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts(day0 + rng.integers(0, 2400, no) * _DAY_US),
        "o_orderpriority": priorities[rng.integers(0, 5, no)],
    })
    partkey = rng.integers(0, npart, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship0 = _epoch_us("1995-01-02")
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 2000) / 10), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(ship0 + rng.integers(0, 2498, nl) * _DAY_US),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    t0 = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(t0 + ts),
        "user_id": pa.array(rng.integers(0, max(1, n // 66), n), pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(WORDS)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    roll = rng.random(n)
    src = rng.integers(0, np.maximum(np.arange(n), 1))
    extra = vocab[rng.integers(0, len(vocab), n)]
    for i in range(1, n):
        if roll[i] < EXACT_DUP_RATE:
            texts[i] = texts[src[i]]
        elif roll[i] < EXACT_DUP_RATE + NEAR_DUP_RATE:
            texts[i] = f"{texts[src[i]]} {extra[i]}"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0.0, 0.12, (10, EMB_DIM))
    label = rng.integers(0, 10, n)
    vecs = (centers[label] + rng.normal(0.0, 0.06, (n, EMB_DIM))).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMB_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


# Extract sources: dirty semicolon CSV (mixed-case padded headers, sentinel
# nulls, EU decimals, percents) and NDJSON with a nested object, the
# reference's sales/customers fixture shapes.
NULL_SENTINELS = ("NULL", "N/A", "", "none")


def _extract_sources(rng: np.random.Generator, n: dict, out: str) -> dict:
    ns, nc = n["sales"], n["customers"]
    ckey = rng.integers(0, nc, ns)
    qty = rng.integers(1, 20, ns)
    qty_null = rng.random(ns) < 0.03
    cents = rng.integers(100, 100000, ns)
    disc = rng.integers(0, 31, ns)
    day0 = np.datetime64("2020-01-01")
    dates = (day0 + rng.integers(0, 1461, ns)).astype(str)
    sentinel = np.array(NULL_SENTINELS)[rng.integers(0, len(NULL_SENTINELS), ns)]
    lines = [" OrderDate ;CustomerKey;OrderQuantity;UnitPrice;Discount;OrderNumber"]
    for i in range(ns):
        q = sentinel[i] if qty_null[i] else str(qty[i])
        lines.append(f"{dates[i]};{ckey[i]};{q};{cents[i] // 100},{cents[i] % 100:02d};"
                     f"{disc[i]}%;SO{100000 + i}")
    with open(os.path.join(out, "sales.csv"), "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    status = np.array(["active", "inactive"])[rng.integers(0, 2, nc)]
    income = rng.integers(20, 200, nc) * 1000.0
    with open(os.path.join(out, "customers.json"), "w", encoding="utf-8") as f:
        for k in range(nc):
            f.write(json.dumps({
                "CustomerKey": k, "Status": str(status[k]),
                "AnnualIncome": float(income[k]),
                "Address": {"city": f"city{k % 97}", "zip": f"{10000 + k}"},
            }) + "\n")
    # The clean typed rows the loaders should produce, joined the way the
    # extract refresh joins them; its read-back check compares against this.
    expected = {
        "orderdate": dates.tolist(),
        "customerkey": ckey.tolist(),
        "orderquantity": [None if qty_null[i] else int(qty[i]) for i in range(ns)],
        "unitprice": (cents / 100).tolist(),
        "discount": (disc / 100.0).tolist(),
        "ordernumber": [f"SO{100000 + i}" for i in range(ns)],
        "status": status[ckey].tolist(),
        "annualincome": income[ckey].tolist(),
    }
    return expected


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs for ``seed`` under ``out``.  Returns the
    per-file row and byte counts, plus the expected extract rows."""
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    n = SIZES[workload]
    tables: dict[str, pa.Table] = {}
    expected = None
    files = {}
    if workload == "analytics":
        tables = _tpch(rng, n)
        tables["events"] = _events(rng, n["events"])
        expected = _extract_sources(rng, n, out)
        files = {"sales.csv": n["sales"], "customers.json": n["customers"]}
    else:
        tables["documents"] = _documents(rng, n["documents"])
        tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")
        files[f"{name}.parquet"] = table.num_rows
    sizes = {f: {"rows": rows, "bytes": os.path.getsize(os.path.join(out, f))}
             for f, rows in files.items()}
    return {"files": sizes, "expected": expected}
