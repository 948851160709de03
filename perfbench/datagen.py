"""Deterministic input minting for the benchmark.

Mints the ten tables the engine reads (``graph.BASE_TABLES``) with the
same schemas as the engine's reference test data, from a seed, at a
named scale. The same (scale, seed) always yields byte-identical
parquet files; a finished mint is reused by later runs.

The program under test sees only these tables: the crawl graph
(pages, links, seeds, robots) is derived from them by the engine's own
SQL views, and the operator queries read documents, embeddings and
events directly.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# rows per table. "sf0.1" follows the reference test data's row
# counts at that scale factor (bench.py's scale)
SCALES: dict[str, dict[str, int]] = {
    "sf0.1": dict(customer=15000, supplier=1000, part=20000, orders=150000,
                  lineitem=600000, events=100000, documents=5000,
                  embeddings=2000),
    # the service workload's crawl graph: sf0.001's page and link
    # counts (1.5k pages, 6k links) with 300 customers, whose every 15th
    # customer seeds the crawl -- 20 seeds
    "service": dict(customer=300, supplier=10, part=200, orders=1500,
                    lineitem=6000, events=1000, documents=500,
                    embeddings=500),
}

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_LANGS = ["en", "de", "es", "fr", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype(np.int64), pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> list[str]:
    idx = rng.choice(len(choices), size=n, p=p)
    return [choices[i] for i in idx]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def mint_tables(scale: str, seed: int) -> dict[str, pa.Table]:
    """All ten tables for (scale, seed) as Arrow tables."""
    rows = SCALES[scale]
    # one independent stream per table, so a table's rows do not
    # depend on how many draws another table made
    streams = np.random.SeedSequence([seed, *scale.encode()]).spawn(len(TABLES))
    rng = {name: np.random.default_rng(s) for name, s in zip(TABLES, streams)}
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    n, r = rows["customer"], rng["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n),
        "c_mktsegment": _pick(r, _SEGMENTS, n),
    })

    n, r = rows["supplier"], rng["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n),
    })

    n, r = rows["part"], rng["part"]
    keys = np.arange(n)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n), r.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n)],
        "p_type": _pick(r, _PTYPES, n),
        "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })

    n, r = rows["orders"], rng["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": _money(r, 1000.0, 500000.0, n),
        "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, n) * _DAY_US),
        "o_orderpriority": _pick(r, _PRIORITIES, n),
    })

    n, r = rows["lineitem"], rng["lineitem"]
    # cent prices drawn without replacement: every lineitem row is then
    # distinct, which the link view's document-order window relies on
    # to be a total order within a page
    prices = (90_182 + r.choice(10_400_000, size=n, replace=False)) / 100.0
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(r.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
        "l_quantity": r.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": prices,
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _ts(_EPOCH_1995 + (1 + r.integers(0, 2499, n)) * _DAY_US),
    })

    n, r = rows["events"], rng["events"]
    gaps = r.exponential(1.0, n)
    span_us = 30 * _DAY_US
    offsets = np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts(_EPOCH_2024 + offsets.astype(np.int64)),
        "user_id": pa.array(r.integers(0, max(1, rows["customer"] // 10), n), pa.int64()),
        "event_type": _pick(r, _EVENT_TYPES, n),
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    })

    n, r = rows["documents"], rng["documents"]
    lengths = r.integers(10, 100, n)
    words = r.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(r, _LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{k % 20}" for k in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n, r = rows["embeddings"], rng["embeddings"]
    vecs = r.standard_normal((n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })
    return out


def digest_files(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def ensure_inputs(work_dir: str, scale: str, seed: int) -> tuple[str, str]:
    """Mint (scale, seed) under ``work_dir`` unless a finished mint by
    this version of the generator is there already. Returns (directory,
    digest of its parquet files)."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    final = os.path.join(work_dir, "data", f"{scale}-seed{seed}-{version}")
    marker = os.path.join(final, "DIGEST")
    if os.path.exists(marker):
        with open(marker) as f:
            return final, f.read().strip()
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    paths = []
    for name, table in mint_tables(scale, seed).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    digest = digest_files(paths)
    with open(os.path.join(tmp, "DIGEST"), "w") as f:
        f.write(digest + "\n")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final, digest
