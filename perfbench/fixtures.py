"""Synthetic fixture tables for the benchmark.

Writes the ten tables the registry reads (``region nation supplier
customer part orders lineitem events documents embeddings``), one
parquet file each with one row group. Schemas follow FIXTURES.md. Row
counts and value distributions follow the reference fixtures of
TESTDATA.md, as ``check_fixtures.py`` measures them from their files:
uniform TPC-H-style keys and measures; four lineitems per order on
average, each with a uniformly drawn ``l_orderkey`` and an
``l_linenumber`` uniform in 1..7, so some orders have no lines and some
(orderkey, linenumber) pairs repeat; a time-ordered ``events`` stream
with JSON ``props``; a ``documents`` corpus of 10-99 words each from a
30-word vocabulary in which exactly 5% of the documents are another
document's text plus the token ``dup`` (every text stays unique); and
unit-norm 64-d float embeddings.

The tables depend only on ``scale`` and the fixed ``DATA_SEED``: the
benchmark's ``--seed`` picks key order and probe samples, not data, so
every run of a workload reads identical bytes and oracle answers.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_STATUS = ("F", "O", "P")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
_LANGS = ("en", "de", "es", "fr", "zh")
_LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple[str, ...], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(pa.string())


def _days(rng: np.random.Generator, first: tuple[int, int, int], last: tuple[int, int, int], n: int) -> pa.Array:
    lo, hi = _epoch_us(*first) // _DAY_US, _epoch_us(*last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def build_tables(scale: float) -> dict[str, pa.Table]:
    """The ten fixture tables at ``scale`` (1.0 = 6 M lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_supp = max(10, round(10_000 * scale))
    n_cust = max(150, round(150_000 * scale))
    n_part = max(200, round(200_000 * scale))
    n_ord = max(1_500, round(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1_000, round(1_000_000 * scale))
    n_users = max(15, n_ev * 3 // 200)
    n_doc = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    names = tuple(f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, tuple(f"Brand#{i}" for i in range(1, 26)), n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUS, n_ord),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, (1995, 1, 1), (2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, (1995, 1, 2), (2001, 11, 4), n_line),
    })
    start = _epoch_us(2024, 1, 1)
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [
        " ".join(_VOCAB[w] for w in rng.integers(0, len(_VOCAB), int(rng.integers(10, 100))))
        for _ in range(n_doc)
    ]
    # near-duplicates: each copies a distinct document that is not itself a copy
    order = rng.permutation(n_doc)
    n_dup = n_doc // 20
    for dst, src in zip(order[:n_dup], order[n_dup:2 * n_dup]):
        texts[dst] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_emb + 1, 64), pa.int32()),
            pa.array(vecs.reshape(-1), pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return t


def ensure_fixtures(out_dir: str, scale: float) -> str:
    """Write the tables under ``out_dir`` unless a complete set from
    this generator at the same ``scale`` is already there; returns
    ``out_dir``.

    The set is written to a sibling temp directory and renamed into
    place, so an interrupted run never leaves a partial set behind.
    """
    with open(__file__, "rb") as f:
        version = f"{scale!r} {hashlib.sha256(f.read()).hexdigest()}"
    stamp = os.path.join(out_dir, "_version")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == version:
                return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in build_tables(scale).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), row_group_size=1 << 30)
    with open(os.path.join(tmp, "_version"), "w") as f:
        f.write(version)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir
