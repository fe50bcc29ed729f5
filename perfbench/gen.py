"""Seeded input generator for the benchmark.

Builds the ten parquet tables the registry queries read (the star schema,
``events``, ``documents`` and ``embeddings``; schemas as in TESTDATA.md)
without reading anything outside the checkout:

1. A *base* set is drawn at scale factor ``sf`` from a fixed RNG, with the
   same column types and value distributions as the test data (near-dup
   document families included).
2. The base is replicated ``replicas`` times. The ``--seed`` selects a
   structure-preserving perturbation of every replica, as
   ``scripts/scale_smoke.py`` does for its scale tiers:
   - an affine letter cipher on document text (a bijection, so n-gram,
     shingle and near-dup structure are unchanged);
   - a sign-flip pattern on embedding coordinates (norms and within-replica
     dot products are exact);
   - an offset on every key domain: a seed-chosen multiple of 2520 (so every
     ``key % m`` class for m <= 10 is kept) plus ``replica * KEY_STRIDE``.
   Row counts, join fan-outs and duplicate structure are therefore the same
   for every seed; only the values move.

Each workload's inputs are cached under ``<cache>/<key>/`` where the key
covers the seed, the scale, the replica count and this file's content.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

KEY_LCM = 2520  # lcm(1..10)
KEY_STRIDE = KEY_LCM * 4000  # per-replica key block, far above any base key
EMB_DIM = 64
BASE_SEED = 42

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

# Key columns that take the seed/replica offset (nation/region stay shared).
_KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
}


def _days(start: str, n: int, rng, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # Near-dup family member: a character-shifted copy of an earlier
            # document with 0-2 trailing marker tokens.
            src = texts[int(rng.integers(0, i))]
            cut = int(rng.integers(0, 11))
            texts.append(src[cut:] + " dup" * int(rng.integers(0, 3)))
        else:
            texts.append(" ".join(rng.choice(_WORDS, lengths[i])))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> dict:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 0.07, (10, EMB_DIM))
    x = rng.normal(0.0, 1.0 / np.sqrt(EMB_DIM), (n, EMB_DIM)) + centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": x, "label": labels}


def base_tables(sf: float) -> dict[str, dict]:
    """Column dicts for the unperturbed base at scale factor ``sf``."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp = max(1, int(150_000 * sf)), max(1, int(10_000 * sf))
    n_part, n_ord = max(1, int(200_000 * sf)), max(1, int(1_500_000 * sf))
    n_li, n_ev = max(1, int(6_000_000 * sf)), max(1, int(1_000_000 * sf))
    n_users = max(1, n_cust // 10)
    t = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": _REGIONS,
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", n_ord, rng, 2405),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    }
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_li),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n_li),
        "l_shipdate": _days("1995-01-02", n_li, rng, 2498),
    }
    gaps_us = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = _documents(rng, max(500, int(50_000 * sf)))
    t["embeddings"] = _embeddings(rng, max(500, int(20_000 * sf)))
    return t


def _cipher(idx: int) -> dict[int, int]:
    """Affine letter bijection x -> (a*x + b) mod 26 (a coprime to 26)."""
    coprime = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
    a, b = coprime[(idx // 26) % len(coprime)], idx % 26
    table = {}
    for alphabet in (string.ascii_lowercase, string.ascii_uppercase):
        for i, ch in enumerate(alphabet):
            table[ord(ch)] = alphabet[(a * i + b) % 26]
    return table


def _signs(seed: int, replica: int) -> np.ndarray:
    bits = int(hashlib.sha256(f"flip:{seed}:{replica}".encode()).hexdigest(), 16)
    return np.array([-1.0 if (bits >> j) & 1 else 1.0 for j in range(EMB_DIM)], dtype=np.float32)


def _perturb(name: str, cols: dict, seed: int, replica: int, replicas: int) -> dict:
    out = dict(cols)
    if name == "documents":
        table = _cipher((seed * replicas + replica) % 311 + 1)
        out["text"] = [s.translate(table) for s in cols["text"]]
        out["doc_id"] = cols["doc_id"] + replica * KEY_STRIDE
    elif name == "embeddings":
        out["embedding"] = cols["embedding"] * _signs(seed, replica)
        out["vec_id"] = cols["vec_id"] + replica * KEY_STRIDE
    else:
        offset = (seed % 997) * KEY_LCM + replica * KEY_STRIDE
        for c in _KEY_COLS.get(name, ()):
            out[c] = cols[c] + offset
    return out


def _to_arrow(name: str, cols: dict) -> pa.Table:
    arrays = {}
    for c, v in cols.items():
        if name == "embeddings" and c == "embedding":
            flat = pa.array(np.ascontiguousarray(v).reshape(-1), type=pa.float32())
            offsets = pa.array(np.arange(0, v.size + 1, EMB_DIM, dtype=np.int32))
            arrays[c] = pa.ListArray.from_arrays(offsets, flat)
        else:
            arrays[c] = pa.array(v)
    return pa.table(arrays)


def _concat(parts: list[dict]) -> dict:
    out = {}
    for c in parts[0]:
        vals = [p[c] for p in parts]
        out[c] = (
            np.concatenate(vals)
            if isinstance(vals[0], np.ndarray)
            else [x for v in vals for x in v]
        )
    return out


def generate(out_dir: str, seed: int, sf: float, replicas: int) -> dict[str, int]:
    """Write the seed's tables to ``out_dir``; return rows per table."""
    base = base_tables(sf)
    rows = {}
    for name in TABLES:
        if name in ("region", "nation"):
            cols = base[name]
        else:
            cols = _concat([_perturb(name, base[name], seed, r, replicas) for r in range(replicas)])
        table = _to_arrow(name, cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def cache_key(seed: int, sf: float, replicas: int) -> str:
    with open(__file__, "rb") as f:
        src = hashlib.sha256(f.read()).hexdigest()[:12]
    return f"seed{seed}-sf{sf:g}-x{replicas}-{src}"


def ensure_inputs(cache_root: str, seed: int, sf: float, replicas: int) -> str:
    """Return the parquet directory for ``seed``, generating it once."""
    final = os.path.join(cache_root, cache_key(seed, sf, replicas))
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    generate(tmp, seed, sf, replicas)
    try:
        os.rename(tmp, final)
    except OSError:  # a concurrent run finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


if __name__ == "__main__":
    # python3 gen.py CACHE_ROOT SEED SF REPLICAS
    root, seed, sf, replicas = sys.argv[1:]
    ensure_inputs(root, int(seed), float(sf), int(replicas))
