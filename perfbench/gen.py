"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the same seed gives a
byte-identical object tree and table set, and a different seed
gives different ones. Nothing is downloaded.

* ``make_tree`` writes a ``file://`` object tree of many small
  non-matching objects plus a smaller set of ``.mov``/``.mp4``/``.MOV``
  objects, and returns its manifest (path, size, sha256).
* ``make_tables`` writes the star-schema / events / documents /
  embeddings tables that the registered queries read, with the schemas
  of the project's test fixtures.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MEDIA_EXTS = ("mov", "mp4", "MOV")
OTHER_EXTS = ("jpg", "txt", "json", "png", "srt")
MEDIA_FILTER = "ext/mov/mp4"
# object sizes in KB, low and high (inclusive)
MEDIA_KB = (64, 512)
OTHER_KB = (1, 4)


def _blob(rng: np.random.Generator, size: int) -> bytes:
    # a 16-letter alphabet: gzip -1 shrinks it to about half, like real
    # partly-compressible payloads
    return (rng.integers(0, 16, size, dtype=np.uint8) + 97).tobytes()


def make_tree(root: str, seed: int, n_other: int, n_media: int) -> list[dict]:
    """Write the object tree under ``root``; return its manifest.

    Each manifest entry is ``{"path", "size", "sha256", "media"}`` with
    ``path`` relative to ``root``.
    """
    rng = np.random.default_rng(seed)
    entries = []
    kinds = [True] * n_media + [False] * n_other
    rng.shuffle(kinds)
    for i, media in enumerate(kinds):
        if media:
            ext = MEDIA_EXTS[int(rng.integers(len(MEDIA_EXTS)))]
            lo, hi = MEDIA_KB
            rel = f"cam{int(rng.integers(8))}/day{int(rng.integers(4))}/clip_{i:05d}.{ext}"
        else:
            ext = OTHER_EXTS[int(rng.integers(len(OTHER_EXTS)))]
            lo, hi = OTHER_KB
            rel = f"misc{int(rng.integers(16))}/obj_{i:05d}.{ext}"
        data = _blob(rng, int(rng.integers(lo * 1024, hi * 1024 + 1)))
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(data)
        entries.append({
            "path": rel,
            "size": len(data),
            "sha256": hashlib.sha256(data).hexdigest(),
            "media": media,
        })
    entries.sort(key=lambda e: e["path"])
    return entries


def manifest_digest(manifest: list[dict]) -> str:
    blob = json.dumps(manifest, sort_keys=True, separators=(",", ":")).encode()
    return hashlib.sha256(blob).hexdigest()


# ---------------------------------------------------------------------------
# query tables
# ---------------------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_ADJ = ("small", "red", "blue", "hot", "old", "large", "new", "green")
_PART_NOUN = ("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut")
_PART_TYPES = ("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
_EPOCH_1995 = int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_EPOCH_2024 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def make_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten query tables under ``out_dir``; ``scale`` = 1.0 is
    the size of the 0.01 scale-factor fixture (60k lineitem rows).
    Returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_part, n_supp = int(1500 * scale), int(2000 * scale), max(10, int(100 * scale))
    n_orders, n_line = int(15000 * scale), int(60000 * scale)
    n_events, n_docs, n_vecs = int(10000 * scale), int(500 * scale), int(500 * scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)].tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    o_days = rng.integers(0, 2404, n_orders)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)].tolist(),
        "o_totalprice": _money(rng, n_orders, 1000, 500000),
        "o_orderdate": _ts(_EPOCH_1995 + o_days * _DAY_US),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_orders)].tolist(),
    })
    # lineitem: about four lines per order, (orderkey, linenumber) unique
    l_order = np.sort(rng.integers(0, n_orders, n_line))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_id = np.zeros(n_line, dtype=np.int64)
    run_id[starts] = starts
    l_linenumber = np.arange(n_line) - np.maximum.accumulate(run_id) + 1
    perm = rng.permutation(n_line)
    qty = rng.integers(1, 51, n_line).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(l_linenumber[perm], pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, n_line) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)].tolist(),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    gaps = rng.exponential(260.0, n_events) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps).astype(np.int64)),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)].tolist(),
        "value": np.round(rng.exponential(50.0, n_events), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: the dedup / LSH /
            # span-scrub queries need real duplicates to find
            texts.append(texts[int(rng.integers(i))] + " dup")
        else:
            n_words = int(rng.integers(10, 80))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n_words)]))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)].tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(0, 1, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
