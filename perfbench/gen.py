"""Seeded input generation for the benchmark.

Writes the ten catalog tables the engine reads (``io.TABLES``) as one
parquet file each, one row group per file, with the same schemas and value
distributions as the star-schema test corpus the engine is developed
against: independent uniform keys and measures, exponential event gaps and
values, a 30-word document vocabulary with 5% " dup"-suffixed copies, and
unit-norm 64-dimensional embeddings.  The same ``(sf, seed)`` always gives
byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "hot", "cold", "old", "new", "large", "small"]
_NOUNS = ["widget", "plate", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash line sort window "
    "merge batch spark data column join small big query order group customer "
    "filter stream vector"
).split()
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EVENTS_START = np.datetime64("2024-01-01", "us")
_EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: np.datetime64, n_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    lengths = rng.integers(10, 100, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (customers = 150,000 x sf)."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, round(150_000 * sf))
    n_supp = max(5, round(10_000 * sf))
    n_part = max(20, round(200_000 * sf))
    n_ord = round(1_500_000 * sf)
    n_line = round(6_000_000 * sf)
    n_events = round(1_000_000 * sf)
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32 = pa.int32()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_COLORS[c]} {_NOUNS[w]}"
            for c, w in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, _EPOCH_1995, 2400, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, _EPOCH_1995 + np.timedelta64(1, "D"), 2500, n_line),
    })
    gaps = rng.exponential(1.0, n_events)
    offs = np.cumsum(gaps) / gaps.sum() * (_EVENTS_SPAN_US - 1_000_000)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _EVENTS_START + offs.astype(np.int64).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_events),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _documents(rng, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, int]:
    """Write each table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: table.num_rows for name, table in tables.items()}


def replicate_corpus(tables: dict[str, pa.Table], replicas: int,
                     seed: int) -> dict[str, pa.Table]:
    """``tables`` with documents and embeddings grown ``replicas``-fold,
    as the repository's scale probe grows them: replica ``k`` gets its own
    id block, each document a ``replica<k>`` suffix token (so every document
    has ``replicas - 1`` near-duplicates), each vector a small seeded nudge
    of one dimension.  The other tables are unchanged."""
    rng = np.random.default_rng(seed)
    docs, vecs = tables["documents"], tables["embeddings"]
    n_docs, n_vecs = docs.num_rows, vecs.num_rows
    base = np.stack(vecs["embedding"].to_numpy(zero_copy_only=False))
    texts = docs["text"].to_pylist()
    doc_parts, vec_parts = [], []
    for k in range(replicas):
        t = texts if k == 0 else [f"{s} replica{k}" for s in texts]
        doc_parts.append(docs.set_column(0, "doc_id", pa.array(np.arange(n_docs) + k * n_docs))
                             .set_column(1, "text", pa.array(t))
                             .set_column(4, "n_chars", pa.array([len(s) for s in t], pa.int64())))
        m = base.copy()
        if k:
            m[:, rng.integers(0, m.shape[1])] += np.float32(rng.uniform(0.5e-3, 1.5e-3) * k)
        vec_parts.append(vecs.set_column(0, "vec_id", pa.array(np.arange(n_vecs) + k * n_vecs))
                             .set_column(1, "embedding", pa.array(list(m), pa.list_(pa.float32()))))
    return {**tables, "documents": pa.concat_tables(doc_parts),
            "embeddings": pa.concat_tables(vec_parts)}
