"""Seeded generator of the TESTDATA table set (one parquet file per table).

Writes every table the DuckDB oracle registers — region nation customer
supplier part orders lineitem events documents embeddings — with the
column names and parquet types of the repository's fixtures, so the
registered queries and their oracle SQL run unchanged. Literal
predicates in the menu queries select a real share of rows: every
market segment (BUILDING included) and region (ASIA included) occurs,
order and ship dates span 1995-2001 around 1998-06-15 and 2000-12-01,
and ``events.props`` carries ``k``.

``documents`` holds planted near-duplicates (a copy of an earlier
document with a few tokens replaced) and ``embeddings`` is drawn around
seeded cluster centres with ``label`` = cluster.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 16
VOCAB = 3000
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.45, 0.15, 0.15, 0.15, 0.10)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


@dataclass
class Sizes:
    customers: int
    suppliers: int
    parts: int
    orders: int
    lineitems: int
    users: int
    events: int
    documents: int
    embeddings: int


def sizes_for(sf: float) -> Sizes:
    """TPC-H-style row counts at scale factor ``sf`` (sf0.1 = 600k lines)."""
    return Sizes(
        customers=int(150_000 * sf),
        suppliers=int(10_000 * sf),
        parts=int(200_000 * sf),
        orders=int(1_500_000 * sf),
        lineitems=int(6_000_000 * sf),
        users=int(15_000 * sf),
        events=int(1_000_000 * sf),
        documents=int(50_000 * sf),
        embeddings=int(20_000 * sf),
    )


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n: int, dup_share: float = 0.1) -> list[str]:
    """Zipf-distributed token documents; ``dup_share`` of them copy an
    earlier one with about 5 % of its tokens replaced."""
    vocab = np.array([f"t{i}" for i in range(VOCAB)])
    out: list[str] = []
    for _ in range(n):
        if out and rng.random() < dup_share:
            toks = out[rng.integers(len(out))].split()
            for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
                toks[j] = vocab[rng.integers(VOCAB)]
        else:
            toks = list(vocab[(rng.zipf(1.25, int(rng.integers(12, 120))) - 1) % VOCAB])
        out.append(" ".join(toks))
    return out


def _centres(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 1]).normal(size=(CLUSTERS, DIM))


def _vectors(rng, centres: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectors around the cluster centres; label = cluster."""
    label = rng.integers(0, CLUSTERS, n)
    vec = centres[label] + 0.6 * rng.normal(size=(n, DIM))
    return vec.astype(np.float32), label.astype(np.int32)


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write the table set for ``seed`` at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = sizes_for(sf)
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n.customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n.customers)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n.customers), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n.customers), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n.customers), pa.string()),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n.suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n.suppliers)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n.suppliers), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n.suppliers), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n.parts), pa.int64()),
        "p_name": pa.array([f"part {i % 97}" for i in range(n.parts)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n.parts)], pa.string()),
        "p_type": pa.array(
            rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n.parts),
            pa.string(),
        ),
        "p_size": pa.array(rng.integers(1, 51, n.parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n.parts) % 1000) / 10.0, 2)),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n.orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n.customers, n.orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n.orders), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n.orders), 2)),
        "o_orderdate": _days(rng, n.orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(
            rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n.orders),
            pa.string(),
        ),
    })
    qty = rng.integers(1, 51, n.lineitems).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n.orders, n.lineitems), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n.parts, n.lineitems), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n.suppliers, n.lineitems), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n.lineitems), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n.lineitems), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n.lineitems) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n.lineitems) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n.lineitems), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n.lineitems), pa.string()),
        "l_shipdate": _days(rng, n.lineitems, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, n.events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n.events), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n.users, n.events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n.events), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n.events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n.events)], pa.string()),
    })
    texts = _texts(rng, n.documents)
    _write(out_dir, "documents", {
        "doc_id": pa.array(range(n.documents), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n.documents, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n.documents)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vec, label = _vectors(rng, _centres(seed), n.embeddings)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n.embeddings), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


@dataclass
class SearchExtras:
    """Inputs of the index requests over ``documents``/``embeddings``:
    id-disjoint append batches and held-out queries."""

    append_vectors: list[tuple[np.ndarray, np.ndarray, np.ndarray]]  # ids, vecs, labels
    append_docs: list[tuple[np.ndarray, list[str]]]  # ids, texts
    query_vectors: np.ndarray
    query_texts: list[str]


def search_extras(
    seed: int, sf: float, batches: int, batch_rows: int, queries: int
) -> SearchExtras:
    """Append batches (ids after the base tables' ids) and query vectors
    and texts, drawn like the base corpus of ``generate(seed, sf)``."""
    rng = np.random.default_rng([seed, 2])
    n = sizes_for(sf)
    centres = _centres(seed)
    vecs, docs = [], []
    for b in range(batches):
        v, lab = _vectors(rng, centres, batch_rows)
        vecs.append((n.embeddings + b * batch_rows + np.arange(batch_rows), v, lab))
        docs.append((n.documents + b * batch_rows + np.arange(batch_rows), _texts(rng, batch_rows)))
    qv, _ = _vectors(rng, centres, queries)
    vocab = np.array([f"t{i}" for i in range(VOCAB)])
    qt = [" ".join(vocab[(rng.zipf(1.25, 8) - 1) % VOCAB]) for _ in range(queries)]
    return SearchExtras(vecs, docs, qv, qt)
