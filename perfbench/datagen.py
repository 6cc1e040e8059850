"""Seeded generator of the star schema the engine reads.

Writes the ten tables of ``olap_xtrctr_spark.session.TABLES`` as single
row-group parquet files with the column names, types and value domains
of the engine's test data: TPC-H-like region/nation/customer/supplier/
part/orders/lineitem, an ``events`` stream table, a ``documents``
corpus over a 30-word vocabulary with ~5% near-duplicates (an earlier
document's text plus `` dup``) and a few exact duplicates, and 64-d unit
``embeddings`` in 10 weak clusters.  The same ``(seed, scale)`` always
gives byte-identical tables.

Scale 0.1 gives the engine's sf0.1 row counts (600,000 lineitem rows).
"""
from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["PROMO", "LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.145, 0.15, 0.15, 0.145]
VOCAB = ("a the query row stream spark line small fast group customer part "
         "column order scan slow agg key window table merge vector join "
         "batch sort value hash filter big data").split()

_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds() * 1_000_000)


def _days_us(rng, lo: dt.datetime, hi: dt.datetime, n: int) -> np.ndarray:
    """Uniform whole days in [lo, hi] as microseconds since the epoch."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    return _us(lo) + days * 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(table.num_rows, 1))


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[at:at + k]]))
        at += k
    # near-duplicates: another document's text with " dup" appended;
    # a handful of exact duplicates
    n_near, n_exact = int(n * 0.05), max(n // 600, 1)
    picks = rng.choice(n, n_near + n_exact, replace=False)
    srcs = rng.integers(0, n, n_near + n_exact)
    for i, (dst, src) in enumerate(zip(picks, srcs)):
        if dst != src:
            texts[dst] = texts[src] + (" dup" if i < n_near else "")
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[
            rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, n)
    vec = 0.5 * centers[label] + rng.normal(0.0, 1.0, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel(), pa.float32()), dim).cast(
                pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }


def generate(out_dir: str, seed: int, scale: float = 0.1) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * scale), int(10_000 * scale)
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_line, n_evt = int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs, n_emb = int(50_000 * scale), int(20_000 * scale)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[
            rng.integers(0, 5, n_cust)], pa.string())})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN],
                     dtype=object)
    keys = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(names[rng.integers(0, len(names), n_part)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(np.array(PART_TYPES, dtype=object)[
            rng.integers(0, len(PART_TYPES), n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[
            rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days_us(rng, dt.datetime(1995, 1, 1),
                                    dt.datetime(2001, 8, 1), n_ord)),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[
            rng.integers(0, 5, n_ord)], pa.string())})
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[
            rng.integers(0, 3, n_line)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[
            rng.integers(0, 2, n_line)], pa.string()),
        "l_shipdate": _ts(_days_us(rng, dt.datetime(1995, 1, 2),
                                   dt.datetime(2001, 11, 4), n_line))})
    t0 = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(np.sort(t0 + rng.integers(0, span, n_evt))),
        "user_id": pa.array(rng.integers(0, max(n_evt // 66, 1), n_evt),
                            pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[
            rng.integers(0, 5, n_evt)], pa.string()),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_evt)], pa.string())})
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))
    return {"lineitem": n_line, "orders": n_ord, "events": n_evt,
            "documents": n_docs, "embeddings": n_emb}
