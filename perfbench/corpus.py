"""Deterministic generator for the benchmark's input tables.

Writes the ten tables ``catalog.TABLES`` names, one Parquet file each,
with the schemas FIXTURES.md lists for the TPC-H-like corpus. Sizes
follow that corpus at the given scale factor (lineitem = 6e6 x sf rows).
The data seed is fixed, so every run of every workload reads the same
bytes and the pinned result hashes in ``expected.json`` stay valid; the
run's ``--seed`` varies only the op order and the OHLCV bar stream.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
ADJ = "large hot blue old cold red small new".split()
NOUN = "ring bolt plate gear widget rod anvil gizmo".split()


def _write(out_dir: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _dates(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n)).astype("datetime64[us]")


def generate(out_dir: str, sf: float) -> None:
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(50_000 * sf)

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}),
        pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write(out_dir, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(segments, n_cust)}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    _write(out_dir, "orders", pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts),
                   ("o_orderpriority", s)]))
    _write(out_dir, "lineitem", pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2499)}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype(np.int64),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64),
                   ("event_type", s), ("value", f64), ("props", s)]))

    # Documents: uniform draws over a small vocabulary, plus a planted 5%
    # of near-duplicates (an earlier document with " dup" appended), the
    # shape the dedup operators are meant to find.
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    _write(out_dir, "documents", pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_doc,
                           p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))

    # Embeddings: unit vectors around ten weak label centroids.
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = 0.6 * centroids[labels] + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(np.int32)}),
        pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                   ("label", i32)]))
