"""Seeded generator for the benchmark's warehouse.

Writes the catalog tables (etl_online_retail_spark.catalog.SCHEMAS) as one
parquet file each, with the shapes and value domains of the TPC-H-like
star schema the package is built for: uniform foreign keys, two-decimal
money columns, midnight order/ship dates, a 31-word document vocabulary
and unit-norm 64-dim embeddings clustered around ten labels. Row counts
scale with `sf` (lineitem = 6,000,000 x sf); the same (sf, seed) always
writes the same bytes.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the dup").split()
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return d.astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64 = np.int32, np.int64

    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32)})
    out["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=i64)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=i64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=i64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev).astype(i64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lengths = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=i64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc,
                           p=[0.44, 0.15, 0.14, 0.14, 0.13]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=i64)})
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vecs = centers[label] + rng.normal(0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=i64),
        "embedding": list(vecs),
        "label": label.astype(i32)})
    return out


def write(sf: float, seed: int, dst: str) -> dict[str, int]:
    """Write every table to `dst/<name>.parquet`; returns row counts."""
    os.makedirs(dst, exist_ok=True)
    counts = {}
    for name, df in tables(sf, seed).items():
        df.to_parquet(os.path.join(dst, f"{name}.parquet"), index=False)
        counts[name] = len(df)
    return counts


def fingerprint(*parts) -> str:
    """Cache key over this generator's source and the given parts."""
    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    for p in parts:
        h.update(repr(p).encode())
    return h.hexdigest()[:16]


def cached(sf: float, seed: int, cache_root: str) -> str:
    """The warehouse for (sf, seed) under cache_root, written on first
    use; read-only afterwards."""
    dst = os.path.join(cache_root, f"data-{fingerprint(sf, seed)}")
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write(sf, seed, tmp)
        os.replace(tmp, dst)
    return dst
