"""Seeded generator for the ten analytics tables the registry queries and
the streaming maintainers read (region nation customer supplier part
orders lineitem events documents embeddings), one parquet file each.

The schemas and value distributions follow the shipped test fixtures, so
every registry query plans and runs the same way it does there, but the
rows come from ``seed`` alone and ``scale`` sets the size (1.0 would be
6M lineitem rows; lineitem keys are unique on (l_orderkey, l_linenumber)).
Timestamps are written as unannotated microseconds, like the fixtures.

    python3 perfbench/gen_tables.py OUTDIR --seed 7 --scale 0.02
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "green", "small"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(us_offsets: np.ndarray, base: np.datetime64) -> pa.Array:
    return pa.array((base + us_offsets.astype("timedelta64[us]")), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(outdir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(outdir, f"{name}.parquet"))


def generate(outdir: str, seed: int, scale: float) -> None:
    """Write the ten tables under ``outdir``."""
    os.makedirs(outdir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(100, int(1_500_000 * scale))
    n_ev = max(100, int(1_000_000 * scale))
    n_doc = max(50, int(50_000 * scale))
    n_emb = max(50, int(20_000 * scale))

    _write(outdir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    _write(outdir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n_cust)
    _write(outdir, "customer", {
        "c_custkey": ck, "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})

    sk = np.arange(n_supp)
    _write(outdir, "supplier", {
        "s_suppkey": sk, "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})

    pk = np.arange(n_part)
    names = [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
             zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]
    _write(outdir, "part", {
        "p_partkey": pk, "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})

    ok = np.arange(n_ord)
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(outdir, "orders", {
        "o_orderkey": ok, "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(odays * _US_PER_DAY, _EPOCH_1995),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})

    lines_per = rng.integers(1, 8, n_ord)
    l_ok = np.repeat(ok, lines_per)
    l_ln = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    n_li = len(l_ok)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    part = rng.integers(0, n_part, n_li)
    ship = np.repeat(odays, lines_per) + rng.integers(1, 122, n_li)
    _write(outdir, "lineitem", {
        "l_orderkey": l_ok, "l_partkey": part, "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(l_ln, pa.int32()), "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (part % 1000) * 0.1) * rng.uniform(1.0, 2.33, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(ship * _US_PER_DAY, _EPOCH_1995)})

    ev_us = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(outdir, "events", {
        "event_id": np.arange(n_ev), "ts": _ts(ev_us, _EPOCH_2024),
        "user_id": rng.integers(0, max(15, n_ev // 66), n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for _ in range(n_doc):
        if texts and rng.random() < 0.002:  # a few exact repeats
            texts.append(texts[int(rng.integers(0, len(texts)))])
            continue
        words = list(np.array(WORDS)[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))])
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    _write(outdir, "documents", {
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(outdir, "embeddings", {
        "vec_id": np.arange(n_emb),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("outdir")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--scale", type=float, default=0.02)
    a = ap.parse_args()
    generate(a.outdir, a.seed, a.scale)
