"""Seeded input generators for the benchmark.

Two families, both pure functions of (seed, size):

* ``tables(out_dir, sf, seed)`` writes the ten parquet tables the batch
  surface reads (``graft.Tables`` / FIXTURES.md section B): same column
  names, physical types and value domains as the fixture tables, at any
  scale factor. Row counts follow the fixture ladder (lineitem ~6M x sf).
* ``capture(path, n, rate, seed)`` writes the header-mapped TDC CSV that
  ``graft-tdc-replay`` reads (FIXTURES.md section A domains). Hit ``i`` is
  scheduled at ``i / rate`` seconds after the run origin and its orbit
  counter advances at wall pace on that schedule (1 orbit = 3564 x 25 ns),
  so event-time windows close as the replay proceeds and state stays
  bounded.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ORBIT_S = 3564 * 25e-9          # one LHC orbit, seconds
ORBIT0 = 2252311494             # first orbit of the golden capture
TRIGGER_SHARE = 0.05            # hits on trigger channels (>= 128)
CAPTURE_COLS = ["HEAD", "FPGA", "TDC_CHANNEL", "ORBIT_CNT", "BX_COUNTER",
                "TDC_MEAS"]

WORDS = ("row the query stream fast spark line small customer group value "
         "hash batch sort data big filter key agg scan slow table part a "
         "merge window order column join vector").split()
ADJ = "small red blue hot old large cold green".split()
NOUN = "widget bolt gear gizmo ring nut spring valve".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def _ts(days_from, days):
    """Microsecond NTZ timestamps at whole days from a base date."""
    base = np.datetime64(days_from, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(out_dir, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 2)})
    odays = rng.integers(0, 2404, n_ord)        # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", odays),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105_000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-01",
                          odays[okey] + rng.integers(1, 95, n_li))}
    # shuffle line order the way the fixture files are (not key-sorted)
    perm = rng.permutation(n_li)
    _write(out_dir, "lineitem", {k: (v.take(pa.array(perm))
                                     if isinstance(v, pa.Array) else v[perm])
                                 for k, v in li.items()})
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(10, n_evt // 67), n_evt),
                            pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 10 and r < 0.05:             # near-duplicate of an earlier doc
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:          # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 95))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[labels] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def capture_rows(n, rate, seed):
    """The capture as six int64 columns (CAPTURE_COLS order)."""
    rng = np.random.default_rng(seed)
    t = np.arange(n) / rate                       # scheduled seconds
    orbit = ORBIT0 + np.floor(t / ORBIT_S).astype(np.int64)
    trig = rng.random(n) < TRIGGER_SHARE
    chan = np.where(trig, rng.integers(128, 140, n), rng.integers(1, 126, n))
    return np.stack([
        np.full(n, 2), rng.integers(0, 2, n), chan, orbit,
        rng.integers(0, 3564, n), rng.integers(1, 31, n)], axis=1)


def capture(path, n, rate, seed):
    """Write the capture CSV; returns the rows it wrote."""
    rows = capture_rows(n, rate, seed)
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    pd.DataFrame(rows, columns=CAPTURE_COLS).to_csv(path, index=False)
    return rows
