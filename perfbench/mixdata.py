"""Seeded generator of the tables the operator mix reads: lineitem, orders,
customer, nation, region, documents, embeddings and events, one
`<name>.parquet/part-0.parquet` each, with the column names and types of
the engine's test tables. The same seed gives the same files.

Row counts and value distributions are fitted to the engine's sf0.01 and
sf0.1 test tables (measured with DuckDB; the figures are in
perfbench/README.md):

- lineitem, orders, customer: sf0.01 row counts. Keys are uniform over
  the referenced table; prices, dates, flags and segments are uniform over
  the measured ranges and independent of each other.
- documents, embeddings: 500 each, as at sf0.001 and sf0.01.
  Text is 10-99 words drawn uniformly from the test tables' 30-word
  vocabulary; one document in 20 is an earlier document's text plus the
  word "dup". Embeddings are 64-d Gaussian vectors scaled to unit length,
  with labels 0-9 independent of the vector.
- events: sf0.001's 1,000 events by 15 users, at the test tables' density
  of 66.7 events per user over the same 30 days. The resample query's
  output grows as users x 30 days / 5 minutes (1.26 M rows at sf0.01), and
  every result is collected and checked row by row.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"lineitem": 60000, "orders": 15000, "customer": 1500, "parts": 2000, "suppliers": 100,
         "documents": 500, "embeddings": 500, "events": 1000, "users": 15}
WORDS = np.array("spark window merge table column vector stream value data small join filter big "
                 "group hash customer sort order slow line part fast row the agg key query a scan "
                 "batch".split())
LANGS, LANG_P = np.array(["en", "de", "es", "fr", "zh"]), [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_SHARE = 0.05


def _write(out, name, cols):
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    pq.write_table(pa.table(cols), os.path.join(d, "part-0.parquet"))


def _days(rng, lo, hi, n):
    """Timestamps at midnight, uniform over the days lo..hi inclusive."""
    lo, hi = np.datetime64(lo), np.datetime64(hi)
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return pa.array((lo + days).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out, seed):
    """Writes the tables under `out`."""
    rng = np.random.default_rng(seed)
    n = SIZES
    _write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": _money(rng, -1000, 10000, c),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c)})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000, 500000, o),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o)})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["parts"], li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["suppliers"], li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})
    texts = []
    for i in range(n["documents"]):
        if i > 0 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    d = n["documents"]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(d, dtype=np.int64)), "text": texts,
        "lang": rng.choice(LANGS, d, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    e = n["embeddings"]
    vecs = rng.standard_normal((e, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(e, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, e, dtype=np.int32))})
    v = n["events"]
    micros = np.sort(rng.integers(0, 30 * 86400 * 1000000, v))
    _write(out, "events", {
        "event_id": pa.array(np.arange(v, dtype=np.int64)),
        "ts": pa.array((np.datetime64("2024-01-01") + micros.astype("timedelta64[us]")).astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], v, dtype=np.int64)),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], v),
        "value": np.round(rng.exponential(50, v), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, v)]})
