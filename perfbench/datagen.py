"""Deterministic generator for the benchmark's input tables.

Writes one parquet file per table under <out_dir>/<table>.parquet, in the
schemas of the repository's test tables (FIXTURES.md section 2): a TPC-H-like
star schema plus a `documents` table of word-soup text. Scale factor 0.1
gives 600k lineitem rows and 5000 documents; 0.001 gives 6000 and 500.

The tables are a pure function of (scale factor, DATA_SEED, DATA_VERSION).
The workload seed never changes them: it only picks query parameters, slices
and batch membership inside the benchmark.

Usage: python3 perfbench/datagen.py <out_dir> <scale_factor>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bump when the generated data changes, so cached copies are rebuilt
DATA_VERSION = 2

# The documents follow the repository's sf0.1 `documents` table, measured
# with pyarrow: a 30-word vocabulary, lengths uniform over 10-99 tokens, and
# 250 of 5000 documents (5%) a copy of another document of the table, earlier
# or later, with the token "dup" appended. Two such copies of one document
# are the table's only exact duplicates (8 pairs); a copy of a copy carries
# two "dup" tokens (4 documents).
VOCAB = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
NEAR_COPY_FRAC = 0.05
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["large", "hot", "blue", "small", "red", "cold", "green", "ring", "bolt", "nut"]
PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD"]


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    """Word-soup documents in the fixture's shape (see VOCAB). The
    near-copies give near-duplicate detection its work."""
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 100))))
             for _ in range(n)]
    for i in rng.choice(n, int(n * NEAR_COPY_FRAC), replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs = 5000 if sf >= 0.1 else 500
    out = {}
    out["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    out["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)}
    out["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)]}
    out["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS[a]} {PART_WORDS[b]}"
                   for a, b in rng.integers(0, len(PART_WORDS), (n_part, 2))],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[j] for j in rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)}
    out["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("O", "F", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)]}
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")}
    out["documents"] = _documents(rng, n_docs)
    return out


def generate(out_dir, sf):
    """Writes every table unless a complete copy of this data version is
    already there. Safe against a half-written directory: the marker file is
    written last."""
    marker = os.path.join(out_dir, f"_COMPLETE_v{DATA_VERSION}")
    if os.path.exists(marker):
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in tables(sf).items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy", row_group_size=10_000_000)
    open(marker, "w").close()


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
