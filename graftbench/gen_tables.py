"""Seeded synthetic star-schema and documents tables (parquet).

Same table names, column names and column types as the engine's
`graft.sources.Tables` test data (region, nation, customer, part, orders,
lineitem, documents), so `SparkEntry.queries` and their DuckDB
`oracleSql` run on them unchanged. Row counts are given per table; only
the values depend on the seed.

Documents mimic the test corpus: words drawn from a 30-word vocabulary,
10-100 words each, 5% near-duplicates (an earlier document plus the word
'dup') and a few exact duplicates, so the curation stages all have work.
"""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "steel"]
NOUNS = ["widget", "bolt", "ring", "gear", "panel", "valve", "spring", "frame"]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _timestamps(rng, n, start="1992-01-01", end="2001-12-31"):
    lo = np.datetime64(start, "D").astype("int64")
    hi = np.datetime64(end, "D").astype("int64")
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    n_near = n // 20
    n_exact = max(1, n // 500)
    base = n - n_near - n_exact
    lengths = rng.integers(10, 101, base)
    for k in lengths:
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    for src in rng.integers(0, base, n_near):
        texts.append(texts[src] + " dup")
    for src in rng.integers(0, base, n_exact):
        texts.append(texts[src])
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir, n, seed):
    """Write one `<table>.parquet` per table into `out_dir`. `n` maps
    customer, orders, lineitem, part and documents to row counts."""
    rng = np.random.default_rng(seed)
    nc, no, nl, np_ = n["customer"], n["orders"], n["lineitem"], n["part"]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string())}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist(), pa.string())}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": pa.array([f"{COLORS[a]} {NOUNS[b]}" for a, b in
                                zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)], pa.string()),
            "p_type": pa.array(rng.choice(PART_TYPES, np_).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + np.arange(np_) % 1000 * 0.1, 2), pa.float64())}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, no, 900.0, 500000.0), pa.float64()),
            "o_orderdate": _timestamps(rng, no),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist(), pa.string())}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(10, nc // 15), nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, nl, 900.0, 100000.0), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist(), pa.string()),
            "l_shipdate": _timestamps(rng, nl)}),
        "documents": _documents(rng, n["documents"]),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
