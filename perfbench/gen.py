"""Seeded input generator for the benchmark.

Produces the ten tables the engine reads (`region nation customer supplier
part orders lineitem events documents embeddings`) with the schemas and
value distributions of the engine's TPC-H-ish test data, at any scale
factor. Row *content* comes from a fixed base seed, so expected results do
not depend on the run seed; the run seed sets the row order and the sizes of
each table's files, which is what the engine's scans, shuffles and
surrogate-key ranges see.

Each table is written as a directory `<name>.parquet/` of part files, which
both Spark (`spark.read.parquet`) and DuckDB (`<dir>/*.parquet`) read.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line merge "
         "order part query row scan slow small sort spark stream table the value vector "
         "window").split()

FILES = 4
N_DOCS = 500
N_VECS = 500
DIM = 64

def _day_ts(days_from_epoch):
    return (days_from_epoch.astype("int64") * 86_400_000_000).astype("datetime64[us]")


def _days(iso):
    return int(np.datetime64(iso, "D").astype("int64"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(sf, names):
    """Row content for the requested tables at scale factor `sf`."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 20)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    out = {}
    # every table draws from its own child stream, so asking for a subset
    # of tables yields the same rows as asking for all of them
    streams = dict(zip(
        ["customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"],
        rng.spawn(8)))

    if "region" in names:
        out["region"] = pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype="int32")),
            "r_name": REGIONS})
    if "nation" in names:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype="int32")),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)})
    if "customer" in names:
        r = streams["customer"]
        k = np.arange(n_cust, dtype="int64")
        out["customer"] = pa.table({
            "c_custkey": k,
            "c_name": [f"Customer#{i:09d}" for i in k],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)]})
    if "supplier" in names:
        r = streams["supplier"]
        k = np.arange(n_supp, dtype="int64")
        out["supplier"] = pa.table({
            "s_suppkey": k,
            "s_name": [f"Supplier#{i:09d}" for i in k],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype("int32")),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    if "part" in names:
        r = streams["part"]
        k = np.arange(n_part, dtype="int64")
        adj = np.array(PART_ADJ)[r.integers(0, len(PART_ADJ), n_part)]
        noun = np.array(PART_NOUN)[r.integers(0, len(PART_NOUN), n_part)]
        out["part"] = pa.table({
            "p_partkey": k,
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[r.integers(0, 6, n_part)],
            "p_size": pa.array(r.integers(1, 51, n_part).astype("int32")),
            "p_retailprice": np.round(900.0 + (k % 1000) * 0.1, 1)})
    if "orders" in names:
        r = streams["orders"]
        lo, hi = _days("1995-01-01"), _days("2001-08-01")
        out["orders"] = pa.table({
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _day_ts(r.integers(lo, hi + 1, n_ord)),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_ord)]})
    if "lineitem" in names:
        r = streams["lineitem"]
        lo, hi = _days("1995-01-02"), _days("2001-11-04")
        flags = r.integers(0, 6, n_li)
        out["lineitem"] = pa.table({
            "l_orderkey": r.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": r.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": r.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": pa.array(r.integers(1, 8, n_li).astype("int32")),
            "l_quantity": r.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_li),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["F", "O"])[flags % 2],
            "l_shipdate": _day_ts(r.integers(lo, hi + 1, n_li))})
    if "events" in names:
        r = streams["events"]
        start = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
        span = 30 * 86_400_000_000
        ts = np.sort(r.integers(0, span, n_ev)) + start
        out["events"] = pa.table({
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ts.astype("datetime64[us]"),
            "user_id": r.integers(0, n_users, n_ev).astype("int64"),
            "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
            "value": np.maximum(np.round(r.exponential(50.0, n_ev), 2), 0.01),
            "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, n_ev)]})
    if "documents" in names:
        r = streams["documents"]
        texts = []
        for i in range(N_DOCS):
            if i >= 20 and r.random() < 0.05:
                # near-duplicate of an earlier document
                texts.append(texts[int(r.integers(0, i))] + " dup")
            else:
                n_words = int(r.integers(8, 90))
                texts.append(" ".join(np.array(WORDS)[r.integers(0, len(WORDS), n_words)]))
        out["documents"] = pa.table({
            "doc_id": np.arange(N_DOCS, dtype="int64"),
            "text": texts,
            "lang": np.array(LANGS)[r.integers(0, len(LANGS), N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    if "embeddings" in names:
        r = streams["embeddings"]
        labels = r.integers(0, 10, N_VECS)
        centres = r.normal(0.0, 1.0, (10, DIM))
        x = r.normal(0.0, 1.0, (N_VECS, DIM)) + 0.15 * centres[labels]
        x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
        out["embeddings"] = pa.table({
            "vec_id": np.arange(N_VECS, dtype="int64"),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels.astype("int32"))})
    return out


def write_inputs(out_dir, sf, seed, names):
    """Write `names` under `out_dir`, rows permuted and cut into `FILES`
    files of seeded sizes by `seed`. Returns {table: row count}."""
    tables = base_tables(sf, names)
    rng = np.random.default_rng(seed)
    counts = {}
    for name in names:
        t = tables[name]
        n = t.num_rows
        t = t.take(pa.array(rng.permutation(n)))
        # a fixed file count keeps scan parallelism the same for every seed
        n_files = FILES if n >= 1000 else 1
        cuts = np.cumsum(rng.dirichlet([8.0] * n_files) * n).astype(int)[:-1]
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        for i, (a, b) in enumerate(zip(np.r_[0, cuts], np.r_[cuts, n])):
            pq.write_table(t.slice(int(a), int(b - a)), os.path.join(d, f"part-{i:05d}.parquet"))
        counts[name] = n
    return counts
