"""Seeded input tables for the benchmark, in the shape of the test corpus
the queries were written against (TPC-H-like star tables plus a document
table). The same seed always gives the same files."""
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def documents(rng, n):
    """Word-salad documents of 10-100 words; one in twenty is a copy of an
    earlier document with a trailing "dup", so the dedup and clustering
    operators find real work."""
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, size=k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, size=n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _days(rng, n, lo, hi):
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    d = start + rng.integers(0, span, size=n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def star(rng, n_orders):
    n_cust = max(n_orders // 10, 25)
    n_items = n_orders * 4
    nation = pa.table({
        "n_nationkey": pa.array(range(25), type=pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
    })
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), type=pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["O", "F", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_items).astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n_items).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n_items).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), type=pa.int32()),
        "l_quantity": rng.integers(1, 51, n_items).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_items), 2),
        "l_discount": np.round(rng.integers(0, 11, n_items) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_items) / 100, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_items),
        "l_linestatus": rng.choice(["O", "F"], n_items),
        "l_shipdate": _days(rng, n_items, "1995-01-02", "2001-11-05"),
    })
    return {"nation": nation, "customer": customer, "orders": orders,
            "lineitem": lineitem}


def generate(out_dir, seed, n_docs, n_orders):
    """Write every table as `<out_dir>/<name>.parquet`, plus `batch`: a
    seeded half of the odd documents, for the stream to ingest."""
    rng = np.random.default_rng(seed)
    docs = documents(rng, n_docs)
    ids = docs.column("doc_id").to_numpy()
    pick = (ids % 2 == 1) & (rng.random(len(ids)) < 0.5)
    tables = {"documents": docs, "batch": docs.filter(pa.array(pick))}
    tables.update(star(rng, n_orders))
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    return sorted(tables)
