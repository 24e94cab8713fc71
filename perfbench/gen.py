"""Seeded input generator for the benchmark.

Writes the TPC-H-ish star schema plus the `events`, `documents` and
`embeddings` tables that graft reads (`<dir>/<table>.parquet`), with the
column names, types and value domains of the project's test fixtures.
Everything is drawn from one numpy generator seeded by the benchmark's
`--seed`, so the same seed gives byte-identical inputs.

`sf` scales every table like TPC-H: sf 0.01 is 1,500 customers, 15,000
orders, 60,000 line items, 10,000 events, 500 documents and 500 vectors.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DIM = 64
DUP_FRAC = 0.05


def _write(out, name, cols, types):
    schema = pa.schema([(c, t) for c, t in zip(cols, types)])
    table = pa.table({c: v for c, v in cols.items()}, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _texts(rng, n):
    """Random-word documents; DUP_FRAC of them are near-copies of an
    earlier document (a few tokens swapped), so dedup has pairs to find."""
    lens = rng.integers(10, 100, n)
    words = np.array(VOCAB)
    out = []
    for i in range(n):
        if i > 10 and rng.random() < DUP_FRAC:
            toks = out[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 12)):
                toks[j] = str(words[rng.integers(0, len(words))])
            out.append(" ".join(toks))
        else:
            out.append(" ".join(words[rng.integers(0, len(words), lens[i])]))
    return out


def _embeddings(rng, n):
    """Unit vectors around ten label centres, so nearest neighbours mostly
    share a label."""
    centers = rng.normal(0, 1, (10, DIM))
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = centers[labels] + rng.normal(0, 1.5, (n, DIM))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32), labels


def generate(out, seed, sf):
    """Write every table under `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    n_cust = max(100, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(50_000 * sf))

    _write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                           "r_name": REGIONS}, [i32, s])
    k = np.arange(25, dtype=np.int32)
    _write(out, "nation", {"n_nationkey": k, "n_name": [f"NATION_{i}" for i in k],
                           "n_regionkey": (k % 5).astype(np.int32)}, [i32, s, i32])
    k = np.arange(n_cust)
    _write(out, "customer", {
        "c_custkey": k, "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }, [i64, s, i32, f64, s])
    k = np.arange(n_supp)
    _write(out, "supplier", {
        "s_suppkey": k, "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }, [i64, s, i32, f64])
    k = np.arange(n_part)
    _write(out, "part", {
        "p_partkey": k,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (k % 1000) / 10.0, 1),
    }, [i64, s, s, s, i32, f64])
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    }, [i64, i64, s, f64, ts, s])
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    }, [i64, i64, i64, i32, f64, f64, f64, f64, s, s, ts])
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        # exponential with the fixtures' mean and spread (both about 50)
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
    }, [i64, ts, i64, s, f64, s])
    texts = _texts(rng, n_docs)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs), "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, [i64, s, s, s, i64])
    x, labels = _embeddings(rng, n_vecs)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs), "embedding": list(x), "label": labels,
    }, [i64, pa.list_(pa.float32()), i32])
