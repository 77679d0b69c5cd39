"""Seeded generator for the benchmark's input tables.

Writes the ten fixture tables the engine reads (`graft.Tables.names`) as one
parquet file each, with the schemas, row counts, key ranges and distinct
counts of the repo's sf0.1 fixture (FIXTURES.md; compared column by column
with it, README.md "Inputs"). The same (seed, shape) always gives
byte-identical files, so a run's input is a function of --seed.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the row query stream fast spark line small customer group value hash "
         "batch sort data big filter key agg scan slow table part merge window "
         "order column join vector").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
TS = pa.timestamp("us")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, last, n):
    span = (last - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out, name, cols, schema):
    table = pa.table(cols, schema=schema)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    """Texts made the way the fixture's are, as measured on the sf0.1
    documents table (5,000 rows): 10..99 tokens drawn uniformly from the
    30-word vocabulary; then 5% of the rows (250) replaced, one after
    another, by the text of a random other row plus the token `dup`. A row
    copied twice gives the exact duplicates (8 rows at sf0.1), and a copy of
    a copy ends in `dup dup` (4 rows). No other duplicates are planted."""
    texts = [" ".join(_pick(rng, WORDS, k)) for k in rng.integers(10, 100, n)]
    for i in rng.choice(n, n // 20, replace=False):
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return texts


def grow(base, copies, key, text=None):
    """`copies` copies of `base` as graft.tools.GrowCorpus makes them: copy c
    adds c * 10^7 to `key` and suffixes every token of `text` with `_c`, so
    each copy keeps the base's duplicate structure without duplicating
    another copy."""
    parts = []
    for c in range(copies):
        cols = dict(base)
        cols[key] = base[key] + c * 10_000_000
        if text and c:
            cols[text] = [" ".join(f"{w}_{c}" for w in t.split(" "))
                          for t in base[text]]
        parts.append(cols)
    return {k: (np.concatenate([p[k] for p in parts]) if isinstance(base[k], np.ndarray)
                else [x for p in parts for x in p[k]]) for k in base}


def generate(out, seed, sf, n_docs, n_vecs, copies):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    _write(out, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }, pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) % 5,
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_line, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -1000, 10000, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -1000, 10000, n_supp),
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) * 0.1, 1),
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    }, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                  ("o_totalprice", f64), ("o_orderdate", TS),
                  ("o_orderpriority", s)]))
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line),
    }, pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                  ("l_linenumber", i32), ("l_quantity", f64),
                  ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                  ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", TS)]))
    # strictly increasing timestamps over 30 days, one user per ~67 events
    gaps = np.maximum(1, rng.exponential(30 * 86400e6 / n_ev, n_ev)).astype(np.int64)
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (start + np.cumsum(gaps)).astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, n_ev * 3 // 200), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, pa.schema([("event_id", i64), ("ts", TS), ("user_id", i64),
                  ("event_type", s), ("value", f64), ("props", s)]))

    # with copies > 1 the corpus tables are a base of n / copies rows grown
    # as GrowCorpus grows them; the other tables are not grown
    n_base = n_docs // copies
    texts = documents(rng, n_base)
    docs = grow({
        "doc_id": np.arange(n_base, dtype=np.int64),
        "text": texts,
        "lang": list(_pick(rng, LANGS, n_base, LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_base)],
    }, copies, "doc_id", "text")
    docs["n_chars"] = np.array([len(t) for t in docs["text"]], dtype=np.int64)
    _write(out, "documents", docs,
           pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                      ("n_chars", i64)]))
    n_base = n_vecs // copies
    vecs = grow({
        "vec_id": np.arange(n_base, dtype=np.int64),
        "embedding": rng.normal(0.0, 0.1, (n_base, 64)).astype(np.float32),
        "label": rng.integers(0, 10, n_base).astype(np.int32),
    }, copies, "vec_id")
    vecs["embedding"] = pa.FixedSizeListArray.from_arrays(
        vecs["embedding"].ravel(), 64).cast(pa.list_(pa.float32()))
    _write(out, "embeddings", vecs,
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))
