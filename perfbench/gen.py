"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one single-row-group
parquet file each, `<dir>/<table>.parquet`, with the schemas, row counts and
value distributions of the engine's synthetic sf0.01 test tables. Each
choice below was fitted to those tables (column value sets, distinct
counts, ranges and means; the near-duplicate model):

- documents: uniform word salad over a 30-token vocabulary, 10..100 words,
  `source = src<doc_id % 20>`, 40% `en`. 5% of the documents are then
  overwritten one after another with the text of a document drawn from
  all of them plus " dup", so a copy may copy a copy (" dup dup") and an
  original may itself be overwritten later, as in the test tables;
- embeddings: 64-dim unit float vectors uniform on the sphere, with a
  label in 0..9 drawn independently (the test tables show no label signal);
  `vec_id` ranges over a prefix of `doc_id`, so a doc_id <-> vec_id join
  (the gated news pipeline) matches;
- events: `event_id` unique and in timestamp order over 30 days, from one
  user per ten customers;
- a TPC-H-shaped star schema, lineitem without a unique key.

The seed decides every value and which text, vector or event each id gets:
the same seed gives byte-identical files. Run as a script:

    python3 perfbench/gen.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DIM = 64
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts: the shape of the engine's sf0.01 test tables.
COUNTS = dict(customer=1500, supplier=100, part=2000, orders=15000,
              lineitem=60000, events=10000, documents=500, embeddings=500)


def _micros(date_str):
    return np.datetime64(date_str, "us").astype(np.int64)


def _ts(micros):
    return pa.array(micros, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def documents(rng, n):
    n_words = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]])
             for i in range(n)]
    copies = rng.choice(n, size=n // 20, replace=False)
    for copy, orig in zip(copies, rng.integers(0, n, len(copies))):
        texts[copy] = texts[orig] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n):
    label = rng.integers(0, 10, n).astype(np.int32)
    v = rng.normal(size=(n, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label,
    })


def events(rng, n):
    start = _micros("2024-01-01")
    span = 30 * 86400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, COUNTS["customer"] // 10, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def star(rng, c):
    nc, ns, np_, no, nl = (c["customer"], c["supplier"], c["part"],
                           c["orders"], c["lineitem"])
    region = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                       "r_name": REGIONS})
    nation = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                       "n_name": [f"NATION_{i}" for i in range(25)],
                       "n_regionkey": pa.array([i % 5 for i in range(25)],
                                               pa.int32())})
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    pk = np.arange(np_, dtype=np.int64)
    part = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(PART_ADJ), np_),
                       rng.integers(0, len(PART_NOUN), np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(PART_TYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    d0, d1 = _micros("1995-01-01"), _micros("2001-08-01")
    day = 86400 * 1_000_000
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(d0 + rng.integers(0, (d1 - d0) // day + 1, no) * day),
        "o_orderpriority": rng.choice(PRIORITIES, no),
    })
    s0 = _micros("1995-01-02")
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(s0 + rng.integers(0, 2500, nl) * day),
    })
    return dict(region=region, nation=nation, customer=customer,
                supplier=supplier, part=part, orders=orders,
                lineitem=lineitem)


def generate(out_dir, seed):
    """Write all ten tables for `seed` into out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    # one independent stream per table, so sizes of one never shift another
    rngs = {name: np.random.default_rng([seed, i]) for i, name in
            enumerate(["star", "events", "documents", "embeddings"])}
    tables = star(rngs["star"], COUNTS)
    tables["events"] = events(rngs["events"], COUNTS["events"])
    tables["documents"] = documents(rngs["documents"], COUNTS["documents"])
    tables["embeddings"] = embeddings(rngs["embeddings"], COUNTS["embeddings"])
    for name in TABLES:
        _write(out_dir, name, tables[name])
    return {name: tables[name].num_rows for name in TABLES}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2])))
