"""The table set of the `curation_batch` stage: small seeded parquet tables
with the layout of the engine's fixture tables (the schemas that
`graft.FixtureSchemaSpec` pins), written with pyarrow as the fixtures are.

    python3 perfbench/tables.py <out_dir> [seed]

The same seed writes the same bytes. The sizes are those of the smallest
fixture scale: the batch queries' cost at this size is per job, not per
row.
"""
import datetime
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
VOCAB = ("the a data row column table key value query join filter group "
         "sort merge hash scan window batch stream spark vector line part "
         "order customer fast slow big small agg dup").split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "signup", "purchase", "error")


def write(out, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema),
                   os.path.join(out, f"{name}.parquet"))


def documents(r, out, n=500):
    texts = []
    for i in range(n):
        if i >= 20 and r.random() < 0.25:
            # a near duplicate of an earlier document: a few token edits
            toks = texts[r.randrange(i)].split()
            for _ in range(r.randint(1, 3)):
                toks[r.randrange(len(toks))] = r.choice(VOCAB)
        else:
            toks = [r.choice(VOCAB) for _ in range(r.randint(10, 99))]
        texts.append(" ".join(toks))
    write(out, "documents", {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                  ("lang", pa.string()), ("source", pa.string()),
                  ("n_chars", pa.int64())]))


def embeddings(r, out, n=500, dim=64, labels=10):
    g = np.random.default_rng(r.randrange(2**32))
    centres = g.normal(size=(labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = g.integers(0, labels, size=n)
    v = centres[label] + 0.35 * g.normal(size=(n, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": list(range(n)),
        "embedding": [row.tolist() for row in v],
        "label": label.astype(np.int32).tolist(),
    }, pa.schema([("vec_id", pa.int64()),
                  ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


def relational(r, out, customers=150, suppliers=10, parts=200, orders=1500):
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    write(out, "region", {"r_regionkey": list(range(5)), "r_name": list(REGIONS)},
          pa.schema([("r_regionkey", i32), ("r_name", s)]))
    write(out, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    write(out, "customer", {
        "c_custkey": list(range(customers)),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": [r.randrange(25) for _ in range(customers)],
        "c_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(customers)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(customers)],
    }, pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                  ("c_acctbal", f64), ("c_mktsegment", s)]))
    write(out, "supplier", {
        "s_suppkey": list(range(suppliers)),
        "s_name": [f"Supplier#{i:09d}" for i in range(suppliers)],
        "s_nationkey": [r.randrange(25) for _ in range(suppliers)],
        "s_acctbal": [round(r.uniform(-999, 9999), 2) for _ in range(suppliers)],
    }, pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                  ("s_acctbal", f64)]))
    adjectives = ("cold", "small", "large", "red", "blue", "steel")
    nouns = ("widget", "bolt", "gear", "panel", "valve")
    write(out, "part", {
        "p_partkey": list(range(parts)),
        "p_name": [f"{r.choice(adjectives)} {r.choice(nouns)}" for _ in range(parts)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(parts)],
        "p_type": [r.choice(("ECONOMY", "PROMO", "STANDARD", "LARGE"))
                   for _ in range(parts)],
        "p_size": [r.randint(1, 50) for _ in range(parts)],
        "p_retailprice": [round(900 + i * 0.1, 2) for i in range(parts)],
    }, pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                  ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))

    day0 = datetime.datetime(1995, 1, 1)
    o_cols = {k: [] for k in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate", "o_orderpriority")}
    l_cols = {k: [] for k in ("l_orderkey", "l_partkey", "l_suppkey",
                              "l_linenumber", "l_quantity", "l_extendedprice",
                              "l_discount", "l_tax", "l_returnflag",
                              "l_linestatus", "l_shipdate")}
    for o in range(orders):
        date = day0 + datetime.timedelta(days=r.randrange(2400))
        total = 0.0
        for line in range(1, r.randint(1, 7) + 1):
            qty = float(r.randint(1, 50))
            price = round(qty * r.uniform(900, 2100), 2)
            total += price
            for k, v in (("l_orderkey", o), ("l_partkey", r.randrange(parts)),
                         ("l_suppkey", r.randrange(suppliers)),
                         ("l_linenumber", line), ("l_quantity", qty),
                         ("l_extendedprice", price),
                         ("l_discount", r.randint(0, 10) / 100),
                         ("l_tax", r.randint(0, 8) / 100),
                         ("l_returnflag", r.choice("ANR")),
                         ("l_linestatus", r.choice("FO")),
                         ("l_shipdate",
                          date + datetime.timedelta(days=r.randint(1, 120)))):
                l_cols[k].append(v)
        for k, v in (("o_orderkey", o), ("o_custkey", r.randrange(customers)),
                     ("o_orderstatus", r.choice("FOP")),
                     ("o_totalprice", round(total, 2)), ("o_orderdate", date),
                     ("o_orderpriority", r.choice(PRIORITIES))):
            o_cols[k].append(v)
    write(out, "orders", o_cols, pa.schema([
        ("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
        ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    write(out, "lineitem", l_cols, pa.schema([
        ("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
        ("l_linenumber", i32), ("l_quantity", f64), ("l_extendedprice", f64),
        ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s),
        ("l_linestatus", s), ("l_shipdate", ts)]))


def events(r, out, n=1000, users=15):
    t0 = datetime.datetime(2024, 1, 1)
    stamps = sorted(t0 + datetime.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                    for _ in range(n))
    write(out, "events", {
        "event_id": list(range(n)),
        "ts": stamps,
        "user_id": [r.randrange(users) for _ in range(n)],
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [round(r.uniform(0, 200), 2) for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))


def generate(out, seed=TABLE_SEED):
    os.makedirs(out, exist_ok=True)
    for i, make in enumerate((documents, embeddings, relational, events)):
        make(random.Random(seed * 1000 + i), out)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else TABLE_SEED)
