"""Seeded tables for the corpus queries of a traced run.

Same schemas, key ranges and value shapes as the engine's sf0.01 test
tables (customer, orders, lineitem, documents, events), drawn from one
seed: the same seed writes the same bytes.
"""
import datetime
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 44 + ["zh"] * 15 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13

N_CUSTOMER, N_ORDERS, N_LINEITEM = 1500, 15000, 60000
N_DOCUMENTS, N_EVENTS, N_USERS = 500, 10000, 150


def _money(r, lo, hi):
    return round(r.uniform(lo, hi), 2)


def _day(r, start, days):
    return start + datetime.timedelta(days=r.randrange(days))


def _write(out, name, columns, schema):
    pq.write_table(pa.table(columns, schema=schema), os.path.join(out, f"{name}.parquet"))


def customer(r, out):
    keys = list(range(N_CUSTOMER))
    _write(out, "customer", {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": [r.randrange(25) for _ in keys],
        "c_acctbal": [_money(r, -999.99, 9999.99) for _ in keys],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in keys],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                  ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))


def orders(r, out):
    keys = list(range(N_ORDERS))
    start = datetime.datetime(1995, 1, 1)
    _write(out, "orders", {
        "o_orderkey": keys,
        "o_custkey": [r.randrange(N_CUSTOMER) for _ in keys],
        "o_orderstatus": [r.choice("FOP") for _ in keys],
        "o_totalprice": [_money(r, 1000.0, 500000.0) for _ in keys],
        "o_orderdate": [_day(r, start, 2404) for _ in keys],
        "o_orderpriority": [r.choice(PRIORITIES) for _ in keys],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
                  ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
                  ("o_orderpriority", pa.string())]))


def lineitem(r, out):
    n = range(N_LINEITEM)
    start = datetime.datetime(1995, 1, 2)
    _write(out, "lineitem", {
        "l_orderkey": [r.randrange(N_ORDERS) for _ in n],
        "l_partkey": [r.randrange(2000) for _ in n],
        "l_suppkey": [r.randrange(100) for _ in n],
        "l_linenumber": [r.randint(1, 7) for _ in n],
        "l_quantity": [float(r.randint(1, 50)) for _ in n],
        "l_extendedprice": [_money(r, 900.0, 105000.0) for _ in n],
        "l_discount": [r.randint(0, 10) / 100 for _ in n],
        "l_tax": [r.randint(0, 8) / 100 for _ in n],
        "l_returnflag": [r.choice("ANR") for _ in n],
        "l_linestatus": [r.choice("OF") for _ in n],
        "l_shipdate": [_day(r, start, 2498) for _ in n],
    }, pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                  ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                  ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                  ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                  ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))


def documents(r, out):
    """Word soup cut at 48-553 characters; 5% of documents repeat another
    document's text with " dup" appended, as near-duplicates."""
    texts = []
    for _ in range(N_DOCUMENTS):
        n, words = r.randint(48, 553), []
        while len(" ".join(words)) < n:
            words.append(r.choice(WORDS))
        texts.append(" ".join(words)[:n])
    for i in r.sample(range(N_DOCUMENTS), N_DOCUMENTS // 20):
        texts[i] = texts[r.randrange(N_DOCUMENTS)] + " dup"
    ids = list(range(N_DOCUMENTS))
    _write(out, "documents", {
        "doc_id": ids, "text": texts,
        "lang": [r.choice(LANGS) for _ in ids],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": [len(t) for t in texts],
    }, pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())]))


def events(r, out):
    ts, t = [], datetime.datetime(2024, 1, 1)
    for _ in range(N_EVENTS):
        t += datetime.timedelta(microseconds=r.randrange(1, 518_000_000))
        ts.append(t)
    ids = list(range(N_EVENTS))
    _write(out, "events", {
        "event_id": ids, "ts": ts,
        "user_id": [r.randrange(N_USERS) for _ in ids],
        "event_type": [r.choice(EVENT_TYPES) for _ in ids],
        "value": [_money(r, 0.0, 50.0) for _ in ids],
        "props": ['{"k": %d}' % r.randrange(100) for _ in ids],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                  ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]))


TABLES = ["customer", "orders", "lineitem", "documents", "events"]


def generate(seed, out):
    os.makedirs(out, exist_ok=True)
    for i, make in enumerate([customer, orders, lineitem, documents, events]):
        make(random.Random(seed * 1000 + i), out)
