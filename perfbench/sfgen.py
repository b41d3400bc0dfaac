"""Seeded generator of the four star-schema tables the registry rows read.

The registry rows (`SparkEntry.queries`) take a directory of parquet tables.
This writes the four that the benchmark's rows need, in the column layout the
rows expect and at the repository's 0.01 scale factor (TESTDATA.md):

    documents   500 rows   doc_id, text, lang, source, n_chars; ~5 % near-duplicates
    embeddings  500 rows   vec_id, embedding (64 float32, unit length), label
    events   10,000 rows   event_id, ts (January 2024), user_id, event_type, value, props
    orders   15,000 rows   o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                           o_orderdate (1995-01-01 .. 2001-08-01), o_orderpriority

Single-threaded; the same seed gives the same tables.
"""
import datetime
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the data row column table key value part order line customer query scan filter join "
         "group agg sort merge hash window batch stream spark vector big small fast slow dup").split()
LANGS = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
EVENT_TYPES = ("signup", "error", "click", "view", "purchase")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
DOCS, VECS, DIM, EVENTS, ORDERS = 500, 500, 64, 10_000, 15_000
NEAR_DUP_SHARE = 0.05


def _documents(rng):
    texts = []
    for i in range(DOCS):
        if texts and rng.random() < NEAR_DUP_SHARE:  # a copy of an earlier document, one word changed
            words = rng.choice(texts).split()
            words[rng.randrange(len(words))] = rng.choice(WORDS)
        else:
            words = [rng.choice(WORDS) for _ in range(rng.randint(10, 99))]
        texts.append(" ".join(words))
    langs = rng.choices([l for l, _ in LANGS], [w for _, w in LANGS], k=DOCS)
    return pa.table({"doc_id": pa.array(range(DOCS), pa.int64()), "text": texts, "lang": langs,
                     "source": [f"src{i % 20}" for i in range(DOCS)],
                     "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng):
    v = np.random.default_rng(rng.getrandbits(64)).standard_normal((VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({"vec_id": pa.array(range(VECS), pa.int64()),
                     "embedding": pa.array(list(v), pa.list_(pa.float32())),
                     "label": pa.array([rng.randrange(10) for _ in range(VECS)], pa.int32())})


def _events(rng):
    t0 = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ts = sorted(rng.randrange(span_us) for _ in range(EVENTS))
    return pa.table({"event_id": pa.array(range(EVENTS), pa.int64()),
                     "ts": pa.array([t0 + datetime.timedelta(microseconds=t) for t in ts], pa.timestamp("us")),
                     "user_id": pa.array([rng.randrange(150) for _ in range(EVENTS)], pa.int64()),
                     "event_type": [rng.choice(EVENT_TYPES) for _ in range(EVENTS)],
                     "value": [round(rng.uniform(0, 200), 2) for _ in range(EVENTS)],
                     "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(EVENTS)]})


def _orders(rng):
    d0 = datetime.datetime(1995, 1, 1)
    days = (datetime.datetime(2001, 8, 1) - d0).days
    return pa.table({"o_orderkey": pa.array(range(ORDERS), pa.int64()),
                     "o_custkey": pa.array([rng.randrange(1500) for _ in range(ORDERS)], pa.int64()),
                     "o_orderstatus": [rng.choice("FOP") for _ in range(ORDERS)],
                     "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(ORDERS)],
                     "o_orderdate": pa.array([d0 + datetime.timedelta(days=rng.randint(0, days))
                                              for _ in range(ORDERS)], pa.timestamp("us")),
                     "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(ORDERS)]})


def generate(out, seed):
    """Write <out>/{documents,embeddings,events,orders}.parquet, one row group each."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    for name, make in (("documents", _documents), ("embeddings", _embeddings), ("events", _events),
                       ("orders", _orders)):
        pq.write_table(make(rng), os.path.join(out, name + ".parquet"))
