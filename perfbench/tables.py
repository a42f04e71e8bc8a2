"""Seeded tables for the registry's headline queries.

``write_tables`` writes the eight parquet tables the 13 headline
queries of ``bench.py`` read (``region nation customer orders lineitem
events documents embeddings``), with the schemas of the repo's test
tables, one file per table under ``out_dir/<name>.parquet``. Row counts
follow the TPC-H scale factor ``sf``; ``documents`` and ``embeddings``
have 500 rows at any scale, as in the test tables. Same seed, same
rows.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "fr", "es", "zh"]
WORDS = (
    "a the data row column table key value query join filter group agg sort "
    "order merge hash scan window part line customer batch stream spark "
    "vector big small fast slow"
).split()
EMBEDDING_DIM = 64
N_DOCS = 500


def _day(rng: random.Random, first: dt.datetime, last: dt.datetime) -> dt.datetime:
    return first + dt.timedelta(days=rng.randrange((last - first).days + 1))


Columns = dict[str, tuple[pa.DataType, list]]


def _tables(seed: int, sf: float) -> dict[str, Columns]:
    rng = random.Random(f"{seed}/tables")

    def draw(n: int, value) -> list:
        return [value() for _ in range(n)]

    n_cust = max(10, int(150_000 * sf))
    n_orders = max(10, int(1_500_000 * sf))
    n_items = max(10, int(6_000_000 * sf))
    n_events = max(10, int(1_000_000 * sf))
    i64, i32, f64, s = pa.int64(), pa.int32(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    order_date = draw(
        n_orders, lambda: _day(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
    )
    line_order = draw(n_items, lambda: rng.randrange(n_orders))
    clock = dt.datetime(2024, 1, 1)
    mean_gap_us = 30 * 86_400 * 10**6 // n_events  # thirty days of events
    event_ts = []
    for _ in range(n_events):
        clock += dt.timedelta(microseconds=rng.randrange(2 * mean_gap_us))
        event_ts.append(clock)
    texts: list[str] = []
    for _ in range(N_DOCS):
        roll = rng.random()
        if texts and roll < 0.03:  # exact duplicate
            texts.append(rng.choice(texts))
        elif texts and roll < 0.09:  # near duplicate
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(" ".join(rng.choices(WORDS, k=rng.randrange(8, 90))))

    return {
        "region": {
            "r_regionkey": (i32, list(range(len(REGIONS)))),
            "r_name": (s, REGIONS),
        },
        "nation": {
            "n_nationkey": (i32, list(range(25))),
            "n_name": (s, [f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (i32, [i % len(REGIONS) for i in range(25)]),
        },
        "customer": {
            "c_custkey": (i64, list(range(n_cust))),
            "c_name": (s, [f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": (i32, draw(n_cust, lambda: rng.randrange(25))),
            "c_acctbal": (
                f64,
                draw(n_cust, lambda: round(rng.uniform(-999.99, 9999.99), 2)),
            ),
            "c_mktsegment": (s, draw(n_cust, lambda: rng.choice(SEGMENTS))),
        },
        "orders": {
            "o_orderkey": (i64, list(range(n_orders))),
            "o_custkey": (i64, draw(n_orders, lambda: rng.randrange(n_cust))),
            "o_orderstatus": (s, draw(n_orders, lambda: rng.choice("FOP"))),
            "o_totalprice": (
                f64,
                draw(n_orders, lambda: round(rng.uniform(900, 450_000), 2)),
            ),
            "o_orderdate": (ts, order_date),
            "o_orderpriority": (s, draw(n_orders, lambda: rng.choice(PRIORITIES))),
        },
        "lineitem": {
            "l_orderkey": (i64, line_order),
            "l_partkey": (i64, draw(n_items, lambda: rng.randrange(200))),
            "l_suppkey": (i64, draw(n_items, lambda: rng.randrange(10))),
            "l_linenumber": (i32, draw(n_items, lambda: rng.randrange(1, 8))),
            "l_quantity": (f64, draw(n_items, lambda: float(rng.randrange(1, 51)))),
            "l_extendedprice": (
                f64,
                draw(n_items, lambda: round(rng.uniform(900, 105_000), 2)),
            ),
            "l_discount": (f64, draw(n_items, lambda: rng.randrange(11) / 100)),
            "l_tax": (f64, draw(n_items, lambda: rng.randrange(9) / 100)),
            "l_returnflag": (s, draw(n_items, lambda: rng.choice("NAR"))),
            "l_linestatus": (s, draw(n_items, lambda: rng.choice("OF"))),
            "l_shipdate": (
                ts,
                [order_date[o] + dt.timedelta(days=rng.randrange(1, 122))
                 for o in line_order],
            ),
        },
        "events": {
            "event_id": (i64, list(range(n_events))),
            "ts": (ts, event_ts),
            "user_id": (i64, draw(n_events, lambda: rng.randrange(15))),
            "event_type": (s, draw(n_events, lambda: rng.choice(EVENT_TYPES))),
            "value": (f64, draw(n_events, lambda: round(rng.uniform(0, 330), 2))),
            "props": (
                s,
                draw(n_events, lambda: json.dumps({"k": rng.randrange(100)})),
            ),
        },
        "documents": {
            "doc_id": (i64, list(range(N_DOCS))),
            "text": (s, texts),
            "lang": (s, draw(N_DOCS, lambda: rng.choice(LANGS))),
            "source": (s, [f"src{i % 20}" for i in range(N_DOCS)]),
            "n_chars": (i64, [len(t) for t in texts]),
        },
        "embeddings": {
            "vec_id": (i64, list(range(N_DOCS))),
            "embedding": (
                pa.list_(pa.float32()),
                draw(
                    N_DOCS,
                    lambda: [rng.gauss(0, 0.1) for _ in range(EMBEDDING_DIM)],
                ),
            ),
            "label": (i32, draw(N_DOCS, lambda: rng.randrange(10))),
        },
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the tables; return the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, columns in _tables(seed, sf).items():
        table = pa.table(
            {c: pa.array(values, type=t) for c, (t, values) in columns.items()}
        )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
