"""Seeded input tables for the benchmark.

Everything the engine reads is generated here from the workload seed, so
the same seed always gives the same bytes and the benchmark needs no data
outside its checkout. Two table families:

- the curation corpus, shaped like the engine's sf0.001 test tables:
  ``documents`` (250 docs over a 30-word vocabulary, 10-99 words each,
  12 near-duplicates that copy one of 5 base docs and append `` dup``
  once per earlier copy),
  ``embeddings`` (500 random unit vectors, 64-d float32, 10 labels) and
  ``lineitem`` (6,000 lines over 1,500 orders and 200 parts);
- the Sakila operational schemas the seven warehouse jobs read
  (``staff film store rental inventory payment``), at the reference
  run's ratios (2 stores, 1,000 films, ~16k rentals and payments), with
  ~1 % any-null rows and ~1 % exact duplicates so the cleaning step has
  work, and timestamps on Sakila's 41 rental days.

Usage: ``write_tables(out_dir, seed)`` writes one ``<name>.parquet`` per
table and returns the list of names.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en"] * 44 + ["zh"] * 15 + ["es"] * 15 + ["de"] * 14 + ["fr"] * 12

N_DOCS = 250
N_VECS = 500
DIM = 64
N_ORDERS = 1500
N_PARTS = 200
N_SUPP = 10
N_LINES = 6000

N_STORES = 2
N_STAFF = 2
N_FILMS = 1000
N_INVENTORY = 4600
N_RENTALS = 16000
N_PAYMENTS = 16000
# Sakila rents on 41 days between 2005-05-24 and 2006-02-14: five bursts
# of eight days and one last day. They set the number of daily partitions
# fact_daily_inventory writes (41) and of monthly ones for payments (5).
RENTAL_DAYS = [
    dt.datetime(y, m, d, tzinfo=dt.timezone.utc) + dt.timedelta(days=k)
    for (y, m, d) in ((2005, 5, 24), (2005, 6, 14), (2005, 7, 5), (2005, 7, 24),
                      (2005, 8, 16))
    for k in range(8)
] + [dt.datetime(2006, 2, 14, tzinfo=dt.timezone.utc)]
DEFECT_SHARE = 0.01

UTC_US = pa.timestamp("us", tz="UTC")


def _documents(rng: np.random.Generator) -> pa.Table:
    # The corpus shape is the same for every seed, so a seed changes the
    # words but not the amount of work: doc lengths are a fixed spread over
    # 10-99 words, and the near-duplicates are fixed clusters. Each copy of
    # a base doc appends one more " dup", so a base with several copies
    # forms a clique of near-duplicate pairs.
    lengths = 10 + (np.arange(N_DOCS) * 37) % 90
    n_copies = N_DOCS // 20
    pool = N_DOCS // 50
    base_len = lengths[:pool].copy()
    lengths = np.concatenate([base_len, rng.permutation(lengths[pool:])])
    texts = [" ".join(rng.choice(VOCAB, size=int(n))) for n in lengths]
    copies = [0] * pool
    for k, i in enumerate(rng.choice(range(pool, N_DOCS), size=n_copies, replace=False)):
        j = k % pool
        copies[j] += 1
        texts[i] = texts[j] + " dup" * copies[j]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
            "text": texts,
            "lang": [LANGS[k] for k in rng.integers(len(LANGS), size=N_DOCS)],
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(10, size=N_VECS), pa.int32()),
        }
    )


def _lineitem(rng: np.random.Generator) -> pa.Table:
    qty = rng.integers(1, 51, size=N_LINES).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, size=N_LINES), 2)
    ship = np.datetime64("1995-01-02") + rng.integers(0, 2500, size=N_LINES)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(N_ORDERS, size=N_LINES), pa.int64()),
            "l_partkey": pa.array(rng.integers(N_PARTS, size=N_LINES), pa.int64()),
            "l_suppkey": pa.array(rng.integers(N_SUPP, size=N_LINES), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, size=N_LINES), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": np.round(rng.integers(0, 11, size=N_LINES) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, size=N_LINES) / 100, 2),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(3, size=N_LINES)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(2, size=N_LINES)],
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )


def _with_defects(rng: np.random.Generator, cols: dict[str, list]) -> dict[str, list]:
    """Null one field in ~1 % of rows and append ~1 % exact duplicates."""
    n = len(next(iter(cols.values())))
    names = list(cols)
    k = max(1, int(n * DEFECT_SHARE))
    for i in rng.choice(n, size=k, replace=False):
        cols[names[int(rng.integers(len(names)))]][i] = None
    for i in rng.choice(n, size=k, replace=False):
        for c in names:
            cols[c].append(cols[c][i])
    return cols


def _times(rng: np.random.Generator, n: int) -> list[dt.datetime]:
    days = rng.integers(len(RENTAL_DAYS), size=n)
    secs = rng.integers(0, 86400, size=n)
    return [RENTAL_DAYS[d] + dt.timedelta(seconds=int(s)) for d, s in zip(days, secs)]


def _sakila(rng: np.random.Generator) -> dict[str, pa.Table]:
    i32 = pa.int32()

    def ints(hi: int, n: int) -> list[int]:
        return [int(x) for x in rng.integers(hi, size=n)]

    staff = {
        "staff_id": list(range(1, N_STAFF + 1)),
        "first_name": [f"First{i}" for i in range(1, N_STAFF + 1)],
        "last_name": [f"Last{i}" for i in range(1, N_STAFF + 1)],
        "store_id": list(range(1, N_STORES + 1)),
    }
    film = {
        "film_id": list(range(1, N_FILMS + 1)),
        "title": [f"{VOCAB[int(a)]} {VOCAB[int(b)]} {i}" for i, (a, b) in
                  enumerate(rng.integers(len(VOCAB), size=(N_FILMS, 2)), 1)],
        "release_year": [2006] * N_FILMS,
        "language_id": [int(x) + 1 for x in rng.integers(6, size=N_FILMS)],
    }
    store = {
        "store_id": list(range(1, N_STORES + 1)),
        "manager_staff_id": list(range(1, N_STORES + 1)),
        "address_id": list(range(1, N_STORES + 1)),
    }
    inventory = {
        "inventory_id": list(range(1, N_INVENTORY + 1)),
        "film_id": [x + 1 for x in ints(N_FILMS, N_INVENTORY)],
        "store_id": [x + 1 for x in ints(N_STORES, N_INVENTORY)],
    }
    rental = {
        "rental_id": list(range(1, N_RENTALS + 1)),
        "rental_date": _times(rng, N_RENTALS),
        "inventory_id": [x + 1 for x in ints(N_INVENTORY, N_RENTALS)],
        "customer_id": [x + 1 for x in ints(599, N_RENTALS)],
    }
    payment = {
        "payment_id": list(range(1, N_PAYMENTS + 1)),
        "staff_id": [x + 1 for x in ints(N_STAFF, N_PAYMENTS)],
        "rental_id": [x + 1 for x in ints(N_RENTALS, N_PAYMENTS)],
        "payment_date": _times(rng, N_PAYMENTS),
        "amount": [Decimal(int(c)) / 100 for c in rng.integers(99, 1200, size=N_PAYMENTS)],
    }
    types = {
        "staff": {"staff_id": i32, "first_name": pa.string(), "last_name": pa.string(),
                  "store_id": i32},
        "film": {"film_id": i32, "title": pa.string(), "release_year": i32,
                 "language_id": i32},
        "store": {"store_id": i32, "manager_staff_id": i32, "address_id": i32},
        "inventory": {"inventory_id": i32, "film_id": i32, "store_id": i32},
        "rental": {"rental_id": i32, "rental_date": UTC_US, "inventory_id": i32,
                   "customer_id": i32},
        "payment": {"payment_id": i32, "staff_id": i32, "rental_id": i32,
                    "payment_date": UTC_US, "amount": pa.decimal128(10, 2)},
    }
    raw = {"staff": staff, "film": film, "store": store, "inventory": inventory,
           "rental": rental, "payment": payment}
    out = {}
    for name, cols in raw.items():
        # the tiny dims stay clean: a null there would drop a whole store
        if len(cols[next(iter(cols))]) > 100:
            cols = _with_defects(rng, cols)
        schema = pa.schema(list(types[name].items()))
        out[name] = pa.table(cols, schema=schema)
    return out


def write_tables(out_dir: str, seed: int) -> list[str]:
    """Generate every input table for ``seed`` under ``out_dir``."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "lineitem": _lineitem(rng),
        **_sakila(rng),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return list(tables)
