"""Seeded synthetic inputs. The same seed gives the same tables.

The shapes follow the TPC-H-style tables the package is developed against
(``lineitem``, ``orders``) and a small text corpus (``documents``) with
planted near-duplicates, at sizes that fit a run of a few seconds.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa

# Base tables come from this fixed seed; the run's seed picks the predicate
# literals, batch slices and op order, so every seed sees the same tables.
DATA_SEED = 42
EPOCH = dt.date(1995, 1, 1)
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
VOCAB = [
    w + s
    for w in (
        "spark lake table file index query scan plan merge join row column "
        "batch stream commit window key value hash sort filter group part "
        "order line price ship date month year cube cell seed store read write"
    ).split()
    for s in ("", "s", "ed", "er", "ing")
]


def _dates(days: np.ndarray) -> pa.Array:
    return pa.array([EPOCH + dt.timedelta(days=int(d)) for d in days], type=pa.date32())


def lineitem(rng: np.random.Generator, n: int, n_orders: int, months: int, n_supp: int) -> pa.Table:
    """Order keys are clustered in time, so a key lookup touches few months;
    suppliers are spread over all of them, so a supplier lookup does not."""
    ok = rng.integers(1, n_orders + 1, n)
    span = months * 30 - 40
    order_day = ok * span // n_orders
    ship_day = np.minimum(order_day + rng.integers(1, 40, n), months * 30 - 1)
    return pa.table({
        "l_orderkey": pa.array(ok, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n), pa.int64()),
        "l_quantity": pa.array(rng.integers(1, 51, n), pa.int64()),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100000.0, n), 2)),
        "l_returnflag": pa.array(FLAGS[rng.integers(0, 3, n)]),
        "l_shipdate": _dates(ship_day),
    })


def orders(rng: np.random.Generator, first_key: int, n: int, n_cust: int,
           status: str | None = None, priority: str | None = None) -> pa.Table:
    """``n`` orders with keys ``first_key .. first_key + n - 1``; ``status``
    and ``priority`` pin the partition values when given."""
    st = np.full(n, status) if status else STATUSES[rng.integers(0, 3, n)]
    pr = np.full(n, priority) if priority else PRIORITIES[rng.integers(0, 5, n)]
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n), pa.int64()),
        "o_orderstatus": pa.array(st),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 400000.0, n), 2)),
        "o_orderdate": _dates(rng.integers(0, 2000, n)),
        "o_orderpriority": pa.array(pr),
    })


def documents(rng: np.random.Generator, n: int, dup_share: float = 0.25) -> pa.Table:
    """``n`` documents; about ``dup_share`` of them are light edits of an
    earlier document, so near-duplicate pairs exist across batches."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_share:
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[int(k)] for k in rng.integers(0, len(VOCAB), int(rng.integers(20, 60)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
    })
