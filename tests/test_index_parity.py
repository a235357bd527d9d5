"""Parity of the driver-side (pyarrow) index lookup with the Spark query it
replaced.

The oracle below is the former ``query_index_labels`` body, verbatim, over
the former schema-inferring ``load_index``. Both run on the same index
files for every indexed value type, on three layouts: the Spark-written
index, the committed golden index, and an embedded reference index
imported with pyarrow (``dataset/interop.py:_import_embedded_index``).
Literals pass the planner's coercion and type check first, as in
``dispatch_labels``. A lookup must return exactly the oracle's labels,
except where the driver path is conservative by design: on a double
column its extra labels are those holding NaN (a NaN literal prunes
nothing), and a date/timestamp before 1900 or a decimal the column type
cannot hold does not prune. Fixed seed, bounded case count.
"""

from __future__ import annotations

import datetime as dt
import functools
import math
import os
import random
from concurrent.futures import ThreadPoolExecutor
from decimal import Decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kartothek_spark.core.index import build_index, query_index_labels
from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.core.predicates import (
    coerce_predicate_literals,
    validate_predicate_types,
)
from kartothek_spark.dataset.interop import _import_embedded_index
from kartothek_spark.dataset.write import store_dataframe_as_dataset

SEED = 20261020
LABELS = 12
ROWS_PER_LABEL = 4

GOLDEN_ROOT = os.path.join(os.path.dirname(__file__), "golden")

UTC = dt.timezone.utc
NAN = float("nan")

# column -> (type, values rows draw from, further literals to probe with)
COLUMNS = {
    "l": (
        T.LongType(),
        [-(2**62), -3, -1, 0, 1, 2, 5, 2**40],
        [-4, 3, 2**62, 7],
    ),
    "i": (
        T.IntegerType(),
        [-(2**31), -7, 0, 1, 9, 2**31 - 1],
        [2, -8, 2**40],
    ),
    "d": (
        T.DoubleType(),
        [NAN, -0.0, 0.0, math.inf, -math.inf, 1.5, -2.25, 1e300],
        [0.0, -0.0, NAN, 1.0, 2.0, math.inf],
    ),
    "s": (
        T.StringType(),
        ["", "a", "ab", "b", "é", "日本", "\U0001F600", "Z"],
        ["aa", "c", "ß", "\U0001F601"],
    ),
    "dt": (
        T.DateType(),
        [dt.date(1000, 1, 1), dt.date(1900, 1, 1), dt.date(1969, 12, 31),
         dt.date(1970, 1, 1), dt.date(2000, 2, 29), dt.date(9999, 12, 31)],
        [dt.date(1500, 6, 1), dt.date(1999, 1, 1), "2000-02-29", dt.date(2024, 1, 1)],
    ),
    "ts": (
        T.TimestampType(),
        [dt.datetime(1900, 1, 1, tzinfo=UTC),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=UTC),
         dt.datetime(1970, 1, 1, tzinfo=UTC),
         dt.datetime(2000, 1, 1, 12, 34, 56, 789012, tzinfo=UTC),
         dt.datetime(2262, 4, 12, tzinfo=UTC),
         dt.datetime(9999, 12, 31, 23, 59, 59, tzinfo=UTC)],
        [dt.datetime(1850, 1, 1, tzinfo=UTC),
         dt.datetime(2000, 1, 1, 12, 34, 56, 789012),  # naive: process-local
         dt.datetime(2000, 1, 1, 13, 34, 56, 789012,
                     tzinfo=dt.timezone(dt.timedelta(hours=1))),
         "1970-01-01 00:00:00"],
    ),
    "dec": (
        T.DecimalType(10, 2),
        [Decimal("-99999999.99"), Decimal("-1.25"), Decimal("-0.01"),
         Decimal("0.00"), Decimal("1.25"), Decimal("3.10")],
        [Decimal("1.2"), Decimal("1.255"), Decimal("123456789012.5"), Decimal("3.1")],
    ),
    "b": (T.BooleanType(), [True, False], []),
    "bin": (
        T.BinaryType(),
        [b"", b"\x00", b"\x00\x01", b"\xff", b"a", b"ab"],
        [b"\x01", b"\xfe\xff", b"b"],
    ),
}


def _conservative(value) -> bool:
    """A literal the driver path is allowed not to prune on."""
    if isinstance(value, list):
        return any(_conservative(v) for v in value)
    if isinstance(value, float) and math.isnan(value):
        return True
    if isinstance(value, (dt.date, dt.datetime)) and value.year < 1900:
        return True
    if isinstance(value, Decimal):
        return value != value.quantize(Decimal("0.01")) or abs(value) >= 10**8
    return False


# -- oracle: the former Spark query -------------------------------------------


@functools.lru_cache(maxsize=32)
def _old_read_index(spark, path):
    return spark.read.parquet(path)


def _old_load_index(spark, manifest, column):
    rel = manifest.indices[column]
    # memoized per path: the schema inference is one job per read, not
    # what is compared
    return _old_read_index(spark, "file:" + os.path.abspath(os.path.join(manifest.root, rel)))


def oracle_query_index_labels(spark, manifest, column, literals) -> set[str]:
    from kartothek_spark.core.predicates import predicates_to_column

    idx = _old_load_index(spark, manifest, column)
    preds = [[("value", op, v) for (_c, op, v) in literals]]
    hits = (
        idx.where(predicates_to_column(preds))
        .select(F.explode("partitions").alias("label"))
        .distinct()
    )
    return {r.label for r in hits.collect()}


# -- fixtures -----------------------------------------------------------------


def _rows(rng: random.Random) -> list[tuple]:
    rows = []
    for p in range(LABELS):
        for _ in range(ROWS_PER_LABEL):
            row = [p]
            for col, (_t, pool, _x) in COLUMNS.items():
                if col == "d" and p == 0:
                    row.append(NAN)  # a label whose only doubles are NaN
                else:
                    row.append(rng.choice(pool + [None]))
            rows.append(tuple(row))
    return rows


def _render(value) -> str:
    """JSON-key rendering of a reference embedded index."""
    if isinstance(value, bytes):
        return "x" + value.hex()
    if isinstance(value, (dt.date, dt.datetime)):
        return value.isoformat()
    return str(value)


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("idxparity"))
    rng = random.Random(SEED)
    rows = _rows(rng)
    schema = T.StructType(
        [T.StructField("p", T.LongType())]
        + [T.StructField(c, t) for c, (t, _p, _x) in COLUMNS.items()]
    )
    cols = list(COLUMNS)
    spark_m = store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, schema), root, "par", partition_on=["p"]
    )
    # the write path's index build, one concurrent job per column
    with ThreadPoolExecutor(len(cols)) as pool:
        rels = pool.map(lambda col: build_index(spark, spark_m, col), cols)
    spark_m.indices.update(zip(cols, rels))
    spark_m.commit()
    # the same (value -> labels) maps, imported as JSON-embedded indices
    label_of = {p: next(lbl for lbl in spark_m.partitions if lbl.startswith(f"p={p}/"))
                for p in range(LABELS)}
    embedded = DatasetManifest.load(root, "par")
    for j, col in enumerate(cols, start=1):
        if col == "dec":
            # the embedded import cannot type decimal keys
            del embedded.indices[col]
            continue
        dct: dict[str, set] = {}
        for row in rows:
            if row[j] is not None:
                dct.setdefault(_render(row[j]), set()).add(label_of[row[0]])
        rel = _import_embedded_index(embedded, col, {k: sorted(v) for k, v in dct.items()})
        if col == "i":
            # a foreign writer's narrower physical type (int32)
            path = os.path.join(root, rel, "part-0.parquet")
            table = pq.read_table(path)
            pq.write_table(table.set_column(0, "value", table["value"].cast(pa.int32())), path)
        embedded.indices[col] = rel
    d = cols.index("d") + 1
    nan_labels = {label_of[r[0]] for r in rows
                  if isinstance(r[d], float) and math.isnan(r[d])}
    return {"spark": spark_m, "embedded": embedded}, nan_labels


def _cases(col: str, rng: random.Random) -> list[list[tuple]]:
    """Each op once, empty ``in`` and a conjunction of 2-3 literals, on
    literals drawn from the column's values and probes."""
    _t, pool, extra = COLUMNS[col]
    probe = pool + extra
    cases = [[(col, op, rng.choice(probe))] for op in ("==", "!=", "<", "<=", ">", ">=")]
    cases.append([(col, "in", rng.sample(probe, min(3, len(probe))))])
    cases.append([(col, "in", [])])
    conj = []
    for _ in range(rng.randint(2, 3)):
        op = rng.choice(["==", "!=", "<", "<=", ">", ">=", "in"])
        value = rng.sample(probe, rng.randint(1, min(3, len(probe)))) if op == "in" else rng.choice(probe)
        conj.append((col, op, value))
    cases.append(conj)
    return cases


def _assert_parity(col, lits, want, got, nan_labels):
    assert want <= got, (col, lits, sorted(want - got))
    if any(_conservative(v) for (_c, _op, v) in lits):
        return
    extra = got - want
    if col == "d":
        assert extra <= nan_labels, (col, lits, sorted(extra))
    else:
        assert not extra, (col, lits, sorted(extra))


def test_index_lookup_matches_spark_query(spark, layouts):
    manifests, nan_labels = layouts
    rng = random.Random(SEED)
    cases = []
    for manifest in manifests.values():
        for col in COLUMNS:
            if col in manifest.indices:
                for conj in _cases(col, rng):
                    # the planner's literal coercion and type check
                    preds = coerce_predicate_literals([conj], manifest.schema)
                    validate_predicate_types(preds, manifest.schema)
                    cases.append((manifest, col, preds[0]))
    assert len(cases) == 17 * 9
    # the oracle's Spark jobs run concurrently: the job floor, not the
    # tiny index, is what they cost
    with ThreadPoolExecutor(8) as pool:
        wants = list(pool.map(lambda case: oracle_query_index_labels(spark, *case), cases))
    for (manifest, col, lits), want in zip(cases, wants):
        got = query_index_labels(spark, manifest, col, lits)
        _assert_parity(col, lits, want, got, nan_labels)


def test_golden_index_lookup_matches_spark_query(spark):
    m = DatasetManifest.load(GOLDEN_ROOT, "golden")
    for conj in (
        [("name", "==", "bee")],
        [("name", "!=", "alpha")],
        [("name", "<", "ant")],
        [("name", "<=", "ant")],
        [("name", ">", "alpha")],
        [("name", ">=", "bee")],
        [("name", "in", ["alpha", "zzz"])],
        [("name", "in", [])],
        [("name", ">", "a"), ("name", "<", "b")],
    ):
        assert query_index_labels(spark, m, "name", conj) == oracle_query_index_labels(
            spark, m, "name", conj
        ), conj
