"""Parity of the driver-side (pyarrow) index lookup with the Spark query it
replaced.

The oracle below is the former ``query_index_labels`` body, verbatim, over
the former schema-inferring ``load_index``. Both run on the same index
files for every indexed value type, on four layouts: the index the write
path builds, the index the former Spark build wrote, the committed golden
index, and an embedded reference index imported with pyarrow
(``dataset/interop.py:_import_embedded_index``).
Literals pass the planner's coercion and type check first, as in
``dispatch_labels``. A lookup must return exactly the oracle's labels,
except where the driver path is conservative by design: on a double
column its extra labels are those holding NaN (a NaN literal prunes
nothing), and a date/timestamp before 1900 or a decimal the column type
cannot hold does not prune. Fixed seed, bounded case count.
"""

from __future__ import annotations

import copy
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

from kartothek_spark.core.index import build_index, load_index, query_index_labels
from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.core.predicates import (
    coerce_predicate_literals,
    validate_predicate_types,
)
from kartothek_spark.dataset.interop import _import_embedded_index
from kartothek_spark.dataset.write import (
    attach_dataset,
    store_dataframe_as_dataset,
    update_dataset,
)
from tests.spark_index_oracle import build_index as spark_build_index
from tests.spark_index_oracle import update_index as spark_update_index

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
    driver_m = store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, schema), root, "par", partition_on=["p"]
    )
    # the write path's index build
    driver_m.indices.update({col: build_index(spark, driver_m, col) for col in cols})
    driver_m.commit()
    # the former Spark build, one concurrent job per column
    spark_m = DatasetManifest.load(root, "par")
    with ThreadPoolExecutor(len(cols)) as pool:
        rels = pool.map(lambda col: spark_build_index(spark, spark_m, col), cols)
    spark_m.indices.update(zip(cols, rels))
    # the same (value -> labels) maps, imported as JSON-embedded indices
    label_of = {p: next(lbl for lbl in driver_m.partitions if lbl.startswith(f"p={p}/"))
                for p in range(LABELS)}
    embedded = DatasetManifest.load(root, "par")
    for j, col in enumerate(cols, start=1):
        dct: dict[str, set] = {}
        for row in rows:
            if row[j] is not None:
                dct.setdefault(_render(row[j]), set()).add(label_of[row[0]])
        rel = _import_embedded_index(embedded, col, {k: sorted(v) for k, v in dct.items()})
        if col == "i":
            # a foreign writer's narrower physical type (int32)
            path = os.path.join(root, rel, "part-00000.parquet")
            table = pq.read_table(path)
            pq.write_table(table.set_column(0, "value", table["value"].cast(pa.int32())), path)
        embedded.indices[col] = rel
    d = cols.index("d") + 1
    nan_labels = {label_of[r[0]] for r in rows
                  if isinstance(r[d], float) and math.isnan(r[d])}
    layouts = {"driver": driver_m, "spark": spark_m, "embedded": embedded}
    return layouts, nan_labels


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


def _positive_zero(value):
    """``value`` with every -0.0 as 0.0. Spark's row comparison holds them
    equal, but on a -0.0 literal its parquet dictionary filter skips a row
    group whose dictionary holds only 0.0, so the oracle is asked with 0.0."""
    if isinstance(value, list):
        return [_positive_zero(v) for v in value]
    return 0.0 if isinstance(value, float) and value == 0.0 else value


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
    assert len(cases) == 27 * 9
    # the oracle's Spark jobs run concurrently: the job floor, not the
    # tiny index, is what they cost
    with ThreadPoolExecutor(8) as pool:
        wants = list(pool.map(
            lambda case: oracle_query_index_labels(
                spark, case[0], case[1], [(c, op, _positive_zero(v)) for (c, op, v) in case[2]]
            ),
            cases,
        ))
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


# -- maintenance: the driver-side merge against the former Spark build ------

# values only the appended label holds (deleting it empties them), besides
# -0.0 and the booleans, which other labels hold as well
APPEND = {
    "l": [7, 2**62],
    "i": [2, -8],
    "d": [2.0, -0.0],
    "s": ["c", "ß"],
    "dt": [dt.date(1500, 6, 1), dt.date(2024, 1, 1)],
    "ts": [dt.datetime(1850, 1, 1, tzinfo=UTC), dt.datetime(2001, 1, 1, tzinfo=UTC)],
    "dec": [Decimal("1.20"), Decimal("7.77")],
    "b": [True, False],
    "bin": [b"\x01", b"b"],
}


def _entries(spark, manifest, column, rel) -> list[tuple]:
    """(value, labels) rows of the index at ``rel``, read by Spark;
    ``repr`` tells -0.0 from 0.0 and keeps duplicates visible."""
    m = copy.copy(manifest)
    m.indices = {column: rel}
    rows = load_index(spark, m, column).collect()
    return sorted((repr(r.value), tuple(sorted(r.partitions))) for r in rows)


def _assert_same(spark, manifest, got: dict, want: dict) -> None:
    """Index versions ``got`` and ``want`` (column -> rel) hold the same
    (value -> labels) map for every column."""
    cols = sorted(want)
    with ThreadPoolExecutor(8) as pool:
        g = list(pool.map(lambda c: _entries(spark, manifest, c, got[c]), cols))
        w = list(pool.map(lambda c: _entries(spark, manifest, c, want[c]), cols))
    for col, got_rows, want_rows in zip(cols, g, w):
        assert got_rows == want_rows, col


def _maintain(spark, root, uuid_, cols, steps, start="spark"):
    """Build ``cols``' indices both ways and compare; commit one of them
    (``start``) as the dataset's indices; then for each ``(df, scope,
    kwargs)`` step run ``update_dataset`` (the driver merge) and the former
    Spark ``update_index`` on the same added/removed labels, and compare."""
    m = DatasetManifest.load(root, uuid_)
    with ThreadPoolExecutor(len(cols)) as pool:
        oracle = dict(zip(cols, pool.map(lambda c: spark_build_index(spark, m, c), cols)))
    built = {c: build_index(spark, m, c) for c in cols}
    _assert_same(spark, m, built, oracle)
    m.indices.update(oracle if start == "spark" else built)
    m.commit()
    out = []
    for df, scope, kwargs in steps:
        before = set(DatasetManifest.load(root, uuid_).partitions)
        m = update_dataset(spark, df, root, uuid_, delete_scope=scope, **kwargs)
        new = sorted(set(m.partitions) - before)
        removed = sorted(before - set(m.partitions))
        om = copy.copy(m)
        om.indices = dict(oracle)
        with ThreadPoolExecutor(len(cols)) as pool:
            oracle = dict(zip(cols, pool.map(
                lambda c: spark_update_index(spark, om, c, new, removed), cols
            )))
        _assert_same(spark, m, m.indices, oracle)
        out.append(m)
    return out


def test_index_maintenance_matches_spark(spark, tmp_path):
    """Build, append, replace (removed labels) and a delete that empties
    values, on every value type, starting from a Spark-written index
    (INT96 timestamps, several part files, .crc/_SUCCESS)."""
    root = str(tmp_path)
    schema = T.StructType(
        [T.StructField("p", T.LongType())]
        + [T.StructField(c, t) for c, (t, _p, _x) in COLUMNS.items()]
    )
    store_dataframe_as_dataset(
        spark, spark.createDataFrame(_rows(random.Random(SEED + 1)), schema), root, "mnt",
        partition_on=["p"],
    )
    cols = list(COLUMNS)
    appended = [tuple([100] + [APPEND[c][k] for c in cols]) for k in range(2)]
    replaced = [r for r in _rows(random.Random(SEED + 2)) if r[0] == 3]
    steps = [
        (spark.createDataFrame(appended, schema), None, {}),
        (spark.createDataFrame(replaced, schema), [{"p": 3}], {}),
        (None, [{"p": 100}], {}),
    ]
    ms = _maintain(spark, root, "mnt", cols, steps)
    l_values = [{r.value for r in load_index(spark, m, "l").collect()} for m in ms]
    assert 7 in l_values[0] and 7 in l_values[1] and 7 not in l_values[2]


def test_index_maintenance_layouts_match_spark(spark, tmp_path):
    """A file without the indexed column (schema evolution), an int
    file under a long column, partition-key indices (a decimal key among
    them), an attached external root, and csv/jsonl/orc payloads."""
    root = str(tmp_path / "store")
    L, I, S = T.LongType(), T.IntegerType(), T.StringType()

    def schema(*fields):
        return T.StructType([T.StructField(n, t) for n, t in fields])

    # schema evolution: the first files lack column b
    base = schema(("p", L), ("a", L))
    evolved = schema(("p", L), ("a", L), ("b", S))
    store_dataframe_as_dataset(
        spark, spark.createDataFrame([(0, 1), (1, 2)], base), root, "evo", partition_on=["p"]
    )
    update_dataset(
        spark, spark.createDataFrame([(1, 3, "x"), (2, 4, None)], evolved), root, "evo",
        schema_evolution=True,
    )
    _maintain(spark, root, "evo", ["b"], [
        (spark.createDataFrame([(0, 5, "x"), (3, 6, "y")], evolved), None, {}),
        (spark.createDataFrame([(1, 7, "z")], evolved), [{"p": 1}], {}),
    ], start="driver")

    # an int file under the long column w
    store_dataframe_as_dataset(
        spark, spark.createDataFrame([(0, 2**31 - 1), (1, -5)], schema(("p", L), ("w", I))),
        root, "wide", partition_on=["p"],
    )
    wide = schema(("p", L), ("w", L))
    update_dataset(
        spark, spark.createDataFrame([(1, 2**40), (2, -5)], wide), root, "wide",
        schema_evolution=True,
    )
    _maintain(spark, root, "wide", ["w"], [
        (spark.createDataFrame([(0, 2**31 - 1), (3, 2**41)], wide), [{"p": 1}], {}),
    ])

    # partition-key indices, a decimal key among them
    keyed = schema(("p", L), ("k", S), ("d", T.DecimalType(10, 2)), ("v", L))
    store_dataframe_as_dataset(
        spark,
        spark.createDataFrame([(0, "x", Decimal("1.50"), 1), (1, "y", Decimal("-2.00"), 2),
                       (1, "x", Decimal("1.50"), 3)], keyed),
        root, "keyed", partition_on=["p", "k", "d"],
    )
    _maintain(spark, root, "keyed", ["k", "p", "d"], [
        (spark.createDataFrame([(2, "z", Decimal("3.25"), 4)], keyed), None, {}),
        (None, [{"k": "x"}], {}),
    ])

    # an attached external root (absolute payload paths, percent codec)
    ext = str(tmp_path / "ext")
    ext_schema = schema(("p", L), ("v", L), ("s", S))
    spark.createDataFrame([(0, 1, "a"), (1, 2, "b"), (1, 3, None)], ext_schema).write.partitionBy(
        "p"
    ).parquet("file:" + ext)
    attach_dataset(spark, root, "att", ext, partition_keys=["p"])
    _maintain(spark, root, "att", ["v", "s"], [
        (spark.createDataFrame([(2, 4, "c"), (0, 1, "a")], ext_schema), None, {}),
        (None, [{"p": 1}], {}),
    ])

    # payload formats without a pyarrow reader that parses as Spark does
    fmt_schema = schema(("p", L), ("v", L), ("s", S), ("t", T.DateType()))
    rows = [(0, 1, "a", dt.date(2000, 1, 1)), (1, 2, None, dt.date(2001, 2, 3)),
            (1, 2, "b", None)]
    for fmt in ("csv", "jsonl", "orc"):
        store_dataframe_as_dataset(
            spark, spark.createDataFrame(rows, fmt_schema), root, fmt, partition_on=["p"],
            table_format=fmt,
        )
        _maintain(spark, root, fmt, ["v", "s", "t"], [
            (spark.createDataFrame([(2, 9, "c", dt.date(1999, 12, 31))], fmt_schema), None, {}),
            (spark.createDataFrame([(1, 5, "d", None)], fmt_schema), [{"p": 1}], {}),
        ], start="driver")
