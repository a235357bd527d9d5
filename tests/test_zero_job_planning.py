"""Building a planned read starts no Spark job: the index lookup runs on
the driver, the manifest file list is not listed by a job, and cube members
are read with the manifest schema (no footer inference). The only jobs of
a read are its action's. Index maintenance inside a write starts none
either: it merges on the driver. Counted with the status tracker per job
group."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from tests.conftest import spark_jobs

from kartothek_spark.core import index as ktk_index
from kartothek_spark.core.cube import Cube
from kartothek_spark.cube.build import build_cube
from kartothek_spark.cube.query import query_cube
from kartothek_spark.dataset.read import read_dataset_dispatched, read_table
from kartothek_spark.dataset.write import store_dataframe_as_dataset, update_dataset

PARTITIONS = 48

CUBE = Cube(
    dimension_columns=("x",),
    partition_columns=("p",),
    uuid_prefix="zj",
    seed_dataset="seed",
    index_columns=frozenset({"i1"}),
)


@pytest.fixture(scope="module")
def cube_root(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("zerojob"))
    seed = spark.createDataFrame(
        [Row(x=x, p=x % PARTITIONS, v=3 * x, i1=x % 97) for x in range(4 * PARTITIONS)]
    )
    enrich = spark.createDataFrame(
        [Row(x=x, p=x % PARTITIONS, w=x + 1) for x in range(4 * PARTITIONS)]
    )
    build_cube(spark, {"seed": seed, "enrich": enrich}, CUBE, root)
    return root


def test_read_table_with_index_predicate_plans_without_jobs(spark, cube_root):
    uuid_ = CUBE.ktk_dataset_uuid("seed")
    preds = [[("i1", "in", [3, 50, 96])]]
    df, jobs = spark_jobs(spark, lambda: read_table(spark, cube_root, uuid_, predicates=preds))
    assert jobs == []
    # the tracker does see the action's jobs
    rows, action_jobs = spark_jobs(spark, df.collect)
    assert action_jobs
    assert sorted(r.x for r in rows) == [x for x in range(4 * PARTITIONS) if x % 97 in (3, 50, 96)]


def test_query_cube_with_index_condition_plans_without_jobs(spark, cube_root):
    conds = [[("i1", "in", [3, 50])]]
    df, jobs = spark_jobs(spark, lambda: query_cube(spark, CUBE, cube_root, conditions=conds))
    assert jobs == []
    rows = df.collect()
    assert sorted((r.x, r.w) for r in rows) == [
        (x, x + 1) for x in range(4 * PARTITIONS) if x % 97 in (3, 50)
    ]


def test_read_dataset_dispatched_on_index_plans_without_jobs(spark, cube_root):
    uuid_ = CUBE.ktk_dataset_uuid("seed")
    preds = [[("i1", "in", [3, 50])]]
    groups, jobs = spark_jobs(
        spark, lambda: list(read_dataset_dispatched(spark, cube_root, uuid_, ["i1"], preds))
    )
    assert jobs == []
    # a group per index value of the surviving labels; the group's
    # conjunction re-filters the rows
    values = [g["i1"] for g, _conj, _df in groups]
    assert values == sorted(values) and {3, 50} <= set(values)
    for g, _conj, df in groups:
        want = [x for x in range(4 * PARTITIONS) if x % 97 == g["i1"] in (3, 50)]
        assert sorted(r.x for r in df.collect()) == want


def test_read_dataset_dispatched_keeps_only_groups_the_predicate_admits(spark, cube_root):
    """The surviving labels hold other ``i1`` values too; only the groups
    whose value can satisfy the DNF are yielded, and their rows are the
    rows of the predicated read."""
    uuid_ = CUBE.ktk_dataset_uuid("seed")
    preds = [[("i1", "in", [3, 50])]]
    groups, jobs = spark_jobs(
        spark, lambda: list(read_dataset_dispatched(spark, cube_root, uuid_, ["i1"], preds))
    )
    assert jobs == []
    assert [g["i1"] for g, _conj, _df in groups] == [3, 50]
    got = sorted(r.x for _g, _conj, df in groups for r in df.collect())
    want = sorted(r.x for r in read_table(spark, cube_root, uuid_, predicates=preds).collect())
    assert got == want == [x for x in range(4 * PARTITIONS) if x % 97 in (3, 50)]
    # one group per admitted value of any conjunction; a range literal too
    preds = [[("i1", "==", 3)], [("i1", ">=", 95), ("p", "<", 10)]]
    groups = list(read_dataset_dispatched(spark, cube_root, uuid_, ["i1", "p"], preds))
    keys = [(g["i1"], g["p"]) for g, _conj, _df in groups]
    assert keys == sorted({(x % 97, x % PARTITIONS) for x in range(4 * PARTITIONS)
                           if x % 97 == 3 or (x % 97 >= 95 and x % PARTITIONS < 10)})
    assert all(df.count() == 1 for _g, _conj, df in groups)


def test_index_update_in_append_starts_no_jobs(spark, tmp_path, monkeypatch):
    root = str(tmp_path)
    rows = [Row(p=x % 4, i1=x % 7, v=x) for x in range(40)]
    store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows), root, "app", partition_on=["p"],
        secondary_indices=["i1"],
    )
    seen = []
    update_index = ktk_index.update_index

    def counted(*args, **kwargs):
        rel, jobs = spark_jobs(spark, lambda: update_index(*args, **kwargs))
        seen.append(jobs)
        return rel

    monkeypatch.setattr(ktk_index, "update_index", counted)
    new = [Row(p=x % 4, i1=x % 11, v=x) for x in range(40, 60)]
    update_dataset(spark, spark.createDataFrame(new), root, "app")
    assert seen == [[]]
    got = read_table(spark, root, "app", predicates=[[("i1", "==", 10)]]).collect()
    assert sorted(r.v for r in got) == [x for x in range(40, 60) if x % 11 == 10]
