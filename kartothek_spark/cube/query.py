"""Cube query planner — multi-dataset join DAG with last-wins dedup.

Parity targets in /root/reference: ``plan_query``
(io_components/cube/query/__init__.py:258-364), ``determine_intention``
(_intention.py:273-351), ``regroup`` (_regroup.py:320-396), ``load_group``
(_group.py:195-232), last-wins dedup (_group.py:138-144 +
utils/pandas.py:220-252).

Spark-first realization (survey §3.3 "Spark shape"): the whole plan
collapses to — per member dataset, a manifest/index-pruned read (the
``conditions_pre`` path runs against index tables, never data), a
deterministic last-wins dedup over the cell key, then
``seed ⋈inner restrictive* ⋈left other*`` on the shared dimension +
partition columns, a residual ``where`` of the full condition DNF, and a
final projection. Catalyst picks broadcast vs sort-merge per join and AQE
re-plans at runtime — none of the reference's hand-rolled partition
alignment is needed.

Determinism note (survey §7.4): the reference's "last" is commit order,
then file order of sorted partition labels, then row position. We
reproduce it with (manifest partition ordinal, ``_metadata.row_index``)
in a window — never the nondeterministic ``last()`` aggregate, and never
file paths (their uuids carry no write-order information).
"""

from __future__ import annotations

import os
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kartothek_spark.core.cube import Cube
from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.core.predicates import (
    Predicates,
    check_predicates,
    columns_in_predicates,
    filter_predicates_by_column,
    predicates_to_column,
)
from kartothek_spark.core.urlencode import decode_file_uri_column
from kartothek_spark.cube.build import discover_datasets, get_cube_payload
from kartothek_spark.dataset.read import (
    _binary_partition_keys,
    _retyped_col,
    _scan_files,
    _translate_binary_predicates,
    dispatch_labels,
)


def _read_with_lineage(
    spark: SparkSession,
    manifest: DatasetManifest,
    predicates: Predicates | None,
    columns: Sequence[str],
) -> DataFrame | None:
    """Pruned read that keeps (commit ordinal, row_index) lineage for the
    deterministic last-wins dedup. The ordinal is the partition's position
    in the manifest — manifests preserve insertion order across commits, so
    a later append ALWAYS outranks earlier data (file paths embed random
    uuids and carry no write-order information). Returns None when pruning
    removes every file."""
    labels = dispatch_labels(spark, manifest, predicates)
    if not labels:
        return None
    wanted = set(labels)
    ordinals = [
        (os.path.abspath(manifest.file_path(lbl)), i)
        for i, lbl in enumerate(manifest.partitions)
        if lbl in wanted
    ]
    ord_df = spark.createDataFrame(ordinals, "__ktk_path string, __ktk_ord long")
    # the manifest-schema scan read_table uses: no footer inference job
    df = _scan_files(spark, manifest, [path for path, _i in ordinals])
    binkeys = _binary_partition_keys(manifest)
    if predicates is not None:
        df = df.where(
            predicates_to_column(_translate_binary_predicates(predicates, binkeys))
        )
    by_name = {f.name: f.dataType for f in manifest.schema.fields}
    df = df.select(
        *[_retyped_col(c, by_name[c], binkeys) for c in columns],
        decode_file_uri_column(F.col("_metadata.file_path")).alias("__ktk_path"),
        F.col("_metadata.row_index").alias("__ktk_row"),
    )
    return df.join(F.broadcast(ord_df), "__ktk_path").drop("__ktk_path")


def _dedup_last_wins(df: DataFrame, cell_cols: Sequence[str]) -> DataFrame:
    """Keep the last-written row per cell (reference A9): later commit
    (manifest ordinal) wins, then later row within the file."""
    w = Window.partitionBy(*cell_cols).orderBy(F.desc("__ktk_ord"), F.desc("__ktk_row"))
    return (
        df.withColumn("__ktk_rn", F.row_number().over(w))
        .where(F.col("__ktk_rn") == 1)
        .drop("__ktk_rn", "__ktk_ord", "__ktk_row")
    )


def query_cube(
    spark: SparkSession,
    cube: Cube,
    root: str,
    conditions: Predicates | None = None,
    payload_columns: Sequence[str] | None = None,
    datasets: Sequence[str] | None = None,
    partition_by: Sequence[str] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Query the cube as ONE DataFrame.

    * ``conditions`` — DNF predicates over any cube column; evaluated
      against indices/partitions for pruning per member dataset (relaxed,
      per-dataset projection of each conjunction — always a superset) and
      re-applied in full after the joins (exact).
    * ``payload_columns`` — payload to return (default: everything).
    * ``partition_by`` — repartition the result on these columns (the
      reference's per-group output, without materializing N frames).
    * datasets classification: non-seed members with conditions on their
      payload are *restrictive* → INNER join (they shrink the cell set);
      everything else joins LEFT (reference query/__init__.py:101-138).
    """
    check_predicates(conditions)
    members = discover_datasets(cube, root)
    if datasets is not None:
        missing = set(datasets) - set(members)
        if missing:
            raise ValueError(f"unknown cube datasets {sorted(missing)}")
        if cube.seed_dataset not in datasets:
            raise ValueError("seed dataset cannot be excluded")
        members = {n: members[n] for n in datasets}

    cond_cols = columns_in_predicates(conditions)
    all_cols = {n: [f.name for f in m.schema.fields] for n, m in members.items()}
    known = set().union(*all_cols.values())
    unknown = cond_cols - known
    if unknown:
        raise ValueError(f"condition columns not in cube: {sorted(unknown)}")

    # intention: requested output payload (projection legality: must exist)
    if payload_columns is not None:
        unknown = set(payload_columns) - known
        if unknown:
            raise ValueError(f"payload columns not in cube: {sorted(unknown)}")

    def payload_of(name: str) -> set[str]:
        return get_cube_payload(all_cols[name], cube)

    restrictive = {
        n for n in members
        if n != cube.seed_dataset and (payload_of(n) & cond_cols)
    }

    # dataset pruning: skip members contributing neither payload nor restriction
    wanted_payload = set(payload_columns) if payload_columns is not None else known - set(
        cube.dimension_columns
    ) - set(cube.partition_columns)
    selected = {cube.seed_dataset} | restrictive | {
        n for n in members if payload_of(n) & wanted_payload
    }
    members = {n: m for n, m in members.items() if n in selected}

    frames: dict[str, DataFrame] = {}
    join_cols: dict[str, list[str]] = {}
    for name, manifest in members.items():
        cols = all_cols[name]
        cell = [c for c in (*cube.dimension_columns, *cube.partition_columns) if c in cols]
        need = list(dict.fromkeys(
            cell
            + [c for c in cols if c in wanted_payload]
            + [c for c in cols if c in cond_cols]
        ))
        preds = filter_predicates_by_column(conditions, cols)
        df = _read_with_lineage(spark, manifest, preds, need)
        if df is None:
            from kartothek_spark.dataset.read import empty_dataframe

            df = empty_dataframe(spark, manifest, need)
        elif dedup:
            df = _dedup_last_wins(df, cell)
        else:
            df = df.drop("__ktk_ord", "__ktk_row")
        frames[name] = df
        join_cols[name] = cell

    result = frames[cube.seed_dataset]
    seed_cell = set(join_cols[cube.seed_dataset])
    # restrictive first (inner shrinks early), then left enrichments
    order = sorted(restrictive) + sorted(set(frames) - restrictive - {cube.seed_dataset})
    for name in order:
        shared = [c for c in join_cols[name] if c in seed_cell]
        how = "inner" if name in restrictive else "left"
        result = result.join(frames[name], on=shared, how=how)

    if conditions is not None:
        result = result.where(predicates_to_column(conditions))

    out_cols = [c for c in (*cube.dimension_columns, *cube.partition_columns)]
    out_cols += sorted(wanted_payload & set().union(*(set(c) for c in (frames[n].columns for n in frames))))
    out_cols = [c for c in dict.fromkeys(out_cols) if any(c in frames[n].columns for n in frames)]
    result = result.select(*out_cols)

    if partition_by:
        result = result.repartition(*[F.col(c) for c in partition_by]).sortWithinPartitions(
            *cube.dimension_columns
        )
    return result


__all__ = ["query_cube"]
