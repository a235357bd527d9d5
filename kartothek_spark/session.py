"""SparkSession factory with engine defaults.

Defaults are tuned so the same code is correct on ``local[32]`` test runs
and on a large cluster: AQE on (runtime re-planning, skew-join handling),
UTC session timezone (oracle parity with DuckDB), Arrow enabled for the
Pandas-UDF operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "kartothek_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # rebalance-write granularity: split hot partition values into
        # ~16 MB tasks (also the AQE coalesce target). At cluster scale
        # raise toward 64-128 MB for fewer, larger files.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps every DataFrame API call to capture the Python
        # call site for error messages: measured ~3 extra py4j round
        # trips per call (+ a stack walk), ~60% of plan-construction
        # latency on multi-join queries (q5: 0.50 s -> 0.20 s to build).
        # Static conf, so it must be set here, not per-query. Costs only
        # call-site info inside error messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # allow shuffled hash join when its size conditions fit (guide
        # §3.1/§9): avoids the sort on both sides of small-to-medium
        # shuffle joins; sort-merge remains the planner's fallback for
        # anything large. Not a local-only tune — same recommendation at
        # cluster scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # planned scans pass the manifest's explicit file list; above this
        # many paths Spark lists them with a distributed job (one task per
        # path) before the plan exists. Listed on the driver instead, a
        # 35-file read builds in 29 ms instead of 325 ms. Kept above any
        # planned scan, so building a read starts no job.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
