"""Self-tests of the lake benchmark.

    python3 -m pytest perfbench/tests -q

* Two traced runs at the same seed give identical counts: labels kept, the
  useful-file ratio, files and bytes written, manifest bytes per commit and
  Spark jobs per op. Each run is one block of ops in its own process.
* ``upsert_dataset`` on a dataset with hidden partition transforms fails
  today (strict xfail): its column check asks the caller's frame for the
  derived partition column, which only the engine computes. The test flips
  to a failure when that is fixed, so the expectation gets updated then.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)

# per-op record fields and per-layer metrics that must repeat exactly
OP_COUNTS = ("kind", "jobs", "index_jobs", "files_written", "bytes_written", "new_pairs")
METRIC_COUNTS = (
    "plan.labels_kept", "plan.labels_total", "plan.useful_file_ratio", "plan.meta_labels_kept",
    "scan.files", "manifest.bytes_per_commit", "manifest.conflict_retries",
    "write.files_written", "write.bytes_written", "index.query_jobs", "cube.datasets_joined",
    "ops.new_pairs", "spark.jobs",
)


def test_benchmark_json_matches_the_runner():
    sys.path.insert(0, BENCH)
    import re

    import loop
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        doc = json.load(fh)
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in doc["workloads"]] == list(run.workloads())
    assert {m["name"]: m["unit"] for m in doc["end_to_end"]} == loop.END_TO_END
    assert {m["name"]: m["unit"] for m in doc["per_layer"]} == loop.PER_LAYER
    bounds = {m["name"]: m["bound"] for m in doc["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) and max(bounds.values()) <= 0.25
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}", m["name"]), m
        assert re.fullmatch(r"[A-Za-z0-9_/%.\-]{1,16}", m["unit"]), m
        assert m["better"] in ("higher", "lower")
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in doc["workloads"])


def _one_block(workload: str, seed: int) -> dict:
    """Run one traced block of ``workload`` in a fresh process; return counts."""
    proc = subprocess.run([sys.executable, __file__, workload, str(seed)], cwd=ROOT,
                          capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["lake_read", "lake_write"])
def test_counts_repeat_at_same_seed(workload):
    a = _one_block(workload, 7)
    b = _one_block(workload, 7)
    assert a["failed"] == 0 and b["failed"] == 0
    assert a["ops"] == b["ops"]
    assert a["metrics"] == b["metrics"]


@pytest.mark.xfail(strict=True, raises=ValueError,
                   reason="upsert asks the caller's frame for the hidden derived partition column")
def test_upsert_with_partition_transforms(tmp_path):
    sys.path.insert(0, ROOT)
    import datetime as dt

    import kartothek_spark as ks
    from kartothek_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    spark = get_spark("perfbench_tests", shuffle_partitions=2)
    root = str(tmp_path)
    rows = [(k, "F" if k % 2 else "O", dt.date(1995, 1 + k % 12, 1), float(k)) for k in range(1, 41)]
    cols = ["o_orderkey", "o_orderstatus", "o_orderdate", "o_totalprice"]
    ks.store_dataframe_as_dataset(
        spark, spark.createDataFrame(rows, cols), root, "orders",
        partition_on=["o_orderstatus"], partition_transforms=[("om", "month", "o_orderdate")],
    )
    changed = [(k, "F" if k % 2 else "O", dt.date(1995, 1 + k % 12, 1), -1.0) for k in (1, 2)]
    ks.upsert_dataset(spark, spark.createDataFrame(changed, cols), root, "orders",
                      merge_keys=["o_orderkey"])
    out = ks.read_table(spark, root, "orders").orderBy("o_orderkey").collect()
    assert len(out) == 40
    assert [r.o_totalprice for r in out[:3]] == [-1.0, -1.0, 3.0]


def _block_counts(workload: str, seed: int) -> dict:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH)
    import shutil

    import run
    from loop import Bench

    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{workload}-{seed}-{os.getpid():07d}")
    run.configure(work)
    classes, _tail, _blocks = run.workloads()[workload]
    bench = Bench([cls(seed, work) for cls in classes], seed, 1, True, work)
    try:
        out = bench.run()
    finally:
        bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
    ops = [{k: r.get(k, r.get("spark", {}).get(k)) for k in OP_COUNTS} for r in out["records"]]
    metrics = {k: out["metrics"][k][0] for k in METRIC_COUNTS}
    return {"failed": out["failed"], "ops": ops, "metrics": metrics}


if __name__ == "__main__":
    print(json.dumps(_block_counts(sys.argv[1], int(sys.argv[2]))))
