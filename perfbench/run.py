"""Lake benchmark: one seeded, closed-loop workload per invocation.

    python3 perfbench/run.py --workload lake_read --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. A run executes a fixed number of blocks
of ops per workload, so its work does not depend on the program's speed;
``--seconds`` is accepted for the command-line interface and not used.
``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the package's layer functions in span recorders,
reads Spark's status API per operation and prints the per-layer metrics. The
last line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. Everything the run writes goes to
``.perfbench_work/`` in the checkout and is removed at exit; a traced run
also leaves its spans in ``.perfbench_spans/<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Two Spark task threads leave the rest of a 4-CPU host to the Python
# driver, the JIT and the GC, which keeps run-to-run noise down; the data
# is too small for more threads to pay off.
CPUS = max(1, min(2, len(os.sched_getaffinity(0))))
DRIVER_MEMORY = "1g"
# A fixed heap and young generation: G1 otherwise sizes both from measured
# pause times, so the JVM's peak RSS varied by a sixth from run to run. With
# them, the old generation's growth (live data) is what moves it.
YOUNG_GEN = "256m"


def workloads():
    """Workload name -> (the parts whose op kinds it mixes, the percentile
    ``op_tail_s`` reports, the number of blocks a run executes). A single
    op's latency varies by a quarter from run to run here, so each tail
    percentile lands among several ops of similar cost: the four
    200k-manifest ``in``/range plans of ``lake_read``'s 20 ops, and the
    two deletes, two upserts and maintenance of ``lake_write``'s 17. The block counts
    are fixed, so a faster program is measured on the same ops."""
    from w_corpus import CorpusPart
    from w_manifest import ManifestPart
    from w_read import ReadPart
    from w_write import WritePart

    return {
        "lake_read": ((ReadPart, ManifestPart), 95, 2),
        "lake_write": ((WritePart, CorpusPart), 80, 1),
    }


def configure(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote("spark.sql.warehouse.dir=" + os.path.join(work, "warehouse")),
        "--driver-java-options", shlex.quote(
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}"),
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = tmp


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="not used: a run is a fixed number of blocks of ops")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import kartothek_spark  # noqa: F401  (fails fast outside a checkout)
    from loop import Bench

    table = workloads()
    if args.workload not in table:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(table)}")
    # fixed-width pid: paths recorded in manifests (stream stamps) keep one length
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid():07d}")
    configure(work)
    bench = None
    try:
        classes, tail_pct, blocks = table[args.workload]
        parts = [cls(args.seed, work) for cls in classes]
        bench = Bench(parts, args.seed, blocks, bool(args.trace), work, tail_pct=tail_pct)
        out = bench.run()
        if args.trace:
            spans_dir = os.path.join(ROOT, ".perfbench_spans")
            os.makedirs(spans_dir, exist_ok=True)
            bench.rec.dump(os.path.join(spans_dir, f"{args.workload}-{args.seed}.jsonl"))
    finally:
        if bench is not None:
            bench.stop_session()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(os.path.dirname(work)):
            os.rmdir(os.path.dirname(work))
    print(f"session {out['session_s']:.2f}s, fixtures "
          + " ".join(f"{t:.2f}" for t in out["fixture_times"]) + f"s, warm-up {out['warm_s']:.2f}"
          + f"s, {out['attempted']} ops: "
          + " ".join(f"{r['kind']}={r['latency']:.3f}" for r in out["records"]), file=sys.stderr)
    for r in out["records"]:
        if not (r["ok"] and r["correct"]):
            print(f"op {r['i']} {r['kind']} failed: {r['err'] or 'wrong answer'}", file=sys.stderr)
    result = {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out["metrics"].items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
