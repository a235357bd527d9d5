"""Closed-loop runner shared by the workloads.

One client sends an operation, waits for its answer, then sends the next. A
workload is a list of parts (``w_*.py``); each part owns some op kinds and
their fixtures. A run is:

1. start the Spark session through the package's ``get_spark``;
2. build every part's fixtures ``SETUP_REPS`` times into fresh roots (the
   last build is kept), then warm up once through each part's ``warm``;
3. run a fixed number of blocks of ops. A block holds a fixed count of every
   kind in seeded order, so every run does the same work whatever its speed;
4. read the peak RSS, check every answer outside the timed region, then
   report.

A part provides ``KINDS``, ``fixture(bench, root) -> state``, ``warm(state)``,
``block(rng) -> [spec]``, ``prepare(state, spec)`` (untimed staging),
``run(state, spec) -> answer`` (timed), ``before``/``after`` (untimed,
traced runs only), ``check(state, records)``, ``storage(state) -> (stored
bytes, input bytes)``, ``layer(state, records, spans) -> metrics``,
``stream_groups(state)`` and ``discard(state)``.
"""

from __future__ import annotations

import collections
import os
import random
import resource
import shutil
import statistics
import time

import sparkstats
from spans import Recorder, install, self_times, span_cost_us

SETUP_REPS = 3

# name -> unit. Every run prints all of one list; a layer a workload does
# not exercise reads 0.
END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "ops_per_s": "op/s",
    "ok_ratio": "ratio", "peak_rss_mb": "MB", "stored_bytes_per_input_byte": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "manifest.load_s": "s", "manifest.commit_s": "s", "manifest.bytes_per_commit": "B",
    "manifest.conflict_retries": "count",
    "plan.dispatch_s": "s", "plan.dispatch_s.eq": "s", "plan.dispatch_s.in": "s",
    "plan.dispatch_s.range": "s", "plan.dispatch_s.or": "s",
    "plan.labels_kept": "count", "plan.labels_total": "count", "plan.useful_file_ratio": "ratio",
    "plan.meta_labels_kept": "count", "plan.meta_labels_total": "count",
    "index.query_s": "s", "index.query_jobs": "count", "index.update_s": "s",
    "index.bytes_written": "B",
    "scan.build_s": "s", "scan.action_s": "s", "scan.files": "count",
    "cube.plan_s": "s", "cube.action_s": "s", "cube.datasets_joined": "count",
    "write.update_s": "s", "write.files_written": "count", "write.bytes_written": "B",
    "write.files_per_partition": "ratio", "write.compact_s": "s", "write.gc_s": "s",
    "write.gc_files_deleted": "count",
    "dml.delete_rows_s": "s", "dml.upsert_s": "s", "dml.rewrite_bytes_per_changed_row": "B/row",
    "ops.minhash_sync_s": "s", "ops.text_sync_s": "s", "ops.search_s": "s", "ops.new_pairs": "count",
    "stream.batch_s": "s", "stream.batches": "count", "stream.drain_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_floor_s": "s", "spark.exec_run_s": "s", "spark.exec_cpu_s": "s",
    "spark.input_bytes": "B", "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.jvm_gc_s": "s", "spark.driver_s": "s",
    "self.client_s": "s", "self.action_s": "s", "self.stream_s": "s", "self.manifest_s": "s",
    "self.plan_s": "s", "self.index_s": "s", "self.scan_s": "s", "self.cube_s": "s",
    "self.write_s": "s", "self.dml_s": "s", "self.ops_s": "s",
    "trace.overhead_ratio": "ratio", "trace.overhead_pairs": "count",
    "trace.spans_per_op": "count", "trace.span_cost_us": "us",
    "setup.fixture_s": "s", "setup.warm_s": "s",
    "read_point_p50_s": "s", "read_wide_p50_s": "s", "read_range_p50_s": "s",
    "read_or_p50_s": "s", "cube_query_p50_s": "s", "plan_p50_s": "s", "commit_p50_s": "s",
    "append_p50_s": "s", "mutate_p50_s": "s", "ingest_p50_s": "s",
    "rows_per_s": "rows/s",
}
LAYERS = ("client", "action", "stream", "manifest", "plan", "index", "scan", "cube",
          "write", "dml", "ops")


def pct(values, p: float) -> float:
    """Linear-interpolated percentile, ``p`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def med(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def kind_p50(records, kinds) -> float:
    return med(r["latency"] for r in records if r["kind"] in kinds)


def pick_traced(kinds: list[str]) -> list[bool]:
    """Which ops of a traced run record spans, given the kind of every op.

    The ops of one kind form consecutive pairs, one traced and one untraced;
    the traced one goes first in pair ``k`` of the ``j``-th kind when
    ``j + k`` is even, so neither side always runs in the colder JVM. An
    unpaired op (the only or the last of its kind) is traced, so every kind
    leaves spans.
    """
    count = collections.Counter(kinds)
    order = {k: j for j, k in enumerate(sorted(count))}
    seen: dict[str, int] = {}
    out = []
    for kind in kinds:
        n = seen[kind] = seen.get(kind, -1) + 1
        pair, pos = divmod(n, 2)
        if 2 * pair + 1 >= count[kind]:
            out.append(True)
        else:
            out.append(pos == (order[kind] + pair) % 2)
    return out


def overhead_pairs(records) -> list[float]:
    """Traced over untraced latency, minus 1, for every pair of
    ``pick_traced``."""
    by_kind: dict[str, list] = {}
    for r in records:
        by_kind.setdefault(r["kind"], []).append(r)
    out = []
    for ops in by_kind.values():
        for a, b in zip(ops[0::2], ops[1::2]):
            if a["traced"] != b["traced"]:
                on, off = (a, b) if a["traced"] else (b, a)
                out.append(on["latency"] / off["latency"] - 1.0)
    return out


class Bench:
    def __init__(self, parts, seed: int, blocks: int, trace: bool, work: str,
                 tail_pct: float = 95):
        self.parts = parts
        self.tail_pct = tail_pct
        self.seed = seed
        self.blocks = blocks
        self.trace = trace
        self.work = work
        self.rec = Recorder()
        self.spark = None
        self.stats = None
        self.group = None
        self.states: list = []

    # -- session -------------------------------------------------------------
    def start_session(self) -> float:
        from kartothek_spark.session import get_spark

        if self.trace:
            install(self.rec)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", shuffle_partitions=int(os.environ["SPARK_GRAFT_CPUS"]))
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.stats = sparkstats.SparkStats(self.spark)
            self.rec.on_enter = self._enter_span
            self.rec.on_exit = self._exit_span
        return dt

    def stop_session(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        for part, state in zip(self.parts, self.states):
            if state is not None:
                part.discard(state)
        self.states = []
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(60)

    def jvm_peak_rss_kb(self) -> int:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is None:
            return 0
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    def set_group(self, group: str, desc: str) -> None:
        self.spark.sparkContext.setJobGroup(group, desc)

    # index lookups get their own job group, so their jobs can be counted
    def _enter_span(self, span) -> None:
        if span.name == "query_index_labels" and self.group:
            self.set_group(self.group + ".index", "index")

    def _exit_span(self, span) -> None:
        if span.name == "query_index_labels" and self.group:
            self.set_group(self.group, "op")

    # -- run -----------------------------------------------------------------
    def run(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        session_s = self.start_session()
        fixture_times = []
        for r in range(SETUP_REPS):
            root = os.path.join(self.work, f"setup{r}")
            self.set_group(f"setup{r}", "setup")
            t0 = time.perf_counter()
            self.states = [p.fixture(self, os.path.join(root, p.NAME)) for p in self.parts]
            fixture_times.append(time.perf_counter() - t0)
            if r < SETUP_REPS - 1:
                for p, s in zip(self.parts, self.states):
                    p.discard(s)
                self.states = []
                shutil.rmtree(root, ignore_errors=True)
        t0 = time.perf_counter()
        for p, s in zip(self.parts, self.states):
            p.warm(s)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + med(fixture_times) + warm_s
        floor = sparkstats.job_floor_s(self.spark) if self.trace else 0.0
        cost_us = span_cost_us() if self.trace else 0.0
        if self.trace:  # streaming jobs of the warm-up belong to no op
            self.stats.drain()
            self.stats.jobs_for(g for p, s in zip(self.parts, self.states)
                                for g in p.stream_groups(s))

        records = self._loop()
        # before the checks, so their memory does not count
        rss_mb = (resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
                  + self.jvm_peak_rss_kb()) / 1024.0
        self.set_group("check", "check")
        for idx, (p, s) in enumerate(zip(self.parts, self.states)):
            p.check(s, [r for r in records if r["part"] == idx])
        good = [r for r in records if r["ok"] and r.get("correct")]
        failed = len(records) - len(good)
        stored, inputs = map(sum, zip(*(p.storage(s) for p, s in zip(self.parts, self.states))))
        if self.trace:
            metrics = self._layer_metrics(records, session_s, floor, cost_us)
            metrics["setup.fixture_s"] = med(fixture_times)
            metrics["setup.warm_s"] = warm_s
            extra = set(metrics) - set(PER_LAYER)
            if extra:
                raise KeyError(f"metrics missing from PER_LAYER: {sorted(extra)}")
            metrics = {k: (metrics.get(k, 0.0), u) for k, u in PER_LAYER.items()}
        else:
            lat = [r["latency"] for r in records]
            busy = sum(lat)
            values = {
                "setup_s": setup_s,
                "op_p50_s": med(lat),
                "op_tail_s": pct(lat, self.tail_pct),
                # completed ops per second of op time; untimed staging excluded
                "ops_per_s": len(good) / busy if busy else 0.0,
                "ok_ratio": (len(records) - failed) / max(1, len(records)),
                "peak_rss_mb": rss_mb,
                "stored_bytes_per_input_byte": stored / inputs,
            }
            metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
        return {"records": records, "session_s": session_s, "fixture_times": fixture_times,
                "warm_s": warm_s, "attempted": len(records), "failed": failed,
                "metrics": metrics}

    def _block(self, rng) -> list[dict]:
        block = []
        for idx, p in enumerate(self.parts):
            for spec in p.block(rng):
                spec["part"] = idx
                block.append(spec)
        rng.shuffle(block)
        # periodic work (maintenance) closes the block: "every k ops"
        block.sort(key=lambda spec: spec.get("last", False))
        return block

    def _loop(self) -> list[dict]:
        rng = random.Random(self.seed * 7919 + 17)
        specs = [spec for _ in range(self.blocks) for spec in self._block(rng)]
        # a traced run leaves about half the ops untraced for the tracing overhead
        traced = pick_traced([s["kind"] for s in specs])
        return [self._one(spec, i, self.trace and on)
                for i, (spec, on) in enumerate(zip(specs, traced))]

    def _one(self, spec: dict, i: int, traced: bool) -> dict:
        rec = self.rec
        part, state = self.parts[spec["part"]], self.states[spec["part"]]
        part.prepare(state, spec)
        pre = part.before(state, spec) if self.trace else None
        self.group = f"op{i}"
        self.set_group(self.group, spec["kind"])
        rec.op = i
        rec.enabled = traced
        rec.root = rec.open("op", "client")
        err = None
        t0 = time.perf_counter()
        try:
            answer = part.run(state, spec)
            ok = True
        except Exception as exc:  # a failed op is counted, not fatal
            answer, ok, err = None, False, f"{type(exc).__name__}: {exc}"
        t1 = time.perf_counter()
        rec.close(rec.root)
        rec.root = None
        rec.enabled = False
        self.set_group("bench", "bench")
        r = {"i": i, "part": spec["part"], "kind": spec["kind"], "spec": spec, "answer": answer,
             "ok": ok, "err": err, "start": t0, "end": t1, "latency": t1 - t0, "traced": traced}
        if self.trace:
            self.stats.drain()
            groups = [f"op{i}", f"op{i}.index"]
            for p, s in zip(self.parts, self.states):
                groups += p.stream_groups(s)
            r["spark"] = self.stats.counters(self.stats.jobs_for(groups))
            r["index_jobs"] = len(self.stats.tracker.getJobIdsForGroup(f"op{i}.index"))
            r.update(part.after(state, spec, pre) or {})
        return r

    # -- per-layer metrics ---------------------------------------------------
    def _layer_metrics(self, records, session_s, floor, cost_us) -> dict:
        spans = self.rec.spans
        st = self_times(spans)
        traced_ops = {r["i"] for r in records if r["traced"]}
        by_op: dict[int, list] = {}
        for s in spans:
            by_op.setdefault(s.op, []).append(s)

        def durs(name, kinds=None):
            return [s.end - s.start for s in spans
                    if s.name == name and s.end is not None
                    and (kinds is None or records[s.op]["kind"] in kinds)]

        def kept(name):
            return [s.keep for s in spans if s.name == name and s.keep is not None]

        sp = [r["spark"] for r in records]
        m = {"session.start_s": session_s}
        for key in ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "input_bytes",
                    "shuffle_write_bytes", "shuffle_read_bytes", "jvm_gc_s"):
            m[f"spark.{key}"] = mean(c[key] for c in sp)
        m["spark.job_floor_s"] = mean(c["jobs"] for c in sp) * floor
        m["spark.driver_s"] = mean(max(0.0, r["latency"] - r["spark"]["job_wall_s"])
                                   for r in records)
        m["manifest.load_s"] = med(durs("DatasetManifest.load"))
        m["manifest.commit_s"] = med(durs("DatasetManifest.commit"))
        m["manifest.bytes_per_commit"] = mean(kept("DatasetManifest.commit"))
        m["manifest.conflict_retries"] = sum(
            1 for s in spans if s.name == "DatasetManifest.commit" and not s.ok)
        m["index.query_s"] = med(durs("query_index_labels"))
        m["index.query_jobs"] = mean(r["index_jobs"] for r in records if r["traced"])
        m["index.update_s"] = med(durs("update_index") + durs("build_index"))
        m["index.bytes_written"] = mean(kept("update_index") + kept("build_index"))
        m["cube.plan_s"] = med(durs("query_cube"))
        m["write.update_s"] = med(durs("update_dataset", {"append"}))
        m["write.compact_s"] = med(durs("compact_dataset"))
        m["write.gc_s"] = med(durs("garbage_collect_dataset"))
        m["write.gc_files_deleted"] = mean(kept("garbage_collect_dataset"))
        m["dml.delete_rows_s"] = med(durs("delete_rows"))
        m["dml.upsert_s"] = med(durs("upsert_dataset"))
        m["ops.minhash_sync_s"] = med(durs("sync_minhash_index"))
        m["ops.text_sync_s"] = med(durs("sync_text_index"))
        # self time per layer, summed per traced op, averaged over traced ops
        for layer in LAYERS:
            m[f"self.{layer}_s"] = mean(
                sum(st.get(s.sid, 0.0) for s in by_op.get(i, ()) if s.layer == layer)
                for i in traced_ops)
        ratios = overhead_pairs(records)
        m["trace.overhead_ratio"] = med(ratios)
        m["trace.overhead_pairs"] = len(ratios)
        m["trace.spans_per_op"] = len(spans) / max(1, len(traced_ops))
        m["trace.span_cost_us"] = cost_us
        rows_in = 0  # input rows committed, summed over the parts
        for p, s in zip(self.parts, self.states):
            for k, v in p.layer(s, records, spans).items():
                if k == "_rows_in":
                    rows_in += v
                else:
                    m[k] = v
        busy = sum(r["latency"] for r in records)
        m["rows_per_s"] = rows_in / busy if busy else 0.0
        return m
