"""Planning and commits against a metadata-only manifest of 200k partitions.

The partitions are ``p_region`` x ``p_day`` x ``p_bucket`` with no data
files behind them, so the partition list sits on the parquet sidecar path
and ``core.manifest`` is the whole cost. An op is either a
``DatasetManifest.load`` followed by ``dispatch_labels`` with one of four
predicate shapes (``==``, ``in``, a range, an OR of ``==``), or a load that
adds 50 new partition entries and commits. The checks compare each label
set with one computed from the benchmark's own partition list, and require
contiguous versions and the right final entry count.
"""

from __future__ import annotations

import datetime as dt
import random

from loop import kind_p50, mean, med

REGIONS = [f"r{i:02d}" for i in range(20)]
DAYS = 1000
BUCKETS = 10
DAY0 = dt.date(2020, 1, 1)
ADD_REGIONS = 5  # a commit adds ADD_REGIONS x BUCKETS entries of one new day
UUID = "events"
SHAPES = {"meta_eq": "eq", "meta_in": "in", "meta_range": "range", "meta_or": "or"}


def _label(r: str, d: dt.date, b: int, n: int) -> str:
    return f"p_region={r}/p_day={d.isoformat()}/p_bucket={b}/part-{n:07d}"


def _entry(label: str) -> dict:
    return {"file": f"{UUID}/table/{label}.parquet"}


def _initial_rows() -> list[tuple]:
    """The fixture's partitions, numbered in order. Built when needed, so
    the run does not hold 200k rows between the fixture and the checks."""
    return [(r, DAY0 + dt.timedelta(days=d), b)
            for r in REGIONS for d in range(DAYS) for b in range(BUCKETS)]


class ManifestPart:
    NAME = "manifest"
    KINDS = tuple(SHAPES) + ("meta_commit",)

    def __init__(self, seed: int, work: str):
        self.seed = seed

    # -- fixture -------------------------------------------------------------
    def fixture(self, bench, root: str) -> dict:
        from pyspark.sql import types as T

        from kartothek_spark.core.manifest import DatasetManifest

        schema = T.StructType([
            T.StructField("p_region", T.StringType()), T.StructField("p_day", T.DateType()),
            T.StructField("p_bucket", T.IntegerType()), T.StructField("v", T.LongType()),
        ])
        m = DatasetManifest(dataset_uuid=UUID, root=root, schema=schema,
                            partition_keys=["p_region", "p_day", "p_bucket"],
                            partitions={lbl: _entry(lbl) for lbl in (
                                _label(*row, n) for n, row in enumerate(_initial_rows()))})
        n_rows = len(m.partitions)
        m.commit()
        # rows added by commits; check() prepends the initial ones
        return {"spark": bench.spark, "root": root, "added": [], "n_rows": n_rows,
                "versions": [m.version], "next_day": DAYS}

    def warm(self, state) -> None:
        rng = random.Random(self.seed + 2)
        for kind in ("meta_eq", "meta_commit"):
            spec = self.make(kind, rng)
            self.prepare(state, spec)
            self.run(state, spec)

    def discard(self, state) -> None:
        pass

    def stream_groups(self, state) -> list[str]:
        return []

    # -- ops -----------------------------------------------------------------
    def make(self, kind: str, rng) -> dict:
        def day():
            return DAY0 + dt.timedelta(days=rng.randrange(DAYS))

        if kind == "meta_eq":
            preds = [[("p_day", "==", day())]]
        elif kind == "meta_in":
            preds = [[("p_day", "in", sorted({day() for _ in range(5)}))]]
        elif kind == "meta_range":
            lo = day()
            preds = [[("p_day", ">=", lo), ("p_day", "<", lo + dt.timedelta(days=10))]]
        elif kind == "meta_or":
            preds = [[("p_region", "==", rng.choice(REGIONS)),
                      ("p_bucket", "==", rng.randrange(BUCKETS))],
                     [("p_day", "==", day())]]
        else:
            preds = None
        return {"kind": kind, "preds": preds}

    def block(self, rng) -> list[dict]:
        return [self.make(k, rng) for k in self.KINDS]

    def prepare(self, state, spec) -> None:
        if spec["kind"] != "meta_commit":
            return
        d = DAY0 + dt.timedelta(days=state["next_day"])
        state["next_day"] += 1
        spec["new"] = []
        for r in REGIONS[:ADD_REGIONS]:
            for b in range(BUCKETS):
                spec["new"].append(_label(r, d, b, state["n_rows"]))
                state["added"].append((r, d, b))
                state["n_rows"] += 1

    def before(self, state, spec):
        return None

    def after(self, state, spec, pre):
        return None

    def run(self, state, spec):
        from kartothek_spark.core.manifest import DatasetManifest
        from kartothek_spark.dataset.read import dispatch_labels

        m = DatasetManifest.load(state["root"], UUID)
        if spec["kind"] != "meta_commit":
            return dispatch_labels(state["spark"], m, spec["preds"])
        for lbl in spec["new"]:
            m.partitions[lbl] = _entry(lbl)
        m.commit()
        state["versions"].append(m.version)
        return m.version

    # -- checks --------------------------------------------------------------
    def check(self, state, records) -> None:
        from kartothek_spark.core.manifest import DatasetManifest

        rows = _initial_rows() + state["added"]
        vs = state["versions"]
        versions_ok = vs == list(range(vs[0], vs[0] + len(vs)))
        count_ok = len(DatasetManifest.load(state["root"], UUID).partitions) == len(rows)
        by_day: dict = {}
        by_rb: dict = {}
        for n, (rg, d, b) in enumerate(rows):
            by_day.setdefault(d, []).append(n)
            by_rb.setdefault((rg, b), []).append(n)
        # a plan op sees the initial entries plus those of every commit before it
        per_commit = ADD_REGIONS * BUCKETS
        n_live = len(rows) - per_commit * sum(1 for r in records if r["kind"] == "meta_commit")
        for r in records:
            if r["kind"] == "meta_commit":
                n_live += per_commit
                r["correct"] = r["ok"] and versions_ok and count_ok
                continue
            hits = set()
            for conj in r["spec"]["preds"]:
                hits |= {n for n in _candidates(conj, by_day, by_rb)
                         if n < n_live and _match(conj, rows[n])}
            want = sorted(_label(*rows[n], n) for n in hits)
            r["correct"] = r["ok"] and count_ok and sorted(r["answer"]) == want

    def storage(self, state) -> tuple[int, int]:
        return 0, 0  # metadata only: no input data to compare with

    def layer(self, state, records, spans) -> dict:
        plans = [r for r in records if r["kind"] in SHAPES]
        out = {
            "plan_p50_s": kind_p50(records, set(SHAPES)),
            "commit_p50_s": kind_p50(records, {"meta_commit"}),
            "plan.meta_labels_kept": mean(len(r["answer"]) for r in plans if r["ok"]),
            "plan.meta_labels_total": state["n_rows"],
        }
        for kind, shape in SHAPES.items():
            out[f"plan.dispatch_s.{shape}"] = med(
                s.end - s.start for s in spans
                if s.name == "dispatch_labels" and records[s.op]["kind"] == kind)
        return out


def _candidates(conj, by_day, by_rb):
    """Row numbers that may satisfy ``conj`` (a superset; ``_match`` decides)."""
    lits = {(c, op): v for c, op, v in conj}
    if ("p_day", "==") in lits:
        return by_day.get(lits[("p_day", "==")], [])
    if ("p_day", "in") in lits:
        return [n for d in lits[("p_day", "in")] for n in by_day.get(d, [])]
    if ("p_day", ">=") in lits:
        lo, hi = lits[("p_day", ">=")], lits[("p_day", "<")]
        return [n for k in range((hi - lo).days) for n in by_day.get(lo + dt.timedelta(days=k), [])]
    return by_rb.get((lits[("p_region", "==")], lits[("p_bucket", "==")]), [])


def _match(conj, row) -> bool:
    vals = dict(zip(("p_region", "p_day", "p_bucket"), row))
    ops = {"==": lambda a, b: a == b, "in": lambda a, b: a in b,
           ">=": lambda a, b: a >= b, "<": lambda a, b: a < b}
    return all(ops[op](vals[c], v) for c, op, v in conj)
