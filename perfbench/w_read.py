"""Pruned reads against a hive-partitioned, indexed ``lineitem`` and a
two-dataset ``orders`` cube.

``lineitem`` is partitioned on ``l_returnflag`` plus a hidden
``month(l_shipdate)`` transform, with secondary indices on ``l_orderkey``
and ``l_suppkey``. Five op kinds, each returning an aggregate collected to
the driver: a selective index lookup (``in``), an index lookup that barely
prunes (``==`` on a supplier present in most months), a month-range scan,
a two-conjunction OR, and a ``query_cube`` with an index condition. The
planner, the indices and the scan do nearly all the work; the mix separates
pruning gains from scan gains. Answers are checked against DuckDB over the
raw input parquet.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow.parquet as pq

import datagen
import oracle
from loop import kind_p50, mean, med
from spans import du

N_LINEITEM = 24_000
N_LI_ORDERS = 6_000
MONTHS = 12
N_SUPP = 100
N_ORDERS = 5_000
N_CUST = 500
CUBE_UUID = "orders"


def _month_start(m: int) -> dt.date:
    y, mo = divmod(datagen.EPOCH.month - 1 + m, 12)
    return dt.date(datagen.EPOCH.year + y, mo + 1, 1)


class ReadPart:
    NAME = "read"
    KINDS = ("point", "wide", "range", "or", "cube")

    def __init__(self, seed: int, work: str):
        rng = np.random.default_rng(datagen.DATA_SEED)
        self.seed = seed
        self.input = os.path.join(work, "input", self.NAME)
        os.makedirs(self.input, exist_ok=True)
        self.li_path = os.path.join(self.input, "lineitem.parquet")
        pq.write_table(datagen.lineitem(rng, N_LINEITEM, N_LI_ORDERS, MONTHS, N_SUPP), self.li_path)
        orders = datagen.orders(rng, 1, N_ORDERS, N_CUST)
        self.seed_path = os.path.join(self.input, "orders_seed.parquet")
        self.enrich_path = os.path.join(self.input, "orders_enrich.parquet")
        pq.write_table(orders.select(["o_orderkey", "o_orderstatus", "o_custkey", "o_orderdate"]),
                       self.seed_path)
        pq.write_table(orders.select(["o_orderkey", "o_orderstatus", "o_totalprice",
                                      "o_orderpriority"]), self.enrich_path)

    # -- fixture -------------------------------------------------------------
    def fixture(self, bench, root: str) -> dict:
        import kartothek_spark as ks
        from kartothek_spark.core.cube import Cube
        from kartothek_spark.cube.build import build_cube

        spark = bench.spark
        ks.store_dataframe_as_dataset(
            spark, spark.read.parquet(self.li_path), root, "lineitem",
            partition_on=["l_returnflag"],
            partition_transforms=[("sm", "month", "l_shipdate")],
            secondary_indices=["l_orderkey", "l_suppkey"],
        )
        cube = Cube(dimension_columns=("o_orderkey",), partition_columns=("o_orderstatus",),
                    uuid_prefix=CUBE_UUID, index_columns={"o_custkey"})
        build_cube(spark, {"seed": spark.read.parquet(self.seed_path),
                           "prices": spark.read.parquet(self.enrich_path)}, cube, root)
        return {"spark": spark, "root": root, "cube": cube, "rec": bench.rec}

    def warm(self, state) -> None:
        rng = random.Random(self.seed + 1)
        for kind in self.KINDS:
            self.run(state, self.make(kind, rng))

    def discard(self, state) -> None:
        pass

    def stream_groups(self, state) -> list[str]:
        return []

    # -- ops -----------------------------------------------------------------
    def make(self, kind: str, rng) -> dict:
        if kind == "point":
            preds = [[("l_orderkey", "in", sorted(rng.sample(range(1, N_LI_ORDERS + 1), 5)))]]
        elif kind == "wide":
            preds = [[("l_suppkey", "==", rng.randint(1, N_SUPP))]]
        elif kind == "range":
            m = rng.randint(0, MONTHS - 3)
            preds = [[("l_shipdate", ">=", _month_start(m)), ("l_shipdate", "<", _month_start(m + 2))]]
        elif kind == "or":
            m = rng.randint(0, MONTHS - 2)
            preds = [
                [("l_returnflag", "==", rng.choice("ANR")),
                 ("l_shipdate", ">=", _month_start(m)), ("l_shipdate", "<", _month_start(m + 1))],
                [("l_suppkey", "==", rng.randint(1, N_SUPP)), ("l_quantity", "<", 10)],
            ]
        else:
            preds = [[("o_custkey", "in", sorted(rng.sample(range(1, N_CUST + 1), 8)))]]
        return {"kind": kind, "preds": preds}

    def block(self, rng) -> list[dict]:
        return [self.make(k, rng) for k in self.KINDS]

    def prepare(self, state, spec) -> None:
        pass

    def before(self, state, spec):
        return None

    def after(self, state, spec, pre):
        return None

    def run(self, state, spec):
        import kartothek_spark as ks
        from kartothek_spark.cube.query import query_cube
        from pyspark.sql import functions as F

        spark = state["spark"]
        if spec["kind"] == "cube":
            df = query_cube(spark, state["cube"], state["root"], conditions=spec["preds"],
                            payload_columns=["o_totalprice", "o_orderpriority"])
            agg = [F.count(F.lit(1)), F.sum("o_totalprice")]
        else:
            df = ks.read_table(spark, state["root"], "lineitem", predicates=spec["preds"],
                               columns=["l_quantity", "l_extendedprice"])
            agg = [F.count(F.lit(1)), F.sum("l_quantity"), F.sum("l_extendedprice")]
        with state["rec"].span("action", "action"):
            row = df.agg(*agg).collect()[0]
        return tuple(row)

    # -- checks --------------------------------------------------------------
    def check(self, state, records) -> None:
        con = oracle.connect()
        for r in records:
            where = oracle.dnf_sql(r["spec"]["preds"])
            if r["kind"] == "cube":
                q = (f"SELECT count(*), sum(e.o_totalprice) FROM '{self.seed_path}' s "
                     f"LEFT JOIN '{self.enrich_path}' e USING (o_orderkey, o_orderstatus) "
                     f"WHERE {where}")
            else:
                q = (f"SELECT count(*), sum(l_quantity), sum(l_extendedprice) "
                     f"FROM '{self.li_path}' WHERE {where}")
            r["correct"] = r["ok"] and oracle.same(con.execute(q).fetchone(), r["answer"])
        con.close()

    def storage(self, state) -> tuple[int, int]:
        return du(state["root"]), du(self.input)

    def layer(self, state, records, spans) -> dict:
        import kartothek_spark as ks

        mine = [r for r in records if r["kind"] in self.KINDS]
        total = len(ks.DatasetManifest.load(state["root"], "lineitem").partitions)
        con = oracle.connect()
        kept, useful, files, dispatch = [], [], [], []
        cube_reads: dict[int, int] = {}
        for s in spans:
            if s.name != "dispatch_labels" or records[s.op]["kind"] not in self.KINDS:
                continue
            if records[s.op]["kind"] == "cube":
                cube_reads[s.op] = cube_reads.get(s.op, 0) + 1
                continue
            dispatch.append(s.end - s.start)
            manifest, labels = s.keep
            kept.append(len(labels))
            paths = manifest.files(labels)
            files.append(len(paths))
            if paths:
                where = oracle.dnf_sql(records[s.op]["spec"]["preds"])
                n_useful = con.execute(
                    f"SELECT count(DISTINCT filename) FROM read_parquet({oracle.files_sql(paths)}, "
                    f"hive_partitioning=true, filename=true) WHERE {where}").fetchone()[0]
                useful.append(n_useful / len(paths))
        con.close()

        def spans_of(name, kinds):
            return [s for s in spans if s.name == name and records[s.op]["kind"] in kinds]

        reads = set(self.KINDS) - {"cube"}
        inner = {s.parent: s.end - s.start for s in spans_of("dispatch_labels", reads)}
        return {
            "read_point_p50_s": kind_p50(mine, {"point"}),
            "read_wide_p50_s": kind_p50(mine, {"wide"}),
            "read_range_p50_s": kind_p50(mine, {"range"}),
            "read_or_p50_s": kind_p50(mine, {"or"}),
            "cube_query_p50_s": kind_p50(mine, {"cube"}),
            "plan.dispatch_s": med(dispatch),
            "plan.labels_kept": mean(kept),
            "plan.labels_total": total,
            "plan.useful_file_ratio": mean(useful),
            "scan.files": mean(files),
            "scan.build_s": med(s.end - s.start - inner.get(s.sid, 0.0)
                                for s in spans_of("read_table", reads)),
            "scan.action_s": med(s.end - s.start for s in spans_of("action", reads)),
            "cube.action_s": med(s.end - s.start for s in spans_of("action", {"cube"})),
            "cube.datasets_joined": mean(cube_reads.values()),
        }
