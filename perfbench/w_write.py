"""One writer runs a seeded commit sequence against ``orders``.

The dataset is partitioned on ``o_orderstatus`` x ``o_orderpriority`` (the
reference layout) with an index on ``o_custkey`` and ``keep_history``. A
block holds ten ``update_dataset`` appends, one partition replace through
``delete_scope``, two ``delete_rows`` by index predicate, two
``upsert_dataset`` on ``o_orderkey``, in seeded order, and ends with one
maintenance op (``compact_dataset`` -> ``expire_snapshots`` ->
``garbage_collect_dataset``).
``dataset.write``, ``dataset.dml``, index maintenance and commits dominate.

The benchmark replays the same sequence in DuckDB as it stages each op's
input; the check compares the final row count and checksums with a read of
the dataset. A mismatch fails every op of the run, since it cannot tell
which op lost or duplicated rows.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
from loop import kind_p50, med
from spans import du

N_INITIAL = 20_000
APPEND_ROWS = 1_000
REPLACE_ROWS = 500
UPSERT_OLD, UPSERT_NEW = 200, 100
N_CUST = 2_000
UUID = "orders"
CHECKSUM = ("SELECT count(*), sum(o_orderkey), sum(o_custkey), "
            "sum(CAST(round(o_totalprice * 100) AS BIGINT)) FROM {}")


class WritePart:
    NAME = "write"
    KINDS = ("append", "replace", "delete", "upsert", "maintain")
    # appends are most of the ops, so the median op falls inside the appends,
    # not at their edge, and a slow spell on one or two ops does not move it;
    # two deletes and two upserts give op_tail_s five ops of similar cost
    BLOCK = ("append",) * 10 + ("replace", "delete", "delete", "upsert", "upsert", "maintain")
    # replace and maintain run the same code paths as append and the read
    WARM = ("append", "delete", "upsert")

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.input = os.path.join(work, "input", self.NAME)
        os.makedirs(self.input, exist_ok=True)
        self.initial = os.path.join(self.input, "initial.parquet")
        pq.write_table(datagen.orders(np.random.default_rng(datagen.DATA_SEED), 1, N_INITIAL,
                                      N_CUST), self.initial)

    # -- fixture -------------------------------------------------------------
    def fixture(self, bench, root: str) -> dict:
        import kartothek_spark as ks

        spark = bench.spark
        ks.store_dataframe_as_dataset(
            spark, spark.read.parquet(self.initial), root, UUID,
            partition_on=["o_orderstatus", "o_orderpriority"],
            secondary_indices=["o_custkey"], keep_history=True,
        )
        model = oracle.connect()
        model.execute(f"CREATE TABLE m AS SELECT * FROM '{self.initial}'")
        return {"spark": spark, "root": root, "model": model, "staged": 0,
                "next_key": N_INITIAL + 1, "input_bytes": os.path.getsize(self.initial)}

    def warm(self, state) -> None:
        rng = random.Random(self.seed + 3)
        for kind in self.WARM:
            spec = {"kind": kind, "seed": rng.randrange(1 << 30)}
            self.prepare(state, spec)
            self.run(state, spec)

    def discard(self, state) -> None:
        state["model"].close()

    def stream_groups(self, state) -> list[str]:
        return []

    def block(self, rng) -> list[dict]:
        return [{"kind": k, "seed": rng.randrange(1 << 30), "last": k == "maintain"}
                for k in self.BLOCK]

    # -- input staging and the model replay (untimed) -------------------------
    def _stage(self, state, spec, table: pa.Table) -> None:
        state["staged"] += 1
        path = os.path.join(self.input, f"{os.path.basename(os.path.dirname(state['root']))}"
                                        f"_{state['staged']:05d}.parquet")
        pq.write_table(table, path)
        state["input_bytes"] += os.path.getsize(path)
        spec["path"], spec["rows"] = path, table.num_rows
        state["model"].execute(f"INSERT INTO m SELECT * FROM '{path}'")

    def _new_orders(self, state, rng, n, **pin) -> pa.Table:
        t = datagen.orders(rng, state["next_key"], n, N_CUST, **pin)
        state["next_key"] += n
        return t

    def prepare(self, state, spec) -> None:
        kind, model = spec["kind"], state["model"]
        rng = np.random.default_rng(spec["seed"])
        if kind == "append":
            self._stage(state, spec, self._new_orders(state, rng, APPEND_ROWS))
        elif kind == "replace":
            st = str(datagen.STATUSES[rng.integers(0, 3)])
            pr = str(datagen.PRIORITIES[rng.integers(0, 5)])
            spec["scope"] = {"o_orderstatus": st, "o_orderpriority": pr}
            model.execute("DELETE FROM m WHERE o_orderstatus = ? AND o_orderpriority = ?", [st, pr])
            self._stage(state, spec, self._new_orders(state, rng, REPLACE_ROWS, status=st,
                                                      priority=pr))
        elif kind == "delete":
            custs = sorted(int(c) for c in rng.choice(np.arange(1, N_CUST + 1), 3, replace=False))
            spec["preds"] = [[("o_custkey", "in", custs)]]
            where = oracle.dnf_sql(spec["preds"])
            spec["rows"] = model.execute(f"SELECT count(*) FROM m WHERE {where}").fetchone()[0]
            model.execute(f"DELETE FROM m WHERE {where}")
        elif kind == "upsert":
            # changed prices for existing keys (same partition values, as the
            # upsert contract requires) plus new keys
            keys = model.execute("SELECT o_orderkey FROM m ORDER BY 1").fetchnumpy()["o_orderkey"]
            pick = sorted(int(k) for k in rng.choice(keys, UPSERT_OLD, replace=False))
            old = model.execute("SELECT * FROM m WHERE o_orderkey IN (SELECT unnest(?)) "
                                "ORDER BY o_orderkey", [pick]).arrow()
            old = old.set_column(old.schema.get_field_index("o_totalprice"), "o_totalprice",
                                 pa.array(np.round(rng.uniform(1000.0, 400000.0, old.num_rows), 2)))
            new = self._new_orders(state, rng, UPSERT_NEW)
            model.execute("DELETE FROM m WHERE o_orderkey IN (SELECT unnest(?))", [pick])
            self._stage(state, spec, pa.concat_tables([old.cast(new.schema), new]))

    # -- the timed op --------------------------------------------------------
    def run(self, state, spec):
        import kartothek_spark as ks

        spark, root, kind = state["spark"], state["root"], spec["kind"]
        if kind == "append":
            ks.update_dataset(spark, spark.read.parquet(spec["path"]), root, UUID)
        elif kind == "replace":
            ks.update_dataset(spark, spark.read.parquet(spec["path"]), root, UUID,
                              delete_scope=[spec["scope"]])
        elif kind == "delete":
            ks.delete_rows(spark, root, UUID, spec["preds"])
        elif kind == "upsert":
            ks.upsert_dataset(spark, spark.read.parquet(spec["path"]), root, UUID,
                              merge_keys=["o_orderkey"])
        else:
            ks.compact_dataset(spark, root, UUID)
            ks.expire_snapshots(root, UUID, keep_last=1)
            ks.garbage_collect_dataset(root, UUID)
        return None

    # -- traced-run bookkeeping (untimed) -------------------------------------
    def _live_files(self, state) -> dict[str, int]:
        import kartothek_spark as ks

        m = ks.DatasetManifest.load(state["root"], UUID)
        return {lbl: os.path.getsize(m.file_path(lbl)) for lbl in m.partitions}

    def before(self, state, spec):
        return self._live_files(state)

    def after(self, state, spec, pre):
        post = self._live_files(state)
        new = [lbl for lbl in post if lbl not in pre]
        return {"files_written": len(new), "bytes_written": sum(post[lbl] for lbl in new),
                "partitions_written": len({lbl.rpartition("/")[0] for lbl in new})}

    # -- checks --------------------------------------------------------------
    def check(self, state, records) -> None:
        import kartothek_spark as ks

        ks.read_table(state["spark"], state["root"], UUID).createOrReplaceTempView("perfbench_orders")
        got = tuple(state["spark"].sql(CHECKSUM.format("perfbench_orders")).collect()[0])
        want = tuple(state["model"].execute(CHECKSUM.format("m")).fetchone())
        for r in records:
            r["correct"] = got == want

    def storage(self, state) -> tuple[int, int]:
        """Live bytes once history beyond the live version is reclaimed."""
        import kartothek_spark as ks

        ks.expire_snapshots(state["root"], UUID, keep_last=1)
        ks.garbage_collect_dataset(state["root"], UUID)
        return du(state["root"]), state["input_bytes"]

    def layer(self, state, records, spans) -> dict:

        appends = [r for r in records if r["kind"] == "append"]
        dml = [r for r in records if r["kind"] in ("delete", "upsert") and r["spec"].get("rows")]
        return {
            "append_p50_s": kind_p50(records, {"append"}),
            "mutate_p50_s": kind_p50(records, {"replace", "delete", "upsert", "maintain"}),
            "write.files_written": med(r["files_written"] for r in appends),
            "write.bytes_written": med(r["bytes_written"] for r in appends),
            "write.files_per_partition": med(r["files_written"] / r["partitions_written"]
                                             for r in appends if r["partitions_written"]),
            "dml.rewrite_bytes_per_changed_row": med(r["bytes_written"] / r["spec"]["rows"]
                                                     for r in dml),
            "_rows_in": sum(r["spec"].get("rows", 0) for r in records
                            if r["kind"] in ("append", "replace", "upsert")),
        }
