"""The add/remove overlay of the lazy sidecar partition map: random
mutation sequences run on a loaded map and on a plain dict side by side
must agree after every step and after a commit and reload, and plain
appends and deletes must never build the entry dicts."""

from __future__ import annotations

import os
import random

import pyarrow.parquet as pq
from pyspark.sql import types as T

from kartothek_spark.core.manifest import (
    DatasetManifest,
    _SidecarPartitions,
    _write_partitions_sidecar,
)

SEED = 7
TRIALS = 24
STEPS = 30
BASE = 40

SCHEMA = T.StructType([T.StructField("p", T.IntegerType()), T.StructField("v", T.LongType())])


def _entry(label: str) -> dict:
    return {"file": f"ov/table/{label}.parquet"}


def _load(root: str) -> DatasetManifest:
    m = DatasetManifest(dataset_uuid="ov", root=root, schema=SCHEMA, partition_keys=["p"],
                        partitions={f"p={i}/f{i}": _entry(f"p={i}/f{i}") for i in range(BASE)},
                        partitions_sidecar=True)  # the sidecar layout at any size
    m.commit()
    m = DatasetManifest.load(root, "ov")
    assert isinstance(m.partitions, _SidecarPartitions)
    return m


def _agree(lazy, mirror: dict, probes) -> None:
    assert list(lazy) == list(mirror)
    assert len(lazy) == len(mirror)
    for lbl in probes:
        assert (lbl in lazy) == (lbl in mirror), lbl
        assert lazy.get_file(lbl) == (mirror[lbl]["file"] if lbl in mirror else None), lbl
    assert lazy == mirror and mirror == lazy
    assert lazy != {**mirror, "p=-1/none": _entry("none")}


PLAIN = ["add", "add", "delete", "pop", "pop_missing", "readd"]
ANY = PLAIN + ["overwrite", "mutate", "nonplain"]


def _step(rng: random.Random, ops, lazy, mirror: dict, fresh) -> None:
    """Apply one random operation to both maps."""
    op = rng.choice(ops)
    if op == "add":
        lbl = next(fresh)
        lazy[lbl] = _entry(lbl)
        mirror[lbl] = _entry(lbl)
    elif op in ("delete", "pop") and mirror:
        lbl = rng.choice(list(mirror))
        if op == "delete":
            del lazy[lbl], mirror[lbl]
        else:
            assert lazy.pop(lbl) == mirror.pop(lbl)
    elif op == "pop_missing":
        assert lazy.pop("p=-1/none", "dflt") == mirror.pop("p=-1/none", "dflt")
    elif op == "readd":
        gone = [f"p={i}/f{i}" for i in range(BASE) if f"p={i}/f{i}" not in mirror]
        if gone:
            lbl = rng.choice(gone)
            lazy[lbl] = _entry(lbl)
            mirror[lbl] = _entry(lbl)
    elif op == "overwrite" and mirror:
        lbl = rng.choice(list(mirror))
        lazy[lbl] = {"file": "ov/table/rewritten.parquet"}
        mirror[lbl] = {"file": "ov/table/rewritten.parquet"}
    elif op == "mutate" and mirror:
        lbl = rng.choice(list(mirror))
        lazy[lbl]["rows"] = 5  # an entry read, then an in-place change
        mirror[lbl]["rows"] = 5
    elif op == "nonplain":
        lbl = next(fresh)
        lazy[lbl] = {"file": f"ov/table/{lbl}.parquet", "rows": 3, "stats": {"v": {"min": 1}}}
        mirror[lbl] = {"file": f"ov/table/{lbl}.parquet", "rows": 3, "stats": {"v": {"min": 1}}}


def test_overlay_matches_a_dict(tmp_path):
    rng = random.Random(SEED)
    for trial in range(TRIALS):
        root = str(tmp_path / f"t{trial}")
        m = _load(root)
        lazy = m.partitions
        mirror = {f"p={i}/f{i}": _entry(f"p={i}/f{i}") for i in range(BASE)}
        fresh = (f"p={i}/f{i}" for i in range(BASE, 10**6))
        probes = [f"p={i}/f{i}" for i in range(BASE + 8)] + ["p=-1/none"]
        plain_only = trial % 2 == 0  # half the trials stay on the overlay
        for _ in range(STEPS):
            _step(rng, PLAIN if plain_only else ANY, lazy, mirror, fresh)
            _agree(lazy, mirror, probes)
            if plain_only:
                assert lazy._dict is None
        m.commit()
        if plain_only:
            # written from arrow, and a lazy map adopted again
            assert isinstance(m.partitions, _SidecarPartitions) and m.partitions._dict is None
            # the same rows, in the same order, as the dict path writes
            ref = os.path.join(str(tmp_path), f"ref{trial}.parquet")
            _write_partitions_sidecar(ref, dict(mirror))
            assert (pq.read_table(os.path.join(root, m._sidecar_ref)).to_pylist()
                    == pq.read_table(ref).to_pylist())
        assert m.partitions == mirror and list(m.partitions) == list(mirror)
        m2 = DatasetManifest.load(root, "ov")
        assert m2.partitions == mirror and list(m2.partitions) == list(mirror)
        for lbl in probes:
            assert m2.file_path(lbl).endswith(mirror[lbl]["file"]) if lbl in mirror else True
        assert m2.query([[("p", "<", BASE // 2)]]) == [
            lbl for lbl in mirror if int(lbl.split("/")[0][2:]) < BASE // 2
        ]
