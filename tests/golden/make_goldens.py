"""Regenerate the committed format-stability goldens (run from repo root):

    python tests/golden/make_goldens.py

Only rerun this when the manifest/index format changes ON PURPOSE — the
point of the committed artifacts is that accidental drift fails
tests/test_golden_format.py (the engine's analog of the reference's
reference-data/arrow-compat/* + tests/serialization/test_arrow_compat.py).
A deliberate change must also update SPEC.md (repo root), whose normative
examples these artifacts are.

The golden is a complete miniature dataset exercising every manifest
feature: hive partitions, a secondary index, per-file stats, CHECK
constraints, hidden partition transforms, bucketing fields, keep_history,
user metadata — one plain-JSON manifest, one zstd manifest of identical
content, the index parquet, and two payload parquet files (so an
end-to-end read_table works against the golden forever).
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".."))

HERE = os.path.dirname(os.path.abspath(__file__))
COMMITTED_AT = "2026-08-14T00:00:00+00:00"  # pinned: bytes must be stable


def expected_manifest_dict() -> dict:
    """The golden manifest CONTENT, as a plain dict — the single source of
    truth the test compares against (field order = to_dict order)."""
    return {
        "dataset_metadata_version": 4,
        "dataset_uuid": "golden",
        "metadata": {"creator": "format-stability-suite", "answer": 42},
        "partition_keys": ["k"],
        "schema": None,  # filled by make() from the Spark schema
        "partitions": {
            "k=a/part-0": {
                "file": "golden/table/k=a/part-0.parquet",
                "stats": {"v": {"min": 1, "max": 2, "nulls": 0}},
            },
            "k=b/part-0": {
                "file": "golden/table/k=b/part-0.parquet",
                "stats": {"v": {"min": 3, "max": 3, "nulls": 0}},
            },
        },
        "indices": {"name": "golden/indices/name/0001.by-dataset-index.parquet"},
        "format": "parquet",
        "version": 1,
        "keep_history": True,
        "committed_at": COMMITTED_AT,
        "stats_columns": ["v"],
        "partition_transforms": {"k": {"fn": "truncate:1", "src": "name"}},
        "constraints": {"v_pos": "v > 0"},
    }


def golden_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.LongType()),
        ]
    )


SIDECAR_REL = "golden_sidecar/_manifest/_partitions_v00000001.parquet"


def expected_sidecar_partitions() -> dict:
    """Partition map of the sidecar golden — exercises every sidecar
    column: plain ``file``, ``rows``, nested ``stats`` (JSON column) and
    an unknown key riding in ``extra``."""
    return {
        "k=a/part-0": {
            "file": "golden_sidecar/table/k=a/part-0.parquet",
            "rows": 2,
            "stats": {"v": {"min": 1, "max": 2, "nulls": 0}},
        },
        "k=b/part-0": {
            "file": "golden_sidecar/table/k=b/part-0.parquet",
            "rows": 1,
            "origin": "compat-suite",
        },
    }


def expected_sidecar_manifest_dict() -> dict:
    """The sidecar-layout manifest CONTENT: the partition list lives in a
    versioned parquet sidecar; the manifest keeps a pointer + count."""
    return {
        "dataset_metadata_version": 4,
        "dataset_uuid": "golden_sidecar",
        "metadata": {"creator": "format-stability-suite"},
        "partition_keys": ["k"],
        "schema": None,  # filled from the Spark schema
        "partitions_ref": SIDECAR_REL,
        "n_partitions": 2,
        "indices": {},
        "format": "parquet",
        "version": 1,
        "committed_at": COMMITTED_AT,
        "stats_columns": ["v"],
    }


def _write(m, path: str) -> None:
    with open(path, "wb") as fh:
        fh.write(m._serialize())


def make() -> None:
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kartothek_spark.core.manifest import DatasetManifest

    schema = golden_schema()
    d = expected_manifest_dict()
    d["schema"] = json.loads(schema.json())

    m = DatasetManifest.from_dict(d, root=HERE)
    m.keep_history = True
    m.committed_at = COMMITTED_AT

    # payload parquet (pyarrow-of-record: whatever is baked in the repo now)
    for rel, pdf in (
        ("golden/table/k=a/part-0.parquet",
         pd.DataFrame({"name": ["alpha", "ant"], "v": [1, 2]})),
        ("golden/table/k=b/part-0.parquet",
         pd.DataFrame({"name": ["bee"], "v": [3]})),
    ):
        path = os.path.join(HERE, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)

    # secondary index: a parquet DIRECTORY of (value, partitions) — the
    # engine's on-disk index layout (core/index.py _write_index)
    idx_dir = os.path.join(HERE, d["indices"]["name"])
    shutil.rmtree(idx_dir, ignore_errors=True)
    os.makedirs(idx_dir)
    idx = pa.table(
        {
            "value": pa.array(["alpha", "ant", "bee"], pa.string()),
            "partitions": pa.array(
                [["k=a/part-0"], ["k=a/part-0"], ["k=b/part-0"]],
                pa.list_(pa.string()),
            ),
        }
    )
    pq.write_table(idx, os.path.join(idx_dir, "part-00000.parquet"))

    # manifests: identical content in both codecs, written by the engine's
    # own serializer (_serialize) so the goldens pin the writer too
    m.storage_format = "json"
    _write(m, os.path.join(HERE, "golden.by-dataset-metadata.json"))
    m.storage_format = "zstd"
    _write(m, os.path.join(HERE, "golden.by-dataset-metadata.json.zst"))

    # history snapshot so time-travel load paths are pinned as well
    hist = os.path.join(HERE, "golden", "_history")
    shutil.rmtree(hist, ignore_errors=True)
    os.makedirs(hist)
    m.storage_format = "json"
    _write(m, os.path.join(hist, "_v00000001.manifest.json"))

    # ---- sidecar-layout golden: the partition list promoted to the
    # versioned parquet sidecar (core/manifest.py SIDECAR_THRESHOLD
    # path), threshold irrelevant here — the layout is forced so drift
    # in EITHER the sidecar parquet codec or the pointer manifest fails
    from kartothek_spark.core.manifest import _write_partitions_sidecar

    sd = expected_sidecar_manifest_dict()
    sparts = expected_sidecar_partitions()
    for rel, pdf in (
        ("golden_sidecar/table/k=a/part-0.parquet",
         pd.DataFrame({"name": ["alpha", "ant"], "v": [1, 2]})),
        ("golden_sidecar/table/k=b/part-0.parquet",
         pd.DataFrame({"name": ["bee"], "v": [3]})),
    ):
        path = os.path.join(HERE, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    _write_partitions_sidecar(os.path.join(HERE, SIDECAR_REL), sparts)
    sm = DatasetManifest(
        dataset_uuid="golden_sidecar",
        root=HERE,
        schema=schema,
        partition_keys=["k"],
        partitions=sparts,
        partitions_sidecar=True,
        metadata={"creator": "format-stability-suite"},
        stats_columns=["v"],
        version=1,
    )
    sm.committed_at = COMMITTED_AT
    sm._sidecar_ref = SIDECAR_REL
    sm.storage_format = "json"
    _write(sm, os.path.join(HERE, "golden_sidecar.by-dataset-metadata.json"))

    make_binkey()
    make_orc()
    print("goldens written under", HERE)


# ---- binary-partition-key golden: the x<hex> directory rendering is a
# committed on-disk format (core/manifest.py _typed_value, write.py's
# hex re-rendering before partitionBy) — pin it with a miniature dataset
# holding a numeric-looking value AND a non-UTF8 value, the two classes
# the rendering exists to protect.
BINKEY_VALUES = [b"0102", b"\xff\x01"]  # -> x30313032, xff01


def expected_binkey_manifest_dict() -> dict:
    return {
        "dataset_metadata_version": 4,
        "dataset_uuid": "golden_binkey",
        "metadata": {"creator": "format-stability-suite"},
        "partition_keys": ["pk"],
        "schema": None,  # filled from the Spark schema
        "partitions": {
            "pk=x30313032/part-0": {
                "file": "golden_binkey/table/pk=x30313032/part-0.parquet"
            },
            "pk=xff01/part-0": {
                "file": "golden_binkey/table/pk=xff01/part-0.parquet"
            },
        },
        "indices": {},
        "format": "parquet",
        "version": 1,
        "committed_at": COMMITTED_AT,
    }


def binkey_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField("pk", T.BinaryType()), T.StructField("v", T.LongType())]
    )


def make_binkey() -> None:
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from kartothek_spark.core.manifest import DatasetManifest

    d = expected_binkey_manifest_dict()
    d["schema"] = json.loads(binkey_schema().json())
    for rel, pdf in (
        ("golden_binkey/table/pk=x30313032/part-0.parquet",
         pd.DataFrame({"v": [1, 2]})),
        ("golden_binkey/table/pk=xff01/part-0.parquet",
         pd.DataFrame({"v": [3]})),
    ):
        path = os.path.join(HERE, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    m = DatasetManifest.from_dict(d, root=HERE)
    m.committed_at = COMMITTED_AT
    m.storage_format = "json"
    _write(m, os.path.join(HERE, "golden_binkey.by-dataset-metadata.json"))


# ---- ORC-format golden: the fourth table format's committed layout
# (payload suffix, manifest "format" field, schema-driven scan) — the
# payload bytes are whatever pyarrow.orc baked in at regen time; the pin
# is that TODAY's reader keeps reading them.
def expected_orc_manifest_dict() -> dict:
    return {
        "dataset_metadata_version": 4,
        "dataset_uuid": "golden_orc",
        "metadata": {"creator": "format-stability-suite"},
        "partition_keys": ["k"],
        "schema": None,  # filled from the Spark schema (golden_schema)
        "partitions": {
            "k=a/part-0": {"file": "golden_orc/table/k=a/part-0.orc"},
            "k=b/part-0": {"file": "golden_orc/table/k=b/part-0.orc"},
        },
        "indices": {},
        "format": "orc",
        "version": 1,
        "committed_at": COMMITTED_AT,
    }


def make_orc() -> None:
    import json

    import pandas as pd
    import pyarrow as pa
    from pyarrow import orc as pa_orc

    from kartothek_spark.core.manifest import DatasetManifest

    d = expected_orc_manifest_dict()
    d["schema"] = json.loads(golden_schema().json())
    for rel, pdf in (
        ("golden_orc/table/k=a/part-0.orc",
         pd.DataFrame({"name": ["alpha", "ant"], "v": [1, 2]})),
        ("golden_orc/table/k=b/part-0.orc",
         pd.DataFrame({"name": ["bee"], "v": [3]})),
    ):
        path = os.path.join(HERE, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pa_orc.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    m = DatasetManifest.from_dict(d, root=HERE)
    m.committed_at = COMMITTED_AT
    m.storage_format = "json"
    _write(m, os.path.join(HERE, "golden_orc.by-dataset-metadata.json"))


if __name__ == "__main__":
    make()
