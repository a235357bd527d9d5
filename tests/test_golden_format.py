"""Format-stability suite: committed golden artifacts pin the on-disk
formats — manifest JSON, zstd manifest, history snapshots, the index
parquet layout, and payload parquet written by an earlier pyarrow — so an
accidental format change between rounds fails HERE instead of surfacing
as a cross-version read failure in production.

Engine analog of the reference's ``reference-data/arrow-compat/*`` +
``tests/serialization/test_arrow_compat.py``. Regenerate DELIBERATE
format changes with ``python tests/golden/make_goldens.py``.

The formats pinned here are specified normatively in ``SPEC.md`` (repo
root) — the golden artifacts are that document's normative examples; a
deliberate format change must update BOTH.
"""

import json
import os

import pytest

from kartothek_spark.core.manifest import DatasetManifest
from tests.golden.make_goldens import COMMITTED_AT, expected_manifest_dict, golden_schema

GOLDEN_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def _expected():
    d = expected_manifest_dict()
    d["schema"] = json.loads(golden_schema().json())
    return d


def test_reader_loads_golden_json_manifest():
    """The READ path must keep understanding previously-written manifests
    — full semantic equality, not just 'loads without raising'."""
    m = DatasetManifest.load(GOLDEN_ROOT, "golden")
    assert m.storage_format == "json"
    assert m.to_dict() == _expected()


def test_reader_loads_golden_zstd_manifest(tmp_path):
    """zstd manifest codec: same content through the compressed path."""
    import shutil

    # isolate: load() prefers the plain-JSON twin if it sees one
    root = str(tmp_path)
    shutil.copy2(
        os.path.join(GOLDEN_ROOT, "golden.by-dataset-metadata.json.zst"),
        os.path.join(root, "golden.by-dataset-metadata.json.zst"),
    )
    m = DatasetManifest.load(root, "golden")
    assert m.storage_format == "zstd"
    assert m.to_dict() == _expected()


def test_writer_emits_byte_identical_manifest(tmp_path):
    """The WRITE path must keep producing the committed bytes for the same
    logical content — any serializer drift (key order, separators, type
    rendering) fails byte-for-byte here."""
    m = DatasetManifest.from_dict(_expected(), root=str(tmp_path))
    m.committed_at = COMMITTED_AT
    m.storage_format = "json"
    got = m._serialize()
    with open(os.path.join(GOLDEN_ROOT, "golden.by-dataset-metadata.json"), "rb") as fh:
        want = fh.read()
    assert got == want


def test_zstd_payload_is_canonical_json():
    """The zstd blob's DECOMPRESSED payload is pinned (compressed bytes
    may differ across zstd lib versions; the plaintext must not)."""
    import pyarrow as pa

    with open(os.path.join(GOLDEN_ROOT, "golden.by-dataset-metadata.json.zst"), "rb") as fh:
        blob = fh.read()
    size = int.from_bytes(blob[:8], "little")
    raw = pa.Codec("zstd").decompress(blob[8:], asbytes=True, decompressed_size=size)
    assert json.loads(raw) == _expected()
    assert raw.decode() == json.dumps(_expected(), default=str, separators=(",", ":"))


def test_golden_history_snapshot_loads():
    m = DatasetManifest.load(GOLDEN_ROOT, "golden", version=1)
    assert m.to_dict() == _expected()


def test_golden_dataset_reads_end_to_end(spark):
    """A dataset written by an earlier engine/pyarrow must read end to end:
    partition pruning, hidden-transform widening, stats, and content."""
    from kartothek_spark.dataset.read import read_table

    got = read_table(spark, GOLDEN_ROOT, "golden")
    rows = sorted((r.name, r.v) for r in got.collect())
    assert rows == [("alpha", 1), ("ant", 2), ("bee", 3)]
    # the hidden truncate:1 transform hides k and widens name-predicates
    assert sorted(got.columns) == ["name", "v"]
    pruned = read_table(
        spark, GOLDEN_ROOT, "golden", predicates=[[("name", "==", "bee")]]
    )
    assert [(r.name, r.v) for r in pruned.collect()] == [("bee", 3)]


def test_golden_index_parquet_layout(spark):
    """The committed index parquet (directory of (value, partitions))
    keeps loading and serving index-pruned dispatch; newly-written
    indices keep the same schema."""
    from kartothek_spark.core.index import build_index, load_index
    from kartothek_spark.dataset.read import dispatch_labels

    m = DatasetManifest.load(GOLDEN_ROOT, "golden")
    idx = load_index(spark, m, "name")
    assert [f.name for f in idx.schema.fields] == ["value", "partitions"]
    got = {r.value: sorted(r.partitions) for r in idx.collect()}
    assert got == {
        "alpha": ["k=a/part-0"],
        "ant": ["k=a/part-0"],
        "bee": ["k=b/part-0"],
    }
    labels = dispatch_labels(spark, m, [[("name", "==", "bee")]])
    assert labels == ["k=b/part-0"]

    # freshly-built index: same two-column layout (schema drift fails)
    rel = build_index(spark, m, "v")
    fresh = spark.read.parquet(os.path.join(GOLDEN_ROOT, rel))
    try:
        assert [f.name for f in fresh.schema.fields] == ["value", "partitions"]
        assert fresh.schema.fields[1].dataType.simpleString() == "array<string>"
    finally:
        import shutil

        shutil.rmtree(os.path.join(GOLDEN_ROOT, rel), ignore_errors=True)


# ---- partition-list sidecar layout (core/manifest.py SIDECAR_THRESHOLD) ----

def _sidecar_expected():
    from tests.golden.make_goldens import expected_sidecar_manifest_dict

    d = expected_sidecar_manifest_dict()
    d["schema"] = json.loads(golden_schema().json())
    return d


def test_reader_loads_sidecar_golden_manifest():
    """A manifest whose partition list lives in the versioned parquet
    sidecar must load with full semantic equality: pointer resolved, all
    sidecar columns (file/rows/stats/extra) decoded, layout stickiness
    preserved."""
    from tests.golden.make_goldens import expected_sidecar_partitions

    m = DatasetManifest.load(GOLDEN_ROOT, "golden_sidecar")
    assert m.partitions_sidecar is True
    assert m.partitions == expected_sidecar_partitions()
    # to_dict() of a LOADED manifest is the inline form (the pointer is
    # re-derived per version at commit time) — everything except the
    # pointer fields must round-trip exactly
    e = _sidecar_expected()
    e.pop("partitions_ref")
    e.pop("n_partitions")
    e["partitions"] = expected_sidecar_partitions()
    assert m.to_dict() == e


def test_sidecar_parquet_writer_byte_stable(tmp_path):
    """The sidecar WRITE path must keep producing the committed bytes for
    the same partition map — column set, ordering, JSON side-channel
    rendering, and parquet codec are all pinned."""
    from kartothek_spark.core.manifest import _write_partitions_sidecar
    from tests.golden.make_goldens import SIDECAR_REL, expected_sidecar_partitions

    out = os.path.join(str(tmp_path), "side.parquet")
    _write_partitions_sidecar(out, expected_sidecar_partitions())
    with open(out, "rb") as fh:
        got = fh.read()
    with open(os.path.join(GOLDEN_ROOT, SIDECAR_REL), "rb") as fh:
        want = fh.read()
    assert got == want


def test_sidecar_truncation_detected():
    """n_partitions in the pointer manifest is a corruption check: a
    sidecar holding a different entry count must refuse to load."""
    with open(
        os.path.join(GOLDEN_ROOT, "golden_sidecar.by-dataset-metadata.json")
    ) as fh:
        d = json.load(fh)
    d["n_partitions"] = 3
    with pytest.raises(ValueError, match="corrupt or truncated"):
        DatasetManifest.from_dict(d, root=GOLDEN_ROOT)


def test_sidecar_golden_reads_end_to_end(spark):
    """read_table over the sidecar-layout golden: partition pruning and
    content must work identically to the inline-manifest layout."""
    from kartothek_spark.dataset.read import read_table

    got = read_table(spark, GOLDEN_ROOT, "golden_sidecar")
    rows = sorted((r.k, r.name, r.v) for r in got.collect())
    assert rows == [("a", "alpha", 1), ("a", "ant", 2), ("b", "bee", 3)]
    pruned = read_table(
        spark, GOLDEN_ROOT, "golden_sidecar", predicates=[[("k", "==", "b")]]
    )
    assert [(r.name, r.v) for r in pruned.collect()] == [("bee", 3)]


# ---------------------------------------------------------------------------
# binary-partition-key golden (x<hex> directory rendering)
# ---------------------------------------------------------------------------

def test_binkey_golden_manifest_and_layout():
    """The committed x<hex> directory rendering must stay byte-stable:
    manifest loads, labels and payload paths match the pinned rendering,
    and _typed_value recovers the exact original bytes (numeric-looking
    AND non-UTF8 values — the two classes the rendering protects)."""
    from tests.golden.make_goldens import (
        BINKEY_VALUES,
        binkey_schema,
        expected_binkey_manifest_dict,
    )
    from kartothek_spark.core.manifest import _typed_value
    from pyspark.sql import types as T

    d = expected_binkey_manifest_dict()
    d["schema"] = json.loads(binkey_schema().json())
    m = DatasetManifest.load(GOLDEN_ROOT, "golden_binkey")
    assert m.to_dict() == d
    labels = sorted(m.partitions)
    assert labels == ["pk=x30313032/part-0", "pk=xff01/part-0"]
    got = sorted(
        _typed_value(lbl.split("=")[1].split("/")[0], T.BinaryType())
        for lbl in labels
    )
    assert got == sorted(BINKEY_VALUES)
    for lbl in labels:
        assert os.path.exists(m.file_path(lbl))


def test_binkey_writer_emits_golden_rendering(spark, tmp_path):
    """TODAY's writer must render the same binary values into the same
    x<hex> directories the golden pins — rendering drift would strand
    every existing binary-partitioned dataset."""
    from tests.golden.make_goldens import BINKEY_VALUES
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    df = spark.createDataFrame(
        [(v, i) for i, v in enumerate(BINKEY_VALUES)], "pk binary, v long"
    )
    root = str(tmp_path)
    store_dataframe_as_dataset(spark, df, root, "b", partition_on=["pk"])
    m = DatasetManifest.load(root, "b")
    dirs = sorted({lbl.split("/")[0] for lbl in m.partitions})
    assert dirs == ["pk=x30313032", "pk=xff01"]


def test_binkey_golden_reads_end_to_end(spark):
    """read_table over the golden returns the exact original bytes with
    predicate pruning working in the hex string domain."""
    from kartothek_spark.dataset.read import dispatch_labels, read_table

    rows = sorted(
        (bytes(r.pk), r.v)
        for r in read_table(spark, GOLDEN_ROOT, "golden_binkey").collect()
    )
    assert rows == [(b"0102", 1), (b"0102", 2), (b"\xff\x01", 3)]

    m = DatasetManifest.load(GOLDEN_ROOT, "golden_binkey")
    labels = dispatch_labels(spark, m, [[("pk", "==", b"\xff\x01")]])
    assert labels == ["pk=xff01/part-0"]
    got = read_table(
        spark, GOLDEN_ROOT, "golden_binkey", predicates=[[("pk", "==", b"0102")]]
    ).collect()
    assert sorted((bytes(r.pk), r.v) for r in got) == [(b"0102", 1), (b"0102", 2)]


# ---------------------------------------------------------------------------
# ORC-format golden
# ---------------------------------------------------------------------------

def test_orc_golden_manifest_stable():
    from tests.golden.make_goldens import expected_orc_manifest_dict

    d = expected_orc_manifest_dict()
    d["schema"] = json.loads(golden_schema().json())
    m = DatasetManifest.load(GOLDEN_ROOT, "golden_orc")
    assert m.to_dict() == d
    assert m.table_format == "orc"
    assert all(e["file"].endswith(".orc") for e in m.partitions.values())


def test_orc_golden_reads_end_to_end(spark):
    """TODAY's reader must keep reading ORC payload written at golden
    regen time — format pin for the fourth table format."""
    from kartothek_spark.dataset.read import read_table

    rows = sorted(
        (r.k, r.name, r.v)
        for r in read_table(spark, GOLDEN_ROOT, "golden_orc").collect()
    )
    assert rows == [("a", "alpha", 1), ("a", "ant", 2), ("b", "bee", 3)]
    got = read_table(
        spark, GOLDEN_ROOT, "golden_orc", predicates=[[("k", "==", "b")]]
    ).collect()
    assert [(r.k, r.name, r.v) for r in got] == [("b", "bee", 3)]
