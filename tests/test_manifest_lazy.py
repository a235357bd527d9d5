"""Lazy sidecar partition map (round-10 optimization): the planning path
must never materialize per-partition entry dicts, while every mapping
behavior — iteration, membership, entry access, in-place entry mutation,
commit, equality — stays exactly a dict's."""

import os

import pytest
from pyspark.sql import types as T

from kartothek_spark.core.manifest import (
    DatasetManifest,
    _SidecarPartitions,
    SIDECAR_THRESHOLD,
)


SCHEMA = T.StructType(
    [T.StructField("p", T.IntegerType()), T.StructField("v", T.DoubleType())]
)

N = SIDECAR_THRESHOLD  # smallest sidecar-layout manifest


def _build(tmp_path) -> str:
    root = str(tmp_path)
    m = DatasetManifest(
        dataset_uuid="lazy",
        root=root,
        schema=SCHEMA,
        partition_keys=["p"],
        storage_format="zstd",
    )
    for i in range(N):
        m.partitions[f"p={i}/part-{i:05d}.parquet"] = {
            "file": f"lazy/table/p={i}/part-{i:05d}.parquet"
        }
    m.commit()
    return root


def test_load_is_lazy_and_query_never_materializes(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    parts = m.partitions
    assert isinstance(parts, _SidecarPartitions)
    # lazy views
    assert len(parts) == N
    assert f"p=7/part-{7:05d}.parquet" in parts
    assert "nope" not in parts
    # the ==-fast-path point query runs vectorized over the arrow column
    assert m.query([[("p", "==", 123)]]) == ["p=123/part-00123.parquet"]
    # a range predicate is evaluated on typed key columns decoded in arrow
    got = sorted(m.query([[("p", "<", 3)]]))
    assert got == [f"p={i}/part-{i:05d}.parquet" for i in range(3)]
    # none of the above may have built the entry dicts
    assert parts._dict is None
    # disjunction + conjunction through the vectorized path
    got = sorted(m.query([[("p", "==", 5)], [("p", "==", 9)]]))
    assert got == ["p=5/part-00005.parquet", "p=9/part-00009.parquet"]
    assert parts._dict is None


def test_file_path_stays_lazy_and_tracks_mutation(tmp_path):
    """r11: file_path goes through the flat label->file lookup, so the
    first data read of a pruned partition never builds the inner entry
    dicts; after any mutation materializes the map, the lookup must see
    the mutated entry, not a stale flat view."""
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    parts = m.partitions
    lbl = "p=123/part-00123.parquet"
    assert m.file_path(lbl).endswith("lazy/table/p=123/part-00123.parquet")
    assert parts._dict is None  # read-only lookup stayed lazy
    with pytest.raises(KeyError):
        m.file_path("missing-label")
    assert parts._dict is None
    # mutation materializes; the flat view must not serve stale files
    parts[lbl] = {"file": "lazy/table/rewritten.parquet"}
    assert parts._dict is not None
    assert m.file_path(lbl).endswith("rewritten.parquet")


def test_query_empty_conjunction_matches_all(tmp_path):
    """r11 (ADVICE): an empty conjunction is vacuously true — the arrow
    fast path must return every label (it used to raise on a sole empty
    conj and silently drop labels in a mixed DNF), matching the
    dict-backed path's all()-over-empty semantics."""
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    assert len(m.query([[]])) == N
    got = m.query([[("p", "==", 5)], []])  # mixed DNF: empty conj wins
    assert len(got) == N
    assert m.partitions._dict is None


def test_entry_access_materializes_with_dict_semantics(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    entry = m.partitions["p=7/part-00007.parquet"]
    assert entry == {"file": "lazy/table/p=7/part-00007.parquet"}
    # in-place mutation of a returned entry must persist (dict semantics)
    entry["rows"] = 42
    assert m.partitions["p=7/part-00007.parquet"]["rows"] == 42
    # file_path goes through entry access
    assert m.file_path("p=0/part-00000.parquet").endswith(
        "lazy/table/p=0/part-00000.parquet"
    )


def test_commit_without_entry_access_keeps_sidecar_loadable(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    m.metadata["touch"] = 1
    m.commit()  # lazy fast path: sidecar rewritten from the arrow columns
    assert m.partitions._dict is None  # commit itself must not materialize
    m2 = DatasetManifest.load(root, "lazy")
    assert m2.version == m.version
    assert len(m2.partitions) == N
    assert m2.query([[("p", "==", 11)]]) == ["p=11/part-00011.parquet"]
    assert m2.partitions["p=11/part-00011.parquet"] == {
        "file": "lazy/table/p=11/part-00011.parquet"
    }


def test_repeated_metadata_commits_stay_lazy_and_loadable(tmp_path):
    """A metadata-only commit of an untouched loaded map copies the
    previous sidecar file (no re-encode); a second commit after the old
    file was cleaned up must still work, and every version must load."""
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    for i in range(3):
        m.metadata["touch"] = i
        m.commit()
        assert m.partitions._dict is None
    m2 = DatasetManifest.load(root, "lazy")
    assert m2.version == m.version
    assert len(m2.partitions) == N
    assert m2.query([[("p", "==", 42)]]) == ["p=42/part-00042.parquet"]
    assert m2.partitions["p=42/part-00042.parquet"] == {
        "file": "lazy/table/p=42/part-00042.parquet"
    }


def test_mutated_entries_round_trip_through_commit(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    m.partitions["p=3/part-00003.parquet"]["rows"] = 7
    m.commit()
    m2 = DatasetManifest.load(root, "lazy")
    # a sidecar with non-null optional columns decodes via the strict path
    assert isinstance(m2.partitions, dict)
    assert m2.partitions["p=3/part-00003.parquet"]["rows"] == 7
    assert m2.partitions["p=4/part-00004.parquet"] == {
        "file": "lazy/table/p=4/part-00004.parquet"
    }


def test_equality_against_plain_dict(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    expected = {
        f"p={i}/part-{i:05d}.parquet": {
            "file": f"lazy/table/p={i}/part-{i:05d}.parquet"
        }
        for i in range(N)
    }
    assert m.partitions == expected
    assert expected == m.partitions
    expected["p=0/part-00000.parquet"]["rows"] = 1
    assert m.partitions != expected


def test_pop_and_setitem(tmp_path):
    root = _build(tmp_path)
    m = DatasetManifest.load(root, "lazy")
    m.partitions.pop("p=0/part-00000.parquet")
    assert len(m.partitions) == N - 1
    m.partitions["p=x/part-new.parquet"] = {"file": "lazy/table/p=x/part-new.parquet"}
    assert "p=x/part-new.parquet" in m.partitions
    assert m.query([[("p", "==", 0)]]) == []
