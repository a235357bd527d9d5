"""The manifest commit protocol under real concurrency and real crashes.

Several processes commit to one manifest at once while others load it, and
single writers die (``os._exit``) at each step of a commit. No Spark
session: the processes drive ``DatasetManifest`` directly.
"""

import multiprocessing as mp
import os

import pytest
from pyspark.sql import types as T

import kartothek_spark.core.manifest as manifest_mod
from kartothek_spark.core.manifest import CommitConflict, DatasetManifest

UUID = "race"
SCHEMA = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.LongType())])
N0 = 8  # entries of the first commit (version 1); version v holds N0 + v - 1
WRITERS, ROUNDS, READERS = 4, 8, 2
INLINE = 1_000_000  # sidecar threshold no test dataset reaches
SIDECAR = 4  # sidecar threshold every test dataset exceeds


def _entry(root, label, payload=False):
    rel = os.path.join(UUID, "table", label + ".parquet")
    if payload:  # a real file, so garbage collection has something to judge
        os.makedirs(os.path.dirname(os.path.join(root, rel)), exist_ok=True)
        with open(os.path.join(root, rel), "wb") as fh:
            fh.write(b"x")
    return {"file": rel}


def _create(root, keep_history, payload=False):
    m = DatasetManifest(dataset_uuid=UUID, root=root, schema=SCHEMA,
                        partition_keys=["k"], keep_history=keep_history)
    for i in range(N0):
        m.partitions[f"k=init/p{i}"] = _entry(root, f"k=init/p{i}", payload)
    m.commit()


def _writer(root, w, threshold, barrier, out):
    """ROUNDS rounds of load, add one entry, commit; a conflict retries
    with a fresh label, so a label that raised must never land."""
    manifest_mod.SIDECAR_THRESHOLD = threshold
    acked, attempt = [], 0
    for r in range(ROUNDS):
        barrier.wait()  # every round starts all writers together
        while True:
            attempt += 1
            label = f"k=w{w}/r{r}a{attempt}"
            m = DatasetManifest.load(root, UUID)
            m.partitions[label] = _entry(root, label)
            try:
                m.commit()
            except CommitConflict:
                continue
            acked.append((label, m.version))
            break
    out.put(acked)


def _reader(root, threshold, stop, out):
    """Load in a loop; every load must succeed and show a state some
    commit produced, never older than the previous load's."""
    manifest_mod.SIDECAR_THRESHOLD = threshold
    loads, last, errors = 0, 0, []
    while not stop.is_set() or loads == 0:
        loads += 1
        try:
            m = DatasetManifest.load(root, UUID)
            n = len(m.partitions)
            if m.version < last or n != N0 + m.version - 1:
                errors.append(f"v{m.version} holds {n} entries (previous load v{last})")
            last = m.version
        except Exception as exc:  # noqa: BLE001 - every failure is the finding
            errors.append(repr(exc))
    out.put((loads, errors))


@pytest.mark.parametrize(
    "keep_history,threshold",
    [(False, INLINE), (True, INLINE), (False, SIDECAR)],
    ids=["inline", "inline-history", "sidecar"],
)
def test_concurrent_commits_are_linearizable(tmp_path, monkeypatch, keep_history, threshold):
    root = str(tmp_path)
    monkeypatch.setattr(manifest_mod, "SIDECAR_THRESHOLD", threshold)
    _create(root, keep_history)
    ctx = mp.get_context("spawn")
    barrier, stop, out = ctx.Barrier(WRITERS), ctx.Event(), ctx.Queue()
    writers = [ctx.Process(target=_writer, args=(root, w, threshold, barrier, out))
               for w in range(WRITERS)]
    readers = [ctx.Process(target=_reader, args=(root, threshold, stop, out))
               for _ in range(READERS)]
    for p in readers + writers:
        p.start()
    acked, reads = [], []
    try:
        for _ in writers:
            acked += out.get(timeout=60)
        stop.set()  # readers report only after this
        for _ in readers:
            reads.append(out.get(timeout=30))
    finally:
        stop.set()
        for p in readers + writers:
            p.join(timeout=10)
            if p.is_alive():
                p.terminate()

    final = DatasetManifest.load(root, UUID)
    # every acknowledged entry landed, and no attempt that raised did
    assert len(acked) == WRITERS * ROUNDS
    assert set(final.partitions) == {f"k=init/p{i}" for i in range(N0)} | {
        label for label, _ in acked
    }
    # each acknowledged commit took its own version, without gaps
    assert sorted(v for _, v in acked) == list(range(2, 2 + WRITERS * ROUNDS))
    assert final.version == 1 + WRITERS * ROUNDS
    if keep_history:
        counts = [len(DatasetManifest.load(root, UUID, version=v).partitions)
                  for v in range(1, final.version + 1)]
        assert counts == list(range(N0, N0 + final.version))
    assert all(loads > 0 for loads, _ in reads)
    assert [e for _, errors in reads for e in errors] == []


def _crashing_commit(root, point):
    """Commit one entry and die at ``point``: right after the sidecar is
    written, at the live swap (inside put_if_match, lock held, before the
    rename), or after the swap before the history snapshot."""
    manifest_mod.SIDECAR_THRESHOLD = SIDECAR
    m = DatasetManifest.load(root, UUID)
    m.partitions["k=crash/p0"] = _entry(root, "k=crash/p0", payload=True)
    real_replace = os.replace

    def replace(src, dst):
        if point == "swap" and dst == m.manifest_path:
            os._exit(1)
        if point == "snapshot" and dst.startswith(m.history_root):
            os._exit(1)
        real_replace(src, dst)
        if point == "sidecar" and dst.startswith(os.path.join(root, UUID, "_manifest")):
            os._exit(1)

    os.replace = replace
    m.commit()
    os._exit(0)  # never reached when the crash point is on the commit path


def _commit_one(root):
    manifest_mod.SIDECAR_THRESHOLD = SIDECAR
    m = DatasetManifest.load(root, UUID)
    m.partitions["k=after/p0"] = _entry(root, "k=after/p0", payload=True)
    m.commit()


@pytest.mark.parametrize("point", ["sidecar", "swap", "snapshot"])
def test_crash_at_each_commit_step(tmp_path, monkeypatch, point):
    from kartothek_spark.dataset.write import garbage_collect_dataset

    root = str(tmp_path)
    monkeypatch.setattr(manifest_mod, "SIDECAR_THRESHOLD", SIDECAR)
    _create(root, keep_history=True, payload=True)
    ctx = mp.get_context("spawn")
    crash = ctx.Process(target=_crashing_commit, args=(root, point))
    crash.start()
    crash.join(timeout=60)
    assert crash.exitcode == 1

    # readers see the old version or the new one, and both are time-travelable
    live = DatasetManifest.load(root, UUID)
    landed = point == "snapshot"  # only the post-swap crash committed
    assert live.version == (2 if landed else 1)
    assert ("k=crash/p0" in live.partitions) == landed
    assert DatasetManifest.load(root, UUID, version=live.version).partitions == live.partitions

    # the dead writer's lock is gone: a fresh process commits promptly
    after = ctx.Process(target=_commit_one, args=(root,))
    after.start()
    after.join(timeout=30)
    if after.is_alive():
        after.terminate()
    assert after.exitcode == 0
    assert DatasetManifest.load(root, UUID).version == live.version + 1

    garbage_collect_dataset(root, UUID)
    versions = DatasetManifest.list_versions(root, UUID)
    assert versions[-1] == live.version + 1
    for v in versions:
        m = DatasetManifest.load(root, UUID, version=v)  # its sidecar survived
        for label in m.partitions:
            assert os.path.exists(m.file_path(label)), (v, label)
    crashed = os.path.join(root, UUID, "table", "k=crash", "p0.parquet")
    assert os.path.exists(crashed) == landed  # an uncommitted payload is garbage
