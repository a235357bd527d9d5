"""Shared operator utilities."""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

# semanticHash -> input partition count; bounded, cleared wholesale on
# overflow (a heuristic cache — staleness is acceptable, growth is not)
_PROBE_CACHE: dict[int, int] = {}


def scale_out(df: DataFrame, factor: int = 1) -> DataFrame:
    """Ensure enough input partitions for compute-heavy narrow stages.

    A small file set (e.g. one parquet file under
    ``spark.sql.files.maxPartitionBytes``) yields one input split, so a
    per-row-expensive projection (hashing every shingle, folding every
    embedding) runs on ONE core regardless of cluster size. Repartitioning
    the narrow input costs a shuffle of the raw rows — trivial next to the
    compute — and is a no-op at real scale, where the input already has at
    least ``defaultParallelism`` splits.

    The probe (``df.rdd.getNumPartitions()``) costs a plan-analysis round
    trip, so results are memoized on the DataFrame's semantic hash —
    operator pipelines that call several operators over the same scan pay
    it once per distinct plan, not once per call. The memo trades exact
    freshness for latency (a same-plan scan over a directory that grew
    mid-session reuses the old count), which is fine for a parallelism
    heuristic; ``spark.kartothek.scaleOutProbe=false`` disables the probe
    (and the repartition) entirely.
    """
    sc = df.sparkSession.sparkContext
    if df.sparkSession.conf.get("spark.kartothek.scaleOutProbe", "true") == "false":
        return df
    target = sc.defaultParallelism * factor
    try:
        key = df.semanticHash()
    except Exception:
        key = None
    if key is not None and key in _PROBE_CACHE:
        parts = _PROBE_CACHE[key]
    else:
        parts = df.rdd.getNumPartitions()
        if key is not None:
            if len(_PROBE_CACHE) >= 512:
                _PROBE_CACHE.clear()
            _PROBE_CACHE[key] = parts
    if parts < max(2, target // 2):
        return df.repartition(target)
    return df


def release_on_gc(out: DataFrame, *pins: DataFrame) -> DataFrame:
    """Tie persisted ``pins`` to the lifetime of ``out`` (lazy return).

    The pair operators pin shared sub-frames (persist) because their
    result plan consumes them from several branches. The ``"checkpoint"``
    lifecycle (:func:`finish`) eagerly ``localCheckpoint``s the result so
    the pins can be released before returning — at the price of one extra
    job plus a full materialization of the result to executor storage,
    even when the caller runs a single action (count, one write) and never
    reuses the frame. This helper is the ``"scoped"`` lifecycle, the lazy
    alternative: the pins stay cached
    (first action computes each pinned frame once, every branch reuses
    the blocks) and are unpersisted when the returned DataFrame is
    garbage-collected. Callers that run MANY actions over the result
    should still checkpoint/persist it themselves.

    The finalizer holds only the pinned frames, never ``out`` (a
    reference would make the frame immortal). Unpersist after session
    stop is swallowed — nothing to release then.

    LIFETIME: the pins release when ``out`` — the exact Python object
    returned here — is collected. A caller that derives a new frame
    (``select``/``filter``/...) and drops this one releases the pins
    BEFORE its action runs, silently losing the caching. Such callers
    must chain the release through the derivation::

        release_on_gc(result.select(...), result)

    (the new finalizer's closure keeps ``result`` — and transitively
    its own pins — alive until the derived frame dies; the extra
    ``unpersist`` on the unpersisted ``result`` is a no-op).
    """
    def _release(frames=pins):
        for f in frames:
            try:
                f.unpersist()
            except Exception:
                pass

    weakref.finalize(out, _release)
    return out


LIFECYCLES = ("checkpoint", "scoped", "lazy")


def _check_lifecycle(lifecycle: str) -> None:
    if lifecycle not in LIFECYCLES:
        raise ValueError(f"lifecycle must be one of {LIFECYCLES}, got {lifecycle!r}")


def pin(df: DataFrame, lifecycle: str) -> DataFrame:
    """Persist ``df`` — a sub-frame an operator's plan reads from several
    branches — unless ``lifecycle`` is ``"lazy"``. Release it through
    :func:`finish`."""
    _check_lifecycle(lifecycle)
    return df if lifecycle == "lazy" else df.persist()


def finish(out: DataFrame, lifecycle: str, *pins: DataFrame) -> DataFrame:
    """Return an operator's result ``out`` under ``lifecycle``, releasing
    the frames :func:`pin` persisted for it. The one result-lifecycle
    mechanism of the pair operators (their ``lifecycle`` parameter):

    - ``"checkpoint"`` (the default): ``localCheckpoint(eager=True)`` the
      result — one extra job that stores it in executor storage, then
      the pins are unpersisted in a ``finally``, so a failure raised
      inside the checkpoint job (a guard such as ``max_len``) leaks no
      storage either. Deterministic cleanup; the result is cheap to
      reuse across many actions.
    - ``"scoped"``: lazy return; the pins stay cached for the caller's
      actions (each pinned frame computes once, every branch reuses its
      blocks) and unpersist when ``out`` is garbage-collected — see
      :func:`release_on_gc`, whose LIFETIME note applies to any frame
      derived from the result.
    - ``"lazy"``: the plan as is, nothing pinned (:func:`pin` persisted
      nothing), so branches recompute — for plan inspection and for
      pipelines that manage caching themselves.
    """
    _check_lifecycle(lifecycle)
    if lifecycle == "scoped":
        return release_on_gc(out, *pins)
    if lifecycle == "lazy":
        return out
    try:
        return out.localCheckpoint(eager=True)
    finally:
        for f in pins:
            f.unpersist()
