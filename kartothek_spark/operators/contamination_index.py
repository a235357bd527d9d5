"""Persisted benchmark contamination index: the benchmark side of fuzzy
decontamination as managed datasets.

:func:`~kartothek_spark.operators.dedup.fuzzy_decontaminate` re-shingles,
re-signs and re-bands the benchmark corpus on EVERY call. The real
pipeline shape is the opposite: the eval suites are indexed ONCE (they
change rarely), and every training-corpus batch probes that index — the
same build-once/probe-many inversion the SymSpell
(:mod:`~kartothek_spark.operators.fuzzy_index`), BM25
(:mod:`~kartothek_spark.operators.search_index`), PQ and winnowing
(:mod:`~kartothek_spark.operators.winnow_index`) families apply to their
expensive side. The training side still pays its own shingle/sign/band
pass per batch (it is new data, that cost is irreducible), but the plan
loses the whole benchmark-side stage chain.

Layout (two managed datasets, same manifest/commit machinery as every
other dataset):

* ``<uuid>`` — the benchmark base, one row per benchmark DOC:
  ``(bench_id, ck, sh)`` with ``ck`` the 128-bit content key over the
  normalized token stream and ``sh`` the hashed shingle array. Serves
  exact-content matches (ck equality), Jaccard verification (sh), and
  the ck -> bench_id fan-out of the pair output.
* ``<uuid>__bands`` — UNCAPPED banded rep rows, one per (content key,
  band): ``(band, key, ck)``, partitioned on ``band``, files sorted by
  ``key``. The hot-bucket cap is applied at QUERY time (one windowed
  count over benchmark-scale data — negligible by the eval-suites-are-
  small contract) so the capped set always equals the batch operator's
  over the full indexed benchmark, for ANY append history — the same
  history-dependence argument as the MinHash dedup index
  (:mod:`~kartothek_spark.operators.dedup_index`), resolved the same
  way.

Value contract: :func:`minhash_cross_pairs_indexed` and
:func:`fuzzy_decontaminate_indexed` are value-identical to their
on-the-fly twins over the indexed benchmark (shared oracles) — banding,
rep-collapse, bucket cap and Jaccard arithmetic are the dedup module's
own helpers applied to persisted inputs.

Reference parity: the persisted-index lifecycle mirrors kartothek's
X1-X5 secondary indices (kartothek/core/index.py:670-757); the
reference has no contamination layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kartothek_spark.core.manifest import DatasetManifest
from kartothek_spark.operators.dedup import (
    MAX_BAND_BUCKET,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    _banded,
    _cap_band_buckets,
    _minhash_side,
)

META_NUM_HASHES = "minhash_num_hashes"
META_BANDS = "minhash_bands"


def _bands_uuid(index_uuid: str) -> str:
    return f"{index_uuid}__bands"


def build_contamination_index(
    spark: SparkSession,
    benchmark: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    overwrite: bool = False,
    extra_metadata: dict | None = None,
) -> DatasetManifest:
    """Materialize the benchmark's MinHash artifacts as managed datasets.
    ``num_hashes``/``bands`` are baked into the band keys and recorded in
    manifest metadata — different parameters are a different index."""
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    base, reps = _minhash_side(benchmark, text_col, id_col, num_hashes)
    try:
        meta = {
            META_NUM_HASHES: num_hashes,
            META_BANDS: bands,
            **(extra_metadata or {}),
        }
        # bands FIRST, base second: the base manifest's existence defines
        # the index (queries and streaming replay detection key on it), so
        # a crash between the two commits leaves only bands debris — which
        # is definitionally stale whenever the base is absent, hence
        # overwritten by the next build attempt
        store_dataframe_as_dataset(
            spark,
            _banded(reps, bands, num_hashes // bands).select(
                "band", "key", F.col("__ck").alias("ck")
            ),
            root,
            _bands_uuid(index_uuid),
            partition_on=["band"],
            sort_partitions_by=["key"],
            metadata=dict(extra_metadata or {}),
            overwrite=overwrite or not DatasetManifest.exists(root, index_uuid),
        )
        manifest = store_dataframe_as_dataset(
            spark,
            base.select(
                F.col("__id").alias("bench_id"),
                F.col("__ck").alias("ck"),
                F.col("__sh").alias("sh"),
            ),
            root,
            index_uuid,
            sort_partitions_by=["ck"],
            metadata=meta,
            overwrite=overwrite,
        )
    finally:
        base.unpersist()
    return manifest


def sync_contamination_index(
    spark: SparkSession,
    new_bench: DataFrame,
    root: str,
    index_uuid: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_metadata: dict | None = None,
) -> DatasetManifest:
    """O(new docs) append of a benchmark update (a new eval suite): docs
    whose id is NOT yet indexed join the base; band rows are added for
    NEW content keys only (a known ck's band keys are already indexed —
    signatures are a function of the shingle set, hence of the ck).
    Re-shipping an already-indexed id is a no-op (idempotent re-delivery
    — the pair output fans out over base rows, so a duplicate row would
    duplicate pairs); shipping a KNOWN id with DIFFERENT text is a
    mutation, which this append-only index ignores — rebuild instead."""
    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.write import update_dataset

    manifest = DatasetManifest.load(root, index_uuid)
    num_hashes = int(manifest.metadata[META_NUM_HASHES])
    bands = int(manifest.metadata[META_BANDS])

    base, reps = _minhash_side(new_bench, text_col, id_col, num_hashes)
    try:
        known = read_table(
            spark, root, index_uuid, columns=["ck", "bench_id"]
        ).localCheckpoint(eager=True)
        fresh_base = base.join(
            known.select("bench_id"), base["__id"] == known["bench_id"], "left_anti"
        )
        known_cks = known.select("ck").distinct()
        fresh_reps = reps.join(
            known_cks, reps["__ck"] == known_cks["ck"], "left_anti"
        )
        # bands FIRST, stamped base second (mirrors build): if a crash
        # splits the two commits, the replayed batch re-appends its band
        # rows (the base — and with it the ck dedup floor — never
        # advanced), leaving duplicate (band, key, ck) rows; the query
        # side deduplicates the bands read before the bucket cap, so the
        # torn state is value-invisible and the re-run completes the sync
        update_dataset(
            spark,
            _banded(fresh_reps, bands, num_hashes // bands).select(
                "band", "key", F.col("__ck").alias("ck")
            ),
            root,
            _bands_uuid(index_uuid),
            sort_partitions_by=["key"],
            metadata=dict(extra_metadata or {}),
        )
        out = update_dataset(
            spark,
            fresh_base.select(
                F.col("__id").alias("bench_id"),
                F.col("__ck").alias("ck"),
                F.col("__sh").alias("sh"),
            ),
            root,
            index_uuid,
            sort_partitions_by=["ck"],
            metadata=dict(extra_metadata or {}),
        )
    finally:
        base.unpersist()
    return out


def _hit_cks(
    spark: SparkSession,
    reps_l: DataFrame,
    base_l: DataFrame,
    root: str,
    index_uuid: str,
    threshold: float,
    max_band_bucket: int | None,
    num_hashes: int,
    bands: int,
) -> DataFrame:
    """(ck_a, ck_b, jaccard) of training content keys matching an indexed
    benchmark key — the shared core of the pair and decontaminate
    queries. Same structure as minhash_cross_pairs' verified ∪ exact,
    right side read from the index."""
    from kartothek_spark.dataset.read import read_table

    bl = _cap_band_buckets(_banded(reps_l, bands, num_hashes // bands), max_band_bucket)
    # query-time cap on the index side: equals the batch operator's
    # benchmark-side cap over the full indexed benchmark for any append
    # history (bucket size = distinct cks in the bucket, as in _banded).
    # distinct() first: a torn streaming sync may leave duplicate band
    # rows, which must not inflate bucket sizes past the cap
    br = _cap_band_buckets(
        read_table(spark, root, _bands_uuid(index_uuid)).distinct(), max_band_bucket
    )
    idx_reps = (
        read_table(spark, root, index_uuid, columns=["ck", "sh"])
        .groupBy("ck")
        .agg(F.first("sh").alias("sh_b"))  # sh is ck-determined: any row works
    )

    cand = (
        bl.alias("l")
        .join(
            br.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key")),
        )
        .where(F.col("l.__ck") != F.col("r.ck"))
        .select(
            F.col("l.__id").alias("__ra"),
            F.col("l.__ck").alias("ck_a"),
            F.col("r.ck").alias("ck_b"),
        )
        .distinct()
    )
    a = base_l.select(F.col("__id").alias("__ra"), F.col("__sh").alias("sh_a"))
    verified = (
        cand.join(a, "__ra")
        .join(idx_reps, cand["ck_b"] == idx_reps["ck"])
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
                / F.size(F.array_union("sh_a", "sh_b")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("ck_a", "ck_b", "jaccard")
    )
    exact = (
        reps_l.select(F.col("__ck").alias("ck"))
        .join(idx_reps.select("ck"), "ck")
        .select(
            F.col("ck").alias("ck_a"),
            F.col("ck").alias("ck_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if threshold > 1.0:
        exact = exact.where(F.lit(False))
    return verified.unionByName(exact)


def minhash_cross_pairs_indexed(
    spark: SparkSession,
    train: DataFrame,
    root: str,
    index_uuid: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    right_id: str = "bench_id",
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Cross-corpus near-duplicate pairs ``(id_col, right_id, jaccard)``
    of training docs vs the INDEXED benchmark — value-identical to
    :func:`~kartothek_spark.operators.dedup.minhash_cross_pairs` over the
    same frames (shared oracle)."""
    from kartothek_spark.dataset.read import read_table

    if id_col == right_id:
        raise ValueError("id_col and right_id must differ in the output")
    manifest = DatasetManifest.load(root, index_uuid)
    num_hashes = int(manifest.metadata[META_NUM_HASHES])
    bands = int(manifest.metadata[META_BANDS])
    base_l, reps_l = _minhash_side(train, text_col, id_col, num_hashes)
    try:
        hits = _hit_cks(
            spark, reps_l, base_l, root, index_uuid,
            threshold, max_band_bucket, num_hashes, bands,
        )
        ma = base_l.select(F.col("__ck").alias("ck_a"), F.col("__id").alias("__la"))
        mb = read_table(spark, root, index_uuid, columns=["ck", "bench_id"]).select(
            F.col("ck").alias("ck_b"), F.col("bench_id").alias("__lb")
        )
        out = (
            hits.join(ma, "ck_a")
            .join(mb, "ck_b")
            .select(
                F.col("__la").alias(id_col),
                F.col("__lb").alias(right_id),
                "jaccard",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        base_l.unpersist()
    return out


def fuzzy_decontaminate_indexed(
    spark: SparkSession,
    train: DataFrame,
    root: str,
    index_uuid: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """The training corpus minus every doc near-duplicate (Jaccard >=
    ``threshold``) to any INDEXED benchmark doc — value-identical to
    :func:`~kartothek_spark.operators.dedup.fuzzy_decontaminate` over the
    same frames (shared oracle). The benchmark's ck -> bench_id fan-out
    is skipped entirely: hits only need the training ids. The hit list
    (bounded by contamination volume) is pinned eagerly; the returned
    anti-join plan is lazy, and — as in the on-the-fly twin — carries no
    forced broadcast (AQE broadcasts it at runtime, a pathological hit
    list degrades to a shuffle join instead of OOMing)."""
    manifest = DatasetManifest.load(root, index_uuid)
    num_hashes = int(manifest.metadata[META_NUM_HASHES])
    bands = int(manifest.metadata[META_BANDS])
    base_l, reps_l = _minhash_side(train, text_col, id_col, num_hashes)
    try:
        hit_cks = _hit_cks(
            spark, reps_l, base_l, root, index_uuid,
            threshold, max_band_bucket, num_hashes, bands,
        ).select(F.col("ck_a").alias("__ck")).distinct()
        hit_ids = (
            base_l.join(hit_cks, "__ck")
            .select(F.col("__id").alias(id_col))
            .distinct()
            .localCheckpoint(eager=True)
        )
    finally:
        base_l.unpersist()
    return train.join(hit_ids, id_col, "left_anti")


__all__ = [
    "build_contamination_index",
    "sync_contamination_index",
    "minhash_cross_pairs_indexed",
    "fuzzy_decontaminate_indexed",
]
