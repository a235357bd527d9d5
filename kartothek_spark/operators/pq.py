"""IVF-PQ: product-quantized approximate nearest neighbors.

The billion-vector scale path beyond :func:`~kartothek_spark.operators.
similarity.ivf_topk`: IVF alone still stores (and streams) the full
float vectors of every probed cell. Product quantization compresses each
corpus vector to ``m`` small codes (``m·log2(ksub)`` bits — 64-dim
float32 → 8 bytes at m=8/ksub=256, a 32× reduction), so a 100 TB
embedding corpus becomes ~3 TB of codes that scan from parquet at memory
speed, and scoring never touches the original vectors until an optional
exact re-rank of the final candidates.

Pipeline (FAISS IVFPQ structure, re-expressed for Spark):

1. **Train** (driver, bounded): one deterministic sample of the corpus
   (≤ ``sample_target`` rows, hash-chosen) trains the coarse quantizer
   (k-means over L2-normalized vectors) and, from the residuals
   ``v/‖v‖ − c_cell``, one k-means codebook per subspace. All k-means
   runs are a seeded pure-numpy implementation — bit-reproducible, no
   MLlib RNG variance. Training cost is O(sample), never O(corpus).
2. **Encode** (distributed, one ``mapInPandas`` pass): normalize → coarse
   cell (argmin over ``n_centroids``) → residual → per-subspace argmin →
   ``(id, cell, codes[m])``. The encoded frame is the thing a real
   deployment persists ``partition_on=["cell"]`` (cell = storage
   partition ⇒ probes become manifest-pruned reads).
3. **Query** (asymmetric distance, ADC): the small query side is
   collected (same contract as ``brute_force_topk``); per (query, probed
   cell) an ``m × ksub`` table of squared subspace distances is built
   driver-side (tiny: Q·nprobe·m·ksub floats) and broadcast. The
   distributed scorer streams the code frame, looks up
   ``Σᵢ dt[i, code_i]`` with one vectorized gather per batch, and keeps
   only each batch's per-query best ``refine·k`` rows, so the shuffle
   into the global rank window is O(batches · Q · refine·k), not
   O(probed corpus).
4. **Re-rank**: the global ADC top ``refine·k`` join back to the corpus
   vectors (semi-join pruned) for exact fixed-point cosine; final output
   ``(query_id, neighbor_id, rank, cos_sim)`` ranks by exact cosine with
   deterministic ties — the same schema and determinism contract as the
   other ANN operators.

Because both ranking metrics live on the unit sphere (vectors are
L2-normalized before coarse assignment), smaller ADC ⇔ larger cosine, so
ADC candidate generation and cosine re-ranking agree in the limit.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kartothek_spark.operators._util import scale_out
from kartothek_spark.operators.similarity import cos_from_ints, qdot, quantize


def _sqdist(X, C):
    """Pairwise squared distances via ‖x‖² − 2x·Cᵀ + ‖c‖²: allocates only
    the n×k result (the broadcasted (n, k, dim) tensor form costs ~1 GB
    per iteration at a 65k-row training sample). Clamped at 0 against
    negative cancellation residue."""
    import numpy as np

    d = (X * X).sum(1)[:, None] - 2.0 * (X @ C.T) + (C * C).sum(1)[None, :]
    np.maximum(d, 0.0, out=d)
    return d


def _np_kmeans(X, k: int, seed: int, iters: int = 12):
    """Seeded, deterministic k-means (numpy): random-row init without
    replacement, empty clusters re-seeded from the farthest points."""
    import numpy as np

    X = np.asarray(X, dtype="float64")
    n = len(X)
    rng = np.random.RandomState(seed)
    if n <= k:
        C = np.zeros((k, X.shape[1]))
        C[:n] = X
        return C
    C = X[rng.choice(n, size=k, replace=False)].copy()
    for _ in range(iters):
        d = _sqdist(X, C)
        a = d.argmin(1)
        far = d[np.arange(n), a].argsort()[::-1]
        fi = 0
        for j in range(k):
            pts = X[a == j]
            if len(pts):
                C[j] = pts.mean(0)
            else:
                C[j] = X[far[fi]]
                fi += 1
    return C


def _normalize(M):
    import numpy as np

    M = np.asarray(M, dtype="float64")
    nrm = np.sqrt((M * M).sum(-1, keepdims=True))
    nrm[nrm == 0] = 1.0
    return M / nrm


def train_pq(
    spark,
    df: DataFrame,
    dim: int,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 256,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_target: int = 65536,
):
    """(coarse[n_centroids, dim], codebooks[m, ksub, dim/m]) from a
    bounded deterministic sample of the corpus. ``dim`` must divide by
    ``m``."""
    import numpy as np

    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    n = df.count()
    sample = df.select(F.col(vec_col).alias("v"))
    if n > sample_target:
        sample = sample.sample(False, sample_target / n, seed=seed)
    X = _normalize([np.asarray(r.v, dtype="float64") for r in sample.collect()])
    coarse = _np_kmeans(X, n_centroids, seed=seed)
    cells = _sqdist(X, coarse).argmin(1)
    R = X - coarse[cells]
    dsub = dim // m
    codebooks = np.stack(
        [_np_kmeans(R[:, i * dsub : (i + 1) * dsub], ksub, seed=seed + 1 + i) for i in range(m)]
    )
    return coarse, codebooks


def encode_pq(
    df: DataFrame,
    coarse,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One distributed pass: ``(id, cell, codes array<int>)`` — the
    compressed representation a deployment persists partitioned by
    ``cell``."""
    import numpy as np

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        (np.asarray(coarse, dtype="float64"), np.asarray(codebooks, dtype="float64"))
    )
    m = len(codebooks)
    dsub = coarse.shape[1] // m

    def gen(batches: Iterator) -> Iterator:
        # self-contained closure (no module references): executors don't
        # need kartothek_spark on their PYTHONPATH to run the encoder
        import numpy as np
        import pandas as pd

        C, B = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.array([np.asarray(v, dtype="float64") for v in pdf["v"]])
            nrm = np.sqrt((V * V).sum(-1, keepdims=True))
            nrm[nrm == 0] = 1.0
            V = V / nrm

            def sqd(X, Cm):
                d = (X * X).sum(1)[:, None] - 2.0 * (X @ Cm.T) + (Cm * Cm).sum(1)[None, :]
                np.maximum(d, 0.0, out=d)
                return d

            cells = sqd(V, C).argmin(1)
            R = V - C[cells]
            codes = np.empty((len(V), m), dtype="int32")
            for i in range(m):
                codes[:, i] = sqd(R[:, i * dsub : (i + 1) * dsub], B[i]).argmin(1)
            yield pd.DataFrame(
                {"id": pdf["id"], "cell": cells.astype("int32"), "codes": list(codes)}
            )

    src = scale_out(df).select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    return src.mapInPandas(gen, "id long, cell int, codes array<int>")


def ivfpq_topk(
    df: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    n_centroids: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ksub: int = 256,
    refine: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    quantizers=None,
) -> DataFrame:
    """Approximate top-k via IVF-PQ with exact cosine re-rank of the ADC
    top ``refine·k``. Output ``(query_id, neighbor_id, rank, cos_sim)``,
    deterministic ties (ADC asc, id asc; then cos desc, id asc).

    ``quantizers``: optional pre-trained ``(coarse, codebooks)`` pair (as
    returned by :func:`train_pq`) — the FAISS-style "train once, search
    many" path; when given, the in-call training pass is skipped and
    ``n_centroids``/``m``/``ksub``/``seed`` are ignored."""
    spark = df.sparkSession
    if quantizers is not None:
        coarse, codebooks = quantizers
    else:
        coarse, codebooks = train_pq(
            spark, df, dim, n_centroids=n_centroids, m=m, ksub=ksub, vec_col=vec_col, seed=seed
        )
    codes = encode_pq(df, coarse, codebooks, id_col=id_col, vec_col=vec_col)
    q_ids, Qraw, Qm = _collect_queries(queries, id_col, vec_col)
    tables = _probe_tables(q_ids, Qm, coarse, codebooks, nprobe)
    shortlist = _adc_shortlist(codes, tables, refine * k)
    return _exact_rerank(shortlist, df, q_ids, Qraw, k, id_col, vec_col)


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str):
    """Collect the (small, by contract) query side: ids, raw float lists,
    and the L2-normalized matrix."""
    import numpy as np

    qrows = queries.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).collect()
    q_ids = np.array([r.id for r in qrows], dtype="int64")
    Qraw = [[float(x) for x in r.v] for r in qrows]
    Qm = _normalize([np.asarray(r.v, dtype="float64") for r in qrows])
    return q_ids, Qraw, Qm


def _probe_tables(q_ids, Qm, coarse, codebooks, nprobe: int):
    """ADC lookup tables, driver-side (Q·nprobe·m·ksub floats):
    ``tables[cell] = [(query_id, dt[m, ksub]), ...]`` for the queries
    probing that cell."""
    import numpy as np

    m = len(codebooks)
    dsub = coarse.shape[1] // m
    cd = ((Qm[:, None, :] - coarse[None, :, :]) ** 2).sum(-1)  # Q × n_centroids
    probe_cells = np.argsort(cd, axis=1, kind="stable")[:, :nprobe]
    tables: dict[int, list] = {}
    for qi in range(len(q_ids)):
        for cell in probe_cells[qi]:
            qr = Qm[qi] - coarse[cell]
            dt = np.stack(
                [
                    ((qr[i * dsub : (i + 1) * dsub][None, :] - codebooks[i]) ** 2).sum(-1)
                    for i in range(m)
                ]
            )
            tables.setdefault(int(cell), []).append((int(q_ids[qi]), dt))
    return tables


def _adc_shortlist(codes: DataFrame, tables: dict, R: int) -> DataFrame:
    """Stream the code frame past the broadcast ADC tables; one vectorized
    gather per (cell, query) per batch, each batch keeps only its per-query
    best ``R``, then a global rank window trims to the true ADC top ``R``
    (lossless: the global top-R is a subset of the union of batch top-Rs)."""
    bc = codes.sparkSession.sparkContext.broadcast(tables)

    def score(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        tbl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            out_q, out_n, out_d = [], [], []
            for cell, grp in pdf.groupby("cell"):
                plist = tbl.get(int(cell))
                if not plist:
                    continue
                ids = grp["id"].to_numpy(dtype="int64")
                codes_m = np.array([np.asarray(c, dtype="int64") for c in grp["codes"]])
                for qid, dt in plist:
                    d = dt[np.arange(dt.shape[0])[None, :], codes_m].sum(1)
                    keep = (
                        np.argsort(d, kind="stable")[:R]
                        if len(d) > R
                        else np.arange(len(d))
                    )
                    for j in keep:
                        if ids[j] != qid:
                            out_q.append(qid)
                            out_n.append(int(ids[j]))
                            out_d.append(float(d[j]))
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "adc_dist": out_d}
            )

    scored = codes.select("id", "cell", "codes").mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist double"
    )
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return scored.withColumn("__r", F.row_number().over(wa)).where(F.col("__r") <= R)


def _exact_rerank(
    shortlist: DataFrame,
    corpus: DataFrame,
    q_ids,
    Qraw,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact fixed-point cosine re-rank of the ADC shortlist against the
    original corpus vectors (semi-join pruned by the shortlist ids)."""
    spark = corpus.sparkSession
    cq = corpus.select(
        F.col(id_col).alias("neighbor_id"), quantize(F.col(vec_col)).alias("__cq")
    )
    # RAW query vectors here (not the normalized copies): cosine is
    # scale-invariant, and quantizing the same floats brute_force_topk
    # quantizes makes cos_sim values bit-identical to the exact operator
    qq = spark.createDataFrame(
        [(int(i), v) for i, v in zip(q_ids, Qraw)],
        "query_id long, __qv array<float>",
    ).select("query_id", quantize(F.col("__qv")).alias("__qq"))
    wc = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        shortlist.join(cq, "neighbor_id")
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cos_from_ints(
                qdot(F.col("__qq"), F.col("__cq")),
                qdot(F.col("__qq"), F.col("__qq")),
                qdot(F.col("__cq"), F.col("__cq")),
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(wc))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("rank").cast("long").alias("rank"), "cos_sim")
    )


_PQ_META_KEY = "pq"


def build_pq_index(
    spark,
    df: DataFrame,
    root: str,
    index_uuid: str,
    dim: int = 64,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_target: int = 65536,
):
    """Persist the PQ-compressed corpus as a managed dataset PARTITIONED
    BY CELL — the deployment shape the inline operator's docstring
    promises: every coarse cell is a hive partition, so a search's
    ``nprobe`` cells resolve to a manifest-pruned file list and the scan
    reads ``~nprobe/n_centroids`` of the (already 32×-compressed) index.
    The trained quantizers (coarse centroids + per-subspace codebooks)
    ride in the manifest metadata — one load, no side files. Returns the
    committed :class:`DatasetManifest`."""
    return _store_index(
        spark, df, root, index_uuid, dim, n_centroids, m, ksub, id_col, vec_col,
        seed, sample_target, {},
    )


def _store_index(
    spark, df, root, index_uuid, dim, n_centroids, m, ksub, id_col, vec_col,
    seed, sample_target, meta,
):
    """Train the quantizers on ``df``, encode it and store the
    cell-partitioned index; the ``pq`` metadata entry holds the
    quantizers next to ``meta`` (a sync's cursor entry)."""
    from kartothek_spark.dataset.write import store_dataframe_as_dataset

    coarse, codebooks = train_pq(
        spark, df, dim, n_centroids=n_centroids, m=m, ksub=ksub,
        vec_col=vec_col, seed=seed, sample_target=sample_target,
    )
    codes = encode_pq(df, coarse, codebooks, id_col=id_col, vec_col=vec_col)
    entry = {
        "dim": dim,
        "n_centroids": n_centroids,
        "m": m,
        "ksub": ksub,
        **meta,
        "coarse": [[float(x) for x in row] for row in coarse],
        "codebooks": [
            [[float(x) for x in row] for row in book] for book in codebooks
        ],
    }
    return store_dataframe_as_dataset(
        spark, codes, root, index_uuid, partition_on=["cell"],
        metadata={_PQ_META_KEY: entry},
    )


def search_pq_index(
    spark,
    root: str,
    index_uuid: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    refine: int = 4,
    corpus: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a persisted PQ index: the ``nprobe`` cells per query become
    ONE ``cell IN (...)`` predicate, so the code scan is a partition-pruned
    read of only the probed cells (`tests/test_pq.py` pins the pruned
    label count). With ``corpus`` the ADC shortlist is re-ranked by exact
    fixed-point cosine (output ``(query_id, neighbor_id, rank,
    cos_sim)``); without it, ranks are ADC order and the approximate
    distance is returned (``adc_dist``)."""
    import numpy as np

    from kartothek_spark.core.manifest import DatasetManifest
    from kartothek_spark.dataset.read import read_table

    manifest = DatasetManifest.load(root, index_uuid)
    meta = manifest.metadata[_PQ_META_KEY]
    coarse = np.asarray(meta["coarse"], dtype="float64")
    codebooks = np.asarray(meta["codebooks"], dtype="float64")

    q_ids, Qraw, Qm = _collect_queries(queries, id_col, vec_col)
    tables = _probe_tables(q_ids, Qm, coarse, codebooks, nprobe)
    probed = sorted(tables)
    codes = read_table(
        spark, root, index_uuid, predicates=[[("cell", "in", probed)]]
    ).select("id", F.col("cell").cast("int").alias("cell"), "codes")

    R = refine * k
    shortlist = _adc_shortlist(codes, tables, R)
    if corpus is not None:
        return _exact_rerank(shortlist, corpus, q_ids, Qraw, k, id_col, vec_col)
    return (
        shortlist.where(F.col("__r") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.col("__r").cast("long").alias("rank"),
            "adc_dist",
        )
    )


__all__ = [
    "train_pq",
    "encode_pq",
    "ivfpq_topk",
    "build_pq_index",
    "search_pq_index",
    "sync_pq_index",
    "_np_kmeans",
]


def sync_pq_index(
    spark,
    corpus_root: str,
    corpus_uuid: str,
    index_root: str,
    index_uuid: str,
    dim: int = 64,
    n_centroids: int = 16,
    m: int = 8,
    ksub: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_target: int = 65536,
):
    """Keep a persisted PQ index in sync with a history-keeping corpus
    dataset. The first call trains the quantizers on the live corpus and
    builds the cell-partitioned index; every later call encodes ONLY the
    rows appended since the cursor, with the FROZEN quantizers from the
    manifest — the production IVF-PQ contract (codebooks are versioned
    artifacts; re-training is an explicit rebuild, because new codes must
    stay comparable with old ones). Per-sync cost is O(new rows): encode
    is one mapInPandas pass over the appended files, and the commit
    appends into the existing cell partitions. Dropped corpus partitions
    force a rebuild (``mode="refresh"``: codes for removed rows cannot be
    un-appended row-wise — same contract as the dedup index). The cursor
    protocol is :func:`kartothek_spark.dataset.sync.cursor_step`. Returns
    ``{"mode", "src_version", "rows_indexed"}``."""
    import numpy as np

    from kartothek_spark.dataset.read import read_table
    from kartothek_spark.dataset.sync import cursor_step
    from kartothek_spark.dataset.write import update_dataset

    params = {
        "src_uuid": corpus_uuid,
        "dim": dim,
        "n_centroids": n_centroids,
        "m": m,
        "ksub": ksub,
    }

    def build(p):
        p.commit({index_uuid: lambda meta: _store_index(
            spark, p.full(), index_root, index_uuid, dim, n_centroids, m, ksub,
            id_col, vec_col, seed, sample_target, meta[_PQ_META_KEY],
        )})
        return read_table(spark, index_root, index_uuid).count()

    def incremental(p):
        entry = p.meta[_PQ_META_KEY]
        coarse = np.asarray(entry["coarse"], dtype="float64")
        codebooks = np.asarray(entry["codebooks"], dtype="float64")
        codes = encode_pq(p.changes(), coarse, codebooks, id_col=id_col, vec_col=vec_col)
        n = codes.count()
        p.commit({index_uuid: lambda meta: update_dataset(
            spark, codes if n else None, index_root, index_uuid, metadata=meta
        )})
        return n

    mode, version, n = cursor_step(
        spark, _PQ_META_KEY, params, corpus_root, corpus_uuid, index_root,
        (index_uuid,), build, incremental,
    )
    return {"mode": mode, "src_version": version, "rows_indexed": n or 0}
