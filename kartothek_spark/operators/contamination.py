"""Benchmark decontamination: flag (or drop) training documents that
share word n-grams with a held-out evaluation set.

The standard LLM-pipeline guard (GPT-3 appendix C / PaLM / Llama style):
an eval example "contaminates" a training doc when the two share at least
one n-word shingle. At 100 TB the training side is huge but the benchmark
side is tiny (eval sets are thousands of rows), so the scale shape is:

1. distinct shingle hashes of the BENCHMARK side — a small set, collected
   into a broadcast hash relation;
2. one explode over the training side's distinct shingles, semi-joined
   (broadcast) against that set — no shuffle of the corpus, no pairwise
   comparison, cost is one scan of the training text.

Everything is the cross-engine 60-bit md5 shingle hash
(``functions/hashing.py``), so the whole operator has a value-exact
DuckDB oracle. No Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kartothek_spark.functions.hashing import (
    h60,
    h60_sql,
    shingles_from_tokens,
    tokens,
    tokens_sql,
    word_shingles_sql,
)


def _doc_shingle_hashes(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, shingle-hash) pairs, distinct per doc. Tokenization is staged
    into its own projection so the shingle lambda never re-runs the regex
    split per position (see shingles_from_tokens)."""
    # shingle hashing is the dominant per-row cost of every contamination
    # operator; scale_out first so a single-split input (one parquet row
    # group) doesn't run the tokenize+md5 pass on one core (guide §2.6).
    # No-op at real scale, where inputs have >= defaultParallelism splits.
    from kartothek_spark.operators._util import scale_out

    return (
        scale_out(df).select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
        .select(F.col(id_col), F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("_sh"))
        .select(F.col(id_col), h60(F.col("_sh")).alias("_h"))
    )


def contamination_hits(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-training-doc contamination report: ``(id, n_hits)`` where
    ``n_hits`` counts the doc's distinct n-gram shingles that also occur
    anywhere in the benchmark. Only contaminated docs (n_hits > 0) are
    returned. Benchmark shingles are deduplicated then broadcast."""
    bench_hashes = (
        _doc_shingle_hashes(benchmark, text_col, id_col, n).select("_h").distinct()
    )
    doc_hashes = _doc_shingle_hashes(train, text_col, id_col, n)
    return (
        doc_hashes.join(F.broadcast(bench_hashes), "_h")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The corpus minus contaminated docs: left-anti join of the training
    side against the hit list. No forced broadcast hint: the hit list is
    normally tiny (bounded by contamination volume) and AQE converts the
    anti join to a broadcast join at runtime when it is — but a
    pathologically contaminated corpus (or "benchmark" pointed at a
    second full corpus) must fall back to a shuffle join, not OOM the
    executors on a forced broadcast. Pinned by
    ``tests/test_plans.py::test_decontaminate_anti_join_broadcasts``."""
    hits = contamination_hits(train, benchmark, n, text_col, id_col).select(id_col)
    return train.join(hits, id_col, "left_anti")


def benchmark_contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """EVAL-side attribution — the mirror view of
    :func:`contamination_hits`: for each BENCHMARK item, ``n_train_docs``
    = distinct training docs sharing at least one n-gram shingle with it
    and ``n_shared_shingles`` = how many of its distinct shingles occur
    in training — the "is my eval compromised, and how badly" dashboard
    an eval owner reads before trusting a score. Only compromised items
    (≥1 hit) are returned. Scale shape: the benchmark's (id, shingle)
    pairs are the small side (eval suites are thousands of rows) and are
    broadcast; the training side streams through once, never shuffles."""
    bench = _doc_shingle_hashes(benchmark, text_col, id_col, n).select(
        F.col(id_col).alias("bench_id"), "_h"
    )
    train_h = _doc_shingle_hashes(train, text_col, id_col, n).select(
        F.col(id_col).alias("_tid"), "_h"
    )
    return (
        train_h.join(F.broadcast(bench), "_h")
        .groupBy("bench_id")
        .agg(
            F.countDistinct("_tid").alias("n_train_docs"),
            F.countDistinct("_h").alias("n_shared_shingles"),
        )
    )


def benchmark_contamination_report_sql(
    train_sql: str,
    benchmark_sql: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    sh = word_shingles_sql(text_col, n)
    h = h60_sql("_sh")
    return f"""
WITH bench_h AS (
  SELECT {id_col} AS bench_id, {h} AS _h
  FROM (SELECT {id_col}, unnest({sh}) AS _sh FROM ({benchmark_sql}))
), doc_h AS (
  SELECT {id_col} AS _tid, {h} AS _h
  FROM (SELECT {id_col}, unnest({sh}) AS _sh FROM ({train_sql}))
)
SELECT bench_id, count(DISTINCT _tid) AS n_train_docs,
       count(DISTINCT _h) AS n_shared_shingles
FROM doc_h JOIN bench_h USING (_h)
GROUP BY bench_id
"""


def contamination_hits_sql(
    train_sql: str,
    benchmark_sql: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB oracle for contamination_hits. ``train_sql``/``benchmark_sql``
    are full SELECTs (or bare table names) producing (id, text)."""
    sh = word_shingles_sql(text_col, n)
    h = h60_sql("_sh")
    return f"""
WITH bench_h AS (
  SELECT DISTINCT {h} AS _h
  FROM (SELECT unnest({sh}) AS _sh FROM ({benchmark_sql}))
), doc_h AS (
  SELECT {id_col}, {h} AS _h
  FROM (SELECT {id_col}, unnest({sh}) AS _sh FROM ({train_sql}))
)
SELECT {id_col}, count(*) AS n_hits
FROM doc_h JOIN bench_h USING (_h)
GROUP BY {id_col}
"""


def decontaminate_sql(
    train_sql: str,
    benchmark_sql: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    columns: str = "*",
) -> str:
    hits = contamination_hits_sql(train_sql, benchmark_sql, n, text_col, id_col)
    return f"""
SELECT {columns} FROM ({train_sql})
WHERE {id_col} NOT IN (SELECT {id_col} FROM ({hits}))
"""


def novelty_report(
    df: DataFrame,
    reference: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc n-gram novelty vs a reference corpus — contamination
    inverted: ``(id, n_shingles, n_novel, novelty)`` where ``n_novel``
    counts the doc's distinct n-gram shingles NOT occurring anywhere in
    the reference and ``novelty = n_novel / n_shingles`` (round-6; docs
    with no shingle at all report novelty 1.0 — nothing was recycled).
    The eval-set freshness report: before trusting a new benchmark,
    check its items aren't recycled training text. In the primary use
    case (score an eval set against the TRAINING corpus) the reference
    side is the unbounded 100 TB side and the SCORED side is the small
    one — the inverse of :func:`contamination_hits` — so there is NO
    forced broadcast here (the module's documented stance): AQE picks
    broadcast when the reference's distinct shingle set is actually
    small, and falls back to a shuffle join when it isn't, instead of
    OOMing the executors on a forced hint."""
    ref_hashes = (
        _doc_shingle_hashes(reference, text_col, id_col, n).select("_h").distinct()
    )
    return _novelty_vs_ref_hashes(df, ref_hashes, n, text_col, id_col)


def _novelty_vs_ref_hashes(
    df: DataFrame, ref_hashes: DataFrame, n: int, text_col: str, id_col: str
) -> DataFrame:
    """Shared novelty kernel over a precomputed distinct reference
    shingle-hash relation (column ``_h``)."""
    doc_hashes = _doc_shingle_hashes(df, text_col, id_col, n)
    counted = (
        doc_hashes.join(ref_hashes.withColumn("__hit", F.lit(1)), "_h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("n_novel"),
        )
    )
    return (
        df.select(id_col)
        .join(counted, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_shingles"), F.lit(0)).alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).alias("n_novel"),
            F.round(
                F.when(
                    F.coalesce(F.col("n_shingles"), F.lit(0)) == 0, F.lit(1.0)
                ).otherwise(F.col("n_novel") / F.col("n_shingles")),
                6,
            ).alias("novelty"),
        )
    )


def novelty_report_sql(
    df_sql: str,
    reference_sql: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    sh = word_shingles_sql(text_col, n)
    h = h60_sql("_sh")
    return f"""
WITH ref_h AS (
  SELECT DISTINCT {h} AS _h, 1 AS __hit
  FROM (SELECT unnest({sh}) AS _sh FROM ({reference_sql}))
), doc_h AS (
  SELECT {id_col}, {h} AS _h
  FROM (SELECT {id_col}, unnest({sh}) AS _sh FROM ({df_sql}))
), counted AS (
  SELECT {id_col}, count(*) AS n_shingles,
         CAST(sum(CASE WHEN __hit IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM doc_h LEFT JOIN ref_h USING (_h)
  GROUP BY {id_col}
)
SELECT d.{id_col},
       coalesce(n_shingles, 0) AS n_shingles,
       coalesce(n_novel, 0) AS n_novel,
       round(CASE WHEN coalesce(n_shingles, 0) = 0 THEN 1.0
             ELSE n_novel / n_shingles END, 6) AS novelty
FROM (SELECT {id_col} FROM ({df_sql})) d LEFT JOIN counted USING ({id_col})
"""


def source_overlap(
    df: DataFrame,
    n: int = 8,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pairwise n-gram overlap matrix between corpus GROUPS (sources,
    snapshots, providers) — the dataset-procurement question "how much
    of feed B is already in feed A" answered before paying for feed B,
    and the group-level mirror of per-doc contamination. Per unordered
    group pair with at least one shared shingle:
    ``(src_a, src_b, n_shared, n_a, n_b, jaccard)`` where ``n_*`` are
    the groups' distinct n-gram shingle counts, ``n_shared`` the
    distinct shingles occurring in BOTH, and
    ``jaccard = shared / (n_a + n_b - shared)`` (rounded 6).

    Scale shape: one distinct over (group, shingle-hash) — map-side
    combinable — then a self-equi-join on the hash (co-partitioned,
    the pair fan-out per hash is bounded by the GROUP count squared,
    not by data) and a tiny per-pair count; group totals broadcast
    into the final projection. Nothing ever pairs at document
    granularity.

    The distinct (group, hash) set is MATERIALIZED once (eager
    localCheckpoint): it feeds three consumers (both self-join sides +
    the totals agg) and Spark's exchange reuse measurably does NOT fire
    across the aliased join sides (0 ReusedExchange in the executed
    plan at every SF tried), so the lazy form runs the corpus
    tokenize+shingle+md5 pass THREE times. On an idle local[32] at
    sf0.1 the extra passes hide in unused cores (wall ~equal); on a
    saturated cluster they are 3x the dominant cost — three full corpus
    scans instead of one. The checkpoint is 16 bytes/distinct-shingle
    on local disk — strictly smaller than one extra corpus pass, and
    this is a terminal report operator (G^2-row output), not a
    composable plan fragment."""
    from kartothek_spark.operators._util import scale_out

    sh = (
        scale_out(df)
        .select(F.col(group_col).alias("grp"), tokens(F.col(text_col)).alias("_t"))
        .select("grp", F.explode(shingles_from_tokens(F.col("_t"), n)).alias("_sh"))
        .select("grp", h60(F.col("_sh")).alias("_h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    totals = sh.groupBy("grp").agg(F.count("*").alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "_h")
        .where(F.col("a.grp") < F.col("b.grp"))
        .groupBy(F.col("a.grp").alias("src_a"), F.col("b.grp").alias("src_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    out = (
        pairs.join(F.broadcast(totals.select(F.col("grp").alias("src_a"), F.col("n").alias("n_a"))), "src_a")
        .join(F.broadcast(totals.select(F.col("grp").alias("src_b"), F.col("n").alias("n_b"))), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )
    return out


def source_overlap_sql(
    table: str,
    n: int = 8,
    text_col: str = "text",
    group_col: str = "source",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`source_overlap` (value-exact: integer
    counts and one rounded division)."""
    sh = word_shingles_sql(text_col, n)
    h = h60_sql("_sh")
    return f"""
WITH gh AS (
  SELECT DISTINCT grp, {h} AS _h
  FROM (SELECT {group_col} AS grp, unnest({sh}) AS _sh FROM {table})
), totals AS (
  SELECT grp, count(*) AS n FROM gh GROUP BY grp
), pairs AS (
  SELECT a.grp AS src_a, b.grp AS src_b, count(*) AS n_shared
  FROM gh a JOIN gh b ON a._h = b._h AND a.grp < b.grp
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared, ta.n AS n_a, tb.n AS n_b,
       round(n_shared / CAST(ta.n + tb.n - n_shared AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN totals ta ON ta.grp = src_a
JOIN totals tb ON tb.grp = src_b
"""


# note on tokenization reuse: tokens_sql is imported for callers that
# build custom oracle CTEs around this operator
__all__ = [
    "contamination_hits",
    "decontaminate",
    "novelty_report",
    "source_overlap",
    "contamination_hits_sql",
    "decontaminate_sql",
    "novelty_report_sql",
    "source_overlap_sql",
    "tokens_sql",
]
