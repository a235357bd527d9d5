"""End-to-end corpus cleaning: quality gate → decontamination → exact
dedup, as ONE batch operator and as a continuous-ingest stream.

Every serious LLM-data pipeline runs this exact sequence on each ingest
batch; here it is a first-class operator with a single composed SQL
twin, so the COMPOSITION — not just the stages — is value-oracled:

1. **Gopher quality rules** (:func:`~kartothek_spark.operators.text
   .gopher_filter`) — pure per-row JVM expressions, zero shuffle;
2. **benchmark decontamination** — the batch form uses the exact
   broadcast operator, the streaming form probes the persisted Bloom
   index (:mod:`~kartothek_spark.operators.bloom`; value-identical by
   that module's no-false-negative + exact-verification contract);
3. **exact dedup, first occurrence wins** — min id per normalized
   content fingerprint (:func:`~kartothek_spark.operators.text
   .fingerprint`).

The stage ORDER is part of the contract (the SQL twin composes in the
same order). Filter and decontamination are functions of the text
alone, so an exact-duplicate group always passes or dies as a unit and
the order cannot change the surviving id set — but downstream tooling
should still rely on the documented order, not that invariance.

Streaming form (:func:`kartothek_spark.streaming.update
.stream_clean_corpus`): the cleaned corpus is a managed dataset
partitioned on ``fpb = pmod(fp, buckets)`` with files sorted by ``fp``;
cross-batch dedup must check each batch against everything already
written, and at 100 TB that check is the whole game. The naive shape —
anti-join batch fingerprints against the output's fingerprint column —
shuffles O(history) per batch. Instead the output carries a sidecar
``<uuid>__fpbloom`` bitmap of every fingerprint ever committed
(:func:`~kartothek_spark.operators.bloom.bloom_words` over int64 keys):

* batch fingerprints prefilter through the bitmap (pure codegen / NumPy
  — no join), leaving only true dups + the designed false-positive
  trickle as candidates;
* the history fingerprint column is SCANNED once (8 bytes/doc,
  column-pruned) with the tiny candidate set broadcast into a hash
  join — history is never shuffled;
* matched fingerprints anti-join the batch. Exact by the same argument
  as decontamination: the bitmap has no false negatives (every
  committed fingerprint was merged into it BEFORE its rows were
  committed), and false positives die in the verification scan.

Commit order per micro-batch: bitmap merge FIRST (bit_or is idempotent
and order-free; a torn state where the bitmap has bits for rows that
never landed only adds harmless false positives), cleaned rows LAST
with the exactly-once ``(txn_id, batch_id)`` stamp. Cross-batch
"first occurrence" equals the batch operator's "min id" under the
monotonic-arrival contract (earlier batches carry smaller ids — the
ingest-stamp ordering every landing zone provides); out-of-order ids
keep the FIRST-SEEN copy instead, which is the standard streaming
dedup semantic (documented, same stance as the C4 span index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kartothek_spark.operators.contamination import (
    contamination_hits,
    decontaminate,
    decontaminate_sql,
)
from kartothek_spark.operators.dedup import dedup_exact_keep_sql
from kartothek_spark.operators.text import fingerprint, gopher_filter, gopher_filter_sql


def clean_corpus(
    df: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    gopher: dict | None = None,
) -> DataFrame:
    """Gopher filter → exact decontamination (n-gram vs ``benchmark``)
    → exact dedup (min id per content fingerprint), one lazy plan.
    ``gopher`` passes threshold overrides through to
    :func:`~kartothek_spark.operators.text.gopher_filter`.

    Decide-on-small-rows staging (guide §1.2/§8): the naive stage
    nesting (gopher → anti-join → dedup self-join) embeds the Gopher
    rule battery under BOTH sides of each join, so the full text-kernel
    battery re-evaluated up to 4× per action. Instead every per-doc
    signal — the Gopher verdict and the content fingerprint — is
    computed in ONE narrow pass over (id, text); the contamination hit
    list comes from its own (id, text) pass over the RAW corpus (a
    superset of the filtered corpus, which cannot change the anti-join:
    hits outside the filtered set have nothing to remove); survivors
    and the min-id-per-fingerprint winners are decided on (id, fp)
    rows; and the payload joins in by id exactly once, with no text
    kernel above the final scan. Value-identical to the nested form
    (same stage twins oracle it).

    Precondition: ``id_col`` is unique. The verdicts are decided on ids
    and the payload joins back by id, so with a repeated id a row that
    failed the filter or lost its fingerprint group leaks into the output
    beside a surviving row of that id, and a contaminated row removes
    every row of its id."""
    slim = df.select(id_col, text_col)
    sig = gopher_filter(slim, text_col, **(gopher or {})).select(
        F.col(id_col), fingerprint(text_col).alias("__fp")
    )
    bad = contamination_hits(slim, benchmark, n, text_col, id_col).select(id_col)
    survivors = sig.join(bad, id_col, "left_anti")
    keep = survivors.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "inner")


def clean_corpus_sql(
    train_sql: str,
    benchmark_sql: str,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    columns: str = "*",
    gopher: dict | None = None,
) -> str:
    """DuckDB twin of :func:`clean_corpus` — the three stage twins
    nested in the operator's order."""
    filtered = gopher_filter_sql(f"({train_sql})", text_col, **(gopher or {}))
    decon = decontaminate_sql(filtered, benchmark_sql, n, text_col, id_col)
    keep = dedup_exact_keep_sql(f"({decon})", text_col, id_col)
    return (
        f"SELECT {columns} FROM ({decon}) "
        f"WHERE {id_col} IN (SELECT {id_col} FROM ({keep}))"
    )


def leakage_safe_split(
    df: DataFrame,
    fractions: dict[str, float] | None = None,
    test_split: str = "test",
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split",
) -> DataFrame:
    """Train/test split with a ZERO-LEAKAGE guarantee: deterministic
    hash-range split (:func:`~kartothek_spark.operators.corpus
    .split_corpus` — stable under corpus growth, no shuffle), then every
    NON-test doc sharing even one n-gram shingle with any test doc is
    dropped — so no eval item's text survives in training, verbatim or
    embedded. The held-out side keeps ALL its rows; only the training
    side pays attrition (the standard construction for leakage-free
    eval sets, the split-time mirror of post-hoc decontamination).

    Scale shape: the split is one per-row hash comparison; the
    decontamination is :func:`~kartothek_spark.operators.contamination
    .decontaminate` with the TEST slice as the benchmark side — test is
    the small fraction by construction, its distinct shingle set
    broadcasts, and the training side streams through once without
    shuffling on content. Output: the input columns plus ``split``,
    containing all test rows and the leak-free training rows."""
    from kartothek_spark.operators.corpus import split_corpus

    fractions = fractions or {"train": 0.9, "test": 0.1}
    if test_split not in fractions:
        raise ValueError(
            f"leakage_safe_split: test_split {test_split!r} not in fractions "
            f"{sorted(fractions)}"
        )
    s = split_corpus(df, fractions, key_col=id_col, salt=salt)
    test = s.where(F.col("split") == test_split)
    rest = s.where(F.col("split") != test_split)
    return decontaminate(rest, test, n, text_col, id_col).unionByName(test)


def leakage_safe_split_sql(
    table: str,
    fractions: dict[str, float] | None = None,
    test_split: str = "test",
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    salt: str = "split",
    columns: str = "*",
) -> str:
    """DuckDB twin of :func:`leakage_safe_split` (same stage twins in
    the same order)."""
    from kartothek_spark.operators.corpus import split_corpus_sql

    fractions = fractions or {"train": 0.9, "test": 0.1}
    s = split_corpus_sql(table, fractions, key_col=id_col, salt=salt)
    test_sql = f"SELECT * FROM ({s}) WHERE split = '{test_split}'"
    rest_sql = f"SELECT * FROM ({s}) WHERE split <> '{test_split}'"
    clean = decontaminate_sql(rest_sql, test_sql, n, text_col, id_col, columns)
    return f"{clean} UNION ALL SELECT {columns} FROM ({test_sql})"


def with_fingerprint(
    df: DataFrame, text_col: str = "text", buckets: int = 16
) -> DataFrame:
    """Attach ``fp`` (60-bit content fingerprint) and ``fpb`` (its
    bucket — the cleaned dataset's partition key)."""
    return df.withColumn("fp", fingerprint(text_col)).withColumn(
        "fpb", F.pmod(F.col("fp"), F.lit(buckets)).cast("int")
    )


def keep_first_per_fingerprint(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Within-frame exact dedup over a frame that already carries
    ``fp``: min id per fingerprint, only (fp, id) shuffles."""
    keep = df.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "inner")


__all__ = [
    "clean_corpus",
    "clean_corpus_sql",
    "leakage_safe_split",
    "leakage_safe_split_sql",
    "with_fingerprint",
    "keep_first_per_fingerprint",
]
