"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Each operator is pure DataFrame algebra (no Python UDFs) built on the
cross-engine hash primitives in ``functions.hashing``, so every pipeline —
including the MinHash signatures and SimHash fingerprints — has a
bit-exact DuckDB oracle.

Scale design (the point of these at 100 TB):

* exact dedup — one hash-groupBy on the fingerprint; map-side combine,
  single shuffle keyed by a 60-bit int, no skew (hash keys are uniform).
* MinHash LSH — signatures are a narrow projection (no shuffle); the ONLY
  shuffle is the self-join on (band_id, band_key), whose key cardinality
  grows with corpus size so partitions stay bounded; candidate pairs ≪
  all-pairs, and Jaccard verification touches candidates only.
* SimHash — same banding trick over 15-bit chunks of the fingerprint.
* n-gram Jaccard — inverted-index form (explode → join on gram) is the
  scalable exact path; grams with extreme document frequency should be
  dropped first at real scale (stopword grams create quadratic blowup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kartothek_spark.functions.hashing import (
    bind_once,
    bind_value,
    char_ngrams_sql,
    h60,
    h60_sql,
    shingles_from_tokens,
    tokens,
    tokens_sql,
    word_shingles_sql,
)
from kartothek_spark.operators.text import fingerprint, fingerprint_sql
from kartothek_spark.operators._util import finish, pin, scale_out

# MinHash defaults: 12 permutations in 4 bands × 3 rows
MINHASH_NUM_HASHES = 12
MINHASH_BANDS = 4
MINHASH_ROWS = MINHASH_NUM_HASHES // MINHASH_BANDS
MINHASH_SHINGLE_WORDS = 3

SIMHASH_BITS = 60
SIMHASH_BAND_BITS = 15
SIMHASH_BANDS = SIMHASH_BITS // SIMHASH_BAND_BITS

# Band buckets larger than this are dropped from candidate generation.
# The rep-collapse guard removes IDENTICAL documents before banding, but a
# mega-cluster of NEAR-identical boilerplate (one token differing) still
# lands d distinct signatures in shared band keys → d²/2 join candidates
# through one task. Capping trades recall for a hard blowup bound: members
# of a dropped bucket can still pair via their other (colder) bands, and
# their exact-duplicate cores are paired by the rep-collapse regardless.
MAX_BAND_BUCKET = 8192


def _cap_band_buckets(banded: DataFrame, max_band_bucket: int | None) -> DataFrame:
    """Drop (band, key) buckets with more than ``max_band_bucket`` members.

    One windowed count over the same (band, key) shuffle the candidate
    self-join needs anyway (exchange reuse); the count task over a hot
    bucket is O(d), never O(d²) — the whole point of the cap."""
    if max_band_bucket is None:
        return banded
    wbk = Window.partitionBy("band", "key")
    return (
        banded.withColumn("__bsz", F.count(F.lit(1)).over(wbk))
        .where(F.col("__bsz") <= max_band_bucket)
        .drop("__bsz")
    )


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id document per normalized-content fingerprint.

    One shuffle: min(id) per 60-bit fingerprint (map-side combined), then
    an inner self-join to recover surviving rows — at scale this beats a
    window over the full payload because only (fingerprint, id) shuffles.
    """
    fp = df.select(fingerprint(text_col).alias("__fp"), F.col(id_col))
    keep = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep.select(id_col), id_col, "inner")


def dedup_exact_keep_sql(table: str, text_col: str, id_col: str) -> str:
    fp = fingerprint_sql(text_col)
    return (
        f"SELECT {id_col} FROM (SELECT {id_col}, row_number() OVER "
        f"(PARTITION BY {fp} ORDER BY {id_col}) AS rn FROM {table}) WHERE rn = 1"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _perm_key(i: int) -> int:
    """60-bit XOR-permutation key for minhash i — the Python rendering of
    ``h60('perm:<i>')`` so Spark, DuckDB, and the planner all agree."""
    import hashlib

    return int(hashlib.md5(f"perm:{i}".encode()).hexdigest()[:15], 16)


def hashed_shingles(toks: F.Column, n: int) -> F.Column:
    """60-bit hashes of the word n-gram shingles (one md5 per shingle).
    All downstream MinHash stages — signature fold, Jaccard verification —
    run on these longs instead of the ~20-bytes-per-shingle strings:
    persisted/shuffled shingle state shrinks ~4×, set operations compare
    longs, and values stay identical to string-shingle semantics (the
    hash is injective modulo 60-bit md5 collisions, and the DuckDB twin
    applies the identical hash — so the comparison is bit-exact across
    engines either way)."""
    return F.transform(shingles_from_tokens(toks, n), lambda s: h60(s))


def minhash_sig_expr(sh_col: str, num_hashes: int = MINHASH_NUM_HASHES) -> F.Column:
    """MinHash signature (array<bigint>, one min per permutation) as ONE
    per-row SQL higher-order fold over a HASHED shingle-array column
    (:func:`hashed_shingles`) — no explode, no groupBy, no shuffle.
    Measured ~30× faster at sf0.1 than the explode →
    groupBy(num_hashes min-aggregates) shape, which shuffled an
    (id, hash) row per shingle. Each hash is XOR'd against each
    permutation key in a zip_with; value-identical to the aggregation
    form and to :func:`minhash_signature_sql`."""
    keys = ", ".join(f"{_perm_key(j)}L" for j in range(num_hashes))
    # sentinel above any 60-bit value; callers guarantee non-empty shingle
    # arrays (empty docs shingle to [""]), so it never survives
    return F.expr(f"""
aggregate(
  `{sh_col}`,
  array_repeat({1 << 62}L, {num_hashes}),
  (acc, hs) -> zip_with(acc, array({keys}), (m, k) -> least(m, hs ^ k))
)""")


def minhash_signature_sql(expr: str, num_hashes: int = MINHASH_NUM_HASHES, shingle_words: int = MINHASH_SHINGLE_WORDS) -> str:
    sh = word_shingles_sql(expr, shingle_words)
    keys = ", ".join(str(_perm_key(j)) for j in range(num_hashes))
    return (
        f"list_transform([{keys}], "
        f"k -> list_aggregate(list_transform({sh}, s -> xor({h60_sql('s')}, k)), 'min'))"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact Jaccard verification.

    ``max_band_bucket`` caps candidate generation per (band, key) bucket —
    see :data:`MAX_BAND_BUCKET` for the recall tradeoff; ``None`` disables.
    ``lifecycle`` picks how the result and its pinned base are released
    (``"checkpoint"``, ``"scoped"`` or ``"lazy"`` — see
    :func:`~kartothek_spark.operators._util.finish`); the pair operators
    of this module share it.

    Plan shape (the 100 TB shape): per-row signature FOLD over the
    shingle array (:func:`minhash_sig_expr` — one md5 per shingle, zero
    shuffle; the only shuffles left are the rep-collapse groupBy and the
    band self-join) → explode bands → self-join on (band, band key) →
    distinct candidate pairs → verify Jaccard on the candidates only.
    Output: (id_a, id_b, jaccard) with id_a < id_b and
    jaccard >= threshold.
    """
    base, _reps, key_pairs = minhash_key_pairs(
        df, text_col, id_col, threshold, num_hashes, bands, max_band_bucket, lifecycle
    )
    return finish(member_pairs(base.select("__id", "__ck"), key_pairs, threshold), lifecycle, base)


def minhash_key_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_band_bucket: int | None,
    lifecycle: str,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The content-key half of :func:`minhash_lsh_pairs`: ``(base, reps,
    key_pairs)`` with ``base``/``reps`` from :func:`_minhash_side` (``base``
    pinned under ``lifecycle``, released by the caller) and ``key_pairs``
    the verified ``(ck_a, ck_b, jaccard)`` relation between distinct
    content keys (``ck_a`` the key of the smaller representative id). The
    persisted MinHash index (``operators/dedup_index.py``) builds from it
    with ``max_band_bucket=None``."""
    rows = num_hashes // bands
    # base / rep-collapse / banding come from the SHARED _minhash_side /
    # _banded helpers (one copy of the skew-guard machinery for the
    # single-corpus and cross-corpus operators — see their docstrings for
    # the staging, content-key, and hashed-shingle rationale)
    base, reps = _minhash_side(df, text_col, id_col, num_hashes, lifecycle)
    banded = _cap_band_buckets(_banded(reps, bands, rows), max_band_bucket)

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
    )

    # verification fetches shingle arrays from the (persisted) base by
    # representative id — arrays travel only for candidate rows
    a = base.select(F.col("__id").alias("id_a"), F.col("__ck").alias("ck_a"), F.col("__sh").alias("sh_a"))
    b = base.select(F.col("__id").alias("id_b"), F.col("__ck").alias("ck_b"), F.col("__sh").alias("sh_b"))
    key_pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
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
    return base, reps, key_pairs


def member_pairs(members: DataFrame, key_pairs: DataFrame, threshold: float) -> DataFrame:
    """Document pairs ``(id_a, id_b, jaccard)``, ``id_a < id_b``, of the
    ``(__id, __ck)`` ``members``: every member cross pair of each verified
    key pair, plus every pair inside one content key (identical shingle
    sets, jaccard exactly 1)."""
    ma = members.select(F.col("__ck").alias("ck_a"), F.col("__id").alias("ia"))
    mb = members.select(F.col("__ck").alias("ck_b"), F.col("__id").alias("ib"))
    cross = (
        key_pairs.join(ma, "ck_a")
        .join(mb, "ck_b")
        .select(
            F.least("ia", "ib").alias("id_a"),
            F.greatest("ia", "ib").alias("id_b"),
            "jaccard",
        )
    )
    # intra-cluster pairs: identical shingle sets → jaccard exactly 1.
    # (A shingle set is never empty: the null-text filter ran and empty
    # docs shingle to [""], so the naive form's 0/0 NULL cannot occur.)
    il, ir = members.alias("il"), members.alias("ir")
    intra = il.join(
        ir, (F.col("il.__ck") == F.col("ir.__ck")) & (F.col("il.__id") < F.col("ir.__id"))
    ).select(
        F.col("il.__id").alias("id_a"),
        F.col("ir.__id").alias("id_b"),
        F.lit(1.0).alias("jaccard"),
    )
    if threshold > 1.0:
        intra = intra.where(F.lit(False))
    return cross.unionByName(intra)


def _minhash_side_sql(
    tag: str, table: str, text: str, idc: str,
    num_hashes: int, rows: int, bands: int, cap: str,
) -> str:
    """The shared base/reps/banded/capped CTE chain of one corpus side —
    used by BOTH :func:`minhash_lsh_pairs_sql` (self) and
    :func:`minhash_cross_pairs_sql` (two-sided), so the skew-guard
    structure (rep-collapse, per-(band, key) cap) can never drift between
    the twins. Mirrors :func:`_minhash_side` / :func:`_banded`
    structurally so capped results stay bit-identical across engines."""
    sig = minhash_signature_sql(text, num_hashes)
    sh = word_shingles_sql(text, MINHASH_SHINGLE_WORDS)
    toks = tokens_sql(text)
    return f"""base_{tag} AS (
  SELECT {idc} AS id, md5(array_to_string({toks}, chr(1))) AS ck, {sig} AS sig,
         list_transform({sh}, s -> {h60_sql('s')}) AS sh
  FROM {table}
  WHERE {text} IS NOT NULL
), reps_{tag} AS (
  SELECT ck, min(id) AS rid, any_value(sig) AS sig, any_value(sh) AS sh
  FROM base_{tag} GROUP BY ck
), banded_{tag} AS (
  SELECT rid, ck, b.band AS band,
         array_to_string(list_slice(sig, b.band * {rows} + 1, (b.band + 1) * {rows}), '_') AS key
  FROM reps_{tag}, (SELECT unnest(range(0, {bands})) AS band) b
), capped_{tag} AS (
  SELECT rid, ck, band, key FROM (
    SELECT rid, ck, band, key, count(*) OVER (PARTITION BY band, key) AS bsz
    FROM banded_{tag}
  ) {cap}
)"""


_JACCARD_SQL = (
    "round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)"
    " / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 6)"
)


def minhash_lsh_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> str:
    rows = num_hashes // bands
    cap = "" if max_band_bucket is None else f"WHERE bsz <= {max_band_bucket}"
    intra = (
        ""
        if threshold > 1.0
        else """
  UNION ALL
  SELECT a.id AS id_a, b.id AS id_b, CAST(1.0 AS DOUBLE) AS jaccard
  FROM base_s a JOIN base_s b ON a.ck = b.ck AND a.id < b.id"""
    )
    return f"""
WITH {_minhash_side_sql('s', table, text_col, id_col, num_hashes, rows, bands, cap)},
cand AS (
  SELECT DISTINCT l.ck AS ck_a, r.ck AS ck_b
  FROM capped_s l JOIN capped_s r ON l.band = r.band AND l.key = r.key AND l.rid < r.rid
), ver AS (
  SELECT c.ck_a, c.ck_b, {_JACCARD_SQL} AS jaccard
  FROM cand c JOIN reps_s a ON c.ck_a = a.ck JOIN reps_s b ON c.ck_b = b.ck
  WHERE {_JACCARD_SQL} >= {threshold}
), out AS (
  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, v.jaccard
  FROM ver v JOIN base_s ma ON v.ck_a = ma.ck JOIN base_s mb ON v.ck_b = mb.ck{intra}
)
SELECT id_a, id_b, jaccard FROM out
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(col):
    """60-bit SimHash over distinct tokens: bit j is set iff more token
    hashes have bit j set than not. Pure column expressions, zero shuffle;
    the bit loop is unrolled in Python (shift amounts must be literals)."""
    toks = F.array_distinct(tokens(col))
    hashes = F.transform(toks, lambda t: h60(t))

    def vote_fn(j: int):
        # closure (NOT a default arg: pyspark HOFs turn extra lambda
        # params into lambda-variable Columns)
        return lambda a, h: a + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    total = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        vote = F.aggregate(hashes, F.lit(0).cast("long"), vote_fn(j))
        total = total + F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
    return total


def simhash_sql(expr: str) -> str:
    toks = f"list_distinct({tokens_sql(expr)})"
    hashes = f"list_transform({toks}, t -> {h60_sql('t')})"
    votes = (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({hashes}, h -> CASE WHEN (h >> j) & 1 = 1 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), "
        f"(a, b) -> a + b)"
    )
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(0, {SIMHASH_BITS}), "
        f"j -> CASE WHEN {votes} > 0 THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), "
        f"(a, b) -> a + b)"
    )


def _simhash_fold_expr(text_col: str) -> F.Column:
    """SimHash as ONE per-row SQL higher-order fold — no explode, no
    shuffle, no join. The accumulator is (token count, 60-wide ones-count
    array); the finish lambda recombines bits with the ties-to-zero rule
    (2·ones > n) the ±1-vote form implies. Measured ~9× faster at sf0.1
    than the previous explode → groupBy(60 aggregates) → join-back shape:
    that plan shuffled (id, hash) pairs and paid a join to restore
    token-less docs, where this is a straight-line projection the scan
    pipeline absorbs. Tokenization/hash inline-mirror functions.hashing
    (``TOKEN_PATTERN``, ``h60``); distinct runs on TOKENS (not hashes) to
    stay bit-identical to :func:`simhash_sql`."""
    from kartothek_spark.functions.hashing import TOKEN_PATTERN

    b = SIMHASH_BITS
    return F.expr(f"""
coalesce(aggregate(
  transform(
    array_distinct(filter(split(lower(`{text_col}`), '{TOKEN_PATTERN}'), t -> t != '')),
    t -> conv(substring(md5(t), 1, 15), 16, 10)
  ),
  named_struct('n', 0L, 'v', array_repeat(0L, {b})),
  (acc, hs) -> named_struct(
    'n', acc.n + 1L,
    'v', zip_with(acc.v,
                  transform(sequence(0, {b - 1}),
                            j -> shiftright(cast(hs as bigint), j) & 1L),
                  (a, o) -> a + o)),
  acc -> aggregate(
    zip_with(acc.v, sequence(0, {b - 1}),
             (ones, j) -> if(ones * 2 > acc.n, shiftleft(1L, j), 0L)),
    0L, (a, o) -> a + o)
), 0L)""")


def simhash_df(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, simhash) — one zero-shuffle projection per row (see
    :func:`_simhash_fold_expr`); docs with no/null text keep simhash 0."""
    df = scale_out(df)
    return df.select(
        F.col(id_col).alias("__id"), _simhash_fold_expr(text_col).alias("__sim")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    lifecycle: str = "checkpoint",
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """Near-dup pairs whose SimHashes differ in <= max_hamming bits.
    Candidates come from equality on one of 4 15-bit bands (pigeonhole:
    any pair within hamming 3 shares at least one exact band).
    ``max_band_bucket`` caps candidate generation per (band, key) bucket —
    see :data:`MAX_BAND_BUCKET`; ``None`` disables.

    Hot-band skew guard (same shape as minhash_lsh_pairs): documents with
    IDENTICAL fingerprints collapse to one representative before banding —
    a d-sized cluster of exact duplicates would otherwise contribute
    bands·d²/2 join rows per band key. Member pairs re-expand afterwards:
    intra-cluster pairs have hamming 0 by construction and cross-cluster
    pairs inherit their representatives' hamming, so the output is
    identical to naive banding."""
    # (__id, __sim) — persisted: the frame feeds FOUR branches (reps, the
    # member re-expansion's two sides, and the intra-cluster self-join);
    # left lazy, the explode + 60-aggregate fingerprint job re-runs once
    # per branch side (~6 evaluations — measured 3.5x wall on the sf0.1
    # bench before this pin)
    base = pin(simhash_df(df, text_col, id_col), lifecycle)
    reps = base.groupBy("__sim").agg(F.min("__id").alias("__id"))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = reps.select(
        "__id",
        "__sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("__sim"), b * SIMHASH_BAND_BITS)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__sim", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    banded = _cap_band_buckets(banded, max_band_bucket)
    l, r = banded.alias("l"), banded.alias("r")
    rep_pairs = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.__id") < F.col("r.__id")),
        )
        .select(
            F.col("l.__sim").alias("sim_a"),
            F.col("r.__sim").alias("sim_b"),
            F.bit_count(F.col("l.__sim").bitwiseXOR(F.col("r.__sim"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    ma = base.select(F.col("__sim").alias("sim_a"), F.col("__id").alias("ia"))
    mb = base.select(F.col("__sim").alias("sim_b"), F.col("__id").alias("ib"))
    cross = rep_pairs.join(ma, "sim_a").join(mb, "sim_b").select(
        F.least("ia", "ib").alias("id_a"),
        F.greatest("ia", "ib").alias("id_b"),
        "hamming",
    )
    il, ir = base.alias("il"), base.alias("ir")
    intra = il.join(
        ir, (F.col("il.__sim") == F.col("ir.__sim")) & (F.col("il.__id") < F.col("ir.__id"))
    ).select(
        F.col("il.__id").alias("id_a"),
        F.col("ir.__id").alias("id_b"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    return finish(cross.unionByName(intra), lifecycle, base)


def simhash_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> str:
    sim = simhash_sql(text_col)
    mask = (1 << SIMHASH_BAND_BITS) - 1
    cap = "" if max_band_bucket is None else f"WHERE bsz <= {max_band_bucket}"
    # structural mirror of simhash_pairs: rep-collapse on the fingerprint,
    # per-(band, key) bucket cap, member re-expansion, intra pairs
    return f"""
WITH base AS (
  SELECT {id_col} AS id, {sim} AS sim FROM {table}
), reps AS (
  SELECT sim, min(id) AS rid FROM base GROUP BY sim
), banded AS (
  SELECT rid, sim, b.band AS band, (sim >> (b.band * {SIMHASH_BAND_BITS})) & {mask} AS key
  FROM reps, (SELECT unnest(range(0, {SIMHASH_BANDS})) AS band) b
), capped AS (
  SELECT rid, sim, band, key FROM (
    SELECT rid, sim, band, key, count(*) OVER (PARTITION BY band, key) AS bsz
    FROM banded
  ) {cap}
), rep_pairs AS (
  SELECT DISTINCT l.sim AS sim_a, r.sim AS sim_b, bit_count(xor(l.sim, r.sim)) AS hamming
  FROM capped l JOIN capped r ON l.band = r.band AND l.key = r.key AND l.rid < r.rid
  WHERE bit_count(xor(l.sim, r.sim)) <= {max_hamming}
), out AS (
  SELECT least(ma.id, mb.id) AS id_a, greatest(ma.id, mb.id) AS id_b, p.hamming
  FROM rep_pairs p JOIN base ma ON p.sim_a = ma.sim JOIN base mb ON p.sim_b = mb.sim
  UNION ALL
  SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS INTEGER) AS hamming
  FROM base a JOIN base b ON a.sim = b.sim AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM out
"""


# ---------------------------------------------------------------------------
# n-gram Jaccard (inverted-index form — the scalable exact path)
# ---------------------------------------------------------------------------

NGRAM_MAX_DF = 20


def _df_capped_gram_index(
    df: DataFrame, text_col: str, id_col: str, n: int, max_df: int
) -> DataFrame:
    """df-capped inverted gram index ``(__id, g)`` built over ONE
    exchange: the raw gram rows are hash-partitioned by ``g`` once, and
    that single partitioning serves (a) the per-document distinct —
    g-clustering satisfies (id, g) clustering, so the dedup aggregate
    runs map-side-local with no further shuffle — (b) the document-
    frequency count, a window over g instead of a groupBy+join back
    (which cost a second exchange plus a join), and (c) the downstream
    gram-keyed self-join, which reuses the same partitioning. The
    earlier shape paid three exchanges over the full gram set for the
    same result (guide §2.4)."""
    norm = F.concat_ws(" ", tokens(F.col(text_col)))
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"), norm.alias("__norm")
    )
    pos = base.select(
        "__id",
        "__norm",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.length("__norm") - n + 1, F.lit(1)))
        ).alias("__i"),
    )
    grams = pos.select(
        "__id", F.col("__norm").substr(F.col("__i"), F.lit(n)).alias("g")
    )
    return (
        grams.repartition("g")
        .dropDuplicates(["__id", "g"])
        .withColumn("__df", F.count("*").over(Window.partitionBy("g")))
        .where(F.col("__df") <= max_df)
        .drop("__df")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.35,
    max_df: int = NGRAM_MAX_DF,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Character-n-gram Jaccard via inverted index: explode grams →
    drop grams with document frequency > max_df (stop-grams; without the
    cap a gram shared by d documents contributes d·(d−1)/2 join rows —
    quadratic blowup at corpus scale) → self-join on gram → count shared
    grams per pair → |A∪B| = |A|+|B|−shared over the FILTERED gram sets.
    Jaccard is exact w.r.t. the df-capped sets; the cap is part of the
    operator contract and mirrored in the oracle.

    Text is normalized first (lower-cased token stream re-joined with
    single spaces) so punctuation/whitespace differences don't break
    near-dup detection — consistent with minhash/simhash tokenization."""
    df = scale_out(df)
    # one-exchange capped index (see _df_capped_gram_index); it feeds
    # three consumers (sizes + both self-join sides), so pin it — the
    # single persist replaces the former two (raw grams + capped index)
    inv = pin(_df_capped_gram_index(df, text_col, id_col, n, max_df), lifecycle)
    sizes = inv.groupBy("__id").agg(F.count("*").alias("__n"))
    l, r = inv.alias("l"), inv.alias("r")
    shared = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.__id") < F.col("r.__id")))
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"))
    result = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
                6,
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return finish(result, lifecycle, inv)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every char k-gram of the
    token-normalized text, then keep per w-window of consecutive hashes
    only the minimum (first position on ties) — a sparse, position-aware
    fingerprint set with the guarantee that any match of length
    ``k + w - 1`` chars shares at least one selected fingerprint.
    Output: (id, fp, pos), deduplicated.

    Execution is one narrow projection per row — the k-gram hash array
    and the per-window minima are nested HOFs over bound lambda
    VARIABLES (no captured-expression re-evaluation, no explode of the
    full gram stream, no shuffle): the selected set is ~1/w the gram
    count before anything leaves the row. Each window's slice is bound
    ONCE (:func:`bind_value`) and min/position run over the bound value
    — the earlier form materialized the slice three times and scanned it
    three times per window, which profiled as the majority of the
    operator at sf0.1 (2.35 s → 1.12 s for the fingerprint pass, value-
    identical).

    The input is scale_out-repartitioned first: the k-gram md5 stream is
    the single most expensive per-row kernel in the module, and a
    one-split source would run it on one core (guide §2.6). No-op at
    real scale (and for callers that already scaled out — the probe
    sees enough partitions)."""
    df = scale_out(df)
    norm = F.concat_ws(" ", tokens(F.col(text_col)))

    def fps(s):
        npos = F.greatest(F.length(s) - k + 1, F.lit(1))
        hs_expr = F.transform(F.sequence(F.lit(1), npos), lambda i: h60(F.substring(s, i, k)))

        def sel(hs):
            starts = F.sequence(F.lit(1), F.greatest(F.size(hs) - w + 1, F.lit(1)))
            # selected (1-based) hash position per window — the struct is
            # NOT built here: fp is a function of pos (fp = hs[pos]), so
            # dedup can run on a bare long array
            pos_expr = F.transform(
                starts,
                lambda st: bind_value(
                    F.slice(hs, st, w),
                    lambda sl: F.array_position(sl, F.array_min(sl)) + st - 1,
                ),
            )

            # winnowing property: the selected position NEVER DECREASES as
            # the window slides (if the leaving element was the first-min,
            # the next first-min sits strictly to its right; otherwise the
            # selection stays or a smaller entrant at the right edge takes
            # over) — so duplicate selections form CONSECUTIVE runs, and
            # keeping the first of each run equals array_distinct over the
            # (fp, pos) structs. The former array_distinct form was
            # ArrayDistinct's non-hashable fallback: an O(windows²)
            # INTERPRETED struct-equivalence scan per document — i.e.
            # quadratic in document length, the top kernel cost the 16x
            # scaling probe exposed (tools/scaling_probe.py). This run-edge
            # filter is O(windows) long comparisons; bit-identical output
            # (fuzzed against the array_distinct form in
            # tests/test_operators.py).
            def dedup_pos(ps):
                kept = F.filter(
                    ps,
                    lambda p, i: F.coalesce(p != F.get(ps, i - 1), F.lit(True)),
                )
                return F.transform(
                    kept,
                    lambda p: F.struct(
                        F.element_at(hs, p.cast("integer")).alias("fp"),
                        p.alias("pos"),
                    ),
                )

            return bind_once(pos_expr, dedup_pos)

        return bind_once(hs_expr, sel)

    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(bind_once(norm, fps)).alias("f"))
        .select(F.col(id_col), F.col("f.fp").alias("fp"), F.col("f.pos").cast("long").alias("pos"))
    )


def winnow_fingerprints_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", k: int = 8, w: int = 4
) -> str:
    from kartothek_spark.functions.hashing import h60_sql, tokens_sql

    nsql = f"array_to_string({tokens_sql(text_col)}, ' ')"
    hsql = h60_sql(f"substr(n, CAST(i AS INTEGER), {k})")
    return f"""
WITH base AS (SELECT {id_col}, {nsql} AS n FROM {table} WHERE {text_col} IS NOT NULL),
h AS (SELECT {id_col}, list_transform(range(1, greatest(length(n)-{k}+1,1)+1), i -> {hsql}) AS hs FROM base),
sel AS (SELECT {id_col}, list_transform(range(1, greatest(len(hs)-{w}+1,1)+1),
      s -> struct_pack(fp := list_min(list_slice(hs, s, s+{w}-1)),
                       pos := list_position(list_slice(hs, s, s+{w}-1), list_min(list_slice(hs, s, s+{w}-1))) + s - 1)) AS f
  FROM h)
SELECT DISTINCT {id_col}, u.fp AS fp, CAST(u.pos AS BIGINT) AS pos
FROM (SELECT {id_col}, unnest(f) AS u FROM sel)
"""


def winnow_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = NGRAM_MAX_DF,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Plagiarism-style overlap pairs on WINNOWED fingerprints: docs
    sharing >= ``min_shared`` selected fingerprints (id_a < id_b,
    ``n_shared`` attached). Same df-capped inverted-index join as the
    n-gram miners but over a ~1/w-sparsified set — the index the MOSS
    service builds, at a fraction of the full-gram cost.

    Under ``lifecycle="lazy"`` the fingerprint pass recomputes per
    downstream branch instead of being pinned. Pipelines that query
    repeatedly should persist the fingerprints once instead:
    :mod:`~kartothek_spark.operators.winnow_index`, whose pair query is
    lazy by construction."""
    fp = (
        winnow_fingerprints(scale_out(df), text_col, id_col, k, w)
        .select(F.col(id_col).alias("__id"), F.col("fp").alias("g"))
        .distinct()
    )
    fp = pin(fp, lifecycle)
    rare = fp.groupBy("g").count().where(F.col("count") <= max_df).select("g")
    inv = fp.join(rare, "g")
    l, r = inv.alias("l"), inv.alias("r")
    result = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.__id") < F.col("r.__id")))
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return finish(result, lifecycle, fp)


def winnow_dup_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 3,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    fps = winnow_fingerprints_sql(table, text_col, id_col, k, w)
    return f"""
WITH fp AS (
  SELECT DISTINCT {id_col} AS id, fp AS g FROM ({fps})
), inv AS (
  SELECT id, g FROM fp
  WHERE g IN (SELECT g FROM fp GROUP BY g HAVING count(*) <= {max_df})
)
SELECT l.id AS id_a, r.id AS id_b, count(*) AS n_shared
FROM inv l JOIN inv r ON l.g = r.g AND l.id < r.id
GROUP BY l.id, r.id
HAVING count(*) >= {min_shared}
"""


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.8,
    max_df: int = NGRAM_MAX_DF,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs — the near-dup signal Jaccard
    structurally misses: a short doc nested inside a much longer one
    (truncated copies, quote inclusion, boilerplate wrapping) has tiny
    Jaccard (|A∩B|/|A∪B| shrinks with the size gap) but containment
    |A∩B|/|A| ≈ 1. Output ``(id_a, id_b, cont_a, cont_b)`` with
    ``id_a < id_b`` where ``cont_a`` = fraction of A's distinct grams
    that occur in B (A-contained-in-B degree) and ``max(cont_a, cont_b)
    >= threshold``.

    SET semantics: grams are DEDUPLICATED per document (containment is a
    set measure; the multiset join the Jaccard operator uses would
    overcount repeated grams asymmetrically). Same scale guards as
    :func:`ngram_jaccard_pairs`: df-capped inverted index (stop-grams
    dropped — the cap is part of the contract, mirrored in the oracle),
    one gram-keyed self-join, candidates only ever the docs sharing a
    rare gram."""
    df = scale_out(df)
    # one-exchange capped index (see _df_capped_gram_index), pinned for
    # its three consumers — the single persist replaces the former two
    inv = pin(_df_capped_gram_index(df, text_col, id_col, n, max_df), lifecycle)
    sizes = inv.groupBy("__id").agg(F.count("*").alias("__n"))
    l, r = inv.alias("l"), inv.alias("r")
    shared = (
        l.join(r, (F.col("l.g") == F.col("r.g")) & (F.col("l.__id") < F.col("r.__id")))
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("n_b"))
    result = (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("shared") / F.col("n_a").cast("double"), 6).alias("cont_a"),
            F.round(F.col("shared") / F.col("n_b").cast("double"), 6).alias("cont_b"),
        )
        .where(F.greatest("cont_a", "cont_b") >= threshold)
    )
    return finish(result, lifecycle, inv)


def ngram_containment_pairs_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    threshold: float = 0.8,
    max_df: int = NGRAM_MAX_DF,
) -> str:
    """DuckDB twin of :func:`ngram_containment_pairs`."""
    norm = f"array_to_string({tokens_sql(text_col)}, ' ')"
    g = char_ngrams_sql(norm, n)
    return f"""
WITH grams AS (
  SELECT {id_col} AS id, {g} AS g FROM {table}
  WHERE {text_col} IS NOT NULL AND len({g}) > 0
), inv_all AS (
  SELECT DISTINCT id, unnest(g) AS gram FROM grams
), inv AS (
  SELECT id, gram FROM inv_all
  WHERE gram IN (SELECT gram FROM inv_all GROUP BY gram HAVING count(*) <= {max_df})
), sizes AS (
  SELECT id, count(*) AS n FROM inv GROUP BY id
), shared AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS shared
  FROM inv l JOIN inv r ON l.gram = r.gram AND l.id < r.id
  GROUP BY l.id, r.id
)
SELECT id_a, id_b,
       round(CAST(shared AS DOUBLE) / a.n, 6) AS cont_a,
       round(CAST(shared AS DOUBLE) / b.n, 6) AS cont_b
FROM shared s JOIN sizes a ON s.id_a = a.id JOIN sizes b ON s.id_b = b.id
WHERE greatest(round(CAST(shared AS DOUBLE) / a.n, 6),
               round(CAST(shared AS DOUBLE) / b.n, 6)) >= {threshold}
"""


def ngram_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, n: int = 4, threshold: float = 0.35, max_df: int = NGRAM_MAX_DF
) -> str:
    norm = f"array_to_string({tokens_sql(text_col)}, ' ')"
    g = char_ngrams_sql(norm, n)
    return f"""
WITH grams AS (
  SELECT {id_col} AS id, {g} AS g FROM {table} WHERE len({g}) > 0
), inv_all AS (
  SELECT id, unnest(g) AS gram FROM grams
), inv AS (
  SELECT id, gram FROM inv_all
  WHERE gram IN (SELECT gram FROM inv_all GROUP BY gram HAVING count(*) <= {max_df})
), sizes AS (
  SELECT id, count(*) AS n FROM inv GROUP BY id
), shared AS (
  SELECT l.id AS id_a, r.id AS id_b, count(*) AS shared
  FROM inv l JOIN inv r ON l.gram = r.gram AND l.id < r.id
  GROUP BY l.id, r.id
)
SELECT s.id_a, s.id_b,
       round(CAST(s.shared AS DOUBLE) / CAST(a.n + b.n - s.shared AS DOUBLE), 6) AS jaccard
FROM shared s JOIN sizes a ON s.id_a = a.id JOIN sizes b ON s.id_b = b.id
WHERE round(CAST(s.shared AS DOUBLE) / CAST(a.n + b.n - s.shared AS DOUBLE), 6) >= {threshold}
"""


def duplicate_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-duplicate pair list:
    ``(node, cluster_id)`` with ``cluster_id`` = the smallest id in the
    component. A dedup pipeline joins this back to keep ONE canonical
    document per cluster — pair lists alone can't answer "which rows do I
    drop" once clusters chain (a~b, b~c ⇒ {a,b,c} even if a≁c directly).

    Iterative min-label propagation: every node starts labeled with its
    own id; each round every node takes the min of its label and its
    neighbors' labels; fixpoint = components. Rounds needed = graph
    diameter, and near-dup graphs are banding-generated near-cliques with
    tiny diameters, so 2-3 shuffle rounds in practice (``max_iter`` bounds
    adversarial chains; the large-star/small-star algorithm is the
    published alternative when diameters are genuinely large). Each round
    is one join + one min-aggregate on (node, label) longs — narrow
    shuffles; lineage is cut per round with an eager localCheckpoint so
    the plan does not grow O(iterations)."""
    fwd = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = (
        fwd.unionByName(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(labels.select(F.col("node").alias("dst"), "label"), "dst")
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        # the convergence flag rides ALONG in the label-update checkpoint
        # (labels only ever decrease, so "changed" = strictly smaller):
        # the fixpoint probe then just scans the checkpointed blocks —
        # the former new-vs-old self-join paid a full extra join+shuffle
        # per round only to recompute information this pass already had
        new_labels = (
            labels.join(nbr_min.withColumnRenamed("src", "node"), "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias("label"),
                (F.coalesce(F.col("nlabel"), F.col("label")) < F.col("label")).alias("__chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.where(F.col("__chg")).limit(1).count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("cluster_id"))


def duplicate_clusters_sql(pairs_sql: str) -> str:
    """DuckDB oracle: recursive reachability closure, cluster = min
    reachable id (UNION-dedup recursion terminates on cycles)."""
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT src AS node, dst AS r FROM edges
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT node AS doc_id, least(node, min(r)) AS cluster_id FROM reach GROUP BY node
"""


def apply_dedup(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deduplicated corpus: drop every member of a near-duplicate cluster
    except its canonical representative (the smallest id — deterministic,
    so re-runs and the oracle agree). Rows in no cluster pass through.

    This is the operator a training-data pipeline actually ends on: pair
    finders (MinHash/SimHash/n-gram/embedding) feed ``duplicate_clusters``,
    and this anti-join applies the verdict to the corpus. The drop list is
    (cluster size - 1) ids per cluster — tiny next to the corpus — so at
    scale the anti-join broadcasts the drop side; the corpus itself is
    never shuffled or collected."""
    clusters = duplicate_clusters(pairs)
    drop = (
        clusters.where(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias("__drop_id"))
    )
    return df.join(drop, df[id_col] == F.col("__drop_id"), "left_anti")


def apply_dedup_sql(table: str, pairs_sql: str, id_col: str = "doc_id", columns: str = "*") -> str:
    """DuckDB oracle for :func:`apply_dedup` over ``table``."""
    clusters_sql = duplicate_clusters_sql(pairs_sql)
    return f"""
SELECT {columns} FROM {table}
WHERE {id_col} NOT IN (
  SELECT doc_id FROM ({clusters_sql}) WHERE doc_id <> cluster_id
)
"""


def apply_dedup_best(
    df: DataFrame, pairs: DataFrame, score_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Quality-aware canonical selection: like :func:`apply_dedup`, but
    each near-duplicate cluster keeps its HIGHEST-``score_col`` member
    (ties and NULL scores lose deterministically: score DESC NULLS LAST,
    then smallest id) — the curation rule real pipelines apply when a
    boilerplate cluster mixes a clean original with truncated or
    spam-wrapped copies and "smallest id" would keep an arbitrary one.

    Same scale shape as ``apply_dedup``: the rank window partitions by
    cluster_id (bounded by the duplicate-cluster size, never the corpus),
    the drop list is (cluster size - 1) ids per cluster, and the corpus
    itself is only ever anti-joined — never shuffled or collected."""
    from pyspark.sql import Window

    clusters = duplicate_clusters(pairs)
    scored = clusters.join(
        df.select(F.col(id_col).alias("doc_id"), F.col(score_col).alias("__q")),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__q").desc_nulls_last(), F.asc("doc_id")
    )
    drop = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") > 1)
        .select(F.col("doc_id").alias("__drop_id"))
    )
    return df.join(drop, df[id_col] == F.col("__drop_id"), "left_anti")


def apply_dedup_best_sql(
    table: str,
    pairs_sql: str,
    score_col: str,
    id_col: str = "doc_id",
    columns: str = "*",
) -> str:
    """DuckDB oracle for :func:`apply_dedup_best` over ``table``."""
    clusters_sql = duplicate_clusters_sql(pairs_sql)
    return f"""
SELECT {columns} FROM {table}
WHERE {id_col} NOT IN (
  SELECT doc_id FROM (
    SELECT c.doc_id,
           row_number() OVER (
             PARTITION BY c.cluster_id
             ORDER BY t.{score_col} DESC NULLS LAST, c.doc_id ASC
           ) AS rn
    FROM ({clusters_sql}) c JOIN {table} t ON t.{id_col} = c.doc_id
  ) WHERE rn > 1
)
"""


def duplicated_spans(
    df: DataFrame,
    window_tokens: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-SPAN signal (the span-level view of
    near-duplication, after the "Deduplicating Training Data Makes
    Language Models Better" observation that boilerplate repeats as long
    verbatim token spans inside otherwise-distinct documents — a doc-level
    pair finder never sees it).

    Every ``window_tokens``-token rolling window is hashed (one md5 per
    window — linear in corpus tokens, the windows themselves never
    materialize as strings past the hash); a window is *duplicated* when
    it appears in at least ``min_docs`` distinct documents. Output per
    document: ``(doc_id, n_windows, n_dup_windows, dup_ppm)`` where
    ``dup_ppm`` = duplicated-window fraction in integer parts-per-million
    (exact integer division — bit-stable across engines). Shuffles on the
    bounded window-hash key (frequency count + join back); corpus rows are
    never collected. Feed high-``dup_ppm`` docs to a span-trimming or
    drop policy downstream."""
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    w = window_tokens
    # rolling (non-distinct) window hashes; short docs yield one short window
    whs = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - w, F.lit(0))),
        lambda i: h60(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, w))),
    )
    ex = toks.select("doc_id", F.explode(whs).alias("__wh"))
    freq = (
        ex.dropDuplicates(["doc_id", "__wh"])
        .groupBy("__wh")
        .agg(F.count("*").alias("__n_docs"))
    )
    return (
        ex.join(freq, "__wh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.sum(F.when(F.col("__n_docs") >= min_docs, 1).otherwise(0)).alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            F.col("n_windows").cast("long").alias("n_windows"),
            F.col("n_dup_windows").cast("long").alias("n_dup_windows"),
            F.expr("(n_dup_windows * 1000000L) div n_windows").alias("dup_ppm"),
        )
    )


def duplicated_spans_sql(
    table: str,
    window_tokens: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = tokens_sql(text_col)
    w = window_tokens
    wh = h60_sql(f"array_to_string(list_slice(toks, i + 1, i + {w}), ' ')")
    return f"""
WITH t AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
e AS (
  SELECT doc_id, unnest(list_transform(
      range(0, greatest(len(toks) - {w}, 0) + 1), i -> {wh})) AS wh
  FROM t
),
freq AS (
  SELECT wh, count(DISTINCT doc_id) AS n_docs FROM e GROUP BY wh
)
SELECT e.doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN f.n_docs >= {min_docs} THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows,
       CAST(sum(CASE WHEN f.n_docs >= {min_docs} THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS dup_ppm
FROM e JOIN freq f USING (wh)
GROUP BY e.doc_id
"""


def trim_duplicated_spans(
    df: DataFrame,
    window_tokens: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """REMOVE cross-document duplicated spans, keeping one canonical
    occurrence (the action to :func:`duplicated_spans`' signal; policy per
    the span-dedup observation of "Deduplicating Training Data Makes
    Language Models Better"): a token is dropped when some duplicated
    window covers it AND this document is not that window hash's canonical
    holder (the smallest doc id containing it) — so every duplicated span
    survives exactly in its canonical document and is cut everywhere else.

    Deterministic end to end (hash frequencies + min-id canonicals, no
    RNG), linear in corpus tokens: window hashing and coverage explosion
    are per-token work, the only shuffles are on the window-hash key and
    the (doc, position) key. Output: ``(doc_id, text_trimmed, n_tokens,
    n_removed)`` with the trimmed text rebuilt from surviving tokens in
    order (token-normalized rendering: lower-cased, single-spaced)."""
    w = window_tokens
    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("__toks"))
    toks = pin(toks, "checkpoint")
    whs = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("__toks") - w, F.lit(0))),
        lambda i: h60(F.concat_ws(" ", F.slice(F.col("__toks"), i + 1, w))),
    )
    wins = toks.select("doc_id", F.posexplode(whs).alias("__pos", "__wh"))
    freq = (
        wins.groupBy("__wh")
        .agg(
            F.countDistinct("doc_id").alias("__n_docs"),
            F.min("doc_id").alias("__canonical"),
        )
        .where(F.col("__n_docs") >= min_docs)
    )
    # token positions disqualified in non-canonical docs (0-based)
    covered = (
        wins.join(freq, "__wh")
        .where(F.col("doc_id") != F.col("__canonical"))
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("__pos"), F.col("__pos") + F.lit(w - 1))
            ).alias("__tpos"),
        )
        .dropDuplicates(["doc_id", "__tpos"])
    )
    exploded = toks.select("doc_id", F.posexplode("__toks").alias("__tpos", "__tok"))
    survivors = exploded.join(covered, ["doc_id", "__tpos"], "left_anti")
    trimmed = (
        survivors.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__tpos"), F.col("__tok")))
            ).alias("__ordered"),
            F.count("*").alias("__n_kept"),
        )
        .select(
            "doc_id",
            F.concat_ws(" ", F.transform("__ordered", lambda s: s["__tok"])).alias(
                "text_trimmed"
            ),
            F.col("__n_kept"),
        )
    )
    totals = toks.select("doc_id", F.size("__toks").cast("long").alias("n_tokens"))
    out = (
        totals.join(trimmed, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("text_trimmed"), F.lit("")).alias("text_trimmed"),
            "n_tokens",
            (F.col("n_tokens") - F.coalesce(F.col("__n_kept"), F.lit(0))).cast("long").alias("n_removed"),
        )
    )
    return finish(out, "checkpoint", toks)


def trim_duplicated_spans_sql(
    table: str,
    window_tokens: int = 20,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> str:
    toks = tokens_sql(text_col)
    w = window_tokens
    # the lateral counter i is 1-based (range(1, ...)): window pos = i-1,
    # slice = tokens[i .. i+w-1]
    wh = h60_sql(f"array_to_string(list_slice(toks, i, i + {w - 1}), ' ')")
    return f"""
WITH t AS (SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}),
wins AS (
  SELECT doc_id, i - 1 AS pos, {wh} AS wh
  FROM t, unnest(range(1, greatest(len(toks) - {w}, 0) + 2)) AS u(i)
),
freq AS (
  SELECT wh, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS canonical
  FROM wins GROUP BY wh HAVING count(DISTINCT doc_id) >= {min_docs}
),
covered AS (
  SELECT DISTINCT wins.doc_id, pos + off AS tpos
  FROM wins JOIN freq USING (wh), unnest(range(0, {w})) AS o(off)
  WHERE wins.doc_id <> freq.canonical
),
ex AS (
  SELECT doc_id, i - 1 AS tpos, toks[i] AS tok
  FROM t, unnest(range(1, len(toks) + 1)) AS u(i)
),
surv AS (
  SELECT ex.* FROM ex
  WHERE NOT EXISTS (
    SELECT 1 FROM covered c WHERE c.doc_id = ex.doc_id AND c.tpos = ex.tpos
  )
),
agg AS (
  SELECT doc_id,
         array_to_string(list(tok ORDER BY tpos), ' ') AS text_trimmed,
         count(*) AS n_kept
  FROM surv GROUP BY doc_id
)
SELECT t2.doc_id,
       coalesce(agg.text_trimmed, '') AS text_trimmed,
       CAST(len(t2.toks) AS BIGINT) AS n_tokens,
       CAST(len(t2.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed
FROM t t2 LEFT JOIN agg USING (doc_id)
"""


# ---------------------------------------------------------------------------
# edit-distance (fuzzy) pairs / join — SymSpell deletion-neighborhood blocking
# ---------------------------------------------------------------------------

def _deletion_blocks(df: DataFrame, max_dist: int, max_len: int) -> DataFrame:
    """``(__id, __blk)`` — one row per deletion variant of ``__s``.

    SymSpell blocking: if ``levenshtein(a, b) <= d`` then deleting at most
    ``d`` characters from each reaches a COMMON string, so the size-<=d
    deletion neighborhoods intersect — blocking on them is COMPLETE (no
    missed pair), and the exact ``levenshtein`` verify removes the false
    candidates (hash collisions only ever ADD candidates, never hide a
    pair). Fan-out is ~len^d/d! variants per row (d=2, len 24 → 301):
    this is a SHORT-KEY operator (titles, URLs, leading snippets) by
    contract, enforced row-wise against ``max_len``.

    Variants are generated as one vectorized Arrow-batched pass — same
    precedent as the LSH index pass (``similarity._lsh_index_side``):
    nested Catalyst HOF ``transform`` is interpreted, not codegen'd, and
    measured ~10x slower than NumPy here. Each variant becomes a 64-bit
    positional polynomial hash (``sum(ord(c_j) * B^j)`` in wraparound
    uint64, vectorized ``np.delete`` + dot per deletion position), so the
    shuffle carries 8-byte keys and variant STRINGS never exist. The hash
    is position-consistent across lengths (deleting the only char of
    ``"a"`` hashes like the empty string), which the completeness proof
    needs."""
    import numpy as np

    id_dt = df.schema["__id"].dataType.simpleString()

    def gen(batches):
        import numpy as np
        import pandas as pd

        B = np.uint64(1099511628211)  # FNV-1a prime, odd → full-period mod 2^64
        # B odd ⇒ invertible mod 2^64: deleting position i divides every
        # later term's power by B, so each variant hash is an O(1)
        # combination of exclusive prefix sums instead of an
        # O(L)-per-variant np.delete + dot (which re-copied the matrix
        # once per cut — ~300 copies per 24-char key at d=2). Values are
        # IDENTICAL: h(del i) = P_i + (S − P_{i+1})·B⁻¹ and
        # h(del i<j) = P_i + (P_j − P_{i+1})·B⁻¹ + (S − P_{j+1})·B⁻²,
        # all in the same wraparound uint64 arithmetic.
        invB = np.uint64(pow(1099511628211, -1, 1 << 64))
        with np.errstate(over="ignore"):
            invB2 = invB * invB
        pair_idx: dict[int, tuple] = {}  # L -> (ii, jj) upper-triangle pairs
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf["__id"]
            s_list = pdf["__s"].tolist()
            by_len: dict[int, list[int]] = {}
            for k, s in enumerate(s_list):
                if len(s) > max_len:
                    raise ValueError(
                        f"edit_distance key longer than max_len={max_len}: "
                        f"{s[:64]!r}"
                    )
                by_len.setdefault(len(s), []).append(k)
            out_idx: list[np.ndarray] = []
            out_blk: list[np.ndarray] = []
            with np.errstate(over="ignore"):
                for L, idxs in by_len.items():
                    rows = np.asarray(idxs)
                    n = len(idxs)
                    M = np.array(
                        [[ord(c) for c in s_list[k]] for k in idxs],
                        dtype=np.uint64,
                    ).reshape(n, L)
                    # powers accumulate per column with wraparound; P is
                    # the EXCLUSIVE prefix sum (P[:, i] = Σ_{j<i} c_j B^j)
                    powers = np.empty(max(L, 1), dtype=np.uint64)
                    powers[0] = np.uint64(1)
                    for p in range(1, L):
                        powers[p] = powers[p - 1] * B
                    t = M * powers[:L][None, :]
                    P = np.zeros((n, L + 1), dtype=np.uint64)
                    np.cumsum(t, axis=1, out=P[:, 1:])
                    S = P[:, L]
                    out_idx.append(rows)
                    out_blk.append(S.copy())  # the no-deletion variant
                    if L >= 1:
                        h1 = P[:, :L] + (S[:, None] - P[:, 1:]) * invB
                        out_idx.append(np.repeat(rows, L))
                        out_blk.append(h1.ravel())
                    if max_dist == 2 and L >= 2:
                        pij = pair_idx.get(L)
                        if pij is None:
                            iu = np.triu_indices(L, k=1)
                            pij = (iu[0].astype(np.int64), iu[1].astype(np.int64))
                            pair_idx[L] = pij
                        ii, jj = pij
                        h2 = (
                            P[:, ii]
                            + (P[:, jj] - P[:, ii + 1]) * invB
                            + (S[:, None] - P[:, jj + 1]) * invB2
                        )
                        out_idx.append(np.repeat(rows, len(ii)))
                        out_blk.append(h2.ravel())
            if not out_idx:
                continue
            idx = np.concatenate(out_idx)
            yield pd.DataFrame(
                {
                    "__id": ids.iloc[idx].to_numpy(),
                    "__blk": np.concatenate(out_blk).astype(np.int64),
                }
            )

    return df.select("__id", "__s").mapInPandas(gen, f"__id {id_dt}, __blk long")


def _check_fuzzy_args(max_dist: int) -> None:
    if max_dist not in (1, 2):
        # the deletion neighborhood is ~len^d/d! per row — d>2 explodes the
        # block fan-out; use minhash_lsh_pairs/ngram_jaccard for looser
        # similarity instead
        raise ValueError(f"max_dist must be 1 or 2, got {max_dist}")


def edit_distance_pairs(
    df: DataFrame,
    max_dist: int = 2,
    string_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = 48,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """All pairs ``(id_a, id_b, dist)`` with ``levenshtein <= max_dist``
    over a SHORT string key — near-duplicate titles / URLs / leading
    snippets, the record-linkage step of corpus curation. ``id_col`` must
    be unique; ``id_a < id_b``; null keys never pair.

    EXACT (unlike the MinHash/SimHash families): the deletion-neighborhood
    blocking of :func:`_deletion_blocks` is complete for Levenshtein
    distance, so the result equals the brute-force quadratic join — which
    is exactly the DuckDB twin (:func:`edit_distance_pairs_sql`) — while
    the plan never materializes N x N: the ONLY wide shuffles are keyed by
    the 8-byte block key / the short key itself, whose cardinality grows
    with the corpus so partitions stay bounded, then candidates (<< all
    pairs) verify with the JVM ``levenshtein``. Reference has no analog;
    the blocking scheme is the public SymSpell/FastSS construction.

    Rep-collapse (the same guard the MinHash/SimHash banding uses):
    blocking runs over DISTINCT keys only — m copies of one boilerplate
    key would otherwise push m x ~len²/2 variant rows through the block
    join and pair m²/2 times via EVERY shared block. Identical-key
    (dist=0) pairs come from a plain equi-join on the key instead, and
    distinct-key pairs expand to id pairs through two output-bounded hash
    joins. Pair ENUMERATION over a mega-duplicate group is inherently
    m²/2 output rows — for corpora like that, :func:`dedup_exact` /
    :func:`apply_dedup` (representatives, no pair list) is the right
    tool; this operator's contract is the explicit pair list."""
    _check_fuzzy_args(max_dist)
    # persisted: base feeds FOUR branches (reps, the expansion's two
    # sides, the exact self-join) — left lazy, the scan + variant pass
    # re-run per branch (measured ~2.5x wall on the sf0.1 bench before
    # this pin; same shape as simhash_pairs)
    base = (
        scale_out(df)
        .select(F.col(id_col).alias("__id"), F.col(string_col).alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    base = pin(base, lifecycle)
    # one representative per distinct key (map-side-combined min)
    reps = pin(base.groupBy("__s").agg(F.min("__id").alias("__id")), lifecycle)
    blocks = _deletion_blocks(reps, max_dist, max_len)
    # candidate generation is ONE shuffle (groupBy the 8-byte block key),
    # not a self-join that shuffles the block rows twice and sorts both
    # sides; per-block member sets are bounded by the number of DISTINCT
    # keys sharing a variant (rep-collapse above), and the pair expansion
    # is an in-memory combination over those small sorted sets
    key_pairs = (
        blocks.groupBy("__blk")
        .agg(F.sort_array(F.collect_set("__id")).alias("__ids"))
        .where(F.size("__ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__ids, (x, i) -> "
                    "transform(slice(__ids, i + 2, size(__ids)), "
                    "y -> named_struct('__ra', x, '__rb', y))))"
                )
            ).alias("p")
        )
        .select("p.__ra", "p.__rb")
        .dropDuplicates(["__ra", "__rb"])
        .join(reps.select(F.col("__id").alias("__ra"), F.col("__s").alias("__sa")), "__ra")
        .join(reps.select(F.col("__id").alias("__rb"), F.col("__s").alias("__sb")), "__rb")
        .withColumn("dist", F.levenshtein("__sa", "__sb").cast("long"))
        .where(F.col("dist") <= max_dist)
        .select("__sa", "__sb", "dist")
    )
    # distinct-key pairs → id pairs (distinct keys ⇒ disjoint id sets,
    # so least/greatest restores the id_a < id_b contract)
    ma = base.select(F.col("__id").alias("__ia"), F.col("__s").alias("__sa"))
    mb = base.select(F.col("__id").alias("__ib"), F.col("__s").alias("__sb"))
    cross = key_pairs.join(ma, "__sa").join(mb, "__sb").select(
        F.least("__ia", "__ib").alias("id_a"),
        F.greatest("__ia", "__ib").alias("id_b"),
        "dist",
    )
    exact = (
        base.alias("x")
        .join(base.alias("y"), "__s")
        .where(F.col("x.__id") < F.col("y.__id"))
        .select(
            F.col("x.__id").alias("id_a"),
            F.col("y.__id").alias("id_b"),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    return finish(cross.unionByName(exact), lifecycle, reps, base)


def edit_distance_pairs_sql(
    table: str,
    max_dist: int = 2,
    key_expr: str = "text",
    id_col: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`edit_distance_pairs`: the brute-force
    quadratic join the blocking provably equals (the length filter only
    cuts the oracle's own cost). ASCII-KEY contract: DuckDB's
    ``levenshtein`` is BYTE-based while Spark's is codepoint-based, so
    the twin agrees with the operator only when every key is single-byte
    UTF-8 (true of the gate fixtures); the operator's own codepoint
    semantics on non-ASCII keys are pinned by
    ``tests/test_operators.py::test_edit_distance_pairs_unicode``."""
    return f"""
WITH k AS (
  SELECT {id_col} AS id, {key_expr} AS s FROM {table}
  WHERE {key_expr} IS NOT NULL
)
SELECT a.id AS id_a, b.id AS id_b, CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
FROM k a JOIN k b
  ON a.id < b.id
 AND abs(length(a.s) - length(b.s)) <= {max_dist}
 AND levenshtein(a.s, b.s) <= {max_dist}
"""


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    max_dist: int = 2,
    left_on: str = "text",
    right_on: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    max_len: int = 48,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Two-sided edit-distance join: ``(left_id, right_id, dist)`` for
    every cross pair with ``levenshtein <= max_dist`` — matching a dirty
    feed (OCR'd titles, user queries) against a canonical table without
    an N x M cross join. Same complete deletion-neighborhood blocking and
    rep-collapse as :func:`edit_distance_pairs` (blocking over distinct
    keys per side; identical-key matches via a plain equi-join); output
    ids keep the callers' column names (they must differ)."""
    _check_fuzzy_args(max_dist)
    if left_id == right_id:
        raise ValueError("left_id and right_id must differ in the output")
    lb = (
        scale_out(left)
        .select(F.col(left_id).alias("__id"), F.col(left_on).alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    rb = (
        right.select(F.col(right_id).alias("__id"), F.col(right_on).alias("__s"))
        .where(F.col("__s").isNotNull())
    )
    lb, rb = pin(lb, lifecycle), pin(rb, lifecycle)
    lreps = pin(lb.groupBy("__s").agg(F.min("__id").alias("__id")), lifecycle)
    rreps = pin(rb.groupBy("__s").agg(F.min("__id").alias("__id")), lifecycle)
    key_pairs = (
        _deletion_blocks(lreps, max_dist, max_len).alias("a")
        .join(_deletion_blocks(rreps, max_dist, max_len).alias("b"), "__blk")
        .select(F.col("a.__id").alias("__ra"), F.col("b.__id").alias("__rb"))
        .dropDuplicates(["__ra", "__rb"])
        .join(lreps.select(F.col("__id").alias("__ra"), F.col("__s").alias("__sa")), "__ra")
        .join(rreps.select(F.col("__id").alias("__rb"), F.col("__s").alias("__sb")), "__rb")
        .where(F.col("__sa") != F.col("__sb"))  # dist=0 comes from the equi path
        .withColumn("dist", F.levenshtein("__sa", "__sb").cast("long"))
        .where(F.col("dist") <= max_dist)
        .select("__sa", "__sb", "dist")
    )
    ma = lb.select(F.col("__id").alias("__ia"), F.col("__s").alias("__sa"))
    mb = rb.select(F.col("__id").alias("__ib"), F.col("__s").alias("__sb"))
    cross = key_pairs.join(ma, "__sa").join(mb, "__sb").select(
        F.col("__ia").alias(left_id),
        F.col("__ib").alias(right_id),
        "dist",
    )
    exact = (
        lb.alias("x")
        .join(rb.alias("y"), "__s")
        .select(
            F.col("x.__id").alias(left_id),
            F.col("y.__id").alias(right_id),
            F.lit(0).cast("long").alias("dist"),
        )
    )
    return finish(cross.unionByName(exact), lifecycle, lreps, rreps, lb, rb)


def fuzzy_join_sql(
    left_table: str,
    right_table: str,
    max_dist: int = 2,
    left_key: str = "text",
    right_key: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
) -> str:
    """DuckDB twin of :func:`fuzzy_join` (brute-force cross verify)."""
    return f"""
WITH l AS (SELECT {left_id} AS lid, {left_key} AS s FROM {left_table}
           WHERE {left_key} IS NOT NULL),
     r AS (SELECT {right_id} AS rid, {right_key} AS s FROM {right_table}
           WHERE {right_key} IS NOT NULL)
SELECT l.lid AS {left_id}, r.rid AS {right_id},
       CAST(levenshtein(l.s, r.s) AS BIGINT) AS dist
FROM l JOIN r
  ON abs(length(l.s) - length(r.s)) <= {max_dist}
 AND levenshtein(l.s, r.s) <= {max_dist}
"""


# ---------------------------------------------------------------------------
# cross-corpus MinHash pairs / fuzzy decontamination
# ---------------------------------------------------------------------------

def minhash_base(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """``(__id, __sh, __ck)``: the per-document staging of every MinHash
    operator — hashed shingles and the token-stream content key of each
    non-null text (see :func:`_minhash_side`)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__t"))
        .select(
            "__id",
            hashed_shingles(F.col("__t"), MINHASH_SHINGLE_WORDS).alias("__sh"),
            F.md5(F.concat_ws("\x01", "__t")).alias("__ck"),
        )
    )


def _minhash_side(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int,
    lifecycle: str = "checkpoint",
):
    """(base, reps) for one corpus side — the shared MinHash front half of
    :func:`minhash_lsh_pairs` (self) and :func:`minhash_cross_pairs`
    (two-sided). ``base`` is the ``(__id, __sh, __ck)`` frame, pinned
    unless ``lifecycle`` is ``"lazy"`` (the caller releases it),
    ``reps`` one representative per distinct content carrying the per-row
    folded signature.

    Staging: tokenize ONCE per row, then shingle from the token array —
    never re-run the regex split per shingle position; the null-text
    filter runs on the RAW column (pushed to the scan). ``__ck`` is a
    128-bit content key over the normalized token stream: identical docs
    collapse to ONE representative before banding — the hot-band skew
    guard (a cluster of d identical docs would otherwise put d copies of
    the same key into EVERY band and pair bands·d²/2 times); intra-group
    pairs re-expand afterwards with jaccard exactly 1, so output equals
    naive banding. ``__sh`` carries HASHED shingles (array<bigint>): the
    persisted base shrinks ~4x and signature fold + Jaccard set ops run
    on longs — value-identical, twin-mirrored. Signatures fold per-row
    BEFORE the rep collapse (no shuffle), so the collapse shuffles only
    (ck, id, num_hashes longs), never shingle arrays; ``F.first`` is safe
    because every row in a ``__ck`` group carries the same token stream,
    hence the same signature, by construction."""
    base = pin(minhash_base(scale_out(df), text_col, id_col), lifecycle)
    sigd = base.select("__id", "__ck", minhash_sig_expr("__sh", num_hashes).alias("__sig"))
    reps = sigd.groupBy("__ck").agg(
        F.min("__id").alias("__id"), F.first("__sig").alias("__sig")
    )
    return base, reps


def _banded(reps: DataFrame, bands: int, rows: int) -> DataFrame:
    return reps.select(
        "__id",
        "__ck",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col("__sig")[j].cast("string")
                                for j in range(b * rows, (b + 1) * rows)
                            ],
                        ).alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("__id", "__ck", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_cross_pairs(
    left: DataFrame,
    right: DataFrame,
    threshold: float = 0.5,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """Cross-corpus near-duplicate pairs ``(left_id, right_id, jaccard)``
    at ``jaccard >= threshold`` — the fuzzy-decontamination primitive the
    LLM training reports use (training docs near-identical to a benchmark
    doc, not just sharing one exact n-gram the way
    :func:`~kartothek_spark.operators.contamination.contamination_hits`
    detects). Output id column names must differ.

    Same scale shape as :func:`minhash_lsh_pairs`, two-sided: per-side
    rep-collapse on the content key, per-side capped band buckets, the
    ONLY big shuffle is the (band, key) equi-join between the two banded
    rep sets, and exact Jaccard verifies candidates only. Exact-content
    cross matches (same key on both sides) pair through a direct key
    equi-join with jaccard 1 and are excluded from banding candidates."""
    if left_id == right_id:
        raise ValueError("left_id and right_id must differ in the output")
    base_l, reps_l = _minhash_side(left, left_text, left_id, num_hashes, lifecycle)
    base_r, reps_r = _minhash_side(right, right_text, right_id, num_hashes, lifecycle)
    out = minhash_cross_pairs_from_sides(
        base_l, reps_l, base_r, reps_r,
        threshold=threshold, left_id=left_id, right_id=right_id,
        num_hashes=num_hashes, bands=bands, max_band_bucket=max_band_bucket,
        lifecycle="lazy",
    )
    return finish(out, lifecycle, base_l, base_r)


def minhash_cross_pairs_from_sides(
    base_l: DataFrame,
    reps_l: DataFrame,
    base_r: DataFrame,
    reps_r: DataFrame,
    threshold: float = 0.5,
    left_id: str = "doc_id",
    right_id: str = "bench_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
    lifecycle: str = "checkpoint",
) -> DataFrame:
    """The pair machinery of :func:`minhash_cross_pairs` over PRECOMPUTED
    MinHash sides — ``base`` = ``(__id, __sh, __ck)``, ``reps`` =
    ``(__ck, __id, __sig)`` as produced by the shared ``_minhash_side``
    staging (or read back from storage: the persisted benchmark index in
    :mod:`~kartothek_spark.operators.contamination_index` feeds the same
    shape). Value-identical to the end-to-end operator by construction —
    banding, bucket cap, Jaccard verification and the exact-content path
    run unchanged on the supplied frames."""
    if left_id == right_id:
        raise ValueError("left_id and right_id must differ in the output")
    rows = num_hashes // bands
    bl = _cap_band_buckets(_banded(reps_l, bands, rows), max_band_bucket)
    br = _cap_band_buckets(_banded(reps_r, bands, rows), max_band_bucket)

    cand = (
        bl.alias("l")
        .join(
            br.alias("r"),
            (F.col("l.band") == F.col("r.band")) & (F.col("l.key") == F.col("r.key")),
        )
        .where(F.col("l.__ck") != F.col("r.__ck"))
        .select(
            F.col("l.__id").alias("__ra"),
            F.col("l.__ck").alias("ck_a"),
            F.col("r.__id").alias("__rb"),
            F.col("r.__ck").alias("ck_b"),
        )
        .distinct()
    )
    a = base_l.select(F.col("__id").alias("__ra"), F.col("__sh").alias("sh_a"))
    b = base_r.select(F.col("__id").alias("__rb"), F.col("__sh").alias("sh_b"))
    verified_reps = (
        cand.join(a, "__ra")
        .join(b, "__rb")
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
    exact_reps = (
        reps_l.select("__ck")
        .join(reps_r.select("__ck"), "__ck")
        .select(
            F.col("__ck").alias("ck_a"),
            F.col("__ck").alias("ck_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    if threshold > 1.0:
        exact_reps = exact_reps.where(F.lit(False))

    ma = base_l.select(F.col("__ck").alias("ck_a"), F.col("__id").alias("__la"))
    mb = base_r.select(F.col("__ck").alias("ck_b"), F.col("__id").alias("__lb"))
    out = (
        verified_reps.unionByName(exact_reps)
        .join(ma, "ck_a")
        .join(mb, "ck_b")
        .select(
            F.col("__la").alias(left_id),
            F.col("__lb").alias(right_id),
            "jaccard",
        )
    )
    # persistence of the side frames belongs to the CALLER (this function
    # may receive plain parquet reads): no pins of its own to release
    return finish(out, lifecycle)


def fuzzy_decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> DataFrame:
    """The training corpus minus every doc NEAR-duplicate (Jaccard >=
    ``threshold``) to any benchmark doc — fuzzy decontamination, the
    companion to the exact-n-gram :func:`~kartothek_spark.operators.
    contamination.decontaminate`. No forced broadcast of the hit list:
    it is bounded by contamination volume (normally tiny — AQE broadcasts
    the anti join at runtime), but a pathologically contaminated corpus
    must degrade to a shuffle join instead of OOMing a forced broadcast.
    Pinned by ``tests/test_plans.py::test_decontaminate_anti_join_broadcasts``."""
    hits = minhash_cross_pairs(
        train,
        benchmark.select(F.col(id_col).alias("__bench_id"), F.col(text_col)),
        threshold=threshold,
        left_text=text_col,
        right_text=text_col,
        left_id=id_col,
        right_id="__bench_id",
        num_hashes=num_hashes,
        bands=bands,
        max_band_bucket=max_band_bucket,
    ).select(id_col).distinct()
    return train.join(hits, id_col, "left_anti")


def minhash_cross_pairs_sql(
    left_table: str,
    right_table: str,
    threshold: float = 0.5,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> str:
    """DuckDB twin of :func:`minhash_cross_pairs` — built from the same
    shared :func:`_minhash_side_sql` chain as the self twin, so the
    skew-guard structure (per-side rep-collapse + bucket caps, exact-key
    path split out) stays bit-identical across engines and operators."""
    rows = num_hashes // bands
    cap = "" if max_band_bucket is None else f"WHERE bsz <= {max_band_bucket}"
    exact = (
        "SELECT ck AS ck_a, ck AS ck_b, CAST(1.0 AS DOUBLE) AS jaccard\n"
        "  FROM (SELECT ck FROM reps_l INTERSECT SELECT ck FROM reps_r)"
        if threshold <= 1.0
        else "SELECT NULL AS ck_a, NULL AS ck_b, CAST(1.0 AS DOUBLE) AS jaccard WHERE FALSE"
    )
    return f"""
WITH {_minhash_side_sql('l', left_table, left_text, left_id, num_hashes, rows, bands, cap)},
{_minhash_side_sql('r', right_table, right_text, right_id, num_hashes, rows, bands, cap)},
cand AS (
  SELECT DISTINCT l.ck AS ck_a, r.ck AS ck_b
  FROM capped_l l JOIN capped_r r ON l.band = r.band AND l.key = r.key AND l.ck <> r.ck
), verified AS (
  SELECT cand.ck_a, cand.ck_b, {_JACCARD_SQL} AS jaccard
  FROM cand
  JOIN reps_l a ON a.ck = cand.ck_a
  JOIN reps_r b ON b.ck = cand.ck_b
  WHERE {_JACCARD_SQL} >= {threshold}
  UNION ALL
  {exact}
)
SELECT ml.id AS {left_id}, mr.id AS {right_id}, verified.jaccard
FROM verified
JOIN base_l ml ON ml.ck = verified.ck_a
JOIN base_r mr ON mr.ck = verified.ck_b
"""


def fuzzy_decontaminate_sql(
    train_sql: str,
    benchmark_sql: str,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    columns: str = "*",
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    max_band_bucket: int | None = MAX_BAND_BUCKET,
) -> str:
    pairs = minhash_cross_pairs_sql(
        f"({train_sql})",
        f"(SELECT {id_col} AS __bench_id, {text_col} FROM ({benchmark_sql}))",
        threshold=threshold,
        left_text=text_col,
        right_text=text_col,
        left_id=id_col,
        right_id="__bench_id",
        num_hashes=num_hashes,
        bands=bands,
        max_band_bucket=max_band_bucket,
    )
    return f"""
WITH hits AS (SELECT DISTINCT {id_col} FROM ({pairs}))
SELECT {columns} FROM ({train_sql}) t
WHERE NOT EXISTS (SELECT 1 FROM hits WHERE hits.{id_col} = t.{id_col})
"""
