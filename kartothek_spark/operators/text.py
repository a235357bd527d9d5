"""Text-analysis operators for large-scale training-data pipelines.

All column expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage codegen); every operator has a value-exact DuckDB oracle (the
SQL builders live next to each operator so the constants can never drift).
Designed for 100 TB corpora: each operator is a narrow projection — no
shuffle, no UDF, scales linearly with input splits.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kartothek_spark.functions.hashing import (
    TOKEN_PATTERN,
    h60,
    h60_sql,
    tokens,
    tokens_sql,
)

# Small deterministic stopword inventories per language for the n-gram
# language-ID heuristic. Order matters for tie-breaks (first wins).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "for", "was"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "von", "mit", "den", "ein"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "los", "las", "es", "una", "por", "con", "para", "del", "se"),
}
_LANGS = tuple(LANG_STOPWORDS)

ENGLISH_STOPWORDS = LANG_STOPWORDS["en"]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def token_count_sql(expr: str) -> str:
    return f"len({tokens_sql(expr)})"


# BPE-style pre-tokenizer (GPT-2 family, RE2-safe subset: no lookahead so
# Spark's Java regex and DuckDB's RE2 count identically): contractions,
# space-prefixed letter runs, digit runs, punctuation runs, whitespace runs.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE-ish pre-tokens — the practical unit for LLM corpus
    budgeting (whitespace tokens alone undercount code/punctuation)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_PATTERN)).cast("long")


def bpe_token_count_sql(expr: str) -> str:
    pat = BPE_PATTERN.replace("'", "''")
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"


def whitespace_token_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != F.lit(""))).cast("long")


def whitespace_token_count_sql(expr: str) -> str:
    return (
        f"CAST(len(list_filter(regexp_split_to_array({expr}, '\\s+'), t -> t <> '')) AS BIGINT)"
    )


def _lang_score(col, lang: str) -> Column:
    toks = tokens(col)
    words = list(LANG_STOPWORDS[lang])
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def _lang_score_sql(expr: str, lang: str) -> str:
    toks = tokens_sql(expr)
    lst = ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
    return f"len(list_filter({toks}, t -> t IN ({lst})))"


def language_id(col: Column | str) -> Column:
    """Stopword-vote language ID: language with the most stopword hits;
    'und' (undetermined) when no stopword matches at all. Ties break by
    the fixed language order."""
    scores = [(_lang_score(col, lang), lang) for lang in _LANGS]
    best = F.greatest(*[s for s, _ in scores])
    expr = F.lit("und")
    for s, lang in reversed(scores):  # earlier langs win ties → applied last
        expr = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(expr)
    return expr


def language_id_sql(expr: str) -> str:
    score_exprs = {lang: _lang_score_sql(expr, lang) for lang in _LANGS}
    best = "greatest(" + ", ".join(score_exprs.values()) + ")"
    out = "'und'"
    for lang in reversed(_LANGS):
        out = f"CASE WHEN {best} > 0 AND {score_exprs[lang]} = {best} THEN '{lang}' ELSE {out} END"
    return out


def quality_features(col: Column | str) -> dict[str, Column]:
    """Deterministic quality features: char/token counts, mean token
    length, alpha ratio, stopword ratio (English)."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n_tok = F.size(toks)
    n_char = F.length(c)
    alpha = F.length(F.regexp_replace(F.lower(c), "[^a-z]", ""))
    stop = F.size(F.filter(toks, lambda t: t.isin(list(ENGLISH_STOPWORDS))))
    safe_tok = F.greatest(n_tok, F.lit(1))
    return {
        "n_chars": n_char.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "mean_token_len": F.round(
            F.aggregate(toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)).cast("double")
            / safe_tok.cast("double"),
            6,
        ),
        "alpha_ratio": F.round(alpha.cast("double") / F.greatest(n_char, F.lit(1)).cast("double"), 6),
        "stopword_ratio": F.round(stop.cast("double") / safe_tok.cast("double"), 6),
    }


def quality_features_sql(expr: str) -> dict[str, str]:
    toks = tokens_sql(expr)
    stop_list = ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS)
    return {
        "n_chars": f"CAST(length({expr}) AS BIGINT)",
        "n_tokens": f"CAST(len({toks}) AS BIGINT)",
        "mean_token_len": (
            f"round(CAST(list_reduce(list_prepend(0, list_transform({toks}, t -> length(t))), (a, b) -> a + b) AS DOUBLE)"
            f" / CAST(greatest(len({toks}), 1) AS DOUBLE), 6)"
        ),
        "alpha_ratio": (
            f"round(CAST(length(regexp_replace(lower({expr}), '[^a-z]', '', 'g')) AS DOUBLE)"
            f" / CAST(greatest(length({expr}), 1) AS DOUBLE), 6)"
        ),
        "stopword_ratio": (
            f"round(CAST(len(list_filter({toks}, t -> t IN ({stop_list}))) AS DOUBLE)"
            f" / CAST(greatest(len({toks}), 1) AS DOUBLE), 6)"
        ),
    }


# unicode punctuation folded to ASCII by normalize_text; FROM and TO are
# equal-length codepoint maps (translate semantics, identical in DuckDB):
# curly quotes → straight, en/em dash → '-', NBSP → space, ellipsis → '.'
_NORM_PUNCT_FROM = "\u2018\u2019\u201c\u201d\u2013\u2014\u00a0\u2026"
_NORM_PUNCT_TO = "''\"\"-- ."


def normalize_text(col: Column | str) -> Column:
    """Canonical text cleanup, all JVM expressions (no Python): fold
    unicode punctuation to ASCII, replace every C0/C1 control byte with a
    space, collapse space runs, trim. The op order is part of the
    contract (controls become spaces BEFORE the collapse, so a
    tab-surrounded word never fuses with its neighbor) and is mirrored
    literally by :func:`normalize_text_sql`."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, _NORM_PUNCT_FROM, _NORM_PUNCT_TO)
    c = F.regexp_replace(c, "[\\x00-\\x1f\\x7f]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def normalize_text_sql(expr: str) -> str:
    to = _NORM_PUNCT_TO.replace("'", "''")  # straight quotes need SQL escaping
    return (
        "trim(regexp_replace(regexp_replace(translate("
        f"{expr}, '{_NORM_PUNCT_FROM}', '{to}'), "
        "'[\\x00-\\x1f\\x7f]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: 60-bit hash of whitespace-normalized,
    lower-cased text (reference-style content identity; an exact-dup key)."""
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(F.regexp_replace(F.lower(c), TOKEN_PATTERN, " "))
    return h60(norm)


def fingerprint_sql(expr: str) -> str:
    norm = f"trim(regexp_replace(lower({expr}), '{TOKEN_PATTERN}', ' ', 'g'))"
    return h60_sql(norm)


def analyze_documents(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass text analysis: language ID + quality features + fingerprint."""
    feats = quality_features(text_col)
    return df.select(
        F.col(id_col),
        language_id(text_col).alias("lang_pred"),
        *[c.alias(n) for n, c in feats.items()],
        bpe_token_count(text_col).alias("bpe_tokens"),
        whitespace_token_count(text_col).alias("ws_tokens"),
        fingerprint(text_col).alias("fingerprint"),
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:

    * ``top_bigram_ratio`` — fraction of characters covered by occurrences
      of the single most frequent word 2-gram (boilerplate detector);
    * ``dup_5gram_ratio`` — fraction of characters claimed by word 5-grams
      that occur more than once (template/loop detector; overlapping grams
      can push this past 1.0, as in the Gopher rules);
    * ``top_token_ratio`` — frequency share of the most common token.

    Shape at scale: one explode per gram order, map-side-combinable
    ``(doc, gram)`` counts, then a per-doc fold — the shuffle carries gram
    counts (vocabulary-of-the-doc sized), never the text. Ties on the top
    gram break deterministically by (count, gram) struct comparison, which
    is lexicographic in both engines.
    """
    c = F.col(text_col)
    base = df.select(
        F.col(id_col),
        tokens(c).alias("_toks"),
        F.greatest(F.length(c), F.lit(1)).cast("double").alias("_n_chars"),
    ).select(
        id_col,
        "_n_chars",
        F.greatest(F.size("_toks"), F.lit(1)).cast("double").alias("_n_toks"),
        "_toks",
        _all_grams("_toks", 2).alias("_g2"),
        _all_grams("_toks", 5).alias("_g5"),
    )

    tok_counts = (
        base.select(id_col, "_n_toks", F.explode("_toks").alias("g"))
        .groupBy(id_col, "_n_toks", "g")
        .agg(F.count("*").alias("n"))
        .groupBy(id_col)
        .agg(
            F.round(F.max("n").cast("double") / F.first("_n_toks"), 6).alias("top_token_ratio")
        )
    )
    g2_counts = (
        base.select(id_col, "_n_chars", F.explode("_g2").alias("g"))
        .groupBy(id_col, "_n_chars", "g")
        .agg(F.count("*").alias("n"))
        .groupBy(id_col)
        .agg(
            F.round(
                (
                    F.max(F.struct(F.col("n"), F.col("g"))).getField("n").cast("double")
                    * F.length(F.max(F.struct(F.col("n"), F.col("g"))).getField("g")).cast("double")
                )
                / F.first("_n_chars"),
                6,
            ).alias("top_bigram_ratio")
        )
    )
    g5_counts = (
        base.select(id_col, "_n_chars", F.explode("_g5").alias("g"))
        .groupBy(id_col, "_n_chars", "g")
        .agg(F.count("*").alias("n"))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("n") > 1, F.col("n") * F.length("g")).otherwise(F.lit(0))
                ).cast("double")
                / F.first("_n_chars"),
                6,
            ).alias("dup_5gram_ratio")
        )
    )
    ids = base.select(id_col)
    out = (
        ids.join(tok_counts, id_col, "left")
        .join(g2_counts, id_col, "left")
        .join(g5_counts, id_col, "left")
    )
    return out.select(
        id_col,
        F.coalesce("top_token_ratio", F.lit(0.0)).alias("top_token_ratio"),
        F.coalesce("top_bigram_ratio", F.lit(0.0)).alias("top_bigram_ratio"),
        F.coalesce("dup_5gram_ratio", F.lit(0.0)).alias("dup_5gram_ratio"),
    )


def _all_grams(toks: Column | str, n: int) -> Column:
    """ALL (non-distinct) n-word shingles of a token array; empty when the
    doc has fewer than ``n`` tokens."""
    t = F.col(toks) if isinstance(toks, str) else toks
    idx = F.sequence(F.lit(0), F.greatest(F.size(t) - n, F.lit(-1)))
    return F.when(F.size(t) >= n, F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))).otherwise(
        F.array().cast("array<string>")
    )


def _all_grams_sql(toks: str, n: int) -> str:
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(range(0, len({toks}) - {n} + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')) "
        f"ELSE [] END"
    )


def repetition_signals_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    toks = tokens_sql(text_col)
    g2 = _all_grams_sql("_toks", 2)
    g5 = _all_grams_sql("_toks", 5)
    return f"""
WITH base AS (
  SELECT {id_col}, {toks} AS _toks,
         CAST(greatest(length({text_col}), 1) AS DOUBLE) AS _n_chars
  FROM {table}
), base2 AS (
  SELECT {id_col}, _n_chars,
         CAST(greatest(len(_toks), 1) AS DOUBLE) AS _n_toks,
         _toks, {g2} AS _g2, {g5} AS _g5
  FROM base
), tok_c AS (
  SELECT {id_col}, round(CAST(max(n) AS DOUBLE) / any_value(_n_toks), 6) AS top_token_ratio
  FROM (SELECT {id_col}, _n_toks, g, count(*) AS n
        FROM (SELECT {id_col}, _n_toks, unnest(_toks) AS g FROM base2)
        GROUP BY {id_col}, _n_toks, g)
  GROUP BY {id_col}
), g2_c AS (
  SELECT {id_col},
         round(CAST(max(struct_pack(n := n, g := g)).n AS DOUBLE)
               * CAST(length(max(struct_pack(n := n, g := g)).g) AS DOUBLE)
               / any_value(_n_chars), 6) AS top_bigram_ratio
  FROM (SELECT {id_col}, _n_chars, g, count(*) AS n
        FROM (SELECT {id_col}, _n_chars, unnest(_g2) AS g FROM base2)
        GROUP BY {id_col}, _n_chars, g)
  GROUP BY {id_col}
), g5_c AS (
  SELECT {id_col},
         round(CAST(sum(CASE WHEN n > 1 THEN n * length(g) ELSE 0 END) AS DOUBLE)
               / any_value(_n_chars), 6) AS dup_5gram_ratio
  FROM (SELECT {id_col}, _n_chars, g, count(*) AS n
        FROM (SELECT {id_col}, _n_chars, unnest(_g5) AS g FROM base2)
        GROUP BY {id_col}, _n_chars, g)
  GROUP BY {id_col}
)
SELECT b.{id_col},
       coalesce(top_token_ratio, 0.0) AS top_token_ratio,
       coalesce(top_bigram_ratio, 0.0) AS top_bigram_ratio,
       coalesce(dup_5gram_ratio, 0.0) AS dup_5gram_ratio
FROM (SELECT {id_col} FROM base2) b
LEFT JOIN tok_c USING ({id_col})
LEFT JOIN g2_c USING ({id_col})
LEFT JOIN g5_c USING ({id_col})
"""


# PII patterns — RE2-safe subset (no lookaround, no backrefs) so Java's
# regex (Spark) and RE2 (DuckDB) match identically. Order matters: email
# first (its local part would otherwise be chewed up by the phone rule).
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "<ID>"),
    ("phone", r"\+?\b[0-9][0-9 ().-]{7,14}[0-9]\b", "<PHONE>"),
)


def scrub_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """PII redaction for training corpora: emails, IPv4s, SSN-shaped ids,
    and phone-shaped digit runs are replaced with typed placeholder
    tokens. Pure ``regexp_replace``/``regexp_count`` expressions — one
    narrow projection, zero shuffle, linear at any corpus size. Returns
    (id, scrubbed text, one redaction count per class)."""
    c = F.col(text_col)
    counts = []
    scrubbed = c
    for name, pat, repl in PII_PATTERNS:
        # counts are measured on the PARTIALLY-scrubbed text in pattern
        # order, matching the replacement cascade exactly
        counts.append(F.regexp_count(scrubbed, F.lit(pat)).cast("long").alias(f"n_{name}"))
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(F.col(id_col), scrubbed.alias("text_scrubbed"), *counts)


def scrub_pii_sql(table: str, text_col: str = "text", id_col: str = "doc_id") -> str:
    counts, scrubbed = [], text_col
    for name, pat, repl in PII_PATTERNS:
        p = pat.replace("'", "''")
        counts.append(f"CAST(len(regexp_extract_all({scrubbed}, '{p}')) AS BIGINT) AS n_{name}")
        scrubbed = f"regexp_replace({scrubbed}, '{p}', '{repl}', 'g')"
    cols = ",\n       ".join(counts)
    return f"""
SELECT {id_col}, {scrubbed} AS text_scrubbed,
       {cols}
FROM {table}
"""


def top_tokens(
    df: DataFrame, n: int = 100, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary: the ``n`` most frequent tokens with counts —
    explode → count (map-side combinable partial aggregation) → exact
    top-n by (count DESC, token ASC), deterministic under ties. The
    explode shuffles (token, partial-count) pairs only; the global top-n
    is a single-reducer pass over the (vocabulary-sized, not corpus-
    sized) count table."""
    toks = tokens(F.col(text_col))
    counts = (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") >= min_count)
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(n)


def top_tokens_sql(table: str, n: int = 100, text_col: str = "text", min_count: int = 1) -> str:
    toks = tokens_sql(text_col)
    return f"""
SELECT token, count(*) AS n_occurrences
FROM (SELECT unnest({toks}) AS token FROM {table})
GROUP BY token HAVING count(*) >= {min_count}
ORDER BY n_occurrences DESC, token ASC LIMIT {n}
"""


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Appendix A1.1) —
# the document-level repetition-free heuristics, as one named bundle of
# pure JVM expressions with a value-exact DuckDB twin. The repetition
# rules of the same appendix live in repetition_stats (this module).
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    col: Column | str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> dict[str, Column]:
    """Per-rule boolean flags (True = rule passes). Words are WHITESPACE
    words (the paper's unit — punctuation stays attached), lines are
    newline-split; every ratio is rounded to 6 decimals before the
    threshold comparison so flag and twin can never disagree at the
    boundary."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    safe_w = F.greatest(n_words, F.lit(1)).cast("double")
    mean_len = F.round(
        F.aggregate(words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)).cast("double")
        / safe_w,
        6,
    )
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (
        (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    ).cast("long") + (
        F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit("")))
    )
    symbol_ratio = F.round((n_hash + n_ellipsis).cast("double") / safe_w, 6)
    lines = F.split(c, "\n")
    safe_l = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("•")
            | F.ltrim(l).startswith("- ")
            | F.ltrim(l).startswith("* "),
        )
    )
    ell_end = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    alpha_words = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    toks = tokens(c)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )
    return {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "mean_word_len_ok": (mean_len >= min_mean_word_len) & (mean_len <= max_mean_word_len),
        "symbol_ratio_ok": symbol_ratio <= max_symbol_ratio,
        "bullet_ratio_ok": F.round(bullet.cast("double") / safe_l, 6) <= max_bullet_ratio,
        "ellipsis_ratio_ok": F.round(ell_end.cast("double") / safe_l, 6) <= max_ellipsis_ratio,
        "alpha_word_ratio_ok": F.round(alpha_words.cast("double") / safe_w, 6)
        >= min_alpha_word_ratio,
        "stopwords_ok": n_stop >= min_stopwords,
    }


def _all_rules_pass(rules: dict[str, Column]) -> Column:
    """The conjunction of a rule battery such as :func:`gopher_rules`:
    true where every flag holds."""
    return reduce(lambda a, b: a & b, rules.values())


def gopher_flags(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id", **thresholds
) -> "DataFrame":
    """(id, <7 rule flags>, gopher_pass) per document — the audit form
    (which rule kills which doc); :func:`gopher_filter` is the apply
    form. Zero shuffle: every flag is a per-row expression."""
    rules = gopher_rules(text_col, **thresholds)
    return df.select(
        F.col(id_col),
        *[flag.alias(name) for name, flag in rules.items()],
        _all_rules_pass(rules).alias("gopher_pass"),
    )


def gopher_filter(
    df: "DataFrame", text_col: str = "text", **thresholds
) -> "DataFrame":
    """Rows passing ALL Gopher document-level rules.

    The rule expressions tokenize/scan the full text several times per
    row, so the input is scale_out-repartitioned first: a single-split
    source (one parquet row group) would otherwise evaluate the whole
    rule battery on one core (guide §2.6 — idle capacity); at real scale
    the input already has enough splits and this is a no-op."""
    from kartothek_spark.operators._util import scale_out

    return scale_out(df).where(_all_rules_pass(gopher_rules(text_col, **thresholds)))


def _gopher_rules_sql(
    expr: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stopwords: int = 2,
) -> dict[str, str]:
    words = f"list_filter(regexp_split_to_array({expr}, '\\s+'), w -> w <> '')"
    n_words = f"len({words})"
    safe_w = f"CAST(greatest({n_words}, 1) AS DOUBLE)"
    mean_len = (
        f"round(CAST(list_reduce(list_prepend(0, list_transform({words}, w -> length(w))), (a, b) -> a + b) AS DOUBLE)"
        f" / {safe_w}, 6)"
    )
    n_hash = f"(length({expr}) - length(replace({expr}, '#', '')))"
    n_ell = (
        f"(CAST((length({expr}) - length(replace({expr}, '...', ''))) / 3 AS BIGINT)"
        f" + (length({expr}) - length(replace({expr}, '…', ''))))"
    )
    symbol_ratio = f"round(CAST({n_hash} + {n_ell} AS DOUBLE) / {safe_w}, 6)"
    lines = f"string_split({expr}, chr(10))"
    safe_l = f"CAST(greatest(len({lines}), 1) AS DOUBLE)"
    bullet = (
        f"len(list_filter({lines}, l -> starts_with(ltrim(l), '•')"
        f" OR starts_with(ltrim(l), '- ') OR starts_with(ltrim(l), '* ')))"
    )
    ell_end = (
        f"len(list_filter({lines}, l -> ends_with(rtrim(l), '...')"
        f" OR ends_with(rtrim(l), '…')))"
    )
    alpha_words = f"len(list_filter({words}, w -> regexp_matches(w, '[A-Za-z]')))"
    toks = tokens_sql(expr)
    stops = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    n_stop = f"len(list_intersect(list_distinct({toks}), [{stops}]))"
    return {
        "word_count_ok": f"({n_words} >= {min_words} AND {n_words} <= {max_words})",
        "mean_word_len_ok": f"({mean_len} >= {min_mean_word_len} AND {mean_len} <= {max_mean_word_len})",
        "symbol_ratio_ok": f"({symbol_ratio} <= {max_symbol_ratio})",
        "bullet_ratio_ok": f"(round(CAST({bullet} AS DOUBLE) / {safe_l}, 6) <= {max_bullet_ratio})",
        "ellipsis_ratio_ok": f"(round(CAST({ell_end} AS DOUBLE) / {safe_l}, 6) <= {max_ellipsis_ratio})",
        "alpha_word_ratio_ok": f"(round(CAST({alpha_words} AS DOUBLE) / {safe_w}, 6) >= {min_alpha_word_ratio})",
        "stopwords_ok": f"({n_stop} >= {min_stopwords})",
    }


def gopher_flags_sql(
    table: str, text_col: str = "text", id_col: str = "doc_id", **thresholds
) -> str:
    rules = _gopher_rules_sql(text_col, **thresholds)
    cols = ",\n       ".join(f"{sql} AS {name}" for name, sql in rules.items())
    all_pass = " AND ".join(rules.values())
    return f"""
SELECT {id_col}, {cols},
       ({all_pass}) AS gopher_pass
FROM {table}
"""


def gopher_filter_sql(
    table: str, text_col: str = "text", columns: str = "*", **thresholds
) -> str:
    rules = _gopher_rules_sql(text_col, **thresholds)
    return f"SELECT {columns} FROM {table} WHERE {' AND '.join(rules.values())}"
