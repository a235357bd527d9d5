"""Cross-engine deterministic hashing and tokenization primitives.

Every hash here is reproducible bit-for-bit in ANSI SQL (DuckDB) so each
operator built on top can ship a value-exact oracle:

* Spark : ``CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)``
* DuckDB: ``CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)``

(60 bits of md5 → always a non-negative int64 in both engines.)

All functions are Column-in/Column-out and stay inside whole-stage
codegen — no Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

H60_BITS = 60
H60_MAX = (1 << H60_BITS) - 1


def h60(col: Column | str) -> Column:
    """Deterministic 60-bit non-negative hash of a string column."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def h60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`h60` for oracle queries."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"


def h60_py(s: str) -> int:
    """Driver-side rendering of :func:`h60` — bit-identical to the Spark
    and DuckDB forms (pinned by ``tests/test_operators.py``). For planner
    code that needs the hash of a LITERAL (e.g. mapping query terms to
    their index buckets) without running a Spark job."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# --- tokenization (identical RE2/Java regex semantics) ---------------------

TOKEN_PATTERN = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Lower-cased alphanumeric tokens; empty strings filtered."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_PATTERN), lambda t: t != F.lit(""))


def tokens_sql(expr: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({expr}), '{TOKEN_PATTERN}'), t -> t <> '')"


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` ONCE per row and hand the VALUE to ``fn`` as a
    lambda variable. Free expressions captured inside a higher-order-
    function lambda are re-evaluated on EVERY element — and a separate
    staging projection does NOT protect: the evaluator substitutes the
    child projection's expression into the lambda, so e.g. a tokenizer
    captured by a per-gram-position lambda re-runs the regex once per
    position, O(len²) per document (measured 23 s → 6 s on the sf0.1
    char-gram build). A lambda VARIABLE, by contrast, is an evaluated
    value — so we wrap the input in a single-element array and transform
    over it; ``fn`` receives the bound variable and returns the per-row
    array, which ``flatten`` unwraps."""
    return F.flatten(F.transform(F.array(col), fn))


def bind_value(col: Column, fn) -> Column:
    """:func:`bind_once` for a SCALAR result: evaluate ``col`` once per
    evaluation site, hand the VALUE to ``fn`` as a lambda variable, and
    return ``fn``'s (non-array) result. Wraps in a one-element array and
    unwraps with ``element_at`` — usable INSIDE another HOF lambda, where
    re-evaluating a captured array expression per reference would
    otherwise multiply its cost (e.g. a window slice consulted by min
    AND position: one slice materialization instead of one per
    reference)."""
    return F.element_at(F.transform(F.array(col), fn), 1)


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct n-word shingles from a token array. The array expression
    is bound once per row (:func:`bind_once`), so passing ``tokens(col)``
    directly is safe — the regex split does NOT re-run per shingle
    position."""

    def sh(tk):
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)))

    return F.array_distinct(bind_once(toks, sh))


def word_shingles_sql(expr: str, n: int) -> str:
    toks = tokens_sql(expr)
    return (
        f"list_distinct(list_transform(range(0, greatest(len({toks}) - {n}, 0) + 1), "
        f"i -> array_to_string(list_slice({toks}, i + 1, i + {n}), ' ')))"
    )


def char_ngrams_sql(expr: str, n: int) -> str:
    return (
        f"list_distinct(list_transform(range(1, greatest(length(lower({expr})) - {n} + 1, 1) + 1), "
        f"i -> substr(lower({expr}), i, {n})))"
    )
