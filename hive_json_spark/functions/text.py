"""Text-analysis column functions for large-corpus pipelines.

Everything here is built from JVM-side array/string expressions — no Python
UDFs — so token counting over 100 TB of documents stays inside whole-stage
codegen. Tokenization is whitespace-split; the BPE-ish variant uses a
regex over letter-runs / digit-runs / single symbols.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

# THE token definition, shared by the JVM path (``tokens()``, Java regex
# \s without UNICODE_CHARACTER_CLASS = ASCII [ \t\n\x0B\f\r]) and every
# Python/Arrow kernel (``py_tokens``, re.ASCII \s = the same five chars).
# Python ``str.split()`` splits on full Unicode whitespace (NBSP, thin
# space, ...) and is banned for tokenization — it would fragment tokens
# the JVM keeps whole and split streaming from batch on non-ASCII docs.
PY_ASCII_WS = re.compile(r"\s+", re.ASCII)


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(col: Column | str) -> Column:
    """Whitespace tokens (empty strings filtered, so it agrees with
    engines that drop trailing empties). Java regex ``\\s`` is ASCII
    whitespace — the exact mirror of ``py_tokens``."""
    return F.filter(F.split(_c(col), r"\s+"), lambda t: t != F.lit(""))


def py_tokens(text: str | None) -> list[str]:
    """Driver/kernel-side mirror of ``tokens()`` — identical token
    boundaries (ASCII whitespace, empties filtered) so Arrow verify
    kernels, MinHash shingling and the streaming gate all agree on every
    input, including Unicode-whitespace documents."""
    if not text:
        return []
    return [t for t in PY_ASCII_WS.split(text) if t]


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("bigint")


def char_count(col: Column | str) -> Column:
    return F.length(_c(col)).cast("bigint")


def distinct_token_count(col: Column | str) -> Column:
    return F.size(F.array_distinct(tokens(col))).cast("bigint")


def stopword_ratio(col: Column | str) -> Column:
    """Fraction of tokens that are stopwords ("the", "a", "of", "and") — a
    quality-scoring signal."""
    toks = tokens(col)
    stops = F.array(*[F.lit(s) for s in ("the", "a", "of", "and")])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stops, t)))
    return (n_stop / F.greatest(F.size(toks), F.lit(1))).cast("double")


def quality_score(col: Column | str) -> Column:
    """Heuristic doc-quality score in [0,1]: length band + vocabulary
    diversity − stopword excess. Deterministic, SQL-expressible."""
    n_tok = token_count(col).cast("double")
    diversity = distinct_token_count(col).cast("double") / F.greatest(n_tok, F.lit(1.0))
    length_band = F.when((n_tok >= 20) & (n_tok <= 1000), F.lit(1.0)).otherwise(F.lit(0.5))
    return F.round(
        F.greatest(
            F.least(0.5 * diversity + 0.5 * length_band - 0.25 * stopword_ratio(col), F.lit(1.0)),
            F.lit(0.0),
        ),
        6,
    )


BPE_ISH_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Sub-word-ish token count: letter runs, digit runs, single symbols."""
    return F.size(F.regexp_extract_all(_c(col), F.lit(BPE_ISH_REGEX), 0)).cast("bigint")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles as strings — the MinHash/Jaccard input unit.

    Documents shorter than n words contribute their whole text as one
    shingle so they still participate in dedup.

    Plan shape: the token array is LET-BOUND once per row (outer
    ``transform`` over a single-element array makes it a lambda
    variable), so the per-position ``slice`` inside the inner lambda
    references a bound array. Referencing ``tokens(col)`` directly in
    the lambda would re-run the whole ``split`` for EVERY shingle
    position — O(tokens²) per document, measured 4-5× slower at sf0.1
    (HOF lambdas are interpreted; there is no common-subexpression
    elimination across lambda invocations)."""

    def per_doc(tk: Column) -> Column:
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i + 1, n)))

    return F.array_distinct(F.flatten(F.transform(F.array(tokens(col)), per_doc)))
