"""Text-analysis expressions — tokenization, n-grams, language ID.

All pure Catalyst expressions (split / transform / filter / aggregate
higher-order functions), so text analytics stays inside whole-stage codegen
— the difference between hours and days on a 100 TB document corpus.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic. Real corpora would ship larger profiles; the mechanism (token
# overlap scoring, argmax with a deterministic tie order) is what matters.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "is", "in"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un"),
}
# Deterministic argmax order (ties resolve to the earlier entry).
LANG_ORDER: tuple[str, ...] = ("en", "de", "fr")


def tokenize(text: Column) -> Column:
    """Whitespace tokenization (the testdata documents are single-space
    separated; a general corpus would split on \\s+)."""
    return F.split(text, " ")


def let_bound(value: Column, body) -> Column:
    """Evaluate ``value`` ONCE per row and hand the result to ``body`` as
    a bound lambda variable — a `let` for Catalyst expressions.

    Higher-order functions are interpreted (no codegen), and interpreted
    eval re-computes a lambda body's subexpressions on EVERY element.
    When callers pass a derived array (e.g. ``split(text)``) into a
    helper whose lambda indexes it per element, the derivation is
    re-evaluated per element — O(len^2) per row (measured 3-7x on the
    n-gram/bigram paths at sf0.1). Wrapping the value in a one-element
    array and transforming over it binds the MATERIALIZED value to the
    lambda variable, so per-element accesses inside ``body`` are O(1).
    Pure expression rewrite: same values on every input (hash-verified).
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def word_ngrams(tokens: Column, n: int = 3) -> Column:
    """Distinct word n-grams as space-joined strings.

    Guarded for short documents: fewer than n tokens yields an empty
    array (an unguarded sequence(1, size-n+1) would count DOWN and emit
    garbage grams).

    ``tokens`` is let-bound before the per-position slice: callers pass
    derived arrays (``tokenize(text)``), and without the binding the
    interpreted lambda re-splits the text per gram position — O(tokens^2)
    per document (measured 3.4x at sf0.1 on the explode paths).
    """

    def make(tk: Column) -> Column:
        grams = F.transform(
            F.sequence(F.lit(1), F.size(tk) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        )
        return F.array_distinct(
            F.when(F.size(tk) >= n, grams).otherwise(
                F.array().cast("array<string>")
            )
        )

    return let_bound(tokens, make)


def stopword_hits(tokens: Column, stopwords: tuple[str, ...]) -> Column:
    """Count of tokens that are in the stopword list."""
    return F.size(F.filter(tokens, lambda t: t.isin(*stopwords)))


def lang_id_expr(tokens: Column) -> Column:
    """Stopword-overlap language ID: argmax of per-language hit counts
    with a fixed tie order — same CASE cascade as the SQL oracle."""
    hits = {lang: stopword_hits(tokens, sw) for lang, sw in LANG_STOPWORDS.items()}
    expr = F.lit(LANG_ORDER[-1])
    # Build the CASE from the back so earlier languages win ties.
    for lang in reversed(LANG_ORDER[:-1]):
        later = [hits[o] for o in LANG_ORDER[LANG_ORDER.index(lang) + 1 :]]
        cond = None
        for other in later:
            c = hits[lang] >= other
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


# --------------------------------------------------------------------------
# PII + quality expressions (shared by the batch queries in plans/tier2_* and
# the streaming twins in mapreduce__spark.streaming — same Column exprs, so
# stream output is bit-identical to batch by construction).
# --------------------------------------------------------------------------

# Only syntax Java regex (Spark) and RE2 (DuckDB oracle) interpret
# identically.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+\d[\d -]{7,}\d"


def pii_scrub_expr(text: Column) -> Column:
    """Email/IPv4/phone redaction with typed placeholders (scan-stage)."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )


def pii_count_expr(text: Column) -> Column:
    """Count of PII matches across all three pattern families."""
    return (
        F.regexp_count(text, F.lit(PII_EMAIL))
        + F.regexp_count(text, F.lit(PII_IPV4))
        + F.regexp_count(text, F.lit(PII_PHONE))
    ).cast("bigint")


def gopher_rule_columns(text: Column) -> dict[str, Column]:
    """The Gopher-style quality rule metrics + composite keep flag, as ONE
    source of truth shared by the audited batch query
    (plans/tier2_pipeline.gopher_quality_rules) and the streaming twin
    (streaming.stream_quality_scrub) — batch/stream bit-identity depends
    on both sides using exactly these expressions."""
    toks = tokenize(text)
    n_words = F.size(toks).cast("bigint")
    sum_len = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda acc, x: acc + x
    )
    mean_word_len = F.round(sum_len.cast("double") / F.size(toks), 4)
    distinct_ratio = F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 4
    )
    stop_hits = stopword_hits(toks, LANG_STOPWORDS["en"]).cast("bigint")
    keep = (
        n_words.between(20, 2500)
        & mean_word_len.between(3.0, 10.0)
        & (distinct_ratio >= 0.2)
        & (stop_hits >= 2)
    )
    return {
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "distinct_ratio": distinct_ratio,
        "stop_hits": stop_hits,
        "keep": keep,
    }


def gopher_keep_expr(text: Column) -> Column:
    """Composite Gopher-style quality keep flag."""
    return gopher_rule_columns(text)["keep"]


def digit_ratio_expr(text: Column) -> Column:
    """Fraction of characters that are digits (double in [0, 1]; NULL for
    empty text). The zero length is nulled out before the divide: DuckDB
    division by zero yields NULL, but under Spark 4's default ANSI mode
    it is an ERROR that would abort the whole quality pass on one empty
    document — NULL-through keeps both engines agreeing (a NULL ratio
    fails the `< 0.3` gate on both, so empty docs are dropped)."""
    stripped = F.regexp_replace(text, "[0-9]", "")
    return (F.length(text) - F.length(stripped)) / F.nullif(
        F.length(text), F.lit(0)
    )


def quality_keep_expr(text: Column) -> Column:
    """The C4-style token-count + digit-ratio keep gate shared by
    doc_quality_score and both training-pipeline flagships. ONE source on
    purpose (same rule gopher_rule_columns states): the constants
    (20, 2000, 0.3) are mirrored verbatim in the DuckDB oracles of all
    three queries, so a private copy edited in one place would silently
    desynchronize the flagships from the standalone query and its oracle."""
    return F.size(tokenize(text)).between(20, 2000) & (
        digit_ratio_expr(text) < 0.3
    )


def split_bucket_expr(key: Column, n: int = 10, salt: str = "#split") -> Column:
    """Deterministic content-hash split bucket: first 8 hex chars of
    md5(key || salt) mod n — stable across reruns, cluster layouts, and
    engines (any SQL dialect can recompute membership). Shared by
    train_test_split and the pipeline flagships under the same one-source
    rule as quality_keep_expr."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(key.cast("string"), F.lit(salt))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % n
    )


def weight_millis_expr(text: Column) -> Column:
    """Sampling weight in integer millis: min(1000, n_words) — i.e. keep
    probability min(1, n_words/1000) without ever materializing a float."""
    return F.least(F.size(tokenize(text)).cast("bigint"), F.lit(1000))


def weighted_keep_expr(key: Column, weight_millis: Column) -> Column:
    """Deterministic weighted-Bernoulli keep decision: md5-derived 32-bit
    uniform compared against the weight in PURE INTEGER math
    (h*1000 < millis*2^32), so membership is bit-stable across engines,
    reruns, and cluster layouts. ONE source shared by the batch
    `weighted_sample` query, its DuckDB oracle's mirrored constants, and
    the streaming twin — same rule as quality_keep_expr."""
    h = F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit("#wsamp"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return h * 1000 < weight_millis * F.lit(4294967296)
