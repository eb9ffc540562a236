"""Adversarial-input robustness: empty strings, unicode (CJK/emoji),
whitespace runs, very long docs — the text/dedup operators must not crash
and must produce sensible values (a 100 TB web corpus contains all of
these on the first day)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce__spark.functions.text import lang_id_expr, tokenize, word_ngrams
from mapreduce__spark.operators.dedup import (
    exact_duplicate_groups,
    minhash_signature,
    simhash_fingerprint,
)


def edge_docs(spark):
    rows = [
        (0, ""),                             # empty
        (1, "   "),                          # whitespace only
        (2, "一 二 三 四 五"),                 # CJK tokens
        (3, "😀 😀 😀 🚀"),                    # emoji
        (4, "word"),                         # single token
        (5, "a " * 5000 + "b"),              # very long, repetitive
        (6, "tab\tand\nnewline mixed"),      # other whitespace inside tokens
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_tokenize_and_ngrams_no_crash(spark):
    docs = edge_docs(spark)
    out = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).alias("n_toks"),
        F.size(word_ngrams(tokenize(F.col("text")), 3)).alias("n_grams"),
    ).collect()
    by_id = {r.doc_id: (r.n_toks, r.n_grams) for r in out}
    assert by_id[0] == (1, 0)       # split("") -> [""] — 1 empty token, no grams
    assert by_id[2] == (5, 3)       # CJK tokens behave like any tokens
    assert by_id[4] == (1, 0)
    assert by_id[5][0] == 5001
    assert by_id[5][1] == 2         # repetitive text collapses to 2 DISTINCT grams


def test_minhash_simhash_on_edges(spark):
    docs = edge_docs(spark)
    sig = minhash_signature(docs, num_hashes=4).collect()
    assert len(sig) == 7 and all(len(r.mh) == 4 for r in sig)
    fp = {r.doc_id: r.simhash for r in simhash_fingerprint(docs, bits=16).collect()}
    assert set(fp) == set(range(7))
    # identical unicode docs must collide on exact fingerprint
    groups = exact_duplicate_groups(
        spark.createDataFrame([(10, "😀 🚀"), (11, "😀 🚀")], "doc_id bigint, text string")
    ).collect()
    assert len(groups) == 1 and groups[0].n_copies == 2 and groups[0].keeper == 10


def test_lang_id_on_edges(spark):
    docs = edge_docs(spark)
    out = docs.select(lang_id_expr(tokenize(F.col("text"))).alias("p")).collect()
    assert all(r.p in ("en", "de", "fr") for r in out)


def test_pretoken_regex_portable_across_java_and_re2(spark):
    """The pre-tokenizer pattern must count identically under Java regex
    (Spark) and RE2 (DuckDB) — including vertical tab, where \\s itself
    DIVERGES between the engines (Java includes \\x0B, RE2 does not); the
    pattern therefore spells the whitespace class out explicitly."""
    import duckdb

    from pyspark.sql import functions as F

    from mapreduce__spark.plans.tier2_text import _PRETOKEN_RE

    samples = ["a\x0bb", "ab1, cd!!e 42", "x\x0b\x0b!y", "a\tb\nc", "...", "", "  "]
    sdf = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [
        r[0]
        for r in sdf.select(
            F.size(F.regexp_extract_all("t", F.lit(_PRETOKEN_RE), F.lit(0)))
        ).collect()
    ]
    want = [
        duckdb.sql(
            f"SELECT len(regexp_extract_all(?, '{_PRETOKEN_RE}'))", params=[s]
        ).fetchone()[0]
        for s in samples
    ]
    assert got == want


def test_lsh_gramless_flood_yields_no_candidates(spark):
    """A corpus dominated by gramless (<3-token) docs must produce ZERO
    LSH pairs — and, structurally, zero candidates: all-sentinel
    signatures are dropped before banding, so a short-doc flood cannot
    meet in one bucket and emit a quadratic cross-product (round-3
    review). The two planted real near-dups must still be found."""
    from mapreduce__spark.operators.dedup import lsh_near_duplicate_pairs

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, "stub") for i in range(1200)]  # gramless flood
    rows += [(5000, base), (5001, base + " tail")]  # one real near-dup pair
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = {(r.id1, r.id2) for r in lsh_near_duplicate_pairs(docs, 0.8).collect()}
    assert pairs == {(5000, 5001)}
