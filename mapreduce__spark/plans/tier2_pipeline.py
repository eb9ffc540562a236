"""Tier-2 training-data-pipeline family: quality gates, PII scrub, decontamination, sampling, mixture weights, the composed flagships (O-24 pipeline face; split from tier2.py, round 13)."""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.functions.text import (
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    pii_count_expr,
    pii_scrub_expr,
    quality_keep_expr,
    split_bucket_expr,
    tokenize,
    word_ngrams,
)
from mapreduce__spark.operators.dedup import lsh_near_duplicate_pairs
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403

# DuckDB-side exact word-3-gram Jaccard (shared by the exact and the
# LSH-verified queries — the LSH output is exact-verified, so both equal it).
# Parametrized on the source relation so pipeline oracles can compute pairs
# over an upstream CTE (e.g. the quality-filtered docs) instead of the raw
# table — the pipelines dedup AFTER filtering, never before.
def _jaccard_oracle(src: str = "documents") -> str:
    return _JACCARD_ORACLE.replace("FROM documents", f"FROM {src}")


@query(
    "lang_id_nb",
    oracle="""
    WITH pos AS (
      SELECT doc_id, lang, text,
             unnest(generate_series(1, length(text) - 1)) AS i
      FROM documents WHERE length(text) >= 2
    ), inst AS (
      SELECT doc_id, lang AS labeled_lang, substring(text, i, 2) AS gram
      FROM pos
    ), gl AS (
      SELECT gram, labeled_lang AS lang, count(*) AS c
      FROM inst GROUP BY 1, 2
    ), tot AS (SELECT lang, sum(c) AS tot FROM gl GROUP BY 1),
    v AS (SELECT count(DISTINCT gram) AS v FROM gl),
    langs AS (SELECT DISTINCT lang FROM documents),
    grams AS (SELECT DISTINCT gram FROM gl),
    model AS (
      SELECT g.gram, l.lang,
             CAST(floor(-ln(CAST(coalesce(gl.c, 0) + 1 AS DOUBLE)
                            / CAST(t.tot + v.v AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS l_micro
      FROM grams g CROSS JOIN langs l
      LEFT JOIN gl ON gl.gram = g.gram AND gl.lang = l.lang
      JOIN tot t ON t.lang = l.lang CROSS JOIN v
    ),
    nd AS (SELECT lang, count(*) AS nd FROM documents GROUP BY 1),
    ndt AS (SELECT count(*) AS ndt FROM documents),
    pri AS (
      SELECT lang,
             CAST(floor(-ln(CAST(nd AS DOUBLE) / CAST(ndt AS DOUBLE))
                        * 1000000 + 0.5) AS BIGINT) AS pm
      FROM nd CROSS JOIN ndt
    ),
    dg AS (
      SELECT doc_id, labeled_lang, gram, count(*) AS k
      FROM inst GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT doc_id, labeled_lang, m.lang, sum(k * l_micro) AS s
      FROM dg JOIN model m USING (gram) GROUP BY 1, 2, 3
    ),
    t AS (
      SELECT doc_id, labeled_lang, sc.lang, sc.s + pri.pm AS total
      FROM sc JOIN pri ON pri.lang = sc.lang
    ),
    pred AS (
      SELECT doc_id, labeled_lang, lang AS predicted_lang,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY total, lang) AS rn
      FROM t
    )
    SELECT labeled_lang, predicted_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
    tags=("tier2", "text", "pipeline"),
)
def lang_id_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINED language ID (round-11 VERDICT item 5) — the CLD-style
    char-n-gram Naive Bayes rung above the stopword heuristic
    (`lang_id`): character-bigram counts per labeled language train an
    add-one-smoothed multinomial model over the corpus-wide gram
    vocabulary; each document is scored per language as
    ln-prior + sum over gram instances of -ln p(gram | lang), and the
    argmin (alphabetical tie order) is the prediction. The emitted
    (labeled_lang, predicted_lang, n_docs) confusion matrix is the
    operator's natural integer-exact output. Cross-engine float
    discipline (the bigram_lm_score recipe): every probability is ONE
    exact rational of integers cast to double — bit-identical by
    construction — and the only libm call ln() is quantized to integer
    micro-NLL via floor(x*1e6 + 0.5); scores are pure BIGINT sums that
    compare exactly, so the argmin can never split across engines. The
    synthetic corpus draws text from one shared vocabulary for every
    label, so the matrix concentrates on the priors' argmax by design —
    the pytest confusion-matrix law
    (tests/test_round12_properties.py) trains the same operator on a
    corpus with genuinely language-distinct character distributions and
    asserts diagonal dominance. SCALE: ONE corpus explode into
    per-doc gram counts (map-side combined, checkpointed) feeds both
    the scoring join and — re-aggregated to gram x lang — the model,
    which is gram-vocab x n_langs rows (hundreds) and BROADCAST back;
    one shuffle by (doc_id, lang) aggregates the LONG-form scores and a
    struct-min argmin picks the prediction — the label set is derived
    from the corpus (round-12 VERDICT item 4), never a hard-coded pivot,
    so a new language is one more broadcast-model row. No per-row UDF,
    nothing quadratic, the corpus read once for grams plus two trivial
    lang scans. Reference parity: tier-2 text-pipeline extension
    (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    # Char bigrams via ONE consuming-lookahead regex pass — (?=(..))
    # captures the 2 code points at each position, the consumed `.`
    # advances the matcher one code POINT (so surrogate pairs never
    # split; (?s) keeps newlines in scope). Exactly equivalent to the
    # former per-position substr(i, 2) loop — verified on the corpus
    # (hash-identical) and on a supplementary-plane torture row — but
    # LINEAR per doc: substr(i, 2) rescans the string from the start at
    # every position under interpreted HOF eval, O(chars^2) per doc
    # (measured 4.5x at sf0.1; round-14 optimization pass). Docs shorter
    # than 2 chars yield no matches, matching the old empty-array guard.
    inst = docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit("(?s)(?=(..))."), 1)
        ).alias("gram"),
    )
    # ONE corpus explode: per-doc gram counts feed BOTH the scoring join
    # and (re-aggregated) the per-lang model — the corpus is never
    # exploded twice (bench-measured seam, round 12)
    dg = (
        inst.groupBy("doc_id", "labeled_lang", "gram")
        .agg(F.count(F.lit(1)).alias("k"))
        .localCheckpoint(eager=True)
    )
    gl = dg.groupBy("gram", F.col("labeled_lang").alias("lang")).agg(
        F.sum("k").alias("c")
    )
    tot = gl.groupBy("lang").agg(F.sum("c").alias("tot"))
    v = gl.select(F.countDistinct("gram").alias("v"))
    langs = docs.select("lang").distinct()
    grams = gl.select("gram").distinct()
    l_micro = F.floor(
        -F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / (F.col("tot") + F.col("v")).cast("double")
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    model = (
        grams.crossJoin(langs)
        .join(gl, ["gram", "lang"], "left")
        .join(tot, "lang")
        .crossJoin(F.broadcast(v))
        .select("gram", "lang", l_micro.alias("l_micro"))
    )
    nd = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("nd"))
    ndt = docs.agg(F.count(F.lit(1)).alias("ndt"))
    pm = F.floor(
        -F.log(F.col("nd").cast("double") / F.col("ndt").cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    # DYNAMIC label pivot (round-12 VERDICT item 4): scores stay in LONG
    # (doc, lang) form and the argmin is a struct-min over
    # (total, lang) — alphabetical tie order for free — so the label set
    # is derived from the corpus on both engines and an unseen lang is
    # simply another model row, never a silently-missing CASE branch.
    pri = nd.crossJoin(F.broadcast(ndt)).select("lang", pm.alias("pm"))
    sc = (
        dg.join(F.broadcast(model), "gram")
        .groupBy("doc_id", "labeled_lang", "lang")
        .agg(F.sum(F.col("k") * F.col("l_micro")).alias("s"))
    )
    t = sc.join(F.broadcast(pri), "lang").select(
        "doc_id",
        "labeled_lang",
        "lang",
        (F.col("s") + F.col("pm")).alias("total"),
    )
    pred = t.groupBy("doc_id", "labeled_lang").agg(
        F.min(F.struct("total", "lang")).getField("lang").alias(
            "predicted_lang"
        )
    )
    return pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


@query(
    "sequence_packing",
    oracle="""
    WITH t AS (
        SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    )
    SELECT doc_id, n_tokens, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
    FROM c
    """,
    tags=("tier2", "pipeline"),
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training pipelines: assign docs to contiguous
    token-budget bins (2048 approx-BPE tokens) — bin = floor(tokens-
    before-this-doc / budget). Deterministic (doc_id order); the
    contiguous-fill policy packs to >= budget-minus-max-doc utilization,
    the standard streaming-pack approximation of bin packing.

    The running sum is the DISTRIBUTED two-phase cumsum (per-partition
    sums -> O(P) broadcast prefix offsets, operators/windows.py), not a
    global Window.orderBy — a partitionBy-less window would funnel the
    entire corpus through one task at 100 TB.
    """
    from mapreduce__spark.operators.windows import distributed_cumsum, idiv

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens")
    )
    c = distributed_cumsum(t, "doc_id", "n_tokens", "cum")
    return c.select(
        "doc_id",
        "n_tokens",
        idiv(F.col("cum") - F.col("n_tokens"), 2048).alias("bin"),
    )


@query(
    "sequence_packing_chunked",
    oracle="""
    WITH t AS (
        SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens
        FROM documents
    ), c AS (
        SELECT doc_id, n_tokens,
               sum(n_tokens) OVER (ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
    ), b AS (
        SELECT doc_id, n_tokens, cum,
               cum - n_tokens AS strt,
               CAST((cum - n_tokens) // 2048 AS BIGINT) AS fb,
               CAST((cum - 1) // 2048 AS BIGINT) AS lb
        FROM c WHERE n_tokens > 0
    )
    SELECT doc_id, CAST(r.bin AS BIGINT) AS bin,
           CAST(least(b.cum, (r.bin + 1) * 2048)
                - greatest(b.strt, r.bin * 2048) AS BIGINT) AS tokens_in_bin
    FROM b CROSS JOIN UNNEST(range(b.fb, b.lb + 1)) AS r(bin)
    """,
    tags=("tier2", "pipeline"),
)
def sequence_packing_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing with BOUNDARY SPLITTING — what a pretraining data
    loader actually materializes: every 2048-token bin is filled exactly,
    and a document crossing a bin boundary contributes a chunk row to
    each bin it touches ((doc_id, bin, tokens_in_bin); the plain
    `sequence_packing` assigns whole docs and leaves bins ragged).

    Scale shape: the distributed two-phase cumsum gives each doc its
    global token interval [cum - n_tokens, cum); the touched-bin range
    explodes from an in-row sequence (≤ n_tokens/2048 + 1 rows per doc),
    and every arithmetic step is integral (`div`, not doubles — exactness
    above 2^53 positions). Invariant (pinned in tests): every bin's
    tokens_in_bin sums to exactly 2048 except the final bin."""
    from mapreduce__spark.operators.windows import distributed_cumsum, idiv

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens")
    )
    c = distributed_cumsum(t, "doc_id", "n_tokens", "cum").where(F.col("n_tokens") > 0)
    strt = F.col("cum") - F.col("n_tokens")
    b = c.select(
        "doc_id",
        "cum",
        strt.alias("strt"),
        idiv(strt, 2048).alias("fb"),
        idiv(F.col("cum") - 1, 2048).alias("lb"),
    )
    return b.select(
        "doc_id",
        F.explode(F.sequence(F.col("fb"), F.col("lb"))).alias("bin"),
        "cum",
        "strt",
    ).select(
        "doc_id",
        F.col("bin").cast("bigint").alias("bin"),
        (
            F.least(F.col("cum"), (F.col("bin") + 1) * 2048)
            - F.greatest(F.col("strt"), F.col("bin") * 2048)
        ).cast("bigint").alias("tokens_in_bin"),
    )


@query(
    "train_test_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT doc_id,
               ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))::BIGINT % 10 AS b
        FROM documents
    )
    """,
    tags=("tier2", "pipeline"),
)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic, reproducible train/val/test assignment (80/10/10)
    by content-hash bucketing — THE sampling idiom for data pipelines:
    stable across reruns and cluster layouts (no RNG, no row order
    dependence), and any engine can recompute membership. Bucket = first
    8 hex chars of md5(key || salt) mod 10."""
    docs = load_table(spark, sf_dir, "documents")
    b = split_bucket_expr(F.col("doc_id"))
    return docs.select(
        "doc_id",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test").alias("split"),
    )


# Per-stratum sampling rates (percent) for the corpus-mixing operator:
# up-weight purchases, down-weight views — the standard domain-mixing shape.
_STRATA_RATES = {"purchase": 80, "click": 40, "view": 10, "login": 25, "logout": 25}


@query(
    "stratified_sample",
    oracle=f"""
    SELECT event_id, event_type
    FROM (
        SELECT event_id, event_type,
               ('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#strat'), 1, 8))::BIGINT % 100 AS b
        FROM events
    )
    WHERE b < CASE event_type
        {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_RATES.items())}
        ELSE 0 END
    """,
    tags=("tier2", "pipeline"),
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — per-stratum rates by content-hash
    bucketing (same idiom as train_test_split): reproducible across reruns
    and cluster layouts, no RNG, membership recomputable by any engine.
    The corpus-mixing primitive for assembling a training set from domains
    with different target proportions. Pure scan-stage expressions — the
    filter runs at the reader, zero shuffle."""
    ev = load_table(spark, sf_dir, "events")
    b = (
        F.conv(F.substring(F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#strat"))), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    rate = F.lit(0)
    for k, v in _STRATA_RATES.items():
        rate = F.when(F.col("event_type") == k, F.lit(v)).otherwise(rate)
    return ev.where(b < rate).select("event_id", "event_type")


@query(
    "unigram_lm_score",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), freq AS (
        SELECT tok, count(*) AS c FROM tok GROUP BY tok
    ), tot AS (
        SELECT CAST(sum(c) AS DOUBLE) AS n FROM freq
    )
    SELECT t.doc_id,
           count(*) AS n_tokens,
           round(CAST(sum(CAST(round(-ln(f.c / tot.n), 6) AS DECIMAL(18,6)))
                      AS DOUBLE) / count(*), 6) AS nll
    FROM tok t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    tags=("tier2", "text", "pipeline"),
)
def unigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality score: train a unigram LM on the
    corpus itself and score every document by mean negative log-likelihood
    — the perplexity-proxy filter a training pipeline runs between the
    heuristic gates and dedup (low nll ≈ ordinary prose, high nll ≈
    gibberish/rare-token soup).

    Scale shape: one explode → one hash-aggregate builds the LM (vocab
    rows, map-side combined — word-count scaling); scoring re-joins tokens
    to the vocab on the token key and per-doc aggregates. The vocab table
    is MATERIALIZED (vocab rows — it already lives through the count
    shuffle) because it feeds both the total and the scoring join; left
    lazy, the 1-row total re-plans its own full corpus scan+explode. The
    corpus itself is read exactly twice — LM build and scoring — which is
    minimal (materializing the exploded tokens instead would hold a
    tokens-x-corpus blowup). The vocab is corpus-vocabulary-sized —
    usually broadcastable, but the join is left to AQE to decide at
    runtime rather than forced. Determinism: each token's nll is rounded
    to 6 digits BEFORE accumulation (a last-ulp libm ln() difference
    between the JVM and the oracle cannot survive), and the per-doc sum
    runs in DECIMAL so partition layout cannot reorder float additions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
    freq = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    total = freq.agg(F.sum("c").cast("double").alias("n"))
    per_tok = F.round(-F.log(F.col("c") / F.col("n")), 6).cast("decimal(18,6)")
    return (
        toks.join(freq, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(per_tok).cast("double") / F.count(F.lit(1)), 6
            ).alias("nll"),
        )
    )


@query(
    "bpe_pair_counts",
    oracle="""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents
    ), p AS (
        SELECT toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), counted AS (
        SELECT left_tok, right_tok, count(*) AS n_pairs
        FROM p GROUP BY left_tok, right_tok
    )
    SELECT left_tok, right_tok, n_pairs FROM counted
    ORDER BY n_pairs DESC, left_tok ASC, right_tok ASC
    LIMIT 50
    """,
    tags=("tier2", "text", "pipeline"),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training: corpus-wide adjacent
    token-pair frequencies, top-50 (each BPE merge round picks the argmax
    pair, merges, and recounts — this op is the round's whole distributed
    cost). Word-count scaling: one explode of positions, one map-side
    combined hash-aggregate, TakeOrdered for the top slice; deterministic
    tie-break on the pair itself so the cut is stable."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenization STAGED into its own projection (the _bigram_instances
    # fix): an inline tokenize(text) inside the lambda re-splits the text
    # per pair position under interpreted HOF eval — O(tokens^2) per doc
    tk = docs.select(tokenize(F.col("text")).alias("toks"))
    tc = F.col("toks")
    make = F.transform(
        F.sequence(F.lit(1), F.size(tc) - 1),
        lambda i: F.struct(
            F.element_at(tc, i).alias("left_tok"),
            F.element_at(tc, i + 1).alias("right_tok"),
        ),
    )
    # sequence() COUNTS DOWN when stop < start (same hazard word_ngrams
    # guards): a 1-token doc must yield no pairs, not garbage.
    guarded = F.when(F.size(tc) >= 2, make).otherwise(
        F.array().cast("array<struct<left_tok:string,right_tok:string>>")
    )
    pairs = tk.select(F.explode(guarded).alias("p")).select(
        "p.left_tok", "p.right_tok"
    )
    return (
        pairs.groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(
            F.col("n_pairs").desc(), F.col("left_tok").asc(), F.col("right_tok").asc()
        )
        .limit(50)
    )


@query(
    "wordpiece_pair_scores",
    oracle="""
    WITH t AS (
        SELECT string_split(text, ' ') AS toks FROM documents
    ), p AS (
        SELECT toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), counted AS (
        SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS n_pairs
        FROM p GROUP BY left_tok, right_tok
    ), vocab AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS n_tok FROM (
            SELECT unnest(toks) AS tok FROM t
        ) GROUP BY tok
    )
    SELECT c.left_tok, c.right_tok, c.n_pairs,
           lv.n_tok AS n_left, rv.n_tok AS n_right,
           CAST(c.n_pairs AS DOUBLE)
               / CAST(lv.n_tok * rv.n_tok AS DOUBLE) AS score
    FROM counted c
    JOIN vocab lv ON lv.tok = c.left_tok
    JOIN vocab rv ON rv.tok = c.right_tok
    ORDER BY score DESC, c.left_tok ASC, c.right_tok ASC
    LIMIT 50
    """,
    tags=("tier2", "text", "pipeline"),
)
def wordpiece_pair_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WordPiece merge-scoring step (Schuster & Nakajima, ICASSP'12;
    the tokenizer-training objective behind BERT vocabularies): rank
    candidate merges by the likelihood ratio n_pair / (n_left * n_right)
    rather than BPE's raw pair count — the pair that gains the most
    per-occurrence likelihood wins, not the most frequent one. Emits the
    top-50 with the exact integer evidence (n_pairs, n_left, n_right)
    plus the score. Cross-engine exactness: the score is ONE
    correctly-rounded double division of exact int64s (the product is
    far below 2^53), so it is bit-identical in both engines and emitted
    RAW per the registry rounding policy; ties break on the pair itself.

    SCALE: same shape as bpe_pair_counts plus one broadcast-sized vocab
    join probed twice — pair counting is one explode + map-side-combined
    aggregate, the vocab table is token-cardinality-sized, and
    TakeOrdered cuts the top slice without a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    # tokenization STAGED into its own projection (the _bigram_instances
    # fix): an inline tokenize(text) inside the lambda re-splits the text
    # per pair position under interpreted HOF eval — O(tokens^2) per doc
    tk = docs.select(toks.alias("toks"))
    tc = F.col("toks")
    make = F.transform(
        F.sequence(F.lit(1), F.size(tc) - 1),
        lambda i: F.struct(
            F.element_at(tc, i).alias("left_tok"),
            F.element_at(tc, i + 1).alias("right_tok"),
        ),
    )
    guarded = F.when(F.size(tc) >= 2, make).otherwise(
        F.array().cast("array<struct<left_tok:string,right_tok:string>>")
    )
    pairs = (
        tk.select(F.explode(guarded).alias("p"))
        .select("p.left_tok", "p.right_tok")
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    # checkpoint the vocab-sized count table: it feeds BOTH broadcast
    # probes, and a lazy aggregate feeding two consumers replans a
    # second corpus FileScan (the round-9 duplicate-scan lesson —
    # audited 3 scans -> 2)
    vocab = (
        docs.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tok"))
    ).localCheckpoint(eager=False)
    lv = F.broadcast(vocab.select(F.col("tok").alias("left_tok"),
                                  F.col("n_tok").alias("n_left")))
    rv = F.broadcast(vocab.select(F.col("tok").alias("right_tok"),
                                  F.col("n_tok").alias("n_right")))
    scored = (
        pairs.join(lv, "left_tok")
        .join(rv, "right_tok")
        .withColumn(
            "score",
            F.col("n_pairs").cast("double")
            / (F.col("n_left") * F.col("n_right")).cast("double"),
        )
    )
    return (
        scored.select(
            "left_tok", "right_tok", "n_pairs", "n_left", "n_right", "score"
        )
        .orderBy(
            F.col("score").desc(),
            F.col("left_tok").asc(),
            F.col("right_tok").asc(),
        )
        .limit(50)
    )


BPE_LEARN_ROUNDS = 3


def _bpe_learn_oracle(rounds: int = BPE_LEARN_ROUNDS) -> str:
    """Unrolled BPE-training twin: per round, a pair-count CTE, a
    deterministic argmax, and a greedy left-to-right merge APPLY
    expressed positionally — match islands (consecutive adjacent-pair
    matches, only possible when left == right) claim even offsets, which
    is exactly the greedy fold the Spark side runs. All CTEs
    MATERIALIZED (the k-core inlining lesson — each round references the
    previous twice)."""
    parts = [
        """
    WITH w AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
      ) WHERE length(word) > 0 GROUP BY word
    ),
    s0 AS MATERIALIZED (
      SELECT word, n,
             list_transform(range(1, length(word) + 1),
                            i -> substr(word, i, 1)) AS s
      FROM w
    )"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f""",
    p{t} AS MATERIALIZED (
      SELECT s[i] AS x, s[i + 1] AS y, CAST(sum(n) AS BIGINT) AS pn
      FROM s{t - 1}, UNNEST(range(1, len(s))) AS r(i)
      GROUP BY 1, 2
    ),
    best{t} AS MATERIALIZED (
      SELECT x, y, pn FROM p{t} ORDER BY pn DESC, x ASC, y ASC LIMIT 1
    ),
    e{t} AS MATERIALIZED (
      SELECT word, n, i, s[i] AS tok,
             (i < len(s) AND s[i] = b.x AND s[i + 1] = b.y) AS mt
      FROM s{t - 1}, best{t} b, UNNEST(range(1, len(s) + 1)) AS r(i)
    ),
    isl{t} AS MATERIALIZED (
      SELECT word, n, i, tok, mt,
             CASE WHEN mt THEN i - row_number()
                 OVER (PARTITION BY word, mt ORDER BY i) END AS island
      FROM e{t}
    ),
    cl{t} AS MATERIALIZED (
      SELECT word, n, i, tok,
             mt AND ((i - min(i) OVER (PARTITION BY word, island)) % 2 = 0)
                 AS claim
      FROM isl{t}
    ),
    r{t} AS MATERIALIZED (
      SELECT word, n, i,
             CASE WHEN claim THEN (SELECT x || y FROM best{t})
                  ELSE tok END AS tok,
             lag(claim, 1, FALSE) OVER (PARTITION BY word ORDER BY i)
                 AS prev_claim
      FROM cl{t}
    ),
    s{t} AS MATERIALIZED (
      SELECT word, n, list(tok ORDER BY i) AS s
      FROM r{t} WHERE NOT prev_claim GROUP BY word, n
    ),
    tot{t} AS MATERIALIZED (
      SELECT CAST(sum(n * len(s)) AS BIGINT) AS after FROM s{t}
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS round, b.x AS left_sym, "
        f"b.y AS right_sym, b.pn AS pair_n, tot{t}.after AS symbols_after "
        f"FROM best{t} b, tot{t}"
        for t in range(1, rounds + 1)
    )
    parts.append(f"\n    {unions}\n    ")
    return "".join(parts)


@query(
    "bpe_learn_merges",
    oracle=_bpe_learn_oracle(),
    tags=("tier2", "text", "pipeline"),
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE TRAINING LOOP itself (Sennrich, Haddow & Birch, ACL'16),
    driver-attested round by round — not just one counting step: start
    from character symbols of every corpus word (weighted by word
    count), then per round count adjacent symbol pairs, take the argmax
    (ties: lexicographic pair), and apply the merge GREEDILY
    left-to-right to every word ("aaa" + (a,a) -> ["aa","a"], never
    overlapping claims). Emits per round (left_sym, right_sym, pair_n,
    symbols_after) — the merge table a tokenizer trainer would persist,
    plus the corpus symbol count that the merge must shrink by exactly
    pair_n. The Spark apply is one scan-stage F.aggregate fold per round
    (merge iff the accumulator's last symbol == x and the next == y);
    the oracle applies the same greedy positionally — consecutive-match
    islands (possible only when x == y) claim even offsets — and the two
    are equal by construction, hash-checked end to end.

    SCALE: the training corpus is the DISTINCT-WORD table (Zipf: vocab
    grows ~sqrt of corpus), not the token stream; each round is one
    explode + map-side-combined pair count, a 1-row argmax, and a fold
    over vocab-sized symbol arrays. Rounds are sequential by definition
    (each merge depends on the last), the same bounded-driver-loop shape
    as k-means; BPE_NUM_MERGES-scale production runs ride the identical
    machinery (bpe_encode's trainer), with this query pinning the loop's
    exact semantics cross-engine."""
    docs = load_table(spark, sf_dir, "documents")
    from mapreduce__spark.operators.staging import bounded_collect

    toks = tokenize(F.col("text"))
    words = (
        docs.select(F.explode(toks).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    syms = words.select(
        "word",
        "n",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("s"),
    ).localCheckpoint(eager=False)

    out_rows = []
    cur = syms
    for t in range(1, BPE_LEARN_ROUNDS + 1):
        pair_structs = F.expr(
            "transform(sequence(1, size(s) - 1), "
            "i -> struct(s[i - 1] AS x, s[i] AS y))"
        )
        guarded = F.when(F.size("s") >= 2, pair_structs).otherwise(
            F.array().cast("array<struct<x:string,y:string>>")
        )
        best = bounded_collect(
            cur.select(F.explode(guarded).alias("p"), "n")
            .groupBy("p.x", "p.y")
            .agg(F.sum("n").cast("bigint").alias("pn"))
            .orderBy(F.col("pn").desc(), F.col("x").asc(), F.col("y").asc())
            .limit(1),
            1,
            "bpe best pair",
        )
        if not best:
            break
        x, y, pn = best[0].x, best[0].y, int(best[0].pn)
        merged = x + y
        # greedy left-to-right apply: merge iff the accumulator's last
        # symbol is x and the incoming one is y (the merged symbol can
        # never re-merge this round — it is strictly longer than x)
        apply_expr = F.expr(
            "aggregate(s, cast(array() as array<string>), (acc, t) -> "
            f"CASE WHEN size(acc) > 0 AND element_at(acc, -1) = {x!r} "
            f"AND t = {y!r} "
            f"THEN concat(slice(acc, 1, size(acc) - 1), array({merged!r})) "
            "ELSE concat(acc, array(t)) END)"
        )
        cur = cur.select("word", "n", apply_expr.alias("s")).localCheckpoint(
            eager=False
        )
        after = bounded_collect(
            cur.select(
                F.sum(F.col("n") * F.size("s")).cast("bigint").alias("a")
            ),
            1,
            "bpe symbol total",
        )[0].a
        out_rows.append((t, x, y, pn, int(after)))
    return spark.createDataFrame(
        out_rows,
        "round bigint, left_sym string, right_sym string, "
        "pair_n bigint, symbols_after bigint",
    )


BPE_NUM_MERGES = 32
BPE_TRAIN_VOCAB = 2000  # train merges on the top-V word head (Zipf: covers
# nearly all mass; keeps the driver-side trainer O(V) at any corpus size)


@query(
    "bpe_encode",
    oracle=None,  # iterative argmax training + greedy rank encode are not
    # SQL-expressible; pytest pins exact equivalence to the pure-Python
    # reference implementation end-to-end (tests/test_operators.py)
    tags=("tier2", "text", "pipeline", "tokenizer"),
)
def bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE tokenization, trained and applied on the corpus: ONE
    distributed word-frequency pass, Sennrich-style merge training on the
    driver over the O(V) top-word dict (the production split — 100 TB of
    text still has a bounded vocabulary head), then an Arrow-batched
    encode pass with the merge ranks broadcast and per-batch word
    memoization. Output per doc: token count, BPE piece count, and the
    first 12 pieces (deterministic, so the driver's rows-only check is
    stable).

    This completes the BPE story the registry already tells in parts:
    bpe_pair_counts is one training round's distributed count;
    vocab_encode is dictionary lookup; this is the real trainer+encoder."""
    from mapreduce__spark.functions.bpe import encode_tokens, train_bpe_merges

    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    # Empty tokens (split artifacts of empty/multi-space texts) are
    # excluded from training on BOTH sides (the pytest reference filters
    # identically): the trainer drops '' from its vocab anyway, so an ''
    # head entry would waste a top-V slot here while the reference spends
    # it on a real word — different heads, different merges.
    head = (
        docs.select(F.explode(toks).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(BPE_TRAIN_VOCAB)
        .collect()
    )
    merges = train_bpe_merges({r.tok: r.n for r in head}, BPE_NUM_MERGES)
    ranks = {p: i for i, p in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict[str, list[str]] = {}
        r = bc.value
        for pdf in batches:
            ids, n_toks, n_pieces, heads = [], [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split(" ") if text else []
                pieces = encode_tokens(words, r, memo)
                ids.append(did)
                n_toks.append(len(words))
                n_pieces.append(len(pieces))
                heads.append(" ".join(pieces[:12]))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_tokens": n_toks,
                    "n_pieces": n_pieces,
                    "pieces_head": heads,
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        enc,
        schema="doc_id bigint, n_tokens bigint, n_pieces bigint, pieces_head string",
    )


VOCAB_SIZE = 512  # top-V tokens by corpus frequency; id 0 is reserved for OOV


@query(
    "vocab_encode",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tok AS (
        SELECT doc_id, unnest(toks) AS tok,
               unnest(range(1, len(toks) + 1)) AS pos
        FROM t
    ),
    cnt AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
    vocab AS (
        SELECT tok, id FROM (
            SELECT tok, row_number() OVER (ORDER BY c DESC, tok ASC) AS id
            FROM cnt
        ) WHERE id <= {VOCAB_SIZE}
    )
    SELECT tok.doc_id,
           string_agg(CAST(COALESCE(v.id, 0) AS VARCHAR), ' ' ORDER BY pos)
               AS encoded,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN v.id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM tok LEFT JOIN vocab v ON tok.tok = v.tok
    GROUP BY tok.doc_id
    """,
    tags=("tier2", "text", "pipeline"),
)
def vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction + document id-encoding — the step between
    a text corpus and tokenized training shards: rank tokens by global
    frequency (count desc, token asc for determinism), keep the top V as
    ids 1..V, encode every document as its id sequence with 0 for OOV.

    Scale shape: the vocab is SMALL by construction (top-V of a word
    count), so it collects to the driver O(V) — the same bounded-collect
    pattern as IVF centroids — and ships to executors as a broadcast
    dict; encoding is then a zero-shuffle Arrow-batched map over the
    corpus (dict lookups, no join, no per-token explode on the big
    side). The oracle instead re-joins every exploded token against the
    vocab — fine for DuckDB at test scale, exactly the shuffle this
    operator avoids."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    )
    top = (
        docs.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(VOCAB_SIZE)
        .collect()  # O(V) rows by construction, never O(corpus)
    )
    mapping = {r.tok: i + 1 for i, r in enumerate(top)}
    bcast = spark.sparkContext.broadcast(mapping)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        m = bcast.value
        for pdf in batches:
            toks_col = pdf["toks"]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "encoded": [
                        " ".join(str(m.get(t, 0)) for t in toks) for toks in toks_col
                    ],
                    "n_tokens": [len(toks) for toks in toks_col],
                    "n_oov": [
                        sum(1 for t in toks if t not in m) for toks in toks_col
                    ],
                }
            )

    return docs.mapInPandas(
        encode,
        schema="doc_id bigint, encoded string, n_tokens bigint, n_oov bigint",
    )


TOKEN_BUDGET_PER_SOURCE = 20_000  # whitespace tokens kept per source slice


@query(
    "token_budget_mixture",
    oracle=f"""
    SELECT doc_id, source, n_tok, cum_tok FROM (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
               CAST(sum(len(string_split(text, ' ')))
                    OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT)
                   AS cum_tok
        FROM documents
    ) WHERE cum_tok <= {TOKEN_BUDGET_PER_SOURCE}
    """,
    tags=("tier2", "pipeline"),
)
def token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture sampling to a per-source token budget: walk each source's
    documents in doc_id order and keep them until the source has
    contributed TOKEN_BUDGET_PER_SOURCE whitespace tokens — how a
    training mix caps any one domain's share of the final corpus.

    Scale shape: the running total per source uses the grouped
    distributed cumsum (range-buckets on doc_id × source), NOT
    `Window.partitionBy(source)` — with a handful of sources the plain
    window funnels the whole corpus through that many tasks (the exact
    bottleneck round-1 flagged in the pipeline's packing stage). The
    oracle states the same semantics with the plain window, which DuckDB
    can afford at test scale."""
    from mapreduce__spark.operators.windows import distributed_cumsum_grouped

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(tokenize(F.col("text"))).cast("bigint").alias("n_tok")
    )
    cum = distributed_cumsum_grouped(
        docs, group_cols=["source"], order_col="doc_id", value_col="n_tok",
        out_col="cum_tok",
    )
    return cum.where(F.col("cum_tok") <= TOKEN_BUDGET_PER_SOURCE).select(
        "doc_id", "source", "n_tok", F.col("cum_tok").cast("bigint").alias("cum_tok")
    )


@query(
    "training_data_pipeline",
    oracle=f"""
    WITH RECURSIVE quality AS (
        SELECT doc_id, text FROM documents
        WHERE len(string_split(text, ' ')) BETWEEN 20 AND 2000
          AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
              / length(text) < 0.3
    ), exact_keep AS (
        SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ), pairs AS ({_jaccard_oracle("quality")}),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    removal AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a
    ),
    survivors AS (
        SELECT q.doc_id, q.text
        FROM quality q
        JOIN exact_keep k ON q.doc_id = k.doc_id
        WHERE q.doc_id NOT IN (SELECT doc_id FROM removal)
    ),
    with_split AS (
        SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))::BIGINT % 10 < 8
                    THEN 'train' ELSE 'holdout' END AS split
        FROM survivors
    ),
    packed AS (
        SELECT doc_id, n_tokens, split,
               sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM with_split
    )
    SELECT doc_id, n_tokens, split, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
    FROM packed
    """,
    tags=("tier2", "pipeline", "flagship"),
)
def training_data_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LLM-training-data pipeline as ONE composed DataFrame
    program — the engine's end-to-end showcase:

    1. quality gate (token count + digit-ratio rules);
    2. exact dedup (keep min doc_id per content hash);
    3. near-dup removal over the quality docs (MinHash-LSH pairs →
       connected components → drop every non-representative member);
    4. reproducible train/holdout split (content-hash bucketing);
    5. per-split sequence packing into 2048-token bins.

    Every stage is a previously oracle-verified operator; the composition
    is hash-checked end-to-end against the same stages composed in SQL
    (recursive CTE for the cluster closure). At 100 TB each stage keeps
    its own scaling story (see SCALE.md) and the composition adds no new
    shuffles beyond the stages' own. Two shapes matter at that scale:
    the document PAYLOAD never shuffles (the dedup window runs over the
    narrow (doc_id, fp, len) projection; downstream stages only need the
    precomputed length), and near-dup detection runs on the quality
    survivors, not the raw corpus — filter-then-dedup, so signature work
    is never spent on docs already dropped."""
    docs = load_table(spark, sf_dir, "documents")
    # The quality gate stays LAZY on purpose: it has only two consumers
    # (the exact-dedup fingerprint projection and LSH signatures), and a
    # measured eager checkpoint here was a net LOSS at sf0.1 (4.1-5.0s vs
    # 3.5s warm) — the materialization barrier costs more than the second
    # scan-stage regex pass it saves. Contrast training_data_pipeline_full,
    # where the scrubbed/decon relations feed 3-4 consumers each carrying
    # a gram-join lineage, and the same checkpoint is a 1.8x win.
    quality = docs.where(quality_keep_expr(F.col("text"))).select("doc_id", "text")

    # Exact dedup as min-over-window on the content hash: ONE pass and one
    # shuffle (on the uniform md5 key), where the groupBy + semi-join
    # formulation scans the quality subtree twice and shuffles twice
    # (Catalyst does not share the common subtree). The window input is
    # the NARROW projection — shuffling (doc_id, fp, len) instead of the
    # full text was measured ~1.5x faster on this stage at sf0.1, and at
    # corpus scale it is the difference between shuffling fingerprints and
    # shuffling the corpus.
    narrow = quality.select(
        "doc_id", F.md5("text").alias("_fp"), F.length("text").alias("_len")
    )
    wfp = Window.partitionBy("_fp")
    exact_deduped = (
        narrow.withColumn("_min_id", F.min("doc_id").over(wfp))
        .where(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "_len")
    )

    from mapreduce__spark.operators.graph import connected_components

    # Verification texts come from the raw scan (`docs`): quality filters
    # but never rewrites text, so the raw table is a cheap equal-valued
    # superset — without this the verify pass re-runs the quality pipeline.
    pairs = lsh_near_duplicate_pairs(
        quality, JACCARD_THRESHOLD, num_hashes=16, bands=8, text_source=docs
    )
    cc = connected_components(pairs, "id1", "id2")
    removal = cc.where(F.col("component") < F.col("node")).select(
        F.col("node").alias("doc_id")
    )

    survivors = exact_deduped.join(removal, "doc_id", "left_anti")

    bucket = split_bucket_expr(F.col("doc_id"))
    with_split = survivors.select(
        "doc_id",
        F.ceil(F.col("_len") / 4.0).cast("bigint").alias("n_tokens"),
        F.when(bucket < 8, "train").otherwise("holdout").alias("split"),
    )

    # Per-split running sum via the grouped two-phase cumsum — NOT
    # Window.partitionBy("split"): with 2 split values that window funnels
    # the whole surviving corpus through 2 tasks (round-1 VERDICT item 5).
    from mapreduce__spark.operators.windows import distributed_cumsum_grouped, idiv

    packed = distributed_cumsum_grouped(
        with_split, ["split"], "doc_id", "n_tokens", "cum"
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "split",
        idiv(F.col("cum") - F.col("n_tokens"), 2048).alias("bin"),
    )


# --------------------------------------------------------------------------
# Training-data pipeline extensions: decontamination, PII scrub, quality rules
# --------------------------------------------------------------------------

# Deterministic "held-out benchmark" slice: every 50th doc plays the role of
# an eval set (a real pipeline would load the benchmark corpus instead).
_EVAL_MOD = 50

# PII patterns live in functions.text (shared with the streaming twins);
# re-exported here because the oracle SQL interpolates them verbatim.


@query(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(toks) - 3),
                           i -> array_to_string(toks[i:i+4], ' ')))) AS gram
        FROM t
    ),
    e  AS (SELECT doc_id AS eval_id,  gram FROM g WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id AS train_id, gram FROM g WHERE doc_id % {_EVAL_MOD} <> 0)
    SELECT tr.train_id, e.eval_id, count(*) AS n_shared_grams
    FROM tr JOIN e USING (gram)
    GROUP BY tr.train_id, e.eval_id
    """,
    tags=("tier2", "pipeline", "text"),
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: find training docs sharing word-5-gram
    shingles with any eval-set doc (the GPT-3/PaLM-style n-gram overlap
    check a training pipeline runs before every release).

    Scale shape: distinct shingles explode from ONE scan. The join
    strategy is deliberately UNHINTED: in the real-world contract the
    eval side is a benchmark (tiny) and AQE upgrades the gram join to a
    broadcast at runtime from the measured shuffle size; but as fixtured
    here the eval slice is ``doc_id % 50 == 0`` — 2% of the corpus — so
    a forced ``F.broadcast`` would grow linearly with data and OOM the
    driver at 100× (round-6 VERDICT finding 1). Leaving the choice to
    AQE keeps the small-eval fast path AND a shuffle equi-join fallback
    that survives any eval size. Output is (train_id, eval_id,
    n_shared_grams) for human triage; dropping contaminated docs is a
    left_anti join on train_id.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(word_ngrams(tokenize(F.col("text")), 5)).alias("gram")
    )
    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    eval_g = grams.where(is_eval).select(F.col("doc_id").alias("eval_id"), "gram")
    train_g = grams.where(~is_eval).select(F.col("doc_id").alias("train_id"), "gram")
    return (
        train_g.join(eval_g, "gram")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


@query(
    "pii_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_PHONE}', '<PHONE>', 'g') AS clean_text,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}'))
              + len(regexp_extract_all(text, '{PII_IPV4}'))
              + len(regexp_extract_all(text, '{PII_PHONE}')) AS BIGINT) AS n_pii
    FROM documents
    """,
    tags=("tier2", "pipeline", "text"),
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: replace emails / IPv4 addresses / phone numbers with
    typed placeholders and count redactions per doc — the compliance pass
    every training corpus goes through.

    Pure regexp_replace/regexp_count expressions: zero shuffle, runs in
    the scan stage at any corpus size. Patterns are restricted to syntax
    Java regex and RE2 interpret identically so the oracle reproduces the
    scrub bit-for-bit (the synthetic corpus contains no PII — the planted
    fixture in tests/test_advice_regressions.py proves real redaction).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        pii_scrub_expr(F.col("text")).alias("clean_text"),
        pii_count_expr(F.col("text")).alias("n_pii"),
    )


@query(
    "gopher_quality_rules",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), m AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_words,
               round(list_aggregate(list_transform(toks, x -> length(x)),
                                    'sum')::DOUBLE / len(toks), 4) AS mean_word_len,
               round(len(list_distinct(toks))::DOUBLE / len(toks), 4) AS distinct_ratio,
               CAST(len(list_filter(toks,
                    x -> x IN ('the','a','of','and','to','is','in'))) AS BIGINT) AS stop_hits
        FROM t
    )
    SELECT doc_id, n_words, mean_word_len, distinct_ratio, stop_hits,
           (n_words BETWEEN 20 AND 2500
            AND mean_word_len BETWEEN 3.0 AND 10.0
            AND distinct_ratio >= 0.2
            AND stop_hits >= 2) AS keep
    FROM m
    """,
    tags=("tier2", "pipeline", "text"),
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rule set: word count bounds, mean
    word length bounds, distinct-token ratio (repetition guard), and
    stopword presence — each rule emitted as its own column plus the
    composite `keep` flag, so a pipeline can both filter and audit which
    rule fired.

    All rules are scan-stage codegen expressions over ONE tokenization —
    zero shuffle at any corpus size (same scaling class as word count).
    """
    from mapreduce__spark.functions.text import gopher_rule_columns

    docs = load_table(spark, sf_dir, "documents")
    rules = gopher_rule_columns(F.col("text"))
    return docs.select(
        "doc_id", *[expr.alias(name) for name, expr in rules.items()]
    )


@query(
    "training_data_pipeline_full",
    oracle=f"""
    WITH RECURSIVE scrubbed AS (
        SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(text,
                   '{PII_EMAIL}', '<EMAIL>', 'g'),
                   '{PII_IPV4}', '<IP>', 'g'),
                   '{PII_PHONE}', '<PHONE>', 'g') AS text
        FROM documents
    ), quality AS (
        SELECT doc_id, text FROM scrubbed
        WHERE len(string_split(text, ' ')) BETWEEN 20 AND 2000
          AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
              / length(text) < 0.3
    ), g5 AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(string_split(text, ' ')) - 3),
                           i -> array_to_string(string_split(text, ' ')[i:i+4], ' ')))) AS gram
        FROM scrubbed
    ),
    contaminated AS (
        SELECT DISTINCT tr.doc_id
        FROM (SELECT doc_id, gram FROM g5 WHERE doc_id % {_EVAL_MOD} <> 0) tr
        JOIN (SELECT doc_id, gram FROM g5 WHERE doc_id % {_EVAL_MOD} = 0) e
          USING (gram)
    ),
    decon AS (
        SELECT q.doc_id, q.text FROM quality q
        WHERE q.doc_id % {_EVAL_MOD} <> 0
          AND q.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    exact_keep AS (
        SELECT min(doc_id) AS doc_id FROM decon GROUP BY md5(text)
    ), pairs AS ({_jaccard_oracle("decon")}),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    removal AS (
        SELECT a AS doc_id FROM reach GROUP BY a HAVING min(b) < a
    ),
    survivors AS (
        SELECT d.doc_id, d.text
        FROM decon d
        JOIN exact_keep k ON d.doc_id = k.doc_id
        WHERE d.doc_id NOT IN (SELECT doc_id FROM removal)
    ),
    with_split AS (
        SELECT doc_id, CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens,
               CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#split'), 1, 8))::BIGINT % 10 < 8
                    THEN 'train' ELSE 'holdout' END AS split
        FROM survivors
    ),
    packed AS (
        SELECT doc_id, n_tokens, split,
               sum(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM with_split
    )
    SELECT doc_id, n_tokens, split, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin
    FROM packed
    """,
    tags=("tier2", "pipeline", "flagship"),
)
def training_data_pipeline_full(
    spark: SparkSession,
    sf_dir: str,
    staging_dir: str | None = None,
) -> DataFrame:
    """The complete modern training-data pipeline as ONE DataFrame program
    — `training_data_pipeline` (quality → dedup → cluster removal → split
    → pack) extended with the two compliance stages a production corpus
    adds in front:

    1. PII scrub (email/IPv4/phone → typed placeholders, scan-stage);
    2. quality gate on the scrubbed text;
    3. benchmark decontamination: drop eval-slice docs AND any training
       doc sharing a word-5-gram with one (unhinted gram equi-join —
       AQE broadcasts when the eval side is genuinely small);
    4. exact dedup (min-over-window on content hash, one pass, narrow
       (doc_id, fp, len) shuffle — the payload never shuffles);
    5. MinHash-LSH near-dup clusters over the decontaminated quality docs
       (filter-then-dedup) → drop non-representatives;
    6. reproducible hash split; per-split distributed-cumsum packing.

    Stage scaling stories are unchanged from the component operators; the
    composition is hash-checked end-to-end against the same stages in SQL.

    `staging_dir` (default None) switches the three corpus-proportional
    materializations (scrubbed corpus, decontaminated corpus, LSH
    signatures) from executor-memory checkpoints to durable parquet —
    the 100 TB shape; see :mod:`operators.staging`. Value-identical
    (tests/test_staging.py).
    """
    from mapreduce__spark.operators.graph import connected_components
    from mapreduce__spark.operators.staging import stage
    from mapreduce__spark.operators.windows import distributed_cumsum_grouped, idiv

    docs = load_table(spark, sf_dir, "documents")
    # The scrubbed corpus feeds FOUR independent consumers (quality gate,
    # both sides of the decontamination gram join, and LSH verification
    # texts); left lazy, each one re-runs the 3-regex scrub over the full
    # corpus. A production pipeline materializes the scrubbed corpus once
    # (it is a deliverable in its own right) — the materialization is the
    # executor-memory checkpoint by default (measured ~1.9x on the
    # end-to-end flagship at sf0.1), or durable parquet under
    # `staging_dir` — the 100 TB shape, where a corpus-sized relation
    # does not fit executor storage and must survive executor loss.
    scrubbed = stage(
        docs.select("doc_id", pii_scrub_expr(F.col("text")).alias("text")),
        staging_dir,
        "scrubbed",
    )

    toks = tokenize(F.col("text"))
    quality = scrubbed.where(quality_keep_expr(F.col("text"))).select(
        "doc_id", "text"
    )

    is_eval = F.col("doc_id") % _EVAL_MOD == 0
    # Train-side grams are computed over QUALITY train docs only: a doc
    # that fails the quality gate never reaches `decon`, so whether it is
    # contaminated is irrelevant — the anti-join result is identical, and
    # the expensive 5-gram explode runs over the smaller filtered corpus.
    # The eval side must stay over ALL scrubbed docs (the eval slice is
    # defined before quality filtering, matching the oracle's g5 CTE).
    # distinct BEFORE the join: contamination only needs gram existence,
    # and cross-eval-doc duplicate grams would both inflate the built
    # side and multiply probe-side matches ahead of the .distinct().
    # The join is UNHINTED (round-6 VERDICT finding 1): the fixtured eval
    # slice is 2% of the corpus, so a forced broadcast would scale with
    # data; AQE broadcasts at runtime when the built side is genuinely
    # small and otherwise keeps the shuffle equi-join.
    eval_grams = (
        scrubbed.where(is_eval)
        .select(F.explode(word_ngrams(toks, 5)).alias("gram"))
        .distinct()
    )
    contaminated = (
        quality.where(~is_eval)
        .select("doc_id", F.explode(word_ngrams(toks, 5)).alias("gram"))
        .join(eval_grams, "gram")
        .select("doc_id")
        .distinct()
    )
    # `decon` is the surviving corpus and feeds THREE consumers (exact
    # dedup, LSH signatures, the survivors join); without materialization
    # each re-runs the contamination gram join above.
    decon = stage(
        quality.where(~is_eval).join(contaminated, "doc_id", "left_anti"),
        staging_dir,
        "decontaminated",
    )

    narrow = decon.select(
        "doc_id", F.md5("text").alias("_fp"), F.length("text").alias("_len")
    )
    wfp = Window.partitionBy("_fp")
    exact_deduped = (
        narrow.withColumn("_min_id", F.min("doc_id").over(wfp))
        .where(F.col("doc_id") == F.col("_min_id"))
        .select("doc_id", "_len")
    )

    # Verification texts come from `scrubbed` (scan-stage regexes only):
    # decon docs carry SCRUBBED text, so the raw table would be wrong, but
    # re-running the decontamination joins just to read texts is waste —
    # scrubbed is the cheapest equal-valued superset.
    pairs = lsh_near_duplicate_pairs(
        decon,
        JACCARD_THRESHOLD,
        num_hashes=16,
        bands=8,
        text_source=scrubbed,
        staging_dir=staging_dir,
    )
    cc = connected_components(pairs, "id1", "id2")
    removal = cc.where(F.col("component") < F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    survivors = exact_deduped.join(removal, "doc_id", "left_anti")

    bucket = split_bucket_expr(F.col("doc_id"))
    with_split = survivors.select(
        "doc_id",
        F.ceil(F.col("_len") / 4.0).cast("bigint").alias("n_tokens"),
        F.when(bucket < 8, "train").otherwise("holdout").alias("split"),
    )
    packed = distributed_cumsum_grouped(
        with_split, ["split"], "doc_id", "n_tokens", "cum"
    )
    return packed.select(
        "doc_id",
        "n_tokens",
        "split",
        idiv(F.col("cum") - F.col("n_tokens"), 2048).alias("bin"),
    )


@query(
    "weighted_sample",
    oracle="""
    WITH t AS (
      SELECT doc_id, source,
             len(string_split(text, ' ')) AS n_words,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wsamp'), 1, 8))::BIGINT AS h
      FROM documents
    )
    SELECT doc_id, source,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(least(n_words, 1000) AS BIGINT) AS weight_millis
    FROM t
    WHERE h * 1000 < least(n_words, 1000) * 4294967296
    """,
    tags=("tier2", "sampling"),
)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted Bernoulli sampling — quality-weighted
    downsampling, the mixture knob between "keep everything" and
    stratified_sample's fixed per-stratum rates: each doc is kept with
    probability min(1, n_words/1000), decided by a content hash rather
    than an RNG so membership is reproducible across reruns, engines,
    and cluster layouts (same md5 idiom as split_bucket_expr). The
    comparison is pure integer math — h*1000 < weight_millis * 2^32 —
    so no float rounding can flip a row between engines. The expressions
    live in functions/text.py (weight_millis_expr / weighted_keep_expr),
    shared with the streaming twin under the one-source rule.

    SCALE: scan-stage filter, zero shuffles, pushes nothing to the
    driver; the weight function swaps freely (any bigint-millis
    expression of the row works)."""
    from mapreduce__spark.functions.text import (
        weight_millis_expr,
        weighted_keep_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(tokenize(F.col("text"))).cast("bigint").alias("n_words"),
            weight_millis_expr(F.col("text")).alias("weight_millis"),
        )
        .where(weighted_keep_expr(F.col("doc_id"), F.col("weight_millis")))
    )


# Max docs kept per source: the fixtures carry exactly 25 docs per source
# at every SF, so the cap must sit BELOW 25 to be a real filter (a vacuous
# cap would let the oracle pass without exercising the window+cut path).
PER_SOURCE_CAP = 15


@query(
    "per_source_cap",
    oracle="""
    WITH r AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#cap'), 1, 8))::BIGINT,
                        doc_id
             ) AS rk
      FROM documents
    )
    SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 15
    """,
    tags=("tier2", "sampling"),
)
def per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap — the per-domain cap every crawl pipeline
    applies so one host cannot dominate the training mixture: keep at
    most PER_SOURCE_CAP docs per source, chosen by a deterministic
    content-hash order (a hash order is an unbiased uniform draw; taking
    "first by doc_id" would bias toward old documents). doc_id breaks
    hash ties so the selection is total-order stable.

    SCALE: one hash-partitioned window per source — the partition count
    is the number of DOMAINS (millions at 100 TB, comfortably parallel),
    and rows within a source sort locally. A pathologically hot source
    (one domain = a whole executor's memory) would use the two-phase
    approx-rank trick in operators/windows.py instead; the cap output
    itself is bounded at cap x #sources rows."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#cap"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= PER_SOURCE_CAP)
    )


MIXTURE_WEIGHT_CAP = 5.0  # max per-source upsampling (epoch cap)


@query(
    "domain_mixture_weights",
    oracle=f"""
    WITH s AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS source_tokens
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT sum(source_tokens) AS total_tokens,
             count(*) AS n_sources
      FROM s
    )
    SELECT source, n_docs, source_tokens,
           source_tokens::DOUBLE / total_tokens AS token_share,
           least({MIXTURE_WEIGHT_CAP},
                 (total_tokens::DOUBLE / n_sources) / source_tokens) AS weight
    FROM s, t
    """,
    tags=("tier2", "sampling"),
)
def domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static domain mixture weights — the per-source resampling factors
    a pipeline derives before packing, so the training mixture hits a
    target share per domain (uniform target here; a config table slots
    in unchanged): weight_s = target_tokens / actual_tokens, capped at
    MIXTURE_WEIGHT_CAP so a tiny domain is never upsampled past the
    epoch budget (the Pile/DoReMi-style knob). weighted_sample consumes
    exactly this weight column downstream.

    SCALE: one map-side-combinable groupBy(source) — output rows =
    #domains — then a single-row total joined back. The per-source
    aggregate is MATERIALIZED (#domains rows, trivially small) because
    it feeds two consumers (the total and the output): left lazy,
    Catalyst plans TWO full corpus scans (no exchange reuse across the
    re-aggregation), doubling scan I/O at any scale for a table of a
    few million rows at most. The total is a genuine broadcast at ANY
    corpus size (one row), and the ratios are RAW divisions of exact
    BIGINTs — identical doubles on both engines with no rounding step
    to sit on decimal half-ties."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split(F.col("text"), " ")))
            .cast("bigint")
            .alias("source_tokens"),
        )
        .localCheckpoint(eager=True)
    )
    t = s.agg(
        F.sum("source_tokens").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return s.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "source_tokens",
        # raw divisions of exact BIGINTs — identical doubles on both
        # engines; round() would sit on decimal half-ties (the
        # events_ewma lesson)
        (F.col("source_tokens") / F.col("total_tokens")).alias("token_share"),
        F.least(
            F.lit(MIXTURE_WEIGHT_CAP),
            (F.col("total_tokens") / F.col("n_sources")) / F.col("source_tokens"),
        ).alias("weight"),
    )


@query(
    "url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             (CASE doc_id % 3 WHEN 0 THEN 'http' WHEN 1 THEN 'https'
                              ELSE 'HTTP' END)
             || '://'
             || (CASE
                   WHEN doc_id % 13 = 7 THEN 'Mirror.Data-Host.NET'
                   WHEN doc_id % 11 = 5 THEN 'Data.Archive.TEST'
                   WHEN doc_id % 5 = 0 THEN
                     'WWW.Site-' || CAST(doc_id % 7 AS VARCHAR)
                       || '.Example.COM'
                   WHEN doc_id % 5 = 4 THEN
                     'cdn.site-' || CAST(doc_id % 7 AS VARCHAR)
                       || '.example.com'
                   ELSE 'site-' || CAST(doc_id % 7 AS VARCHAR)
                          || '.example.com'
                 END)
             || (CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':8080'
                                 ELSE '' END)
             || '/docs/' || CAST(doc_id AS VARCHAR) || '/page'
             || (CASE WHEN doc_id % 2 = 0 THEN
                   '?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
                     || '&z=9&ref=rss&a=1'
                 WHEN doc_id % 6 = 3 THEN '?utm_only=1&ref=x'
                 ELSE '' END)
             || (CASE WHEN doc_id % 3 = 0 THEN
                   '#frag' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END)
             AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
             lower(split_part(split_part(url, '#', 1), '://', 1)) AS scheme,
             split_part(split_part(url, '#', 1), '://', 2) AS rest
      FROM raw
    ),
    cutpos AS (
      SELECT *, least(nullif(strpos(rest, '/'), 0),
                      nullif(strpos(rest, '?'), 0)) AS cut
      FROM parts
    ),
    auth AS (
      SELECT *,
             lower(CASE WHEN cut IS NULL THEN rest
                        ELSE substring(rest, 1, cut - 1) END) AS authority,
             CASE WHEN cut IS NULL THEN '/'
                  WHEN substring(rest, cut, 1) = '?'
                  THEN '/' || substring(rest, cut)
                  ELSE substring(rest, cut) END AS pathq
      FROM cutpos
    ),
    hostport AS (
      SELECT *,
             CASE WHEN strpos(authority, ':') > 0
                  THEN split_part(authority, ':', 1) ELSE authority
             END AS host0,
             CASE WHEN strpos(authority, ':') > 0
                  THEN split_part(authority, ':', 2) END AS port
      FROM auth
    ),
    canon0 AS (
      SELECT doc_id, url, scheme, pathq, port,
             CASE WHEN starts_with(host0, 'www.')
                  THEN substring(host0, 5) ELSE host0 END AS host,
             (port IS NOT NULL
              AND NOT ((scheme = 'http' AND port = '80')
                       OR (scheme = 'https' AND port = '443')))
                 AS keep_port,
             split_part(pathq, '?', 1) AS path,
             CASE WHEN strpos(pathq, '?') > 0 THEN
               list_filter(string_split(split_part(pathq, '?', 2), '&'),
                           p -> NOT starts_with(p, 'utm_')
                                AND NOT starts_with(p, 'ref='))
             ELSE [] END AS params
      FROM hostport
    ),
    canon1 AS (
      SELECT *,
             array_to_string(list_sort(params), '&') AS qs,
             string_split(host, '.') AS labels,
             len(string_split(host, '.')) AS n
      FROM canon0
    )
    SELECT doc_id, url,
           scheme || '://' || host
             || CASE WHEN keep_port THEN ':' || port ELSE '' END
             || path
             || CASE WHEN qs <> '' THEN '?' || qs ELSE '' END
             AS canonical_url,
           host,
           CASE WHEN n < 2 THEN host
                WHEN labels[n - 1] || '.' || labels[n]
                     IN ('example.com', 'archive.test') AND n >= 3
                THEN labels[n - 2] || '.' || labels[n - 1] || '.' || labels[n]
                ELSE labels[n - 1] || '.' || labels[n]
           END AS registered_domain,
           CAST(len(list_filter(string_split(path, '/'), s -> s <> ''))
                AS BIGINT) AS path_depth,
           CAST(len(params) AS BIGINT) AS kept_params
    FROM canon1
    """,
    tags=("tier2", "text", "pipeline"),
)
def url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + registered-domain extraction — the first
    gate of every web-corpus pipeline (per-domain caps, provenance
    joins and URL dedup all key on the canonical spelling). The law
    synthesizes crawl-shaped URLs covering every hazard: mixed-case
    schemes and hosts, `www.` prefixes, default (dropped) vs explicit
    (kept) ports, `utm_*`/`ref` tracking parameters, queries whose
    parameters ALL vanish (the `?` must vanish with them), fragments,
    multi-label public suffixes (example.com / archive.test — the
    co.uk shape) and a plain two-label domain. The Spark side parses
    and canonicalizes from the raw STRING with built-in expressions
    only (functions/urls.py — lower/substring_index/split/filter/
    array_sort: whole-stage codegen, no UDF, no shuffle); the oracle
    re-derives everything with DuckDB's independent string/list
    machinery. SCALE: per-row expressions fused into the scan stage;
    the public-suffix set becomes a broadcast dim at real size —
    either way nothing shuffles."""
    from mapreduce__spark.functions.urls import canonicalize_urls

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    url = F.concat(
        F.when(d % 3 == 0, F.lit("http"))
        .when(d % 3 == 1, F.lit("https"))
        .otherwise(F.lit("HTTP")),
        F.lit("://"),
        F.when(d % 13 == 7, F.lit("Mirror.Data-Host.NET"))
        .when(d % 11 == 5, F.lit("Data.Archive.TEST"))
        .when(
            d % 5 == 0,
            F.concat(
                F.lit("WWW.Site-"), (d % 7).cast("string"),
                F.lit(".Example.COM"),
            ),
        )
        .when(
            d % 5 == 4,
            F.concat(
                F.lit("cdn.site-"), (d % 7).cast("string"),
                F.lit(".example.com"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("site-"), (d % 7).cast("string"), F.lit(".example.com")
            )
        ),
        F.when(d % 4 == 0, F.lit(":80"))
        .when(d % 4 == 1, F.lit(":8080"))
        .otherwise(F.lit("")),
        F.lit("/docs/"), d.cast("string"), F.lit("/page"),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="), d.cast("string"),
                F.lit("&z=9&ref=rss&a=1"),
            ),
        )
        .when(d % 6 == 3, F.lit("?utm_only=1&ref=x"))
        .otherwise(F.lit("")),
        F.when(
            d % 3 == 0, F.concat(F.lit("#frag"), (d % 5).cast("string"))
        ).otherwise(F.lit("")),
    )
    return canonicalize_urls(docs.withColumn("url", url)).select(
        "doc_id", "url", "canonical_url", "host", "registered_domain",
        "path_depth", "kept_params",
    )


# Blocklist dictionary for the Aho-Corasick query: nested patterns
# ('a' and 'an' inside 'scan', 'ark' inside 'spark', 'alu' inside
# 'value') force multi-output positions; the automaton must report all
# of them at once.
AC_BLOCKLIST = ("scan", "an", "a", "spark", "ark", "row", "value", "alu", "tab")


@query(
    "blocklist_match_counts",
    oracle="""
    WITH pats AS (
      SELECT unnest(['scan', 'an', 'a', 'spark', 'ark', 'row', 'value',
                     'alu', 'tab']) AS pattern
    ),
    m AS (
      SELECT d.doc_id, p.pattern,
             len(list_filter(
                   range(1, length(d.text) - length(p.pattern) + 2),
                   i -> substr(d.text, i, length(p.pattern)) = p.pattern))
                 AS matches
      FROM documents d CROSS JOIN pats p
    )
    SELECT doc_id, pattern, CAST(matches AS BIGINT) AS matches
    FROM m WHERE matches > 0
    """,
    tags=("tier2", "text", "pipeline", "bench"),
)
def blocklist_match_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-pattern blocklist matching via a real Aho-Corasick
    automaton (functions/acmatch.py) — the kill-word/trigger-term stage
    of corpus filtering, O(N + matches) per document regardless of
    dictionary size versus O(P*N) for per-pattern scans. The dictionary
    nests patterns inside each other ('a'/'an' in 'scan', 'ark' in
    'spark', 'alu' in 'value'), so single text positions must emit
    MULTIPLE outputs through the merged failure-chain output sets — the
    part naive trie matching silently drops. Counts include overlapping
    occurrences. The oracle is the obvious algorithm: every start
    position probed per pattern with substr equality — automaton proven
    against exhaustive scan, occurrence for occurrence. SCALE: the
    automaton builds once from the KB-sized dictionary and ships in the
    task closure; one corpus scan, narrow (doc, pattern, count) output.
    Reference parity: the closest tier-2 upgrade of the reference's
    single-needle search loop (Search.cpp:214-233) — the whole
    dictionary in one pass."""
    from mapreduce__spark.functions.acmatch import multi_pattern_counts

    docs = load_table(spark, sf_dir, "documents")
    return multi_pattern_counts(docs, list(AC_BLOCKLIST))


@query(
    "data_quality_audit",
    oracle="""
    WITH ck AS (SELECT DISTINCT c_custkey FROM customer),
    j AS (
        SELECT o.*, ck.c_custkey AS ck_present
        FROM orders o LEFT JOIN ck ON o.o_custkey = ck.c_custkey
    ), m AS (
        SELECT
          CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_unique,
          CAST(coalesce(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_complete,
          CAST(coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_range,
          CAST(coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_domain,
          CAST(coalesce(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_format,
          CAST(coalesce(sum(CASE WHEN ck_present IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS v_ri
        FROM j
    )
    SELECT c.constraint_name, m.n_rows AS n_checked, c.n_violations,
           c.n_violations = 0 AS passed
    FROM m, LATERAL (VALUES
        ('uniqueness:o_orderkey',           m.v_unique),
        ('completeness:o_orderdate',        m.v_complete),
        ('range:o_totalprice>0',            m.v_range),
        ('domain:o_orderstatus in (O,F)',   m.v_domain),
        ('format:o_orderpriority ~ ^[1-5]-', m.v_format),
        ('ri:o_custkey in customer',        m.v_ri)
    ) AS c(constraint_name, n_violations)
    """,
    tags=("tier2", "quality", "audit"),
)
def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality constraint suite (the Deequ/AWS
    "unit tests for data" shape): six constraints — key uniqueness,
    completeness, numeric range, value domain, regex format, and
    referential integrity against the customer dimension — verified in
    ONE pass and reported as one row per constraint with exact checked
    and violation counts. The declared status domain is {'O','F'}, so
    the fixture's 'P' (pending) rows exercise the REAL failing branch:
    the audit output carries a genuine passed=false row, not just a
    wall of greens.

    Plan shape: every row-level constraint folds into a single
    conditional aggregate over a single orders scan; referential
    integrity rides the SAME scan as a left join against the distinct
    customer keys (dimension-sized, AQE broadcasts it at this scale;
    at warehouse scale it degrades gracefully to a shuffle join or a
    bloom pre-filter). The only other exchange is the exact-uniqueness
    count-distinct — the one constraint that fundamentally needs a
    shuffle on the key; a 100 TB profile would screen with
    approx_count_distinct first and pay the exact pass only on
    suspected-dirty keys. The long-form report is a driver-free
    stack() over the one aggregate row."""
    o = load_table(spark, sf_dir, "orders")
    ck = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"))
        .distinct()
        .withColumn("_ck_present", F.lit(1))
    )
    j = o.join(ck, "o_custkey", "left")
    # coalesce: a global aggregate over an EMPTY orders table yields
    # NULL sums — an empty table passes every check, it doesn't NULL them
    viol = lambda cond: (  # noqa: E731
        F.coalesce(F.sum(cond.cast("bigint")), F.lit(0)).cast("bigint")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("v_unique"),
        viol(F.col("o_orderdate").isNull()).alias("v_complete"),
        viol(F.col("o_totalprice") <= 0).alias("v_range"),
        viol(~F.col("o_orderstatus").isin("O", "F")).alias("v_domain"),
        viol(~F.col("o_orderpriority").rlike("^[1-5]-")).alias("v_format"),
        viol(F.col("_ck_present").isNull()).alias("v_ri"),
    )
    stacked = m.select(
        F.col("n_rows").alias("n_checked"),
        F.expr(
            "stack(6,"
            " 'uniqueness:o_orderkey',            v_unique,"
            " 'completeness:o_orderdate',         v_complete,"
            " 'range:o_totalprice>0',             v_range,"
            " 'domain:o_orderstatus in (O,F)',    v_domain,"
            " 'format:o_orderpriority ~ ^[1-5]-', v_format,"
            " 'ri:o_custkey in customer',         v_ri"
            ") AS (constraint_name, n_violations)"
        ),
    )
    return stacked.select(
        "constraint_name",
        "n_checked",
        "n_violations",
        (F.col("n_violations") == 0).alias("passed"),
    )


@query(
    "repetition_scrub",
    oracle="""
    WITH s1 AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines
        FROM documents
    ), s2 AS (
        SELECT doc_id, lines,
               list_filter(lines, (x, i) -> i = 1 OR x <> lines[i - 1])
                   AS lines_kept
        FROM s1
    ), s3 AS (
        SELECT doc_id, lines, lines_kept,
               string_split(array_to_string(lines_kept, chr(10)), ' ')
                   AS toks
        FROM s2
    ), s4 AS (
        SELECT doc_id, lines, lines_kept, toks,
               list_filter(toks, (x, i) -> i <= 2 OR NOT
                   (x = toks[i - 1] AND toks[i - 1] = toks[i - 2]))
                   AS toks_kept
        FROM s3
    )
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(lines_kept) AS BIGINT) AS n_lines_kept,
           CAST(len(toks) AS BIGINT) AS n_toks,
           CAST(len(toks_kept) AS BIGINT) AS n_toks_kept,
           array_to_string(toks_kept, ' ') AS text_clean
    FROM s4
    """,
    tags=("tier2", "text", "pipeline"),
)
def repetition_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition scrub (round-13 VERDICT item 5) — the
    Gopher/RefinedWeb repetition TRANSFORM the audit rules only measure
    (Rae et al. 2021 §A1.1 remove docs by duplicate-line fraction;
    Penedo et al. 2023 scrub instead of dropping). Two single-pass,
    non-cascading rules evaluated on the ORIGINAL arrays so both engines
    agree on every index: (1) drop a line when it equals the line
    immediately above it (consecutive duplicate lines — the copy-paste /
    template failure inside one page); (2) cap identical-token runs at
    two (a third-or-later consecutive repeat of the same token is
    dropped — the "ha ha ha ha" degeneracy). Distinct from
    paragraph_dedup (global first-occurrence keep across docs) and
    boilerplate_removal (cross-document line frequency): both rules here
    look only WITHIN a document.

    Scale shape: a pure scan-stage expression tree — split, two indexed
    higher-order filters, two rejoins; no shuffle, no UDF, whole-stage
    codegen end to end (the content_defined_chunking discipline). The
    synthetic corpus has no newlines, so the line rule's removal branch
    is proven by the planted-repetition fixture in
    tests/test_round14_properties.py; the token-run cap fires on the
    real corpus (27 triple-runs at sf0.01)."""
    # Each derived array is STAGED into its own projection so the indexed
    # lambdas (F.get(arr, i-1)) index a materialized column: the former
    # single-select form inlined the whole derivation chain into every
    # lambda element access — the toks_kept filter re-split and re-joined
    # the document PER TOKEN under interpreted HOF eval, O(len^2) per doc
    # (measured 7x at sf0.1, hash-identical; round-14 optimization pass).
    # CollapseProject leaves the stages alone: each alias is referenced
    # several times downstream and split/filter are non-cheap.
    docs = load_table(spark, sf_dir, "documents")
    s1 = docs.select("doc_id", F.split(F.col("text"), "\n").alias("lines"))
    lc = F.col("lines")
    s2 = s1.select(
        "doc_id",
        "lines",
        F.filter(
            lc, lambda x, i: (i == F.lit(0)) | (x != F.get(lc, i - 1))
        ).alias("lines_kept"),
    )
    s3 = s2.select(
        "doc_id",
        "lines",
        "lines_kept",
        F.split(F.array_join(F.col("lines_kept"), "\n"), " ").alias("toks"),
    )
    tc = F.col("toks")
    s4 = s3.select(
        "doc_id",
        "lines",
        "lines_kept",
        "toks",
        F.filter(
            tc,
            lambda x, i: (i <= F.lit(1))
            | ~((x == F.get(tc, i - 1)) & (F.get(tc, i - 1) == F.get(tc, i - 2))),
        ).alias("toks_kept"),
    )
    return s4.select(
        "doc_id",
        F.size("lines").cast("bigint").alias("n_lines"),
        F.size("lines_kept").cast("bigint").alias("n_lines_kept"),
        F.size("toks").cast("bigint").alias("n_toks"),
        F.size("toks_kept").cast("bigint").alias("n_toks_kept"),
        F.array_join("toks_kept", " ").alias("text_clean"),
    )


# Doc-level Kneser-Ney NLL as a reusable WITH prefix: kn_lm_score selects
# it directly and perplexity_buckets ranks over it — one SQL text, so the
# two oracles cannot drift apart.
_KN_DOC_NLL_ORACLE = """
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), inst AS (
        SELECT doc_id, toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), big AS (
        SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS c12
        FROM inst GROUP BY 1, 2
    ), ctx AS (
        SELECT left_tok, CAST(sum(c12) AS BIGINT) AS c1x,
               CAST(count(*) AS BIGINT) AS a1
        FROM big GROUP BY 1
    ), cont AS (
        SELECT right_tok, CAST(count(*) AS BIGINT) AS b2 FROM big GROUP BY 1
    ), ttot AS (
        SELECT CAST(count(*) AS DOUBLE) AS t FROM big
    ), stats AS (
        SELECT b.left_tok, b.right_tok, b.c12, c.c1x, c.a1, k.b2
        FROM big b
        JOIN ctx c ON b.left_tok = c.left_tok
        JOIN cont k ON b.right_tok = k.right_tok
    ), doc_nll AS (
        SELECT i.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST((2 * sum(CAST(floor(-ln(
                         ((4 * s.c12 - 3) * n.t + 3.0 * s.a1 * s.b2)
                         / ((4.0 * s.c1x) * n.t)
                     ) * 1000000 + 0.5) AS BIGINT)) + count(*))
                    // (2 * count(*)) AS DOUBLE) / 1000000 AS nll
        FROM inst i
        JOIN stats s ON i.left_tok = s.left_tok AND i.right_tok = s.right_tok
        CROSS JOIN ttot n
        GROUP BY i.doc_id
    )
"""


def _bigram_instances(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, *carry, left_tok, right_tok) — one row per bigram
    INSTANCE; ``carry`` names extra ``docs`` columns to ride along
    (dsir_importance_weights carries its per-doc keep flag through the
    explode instead of broadcast-joining a corpus-row-sized relation
    back onto the instance stream).

    Tokenization is STAGED into its own projection so the per-position
    element_at inside the transform lambda indexes a materialized array
    column: inlining tokenize(text) into the lambda re-splits the text
    per bigram position under interpreted HOF eval — O(tokens^2) per doc
    (measured 5.5x at sf0.1, hash-identical; the round-14 optimization
    pass, guide §1/§4)."""
    toks = docs.select(
        "doc_id", *carry, tokenize(F.col("text")).alias("toks")
    )
    tc = F.col("toks")
    make = F.transform(
        F.sequence(F.lit(1), F.size(tc) - 1),
        lambda i: F.struct(
            F.element_at(tc, i).alias("left_tok"),
            F.element_at(tc, i + 1).alias("right_tok"),
        ),
    )
    # sequence() counts DOWN when stop < start: 1-token docs must yield
    # no bigrams (the word_ngrams hazard)
    guarded = F.when(F.size(tc) >= 2, make).otherwise(
        F.array().cast("array<struct<left_tok:string,right_tok:string>>")
    )
    return toks.select(
        "doc_id", *carry, F.explode(guarded).alias("p")
    ).select("doc_id", *carry, "p.left_tok", "p.right_tok")


def _kn_stats_from_bigrams(big: DataFrame) -> DataFrame:
    """Derive the full KN stats relation (left_tok, right_tok, c12, c1x,
    a1, b2) from a bigram COUNT table — two vocab-sized aggregates plus
    the row-preserving joins back, never touching the corpus. This is
    the re-derivation half of the mergeable-stats contract
    (incremental_kn_stats): bigram counts are the additive state, and
    everything KN needs (context totals c1x, continuation type counts
    a1/b2, and T = |stats|) recomputes from them alone."""
    ctx = big.groupBy("left_tok").agg(
        F.sum("c12").alias("c1x"), F.count(F.lit(1)).alias("a1")
    )
    cont = big.groupBy("right_tok").agg(F.count(F.lit(1)).alias("b2"))
    return big.join(ctx, "left_tok").join(cont, "right_tok")


def _kn_doc_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, nll) under the interpolated Kneser-Ney bigram
    model — the shared plan behind kn_lm_score (which returns it as-is)
    and perplexity_buckets (which ranks it per source). See kn_lm_score
    for the model derivation and the float discipline."""
    docs = load_table(spark, sf_dir, "documents")
    inst = _bigram_instances(docs)
    big = inst.groupBy("left_tok", "right_tok").agg(
        F.count(F.lit(1)).alias("c12")
    )
    stats = _kn_stats_from_bigrams(big).localCheckpoint(eager=True)
    # T counted off the CHECKPOINTED stats relation (row-preserving inner
    # joins keep |stats| == |big| == T by construction): counting `big`
    # directly replans a second full corpus explode (seen in the round-13
    # plan before this fix; `docs/query_profile.py` prints the current one) —
    # the unigram_lm_score vocab lesson again.
    ttot = stats.agg(F.count(F.lit(1)).cast("double").alias("t"))

    mix = (
        ((F.lit(4) * F.col("c12") - F.lit(3)) * F.col("t"))
        + (F.lit(3.0) * F.col("a1") * F.col("b2"))
    ) / ((F.lit(4.0) * F.col("c1x")) * F.col("t"))
    per_term_micro = F.floor(-F.log(mix) * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    # tm is a pure function of the per-TYPE stats columns (c12, c1x, a1,
    # b2) and the scalar t, so it is computed ONCE per bigram type on the
    # vocab-sized stats relation — not per corpus instance as the former
    # plan did (ln + floor per instance, plus a per-instance 1-row cross
    # join; round-14 optimization pass, guide §2.3: the join now carries
    # one bigint instead of four stats columns). Same IEEE expression on
    # the same inputs — values are bit-identical.
    tm_rel = (
        stats.crossJoin(F.broadcast(ttot))
        .select("left_tok", "right_tok", per_term_micro.alias("tm"))
    )
    return (
        inst.join(tm_rel, ["left_tok", "right_tok"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.expr(
                    "CAST((2 * sum(tm) + count(1)) DIV (2 * count(1)) "
                    "AS DOUBLE)"
                )
                / 1000000
            ).alias("nll"),
        )
    )


@query(
    "kn_lm_score",
    oracle=_KN_DOC_NLL_ORACLE
    + """
    SELECT doc_id, n_bigrams, nll FROM doc_nll
    """,
    tags=("tier2", "text", "pipeline"),
)
def kn_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram score (round-12 VERDICT item 7) —
    the standard perplexity-filter upgrade over bigram_lm_score's
    Jelinek-Mercer mixture (Kneser & Ney, ICASSP 1995; Chen & Goodman,
    CL 1999): absolute discount d = 3/4 off every seen bigram, with the
    reclaimed mass backing off to the CONTINUATION unigram — how many
    distinct contexts a word FOLLOWS, not how often it occurs — which is
    what demotes high-count-but-single-context words ("Francisco") that
    fool the plain-frequency fallback:

        p_KN(w2 | w1) = (c12 - d)/c1x + d*A1/c1x * B2/T
                      = ((4*c12 - 3)*T + 3*A1*B2) / (4*c1x*T)

    with A1 = distinct continuation types after w1, B2 = distinct
    contexts before w2, T = total distinct bigram types. Every scored
    instance exists in the model (trained on the same corpus), so
    c12 >= 1 and the max(c12 - d, 0) clamp is identically c12 - d:
    choosing d = 3/4 makes the whole probability ONE exact rational of
    integers — the bigram_lm_score float discipline holds verbatim
    (identical IEEE expression tree both engines, ln quantized to
    integer micro-NLL via floor(x*1e6 + 0.5), half-up integer mean
    division, one final /1e6).

    Scale shape: identical to bigram_lm_score — the bigram table is the
    one word-count-scaling aggregate; A1/c1x ride the same groupBy that
    builds the context totals, B2 and T are two more aggregates OVER THE
    BIGRAM TABLE (vocab-sized, not corpus-sized); the stats relation is
    materialized once and instances equi-join it (AQE broadcasts the
    vocab head when it fits). Law test vs a pure-Python KN reference in
    tests/test_round13_properties.py. Reference parity: tier-2
    text-pipeline extension (SURVEY §2b O-24)."""
    return _kn_doc_nll(spark, sf_dir)


@query(
    "incremental_kn_stats",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), inst AS (
        SELECT doc_id, toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), big AS (
        SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS c12
        FROM inst GROUP BY 1, 2
    ), ctx AS (
        SELECT left_tok, CAST(sum(c12) AS BIGINT) AS c1x,
               CAST(count(*) AS BIGINT) AS a1
        FROM big GROUP BY 1
    ), cont AS (
        SELECT right_tok, CAST(count(*) AS BIGINT) AS b2 FROM big GROUP BY 1
    ), tt AS (
        SELECT CAST(count(*) AS BIGINT) AS t_types FROM big
    )
    SELECT b.left_tok, b.right_tok, b.c12, c.c1x, c.a1, k.b2, n.t_types
    FROM big b
    JOIN ctx c ON b.left_tok = c.left_tok
    JOIN cont k ON b.right_tok = k.right_tok
    CROSS JOIN tt n
    ORDER BY b.c12 DESC, b.left_tok, b.right_tok
    LIMIT 50
    """,
    tags=("tier2", "text", "pipeline"),
)
def incremental_kn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable Kneser-Ney statistics (round-13 VERDICT item 7) — the
    incremental-rollup story the quantile/HLL/moments families already
    have, for the LM family: the additive state is the BIGRAM COUNT
    table (left_tok, right_tok, c12), which merges across shards by
    keyed addition; the derived stats (context totals c1x, continuation
    type counts a1/b2, bigram-type total T) are NOT additive — they are
    distinct-type counts — so they re-derive from the merged bigram
    table with vocab-sized aggregates (_kn_stats_from_bigrams), never
    rescanning the corpus. New data at 100 TB therefore costs: count the
    NEW shard's bigrams, one keyed merge into the stats store, one
    vocab-sized re-derivation — no historical re-read.

    This query runs the merge path end to end: the corpus splits into
    three doc_id-keyed shards, each shard counts its bigrams
    independently (as three ingest batches would), the partials union
    and merge by addition, and the full stats relation re-derives from
    the merged table — returning the top-50 bigrams by count. The
    ORACLE computes the same stats directly from the unsharded corpus,
    so the driver's hash check externally attests the merge law
    (shard-merge-rederive == direct) cross-engine; the random-split
    merge law and the two-batch incremental scenario are pytest-pinned
    in tests/test_round14_properties.py."""
    docs = load_table(spark, sf_dir, "documents")
    partials = [
        _bigram_instances(
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == F.lit(i))
        )
        .groupBy("left_tok", "right_tok")
        .agg(F.count(F.lit(1)).alias("c12"))
        for i in range(3)
    ]
    merged = partials[0]
    for p in partials[1:]:
        merged = merged.unionByName(p)
    merged = merged.groupBy("left_tok", "right_tok").agg(
        F.sum("c12").alias("c12")
    )
    # same discipline as _kn_doc_nll: materialize once, count T off the
    # checkpointed relation so it cannot replan the three shard explodes
    stats = _kn_stats_from_bigrams(merged).localCheckpoint(eager=True)
    tt = stats.agg(F.count(F.lit(1)).cast("bigint").alias("t_types"))
    return (
        stats.crossJoin(F.broadcast(tt))
        .orderBy(F.col("c12").desc(), "left_tok", "right_tok")
        .limit(50)
        .select("left_tok", "right_tok", "c12", "c1x", "a1", "b2", "t_types")
    )


@query(
    "perplexity_buckets",
    oracle=_KN_DOC_NLL_ORACLE
    + """
    , lab AS (
        SELECT n.doc_id, d.source, n.nll,
               row_number() OVER (
                   PARTITION BY d.source ORDER BY n.nll, n.doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY d.source) AS nsrc
        FROM doc_nll n JOIN documents d ON n.doc_id = d.doc_id
    )
    SELECT doc_id, source, nll,
           CASE (3 * (rn - 1)) // nsrc
               WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
           END AS ppl_bucket
    FROM lab
    """,
    tags=("tier2", "text", "pipeline"),
)
def perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (round-13 VERDICT item 3; Wenzek
    et al., "CCNet: Extracting High Quality Monolingual Datasets from
    Web Crawl Data", LREC 2020): per SOURCE, split documents into
    head / middle / tail terciles of language-model perplexity — the
    curation signal CCNet uses to keep the well-modeled head of each
    slice and drop or down-weight the tail. The LM score is the
    interpolated Kneser-Ney doc NLL (kn_lm_score's exact plan, shared
    via _kn_doc_nll), ranked ascending with doc_id as the tie-break so
    bucket populations per source differ by at most one (the terciles
    are exact rank terciles, not value thresholds — a tie-heavy corpus
    cannot collapse a bucket).

    Scale shape (the quantile_rank_normalize discipline): the per-
    (source, nll) value histogram compacts the corpus in one aggregate
    pass, the cumulative count windows over HISTOGRAM rows only, and
    ranks join back on (source, nll) — histogram-sized, AQE broadcasts
    it. The only corpus-row window is the within-(source, nll) tie
    row_number, whose partitions are single-value tie groups (bounded by
    the duplicate count of one score, not by source size), so no source
    ever funnels through one partition the way a naive per-source
    row_number would. Docs with fewer than two tokens have no bigrams,
    hence no perplexity, and are absent — same inner-join semantics as
    kn_lm_score."""
    nll = _kn_doc_nll(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    scored = nll.join(docs, "doc_id").select("doc_id", "source", "nll")

    hist = (
        scored.groupBy("source", "nll")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    wh = (
        Window.partitionBy("source")
        .orderBy("nll")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # rank map under join-local names (hist derives from scored: shared
    # column objects would trip the ambiguous-self-join analyzer)
    rank_map = hist.withColumn("cum", F.sum("cnt").over(wh)).select(
        F.col("source").alias("_rm_source"),
        F.col("nll").alias("_rm_nll"),
        (F.col("cum") - F.col("cnt")).alias("cum_before"),
    )
    totals = hist.groupBy("source").agg(F.sum("cnt").alias("nsrc"))
    tie_w = Window.partitionBy("source", "nll").orderBy("doc_id")
    return (
        scored.withColumn("tie_rn", F.row_number().over(tie_w))
        .join(
            rank_map,
            (F.col("source") == F.col("_rm_source"))
            & (F.col("nll") == F.col("_rm_nll")),
        )
        .drop("_rm_source", "_rm_nll")
        .join(F.broadcast(totals), "source")
        .withColumn("rn", F.col("cum_before") + F.col("tie_rn"))
        .withColumn(
            "ppl_bucket",
            F.element_at(
                F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
                F.expr("CAST((3 * (rn - 1)) DIV nsrc AS INT)") + 1,
            ),
        )
        .select("doc_id", "source", "nll", "ppl_bucket")
    )


DSIR_BUCKETS = 1024  # hashed-bigram feature space size


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               (len(string_split(text, ' ')) BETWEEN 20 AND 2000
                AND (length(text)
                     - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                    / nullif(length(text), 0) < 0.3) AS keep
        FROM documents
    ), inst AS (
        SELECT doc_id, keep,
               ('0x' || substr(md5(toks[i] || ' ' || toks[i + 1] || '#dsir'),
                               1, 8))::BIGINT % {DSIR_BUCKETS} AS b
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), stats AS (
        SELECT b, CAST(count(*) AS BIGINT) AS c_r,
               CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS c_t
        FROM inst GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(c_r) AS BIGINT) AS n_r,
               CAST(sum(c_t) AS BIGINT) AS n_t
        FROM stats
    ), lr AS (
        SELECT b,
               CAST(floor(ln(CAST((c_t + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                             / CAST((c_r + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE))
                          * 1000000 + 0.5) AS BIGINT) AS lr_micro
        FROM stats CROSS JOIN tot
    )
    SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(lr.lr_micro) AS BIGINT) AS dsir_micro_sum
    FROM inst i JOIN lr ON i.b = lr.b
    GROUP BY 1
    """,
    tags=("tier2", "pipeline", "sampling", "bench"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al., NeurIPS 2023 — Data
    Selection via Importance Resampling): score every raw document by
    the log-likelihood ratio of a TARGET hashed-bigram unigram model
    over the RAW model, the weight that importance-resamples a crawl
    toward a curated target distribution. Target here is the corpus'
    own quality-passing subset (quality_keep_expr — the C4 gate shared
    with doc_quality_score and both pipeline flagships, constants
    mirrored in this oracle), so the weight measures "how much more
    does this doc look like the clean subset than the crawl at large".

    Model: bigram instances hash into {DSIR_BUCKETS} buckets via the
    portable md5 idiom (split_bucket_expr's construction, salt
    '#dsir'); bucket probabilities are add-1 smoothed instance
    frequencies. Integer-exact emission: the per-bucket log-ratio
    ln(((c_t+1)*(N_r+B)) / ((c_r+1)*(N_t+B))) is ONE IEEE division of
    exact BIGINT products (the mutual_info discipline; at 100 TB the
    products exceed int64 — promote to DECIMAL(38,0), same plan) then
    micro-nat quantized PER BUCKET, and each doc's weight is the exact
    BIGINT sum of its instances' quantized ratios. Docs with fewer
    than two tokens have no bigrams and drop out (the kn_lm_score
    convention). Law: when every document passes the gate, target and
    raw coincide and every weight is exactly 0 (tested).

    SCALE: the bucket-stats relation is B-sized (broadcast back onto
    the instance stream — AQE sees {DSIR_BUCKETS} rows), totals ride a
    1-row cross-join broadcast, and the only corpus-sized shuffles are
    the two map-side-combined aggregates (bucket keys, then doc keys).
    New target distribution => re-aggregate c_t only; c_r, the bucket
    layout, and the instance stream are reusable — the incremental
    story DSIR needs when the target set is iterated on. Reference
    parity: tier-2 pipeline extension (SURVEY §2b O-24/O-22 family)."""
    docs = load_table(spark, sf_dir, "documents")

    def bucket(left: F.Column, right: F.Column) -> F.Column:
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(left, F.lit(" "), right, F.lit("#dsir"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % DSIR_BUCKETS
        )

    # (doc_id, bucket) per bigram instance — the keep flag never appears
    # here: the final per-doc aggregate doesn't read it
    inst = _bigram_instances(docs).select(
        "doc_id", bucket(F.col("left_tok"), F.col("right_tok")).alias("b")
    )
    # Stats branch (round-14 optimization pass): the keep flag RIDES the
    # explode (carry column) instead of broadcast-joining a corpus-ROW-
    # sized (doc_id, keep) relation back onto every instance — that
    # broadcast would exceed the relation cap long before 100 TB and paid
    # a per-instance hash probe here. Instances pre-aggregate to
    # (left, right, keep) TYPE counts (map-side combined, vocab-sized
    # out), so the md5 bucket runs once per type instead of once per
    # instance — c_r/c_t are sums of type counts, exactly the same
    # totals. B-sized; materialized ONCE (the kn_lm_score discipline) so
    # the totals and the log-ratio table both read it. The instance
    # stream itself is deliberately NOT checkpointed: like kn_lm_score,
    # the corpus is streamed twice (count pass, score pass) rather than
    # materializing corpus-sized state.
    typ = (
        _bigram_instances(
            docs.select(
                "doc_id",
                "text",
                quality_keep_expr(F.col("text")).alias("keep"),
            ),
            carry=("keep",),
        )
        .groupBy("left_tok", "right_tok", "keep")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = (
        typ.select(
            bucket(F.col("left_tok"), F.col("right_tok")).alias("b"),
            "keep",
            "cnt",
        )
        .groupBy("b")
        .agg(
            F.sum("cnt").cast("bigint").alias("c_r"),
            F.sum(F.when(F.col("keep"), F.col("cnt")).otherwise(0))
            .cast("bigint")
            .alias("c_t"),
        )
        .localCheckpoint(eager=True)
    )
    tot = stats.agg(
        F.sum("c_r").cast("bigint").alias("n_r"),
        F.sum("c_t").cast("bigint").alias("n_t"),
    )
    lr = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            F.log(
                ((F.col("c_t") + 1) * (F.col("n_r") + DSIR_BUCKETS)).cast("double")
                / ((F.col("c_r") + 1) * (F.col("n_t") + DSIR_BUCKETS)).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    return (
        inst.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum("lr_micro").cast("bigint").alias("dsir_micro_sum"),
        )
    )


TEMP_ALPHA = 0.7  # sampling temperature exponent (UniMax/mT5 convention)


@query(
    "temperature_resample",
    oracle=f"""
    WITH c AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        FROM documents GROUP BY 1
    ), q AS (
        SELECT source, n_docs,
               CAST(floor(pow(CAST(n_docs AS DOUBLE), {TEMP_ALPHA})
                          * 1000000 + 0.5) AS BIGINT) AS q_micro
        FROM c
    ), t AS (
        SELECT CAST(sum(q_micro) AS BIGINT) AS qq,
               CAST(sum(n_docs) AS BIGINT) AS total
        FROM q
    )
    SELECT source, n_docs, q_micro,
           CAST((q_micro * 1000000) // qq AS BIGINT) AS share_ppm,
           CAST((total * q_micro) // qq AS BIGINT) AS budget_docs
    FROM q CROSS JOIN t
    """,
    tags=("tier2", "pipeline", "sampling"),
)
def temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-BASED SOURCE SAMPLING (the mT5/UniMax mixture rule;
    Xue et al. 2021, Chung et al. 2023): sampling weight per source
    proportional to count^{TEMP_ALPHA}, the standard knob that upweights
    small sources relative to raw proportions without flattening to
    uniform — alongside domain_mixture_weights (fixed target mix) and
    per_source_cap (hard ceilings), this is the third mixture-design
    rule real pretraining configs use. Emits the full resampling plan:
    raw n_docs, the quantized temperature weight q_micro =
    floor(n^alpha * 1e6 + 0.5) (the ONLY float op — one libm pow per
    source, micro-quantized under the established ln/pow discipline),
    the exact integer share in ppm (q*1e6 DIV sum_q — all-BIGINT floor
    division, so shares are exact and sum to <= 1e6 by construction),
    and the per-source document budget for a corpus-sized total
    ((total*q) DIV sum_q). Laws: shares/budgets are monotone in n_docs
    and under-allocate by less than one unit per source (tested).

    SCALE: the whole query runs on the SOURCE-cardinality relation —
    one map-side-combined count per source, a 1-row total broadcast,
    then arithmetic; corpus rows shuffle nothing but their source key.
    Reference parity: tier-2 pipeline extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    q = c.select(
        "source",
        "n_docs",
        F.floor(
            F.pow(F.col("n_docs").cast("double"), F.lit(TEMP_ALPHA))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("q_micro"),
    )
    t = q.agg(
        F.sum("q_micro").cast("bigint").alias("qq"),
        F.sum("n_docs").cast("bigint").alias("total"),
    )
    return q.crossJoin(F.broadcast(t)).select(
        "source",
        "n_docs",
        "q_micro",
        F.expr("(q_micro * 1000000) DIV qq").cast("bigint").alias("share_ppm"),
        F.expr("(total * q_micro) DIV qq").cast("bigint").alias("budget_docs"),
    )
