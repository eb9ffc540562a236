"""Tier-2 text analysis, quality and training-data-pipeline queries (O-24; split from tier2.py, round 13)."""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.functions.text import (
    LANG_STOPWORDS,
    digit_ratio_expr,
    lang_id_expr,
    quality_keep_expr,
    stopword_hits,
    tokenize,
    word_ngrams,
)
from mapreduce__spark.operators.kernel import run_map_reduce_df
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


# --------------------------------------------------------------------------
# O-24: text analysis
# --------------------------------------------------------------------------


@query(
    "word_count",
    oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY cnt DESC, token ASC
    LIMIT 50
    """,
    tags=("tier2", "text", "bench"),
)
def word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical MapReduce demo (the reference kernel's word-count
    shape) as explode → count → top-k. Partial agg collapses each
    partition to |vocab| rows pre-shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("token").asc())
        .limit(50)
    )


# BPE-style pre-tokenizer: letter runs | digit runs | punctuation runs —
# the (ASCII, lookahead-free) core of the GPT-2 pre-tokenization regex,
# restricted to syntax Java regex and DuckDB's RE2 interpret identically
# so the count is oracle-checkable verbatim (same sharing discipline as
# the PII patterns in functions/text.py). The whitespace class is spelled
# out instead of \s: Java's \s includes vertical tab (\x0B), RE2's does
# not, so \s itself is NOT portable — one VT in a document would make the
# two engines disagree by a token.
_PRETOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]+"


@query(
    "doc_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' '))                               AS n_tokens,
           length(text)                                               AS n_chars_actual,
           round(length(replace(text, ' ', ''))::DOUBLE
                 / len(string_split(text, ' ')), 4)                   AS avg_token_len,
           CAST(ceil(length(text) / 4.0) AS BIGINT)                   AS approx_bpe_tokens,
           CAST(len(regexp_extract_all(text, '{_PRETOKEN_RE}')) AS BIGINT)
                                                                      AS pretoken_count
    FROM documents
    """,
    tags=("tier2", "text"),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace tokens, the standard chars/4
    BPE budget approximation, and a real BPE-style pre-tokenizer count —
    letter/digit/punctuation runs via one regexp pass (the pattern is
    shared verbatim with the RE2 oracle). A full BPE merge would be a
    broadcast-vocab pandas UDF downstream of exactly this split."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))) / F.size(toks), 4
        ).alias("avg_token_len"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("approx_bpe_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_PRETOKEN_RE), F.lit(0)))
        .cast("bigint")
        .alias("pretoken_count"),
    )


@query(
    "doc_quality_score",
    oracle=f"""
    SELECT doc_id,
           round(len(list_filter(string_split(text, ' '),
                     t -> t IN {tuple(LANG_STOPWORDS["en"])!r}))::DOUBLE
                 / len(string_split(text, ' ')), 4)                    AS stopword_ratio,
           round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                 / length(text), 4)                                    AS digit_ratio,
           CASE WHEN len(string_split(text, ' ')) BETWEEN 20 AND 2000
                 AND (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE
                     / length(text) < 0.3
                THEN 1 ELSE 0 END                                      AS passes_quality
    FROM documents
    """,
    tags=("tier2", "text"),
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: stopword ratio, digit ratio, and a gate in the
    style of C4/Gopher filter rules — all codegen expressions."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.round(stopword_hits(toks, LANG_STOPWORDS["en"]) / F.size(toks), 4).alias(
            "stopword_ratio"
        ),
        F.round(digit_ratio_expr(F.col("text")), 4).alias("digit_ratio"),
        F.when(quality_keep_expr(F.col("text")), 1)
        .otherwise(0)
        .alias("passes_quality"),
    )


@query(
    "lang_id",
    oracle=f"""
    WITH h AS (
        SELECT doc_id, lang AS labeled_lang, string_split(text, ' ') AS toks
        FROM documents
    ), scores AS (
        SELECT doc_id, labeled_lang,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["en"])!r})) AS h_en,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["de"])!r})) AS h_de,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["fr"])!r})) AS h_fr
        FROM h
    )
    SELECT doc_id, labeled_lang,
           CASE WHEN h_en >= h_de AND h_en >= h_fr THEN 'en'
                WHEN h_de >= h_fr THEN 'de'
                ELSE 'fr' END AS predicted_lang
    FROM scores
    """,
    tags=("tier2", "text"),
)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-overlap language ID (n-gram-heuristic family) with a
    deterministic argmax tie order; emitted next to the labeled lang."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        lang_id_expr(toks).alias("predicted_lang"),
    )


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(text)                                AS content_md5,
           md5(translate(replace(text, ' ', ''),
                         'ABCDEFGHIJKLMNOPQRSTUVWXYZ',
                         'abcdefghijklmnopqrstuvwxyz')) AS normalized_md5,
           length(text)                             AS n_bytes
    FROM documents
    """,
    tags=("tier2", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: content hash + normalization-invariant
    hash (case-folded, whitespace-stripped) for dedup keying.

    Case folding is ASCII-ONLY (translate A-Z→a-z), deliberately: full
    Unicode lower() is engine-specific — DuckDB's utf8proc does simple
    1:1 mapping while the JVM applies contextual rules (Turkish dotted
    İ → i + combining dot, Greek final sigma Σ → ς), so the same text
    would hash to DIFFERENT fingerprints per engine, silently splitting
    or merging dedup groups. A byte-stable ASCII fold hashes identically
    everywhere; non-ASCII case variants stay distinct, which a
    cross-engine dedup key must prefer over divergence."""
    docs = load_table(spark, sf_dir, "documents")
    fold = F.translate(
        F.replace(F.col("text"), F.lit(" "), F.lit("")),
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ",
        "abcdefghijklmnopqrstuvwxyz",
    )
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.md5(fold).alias("normalized_md5"),
        F.length("text").alias("n_bytes"),
    )


@query(
    "token_positions",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 5)
    SELECT doc_id, r.i AS pos, toks[r.i + 1] AS token
    FROM t CROSS JOIN UNNEST(range(len(toks))) AS r(i)
    """,
    tags=("tier2", "text", "functions"),
)
def token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (arrays): positional explode — (doc, position, token) triples,
    the shape sequence models and aligners consume."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 5)
    return docs.select(
        "doc_id", F.posexplode(tokenize(F.col("text"))).alias("pos", "token")
    )


@query(
    "udtf_token_positions",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents WHERE doc_id < 5)
    SELECT doc_id, r.i AS pos, toks[r.i + 1] AS token
    FROM t CROSS JOIN UNNEST(range(len(toks))) AS r(i)
    """,
    tags=("tier2", "text", "functions", "udf"),
)
def udtf_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same (doc, position, token) triples as `token_positions`, but
    produced by a Python user-defined TABLE function (Spark 4's `@udtf`,
    LATERAL-joined per input row) — one more leg of the O-27 UDF-surface
    matrix: applyInPandas, mapInPandas, mapInArrow,
    applyInPandasWithState, transformWithStateInPandas, UDTF, and the
    GROUPED_AGG pandas_udf (pandas_udf_grouped_median).
    Both forms share one oracle, so the API demonstration carries a full
    hash check rather than a smoke test.

    Scale note: a row-emitting UDTF is the slow path next to posexplode
    (per-row Python eval vs JVM Generate) — the registry keeps the
    expression form as the production operator and this as the API twin,
    the same discipline as kernel_search_count."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos bigint, token string")
    class TokenPositions:
        def eval(self, text: str):
            # None-guard only: an EMPTY string must still yield its one
            # ('', pos 0) row — string_split('', ' ') = [''] in both the
            # oracle and the posexplode twin, and a truthiness check here
            # would silently diverge on empty documents.
            if text is not None:
                for i, tok in enumerate(text.split(" ")):
                    yield i, tok

    spark.udtf.register("token_positions_udtf", TokenPositions)
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 5)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        "SELECT d.doc_id, t.pos, t.token "
        "FROM _udtf_docs d, LATERAL token_positions_udtf(d.text) t"
    )


@query(
    "repetition_ratio",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks) - 1),
                                     i -> array_to_string(toks[i:i+2], ' '))) AS gram
        FROM t
    ), counts AS (
        SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS total_grams,
           CAST(max(c) AS BIGINT) AS top_gram_count,
           round(max(c)::DOUBLE / sum(c), 4) AS repetition_ratio
    FROM counts GROUP BY doc_id
    """,
    tags=("tier2", "text"),
)
def repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition detection (quality signal): most-frequent word-3-gram
    share of all 3-gram occurrences per doc — high values flag boilerplate
    and degenerate generations. Non-distinct grams by design."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenization STAGED into its own projection (the _bigram_instances
    # fix): an inline tokenize(text) inside the lambda re-splits the text
    # per gram position under interpreted HOF eval — O(tokens^2) per doc
    tk = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    tc = F.col("toks")
    grams = F.when(
        F.size(tc) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(tc) - 2),
            lambda i: F.concat_ws(" ", F.slice(tc, i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = tk.select("doc_id", F.explode(grams).alias("gram"))
    counts = g.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.sum("c").alias("total_grams"),
        F.max("c").alias("top_gram_count"),
        F.round(F.max("c") / F.sum("c"), 4).alias("repetition_ratio"),
    )


@query(
    "map_functions",
    oracle="""
    SELECT event_id,
           array_to_string(json_keys(props), ',')            AS prop_keys,
           json_extract_string(props, '$.k')::BIGINT         AS k_value,
           (json_extract_string(props, '$.missing') IS NULL) AS missing_is_null
    FROM events
    WHERE event_id < 500
    """,
    tags=("tier2", "functions"),
)
def map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21/O-25 (maps): props parsed once into map<string,bigint>;
    map_keys / element_at / missing-key semantics.

    CONTRACT: props must be valid JSON with integral values (the fixture
    generator guarantees it). Outside that, the engines genuinely
    diverge — Spark's from_json NULLs the whole map for malformed input
    or a float value, while DuckDB errors on malformed JSON and ROUNDS
    '1.5'::BIGINT to 2 — so a production surface over untrusted props
    must pre-validate with a tolerant parser before this projection."""
    ev = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return ev.where(F.col("event_id") < 500).select(
        "event_id",
        # CSV-serialized so the pandas-based driver canonicalizer can
        # sort/hash the column (raw arrays are unhashable there).
        F.concat_ws(",", F.map_keys(m)).alias("prop_keys"),
        F.element_at(m, "k").alias("k_value"),
        F.element_at(m, "missing").isNull().alias("missing_is_null"),
    )


@query(
    "tfidf_top_terms",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE doc_id < 50)
        GROUP BY doc_id, tok
    ), df AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents WHERE doc_id < 50)
    SELECT doc_id, term, rank FROM (
        SELECT tf.doc_id, tf.term,
               row_number() OVER (
                   PARTITION BY tf.doc_id
                   ORDER BY tf.tf * round(ln(n.n / df.df), 6) DESC, tf.term ASC
               ) AS rank
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    ) WHERE rank <= 3
    """,
    tags=("tier2", "text"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-24: TF-IDF top-3 terms per document (restricted corpus slice).

    idf is rounded to 6 digits BEFORE the tf*idf product so a last-ulp
    libm difference between the JVM's and the oracle's ln() cannot flip
    the ranking; ties break on the term for determinism."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 50)
    toks = docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.count()
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        (F.col("tf") * F.round(F.log(F.lit(float(n)) / F.col("df")), 6)).alias("score"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "term", "rank")
    )


# --------------------------------------------------------------------------
# O-1 / O-27: kernel parity + UDF surface
# --------------------------------------------------------------------------


@query(
    "kernel_search_count",
    oracle="""
    SELECT t.file
    FROM (
        SELECT source AS file, count(*) AS cnt
        FROM documents
        WHERE contains(source, 'src1')
        GROUP BY source
    ) t CROSS JOIN UNNEST(range(t.cnt)) AS r(i)
    ORDER BY file
    """,
    tags=("tier2", "kernel"),
)
def kernel_search_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-1 parity: the flagship search query computed through the generic
    map/reduce kernel (Arrow-batched pandas Map and Reduce — the
    reference's user-code path, MapReduceFramework.cpp:300,358) instead of
    native expressions; must hash-match the same oracle as `search_count`.
    """
    docs = load_table(spark, sf_dir, "documents")

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Emit2 semantics: (source, 1) for each row whose source matches.
        for pdf in batches:
            m = pdf[pdf["source"].str.contains("src1", regex=False)]
            yield pd.DataFrame({"k": m["source"], "v": 1})

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        # Emit3 semantics: (source, count) per key group.
        return pd.DataFrame({"k": [pdf["k"].iloc[0]], "v": [len(pdf)]})

    counted = run_map_reduce_df(
        docs.select("source"),
        map_fn,
        reduce_fn,
        map_schema="k string, v long",
        reduce_schema="k string, v long",
    )
    # The reference client's duplicate-expansion print loop (Search.cpp:290-303).
    return (
        counted.select(
            F.explode(F.array_repeat(F.col("k"), F.col("v").cast("int"))).alias("file")
        )
        .orderBy("file")
    )


@query(
    "unigram_lm_tokenize",
    oracle="""
    WITH words AS (
      SELECT w, CAST(count(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      WHERE w <> ''
      GROUP BY w
    ),
    occ0 AS (
      SELECT w, freq, unnest(generate_series(1, length(w))) AS i FROM words
    ),
    occ AS (
      SELECT substr(w, i, l.l) AS piece, freq
      FROM (SELECT w, freq, i,
                   unnest(generate_series(1, least(4, length(w) - i + 1)))
                       AS l
            FROM occ0) AS l(w, freq, i, l)
    ),
    counts AS (
      SELECT piece, CAST(sum(freq) AS BIGINT) AS c FROM occ GROUP BY piece
    ),
    pscored AS (
      SELECT piece,
             ((length(bin(c)) - 1) << 12)
               + ((c << 12) >> (length(bin(c)) - 1)) - 4096 AS ps
      FROM counts
    ),
    tot AS (
      SELECT ((length(bin(C)) - 1) << 12)
               + ((C << 12) >> (length(bin(C)) - 1)) - 4096 AS st
      FROM (SELECT CAST(sum(c) AS BIGINT) AS C FROM counts)
    ),
    masks AS (
      SELECT w, freq,
             unnest(generate_series(
               0, (CAST(1 AS BIGINT) << (length(w) - 1)) - 1)) AS mask
      FROM words
    ),
    segs AS (
      SELECT w, freq, mask,
             list_transform(
               range(1, len(cuts)),
               j -> substr(w, cuts[j] + 1, cuts[j + 1] - cuts[j])) AS pieces
      FROM (SELECT w, freq, mask,
                   list_concat(
                     list_concat(
                       [0],
                       list_filter(range(1, length(w)),
                                   i -> ((mask >> (i - 1)) & 1) = 1)),
                     [length(w)]) AS cuts
            FROM masks)
    ),
    valid AS (
      SELECT * FROM segs
      WHERE len(list_filter(pieces, p -> length(p) > 4)) = 0
    ),
    scored AS (
      SELECT v.w, v.freq, v.mask, any_value(v.pieces) AS pieces,
             CAST(count(*) AS BIGINT) AS n_pieces,
             CAST(sum(p.ps - t.st) AS BIGINT) AS score
      FROM (SELECT w, freq, mask, pieces, unnest(pieces) AS piece
            FROM valid) v
      JOIN pscored p ON v.piece = p.piece
      CROSS JOIN tot t
      GROUP BY v.w, v.freq, v.mask
    ),
    best AS (
      SELECT *, row_number() OVER (
               PARTITION BY w ORDER BY score DESC, mask ASC) AS rn
      FROM scored
    )
    SELECT w AS word, freq, n_pieces,
           array_to_string(pieces, '|') AS seg, score,
           CAST(mask AS BIGINT) AS mask
    FROM best WHERE rn = 1
    """,
    tags=("tier2", "text", "tokenizer", "bench"),
)
def unigram_lm_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM (SentencePiece) Viterbi tokenization — the third
    tokenizer-training objective after bpe_learn_merges and
    wordpiece_pair_scores (Kudo 2018). Vocabulary = every <=4-char
    substring of the corpus words with frequency-weighted occurrence
    counts; each distinct word is segmented to maximize the exact
    fixed-point log-likelihood sum(ilog2(c_piece) - ilog2(C)) (declared
    integer scoring: msb + 12-bit linear mantissa, monotone, identical
    in both engines via bin()/bit_length), ties to the smallest cut
    mask. The Spark side runs the O(L*P) Viterbi DP per word
    (functions/unigram.py — counts arrive by equi-join, the total is a
    1-row broadcast); the oracle ENUMERATES all 2^(L-1) segmentations
    per word and arg-maxes with the same tie-break — dynamic
    programming differentially proven against brute force. SCALE: the
    substring vocabulary is Zipf-sublinear in the corpus; one explode +
    hash aggregate for counts, per-word candidate maps of <=26 pieces;
    no driver loop. The oracle's enumeration is exponential in word
    length by design (it is the PROOF, not the plan); the engine side
    is linear."""
    from mapreduce__spark.functions.unigram import unigram_viterbi_table

    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    return unigram_viterbi_table(words)


# First-use lazy staging (round-9 verdict item 6: importing this module
# must touch no filesystem — import-time staging with a silent except
# was a trap for embedders). The Spark halves stage inside their query
# fns; the ORACLE half of binaryfile_ingest reads the staged directory
# with read_blob, so registry.get_oracle_sql() calls this before handing
# the SQL strings out — an explicit request for the oracle surface, not
# an import side effect. Memoized on SUCCESS only, so a transient
# staging failure retries on the next call instead of caching the miss.
_FIXTURES_STAGED = False


def stage_fixture_corpora() -> None:
    """Stage the binaryFile + XML + parquet fixture corpora once per
    process."""
    global _FIXTURES_STAGED
    if _FIXTURES_STAGED:
        return
    _stage_binaryfile_corpus()
    _stage_xml_corpus()
    _stage_footer_corpus()
    _stage_plainpq_corpus()
    _stage_deltapq_corpus()
    _stage_schema_evolution_corpus()
    _FIXTURES_STAGED = True


COLLOC_TOPV = 40  # vocabulary cap: pairs form only among the top-V tokens
COLLOC_MIN_SUPPORT = 5  # pairs seen in fewer docs are reported as noise


@query(
    "collocation_lift",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, token FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
      )
    ),
    df AS (
      SELECT token, CAST(count(*) AS BIGINT) AS n_docs FROM tok GROUP BY token
    ),
    topv AS (
      SELECT token, n_docs FROM df ORDER BY n_docs DESC, token LIMIT {COLLOC_TOPV}
    ),
    t AS (
      SELECT tok.doc_id, tok.token FROM tok JOIN topv USING (token)
    ),
    pairs AS (
      SELECT a.token AS token_a, b.token AS token_b,
             CAST(count(*) AS BIGINT) AS n_xy
      FROM t a JOIN t b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM documents)
    SELECT token_a, token_b, n_xy,
           da.n_docs AS n_x, db.n_docs AS n_y,
           (n_xy * n_corpus) / (da.n_docs * db.n_docs) AS lift
    FROM pairs
    JOIN topv da ON pairs.token_a = da.token
    JOIN topv db ON pairs.token_b = db.token
    CROSS JOIN n
    WHERE n_xy >= {COLLOC_MIN_SUPPORT}
    """,
    tags=("tier2", "text", "analysis"),
)
def collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: document-level co-occurrence lift for every
    token pair drawn from the top-COLLOC_TOPV tokens by document
    frequency — lift = P(a,b) / (P(a)·P(b)) as the integer ratio
    n_xy·N / (n_x·n_y), the log-free monotone twin of PMI (log would put
    cross-engine equality at libm's mercy; the ratio is one double
    division of exact BIGINT products). The corpus-analysis primitive
    behind phrase detection and topic drift monitors.

    SCALE: the vocabulary cap is the whole design. DF is one map-side-
    combinable aggregate; the top-V slice is TakeOrderedAndProject
    (per-partition heap, never a full sort); V rows broadcast to prune
    the token stream; each doc then contributes at most V·(V-1)/2 pairs
    via an ARRAY self-product (posexplode × tail-slice) computed
    scan-side — no doc_id self-JOIN shuffle, and pair cardinality is
    bounded by the constant V², independent of corpus size. The final
    n_x/n_y lookups broadcast the same V-row table. One wide shuffle
    total (the pair count), keyed on ≤V² values."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    dfc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_docs"))
    topv = dfc.orderBy(F.col("n_docs").desc(), F.col("token").asc()).limit(
        COLLOC_TOPV
    )
    per_doc = (
        tok.join(F.broadcast(topv.select("token")), "token")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("token")).alias("toks"))
    )
    pairs = per_doc.select(
        F.posexplode("toks").alias("i", "token_a"), "toks"
    ).select(
        "token_a",
        F.explode(
            F.slice("toks", F.col("i") + 2, F.size("toks"))
        ).alias("token_b"),
    )
    pc = pairs.groupBy("token_a", "token_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_xy")
    )
    # Corpus size as a 1-row aggregate crossJoin-broadcast onto the
    # (≤V²-row) pair table — the domain_mixture_weights idiom — NOT a
    # separate docs.count() driver action, which was a second complete
    # corpus scan to fetch one scalar (round-7 verdict finding 1). The
    # count rides the same job; output doubles are bit-identical
    # (bigint·bigint products either way).
    n_total = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    n_x = F.broadcast(
        topv.select(
            F.col("token").alias("token_a"), F.col("n_docs").alias("n_x")
        )
    )
    n_y = F.broadcast(
        topv.select(
            F.col("token").alias("token_b"), F.col("n_docs").alias("n_y")
        )
    )
    return (
        pc.join(n_x, "token_a")
        .join(n_y, "token_b")
        .where(F.col("n_xy") >= COLLOC_MIN_SUPPORT)
        .crossJoin(F.broadcast(n_total))
        .select(
            "token_a",
            "token_b",
            "n_xy",
            "n_x",
            "n_y",
            # raw division of exact BIGINT products — identical double on
            # every engine, and round() would SIT on half-ties (a ratio
            # like 20001/20000 = 1.00005 rounds differently under Spark's
            # shortest-decimal HALF_UP vs binary-value rounding; the
            # events_ewma lesson)
            (
                (F.col("n_xy") * F.col("n_corpus"))
                / (F.col("n_x") * F.col("n_y"))
            ).alias("lift"),
        )
    )


INVIDX_DF_MIN = 2  # singleton postings carry no retrieval signal here
INVIDX_DF_MAX = 40  # stop-gram elision: grams in more docs are noise


@query(
    "inverted_index",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
               toks[r.i + 1] || ' ' || toks[r.i + 2] AS gram
        FROM t CROSS JOIN UNNEST(range(len(toks) - 1)) AS r(i)
    ), p AS (
        SELECT gram, doc_id, CAST(count(*) AS BIGINT) AS n_occ,
               array_to_string(list(pos ORDER BY pos), ',') AS positions
        FROM b GROUP BY gram, doc_id
    ), d AS (
        SELECT gram, doc_id, n_occ, positions,
               CAST(count(*) OVER (PARTITION BY gram) AS BIGINT) AS df
        FROM p
    )
    SELECT gram, df, doc_id, n_occ, positions
    FROM d WHERE df BETWEEN {INVIDX_DF_MIN} AND {INVIDX_DF_MAX}
    """,
    tags=("tier2", "text", "index"),
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index over word BIGRAMS — the next-word /
    phrase index (Manning et al., IIR §2.4): for each kept gram, one
    posting row per containing doc with its occurrence positions, plus
    the gram's document frequency. The original MapReduce paper's
    flagship example (term → sorted postings), built the Spark way.

    Bigrams, not unigrams: the fixture corpus draws from a ~31-token
    vocabulary, so every unigram is a stopword (df ≈ ndocs) and a
    unigram index is all noise; the ~900-gram bigram space has a real
    df distribution. Grams in fewer than INVIDX_DF_MIN docs are
    dropped (no retrieval signal), grams in more than INVIDX_DF_MAX
    are elided (stop-posting elision — the classic Zipf guard: a hub
    gram's posting list is corpus-proportional, and capping df bounds
    every downstream phrase-intersection at O(cap), the same reason
    Lucene marks stopwords).

    Plan shape: bigrams form SCAN-SIDE via zip_with over the token
    array (no self-join, no shuffle to pair adjacent tokens); the only
    wide exchanges are the (gram, doc) aggregate — partial-combined,
    positions bounded by doc length — and the window that counts df
    over the already-collapsed posting rows (|grams x docs| input, not
    corpus tokens). Postings output flattened one row per (gram, doc)
    with positions serialized to one CSV scalar (arrays are unhashable
    in a pandas-based canonicalizer — the grouped_collect_sorted
    convention): relationally identical to the nested form."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                "         slice(toks, 2, greatest(size(toks) - 1, 0)),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pos", "gram"),
    )
    postings = grams.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.col("pos").cast("bigint"))),
                lambda x: x.cast("string"),
            ),
        ).alias("positions"),
    )
    w = Window.partitionBy("gram")
    return (
        postings.withColumn(
            "df", F.count(F.lit(1)).over(w).cast("bigint")
        )
        .where(F.col("df").between(INVIDX_DF_MIN, INVIDX_DF_MAX))
        .select("gram", "df", "doc_id", "n_occ", "positions")
    )


@query(
    "phrase_search",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    g AS (
        SELECT doc_id, CAST(r.i AS BIGINT) AS pos,
               toks[r.i + 1] || ' ' || toks[r.i + 2] || ' ' || toks[r.i + 3]
                   AS tri
        FROM t CROSS JOIN UNNEST(range(len(toks) - 2)) AS r(i)
    ),
    top AS (SELECT tri FROM g GROUP BY tri ORDER BY count(*) DESC, tri LIMIT 1)
    SELECT g.doc_id, g.pos, g.tri AS phrase FROM g JOIN top USING (tri)
    """,
    tags=("tier2", "text", "index"),
)
def phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase query answered FROM THE POSITIONAL INDEX: every
    occurrence (doc, start position) of a three-word phrase, found by
    intersecting the positional postings of its two overlapping bigrams
    on (doc_id, pos+1 == pos) — the classic IR positional-intersection
    algorithm (Manning et al., IIR §2.4.2), the reason inverted_index
    stores positions at all. The probe phrase is derived from the data
    (the corpus's most frequent trigram, ties broken lexicographically)
    so the query is deterministic at every sf; a deployment would take
    the phrase as a parameter and probe a MATERIALIZED postings table —
    an equality lookup on the gram key, partition-prunable when the
    index is written bucketed/partitioned by gram, so the scan touches
    two postings lists, never the corpus.

    The oracle is a genuinely independent algorithm: a naive positional
    trigram scan over every document (no index, no intersection) — the
    two implementations share nothing but the tokenizer.

    Plan shape: bigram postings form scan-side via zip_with (the
    inverted_index idiom); the 1-row probe phrase rides a broadcast
    crossJoin (no driver collect); the intersection is an equi-join on
    (doc_id, pos). The probe derivation adds one trigram count over the
    same scan — the price of self-contained determinism, not of the
    algorithm."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)

    tri_arr = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    probe = (
        toks.select(F.explode(tri_arr).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tri")
        .limit(1)
        .select(
            F.col("tri").alias("phrase"),
            F.concat_ws(" ", F.slice(F.split("tri", " "), 1, 2)).alias("g1"),
            F.concat_ws(" ", F.slice(F.split("tri", " "), 2, 2)).alias("g2"),
        )
    )

    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                "         slice(toks, 2, greatest(size(toks) - 1, 0)),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("pos", "gram"),
    ).select("doc_id", F.col("pos").cast("bigint").alias("pos"), "gram")

    p1 = grams.join(F.broadcast(probe), grams["gram"] == probe["g1"]).select(
        "doc_id", "pos", "phrase"
    )
    p2 = grams.join(
        F.broadcast(probe.select("g2")), grams["gram"] == F.col("g2")
    ).select(F.col("doc_id").alias("_d2"), F.col("pos").alias("_p2"))
    return p1.join(
        p2, (p1["doc_id"] == p2["_d2"]) & (p2["_p2"] == p1["pos"] + 1)
    ).select("doc_id", "pos", "phrase")


BM25_K1 = "1.2"  # shared literal TEXT: both engines parse the same double
BM25_B = "0.75"


@query(
    "bm25_rank",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    tri AS (
        SELECT toks[r.i + 1] || ' ' || toks[r.i + 2] || ' ' || toks[r.i + 3]
                   AS tri
        FROM t CROSS JOIN UNNEST(range(len(toks) - 2)) AS r(i)
    ),
    top AS (SELECT tri FROM tri GROUP BY tri ORDER BY count(*) DESC, tri LIMIT 1),
    q AS (
        SELECT string_split(tri, ' ')[1] || ' ' || string_split(tri, ' ')[2]
                   AS gram
        FROM top
        UNION ALL
        SELECT string_split(tri, ' ')[2] || ' ' || string_split(tri, ' ')[3]
        FROM top
    ),
    b AS (
        SELECT doc_id, toks[r.i + 1] || ' ' || toks[r.i + 2] AS gram
        FROM t CROSS JOIN UNNEST(range(len(toks) - 1)) AS r(i)
    ),
    tf AS (
        SELECT gram, doc_id, CAST(count(*) AS DOUBLE) AS tf
        FROM b GROUP BY gram, doc_id
    ),
    dl AS (
        SELECT doc_id, CAST(greatest(len(toks) - 1, 0) AS DOUBLE) AS dl
        FROM t
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
        FROM dl WHERE dl > 0
    ),
    df AS (SELECT gram, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY gram),
    hit AS (
        SELECT tf.doc_id,
               round(
                 round(ln((stats.n - df.df + 0.5) / (df.df + 0.5)), 6)
                 * ((tf.tf * ({BM25_K1} + 1.0))
                    / (tf.tf + {BM25_K1}
                       * (1.0 - {BM25_B} + {BM25_B} * (dl.dl / stats.avgdl)))),
                 6)::DECIMAL(18, 6) AS contrib
        FROM q JOIN tf ON tf.gram = q.gram
        JOIN df ON df.gram = q.gram
        JOIN dl ON dl.doc_id = tf.doc_id
        CROSS JOIN stats
    )
    SELECT doc_id, CAST(sum(contrib) AS DOUBLE) AS score
    FROM hit GROUP BY doc_id
    """,
    tags=("tier2", "text", "index"),
)
def bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson & Spärck Jones / Okapi, k1=1.2,
    b=0.75) for the bigram terms of the corpus's top trigram — the
    ranking stage that completes the retrieval story (inverted_index
    builds the postings, phrase_search answers exact matches, this
    scores relevance): one row per matching doc with its BM25 score
    over the query terms.

    Determinism across engines: the ONLY libm call (the idf ln) is
    rounded to 6 digits BEFORE it enters arithmetic (the
    unigram_lm_score recipe — a last-ulp JVM-vs-DuckDB ln() difference
    cannot survive); every other factor is IEEE +,*,/ over exact
    integers written with the SAME literal text and parenthesization in
    both dialects, so the doubles are bit-identical by construction;
    per-term contributions round to 6 and accumulate in DECIMAL(18,6)
    so partition layout cannot reorder float additions; the final
    decimal-to-double cast is the exact decimal-sum idiom.

    Scale shape: tf is the (gram, doc) map-side-combinable aggregate
    (the inverted_index working set), df a V-row aggregate on top of
    it, doc lengths ride the token scan, N/avgdl is a 1-row broadcast,
    and the 2-row query-term relation broadcasts into the tf join —
    with a materialized postings index, scoring touches only the query
    terms' posting rows, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokenize(F.col("text")).alias("toks")
    ).localCheckpoint(eager=False)

    tri_arr = F.when(
        F.size("toks") >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - 2),
            lambda i: F.concat_ws(" ", F.slice("toks", i, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    top = (
        toks.select(F.explode(tri_arr).alias("tri"))
        .groupBy("tri")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tri")
        .limit(1)
    )
    q = top.select(
        F.explode(
            F.array(
                F.concat_ws(" ", F.slice(F.split("tri", " "), 1, 2)),
                F.concat_ws(" ", F.slice(F.split("tri", " "), 2, 2)),
            )
        ).alias("gram")
    )

    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, greatest(size(toks) - 1, 0)),"
                "         slice(toks, 2, greatest(size(toks) - 1, 0)),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("gram"),
    )
    tf = grams.groupBy("gram", "doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    dl = toks.select(
        "doc_id",
        F.greatest(F.size("toks") - 1, F.lit(0)).cast("double").alias("dl"),
    )
    stats = dl.where(F.col("dl") > 0).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
    )
    dfreq = tf.groupBy("gram").agg(F.count(F.lit(1)).cast("double").alias("df"))

    k1, b = BM25_K1, BM25_B
    hit = (
        tf.join(F.broadcast(q), "gram")
        .join(dfreq, "gram")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.round(
                    F.log(
                        (F.col("n") - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                    ),
                    6,
                )
                * (
                    (F.col("tf") * F.expr(f"{k1} + 1.0"))
                    / (
                        F.col("tf")
                        + F.expr(f"{k1}")
                        * (
                            F.expr(f"1.0 - {b}")
                            + F.expr(f"{b}") * (F.col("dl") / F.col("avgdl"))
                        )
                    )
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("contrib"),
        )
    )
    return hit.groupBy("doc_id").agg(
        F.sum("contrib").cast("double").alias("score")
    )


RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 1_000_000_000_000  # contribution = SCALE // (K + rank), exact
RRF_TOP = 20


def _rrf_oracle() -> str:
    from mapreduce__spark.plans.registry import REGISTRY

    bm = REGISTRY["bm25_rank"].oracle
    lm = REGISTRY["bigram_lm_score"].oracle
    return f"""
    WITH bm AS (SELECT * FROM ({bm})),
    lm AS (SELECT * FROM ({lm})),
    rb AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
                 AS r
      FROM bm
    ),
    rl AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY nll ASC, doc_id) AS BIGINT)
                 AS r
      FROM lm
    ),
    f AS (
      SELECT coalesce(rb.doc_id, rl.doc_id) AS doc_id,
             CAST(coalesce({RRF_SCALE} // ({RRF_K} + rb.r), 0)
                + coalesce({RRF_SCALE} // ({RRF_K} + rl.r), 0) AS BIGINT)
                 AS rrf,
             rb.r AS rank_bm25, rl.r AS rank_lm
      FROM rb FULL OUTER JOIN rl ON rb.doc_id = rl.doc_id
    )
    SELECT doc_id, rrf, rank_bm25, rank_lm
    FROM f ORDER BY rrf DESC, doc_id LIMIT {RRF_TOP}
    """


@query(
    "rrf_fusion",
    oracle=_rrf_oracle(),
    tags=("tier2", "text", "index", "retrieval"),
)
def rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, k={RRF_K}) of two
    document rankings — BM25 lexical relevance for the corpus's head
    query and the interpolated bigram-LM fluency prior — the standard
    hybrid-retrieval combiner (and, in data curation, the standard way
    to blend quality signals whose scores live on incomparable scales:
    RRF consumes only RANKS). Output: the fused top-{RRF_TOP} with each
    doc's per-ranking rank (NULL where a ranking never scored it).

    Exactness: both input scores are already bit-identical cross-engine
    (the decimal-sum and rounded-libm recipes of their source queries),
    so ranks with (score, doc_id) tie-breaks are deterministic, and the
    fused score is pure integer floor-division ({RRF_SCALE} // (k+r)) —
    no floats ever enter the fusion. Ranking uses
    distributed_row_number (range-bucket two-phase, no one-task window)
    over the NEGATED score for the descending order; the oracle
    composes both source queries' full SQL as subquery CTEs and fuses
    with plain windows — top-{RRF_TOP} ordering is part of the
    semantics, kept on both sides with the doc_id tie-break."""
    from mapreduce__spark.operators.windows import distributed_row_number, idiv

    bm = bm25_rank(spark, sf_dir).select(
        "doc_id", (-F.col("score")).alias("_neg")
    )
    rb, _n1 = distributed_row_number(bm, ["_neg", "doc_id"], out_col="r")
    rb = rb.select("doc_id", F.col("r").cast("bigint").alias("rank_bm25"))
    lm = bigram_lm_score(spark, sf_dir).select("doc_id", "nll")
    rl, _n2 = distributed_row_number(lm, ["nll", "doc_id"], out_col="r")
    rl = rl.select("doc_id", F.col("r").cast("bigint").alias("rank_lm"))
    f = rb.join(rl, "doc_id", "full_outer")
    contrib = lambda r: F.coalesce(  # noqa: E731 — two-use local shape
        idiv(F.lit(RRF_SCALE), F.lit(RRF_K) + r), F.lit(0)
    ).cast("bigint")
    return (
        f.select(
            "doc_id",
            (contrib(F.col("rank_bm25")) + contrib(F.col("rank_lm"))).alias(
                "rrf"
            ),
            "rank_bm25",
            "rank_lm",
        )
        .orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(RRF_TOP)
    )


@query(
    "token_entropy",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    dg AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS k
      FROM t GROUP BY 1, 2
    ),
    tot AS (
      SELECT doc_id, CAST(sum(k) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS types
      FROM dg GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(max(t.n) AS BIGINT) AS n_tokens,
           CAST(max(t.types) AS BIGINT) AS n_types,
           CAST(sum(d.k * CAST(floor(-ln(CAST(d.k AS DOUBLE)
                                         / CAST(t.n AS DOUBLE))
                                     * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS entropy_micro,
           CAST(max(t.types) AS DOUBLE) / CAST(max(t.n) AS DOUBLE) AS ttr
    FROM dg d JOIN tot t USING (doc_id)
    GROUP BY 1
    """,
    tags=("tier2", "text", "quality"),
)
def token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon token entropy + type-token ratio (round
    13) — the information-theoretic repetition/diversity signal the
    quality family (stopword/digit ratios, Gopher rules, repetition
    windows) was missing: keyword-stuffed or template-looped documents
    score near-zero entropy while natural prose sits near ln(n_types),
    and TTR is the classic lexical-diversity companion. Emitted as the
    integer micro-entropy SUM (sum over types of k * micro(-ln(k/n)),
    the bigram_lm_score quantization discipline: each -ln of one exact
    rational is bit-identical cross-engine, floor(x*1e6 + 0.5) makes it
    an exactly-summable integer) plus TTR as ONE raw int/int IEEE
    division (the registry's exact-arithmetic rule: rounding could only
    break it). Consumers divide by 1e6*n for the entropy in nats.

    SCALE: explode -> map-side-combined (doc, token) counts -> one
    doc_id-keyed join and aggregate; the corpus shuffles only its token
    keys, the same shape as word_count/doc_token_stats. Reference
    parity: tier-2 text-quality extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    dg = (
        docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    tot = dg.groupBy("doc_id").agg(
        F.sum("k").alias("n"), F.count(F.lit(1)).alias("types")
    )
    term_micro = F.floor(
        -F.log(F.col("k").cast("double") / F.col("n").cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        dg.join(tot, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("bigint").alias("n_tokens"),
            F.max("types").cast("bigint").alias("n_types"),
            F.sum(F.col("k") * term_micro).cast("bigint").alias(
                "entropy_micro"
            ),
            (
                F.max("types").cast("double") / F.max("n").cast("double")
            ).alias("ttr"),
        )
    )


@query(
    "hapax_legomena",
    oracle="""
    WITH t AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS vocab_size,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax_count,
           CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS dis_count,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS hapax_vocab_ratio
    FROM vc GROUP BY 1
    """,
    tags=("tier2", "text", "quality"),
)
def hapax_legomena(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAPAX/DIS LEGOMENA profile per source (round 13) — the
    vocabulary-concentration quality signal beside token_entropy and
    vocab_growth: in clean natural text, once-occurring types are
    classically ~half the vocabulary (Zipf's tail), so a source whose
    hapax share collapses is template/boilerplate-dominated and one
    whose share explodes is OCR noise or tokenizer breakage — both the
    exact failure classes a curation pass triages by source. Emits the
    exact BIGINT counts (total tokens, vocabulary size, hapax and dis
    counts) plus the hapax/vocab share as ONE raw int/int IEEE division
    (the registry's exact-arithmetic rule).

    SCALE: explode -> one map-side-combined (source, token) count ->
    one vocab-sized re-aggregate per source; the corpus shuffles only
    its token keys (the word_count shape), and the second aggregate is
    vocabulary-bounded. Reference parity: tier-2 text-quality extension
    (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    vc = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint")
    return vc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        hapax.alias("hapax_count"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("dis_count"),
        (
            hapax.cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("hapax_vocab_ratio"),
    )


@query(
    "doc_ngram_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS gram
      FROM t CROSS JOIN UNNEST(range(1, len(toks) - 1)) AS r(i)
    ),
    first_seen AS (
      SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel
    FROM g JOIN first_seen f ON g.gram = f.gram
    GROUP BY 1
    """,
    tags=("tier2", "text", "quality"),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY — how many of a doc's distinct word
    3-grams appear for the FIRST time in this doc under the doc_id
    ingest order (gram's min doc_id is this doc). The marginal-value
    signal a dedup-aware curation pass ranks by: a doc whose grams all
    first appeared earlier adds nothing the corpus doesn't already have
    (near-dup detectors find PAIRS; this prices each doc's incremental
    contribution), and streaming ingestion keeps docs whose novelty
    share clears a floor. Docs with fewer than 3 tokens have no grams
    and are absent (inner-join semantics, the kn_lm_score discipline).
    Both counts are exact BIGINTs; the novelty RATIO is one division
    away and left to the consumer.

    SCALE: one explode into distinct (doc, gram) pairs, one
    map-side-combined min-aggregate per gram (gram-vocabulary-sized),
    and the join back on the gram key — the word_count shuffle shape,
    nothing corpus-quadratic. The min-per-gram table is exactly the
    state an incremental ingest keeps (merge = keyed min — the same
    additive-state story as incremental_kn_stats, with min for sum).
    Reference parity: tier-2 text-quality extension (SURVEY §2b
    O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select(
        "doc_id", F.explode(word_ngrams(tokenize(F.col("text")))).alias("gram")
    )
    first_seen = g.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(first_seen, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )


ZIPF_TAIL_K = 50  # order statistics in the Hill estimator


@query(
    "zipf_tail_index",
    oracle=f"""
    WITH t AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    vc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM t GROUP BY 1, 2
    ),
    ranked AS (
      SELECT source, c,
             row_number() OVER (
                 PARTITION BY source ORDER BY c DESC, tok
             ) AS rnk,
             count(*) OVER (PARTITION BY source) AS vocab
      FROM vc
    ),
    kk AS (
      SELECT source,
             CAST(least({ZIPF_TAIL_K}, max(vocab) - 1) AS BIGINT) AS k
      FROM ranked GROUP BY 1 HAVING max(vocab) >= 2
    ),
    pv AS (
      SELECT r.source, r.c AS f_k1
      FROM ranked r JOIN kk ON r.source = kk.source AND r.rnk = kk.k + 1
    )
    SELECT r.source, kk.k,
           CAST(max(pv.f_k1) AS BIGINT) AS f_k1,
           CAST(sum(CAST(floor(ln(CAST(r.c AS DOUBLE)
                                  / CAST(pv.f_k1 AS DOUBLE))
                              * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS hill_micro_sum
    FROM ranked r
    JOIN kk ON r.source = kk.source
    JOIN pv ON r.source = pv.source
    WHERE r.rnk <= kk.k
    GROUP BY 1, 2
    """,
    tags=("tier2", "text", "quality"),
)
def zipf_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL ESTIMATOR of the token-frequency power-law tail per source
    (Hill, Annals of Statistics 1975) — the standard tail-index fit for
    Zipfian data: over the k largest type frequencies f_1 >= ... >= f_k
    with pivot f_{{k+1}}, alpha_hat = k / mean(ln(f_i / f_{{k+1}})).
    Natural text sits near alpha ~ 1 (Zipf's law); a source whose tail
    index drifts is template-dominated (too steep: a few types swamp
    the rest) or noise-dominated (too flat: OCR junk inflates the tail)
    — the distributional cousin of hapax_legomena's type-count signal.
    Integer-exact emission: k and the pivot frequency are BIGINTs, and
    the Hill sum is per-type floor(ln(f_i/f_{{k+1}})*1e6 + 0.5) — one
    IEEE division of exact BIGINTs per term (the mutual_info
    discipline) — so the driver hash is exact; consumers read
    alpha_hat = k*1e6 / hill_micro_sum. Every term is >= 0 by the rank
    order, the estimator is invariant under duplicating the corpus
    (frequency RATIOS are what it sees — law-tested), ranks tie-break
    on the token string, k = min({ZIPF_TAIL_K}, vocab-1), and
    single-type sources (no pivot) are absent by construction.

    SCALE: one map-side-combined (source, token) count, then every
    window/join runs over the VOCABULARY-sized relation (per-source
    partitions are vocab-bounded, never corpus-bounded); the corpus
    shuffles only its token keys (the word_count shape). Reference
    parity: tier-2 text-quality extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    vc = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    ranked = vc.select(
        "source",
        "c",
        F.row_number()
        .over(Window.partitionBy("source").orderBy(F.col("c").desc(), "tok"))
        .alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("vocab"),
    ).localCheckpoint(eager=True)
    kk = (
        ranked.groupBy("source")
        .agg(F.least(F.lit(ZIPF_TAIL_K), F.max("vocab") - 1).cast("bigint").alias("k"))
        .filter(F.col("k") >= 1)
    )
    pivot = (
        ranked.join(kk, "source")
        .filter(F.col("rnk") == F.col("k") + 1)
        .select("source", F.col("c").alias("f_k1"))
    )
    term = F.floor(
        F.log(F.col("c").cast("double") / F.col("f_k1").cast("double"))
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        ranked.join(F.broadcast(kk), "source")
        .join(F.broadcast(pivot), "source")
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("source", "k")
        .agg(
            F.max("f_k1").cast("bigint").alias("f_k1"),
            F.sum(term).cast("bigint").alias("hill_micro_sum"),
        )
    )


@query(
    "readability_fk",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
               CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
                    AS BIGINT) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    + len(list_filter(string_split(lower(text), ' '),
                                      t -> NOT regexp_matches(t, '[aeiouy]')))
                    AS BIGINT) AS n_syllables
        FROM documents
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           CAST(floor(39.0 * n_words / n_sentences
                      + 1180.0 * n_syllables / n_words
                      - 1559.0 + 0.5) AS BIGINT) AS fk_centi
    FROM m
    """,
    tags=("tier2", "text", "quality"),
)
def readability_fk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH-KINCAID GRADE per document (Kincaid et al. 1975), the
    readability rung of the quality ladder — corpus curation pipelines
    gate or stratify on readability next to Gopher rules and LM
    perplexity: FK = 0.39*(words/sentences) + 11.8*(syllables/word)
    - 15.59, emitted in integer CENTI-GRADE units so the driver hash is
    exact: fk_centi = floor(39*W/S + 1180*Syl/W - 1559 + 0.5) — each
    term ONE IEEE division of exact BIGINTs (the mutual_info
    discipline), summed in a fixed order both engines share.

    Heuristics, declared: sentences are maximal [.!?]+ runs (floored at
    1 so unpunctuated docs read as one sentence); syllables are maximal
    [aeiouy]+ vowel groups, with vowel-less words (acronyms, numbers)
    counting one syllable each — the standard dictionary-free
    approximation (CMUdict-exact counts are a lookup-table variant of
    the same plan). Both are single-scan regexp counts.

    SCALE: pure scan-stage expressions — no join, no shuffle, no UDF;
    the projection prunes to (doc_id, text) at the parquet reader.
    Reference parity: tier-2 text-quality extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    toks_lower = tokenize(F.lower(F.col("text")))
    n_words = F.size(tokenize(F.col("text"))).cast("bigint")
    n_sentences = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(F.col("text"), F.lit("[.!?]+"), 0))
    ).cast("bigint")
    n_syllables = (
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0))
        + F.size(F.filter(toks_lower, lambda t: ~t.rlike("[aeiouy]")))
    ).cast("bigint")
    m = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
    )
    return m.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        F.floor(
            F.lit(39.0) * F.col("n_words") / F.col("n_sentences")
            + F.lit(1180.0) * F.col("n_syllables") / F.col("n_words")
            - F.lit(1559.0)
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("fk_centi"),
    )


KEYNESS_TOP_K = 5  # signature terms kept per source


@query(
    "keyness_llr",
    oracle=f"""
    WITH inst AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ), xy AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS a
      FROM inst GROUP BY 1, 2
    ), rowt AS (
      SELECT source, CAST(sum(a) AS BIGINT) AS ns FROM xy GROUP BY 1
    ), colt AS (
      SELECT tok, CAST(sum(a) AS BIGINT) AS ct FROM xy GROUP BY 1
    ), nn AS (
      SELECT CAST(sum(a) AS BIGINT) AS n FROM xy
    ), cells AS (
      SELECT xy.source, xy.tok, xy.a, rowt.ns, colt.ct, nn.n,
             colt.ct - xy.a AS b, rowt.ns - xy.a AS c,
             nn.n - rowt.ns - (colt.ct - xy.a) AS d
      FROM xy
      JOIN rowt ON rowt.source = xy.source
      JOIN colt ON colt.tok = xy.tok
      CROSS JOIN nn
    ), g AS (
      SELECT source, tok, a,
             2 * (  a * (CASE WHEN a = 0 THEN 0 ELSE
                    CAST(floor(ln(CAST(a * n AS DOUBLE)
                                  / CAST(ns * ct AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT) END)
                  + b * (CASE WHEN b = 0 THEN 0 ELSE
                    CAST(floor(ln(CAST(b * n AS DOUBLE)
                                  / CAST((n - ns) * ct AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT) END)
                  + c * (CASE WHEN c = 0 THEN 0 ELSE
                    CAST(floor(ln(CAST(c * n AS DOUBLE)
                                  / CAST(ns * (n - ct) AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT) END)
                  + d * (CASE WHEN d = 0 THEN 0 ELSE
                    CAST(floor(ln(CAST(d * n AS DOUBLE)
                                  / CAST((n - ns) * (n - ct) AS DOUBLE))
                               * 1000000 + 0.5) AS BIGINT) END)
                 ) AS g2_micro
      FROM cells WHERE a * n > ns * ct
    )
    SELECT source, tok, a AS n_in_source, g2_micro,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT source, tok, a, g2_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY g2_micro DESC, tok ASC) AS rnk
      FROM g
    ) WHERE rnk <= {KEYNESS_TOP_K}
    """,
    tags=("tier2", "text", "quality"),
)
def keyness_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEYNESS by Dunning log-likelihood ratio (Dunning, CL 1993) — the
    top-{KEYNESS_TOP_K} tokens most characteristic of each source vs
    the rest of the corpus, the corpus-linguistics statistic behind
    source fingerprinting, template detection, and contamination
    triage (a source whose signature terms are boilerplate is a
    scraper, not prose). For each (source, token) 2x2 contingency
    (a = token in source, b = token elsewhere, c/d = other tokens),
    G2 = 2 * sum over cells of obs * ln(obs/exp). Only OVERREPRESENTED
    tokens rank (a*N > ns*ct — an exact integer comparison), so the
    list reads as "what this source says more than everyone else".

    Integer-exact emission (the mutual_info_lang_source discipline
    applied cell-wise): each cell's ln argument is ONE IEEE division
    of exact BIGINT products (obs*N over row*col — at 100 TB promote
    the products to DECIMAL(38,0)), quantized per cell to micro-nats,
    weighted by the exact cell count; zero cells contribute exactly 0
    (the 0*ln(0) = 0 limit) via a CASE on the COUNT, which also
    sidesteps every zero-denominator case (a zero denominator forces
    the matching cell count to zero — proven in the oracle's guard
    layout). Law: uniformly duplicating the corpus doubles every
    g2_micro exactly while preserving ranks (tested).

    SCALE: one corpus explode into a map-side-combined (source, token)
    count; everything after is VOCABULARY-sized — marginals re-aggregate
    the count table, the rank window partitions by source. The corpus
    shuffles only token keys (the word_count shape). Reference parity:
    tier-2 text-quality extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    xy = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("a"))
        # vocabulary-sized; materialized ONCE so the three marginal
        # re-aggregations and the cell join all read it instead of
        # re-exploding the corpus (the kn_lm_score/zipf checkpoint
        # discipline — the plan drops from two corpus scans to one)
        .localCheckpoint(eager=True)
    )
    rowt = xy.groupBy("source").agg(F.sum("a").cast("bigint").alias("ns"))
    colt = xy.groupBy("tok").agg(F.sum("a").cast("bigint").alias("ct"))
    nn = xy.agg(F.sum("a").cast("bigint").alias("n"))
    cells = (
        xy.join(F.broadcast(rowt), "source")
        .join(colt, "tok")
        .crossJoin(F.broadcast(nn))
        .withColumn("b", F.col("ct") - F.col("a"))
        .withColumn("c", F.col("ns") - F.col("a"))
        .withColumn("d", F.col("n") - F.col("ns") - (F.col("ct") - F.col("a")))
    )

    def cell_term(cnt, num_l, num_r, den_l, den_r):
        q = F.floor(
            F.log(
                (num_l * num_r).cast("double") / (den_l * den_r).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        return F.when(cnt == 0, F.lit(0).cast("bigint")).otherwise(cnt * q)

    g2 = (
        F.lit(2)
        * (
            cell_term(F.col("a"), F.col("a"), F.col("n"), F.col("ns"), F.col("ct"))
            + cell_term(
                F.col("b"), F.col("b"), F.col("n"),
                F.col("n") - F.col("ns"), F.col("ct"),
            )
            + cell_term(
                F.col("c"), F.col("c"), F.col("n"),
                F.col("ns"), F.col("n") - F.col("ct"),
            )
            + cell_term(
                F.col("d"), F.col("d"), F.col("n"),
                F.col("n") - F.col("ns"), F.col("n") - F.col("ct"),
            )
        )
    ).cast("bigint")
    over = cells.where(F.col("a") * F.col("n") > F.col("ns") * F.col("ct"))
    ranked = over.select(
        "source",
        "tok",
        F.col("a").alias("n_in_source"),
        g2.alias("g2_micro"),
    ).withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("source").orderBy(
                F.col("g2_micro").desc(), F.col("tok").asc()
            )
        ).cast("bigint"),
    )
    return ranked.where(F.col("rnk") <= KEYNESS_TOP_K)


CHUNK_W = 32  # passage window, tokens
CHUNK_S = 24  # stride (overlap = CHUNK_W - CHUNK_S)


@query(
    "passage_chunk_overlap",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), chunks AS (
        SELECT doc_id,
               CAST((s.start - 1) // {CHUNK_S} AS BIGINT) AS chunk_idx,
               CAST(s.start AS BIGINT) AS start_tok,
               CAST(least({CHUNK_W}, n - s.start + 1) AS BIGINT)
                   AS n_chunk_toks,
               md5(array_to_string(
                   list_slice(toks, s.start,
                              least(s.start + {CHUNK_W} - 1, n)), ' '))
                   AS chunk_md5
        FROM t CROSS JOIN UNNEST(range(1, n + 1, {CHUNK_S})) AS s(start)
    )
    SELECT doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_md5
    FROM chunks
    """,
    tags=("tier2", "text", "pipeline"),
)
def passage_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLIDING-WINDOW PASSAGE CHUNKING with overlap — the RAG-indexing
    and long-context-packing primitive: each document splits into
    {CHUNK_W}-token windows at stride {CHUNK_S} (so consecutive full
    chunks share {CHUNK_W - CHUNK_S} tokens of context, the overlap
    that keeps retrieval from losing sentences at chunk borders).
    Declared semantics: window starts are 1, 1+{CHUNK_S}, ... <= n;
    the final chunk simply truncates at the document end (a doc of
    <= {CHUNK_W} tokens is one chunk). Emitted per chunk: its index,
    1-based start token, exact token count, and the md5 of the
    space-rejoined window — a compact content fingerprint that makes
    the full chunk TEXT attestable without shipping it (the
    dedup_exact fingerprint discipline), and doubles as the join key a
    chunk-level dedup or embedding stage would use downstream.

    SCALE: scan-stage only — sequence + slice + hash inside
    whole-stage codegen, one explode whose fan-out is n/{CHUNK_S}
    (~1.3x the corpus token count in chunk rows, each a constant-width
    fingerprint, never materialized chunk text); no shuffle at all
    until a downstream consumer aggregates. Reference parity: tier-2
    text/pipeline extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = docs.select(
        "doc_id", toks.alias("toks"), F.size(toks).alias("n")
    )
    exploded = t.select(
        "doc_id",
        "toks",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.col("n"), F.lit(CHUNK_S))
        ).alias("start"),
    )
    return exploded.select(
        "doc_id",
        F.expr(f"(start - 1) DIV {CHUNK_S}").cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_W), F.col("n") - F.col("start") + 1)
        .cast("bigint")
        .alias("n_chunk_toks"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), F.lit(CHUNK_W)))
        ).alias("chunk_md5"),
    )


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH h AS (
        SELECT lang AS labeled_lang, string_split(text, ' ') AS toks
        FROM documents
    ), scores AS (
        SELECT labeled_lang,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["en"])!r})) AS h_en,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["de"])!r})) AS h_de,
               len(list_filter(toks, t -> t IN {tuple(LANG_STOPWORDS["fr"])!r})) AS h_fr
        FROM h
    ), pred AS (
        SELECT labeled_lang,
               CASE WHEN h_en >= h_de AND h_en >= h_fr THEN 'en'
                    WHEN h_de >= h_fr THEN 'de'
                    ELSE 'fr' END AS predicted_lang
        FROM scores
    ), cells AS (
        SELECT labeled_lang, predicted_lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM pred GROUP BY 1, 2
    ), rowt AS (
        SELECT labeled_lang, CAST(sum(n_docs) AS BIGINT) AS n_labeled
        FROM cells GROUP BY 1
    ), colt AS (
        SELECT predicted_lang, CAST(sum(n_docs) AS BIGINT) AS n_predicted
        FROM cells GROUP BY 1
    )
    SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
           r.n_labeled, p.n_predicted
    FROM cells c
    JOIN rowt r ON r.labeled_lang = c.labeled_lang
    JOIN colt p ON p.predicted_lang = c.predicted_lang
    """,
    tags=("tier2", "text", "quality"),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONFUSION MATRIX of the stopword language-ID heuristic against
    the labeled lang column, with both marginals attached per cell —
    the classifier-evaluation primitive a curation pipeline runs before
    trusting any automatic labeler: recall per label is
    n_docs/n_labeled on the diagonal, precision is n_docs/n_predicted,
    and every off-diagonal cell is a concrete confusion to triage. All
    counts exact BIGINTs; consumers form the rates (the exact-rational
    emission discipline — no floats ship). The per-doc prediction is
    lang_id_expr, the ONE source shared with the lang_id query and its
    oracle's CASE cascade, so the matrix attests the same argmax tie
    order end to end.

    SCALE: one map-side-combined aggregate to the label x prediction
    contingency table (bounded by the language-domain square, never by
    corpus size), two marginal re-aggregations OVER that table, and
    broadcast joins back — the mutual_info_lang_source shape. The
    corpus shuffles only its label pair per doc. Reference parity:
    tier-2 text/evaluation extension (SURVEY §2b O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("labeled_lang"),
        lang_id_expr(tokenize(F.col("text"))).alias("predicted_lang"),
    )
    cells = pred.groupBy("labeled_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    rowt = cells.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_labeled")
    )
    colt = cells.groupBy("predicted_lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_predicted")
    )
    return cells.join(F.broadcast(rowt), "labeled_lang").join(
        F.broadcast(colt), "predicted_lang"
    ).select(
        "labeled_lang",
        "predicted_lang",
        "n_docs",
        "n_labeled",
        "n_predicted",
    )
