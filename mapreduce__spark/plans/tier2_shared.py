"""Shared constants, helpers and cross-family queries for the tier-2 family modules (split from tier2.py, round 13). plans/__init__.py imports it first of the nine family modules, and every family module star-imports it."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce__spark.functions.text import tokenize
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

JACCARD_THRESHOLD = 0.8


_JACCARD_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), g AS (
        SELECT doc_id, unnest(list_distinct(
            list_transform(range(1, len(toks) - 1),
                           i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        FROM t
    ), sz AS (
        SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id
    ), common AS (
        SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS c
        FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id1, id2,
           round(c::DOUBLE / (s1.n + s2.n - c), 4) AS jaccard
    FROM common
    JOIN sz s1 ON common.id1 = s1.doc_id
    JOIN sz s2 ON common.id2 = s2.doc_id
    WHERE c::DOUBLE / (s1.n + s2.n - c) >= {JACCARD_THRESHOLD}
"""
KMEANS_ITERS = 3
KMEANS_DIMS = 64  # the embeddings fixture's width; oracle is unrolled per-dim


def _kmeans_oracle(
    k: int, iters: int, dims: int, dim_lo: int = 1, emit: str = "assign"
) -> str:
    """Unrolled-SQL twin of operators/clustering.kmeans_assign: the same
    integer-quantized Lloyd's iterations as chained CTEs. Centroids live
    in LONG form (cid, i, v); struct-min breaks argmin ties by centroid
    id exactly like the Spark side's array_min over (d, cid) structs.
    ``dim_lo`` clusters on the 1-based dim window [dim_lo, dim_lo+dims)
    of the embedding — the product-quantization subspace twin; the
    default full window reproduces kmeans_embeddings' oracle.
    ``emit="centroids"`` returns the fitted codebook (cid, i, v) — the
    table the final assignment ran against — instead of assignments
    (the ADC search twin's lookup side)."""
    from mapreduce__spark.operators.clustering import QUANT_OFFSET, QUANT_SCALE

    parts = [
        f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding[{dim_lo}:{dim_lo + dims - 1}],
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)
                    + {QUANT_OFFSET}) AS eq
      FROM embeddings
    ),
    seed AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, eq
      FROM q ORDER BY vec_id LIMIT {k}
    ),
    c0 AS (
      SELECT cid, i, eq[i] AS v FROM seed, range(1, {dims + 1}) t(i)
    )"""
    ]
    for t in range(1, iters + 1):
        parts.append(
            f""",
    d{t} AS (
      SELECT q.vec_id, c.cid,
             CAST(sum((q.eq[c.i] - c.v) * (q.eq[c.i] - c.v)) AS BIGINT) AS d
      FROM q, c{t - 1} c GROUP BY q.vec_id, c.cid
    ),
    a{t} AS (
      SELECT vec_id, (min(struct_pack(d := d, cid := cid))).cid AS cid
      FROM d{t} GROUP BY vec_id
    ),
    u{t} AS (
      SELECT a.cid, t.i, CAST(sum(q.eq[t.i]) // count(*) AS BIGINT) AS v
      FROM a{t} a JOIN q USING (vec_id), range(1, {dims + 1}) t(i)
      GROUP BY a.cid, t.i
    ),
    c{t} AS (
      SELECT c.cid, c.i, COALESCE(u.v, c.v) AS v
      FROM c{t - 1} c LEFT JOIN u{t} u ON c.cid = u.cid AND c.i = u.i
    )"""
        )
    if emit == "centroids":
        parts.append(
            f"""
    SELECT cid, i, v FROM c{iters}
    """
        )
        return "".join(parts)
    parts.append(
        f""",
    fin AS (
      SELECT q.vec_id, c.cid,
             CAST(sum((q.eq[c.i] - c.v) * (q.eq[c.i] - c.v)) AS BIGINT) AS d
      FROM q, c{iters} c GROUP BY q.vec_id, c.cid
    )
    SELECT vec_id,
           (min(struct_pack(d := d, cid := cid))).cid AS cluster_id,
           min(d) AS dist2
    FROM fin GROUP BY vec_id
    """
    )
    return "".join(parts)


def _fixture_root() -> str:
    """Root for the staged synthetic file corpora (binaryFile + XML).

    Per-user, not a fixed world-shared /tmp path (round-7 verdict item
    6 / advice item 2): tmp+rename makes staging torn-proof but not
    permission-proof — a directory created by user A is unwritable to
    user B, so a fixed path turns a multi-user host into a deferred
    staging failure for everyone but the first user. gettempdir + uid
    is deterministic within one driver process, which is what the
    import-time f-string oracles require (both halves read the same
    path). SPARK_GRAFT_FIXTURE_DIR overrides for tests/clusters."""
    import os
    import tempfile

    env = os.environ.get("SPARK_GRAFT_FIXTURE_DIR")
    if env:
        return env
    uid = os.getuid() if hasattr(os, "getuid") else "na"
    return os.path.join(
        tempfile.gettempdir(), f"mapreduce__spark_fixtures-uid{uid}"
    )


def _stage_file(dst: str, content: bytes) -> None:
    """Write one fixture file via tmp+rename, skipping only when the
    existing file's SIZE matches the expected content (advice item 2:
    skip-if-exists used to trust any pre-existing file at the path to be
    byte-identical — a truncated or foreign file poisoned the fixture
    forever). Content is a pure function of the file id, so a size match
    on a same-uid path is byte-identity in every non-adversarial case;
    a mismatch re-stages atomically."""
    import os

    if os.path.exists(dst) and os.path.getsize(dst) == len(content):
        return
    tmp = f"{dst}.tmp.{os.getpid()}"
    with open(tmp, "wb") as fh:
        fh.write(content)
    os.replace(tmp, dst)


# Fixed-size synthetic media directory for the binaryFile source path.
# sf-independent by design: the oracle SQL is a static string, so the
# staged path cannot vary with sf_dir; what this query verifies is the
# SOURCE (directory-of-files ingest), not corpus scaling.
BINARYFILE_N = 50
BINARYFILE_DIR = _fixture_root() + "/binaryfile/v1"


def _stage_binaryfile_corpus() -> str:
    """Write BINARYFILE_N deterministic BMP files once (tmp+rename +
    size check — see _stage_file; content is a pure function of the id,
    so re-staging is byte-identical)."""
    import os

    from mapreduce__spark.operators.multimodal import synth_bmp_bytes

    os.makedirs(BINARYFILE_DIR, exist_ok=True)
    for i in range(BINARYFILE_N):
        _stage_file(
            os.path.join(BINARYFILE_DIR, f"{i:04d}.bmp"), synth_bmp_bytes(i)
        )
    return BINARYFILE_DIR


# char-fold hash of a DuckDB VARCHAR expression — the shared cross-engine
# token hash (CM_MOD 2^31-1), as a reusable SQL fragment for the archive
# ingest oracles below
def _sql_charfold(expr: str) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({expr}) + 1), "
        f"i -> CAST(ord(substr({expr}, i, 1)) AS BIGINT))), "
        "(a, b) -> (a * 31 + b) % 2147483647)"
    )


# Staged parquet corpus for the footer audit. The directory is pinned to
# the pyarrow version because the writer's byte output (and therefore
# offsets/sizes in the footer) is version-dependent; the oracle does not
# care WHAT the bytes are — both engines read the same staged files —
# but restaging must never mix writer versions within one directory.
import pyarrow as _pa  # noqa: E402  (baked-in dependency, version pin only)

FOOTER_N_FILES = 4
FOOTER_DIR = _fixture_root() + "/footerpq/v1-pa" + _pa.__version__


def _stage_footer_corpus() -> str:
    """Write FOOTER_N_FILES small parquet files (3-4 row groups each,
    SNAPPY and UNCOMPRESSED alternating, nullable strings for real
    null_count statistics) once per pyarrow version; tmp+rename so a
    concurrent stager never exposes a torn file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(FOOTER_DIR, exist_ok=True)
    for f in range(FOOTER_N_FILES):
        dest = os.path.join(FOOTER_DIR, f"{f:02d}.parquet")
        if os.path.exists(dest):
            continue
        n = 40 + 10 * f
        base = 1000 * f
        t = pa.table(
            {
                "id": pa.array(range(base, base + n), type=pa.int64()),
                "name": pa.array(
                    [None if i % 7 == 0 else f"n{i}" for i in range(n)]
                ),
                "val": pa.array(
                    [(i * i % 97) / 4 for i in range(n)], type=pa.float64()
                ),
            }
        )
        tmp = dest + ".tmp"
        pq.write_table(
            t, tmp, row_group_size=16,
            compression="snappy" if f % 2 == 0 else "none",
        )
        os.replace(tmp, dest)
    return FOOTER_DIR


PLAINPQ_N_FILES = 3
PLAINPQ_DIR = _fixture_root() + "/plainpq/v1-pa" + _pa.__version__


def _stage_plainpq_corpus() -> str:
    """Parquet files readable by the from-scratch page decoder: a
    REQUIRED (non-nullable) INT64 column, dictionary encoding off
    (PLAIN data pages), SNAPPY and UNCOMPRESSED codecs mixed, several
    row groups per file, ids strictly increasing per file."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(PLAINPQ_DIR, exist_ok=True)
    for f in range(PLAINPQ_N_FILES):
        dest = os.path.join(PLAINPQ_DIR, f"{f:02d}.parquet")
        if os.path.exists(dest):
            continue
        n = 50 + 20 * f
        base = 10_000 * f
        schema = pa.schema([pa.field("id", pa.int64(), nullable=False)])
        t = pa.table(
            {"id": pa.array(range(base, base + n), type=pa.int64())},
            schema=schema,
        )
        tmp = dest + ".tmp"
        pq.write_table(
            t, tmp, row_group_size=16, use_dictionary=False,
            compression="snappy" if f % 2 == 0 else "none",
        )
        os.replace(tmp, dest)
    return PLAINPQ_DIR


DELTAPQ_N_FILES = 3
DELTAPQ_DIR = _fixture_root() + "/deltapq/v1-pa" + _pa.__version__


def _stage_deltapq_corpus() -> str:
    """DELTA_BINARY_PACKED v2-page parquet files: a SIGNED random-walk
    law (deltas in [-100, 100], so min-delta goes negative and
    miniblock bit widths vary), several row groups, SNAPPY and
    UNCOMPRESSED mixed."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(DELTAPQ_DIR, exist_ok=True)
    for f in range(DELTAPQ_N_FILES):
        dest = os.path.join(DELTAPQ_DIR, f"{f:02d}.parquet")
        if os.path.exists(dest):
            continue
        n = 200 + 50 * f
        vals, v = [], 1_000_000 * f
        for i in range(n):
            v += (i * 37 + 11 * f) % 201 - 100
            vals.append(v)
        schema = pa.schema([pa.field("id", pa.int64(), nullable=False)])
        t = pa.table({"id": pa.array(vals, type=pa.int64())}, schema=schema)
        tmp = dest + ".tmp"
        pq.write_table(
            t, tmp, use_dictionary=False,
            column_encoding={"id": "DELTA_BINARY_PACKED"},
            compression="snappy" if f % 2 == 0 else "none",
            row_group_size=96, data_page_version="2.0",
        )
        os.replace(tmp, dest)
    return DELTAPQ_DIR


SEVO_DIR = _fixture_root() + "/schemaevo/v1-pa" + _pa.__version__


def _stage_schema_evolution_corpus() -> str:
    """Three parquet generations of one logical table, the way schemas
    actually evolve in a lake: v1 (id, name), v2 adds score and ALSO
    reorders columns (score before name — union must align by NAME,
    not position), v3 drops name entirely. Nullable name with planted
    NULLs in v2 so missing-column nulls and real nulls coexist."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(SEVO_DIR, exist_ok=True)
    gens = {
        "gen1.parquet": pa.table(
            {
                "id": pa.array(range(0, 40), type=pa.int64()),
                "name": pa.array([f"a{i}" for i in range(40)]),
            }
        ),
        "gen2.parquet": pa.table(
            {
                "id": pa.array(range(100, 150), type=pa.int64()),
                "score": pa.array(
                    [(i % 37) / 4 for i in range(50)], type=pa.float64()
                ),
                "name": pa.array(
                    [None if i % 5 == 0 else f"b{i}" for i in range(50)]
                ),
            }
        ),
        "gen3.parquet": pa.table(
            {
                "id": pa.array(range(200, 230), type=pa.int64()),
                "score": pa.array(
                    [(i * 3 % 29) / 4 for i in range(30)], type=pa.float64()
                ),
            }
        ),
    }
    for fname, t in gens.items():
        dest = os.path.join(SEVO_DIR, fname)
        if os.path.exists(dest):
            continue
        tmp = dest + ".tmp"
        pq.write_table(t, tmp)
        os.replace(tmp, dest)
    return SEVO_DIR


# Fixed-size synthetic XML corpus for the built-in Spark 4 XML source —
# same sf-independent staging contract as BINARYFILE_DIR (static oracle
# string, so the staged path and row count cannot vary with sf_dir).
XML_N = 50
XML_FILES = 5  # records spread over several files so the listing splits
XML_DIR = _fixture_root() + "/xml/v1"


def _stage_xml_corpus() -> str:
    """Write XML_N deterministic records across XML_FILES documents once
    (tmp+rename + size check — see _stage_file; content is a pure
    function of the record id, so re-staging is byte-identical)."""
    import os

    # the floor-split below writes per*XML_FILES records; a non-divisible
    # XML_N would silently stage FEWER records than the static oracle's
    # generate_series(0, XML_N-1) expects, failing the hash with no hint
    assert XML_N % XML_FILES == 0, "XML_N must be divisible by XML_FILES"
    os.makedirs(XML_DIR, exist_ok=True)
    per = XML_N // XML_FILES
    for f in range(XML_FILES):
        recs = []
        for i in range(f * per, (f + 1) * per):
            recs.append(
                f"<r><id>{i}</id><cat>c{i % 7}</cat>"
                f"<cents>{(i * 37) % 10000}</cents><txt>t{i}</txt></r>"
            )
        content = ("<rows>" + "".join(recs) + "</rows>").encode()
        _stage_file(os.path.join(XML_DIR, f"part-{f:02d}.xml"), content)
    return XML_DIR


@query(
    "bigram_lm_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), tok AS (
        SELECT unnest(toks) AS tok FROM t
    ), uni AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c2 FROM tok GROUP BY tok
    ), ntot AS (
        SELECT CAST(sum(c2) AS DOUBLE) AS n FROM uni
    ), inst AS (
        SELECT doc_id, toks[i] AS left_tok, toks[i + 1] AS right_tok
        FROM t CROSS JOIN UNNEST(range(1, len(toks))) AS r(i)
    ), big AS (
        SELECT left_tok, right_tok, CAST(count(*) AS BIGINT) AS c12
        FROM inst GROUP BY 1, 2
    ), ctx AS (
        SELECT left_tok, CAST(sum(c12) AS BIGINT) AS c1x FROM big GROUP BY 1
    ), stats AS (
        SELECT b.left_tok, b.right_tok, b.c12, ctx.c1x, u.c2
        FROM big b
        JOIN ctx ON b.left_tok = ctx.left_tok
        JOIN uni u ON b.right_tok = u.tok
    )
    SELECT i.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST((2 * sum(CAST(floor(-ln(
                     ((s.c12 * n.n) + (CAST(s.c2 AS DOUBLE) * s.c1x))
                     / ((2.0 * s.c1x) * n.n)
                 ) * 1000000 + 0.5) AS BIGINT)) + count(*))
                // (2 * count(*)) AS DOUBLE) / 1000000 AS nll
    FROM inst i
    JOIN stats s ON i.left_tok = s.left_tok AND i.right_tok = s.right_tok
    CROSS JOIN ntot n
    GROUP BY i.doc_id
    """,
    tags=("tier2", "text", "pipeline"),
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated BIGRAM language-model quality score — the next rung
    above unigram_lm_score on the CCNet/KenLM ladder: per document, the
    mean negative log-likelihood of its bigrams under a Jelinek-Mercer
    mixture (lambda = 1/2) of the corpus bigram model and the unigram
    fallback,

        p(w2 | w1) = (c12/c1x + c2/N) / 2
                   = (c12*N + c2*c1x) / (2*c1x*N)   -- one exact rational

    which catches the failure unigrams cannot: a document of common words
    in impossible ORDER (shuffled text, keyword stuffing, boilerplate
    collage) scores ordinary unigram nll but terrible bigram nll.
    Single-token documents have no bigrams and drop out (both engines,
    by construction of the instance relation).

    Cross-engine float discipline (hardened by the round-11 two-scale
    gate): the mixture is evaluated as ONE shared expression tree of
    IEEE +,*,/ over exact integers cast to double — bit-identical by
    construction — and ln(), the only libm call, is QUANTIZED to
    integer micro-NLL via floor(x*1e6 + 0.5), which is rounding-RULE-
    free: Spark's round() HALF_UPs the shortest-decimal STRING while
    DuckDB rounds the binary value, and at sf0.1 a per-doc mean landed
    exactly on a 6-digit half-tie (doc 1714 — see docs/SCALE.md).
    Integer micro-units sum exactly and order-independently; the mean
    is the half-up INTEGER division (2s+n) div (2n) and the final /1e6
    is one IEEE division of the same exact integer in both engines —
    no round() anywhere, so no tie can ever split them.

    Scale shape: the LM is two word-count-scaling aggregates (bigram
    counts + unigram counts, both map-side combined to vocab-sized
    relations); the context totals c1x derive from the bigram table, NOT
    another corpus pass. The joined stats relation is bigram-vocab rows,
    MATERIALIZED so the scoring job replans none of it, and scoring is
    one equi-join of bigram instances against it (AQE picks broadcast
    when the vocab head fits). The corpus is read three times (unigram
    build, bigram build, scoring) and never shuffled whole — only
    token/gram keys move."""
    docs = load_table(spark, sf_dir, "documents")

    uni = (
        docs.select(F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    ntot = uni.agg(F.sum("c2").cast("double").alias("n"))

    # Tokenization STAGED into its own projection (the _bigram_instances
    # fix, round-14 optimization pass): an inline tokenize(text) inside
    # the transform lambda re-splits the text per bigram position under
    # interpreted HOF eval — O(tokens^2) per doc.
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("toks"))
    tc = F.col("toks")
    make = F.transform(
        F.sequence(F.lit(1), F.size(tc) - 1),
        lambda i: F.struct(
            F.element_at(tc, i).alias("left_tok"),
            F.element_at(tc, i + 1).alias("right_tok"),
        ),
    )
    # sequence() counts DOWN when stop < start (the word_ngrams hazard):
    # a 1-token doc must yield no bigrams, not garbage.
    guarded = F.when(F.size(tc) >= 2, make).otherwise(
        F.array().cast("array<struct<left_tok:string,right_tok:string>>")
    )
    inst = toks.select("doc_id", F.explode(guarded).alias("p")).select(
        "doc_id", "p.left_tok", "p.right_tok"
    )
    big = inst.groupBy("left_tok", "right_tok").agg(
        F.count(F.lit(1)).alias("c12")
    )
    ctx = big.groupBy("left_tok").agg(F.sum("c12").alias("c1x"))
    stats = (
        big.join(ctx, "left_tok")
        .join(uni.withColumnRenamed("tok", "right_tok"), "right_tok")
        .localCheckpoint(eager=True)
    )

    mix = (
        (F.col("c12") * F.col("n"))
        + (F.col("c2").cast("double") * F.col("c1x"))
    ) / ((F.lit(2.0) * F.col("c1x")) * F.col("n"))
    # tie-free quantization (round-11 two-scale-gate fix, the doc-1714
    # lesson): per-term micro-NLL as floor(x*1e6 + 0.5) — rounding-RULE-
    # free given identical double bits (Spark's round() HALF_UPs the
    # shortest-decimal string while DuckDB rounds the binary value, and
    # at sf0.1 a mean landed exactly on a 6-digit half-tie). Integer
    # micro-units sum exactly and order-independently; the mean is the
    # half-up INTEGER division (2s + n) div (2n), and the final /1e6 is
    # one IEEE division of the same exact integer in both engines.
    per_term_micro = F.floor(-F.log(mix) * 1000000 + F.lit(0.5)).cast(
        "bigint"
    )
    # tm is a pure function of the per-TYPE stats columns and the scalar
    # n, so it is computed ONCE per bigram type on the vocab-sized stats
    # relation instead of per corpus instance (the _kn_doc_nll fix,
    # round-14 optimization pass) — same IEEE expression on the same
    # inputs, bit-identical values; the scoring join now carries one
    # bigint instead of three stats columns.
    tm_rel = (
        stats.crossJoin(F.broadcast(ntot))
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


# star-export EVERYTHING (underscore helpers included: the family
# modules use the shared private helpers by name)
__all__ = [k for k in list(globals()) if not k.startswith('__')]
