"""Deterministic k-means (Lloyd's) over embedding columns — fully
oracle-checkable.

Iterative algorithms were this engine's one declared "weaker check"
class: float centroids make every assignment the product of
summation-order-dependent doubles, so a cross-engine hash compare is
structurally impossible. This operator removes the floats instead of
the check:

* embeddings quantize to integer micro-units via ``floor(x * 1e6)`` —
  float→double widening is exact and the multiply is one
  correctly-rounded IEEE op, so the quantized value is bit-identical on
  every engine (floor never consults a decimal rendering, unlike
  round() — see the registry's rounding-policy header);
* a constant offset (2^21 micro-units) shifts all values non-negative,
  so integer floor-division semantics agree everywhere (truncation ==
  floor) — distances are translation-invariant, so the shift changes
  nothing;
* distances are exact int64 quadratic forms — offset-shifted values
  reach ~2^22, so (x-y)^2 ≤ 2^44 and the d-term sum is bounded by
  2^44 × MAX_KMEANS_DIMS (4096 = 2^12) < 2^63, no overflow — centroid
  updates are exact integer sums floor-divided by counts, and argmin
  ties break deterministically by centroid id via lexicographic
  struct-min — the same idiom both engines share.

Every iteration is therefore a pure function of the input bits, and the
whole T-iteration run hash-matches an unrolled SQL twin.

SCALE: the Spark shape is the canonical distributed Lloyd's — centroids
live on the driver (k × d ints, bounded_collect-guarded) and ship as a
task-closure ndarray into an Arrow-batched NumPy assignment pass
(mapInArrow; exact int64 arithmetic, so results stay bit-identical —
the former scan-stage zip_with folds were interpreted per element and
dominated every clustering query, see pq_fit);
the update is ONE map-side-combinable groupBy(subspace, cluster, dim)
aggregate per iteration, for every product-quantization subspace at
once. Per-iteration cost: one corpus scan + one k·d-key shuffle;
nothing corpus-sized ever materializes or ships. Empty clusters keep
their previous centroid (both engines). Corpora under the
KMEANS_DRIVER_* bounds skip the passes: one bounded probe brings the
vectors to the driver, where the same NumPy step fits and encodes them.

Reference provenance: the reference has no iterative operators
(SURVEY §2b lists them under engine extensions); this is tier-2
LLM-pipeline surface (topic bucketing / mixture balancing over
document embeddings).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce__spark.operators.staging import (
    bounded_collect,
    bounded_int64,
    int64_matrix,
)

QUANT_SCALE = 1_000_000  # micro-units
QUANT_OFFSET = 1 << 21  # shifts quantized values non-negative
MAX_KMEANS_DIMS = 4096  # bound for the driver-held centroid table

# Driver-path bounds (staging.bounded_int64 decides): under both, the
# Lloyd iterations AND the final encoding run locally over one Arrow
# collect instead of paying (1 + iterations) scheduled jobs plus a
# Python-worker pass — the clustering tail is job-count-bound at bench
# scale. The encoded output is then at most VECS rows x (m + 2) bigints
# and returns through createDataFrame. The probe runs before any width
# is known, so it admits vectors of at most CELLS // VECS (128) dims.
KMEANS_DRIVER_MAX_VECS = 131_072  # rows collected (limit bound+1 probe)
KMEANS_DRIVER_MAX_CELLS = 16_777_216  # rows x dims cap (~128 MB int64)


def _quantized(embeddings: DataFrame, vec_col: str) -> DataFrame:
    """(vec_id, eq): embedding quantized to non-negative int64
    micro-units. floor() on the double product — NOT round() — so the
    result is a pure function of the input bits on every engine."""
    return embeddings.select(
        "vec_id",
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * QUANT_SCALE).cast("bigint")
            + QUANT_OFFSET,
        ).alias("eq"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means, deterministically seeded with the k smallest
    vec_ids; returns (vec_id, cluster_id, dist2) under the final
    centroids. dist2 is the exact integer squared distance in quantized
    micro-units."""
    return kmeans_fit(embeddings, k, iterations, vec_col)[0]


# Arrow-batched NumPy assignment (round-14 optimization pass, guide
# §4.2): the former scan-stage zip_with/aggregate distance folds are
# higher-order functions, which run on Catalyst's INTERPRETED path —
# ~k*d lambda evaluations plus array allocations per row made the
# 3-iteration fit the dominant cost of every clustering query (A/B'd
# 4.05s -> 1.99s warm at sf0.1, then 1.61s -> 1.22s again with fused
# per-batch partial sums — identical assignments AND centroids in both
# steps). All arithmetic is int64: quantized values are <= 2^22 after
# the offset, so (x-y)^2 <= 2^44 and the d-term sum <= 2^44 *
# MAX_KMEANS_DIMS < 2^63 — NumPy int64 reproduces the JVM bigint result
# bit-for-bit. Looping over centroids bounds temp memory at one
# n_batch x d matrix per step (lower
# spark.sql.execution.arrow.maxRecordsPerBatch for very wide embeddings).
def _assign(cents: "np.ndarray", x: "np.ndarray"):
    """Nearest centroid per row of ``x`` and the exact int64 squared
    distance to it; the strict ``<`` keeps the LOWEST centroid id on
    distance ties (the SQL twin's struct-min order)."""
    best_d = ((x - cents[0]) ** 2).sum(axis=1)
    best_c = np.zeros(len(x), dtype=np.int64)
    for j in range(1, len(cents)):
        dj = ((x - cents[j]) ** 2).sum(axis=1)
        upd = dj < best_d
        best_d[upd] = dj[upd]
        best_c[upd] = j
    return best_c, best_d


def _cluster_sums(cents: "np.ndarray", x: "np.ndarray"):
    """One Lloyd step over the rows of ``x`` — assign, then per-cluster
    (ids, int64 sums, counts) — on the whole corpus (driver fit) or one
    Arrow batch (distributed pass); integer sums make both bit-identical."""
    best_c, _ = _assign(cents, x)
    ids, inv = np.unique(best_c, return_inverse=True)
    sums = np.zeros((len(ids), x.shape[1]), dtype=np.int64)
    np.add.at(sums, inv, x)
    return ids, sums, np.bincount(inv, minlength=len(ids)).astype(np.int64)


def _vectors(batch: "pa.RecordBatch", dims: int) -> "np.ndarray":
    """A batch's ``eq`` column via the probe's reshape, failing loudly."""
    x = int64_matrix(batch.column("eq"), dims)
    if x is None:
        raise ValueError(
            f"pq_fit: NULL or ragged embedding (every vector must hold "
            f"{dims} non-NULL elements)"
        )
    return x


def kmeans_fit(
    embeddings: DataFrame,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[int]]]:
    """kmeans_assign plus the fitted CODEBOOK: returns (assignments,
    final centroids) where centroids[cid] is the k x d integer table the
    final assignment ran against. The single-subspace case of
    :func:`pq_fit`, which holds the one Lloyd loop and its driver and
    distributed paths."""
    codes, books = pq_fit(embeddings, 1, k, iterations, vec_col)
    return (
        codes.select(
            "vec_id",
            F.col("c0").alias("cluster_id"),
            F.col("recon_err").alias("dist2"),
        ),
        books[0] if books else [],
    )


def pq_fit(
    embeddings: DataFrame,
    m: int,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product-quantization fit (Jegou, Douze & Schmid, TPAMI 2011): split
    every vector into ``m`` equal subspaces (dims ``s*d .. (s+1)*d - 1``,
    the ``F.slice`` windows) and run the deterministic Lloyd's above on
    all of them at once, each codebook seeded with the k smallest vec_ids.
    Returns (codes, codebooks): codes is ``(vec_id, c0..c{m-1},
    recon_err)`` — each vector's nearest codeword per subspace under the
    final codebooks and the exact int64 sum of the m squared distances —
    and ``codebooks[s][cid]`` is subspace s's centroid. Bit-identical to m
    independent kmeans_fit calls on the sliced subvectors (tested), but
    one fit: the subspaces share the seeds, each iteration's pass and the
    final pass, so no per-subspace job chain and no vec_id joins.

    Corpora of at most KMEANS_DRIVER_MAX_VECS vectors of at most
    KMEANS_DRIVER_MAX_CELLS // KMEANS_DRIVER_MAX_VECS dims run on the
    driver (staging.bounded_int64 decides), whose probe also yields the
    seeds: the iterations and the final encoding both use the probe's
    vectors, and the codes return through ``createDataFrame`` — the
    probe is the fit's only Spark job. Larger corpora, and NULL or
    ragged embeddings, take the distributed path — one seed job, one
    partial-sums pass per iteration covering every subspace, and a
    ``mapInArrow`` encoding pass — which fails loudly on the latter.
    Both paths return the same rows and schema (tested)."""
    # a vector wider than the cap probes as NULL, so the probe holds at
    # most KMEANS_DRIVER_MAX_CELLS values before any width is known
    cap = KMEANS_DRIVER_MAX_CELLS // max(KMEANS_DRIVER_MAX_VECS, 1)
    eq = F.when(F.size("eq") <= cap, F.col("eq"))
    q = _quantized(embeddings, vec_col)
    local, q = bounded_int64(q, ["vec_id", eq], KMEANS_DRIVER_MAX_VECS)
    if local is not None:
        vec_ids, vecs = local
        seeds = vecs[np.argsort(vec_ids, kind="stable")[:k]]
    else:
        rows = bounded_collect(
            q.orderBy("vec_id").limit(k), k, "kmeans seed centroids"
        )
        seeds = np.asarray([list(r.eq) for r in rows], dtype=np.int64)
    codes = [f"c{s}" for s in range(m)]
    if not len(seeds):
        # 0-row corpus: no seeds, no clusters — empty result, same schema
        return (
            q.select(
                "vec_id",
                *[F.lit(None).cast("bigint").alias(c) for c in codes + ["recon_err"]],
            ),
            [],
        )
    # fewer vectors than k: every vector seeds its own cluster — the SQL
    # twin's LIMIT k yields the same truncation, so semantics stay shared
    k, dims = seeds.shape
    if dims % m:
        raise ValueError(f"pq_fit: {dims} dims do not split into {m} subspaces")
    if dims > MAX_KMEANS_DIMS:
        raise ValueError(f"pq_fit: {dims} dims exceed MAX_KMEANS_DIMS")
    d = dims // m
    # books[s] is subspace s's k x d codebook
    books = seeds.reshape(k, m, d).transpose(1, 0, 2).copy()

    def sub(x, s):
        return x[:, s * d : (s + 1) * d]

    # Fused update pass: each batch emits its own per-(subspace, cluster,
    # dim) partial sums directly from the Python worker — the d-wide eq
    # column never crosses back out of Python; the shuffle carries <=
    # batches * k * dims tiny rows. Per-batch sums stay in int64
    # trivially. Reads the current iteration's ``books``, which stay
    # fixed until its collect.
    def partials(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            x = _vectors(batch, dims)
            for s in range(m):
                ids, sums, counts = _cluster_sums(books[s], sub(x, s))
                yield pa.RecordBatch.from_arrays(
                    [
                        np.full(len(ids) * d, s, dtype=np.int32),
                        np.repeat(ids, d),
                        np.tile(np.arange(d, dtype=np.int32), len(ids)),
                        sums.ravel(),
                        np.repeat(counts, d),
                    ],
                    names=["sub", "cluster_id", "i", "s", "n"],
                )

    for _ in range(iterations):
        # exact integer means (values are non-negative by the offset, so
        # floor-div == truncating div on every engine); an empty cluster
        # keeps its centroid
        nxt = books.copy()
        if local is not None:
            for s in range(m):
                ids, sums, counts = _cluster_sums(books[s], sub(vecs, s))
                nxt[s, ids] = sums // counts[:, None]
        else:
            for r in bounded_collect(
                q.mapInArrow(
                    partials, "sub int, cluster_id bigint, i int, s bigint, n bigint"
                )
                .groupBy("sub", "cluster_id", "i")
                .agg(F.sum("s").alias("s"), F.sum("n").alias("n")),
                k * dims,
                "kmeans centroid sums",
            ):
                nxt[r.sub, r.cluster_id, r.i] = r.s // r.n
        books = nxt

    names = ["vec_id", *codes, "recon_err"]
    schema = ", ".join(f"{c} bigint" for c in names)

    def encoded(x):
        """(codes per subspace, recon_err) of the rows of ``x`` under the
        final codebooks."""
        cols, err = [], np.zeros(len(x), dtype=np.int64)
        for s in range(m):
            best_c, best_d = _assign(books[s], sub(x, s))
            cols.append(best_c)
            err += best_d
        return cols, err

    if local is not None:
        # the probe already holds every vector: encode on the driver
        cols, err = encoded(vecs)
        pdf = pd.DataFrame(dict(zip(names, [vec_ids, *cols, err])))
        return q.sparkSession.createDataFrame(pdf, schema), books.tolist()

    # Final encoding: emits only (vec_id, codes, recon_err) — mapInArrow
    # is opaque to column pruning, so the pass must not ship the d-wide
    # eq back out of the Python workers only for a select to drop it.
    def encode(batches):
        for batch in batches:
            cols, err = encoded(_vectors(batch, dims))
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id").cast(pa.int64()), *cols, err],
                names=names,
            )

    return q.mapInArrow(encode, schema), books.tolist()
