"""k-means (operators/clustering.py): the driver fit and the distributed
Lloyd loop against a pure-Python reference and against each other."""

from __future__ import annotations

from unittest import mock

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from mapreduce__spark.operators import clustering


def _kmeans_py(vecs, k, iters):
    """Pure-Python integer Lloyd's (the third implementation — Spark
    expressions and unrolled DuckDB SQL are the other two)."""
    import math

    OFF = 1 << 21
    q = {
        vid: [math.floor(float(x) * 1_000_000) + OFF for x in v]
        for vid, v in vecs.items()
    }
    cents = [list(q[vid]) for vid in sorted(q)[:k]]

    def assign():
        return {
            vid: min(
                (sum((a - b) * (a - b) for a, b in zip(eq, c)), j)
                for j, c in enumerate(cents)
            )
            for vid, eq in q.items()
        }

    for _ in range(iters):
        a = assign()
        for j in range(k):
            mem = [q[v] for v, (_, c) in a.items() if c == j]
            if mem:
                cents[j] = [sum(col) // len(mem) for col in zip(*mem)]
    return {v: (c, d) for v, (d, c) in assign().items()}


# coarse grid values force distance TIES (the argmin tie-break path)
# and duplicate vectors force EMPTY clusters
_vec = st.lists(
    st.sampled_from([-0.25, -0.1, 0.0, 0.1, 0.25]), min_size=3, max_size=3
)
_vecs = st.lists(_vec, min_size=4, max_size=10)


@given(_vecs, st.integers(min_value=2, max_value=3))
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_kmeans_matches_python_on_random_grids(spark, vecs, k):
    """kmeans_assign == pure-Python integer Lloyd's on random coarse-grid
    vectors: ties, duplicate seeds, and empty clusters all land on the
    same deterministic answer."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    narrowed = {r.vec_id: list(r.embedding) for r in df.collect()}
    got = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in clustering.kmeans_assign(df, k, 2).collect()
    }
    assert got == _kmeans_py(narrowed, k, 2)


def _fit(df, k, bound):
    with mock.patch.object(clustering, "KMEANS_DRIVER_MAX_VECS", bound):
        a, cents = clustering.kmeans_fit(df, k, 2)
        return {r.vec_id: (r.cluster_id, r.dist2) for r in a.collect()}, cents


@given(_vecs, st.integers(min_value=2, max_value=3))
@example([[]] * 4, 2)
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_kmeans_driver_fit_matches_distributed(spark, vecs, k):
    """The KMEANS_DRIVER_MAX_VECS fast path is a pure materialization
    choice: forcing the distributed iteration loop (a zero bound) yields
    bit-identical assignments AND centroids. Zero-length embeddings
    assign every vector to cluster 0 at distance 0 on both paths."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    a_local, c_local = _fit(df, k, 10**6)
    a_dist, c_dist = _fit(df, k, 0)
    assert a_local == a_dist
    assert c_local == c_dist
    if not vecs[0]:
        assert set(a_local.values()) == {(0, 0)}


@pytest.mark.parametrize(
    "bad", [[0.1, None, 0.3], [0.1, 0.2]], ids=["null_element", "ragged"]
)
def test_kmeans_rejects_null_or_ragged_embedding_on_both_paths(spark, bad):
    """The last vector (never a seed) breaks the contract; both paths
    must raise instead of fitting centroids around a garbage value."""
    rows = [(i, [0.1 * i, 0.2, 0.3]) for i in range(4)] + [(9, bad)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for bound in (10**6, 0):
        with pytest.raises(Exception, match="NULL or ragged embedding"):
            _fit(df, 2, bound)


# ------------------------------------------------------ product quantization


_vec6 = st.lists(
    st.sampled_from([-0.25, -0.1, 0.0, 0.1, 0.25]), min_size=6, max_size=6
)


def _pq(df, m, k, bound):
    """(code rows, codebooks, codes schema) with the driver bound set."""
    with mock.patch.object(clustering, "KMEANS_DRIVER_MAX_VECS", bound):
        codes, books = clustering.pq_fit(df, m, k, 2)
        return {tuple(r) for r in codes.collect()}, books, codes.schema


@given(
    st.lists(_vec6, min_size=4, max_size=9),
    st.sampled_from([2, 3]),
    st.integers(min_value=2, max_value=3),
)
@settings(max_examples=4, deadline=None, suppress_health_check=list(HealthCheck))
def test_pq_fit_equals_per_subspace_kmeans_on_both_paths(spark, vecs, m, k):
    """pq_fit is m independent kmeans_fit calls on the F.slice'd
    subvectors, fused: the same codes, recon_err (the sum of the
    per-subspace dist2) and codebooks. The distributed path (a zero
    KMEANS_DRIVER_MAX_VECS) equals the driver path — rows, codebooks and
    the codes DataFrame's schema, though the driver path encodes in
    NumPy and the distributed one in a mapInArrow pass — which equals
    the m kmeans_fit calls; kmeans_fit's own two paths are equal by
    test_kmeans_driver_fit_matches_distributed."""
    from pyspark.sql import functions as F

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got, books, schema = _pq(df, m, k, 10**6)
    assert (got, books, schema) == _pq(df, m, k, 0)
    d = 6 // m
    want, want_books = {}, []
    for s in range(m):
        sub = df.select(
            "vec_id", F.slice("embedding", 1 + s * d, d).alias("embedding")
        )
        a, cents = clustering.kmeans_fit(sub, k, 2)
        want_books.append(cents)
        for r in a.collect():
            c, e = want.get(r.vec_id, ((), 0))
            want[r.vec_id] = (c + (r.cluster_id,), e + r.dist2)
    assert got == {(v, *c, e) for v, (c, e) in want.items()}
    assert books == want_books


def test_pq_fit_driver_path_encodes_without_python_workers(spark):
    """Under the driver bound the probe already holds every vector, so
    the codes come back through createDataFrame: no MapInArrow node in
    the plan (no Python-worker pass re-reading the corpus). Past the
    bound the encoding is the distributed mapInArrow pass."""
    df = spark.createDataFrame(
        [(i, [0.1 * (i % 3), 0.2, -0.1 * (i % 2), 0.4]) for i in range(6)],
        "vec_id bigint, embedding array<float>",
    )

    def plan(bound):
        with mock.patch.object(clustering, "KMEANS_DRIVER_MAX_VECS", bound):
            codes, _ = clustering.pq_fit(df, 2, 2, 2)
            return codes._jdf.queryExecution().executedPlan().toString()

    assert "MapInArrow" not in plan(10**6)
    assert "MapInArrow" in plan(0)


@pytest.mark.parametrize(
    "bad", [[0.1, None, 0.3, 0.4], [0.1, 0.2]], ids=["null_element", "ragged"]
)
def test_pq_fit_rejects_null_or_ragged_embedding_on_both_paths(spark, bad):
    """As for kmeans_fit: a contract-breaking vector (never a seed) fails
    loudly on both paths instead of encoding around a garbage value."""
    rows = [(i, [0.1 * i, 0.2, 0.3, 0.4]) for i in range(4)] + [(9, bad)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for bound in (10**6, 0):
        with pytest.raises(Exception, match="NULL or ragged embedding"):
            _pq(df, 2, 2, bound)


def test_pq_fit_rejects_dims_that_do_not_split(spark):
    """m subspaces must tile the vector exactly; 3 dims cannot split in 2."""
    df = spark.createDataFrame(
        [(i, [0.1 * i, 0.2, 0.3]) for i in range(4)],
        "vec_id bigint, embedding array<float>",
    )
    with pytest.raises(ValueError, match="do not split into 2 subspaces"):
        clustering.pq_fit(df, 2, 2, 2)


def test_pq_adc_equals_distance_to_reconstruction(spark, sf_oracle):
    """The defining PQ identity: the asymmetric distance the search
    ranks by equals the EXACT integer distance from the query vector to
    the neighbor's reconstruction (its codewords concatenated) — because
    per-subspace squared distances add. Recomputed here in plain Python
    from kmeans_fit's codebooks, independent of both the query plan and
    the SQL twin."""
    from pyspark.sql import functions as F

    from mapreduce__spark.operators.clustering import _quantized, kmeans_fit
    from mapreduce__spark.plans.tier0 import load_table
    from mapreduce__spark.plans.tier2_embedding import (
        PQ_ITERS,
        PQ_K,
        PQ_M,
        PQ_NQ,
        PQ_SUBDIMS,
        ann_topk_pq_adc,
    )

    emb = load_table(spark, sf_oracle, "embeddings")
    eqs = {
        int(r.vec_id): list(r.eq)
        for r in _quantized(emb, "embedding").collect()
    }
    books, codes = [], {}
    for m in range(PQ_M):
        sub = emb.select(
            "vec_id",
            F.slice("embedding", 1 + m * PQ_SUBDIMS, PQ_SUBDIMS).alias(
                "embedding"
            ),
        )
        a, cents = kmeans_fit(sub, PQ_K, PQ_ITERS)
        books.append(cents)
        for r in a.collect():
            codes.setdefault(int(r.vec_id), [0] * PQ_M)[m] = int(r.cluster_id)

    def recon(vid):
        return [
            v
            for m in range(PQ_M)
            for v in books[m][codes[vid][m]]
        ]

    rows = ann_topk_pq_adc(spark, sf_oracle).collect()
    assert len(rows) == PQ_NQ * 5
    for r in rows:
        q = eqs[int(r.query_id)]
        rec = recon(int(r.neighbor_id))
        want = sum((a - b) * (a - b) for a, b in zip(q, rec))
        assert int(r.adc) == want, (r.query_id, r.neighbor_id)
    # and the ranking is genuinely the min over ALL neighbors: rank-1
    # beats every other vector's reconstruction distance
    for r in rows:
        if r.rank != 1:
            continue
        q = eqs[int(r.query_id)]
        best = min(
            sum((a - b) * (a - b) for a, b in zip(q, recon(v)))
            for v in codes
            if v != int(r.query_id)
        )
        assert int(r.adc) == best, r.query_id
