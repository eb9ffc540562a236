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
