"""Oracle-differential tests: every SQL-expressible registry query must
match its DuckDB oracle on the same parquet (the driver's t2 gate,
run here at sf0.001 for speed — the driver re-runs at sf0.01)."""

from __future__ import annotations

import pytest

from mapreduce__spark.plans import REGISTRY

from tests.oracle_harness import compare_with_oracle

ORACLE_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)
ROWS_ONLY_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle is None)

# Guard the gate itself: if a registry refactor stopped populating
# q.oracle, the whole parametrized differential would collapse into zero
# collected tests — a green run with no checks. Pin a floor well below
# the real count (111 as of round 5) so legitimate removals don't churn it.
assert len(ORACLE_QUERIES) >= 100, (
    f"oracle gate collapsed: only {len(ORACLE_QUERIES)} oracle-bearing "
    "queries found — registry oracle field broken?"
)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, sf_small, name):
    q = REGISTRY[name]
    df = q.fn(spark, sf_small)
    ok, msg = compare_with_oracle(df, q.oracle, sf_small)
    assert ok, f"{name}: {msg}"
    # An oracle returning 0 rows at this sf would make the comparison
    # vacuous (any empty-producing Spark bug passes); every registry
    # query is required to produce rows at sf0.001.
    assert df.take(1), f"{name}: empty result at sf0.001 — vacuous oracle gate"


# Queries behind the driver-or-distributed seam (staging.bounded_int64).
# At sf0.001 every one of them takes its driver path above, so the
# distributed algorithms are oracle-checked here, with every driver bound
# at 0.
SEAM_QUERIES = [
    "ann_topk_pq_adc",
    "cluster_balanced_sample",
    "dedup_clusters",
    "dedup_keep_best",
    "embedding_cluster_outliers",
    "embedding_pq_codes",
    "entity_resolution_parts",
    "graph_mass_propagation",
    "graph_mass_propagation_k4",
    "graph_triangles",
    "k_core_peel",
    "kmeans_embeddings",
    "semantic_dedup",
]


@pytest.mark.parametrize("name", SEAM_QUERIES)
def test_distributed_path_matches_oracle(spark, sf_small, monkeypatch, name):
    from mapreduce__spark.operators import clustering, graph

    for bound in (
        "MASS_DRIVER_MAX_EDGES",
        "CC_DRIVER_MAX_EDGES",
        "KCORE_DRIVER_MAX_EDGES",
        "TRIANGLES_DRIVER_MAX_EDGES",
    ):
        monkeypatch.setattr(graph, bound, 0)
    monkeypatch.setattr(clustering, "KMEANS_DRIVER_MAX_VECS", 0)
    q = REGISTRY[name]
    ok, msg = compare_with_oracle(q.fn(spark, sf_small), q.oracle, sf_small)
    assert ok, f"{name} (driver paths off): {msg}"


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_query_runs(spark, sf_small, name):
    """Non-SQL-expressible queries must still run, produce rows, and keep
    a named schema (collect() is never None, so assert substance:
    non-empty output — every rows-only query must yield rows at
    sf0.001 — and at least one named output column; heavy_hitters_approx
    is a legitimate single-column result)."""
    q = REGISTRY[name]
    df = q.fn(spark, sf_small)
    rows = df.collect()
    assert df.columns, f"{name}: no columns"
    assert rows, f"{name}: empty result at sf0.001"


def test_harness_detects_mismatches(spark, sf_small):
    """Self-check: the comparison harness must FAIL on wrong row counts,
    wrong column names, and wrong values — and PASS on an identical
    query (the positive control: a harness bug that rejects everything
    would otherwise satisfy every negative case below)."""
    from mapreduce__spark.sources import load_table

    n = load_table(spark, sf_small, "nation")
    ok, msg = compare_with_oracle(
        n.select("n_nationkey", "n_name"),
        "SELECT n_nationkey, n_name FROM nation",
        sf_small,
    )
    assert ok, f"positive control failed: {msg}"
    ok, _ = compare_with_oracle(
        n.limit(5).select("n_nationkey"), "SELECT n_nationkey FROM nation", sf_small
    )
    assert not ok  # row count
    ok, _ = compare_with_oracle(
        n.select(F := n.n_nationkey.alias("wrong")), "SELECT n_nationkey FROM nation", sf_small
    )
    assert not ok  # column name
    ok, _ = compare_with_oracle(
        n.select((n.n_nationkey + 1).alias("n_nationkey")),
        "SELECT n_nationkey FROM nation",
        sf_small,
    )
    assert not ok  # values


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    oracles, queries = e.oracle_sql(), e.queries()
    # the subset assertion is vacuous on an empty dict — pin real sizes
    assert len(oracles) >= 100 and len(queries) >= len(oracles)
    assert set(oracles) <= set(queries)


def test_global_sort_rows_are_actually_ordered(spark, sf_small):
    """The harness re-sorts rows before hashing (matching the driver's
    order-insensitive compare), so it can NEVER see an ordering bug —
    yet global_sort's defining semantics IS its row order. Assert the
    collected order directly against the declared sort keys."""
    rows = REGISTRY["global_sort"].fn(spark, sf_small).collect()
    assert rows
    keys = [(r.c_mktsegment, -r.c_acctbal, r.c_custkey) for r in rows]
    assert keys == sorted(keys), "global_sort output is not in sorted order"
