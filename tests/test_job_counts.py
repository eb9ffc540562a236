"""Spark jobs per warm query run, pinned (ROADMAP direction 4).

At fixture and bench scale the iterative graph and clustering queries are
bound by job scheduling, not compute, so their job counts are the
regression signal: unlike wall time they are deterministic for a given
session configuration. Each query runs once cold, then once under its own
job group, and ``statusTracker`` counts the group's jobs. A rise fails
here until the pin and CHANGES.md are updated together; a drop fails too,
so a pin never goes stale below the code.

The pins hold for this suite's session (tests/conftest.py: local[8], 8
shuffle partitions, AQE on) at sf0.001, where every driver fast path
applies. A count is only a pin where the plan is fixed before it runs:
where AQE picks a join strategy from whichever of the join's map stages
finishes first, the number of jobs changes from pass to pass by one. The
pins on dedup_clusters and training_data_pipeline rest on two such
choices being made up front: connected_components' driver path returns
a local relation of known size (joins against it broadcast at planning),
and lsh_near_duplicate_pairs pins its verification joins to sort-merge.
"""

from __future__ import annotations

import pytest

from mapreduce__spark.plans import REGISTRY

# query -> Spark jobs of one warm run (collect) at sf0.001
JOBS_PER_WARM_RUN = {
    "dedup_clusters": 17,
    "training_data_pipeline": 27,
    "k_core_peel": 3,
    "graph_triangles": 4,
    "graph_mass_propagation": 4,
    "graph_mass_propagation_k4": 4,
    "embedding_pq_codes": 1,
    "kmeans_embeddings": 1,
}


def warm_jobs(spark, name: str, sf_dir: str) -> int:
    """Jobs one warm ``collect`` of registry query ``name`` runs."""
    sc = spark.sparkContext
    REGISTRY[name].fn(spark, sf_dir).collect()  # cold: caches, JIT
    group = f"test_job_counts:{name}"
    sc.setJobGroup(group, name)
    try:
        REGISTRY[name].fn(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(JOBS_PER_WARM_RUN))
def test_jobs_per_warm_run_pinned(spark, sf_small, name):
    assert warm_jobs(spark, name, sf_small) == JOBS_PER_WARM_RUN[name], (
        f"{name}: Spark jobs per warm run changed — update the pin in "
        "tests/test_job_counts.py and note it in CHANGES.md"
    )
