"""Pin the committed shuffle-volume audit (round-10 VERDICT item 7).

docs/query_profile.py, run with no query names, profiles every query in its
AUDIT_QUERIES at sf0.1 from Spark's event log and commits
docs/SHUFFLE_AUDIT.json under the parser's own metric names. These tests
pin the committed record's SHAPE — the audited population and the
top-offender ranking — so a new top offender or a silently vanished
measurement fails the suite until the table is consciously regenerated
(the same convention as the bench baselines)."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.join(os.path.dirname(__file__), "..")
sys.path.insert(0, os.path.join(ROOT, "docs"))

from query_profile import AUDIT_QUERIES  # noqa: E402

JSON_PATH = os.path.join(ROOT, "docs", "SHUFFLE_AUDIT.json")
W_BYTES = "spark.shuffle.write_bytes"

# The committed ranking by shuffle-write bytes. Regenerating the audit
# after a plan change that reorders this is fine — update the pin in the
# same commit, consciously.
EXPECTED_TOP5 = [
    "graph_triangles",
    "graph_mass_propagation",
    "k_core_peel",
    "inverted_index",
    "substring_dedup_windows",
]


def _record() -> dict:
    with open(JSON_PATH) as f:
        return json.load(f)


def test_audit_covers_declared_population():
    rec = _record()
    assert set(rec["queries"]) == set(AUDIT_QUERIES)
    assert len(AUDIT_QUERIES) == 11
    for name, m in rec["queries"].items():
        for key in (W_BYTES, "spark.shuffle.read_bytes", "spark.scheduler.stages",
                    "spark.scheduler.jobs", "plans.exchanges", "pass_s"):
            assert key in m, (name, key)
        assert m["spark.scheduler.stages"] > 0, name


def test_top_offenders_pinned():
    rec = _record()
    ranked = sorted(
        rec["queries"].items(), key=lambda kv: -kv[1][W_BYTES]
    )
    top5 = [name for name, _m in ranked[:5]]
    assert top5 == EXPECTED_TOP5, (
        f"shuffle-volume top offenders changed: {top5} — regenerate "
        "with docs/query_profile.py deliberately and update the pin"
    )


def test_audited_queries_are_registered():
    from mapreduce__spark.plans import REGISTRY

    missing = [n for n in AUDIT_QUERIES if n not in REGISTRY]
    assert not missing, missing


def test_pipelines_stay_narrow():
    """The scale claim the audit exists to defend: the composed
    pipelines and the cluster-scoped embedding dedup move megabytes,
    not corpus volumes, through shuffles at sf0.1 (~66 MB of document
    text). Generous ceilings — a 10x regression trips them long before
    a payload-through-shuffle bug ships."""
    rec = _record()
    q = rec["queries"]
    for name in ("training_data_pipeline_full", "training_data_pipeline",
                 "dedup_lsh_minhash"):
        assert q[name][W_BYTES] < 30e6, (name, q[name])
    assert q["semantic_dedup"][W_BYTES] < 10e6, q["semantic_dedup"]
    # PQ training + assignment moves only centroid/code rows — the
    # embedding vectors themselves stay in the scan stage
    assert q["embedding_pq_codes"][W_BYTES] < 2e6, q["embedding_pq_codes"]
