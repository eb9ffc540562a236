"""Plan-quality gates: assert the physical plans keep the properties the
100 TB design depends on — pushdown reaching the scan, column pruning,
broadcast joins for dims, rank-limit pushdown, no Python in JVM-only
queries. A regression here is a performance bug even if results match."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce__spark.plans.tier0 import scan_project, search_count
from mapreduce__spark.plans.tier1 import (
    join_broadcast_star,
    pricing_summary,
    shipping_priority,
    topk_per_key,
)
from mapreduce__spark.sources import load_table


def physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_pruning(spark, sf_small):
    plan = physical(scan_project(spark, sf_small))
    assert "PushedFilters" in plan and "GreaterThan(l_quantity,45.0)" in plan, plan
    # Scan must read only the referenced columns, not all 11.
    assert "l_returnflag" not in plan
    assert "l_shipdate" not in plan


def test_search_count_pushes_contains(spark, sf_small):
    plan = physical(search_count(spark, sf_small))
    assert "StringContains(source,src1)" in plan, plan
    assert "text" not in plan  # 'documents.text' never read


def test_dim_joins_broadcast(spark, sf_small):
    plan = physical(join_broadcast_star(spark, sf_small))
    assert plan.count("BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan


def test_topk_per_key_rank_pushdown(spark, sf_small):
    """row_number<=k must become a WindowGroupLimit (partial top-k before
    the shuffle), not a full sort of every partition's rows."""
    plan = physical(topk_per_key(spark, sf_small))
    assert "WindowGroupLimit" in plan, plan


def test_global_topk_avoids_total_sort(spark, sf_small):
    li = load_table(spark, sf_small, "lineitem")
    df = li.orderBy(F.col("l_extendedprice").desc()).limit(10)
    plan = physical(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_agg_is_partial(spark, sf_small):
    """Wide aggregate must plan two-phase hash aggregation (map-side
    combine before the shuffle)."""
    plan = physical(pricing_summary(spark, sf_small))
    assert plan.count("HashAggregate") >= 2, plan


def test_no_python_in_jvm_queries(spark, sf_small):
    """Pure-expression queries must contain no Python evaluation nodes."""
    for q in (pricing_summary, shipping_priority, search_count):
        plan = physical(q(spark, sf_small))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, q.__name__


def test_decontamination_broadcasts_eval_side(spark, sf_small):
    """The eval side is a benchmark (tiny by construction): the gram join
    must be a broadcast hash join, never a corpus-shuffling sort-merge."""
    from mapreduce__spark.plans.tier2_pipeline import decontaminate_eval_overlap

    plan = physical(decontaminate_eval_overlap(spark, sf_small))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_pair_counts_plan_shape(spark, sf_small):
    """Top-50 cut must be a TakeOrderedAndProject over a two-phase
    (map-side combined) aggregate — never a total sort of the pair table,
    and never Python."""
    from mapreduce__spark.plans.tier2_pipeline import bpe_pair_counts

    plan = physical(bpe_pair_counts(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_unigram_lm_no_python_and_partial_agg(spark, sf_small):
    """LM build + scoring are pure Catalyst: partial aggregation on both
    hash-aggregates (vocab count, per-doc score), no Python nodes; the
    corpus-total join is a broadcast (1 row), not a shuffle."""
    from mapreduce__spark.plans.tier2_pipeline import unigram_lm_score

    plan = physical(unigram_lm_score(spark, sf_small))
    assert plan.count("HashAggregate") >= 4, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # the 1-row total


def test_salted_join_no_single_hot_partition(spark, sf_small):
    """The salted join must join on (key, salt): the build side carries an
    explode (replication) and the join keys include the salt column, so no
    single reducer can own a hot key."""
    from mapreduce__spark.plans.tier1 import join_skew_salted

    plan = physical(join_skew_salted(spark, sf_small))
    assert "explode" in plan.lower(), plan
    assert "_salt" in plan, plan


def test_bloom_prune_is_pre_shuffle_filter(spark, sf_small):
    """The Bloom might-contain probe must run as a scan-side Filter
    (xxhash64 predicate BEFORE any exchange), and the final join must be
    a LeftSemi — the prune-then-join shape the operator promises."""
    from mapreduce__spark.plans.tier1 import join_bloom_pruned

    plan = physical(join_bloom_pruned(spark, sf_small))
    assert "xxhash64" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_new_analytics_plan_shapes(spark, sf_small):
    """funnel: user-keyed hash joins only, no cartesian; cohort: two-phase
    aggregation; outliers: TakeOrderedAndProject bottom-k, no Python."""
    from mapreduce__spark.plans.tier2_embedding import embedding_outliers
    from mapreduce__spark.plans.tier2_events import funnel_analysis, retention_cohort

    plan = physical(funnel_analysis(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan

    plan = physical(retention_cohort(spark, sf_small))
    assert plan.count("HashAggregate") >= 2, plan

    plan = physical(embedding_outliers(spark, sf_small))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_scrub_and_quality_rules_zero_shuffle(spark, sf_small):
    """PII scrub and the quality rule set are scan-stage expression
    pipelines — no Exchange may appear in their plans."""
    from mapreduce__spark.plans.tier2_pipeline import gopher_quality_rules, pii_scrub

    for fn in (pii_scrub, gopher_quality_rules):
        plan = physical(fn(spark, sf_small))
        assert "Exchange" not in plan, f"{fn.__name__}: {plan}"
        assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan, fn.__name__


def test_embedding_dedup_never_cartesian(spark, sf_small):
    """The declared embedding near-dup operator must plan the pruned
    cluster equi-join, never the all-pairs cartesian (VERDICT item 6)."""
    from mapreduce__spark.plans.tier2_dedup import dedup_embedding_cosine

    plan = physical(dedup_embedding_cosine(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_flagship_packing_not_split_funneled(spark, sf_small):
    """The flagship's per-split packing must window on (split, bucket),
    never on the 2-value split alone (VERDICT item 5): every window spec
    that partitions on `split` must also carry the `_pid` bucket key."""
    import re

    from mapreduce__spark.plans.tier2_pipeline import training_data_pipeline

    plan = physical(training_data_pipeline(spark, sf_small))
    split_windows = [
        w for w in re.findall(r"windowspecdefinition\(([^)]*)\)", plan) if "split" in w
    ]
    assert split_windows, "expected a window over split in the packing stage"
    for spec in split_windows:
        assert "_pid" in spec, f"split-only window partitioning: {spec}"


def test_window_distribution_no_partitionless_window(spark, sf_small):
    """Rank statistics (ntile/percent_rank/cume_dist) must ride the
    distributed row number — every window spec in the plan must carry the
    `_pid` range-bucket key, never an empty (single-task) partition spec."""
    import re

    from mapreduce__spark.plans.tier1 import window_distribution

    plan = physical(window_distribution(spark, sf_small))
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected a window in the plan"
    for spec in specs:
        assert "_pid" in spec, f"partition-less window spec: {spec}"


def test_embedding_quantize_plan_is_shuffle_free_codegen(spark, sf_small):
    """The quantize pass (round 4) must be a pure scan-stage projection:
    per-dim stats arrive as array LITERALS (the O(d) driver collect), so
    the output plan may contain NO shuffle and NO Python eval node."""
    from mapreduce__spark.plans.tier2_embedding import embedding_quantize_int8

    plan = physical(embedding_quantize_int8(spark, sf_small))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_user_path_transitions_plan_shape(spark, sf_small):
    """Lag window partitioned by user_id, then a two-phase (map-side
    combined) aggregate on the tiny type-pair key — no Python, no global
    (unpartitioned) window."""
    from mapreduce__spark.plans.tier2_events import user_path_transitions

    plan = physical(user_path_transitions(spark, sf_small))
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_stream_interval_join_batch_is_equi_join(spark, sf_small):
    """The interval join must key on user equality with the time bounds as
    post-join predicates — never a cartesian/nested-loop product."""
    from mapreduce__spark.plans.tier2_events import stream_interval_join_batch

    plan = physical(stream_interval_join_batch(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_paragraph_dedup_plan_shape(spark, sf_small):
    """Paragraph dedup must stay a pure hash-agg + equi-join pipeline:
    no cartesian, no Python in the hot path, no partition-less window
    (the explode/min/join-back formulation exists precisely to avoid
    one), and the first-occurrence min must partial-aggregate map-side
    before the chunk-key shuffle."""
    from mapreduce__spark.plans.tier2_dedup import paragraph_dedup

    plan = physical(paragraph_dedup(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
    assert "Window" not in plan, plan
    # two-phase min: a partial HashAggregate under the exchange and the
    # final merge above it
    assert plan.count("HashAggregate") >= 2, plan


def test_testdata_is_doc_id_ordered(sf_small, sf_oracle):
    """scan_provenance's oracle recomputes the physical row position from
    the fixture's layout: documents.parquet must store rows in contiguous
    doc_id order (0..n-1). If the fixtures ever change, this fails with a
    clear message instead of a cryptic value-hash mismatch."""
    import duckdb

    for sf in (sf_small, sf_oracle):
        bad = duckdb.sql(
            f"""WITH x AS (SELECT doc_id, file_row_number AS r
                 FROM read_parquet('{sf}/documents.parquet', file_row_number=true))
               SELECT count(*) FROM x WHERE doc_id != r"""
        ).fetchone()[0]
        assert bad == 0, (
            f"{sf}/documents.parquet is no longer stored in contiguous "
            "doc_id order — scan_provenance's oracle assumption broke"
        )


def test_scan_provenance_row_index_is_physical(spark, sf_small):
    """_metadata.row_index must report the PHYSICAL file position, not a
    post-filter renumbering: filtered output keeps gaps where dropped rows
    were."""
    from mapreduce__spark.plans.tier0 import scan_provenance

    rows = scan_provenance(spark, sf_small).collect()
    assert all(r.row_idx == r.doc_id for r in rows)  # fixture: doc_id == position
    n_docs = load_table(spark, sf_small, "documents").count()
    assert len(rows) < n_docs, "filter kept everything — gap check vacuous"
    kept = sorted(r.row_idx for r in rows)
    assert kept != list(range(len(kept))), (
        "filtered row_idx values are gapless 0..k-1 — looks renumbered"
    )


def test_multi_consumer_aggregates_scan_source_minimally(spark, sf_small):
    """Round-7 scan audit: Catalyst does not reuse exchanges across
    re-aggregations, so a multi-consumer aggregate left lazy re-plans a
    full source scan per consumer. These queries materialize the shared
    aggregate; the remaining plan must hold the MINIMAL number of source
    scans (pre-materialized reads don't appear in the final plan)."""
    from mapreduce__spark.plans import REGISTRY

    # query -> max FileScans allowed in the post-materialization plan
    budgets = {
        "domain_mixture_weights": 0,   # everything derives from the agg
        "events_rollup_gapfill": 0,    # span/types/grid all from the agg
        "profile_table": 1,            # one wide-agg pass over orders
        "unigram_lm_score": 1,         # scoring re-scan only (build is staged)
        "funnel_analysis": 1,          # array-expression form: no joins at all
        "retention_cohort": 1,         # min-over-window, no join-back
    }
    for name, budget in budgets.items():
        plan = physical(REGISTRY[name].fn(spark, sf_small))
        n = plan.count("FileScan parquet")
        assert n <= budget, f"{name}: {n} scans (budget {budget})\n{plan}"


def test_per_source_zscore_no_corpus_shuffle_or_window(spark, sf_small):
    """The standardization must come from a tiny-stats broadcast join,
    never from an unordered PARTITION BY source window (which would
    shuffle AND buffer the whole corpus per source)."""
    from mapreduce__spark.plans.tier2_stats import per_source_zscore

    plan = physical(per_source_zscore(spark, sf_small))
    assert "Window" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly the two-phase stats aggregate's exchange pair; the docs
    # scan side must reach the join unshuffled
    assert plan.count("Exchange hashpartitioning") <= 2, plan


def test_collocation_lift_no_wide_joins(spark, sf_small):
    """Every join in the collocation plan is against the V-row top
    vocabulary — broadcast only. A SortMergeJoin here means the doc_id
    self-join shape snuck back in; a cartesian means the pair
    generation left the array domain."""
    from mapreduce__spark.plans.tier2_text import collocation_lift

    plan = physical(collocation_lift(spark, sf_small))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_snapshot_diff_single_full_outer_smj(spark, sf_small):
    """The diff is ONE full-outer sort-merge join on the key — each
    snapshot shuffles exactly once, and nothing degenerates to a
    broadcast-nested-loop or cartesian on the null-safe condition."""
    from mapreduce__spark.plans.tier1 import snapshot_diff_cdc

    plan = physical(snapshot_diff_cdc(spark, sf_small))
    assert plan.count("SortMergeJoin") == 1, plan
    assert "FullOuter" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_graph_triangles_joins_are_equi(spark, sf_small, monkeypatch):
    """Both the wedge join and the triangle-closing join must plan as
    equi-joins (the canonical pair ordering makes the closure an
    equality probe) — a BroadcastNestedLoopJoin or cartesian here is
    the OR-form closure that measured minutes-vs-seconds even at
    sf0.01. A zero TRIANGLES_DRIVER_MAX_EDGES forces the distributed
    plan; the driver path would return a LocalTableScan."""
    from mapreduce__spark.operators import graph
    from mapreduce__spark.plans.tier1 import graph_triangles

    monkeypatch.setattr(graph, "TRIANGLES_DRIVER_MAX_EDGES", 0)
    plan = physical(graph_triangles(spark, sf_small))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skyline_two_phase_window_shape(spark, sf_small):
    """Phase 1 must be the bucketed (partitioned) window and phase 2
    the single global re-filter: exactly one unpartitioned-window
    exchange (the sliver-sized merge), never a quadratic join."""
    from mapreduce__spark.plans.tier1 import skyline_pareto

    plan = physical(skyline_pareto(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # two Window operators total: per-bucket local, then global
    assert plan.count("RunningWindowFunction") <= 2, plan
    assert "SinglePartition" in plan, plan  # the phase-2 merge exists


def test_inverted_index_single_scan_no_self_join(spark, sf_small):
    """Bigrams form scan-side via zip_with: one documents FileScan, no
    join anywhere in the plan (the naive adjacent-token pairing is a
    doc_id self-join)."""
    from mapreduce__spark.plans.tier2_text import inverted_index

    plan = physical(inverted_index(spark, sf_small))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Join" not in plan, plan


def test_data_quality_audit_single_scan_each_table(spark, sf_small):
    """All six constraints fold into one conditional aggregate: exactly
    one orders scan and one customer scan; the report unpivot is a
    stack() over the single aggregate row, not a per-constraint pass."""
    from mapreduce__spark.plans.tier2_pipeline import data_quality_audit

    plan = physical(data_quality_audit(spark, sf_small))
    assert plan.count("FileScan parquet") == 2, plan
    assert "CartesianProduct" not in plan, plan


def test_phrase_search_intersection_is_equi_join(spark, sf_small):
    """The postings intersection must plan as equality joins (gram
    probe + (doc_id, pos) intersection) — no nested-loop fallback."""
    from mapreduce__spark.plans.tier2_text import phrase_search

    plan = physical(phrase_search(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zorder_layout_no_window_no_join(spark, sf_small):
    """The layout math is scan-stage arithmetic over a 1-row broadcast
    min/max aggregate: no Window operator (the write path's
    percent_rank funnel is exactly what this query avoids) and no
    wide join."""
    from mapreduce__spark.plans.tier2_sources import zorder_layout

    plan = physical(zorder_layout(spark, sf_small))
    assert "Window" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_semantic_dedup_pair_join_is_cluster_equi(spark, sf_small):
    """The SemDeDup pair join must key on cluster_id (equi) — a
    cartesian or nested-loop here is the n^2 all-pairs shape the
    clustering exists to avoid. The only allowed nested-loops are
    k-means' 1-row centroid-table broadcast (round 11 — the bm25/
    domain_mixture_weights idiom), whose subtree appears three times in
    this plan (the pair join's a/b aliases plus the final keep-join each
    reference the assignment), never a real cartesian."""
    from mapreduce__spark.plans.tier2_dedup import semantic_dedup

    plan = physical(semantic_dedup(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3, plan
    # all of them are the centroid broadcast: 1-row build sides, Cross
    assert plan.count("BroadcastNestedLoopJoin") == plan.count(
        "BroadcastNestedLoopJoin BuildRight, Cross"
    ), plan


def test_prefix_jaccard_no_global_window(spark, sf_small):
    """The prefix take is a per-doc (partitioned) window and every join
    is an equi-join: no partition-less Window, no cartesian — the two
    shapes that would reintroduce the quadratic/funnel hazards the
    prefix filter exists to remove."""
    from mapreduce__spark.plans.tier2_dedup import dedup_jaccard_prefix

    plan = physical(dedup_jaccard_prefix(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the only SinglePartition exchange allowed is none at all: every
    # window partitions by doc_id
    assert "Window" not in plan or "SinglePartition" not in plan, plan


def test_bm25_joins_broadcast_sized(spark, sf_small):
    """The scoring join touches posting rows through broadcast-sized
    relations: the gram/doc joins are broadcast hash joins, and the only
    nested-loop is the 1-row N/avgdl stats crossJoin (the
    domain_mixture_weights idiom) — never a real cartesian."""
    from mapreduce__spark.plans.tier2_text import bm25_rank

    plan = physical(bm25_rank(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_image_dhash_neardup_band_join_is_equi(spark, sf_small):
    """The Hamming near-dup candidates must meet in an EQUI join on
    (band_idx, band_val) — a cartesian or nested-loop here is the N^2
    all-pairs shape the banding exists to avoid. The pigeonhole
    completeness argument lives in the operator; this pins that the
    plan actually uses it."""
    from mapreduce__spark.plans.tier2_multimodal import image_dhash_neardup

    plan = physical(image_dhash_neardup(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Join" in plan, plan


def test_unigram_viterbi_prep_shapes(spark, sf_small):
    """The Viterbi prep must stay distributed: substring counts via hash
    aggregate, per-word candidate delivery via equi-join, the corpus
    total as the 1-row broadcast crossJoin (the centroid idiom) — never
    a real cartesian, never a partition-less window funnel."""
    from mapreduce__spark.plans.tier2_text import unigram_lm_tokenize

    plan = physical(unigram_lm_tokenize(spark, sf_small))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "HashAggregate" in plan, plan
    assert "Window" not in plan or "SinglePartition" not in plan, plan


def test_url_canonicalize_is_pure_project(spark, sf_small):
    """URL canonicalization must cost ~nothing at 100 TB: no exchange,
    no join, no Python eval — one scan with codegen projects."""
    from mapreduce__spark.plans.tier2_pipeline import url_canonicalize

    plan = physical(url_canonicalize(spark, sf_small))
    for bad in ("Exchange", "Join", "BatchEvalPython", "ArrowEval"):
        assert bad not in plan, (bad, plan)
    assert "FileScan parquet" in plan, plan
