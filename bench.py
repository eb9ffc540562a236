#!/usr/bin/env python3
"""Benchmark the engine's headline queries.

Runs the 'bench'-tagged registry queries (plus the flagship) at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q": sec, ...}, "sf": <sf>, "methodology": "...",
     "staging": {...}, "scaling_note": "..."}

Timing is per-query wall time of plan + execute + collect, after a warmup
action that absorbs JVM/session startup (the reference's benchmark also
excluded framework init — README:101-118 reports phase times only).

The x10/x100 scaling tiers (skip them with SPARK_GRAFT_SKIP_SCALING=1) are
left off the stdout line; the full record goes to stderr and, at sf >= 0.1,
to docs/BENCH_FULL_latest.json. Regressions between commits are judged by
the paired runs of perfbench/run.py (BENCHMARK.json), not by this script.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import re
import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from mapreduce__spark.plans import REGISTRY
from mapreduce__spark.plans.tier2_dedup import SEMDEDUP_K, semantic_dedup_df
from mapreduce__spark.session import get_spark

BENCH_QUERIES = [
    "search_count",        # flagship: filter→count→sort→expand
    "pricing_summary",     # wide aggregate scan (TPC-H Q1 shape)
    "join_broadcast_star", # broadcast dim star join
    "shipping_priority",   # 3-way fact join + top-k (TPC-H Q3 shape)
    "local_supplier_volume",  # 6-way join (TPC-H Q5 shape)
    "word_count",          # explode-heavy text path
    "dedup_lsh_minhash",   # MinHash LSH + exact verify
    "ann_topk_bruteforce", # vector math path
    "events_tumbling_window",  # streaming-twin window agg
    "sessionization",      # window-function chain
    "training_data_pipeline",  # composed end-to-end pipeline (quality →
                               # dedup → cluster removal → split → pack)
    "training_data_pipeline_full",  # + PII scrub and decontamination in front
    "merge_upsert",        # CDC apply: anti+left join merge
    "graph_mass_propagation",  # Pregel superstep shape: edge-join + agg rounds
    "bmp_pixel_decode",    # Arrow-batched mapInPandas: byte-level pixel decode
    "boilerplate_removal", # corpus-DF chunk strip: distinct-count + join back
    "substring_dedup_windows",  # stride-1 token windows: the 30x-blowup shuffle
    "dedup_containment_chunks",  # chunk ⋈ stride-1-window span join
    "graph_triangles",     # degree-ordered orientation: the O(m^1.5) graph query
    "inverted_index",      # postings build + df window: widest (gram, doc) shuffle
    "semantic_dedup",      # k-means + cluster-scoped int-exact pair join
    "content_defined_chunking",  # rolling-hash variable chunks
    "k_core_peel",         # iterative vertex deletion: data-dependent rounds
    "quantile_sketch_values",  # DDSketch build + bounded-window read
    "ann_topk_buckets",    # parity-bucket multiprobe + exact rerank
    "warc_ingest",         # WARC record parse: container-ingest mapInPandas
    "image_dhash",         # BMP decode + perceptual fingerprint
    "unigram_lm_tokenize", # substring counts + per-word Viterbi DP
    "blocklist_match_counts",  # Aho-Corasick corpus scan
    "lang_id_nb",          # char-bigram NB train + broadcast-model score
    "kn_lm_score",         # Kneser-Ney: bigram table + type counts + join
    "dedup_edit_distance", # Pass-Join part/window join + levenshtein verify
    "perplexity_buckets",  # CCNet terciles: KN doc-NLL + histogram rank map
    "repetition_scrub",    # indexed higher-order array filters, no shuffle
    "knn_graph_mutual",    # bucket self-join + reversed-key mutual join
    "dsir_importance_weights",  # hashed-bigram stats broadcast onto instances
]


def _wall(run) -> float:
    """Seconds to build and collect the DataFrame ``run()`` returns."""
    t0 = time.perf_counter()
    run().collect()
    return round(time.perf_counter() - t0, 3)


def _time_queries(spark, sf_dir: str) -> dict[str, float]:
    """Median of 3 warm runs per query: one untimed cold run absorbs
    codegen and parquet-footer warmup, and the median sheds a single
    external-load spike in either direction (min would hide a real
    regression that hits 2 of 3 runs; median doesn't)."""
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        q = REGISTRY[name]
        q.fn(spark, sf_dir).collect()  # warmup: codegen + parquet footers
        runs = [_wall(lambda: q.fn(spark, sf_dir)) for _ in range(3)]
        timings[name] = sorted(runs)[1]
        # Drop Python refs to the per-run DataFrames so the ContextCleaner
        # can free their localCheckpoint blocks (the session's periodic GC
        # does the JVM side). An explicit System.gc() here was tried and
        # REJECTED: the forced full GC inflated every subsequent query
        # 10-45% (re-JIT after code-cache flushing), costing more than the
        # reclaimed blocks bought.
        gc.collect()
    return timings


# ---------------------------------------------------------------------------
# Scaling tiers
# ---------------------------------------------------------------------------
#
# A replica corpus clones every row of a source table `factor` times and maps
# its key columns to key * factor + rep (rep in 0..factor-1), so the replicas
# are disjoint copies of the source: per-replica structure (duplicate density,
# degree profile, wedges, peel layers) is identical and total work grows
# exactly factor-x. Measured growth past the query's bound is a scaling
# regression of the implementation, not of the data.

SCALE_ROOT = "/tmp/mapreduce__spark_scale"


def _tagged_documents(factor: int) -> list:
    """Every token suffixed with its replica's two-letter tag (aa, ab, ...):
    within a replica pairwise Jaccard equals the source's (the token
    bijection preserves gram equality), across replicas gram sets are
    disjoint (no synthetic near-dup cliques), and the quality gate sees the
    same per-doc token count. Base-26 letters stay inside [a-z] for any
    factor <= 676, where a single chr(97 + rep) would walk into punctuation
    that a \\w tokenizer drops, collapsing replicas together."""
    tag = F.concat(
        F.chr(F.lit(97) + (F.col("rep") / 26).cast("int")),
        F.chr(F.lit(97) + F.col("rep") % 26),
    )
    text = F.array_join(
        F.transform(F.split(F.col("text"), " "), lambda t: F.concat(t, F.lit("_"), tag)),
        " ",
    )
    return [text.alias("text"), "lang", "source",
            F.length(text).cast("bigint").alias("n_chars")]


def _shifted_embeddings(factor: int) -> list:
    """Each replica shifted into a private region of the space: dims 0-3
    offset by 32 x the base-4 digits of rep, two orders of magnitude beyond
    any intra-replica spread, with every int64/DECIMAL(38) quadratic form
    downstream still in range. The deterministic k-means seeds (the
    k * factor smallest vec_ids) then land exactly k per replica and Lloyd
    iterations cannot migrate centroids across regions, so with k scaled
    alongside, every replica reproduces the source clustering."""
    if factor > 256:
        raise ValueError("replica shift encoding supports factor <= 256")
    digits = [
        ((F.col("rep") / 4 ** i).cast("int") % 4).cast("double") * 32.0
        for i in range(4)
    ]

    def shift(x, i):
        off = F.when(i == 0, digits[0])
        for d in range(1, 4):
            off = off.when(i == d, digits[d])
        return (x.cast("double") + off.otherwise(F.lit(0.0))).cast("float")

    return [F.transform(F.col("embedding"), shift).alias("embedding"), "label"]


# corpus -> {table: (key columns, None or a function of factor that returns
# the other columns)}; only the columns the scaled queries read are written.
CORPORA = {
    "docs": {"documents": (("doc_id",), _tagged_documents)},
    "li": {"lineitem": (("l_orderkey", "l_partkey"), None)},
    "emb": {"embeddings": (("vec_id",), _shifted_embeddings)},
    "trade": {
        "orders": (("o_orderkey", "o_custkey"), None),
        "lineitem": (("l_orderkey", "l_suppkey"), None),
    },
}


def _replica_dir(spark, sf_dir: str, factor: int, corpus: str) -> str:
    """Synthesize (once, cached under SCALE_ROOT) the factor-x replica of
    ``corpus``'s tables from sf_dir; returns the directory holding them.
    The cache key carries the resolved source path, so two corpora both
    named sf0.1 do not share state. A table is fresh only with its
    _SUCCESS marker and an mtime no older than its source: a synthesis job
    killed mid-write leaves a fresh directory with no committed data."""
    real = os.path.realpath(sf_dir)
    tag = hashlib.sha256(real.encode()).hexdigest()[:12]
    out_dir = f"{SCALE_ROOT}/{os.path.basename(real)}x{factor}-{corpus}-{tag}"
    reps = spark.range(factor).withColumnRenamed("id", "rep")
    for table, (keys, more) in CORPORA[corpus].items():
        src, dst = f"{sf_dir}/{table}.parquet", f"{out_dir}/{table}.parquet"
        if (
            os.path.exists(os.path.join(dst, "_SUCCESS"))
            and os.path.getmtime(dst) >= os.path.getmtime(src)
        ):
            continue
        cols = [(F.col(k) * factor + F.col("rep")).alias(k) for k in keys]
        (
            spark.read.parquet(src)
            .crossJoin(reps)
            .select(*cols, *(more(factor) if more else ()))
            .repartition(32)
            .write.mode("overwrite")
            .parquet(dst)
        )
    return out_dir


def _semantic_dedup_k_scaled(spark, d: str, factor: int):
    """semantic_dedup with k = SEMDEDUP_K * factor: cluster sizes stay
    constant and the n^2/k pair space grows factor-x, which is the design
    the tier measures (a fixed k would measure an n^2/16 quadratic)."""
    return semantic_dedup_df(spark, d, SEMDEDUP_K * factor)


# One row per scaled query. "bench" rows clone the bench corpus and read
# x10/x100 against the bench median ("base"), plus the sf0.01 sibling
# ("below") when the bench sf is above it; "below" rows clone the sf0.01
# sibling and read x10b/x100b against one run there. Growth past
# factor ** bound is a regression: linear, except the m^1.5 wedge bound for
# triangles. training_data_pipeline stays x10-only: it is pipeline_full
# minus two stages, whose x100 point covers it.
SCALING_TIERS = [
    # query, runner (None: the registry query), corpus, anchor, factors, bound
    ("dedup_lsh_minhash", None, "docs", "bench", (10, 100), 1),
    ("training_data_pipeline", None, "docs", "bench", (10,), 1),
    ("training_data_pipeline_full", None, "docs", "bench", (10, 100), 1),
    ("boilerplate_removal", None, "docs", "bench", (10, 100), 1),
    ("dedup_containment_chunks", None, "docs", "bench", (10,), 1),
    ("content_defined_chunking", None, "docs", "bench", (10,), 1),
    ("graph_triangles", None, "li", "below", (10, 100), 1.5),
    ("semantic_dedup", _semantic_dedup_k_scaled, "emb", "below", (10, 100), 1),
    ("k_core_peel", None, "trade", "below", (10,), 1),
    ("embedding_pq_codes", None, "emb", "below", (10,), 1),
]


def _run_scaling(spark, sf_dir: str, sf: float, timings: dict[str, float]) -> dict:
    """One timed run per tier (the session is code-warm from the headline
    loop; these are multi-second ratios, not sub-second medians). A tier
    faster than the one before it stamps ``non_monotone``: fixed overheads
    still dominate at that absolute scale."""
    below = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
    out: dict[str, dict] = {}
    for name, runner, corpus, anchor, factors, bound in SCALING_TIERS:
        run = runner or (lambda spark, d, factor, q=REGISTRY[name]: q.fn(spark, d))
        row: dict = {"base": timings.get(name)}
        if runner is not None:
            row["k_scaled"] = True
        if anchor == "below":
            if not os.path.isdir(below):
                continue
            src, suffix = below, "b"
            row["below"] = ref = _wall(lambda: run(spark, below, 1))
        else:
            src, suffix, ref = sf_dir, "", row["base"]
            if sf > 0.01 and os.path.isdir(below):
                row["below"] = _wall(lambda: run(spark, below, 1))
                if row["below"] > 0:
                    row["g_below"] = round(ref / row["below"], 2)
        prev = ref
        for factor in factors:
            d = _replica_dir(spark, src, factor, corpus)
            t = row[f"x{factor}{suffix}"] = _wall(lambda: run(spark, d, factor))
            if ref > 0:
                g = row[f"g{factor}"] = round(t / ref, 2)
                if g > factor ** bound:
                    print(
                        f"SCALING REGRESSION: {name} grew {g}x on {factor}x "
                        f"data — beyond its {factor}^{bound} bound, investigate",
                        file=sys.stderr,
                    )
            if t < prev:
                row["non_monotone"] = True
            prev = t
        out[name] = row
        gc.collect()
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="mapreduce__spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup: touch the biggest table so JVM startup/codegen caches are
    # excluded from per-query numbers.
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    timings = _time_queries(spark, sf_dir)
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "methodology": "median-of-3 warm, 1 cold discarded, shared session",
    }

    # Durable-staging delta: one warm run of the flagship with its three
    # corpus-proportional materializations staged to parquet instead of
    # executor memory — what the 100 TB shape costs at this sf (write +
    # readback I/O vs block-manager reads).
    stage_dir = tempfile.mkdtemp(prefix="mapreduce__spark_staging_")
    try:
        staged_sec = _wall(lambda: REGISTRY["training_data_pipeline_full"].fn(
            spark, sf_dir, staging_dir=stage_dir))
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
    mem_sec = timings["training_data_pipeline_full"]
    out["staging"] = {
        "pipeline_full_staged": staged_sec,
        "vs_memory": round(staged_sec / mem_sec, 2) if mem_sec else None,
    }
    gc.collect()

    if os.environ.get("SPARK_GRAFT_SKIP_SCALING") != "1":
        out["scaling"] = _run_scaling(spark, sf_dir, sf, timings)
        out["scaling_note"] = (
            "x10/x100 = 10x/100x key-disjoint replica corpora; 1 warm run per "
            "tier; graph/embedding tiers anchor at sf0.01 (x10b/x100b of "
            "below), semdedup k scales with the corpus"
        )
        print("BENCH FULL RECORD: " + json.dumps(out), file=sys.stderr)

    # The complete record lands in the repo at the record scale only: the
    # pytest contract test runs this script at sf0.001 and must not clobber
    # the committed sf0.1 record.
    if sf >= 0.1:
        path = os.path.join(os.path.dirname(__file__) or ".", "docs",
                            "BENCH_FULL_latest.json")
        with open(path, "w") as fh:
            json.dump(out, fh, indent=1)
            fh.write("\n")
    # stdout is ONE JSON line that readers parse from its last 2000 chars;
    # the scaling block would outgrow that window.
    out.pop("scaling", None)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
