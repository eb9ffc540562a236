"""Named-query registry.

Every engine operator from SURVEY.md §2b is declared here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus, when the semantics are
SQL-expressible, an equivalent ANSI-ish SQL string the DuckDB oracle runs
on the same parquet files. ``__spark_entry__.queries()`` / ``oracle_sql()``
are thin views over this registry.

Contract notes (driver compare):
* the driver sorts columns by NAME before value-hashing — so every
  computed column is aliased identically in the DataFrame code and the SQL;
* the hash is order-insensitive over rows — ORDER BY is kept in both
  sides only where ordering is part of the operator's semantics;
* float columns are rounded in BOTH sides (same digits) so summation-order
  drift between Spark and DuckDB cannot flip the hash;
* round(double, d) itself is a dialect boundary: at exact decimal ties the
  engines disagree (Spark 4 rounds the shortest decimal representation —
  round(1.005, 2) = 1.01 — while DuckDB multiplies-then-rounds to 1.0).
  The fixtures' money/value columns are exactly 2-decimal, so every
  round(x, 2) of a raw column is tie-free by construction; queries that
  round DERIVED values round either at the value's true decimal precision
  (where rounding is a no-op both engines agree on — the decimal-sum
  idiom) or at 4-6 digits of quantities whose low bits were already made
  bit-identical. New queries must preserve one of those three shapes.
* ROUNDING BIT-IDENTICAL DOUBLES IS NOT ALWAYS SAFE (the round-7
  events_ewma lesson): when the exact value's shortest decimal lands ON
  a half-tie at the rounded digit (S/2^(m-1) = 0.0009375 at 6 digits,
  20001/20000 = 1.00005 at 4), Spark HALF_UPs the shortest-decimal
  string while DuckDB/Python round the binary value — same input bits,
  different output. Corollary: a value that is already a single
  correctly-rounded op over exact integers (int/int division, an
  IEEE-exact sqrt chain) must be emitted RAW — it is bit-identical by
  construction and rounding can only break it. round() is for values
  whose low bits genuinely differ across engines (libm outputs,
  order-varying float sums), never for exact-arithmetic results.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator registering an engine query."""

    def wrap(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return wrap


# The driver's CORRECTNESS harness checks the FIRST 50 registry entries, so
# ordering is part of the verification contract. Rotation policy (round-3
# VERDICT item 1, extended round 5): first make EVERY oracle-bearing query
# hold a green driver CORRECTNESS row in SOME round (achieved by r4 — the
# r1∪r2∪r3∪r4 union covers all 107), then rotate so single-attestation
# queries accumulate a SECOND driver round. Every window entry has a DuckDB
# oracle (full rows+schema+hash check); queries outside the window stay
# bit-exact-gated by the repo's own pytest oracle harness
# (tests/test_oracle.py, all SQL-expressible queries differentially at
# sf0.001 every run), and
# tests/test_registry_window.py::test_rotated_out_core_stays_oracle_gated
# pins that rotated-out entries keep their oracles.
#
# Round-14 rotation, DERIVED FROM DATA like rounds 6-13 (the audit-trail
# test tests/test_registry_window.py::test_window_prioritizes_low_attestation
# recomputes green-attestation counts from the checked-in
# CORRECTNESS_r0*.json files and asserts the policy below, so this
# comment cannot silently disagree with the window):
#   IN  — every query with zero or one green driver row (the 10 round-13
#         additions earning their second row, plus this round's new
#         queries); ALL 10 double-attestation queries (the round-12
#         additions earning their third row — DEFERRED_DOUBLES stays
#         empty); and 30 exactly-3 fillers.
#   FILLER POLICY (round-10 VERDICT item 8): fillers are chosen
#         LEAST-RECENTLY-ATTESTED FIRST (oldest most-recent green round,
#         registration order as tie-break) — the r14 fillers' last rows
#         date from rounds 3-6: the four r3-last-green queries and
#         fourteen r4 ones that funded round-13's additions, plus the
#         twelve oldest-registered r6-last-green ones. Queries reaching
#         SATURATED_AT (4) green rows RETIRE from rotation eligibility:
#         they re-enter only via CHANGED_CODE_REATTEST, so driver
#         attestation keeps cycling fresh code instead of re-attesting
#         saturated queries (asserted by tests/test_registry_window.py::
#         test_saturated_queries_are_retired and
#         test_fillers_are_least_recently_attested).
#   OUT — everything else (>=3 green rows, attested more recently —
#         including the 27 round-11 additions, whose third rows landed
#         in r13), each still bit-exact-gated by tests/test_oracle.py on
#         every pytest run.
# The intentionally-approximate (rows-only) queries sit past the window so
# the driver report has no ambiguous "no oracle" rows (see README
# §correctness).
DRIVER_WINDOW: tuple[str, ...] = (
    # round-14 additions — never driver-attested (each displaced a filler)
    "perplexity_buckets",
    "repetition_scrub",
    "incremental_kn_stats",
    "ks_test_lengths",
    "doc_ngram_novelty",
    "jsd_source_divergence",
    "zipf_tail_index",
    "knn_graph_mutual",
    "dsir_importance_weights",
    "readability_fk",
    "session_window_agg",
    "keyness_llr",
    "temporal_split_events",
    "temperature_resample",
    "passage_chunk_overlap",
    "matryoshka_overlap",
    "lang_id_confusion",
    # round-13 additions (single-green), earning their second row
    "stream_mg_fold",
    "stream_countmin_fold",
    "stream_quantile_fold",
    "kn_lm_score",
    "dedup_edit_distance",
    "theil_sen_slope",
    "token_entropy",
    "gini_doc_length",
    "mutual_info_lang_source",
    "hapax_legomena",
    # round-12 additions (double-green), earning their third row
    "jpeg_pixel_decode_ac_refine",
    "lang_id_nb",
    "png_adam7_decode",
    "avro_ingest",
    "mann_whitney_u",
    "audio_adpcm_decode",
    "funnel_conversion",
    "ols_fit_per_source",
    "winnowing_fingerprints",
    "kendall_concordance",
    # 30 least-recently-attested exactly-3 fillers (last green rows from
    # rounds 3-6: the four r3-last-green + fourteen r4 queries that
    # funded round-13's additions, plus the twelve oldest-registered
    # r6-last-green ones), displaced newest-last-green-first (reverse
    # registration order on ties) as round-14 queries land
    "scalar_functions",
    "word_count",
    "dedup_exact",
    "dedup_jaccard_exact",
    "kernel_search_count",
    "sequence_packing",
    "training_data_pipeline",
    "graph_mass_propagation",
    # changed code re-attesting (CHANGED_CODE_REATTEST): graph_triangles
    # gained a NumPy driver path, and embedding_pq_codes /
    # ann_topk_pq_adc now fit every codebook in one pq_fit; each
    # displaced the newest-last-green filler (r4 group, reverse
    # registration order): embedding_correlation, ann_topk_bruteforce,
    # dedup_clusters. Then propagate_mass gained a NumPy driver path
    # (graph_mass_propagation_k4) and pq_fit encodes on the driver
    # under its bound (semantic_dedup, a kmeans_assign caller); they
    # displaced dedup_embedding_cosine and pii_scrub, the same way
    "graph_triangles",
    "embedding_pq_codes",
    "ann_topk_pq_adc",
    "graph_mass_propagation_k4",
    "semantic_dedup",
    # (fillers displaced newest-last-green-first, r6 group in reverse
    # registration order: vocab_encode gave its slot to
    # perplexity_buckets, bpe_pair_counts to repetition_scrub,
    # train_test_split to incremental_kn_stats,
    # sequence_packing_chunked to ks_test_lengths,
    # tfidf_top_terms to doc_ngram_novelty,
    # udtf_token_positions to jsd_source_divergence, scd2_intervals
    # to zipf_tail_index, merge_upsert to knn_graph_mutual,
    # window_distribution to dsir_importance_weights,
    # join_bloom_pruned to readability_fk, join_skew_salted to
    # session_window_agg, rolling_user_features to keyness_llr, and
    # stateful_dedup_first_event to temporal_split_events, and
    # sessionization to temperature_resample, and
    # events_tumbling_window to passage_chunk_overlap, and
    # media_header_metadata to matryoshka_overlap, and
    # image_header_metadata to lang_id_confusion —
    # graph_mass_propagation is SKIPPED in the pop order: its plan was
    # restructured this round (one-checkpoint window-degree form), so
    # its three green rows describe the old code and it must hold a
    # seat for re-attestation; then the r4 group in reverse
    # registration order: embedding_correlation to graph_triangles,
    # ann_topk_bruteforce to embedding_pq_codes, dedup_clusters to
    # ann_topk_pq_adc, dedup_embedding_cosine to
    # graph_mass_propagation_k4, and pii_scrub to semantic_dedup)
)


def ordered_names() -> list[str]:
    """Registry names with the driver-checked window first (in DRIVER_WINDOW
    order), then all remaining queries in registration order."""
    missing = [n for n in DRIVER_WINDOW if n not in REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names not registered: {missing}")
    tail = [n for n in REGISTRY if n not in set(DRIVER_WINDOW)]
    return list(DRIVER_WINDOW) + tail


def get_queries() -> dict[str, QueryFn]:
    return {n: REGISTRY[n].fn for n in ordered_names()}


def get_oracle_sql() -> dict[str, str]:
    # binaryfile_ingest's oracle reads the staged fixture directory with
    # read_blob, and the driver may run oracles before (or without) the
    # matching Spark halves — so requesting the oracle surface stages the
    # fixture corpora. Late import: tier2_text imports this module at
    # load, but by call time it is fully initialized (first-use lazy
    # staging, round-9 verdict item 6 — module import touches no
    # filesystem).
    from mapreduce__spark.plans import tier2_text

    tier2_text.stage_fixture_corpora()
    return {
        n: REGISTRY[n].oracle for n in ordered_names() if REGISTRY[n].oracle is not None
    }
