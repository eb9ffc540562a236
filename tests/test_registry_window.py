"""The driver's CORRECTNESS harness checks only the FIRST 50 registry
entries (VERDICT.md round 1), so registry ordering is part of the
verification contract. These tests pin it.

Round-5 change (round-4 ADVICE: rotation comments drifted from the code
three times): the rotation policy is now ASSERTED FROM DATA. Green
attestation counts are recomputed from the checked-in
CORRECTNESS_r0*.json files, so the window either satisfies the written
policy or the suite fails — prose can no longer silently disagree.
"""

from __future__ import annotations

import glob
import json
import os

from mapreduce__spark.plans import DRIVER_WINDOW, REGISTRY, get_oracle_sql, get_queries

ROOT = os.path.join(os.path.dirname(__file__), "..")

# Queries that are intentionally approximate (recall/tolerance-gated in
# pytest, no exact SQL oracle possible). They must stay OUT of the driver
# window so the report has no ambiguous rows, and they are exempt from the
# every-entry-keeps-an-oracle rule.
ROWS_ONLY = {
    "approx_count_distinct",
    "distinct_users_hll_mergeable",
    "heavy_hitters_approx",
    "dedup_simhash",
    "ann_topk_lsh",
    "ann_topk_ivf",
    "bpe_encode",
    "quantile_sketch_values",
}

# Round-14 rotation: the 10 round-13 singles take their second row, the
# 10 doubles (the round-12 additions) take their third, and 30 exactly-3
# fillers round out the 50, displaced one-by-one as round-14 additions
# land. DEFERRED_DOUBLES stays empty.
DEFERRED_DOUBLES: set[str] = set()

# Queries whose CODE changed this round AFTER already earning >=3 green
# driver rows — their prior attestations describe the old code, so they
# re-enter the window even though the low-attestation rule alone would
# exclude them. Round 14: empty so far — the one planned perf touch
# (graph_mass_propagation, round-13 VERDICT item 2) is an exactly-3
# filler already holding a window slot by right.
CHANGED_CODE_REATTEST: set[str] = {
    # propagate_mass was restructured in round 14 (one-checkpoint
    # window-degree form), so graph_mass_propagation's three green rows
    # describe the OLD plan: it holds its seat via the changed-code
    # exemption — the policy's named mechanism — rather than as a
    # filler, so the least-recently-attested filler invariant keeps
    # binding as round-14 additions pop into the r4 filler group.
    "graph_mass_propagation",
    # graph_triangles (NumPy driver path) and embedding_pq_codes /
    # ann_topk_pq_adc (one pq_fit for every codebook) changed after
    # 4 / 3 / 3 green rows; each displaced one filler below
    "graph_triangles",
    "embedding_pq_codes",
    "ann_topk_pq_adc",
    # propagate_mass gained a NumPy driver path and pq_fit's final
    # encoding moved to the driver under its bound, after 3 / 4 green
    # rows (graph_mass_propagation_k4; semantic_dedup, a kmeans_assign
    # caller); each displaced one filler below
    "graph_mass_propagation_k4",
    "semantic_dedup",
}

# Saturation retirement (round-10 VERDICT item 8): a query holding
# SATURATED_AT green driver rows retires from rotation eligibility — it
# may re-enter the window only via CHANGED_CODE_REATTEST. With the
# registry at 177 queries and climbing, re-attesting 4-green queries
# would starve fresh code of driver rows.
SATURATED_AT = 4

# Exactly-3-attested fillers holding the spare slots until round-14
# additions displace them. Selection policy (round-11): the 30
# LEAST-RECENTLY-ATTESTED exactly-3 queries — oldest most-recent green
# round first, registration order as tie-break; displacement pops the
# NEWEST-last-green filler first (reverse registration order on ties),
# which preserves the least-recent invariant
# test_fillers_are_least_recently_attested asserts. The r14 fillers'
# last green rows date from rounds 3-6: the four r3-last-green and
# fourteen r4-last-green queries that funded round-13's ten additions,
# plus the twelve oldest-registered r6-last-green ones (the r6 group
# ties at round 6, so registration order picks join_skew_salted ..
# vocab_encode and displacement pops vocab_encode first).
TRIPLE_FILLERS: set[str] = {
    "scalar_functions",
    "word_count",
    "dedup_exact",
    "dedup_jaccard_exact",
    "kernel_search_count",
    "sequence_packing",
    "training_data_pipeline",
}


# The round whose CORRECTNESS files informed the CURRENT window. The
# policy tests must count only rounds <= this: the driver appends
# CORRECTNESS_r{N+1}.json for the window itself at round end, which
# gives every in-window entry one MORE green row — counting that file
# would flip test_window_prioritizes_low_attestation red before the
# next rotation happens. Bump this when rotating the window.
WINDOW_BASIS_ROUND = 13


def _attestations() -> dict[str, int]:
    """Green driver-attestation count per query across the committed
    CORRECTNESS_r0*.json files up to WINDOW_BASIS_ROUND (a row counts
    only if rows+schema+hash all matched with no error)."""
    counts: dict[str, int] = {}
    for name, rnd in _green_rows():
        counts[name] = counts.get(name, 0) + 1
    return counts


def _green_rows() -> list[tuple[str, int]]:
    """(query, round) for every green driver row up to
    WINDOW_BASIS_ROUND."""
    rows: list[tuple[str, int]] = []
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        digits = "".join(ch for ch in os.path.basename(path) if ch.isdigit())
        rnd = int(digits)
        if rnd > WINDOW_BASIS_ROUND:
            continue
        with open(path) as f:
            data = json.load(f)
        for name, row in data.items():
            ok = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
                and not row.get("err")
            )
            if ok:
                rows.append((name, rnd))
    return rows


def test_window_is_first_50():
    names = list(get_queries())
    assert len(DRIVER_WINDOW) == 50
    assert names[:50] == list(DRIVER_WINDOW)


def test_window_has_no_duplicates_and_all_registered():
    assert len(set(DRIVER_WINDOW)) == len(DRIVER_WINDOW)
    assert set(DRIVER_WINDOW) <= set(REGISTRY)


def test_every_window_entry_has_oracle():
    """No ambiguous rows-only entries inside the driver-checked prefix —
    every checked query gets the full rows+schema+hash comparison."""
    oracles = get_oracle_sql()
    missing = [n for n in DRIVER_WINDOW if n not in oracles]
    assert not missing, f"window entries without oracle SQL: {missing}"


def test_never_attested_queries_inside_window():
    """Converting pytest-only claims into the external driver signal is
    the whole point of rotation: any oracle-bearing query with ZERO green
    driver rows so far must be in the upcoming window."""
    counts = _attestations()
    never = {
        n
        for n in REGISTRY
        if REGISTRY[n].oracle is not None and counts.get(n, 0) == 0
    }
    missing = never - set(DRIVER_WINDOW)
    assert not missing, f"never-attested queries outside driver window: {missing}"


def test_window_prioritizes_low_attestation():
    """Round-8 policy: every query with at most ONE green driver row is
    in the window; queries whose code changed after >=3 green rows
    re-enter via the explicit CHANGED_CODE_REATTEST set; every
    double-attestation query is either in-window or explicitly deferred
    (DEFERRED_DOUBLES — never silently dropped); any remaining slots
    hold TRIPLE_FILLERS — exactly-3-attested bench-headline queries
    earning a fourth row. No other >=3-attested query may hold a
    slot."""
    counts = _attestations()
    over = {
        n: counts.get(n, 0)
        for n in DRIVER_WINDOW
        if counts.get(n, 0) > 2
        and n not in CHANGED_CODE_REATTEST
        and n not in TRIPLE_FILLERS
    }
    assert not over, f">=3-attested queries occupying window slots: {over}"
    # the fillers must be real: in-window, oracle-bearing, exactly 3
    # green rows (a <=2-attested query gets a slot by right, not filler
    # bookkeeping; a >=4-attested query has no business in the window)
    assert TRIPLE_FILLERS <= set(DRIVER_WINDOW)
    for n in TRIPLE_FILLERS:
        assert REGISTRY[n].oracle is not None
        assert counts.get(n, 0) == 3, f"{n} is not an exactly-3 filler"
    # the re-attestation list must itself be in the window and earn its
    # exemption: each entry really does hold >=3 prior green rows (a
    # 0/1/2-attestation query never needs the exemption to get a slot)
    assert CHANGED_CODE_REATTEST <= set(DRIVER_WINDOW)
    for n in CHANGED_CODE_REATTEST:
        assert counts.get(n, 0) >= 3, f"{n} does not need the re-attest exemption"
    low = {
        n
        for n in REGISTRY
        if REGISTRY[n].oracle is not None and counts.get(n, 0) <= 1
    }
    unplaced_low = low - set(DRIVER_WINDOW)
    assert not unplaced_low, (
        f"0/1-attestation queries outside the window: {unplaced_low}"
    )
    doubles = {
        n
        for n in REGISTRY
        if REGISTRY[n].oracle is not None and counts.get(n, 0) == 2
    }
    unplaced = doubles - set(DRIVER_WINDOW) - DEFERRED_DOUBLES
    assert not unplaced, (
        f"double-attestation queries neither in-window nor deferred: {unplaced}"
    )
    # the deferral list must not rot: anything in it must actually be a
    # double-attestation, still-registered, oracle-bearing query
    for n in DEFERRED_DOUBLES:
        assert n in REGISTRY and REGISTRY[n].oracle is not None
        assert counts.get(n, 0) == 2, f"{n} no longer needs deferral bookkeeping"


def test_rotated_out_queries_stay_oracle_gated():
    """Rotated-out queries rest on their prior green CORRECTNESS rows plus
    the full-registry parametrization in tests/test_oracle.py, which runs
    EVERY oracle-carrying entry (window or not) against DuckDB each pytest
    run. So no rotated-out query may lose its oracle — that would silently
    downgrade it to a rows-only check. Exempt: the declared ROWS_ONLY set."""
    for name in set(REGISTRY) - set(DRIVER_WINDOW):
        if name in ROWS_ONLY:
            assert REGISTRY[name].oracle is None, (
                f"{name} declared rows-only but carries an oracle — move it "
                "out of ROWS_ONLY so the window tests see it"
            )
            continue
        assert REGISTRY[name].oracle is not None, (
            f"rotated-out query {name} lost its oracle — test_oracle.py "
            "would silently downgrade it to a rows-only check"
        )


def test_oracle_order_matches_query_order():
    """oracle_sql() iteration order must follow queries() order so the
    driver's 50-entry cut lands on the same prefix for both."""
    q_names = [n for n in get_queries() if n in get_oracle_sql()]
    assert list(get_oracle_sql()) == q_names


def test_saturated_queries_are_retired():
    """Round-10 VERDICT item 8: a query with >= SATURATED_AT green driver
    rows has retired from rotation — it holds a window slot only via the
    explicit CHANGED_CODE_REATTEST exemption. This keeps the growing
    registry cycling fresh code through driver attestation instead of
    re-attesting saturated queries."""
    counts = _attestations()
    saturated_in_window = {
        n: counts[n]
        for n in DRIVER_WINDOW
        if counts.get(n, 0) >= SATURATED_AT and n not in CHANGED_CODE_REATTEST
    }
    assert not saturated_in_window, (
        f"retired (>= {SATURATED_AT} green rows) queries holding window "
        f"slots: {saturated_in_window}"
    )


def test_fillers_are_least_recently_attested():
    """Round-11 filler policy: among exactly-3-attested queries, slots go
    to the LEAST recently attested first — every chosen filler's
    most-recent green round is <= every unchosen exactly-3 query's.
    Displacing fillers newest-last-green-first as new queries land
    preserves this invariant, so the assert holds mid-round too."""
    counts = _attestations()
    last: dict[str, int] = {}
    for name, rnd in _green_rows():
        last[name] = max(rnd, last.get(name, 0))
    pool = {
        n
        for n in REGISTRY
        if REGISTRY[n].oracle is not None and counts.get(n, 0) == 3
    }
    unchosen = pool - TRIPLE_FILLERS
    if not TRIPLE_FILLERS or not unchosen:
        return
    newest_chosen = max(last[n] for n in TRIPLE_FILLERS)
    oldest_unchosen = min(last[n] for n in unchosen)
    assert newest_chosen <= oldest_unchosen, (
        f"filler set skips a less-recently-attested query: newest chosen "
        f"last-green r{newest_chosen} > oldest unchosen r{oldest_unchosen}"
    )
