"""The driver's CORRECTNESS harness checks only the FIRST 50 registry
entries (VERDICT.md round 1), so registry ordering is part of the
verification contract. These tests pin it.

The window is derived by ``registry.driver_window`` from the checked-in
CORRECTNESS_r*.json records. The tests below recompute green counts
through ``green_rows()`` and assert the written policy against the
derived window, then feed ``driver_window`` hand-made rows to pin each
rule of the ranking on its own.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from mapreduce__spark.plans import (
    REGISTRY,
    driver_window,
    get_oracle_sql,
    get_queries,
    green_rows,
    registry,
)
from mapreduce__spark.plans.registry import SATURATED_AT, WINDOW_SIZE

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

ORACLE = [n for n, q in REGISTRY.items() if q.oracle is not None]


def _tally(rows: list[tuple[str, int]]) -> tuple[dict[str, int], dict[str, int]]:
    """Green-row count and last green round per query."""
    count: dict[str, int] = {}
    last: dict[str, int] = {}
    for name, rnd in rows:
        count[name] = count.get(name, 0) + 1
        last[name] = max(rnd, last.get(name, 0))
    return count, last


def _pending(name: str, last: dict[str, int]) -> bool:
    """In CHANGED_SINCE with no green row since its code changed."""
    changed = registry.CHANGED_SINCE
    return name in changed and last.get(name, 0) <= changed[name]


def _window() -> list[str]:
    return driver_window(green_rows())


def test_window_is_first_50():
    window = _window()
    assert len(window) == 50
    assert list(get_queries())[:50] == window


def test_window_has_no_duplicates_and_all_registered():
    window = _window()
    assert len(set(window)) == len(window)
    assert set(window) <= set(REGISTRY)


def test_every_window_entry_has_oracle():
    """No ambiguous rows-only entries inside the driver-checked prefix —
    every checked query gets the full rows+schema+hash comparison."""
    oracles = get_oracle_sql()
    missing = [n for n in _window() if n not in oracles]
    assert not missing, f"window entries without oracle SQL: {missing}"


def test_never_attested_queries_inside_window():
    """Converting pytest-only claims into the external driver signal is
    the whole point of rotation: any oracle-bearing query with ZERO green
    driver rows so far must be in the upcoming window."""
    count, _ = _tally(green_rows())
    never = {n for n in ORACLE if count.get(n, 0) == 0}
    missing = never - set(_window())
    assert not missing, f"never-attested queries outside driver window: {missing}"


def test_window_prioritizes_low_attestation():
    """Every query with at most ONE green driver row is in the window;
    queries whose code changed since their last green row re-enter via
    CHANGED_SINCE; every double-attestation query is in the window unless
    the window is already full of better-ranked queries; any remaining
    slots hold fillers — exactly-3-attested queries earning a fourth
    row. No other >=3-attested query may hold a slot."""
    count, last = _tally(green_rows())
    window = set(_window())
    fillers = {n for n in window if count.get(n, 0) == 3 and not _pending(n, last)}
    over = {
        n: count.get(n, 0)
        for n in window
        if count.get(n, 0) > 2 and not _pending(n, last) and n not in fillers
    }
    assert not over, f">=3-attested queries occupying window slots: {over}"
    for n in fillers:
        assert REGISTRY[n].oracle is not None
    pending = {n for n in ORACLE if _pending(n, last)}
    unplaced_changed = pending - window
    assert not unplaced_changed, (
        f"changed-code queries outside the window: {unplaced_changed}"
    )
    low = {n for n in ORACLE if count.get(n, 0) <= 1}
    unplaced_low = low - window
    assert not unplaced_low, (
        f"0/1-attestation queries outside the window: {unplaced_low}"
    )
    doubles = {n for n in ORACLE if count.get(n, 0) == 2 and not _pending(n, last)}
    unplaced = doubles - window
    assert not (unplaced and fillers), (
        f"double-attestation queries {unplaced} lost slots to fillers {fillers}"
    )


def test_rotated_out_queries_stay_oracle_gated():
    """Rotated-out queries rest on their prior green CORRECTNESS rows plus
    the full-registry parametrization in tests/test_oracle.py, which runs
    EVERY oracle-carrying entry (window or not) against DuckDB each pytest
    run. So no rotated-out query may lose its oracle — that would silently
    downgrade it to a rows-only check. Exempt: the declared ROWS_ONLY set."""
    for name in set(REGISTRY) - set(_window()):
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
    oracles = get_oracle_sql()
    q_names = [n for n in get_queries() if n in oracles]
    assert list(oracles) == q_names


def test_saturated_queries_are_retired():
    """A query with >= SATURATED_AT green driver rows has retired from
    rotation — it holds a window slot only while its code changed since
    its last green row (CHANGED_SINCE). This keeps the growing registry
    cycling fresh code through driver attestation instead of
    re-attesting saturated queries."""
    count, last = _tally(green_rows())
    saturated_in_window = {
        n: count[n]
        for n in _window()
        if count.get(n, 0) >= SATURATED_AT and not _pending(n, last)
    }
    assert not saturated_in_window, (
        f"retired (>= {SATURATED_AT} green rows) queries holding window "
        f"slots: {saturated_in_window}"
    )


def test_fillers_are_least_recently_attested():
    """Filler policy: among exactly-3-attested queries, slots go to the
    LEAST recently attested first — every chosen filler's most-recent
    green round is <= every unchosen exactly-3 query's."""
    count, last = _tally(green_rows())
    window = set(_window())
    pool = {n for n in ORACLE if count.get(n, 0) == 3 and not _pending(n, last)}
    fillers = pool & window
    unchosen = pool - window
    if not fillers or not unchosen:
        return
    newest_chosen = max(last[n] for n in fillers)
    oldest_unchosen = min(last[n] for n in unchosen)
    assert newest_chosen <= oldest_unchosen, (
        f"filler set skips a less-recently-attested query: newest chosen "
        f"last-green r{newest_chosen} > oldest unchosen r{oldest_unchosen}"
    )


def test_changed_since_names_registered_oracle_queries():
    """Every CHANGED_SINCE entry names a registered, oracle-bearing query
    and a round no newer than the newest record."""
    newest = max(rnd for _, rnd in green_rows())
    for name, rnd in registry.CHANGED_SINCE.items():
        assert name in REGISTRY and REGISTRY[name].oracle is not None, name
        assert rnd <= newest, f"{name}: round {rnd} is newer than r{newest}"


def test_green_rows_needs_every_match_and_no_error(tmp_path, monkeypatch):
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    records = {
        "CORRECTNESS_r01.json": {
            "a": ok,
            "b": {**ok, "hash_match": False},
            "c": {**ok, "err": "timeout"},
            "d": {k: v for k, v in ok.items() if k != "schema_match"},
        },
        "CORRECTNESS_r02.json": {"a": ok, "b": ok},
    }
    for fname, data in records.items():
        (tmp_path / fname).write_text(json.dumps(data))
    monkeypatch.setattr(registry, "ROOT", str(tmp_path))
    assert sorted(green_rows()) == [("a", 1), ("a", 2), ("b", 2)]
    assert green_rows(max_round=1) == [("a", 1)]


def _rows(greens: dict[str, list[int]]) -> list[tuple[str, int]]:
    """Hand-made green rows: each named query gets exactly the given
    rounds, every other oracle-bearing query is saturated."""
    saturated = list(range(1, SATURATED_AT + 1))
    return [(n, rnd) for n in ORACLE for rnd in greens.get(n, saturated)]


def test_ranking_orders_tier_then_last_green_then_registration(monkeypatch):
    a, b, c, d, e, f, g = ORACLE[:7]
    monkeypatch.setattr(registry, "CHANGED_SINCE", {b: 9})
    rows = _rows(
        {
            g: [],  # no green row
            b: [1, 2, 3, 4, 5],  # saturated, but changed since round 9
            f: [7],
            e: [2, 8],
            c: [1, 2, 9],
            d: [1, 2, 5],  # attested before c: ranks first
            a: [1, 2, 5],  # ties with d: registered first
        }
    )
    assert driver_window(rows) == [g, b, f, e, a, d, c]


def test_changed_since_entry_drops_out_after_a_later_green_row(monkeypatch):
    a, b = ORACLE[:2]
    monkeypatch.setattr(registry, "CHANGED_SINCE", {a: 9})
    assert driver_window(_rows({a: [1, 2, 3, 4], b: [3]})) == [a, b]
    assert driver_window(_rows({a: [1, 2, 3, 4, 10], b: [3]})) == [b]
    assert driver_window(_rows({a: [2, 10], b: [3]})) == [b, a]


def test_saturated_queries_are_not_eligible(monkeypatch):
    monkeypatch.setattr(registry, "CHANGED_SINCE", {})
    assert driver_window(_rows({})) == []
    a = ORACLE[0]
    assert driver_window(_rows({a: [1, 2, 3]})) == [a]


def test_window_cuts_at_50_in_registration_order(monkeypatch):
    monkeypatch.setattr(registry, "CHANGED_SINCE", {})
    fresh = ORACLE[-60:]
    assert WINDOW_SIZE == 50
    assert driver_window(_rows({n: [] for n in fresh})) == fresh[:50]
    assert driver_window([]) == ORACLE[:50]


def test_plans_import_opens_no_correctness_record():
    """Module import touches no filesystem: the window's records are read
    when ordered_names() runs, not when the package is imported. The
    second list shows the audit hook does see the read."""
    code = (
        "import sys\n"
        "opened = []\n"
        "sys.addaudithook(lambda ev, args: ev == 'open' and opened.append(str(args[0])))\n"
        "import mapreduce__spark.plans as p\n"
        "print(sum('CORRECTNESS_r' in f for f in opened))\n"
        "p.ordered_names()\n"
        "print(sum('CORRECTNESS_r' in f for f in opened))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, check=True
    )
    at_import, after_call = out.stdout.split()[-2:]
    assert at_import == "0"
    assert int(after_call) > 0
