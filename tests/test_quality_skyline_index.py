"""Round-8 operators: skyline_pareto (dominance semantics vs brute
force, duplicate-twin convention), data_quality_audit (planted
violations end-to-end through the real query), inverted_index (known
postings, df floor/cap boundaries)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mapreduce__spark.plans import REGISTRY


# ---------------------------------------------------------------- skyline


def _write_parts(spark, d, rows):
    spark.createDataFrame(
        rows, "p_partkey bigint, p_retailprice double, p_size int"
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    return d


def _skyline(spark, d):
    return {
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in REGISTRY["skyline_pareto"].fn(spark, d).collect()
    }


def brute_skyline(rows):
    out = set()
    for y in rows:
        dominated = any(
            x[1] <= y[1] and x[2] <= y[2] and (x[1] < y[1] or x[2] < y[2])
            for x in rows
        )
        if not dominated:
            out.add(tuple(y))
    return out


def test_skyline_planted_frontier(spark, tmp_path):
    # frontier: (1.0, 9), (5.0, 5), (9.0, 1); the rest dominated
    rows = [
        (1, 1.0, 9),
        (2, 5.0, 5),
        (3, 9.0, 1),
        (4, 6.0, 6),  # dominated by 2
        (5, 9.0, 9),  # dominated by everything on the frontier
        (6, 5.0, 6),  # dominated by 2 (equal price, larger size)
    ]
    d = _write_parts(spark, str(tmp_path), rows)
    assert _skyline(spark, d) == {(1, 1.0, 9), (2, 5.0, 5), (3, 9.0, 1)}


def test_skyline_equal_twins_both_survive(spark, tmp_path):
    """Equal (price, size) pairs do not dominate each other — the
    standard skyline convention; both twins stay on the frontier."""
    rows = [(1, 2.0, 3), (2, 2.0, 3), (3, 1.0, 9)]
    d = _write_parts(spark, str(tmp_path), rows)
    assert _skyline(spark, d) == {(1, 2.0, 3), (2, 2.0, 3), (3, 1.0, 9)}


def test_skyline_dominated_twins_both_drop(spark, tmp_path):
    rows = [(1, 5.0, 5), (2, 5.0, 5), (3, 1.0, 1)]
    d = _write_parts(spark, str(tmp_path), rows)
    assert _skyline(spark, d) == {(3, 1.0, 1)}


def test_skyline_single_row_is_its_own_frontier(spark, tmp_path):
    d = _write_parts(spark, str(tmp_path), [(7, 4.0, 4)])
    assert _skyline(spark, d) == {(7, 4.0, 4)}


@given(
    st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1,
        max_size=20,
    )
)
@settings(
    max_examples=8, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_skyline_matches_bruteforce(spark, tmp_path_factory, pairs):
    """Property: the two-phase (bucketed local frontier -> global
    re-filter) plan equals naive quadratic dominance on random grids —
    ties, twins, collinear runs and all."""
    rows = [(i, float(p), s) for i, (p, s) in enumerate(pairs)]
    d = _write_parts(
        spark, str(tmp_path_factory.mktemp("sky_prop")), rows
    )
    assert _skyline(spark, d) == brute_skyline(rows)


# ----------------------------------------------------------- quality audit


def _audit(spark, d):
    return {
        r.constraint_name: (r.n_checked, r.n_violations, r.passed)
        for r in REGISTRY["data_quality_audit"].fn(spark, d).collect()
    }


@pytest.fixture(scope="module")
def dirty_dir(spark, tmp_path_factory):
    """Orders with one planted violation per constraint (and one row
    violating two at once), customers covering only some keys."""
    d = str(tmp_path_factory.mktemp("dirty"))
    orders = [
        # okey, ckey, status, price, date, priority
        (1, 10, "O", 100.0, "2024-01-01", "1-URGENT"),  # clean
        (1, 10, "F", 100.0, "2024-01-02", "2-HIGH"),  # duplicate key
        (2, 10, "X", 100.0, "2024-01-03", "3-MEDIUM"),  # bad status
        (3, 10, "O", -5.0, "2024-01-04", "4-NOT SPECIFIED"),  # bad price
        (4, 10, "O", 100.0, None, "5-LOW"),  # null date
        (5, 10, "O", 100.0, "2024-01-05", "9-WAT"),  # bad priority
        (6, 99, "O", 100.0, "2024-01-06", "1-URGENT"),  # orphan custkey
        (7, 11, "P", 0.0, None, "bogus"),  # status+price+date+format
    ]
    spark.createDataFrame(
        [(a, b, c, d2, e, f) for a, b, c, d2, e, f in orders],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string",
    ).selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "CAST(o_orderdate AS timestamp) AS o_orderdate",
        "o_orderpriority",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(10, "a"), (11, "b")], "c_custkey bigint, c_name string"
    ).write.parquet(f"{d}/customer.parquet")
    return d


def test_audit_planted_violation_counts(spark, dirty_dir):
    got = _audit(spark, dirty_dir)
    assert got == {
        "uniqueness:o_orderkey": (8, 1, False),
        "completeness:o_orderdate": (8, 2, False),
        "range:o_totalprice>0": (8, 2, False),
        "domain:o_orderstatus in (O,F)": (8, 2, False),
        "format:o_orderpriority ~ ^[1-5]-": (8, 2, False),
        "ri:o_custkey in customer": (8, 1, False),
    }


def test_audit_fixture_catches_pending_status_only(spark, sf_small):
    """On the clean fixture every constraint passes EXCEPT the declared
    {'O','F'} status domain — the 'P' rows are the audit's real
    failing-branch exercise (sf0.001 carries 493 of them)."""
    got = _audit(spark, sf_small)
    assert len(got) == 6
    for name, (checked, violations, passed) in got.items():
        assert checked > 0
        assert passed is (violations == 0)
        if name == "domain:o_orderstatus in (O,F)":
            assert violations > 0 and passed is False
        else:
            assert violations == 0 and passed is True


def test_audit_empty_table_passes_everything(spark, tmp_path):
    """Zero rows violate nothing: the coalesced sums report 0 (not
    NULL) violations and all six constraints pass."""
    d = str(tmp_path)
    spark.createDataFrame(
        [],
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [], "c_custkey bigint, c_name string"
    ).write.parquet(f"{d}/customer.parquet")
    got = _audit(spark, d)
    assert len(got) == 6
    assert all(v == (0, 0, True) for v in got.values())


# ----------------------------------------------------------- inverted index


def _index(spark, d):
    return {
        (r.gram, r.doc_id): (r.df, r.n_occ, r.positions)
        for r in REGISTRY["inverted_index"].fn(spark, d).collect()
    }


def _write_docs(spark, d, texts):
    rows = [
        (i, t, "en", "src", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows,
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


def test_index_known_postings(spark, tmp_path):
    d = _write_docs(
        spark,
        str(tmp_path),
        ["a b a b c", "a b x", "q q"],
    )
    got = _index(spark, d)
    # only "a b" reaches df >= 2; every other bigram is a singleton
    assert got == {
        ("a b", 0): (2, 2, "0,2"),
        ("a b", 1): (2, 1, "0"),
    }


def test_index_df_cap_elides_stop_grams(spark, tmp_path):
    """A gram in more docs than INVIDX_DF_MAX disappears from the index
    (stop-posting elision), while a below-cap gram survives."""
    from mapreduce__spark.plans.tier2_text import INVIDX_DF_MAX

    texts = ["z z pad%d" % i for i in range(INVIDX_DF_MAX + 1)]
    texts += ["keep me", "keep me"]
    d = _write_docs(spark, str(tmp_path), texts)
    got = _index(spark, d)
    grams = {g for g, _ in got}
    assert "z z" not in grams  # df = cap+1 -> elided
    assert ("keep me" in grams) and len(
        [k for k in got if k[0] == "keep me"]
    ) == 2


def test_index_short_docs_produce_no_bigrams(spark, tmp_path):
    d = _write_docs(spark, str(tmp_path), ["solo", "", "a b", "a b"])
    got = _index(spark, d)
    assert set(got) == {("a b", 2), ("a b", 3)}
