"""Hypothesis property tests for the round-7 operators — independent
pure-Python references over random inputs, the non-mirrored verification
layer the oracle hash-compare cannot provide (a bug mirrored into the
query AND its SQL passes the driver; a random-corpus reference in a
third implementation does not)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

# tiny alphabet → dense gram collisions, the interesting regime
_tok = st.sampled_from(["a", "b", "c", "d"])
_doc = st.lists(_tok, min_size=3, max_size=12).map(" ".join)
_corpus = st.lists(_doc, min_size=2, max_size=6)


def _grams(text: str, n: int = 3) -> set:
    toks = text.split(" ")
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@given(_corpus, st.floats(min_value=0.1, max_value=1.0))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_containment_matches_python_reference(spark, docs, threshold):
    """exact_containment_pairs == a set-arithmetic reference on random
    corpora, at an arbitrary threshold (not just the registry's 0.9)."""
    from mapreduce__spark.operators.dedup import exact_containment_pairs

    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id bigint, text string"
    )
    got = {
        (r.id1, r.id2): (r.containment_12, r.containment_21)
        for r in exact_containment_pairs(df, threshold).collect()
    }
    want = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            gi, gj = _grams(docs[i]), _grams(docs[j])
            common = len(gi & gj)
            if not common:
                continue  # the operator only considers pairs sharing >=1 gram
            c12, c21 = common / len(gi), common / len(gj)
            if max(c12, c21) >= threshold:
                want[(i, j)] = (c12, c21)  # raw divisions, no round
    assert got == want


@given(
    st.lists(
        st.integers(min_value=-10_000, max_value=10_000),  # values in cents
        min_size=1,
        max_size=40,  # crosses the EWMA_N=32 truncation boundary
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_events_ewma_matches_recurrence_reference(spark, cents):
    """The batch closed form (integer dot product over the newest
    EWMA_N) == the textbook recurrence e := (v + e)/2 applied oldest→
    newest over the same truncated window, for one user with arbitrary
    2-decimal values — including series longer than the window."""
    import datetime as dt

    from mapreduce__spark.plans.tier2_events import EWMA_N, events_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 7, "view", c / 100.0, "{}")
        for i, c in enumerate(cents)
    ]
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).write.parquet(f"{d}/events.parquet")
        got = events_ewma(spark, d).collect()[0]

    window = cents[-EWMA_N:]  # newest EWMA_N, oldest first
    e = float(window[0])
    for v in window[1:]:
        e = (float(v) + e) / 2.0
    assert got.n_events == len(window)
    # bit-exact, NO rounding on either side: the recurrence is exact
    # dyadic arithmetic in cents, so e/100.0 is a single correctly-
    # rounded division — identical to the query's integer-dot-product
    # division. (round(·, 6) here once hid a real cross-engine tie
    # hazard at S/2^(m-1) = 0.09375: this test found it.)
    assert got.ewma_value == e / 100.0


@given(st.lists(_doc, min_size=6, max_size=12))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_collocation_lift_matches_python_reference(spark, docs):
    """collocation_lift == a pure-Python set/count reference on random
    dense corpora (tiny alphabet -> co-occurrence everywhere, so the
    min-support filter actually passes pairs through)."""
    import tempfile

    from mapreduce__spark.plans.tier2_text import (
        COLLOC_MIN_SUPPORT,
        COLLOC_TOPV,
        collocation_lift,
    )

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            (r.token_a, r.token_b): (r.n_xy, r.n_x, r.n_y, r.lift)
            for r in collocation_lift(spark, d).collect()
        }

    toksets = [set(t.split(" ")) for t in docs]
    df: dict[str, int] = {}
    for ts in toksets:
        for t in ts:
            df[t] = df.get(t, 0) + 1
    topv = set(sorted(df, key=lambda t: (-df[t], t))[:COLLOC_TOPV])
    want = {}
    vocab = sorted(topv)
    for i, a in enumerate(vocab):
        for b in vocab[i + 1 :]:
            n_xy = sum(1 for ts in toksets if a in ts and b in ts)
            if n_xy >= COLLOC_MIN_SUPPORT:
                want[(a, b)] = (
                    n_xy,
                    df[a],
                    df[b],
                    n_xy * len(docs) / (df[a] * df[b]),  # raw, no round
                )
    assert got == want


@given(
    st.lists(
        st.tuples(
            # None included: a NULL source is a real group — the
            # null-safe stats join must keep (not drop) its docs
            st.one_of(st.none(), st.sampled_from(["s0", "s1", "s2"])),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_per_source_zscore_matches_python_reference(spark, rows):
    """per_source_zscore == the same guarded formula in pure Python —
    including the degenerate shapes the fixtures lack (single-doc
    sources, constant-length sources must pin z to exactly 0.0)."""
    import math
    import tempfile

    from mapreduce__spark.plans.tier2_stats import per_source_zscore

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, "t", "en", src, n) for i, (src, n) in enumerate(rows)],
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: r.zscore for r in per_source_zscore(spark, d).collect()}

    by_src: dict[str, list[int]] = {}
    for src, n in rows:
        by_src.setdefault(src, []).append(n)
    want = {}
    for i, (src, x) in enumerate(rows):
        xs = by_src[src]
        n, sx, sxx = len(xs), sum(xs), sum(v * v for v in xs)
        num = n * sxx - sx * sx
        if n > 1 and num > 0:
            # bit-exact raw double, same op order — no rounding anywhere
            want[i] = (x - sx / n) / math.sqrt(num / (n * (n - 1.0)))
        else:
            want[i] = 0.0
    assert got == want


@given(st.lists(st.binary(min_size=0, max_size=40), min_size=1, max_size=8))
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_mixed_media_routing_never_drops_rows(spark, payloads):
    """Fuzz the decoder dispatch with arbitrary bytes: on_error='route'
    must emit exactly one row per input (never drop, never duplicate),
    with error XOR mime populated."""
    from mapreduce__spark.operators.multimodal import mixed_media_features

    mm = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in enumerate(payloads)],
        "doc_id bigint, payload binary",
    )
    rows = mixed_media_features(mm, on_error="route").collect()
    assert sorted(r.doc_id for r in rows) == list(range(len(payloads)))
    for r in rows:
        assert (r.error is None) != (r.mime is None)


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["s0", "s1", "s2", "s3"]),
            st.booleans(),  # half assignment: True -> ref, False -> cur
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_source_drift_chi2_matches_python_reference(spark, rows):
    """source_drift_chi2 == the textbook (o-e)^2/e computed in pure
    Python on random half-assignments — including sources present in
    only one half (is_new / is_gone with NULL contribution), the shape
    the parity-split fixtures never produce."""
    import tempfile

    from mapreduce__spark.plans.tier2_events import source_drift_chi2

    # doc_id parity encodes the half: even -> ref, odd -> cur
    data, next_even, next_odd = [], 0, 1
    for src, in_ref in rows:
        if in_ref:
            data.append((next_even, "t", "en", src, 1)); next_even += 2
        else:
            data.append((next_odd, "t", "en", src, 1)); next_odd += 2
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            data,
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint",
        ).write.parquet(f"{d}/documents.parquet")
        got = {
            r.source: (r.n_ref, r.n_cur, r.expected_cur, r.chi2_contrib,
                       r.is_new, r.is_gone)
            for r in source_drift_chi2(spark, d).collect()
        }

    ref: dict = {}
    cur: dict = {}
    for src, in_ref in rows:
        (ref if in_ref else cur)[src] = (ref if in_ref else cur).get(src, 0) + 1
    tr, tc = sum(ref.values()), sum(cur.values())
    want = {}
    for src in set(ref) | set(cur):
        n_ref, n_cur = ref.get(src, 0), cur.get(src, 0)
        if n_ref > 0 and tc > 0:
            e = float(n_ref * tc) / float(tr)
            contrib = (n_cur - e) * (n_cur - e) / e
        else:
            e = contrib = None
        want[src] = (n_ref, n_cur, e, contrib,
                     int(n_ref == 0), int(n_cur == 0))
    assert got == want
