"""Hypothesis property tests for the round-8 operators — independent
pure-Python references over random inputs (the non-mirrored layer; see
test_round7_properties.py's header for the rationale)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def _lev(a: str, b: str) -> int:
    """Textbook Wagner–Fischer — the third, independent implementation
    (Spark uses Commons Lang, DuckDB its own)."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


# tiny alphabet + short strings around the completeness floor (6 chars
# at k=2/q=2) — the regime where the gram filter's losslessness is
# easiest to break and gram collisions are densest; includes repetitive
# strings ("aaaaaa") whose DISTINCT gram count is far below their
# positional gram count, the case the completeness argument must not
# depend on
_name = st.text(alphabet="ab", min_size=6, max_size=9)
_names = st.lists(_name, min_size=2, max_size=8)


@given(_names)
@settings(
    max_examples=12, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_fuzzy_join_lossless_on_random_strings(spark, names):
    """fuzzy_self_join == naive all-pairs Wagner–Fischer on random
    dense-collision strings at the completeness floor: the gram-count
    filter must drop NO true pair and the verify must add none."""
    from mapreduce__spark.operators.fuzzy import fuzzy_self_join

    rows = [(i, nm) for i, nm in enumerate(names)]
    df = spark.createDataFrame(rows, "id bigint, nm string")
    got = {
        (r.key1, r.key2, r.edit_distance)
        for r in fuzzy_self_join(df, "id", "nm", 2, q=2).collect()
    }
    want = {
        (i, j, _lev(a, b))
        for i, a in rows
        for j, b in rows
        if i < j and _lev(a, b) <= 2
    }
    assert got == want


# -------------------------------------------------- prefix-filter jaccard

# Docs over a tiny vocabulary with lengths just past the 3-gram floor:
# distinct-gram sets collide densely and prefixes are 1-2 grams long —
# the regime where an off-by-one in the prefix length formula
# (|d| - ceil(t|d|) + 1) would actually drop a qualifying pair.
_doc = st.lists(
    st.sampled_from(["x", "y", "z"]), min_size=3, max_size=8
).map(" ".join)
_docs = st.lists(_doc, min_size=2, max_size=7)


def _grams3(text: str) -> frozenset[str]:
    toks = text.split(" ")
    return frozenset(
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    )


@given(_docs)
@settings(
    max_examples=12, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_prefix_filter_jaccard_lossless(spark, texts):
    """prefix_filter_jaccard_pairs == brute-force set Jaccard on random
    dense-collision docs: the prefix candidate join must drop NO
    qualifying pair (the two-sided prefix lemma) and the integer verify
    must admit none below threshold."""
    from mapreduce__spark.operators.dedup import prefix_filter_jaccard_pairs

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id1, r.id2, r.n_common, r.size_a, r.size_b)
        for r in prefix_filter_jaccard_pairs(df, 4, 5).collect()
    }
    want = set()
    for i, a in rows:
        for j, b in rows:
            if i >= j:
                continue
            ga, gb = _grams3(a), _grams3(b)
            inter = len(ga & gb)
            # J >= 4/5 as exact integers: 9*inter >= 4*(|A|+|B|)
            if ga and gb and 9 * inter >= 4 * (len(ga) + len(gb)):
                want.add((i, j, inter, len(ga), len(gb)))
    assert got == want


# ---------------------------------------------------------------------------
# round-8 closers: robust_outliers_mad / equidepth_deciles / bigram_lm_score
# property-tested against pure-Python references on RANDOM generated
# documents tables (the queries read {sf_dir}/documents.parquet, so a temp
# dir with a generated table is a full-fidelity input)


def _write_documents(rows) -> str:
    """rows: (doc_id, text, source, n_chars) -> temp sf_dir with a
    documents.parquet in the fixture schema."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tempfile.mkdtemp(prefix="mr_spark_prop_docs_")
    table = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
            "n_chars": pa.array([r[3] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(d, "documents.parquet"))
    return d


_mad_rows = st.lists(
    st.tuples(st.sampled_from("ab"), st.integers(min_value=0, max_value=40)),
    min_size=1,
    max_size=30,
)


@given(_mad_rows)
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_robust_mad_matches_python(spark, pairs):
    """robust_outliers_mad == a direct pure-Python order-statistics
    reference (sort, index the two middles, count flags) on random
    per-source integer lengths — including n=1 sources (mad4=0) and
    all-equal sources (outlier count 0)."""
    import shutil

    from mapreduce__spark.plans import REGISTRY

    rows = [
        (i, "t", src, v) for i, (src, v) in enumerate(pairs)
    ]
    sf = _write_documents(rows)
    try:
        got = {
            r.source: (r.n_docs, r.med2, r.mad4, r.n_outliers)
            for r in REGISTRY["robust_outliers_mad"].fn(spark, sf).collect()
        }
    finally:
        shutil.rmtree(sf, ignore_errors=True)
    want = {}
    by: dict[str, list[int]] = {}
    for src, v in pairs:
        by.setdefault(src, []).append(v)
    for src, vs in by.items():
        vs.sort()
        n = len(vs)
        med2 = vs[(n + 1) // 2 - 1] + vs[n // 2]
        ds = sorted(abs(2 * v - med2) for v in vs)
        mad4 = ds[(n + 1) // 2 - 1] + ds[n // 2]
        n_out = sum(1 for v in vs if 2 * abs(2 * v - med2) > 3 * mad4)
        want[src] = (n, med2, mad4, n_out)
    assert got == want


_decile_vals = st.lists(
    st.integers(min_value=0, max_value=25), min_size=1, max_size=40
)


@given(_decile_vals)
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_equidepth_deciles_matches_python(spark, vals):
    """equidepth_deciles == the direct order-statistics reference:
    t_i = the ceil(i*n/10)-th smallest value, bucket = 1 + #(t_i < v) —
    tie-heavy random data exercises the never-split-a-tie contract."""
    import shutil

    from mapreduce__spark.plans import REGISTRY

    rows = [(i, "t", "a", v) for i, v in enumerate(vals)]
    sf = _write_documents(rows)
    try:
        got = {
            r.bucket: (r.n_rows, r.lo, r.hi)
            for r in REGISTRY["equidepth_deciles"].fn(spark, sf).collect()
        }
    finally:
        shutil.rmtree(sf, ignore_errors=True)
    vs = sorted(vals)
    n = len(vs)
    thr = [vs[(i * n + 9) // 10 - 1] for i in range(1, 10)]
    buckets: dict[int, list[int]] = {}
    for v in vals:
        b = 1 + sum(1 for t in thr if v > t)
        buckets.setdefault(b, []).append(v)
    want = {b: (len(bv), min(bv), max(bv)) for b, bv in buckets.items()}
    assert got == want


_bigram_docs = st.lists(
    st.lists(st.sampled_from(["x", "y", "zz"]), min_size=1, max_size=6),
    min_size=1,
    max_size=8,
)


@given(_bigram_docs)
@settings(
    max_examples=10, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_bigram_lm_matches_python(spark, token_docs):
    """bigram_lm_score == a pure-Python Jelinek-Mercer reference on random
    tiny-vocab corpora: counts must agree exactly and per-doc nll within
    5e-6 (the reference uses Python round(), half-to-even, where the
    engine uses HALF_UP — a tie at the 6th digit moves a single term by
    at most 1e-6, and the mean by less; count/coverage disagreements
    would show up far above the tolerance)."""
    import math
    import shutil
    from collections import Counter
    from decimal import Decimal

    import pytest

    from mapreduce__spark.plans import REGISTRY

    rows = [
        (i, " ".join(toks), "a", len(" ".join(toks)))
        for i, toks in enumerate(token_docs)
    ]
    sf = _write_documents(rows)
    try:
        got = {
            r.doc_id: (r.n_bigrams, r.nll)
            for r in REGISTRY["bigram_lm_score"].fn(spark, sf).collect()
        }
    finally:
        shutil.rmtree(sf, ignore_errors=True)

    uni: Counter = Counter()
    big: Counter = Counter()
    ctx: Counter = Counter()
    for toks in token_docs:
        uni.update(toks)
        for a, b in zip(toks, toks[1:]):
            big[(a, b)] += 1
            ctx[a] += 1
    n_total = float(sum(uni.values()))
    want = {}
    for i, toks in enumerate(token_docs):
        grams = list(zip(toks, toks[1:]))
        if not grams:
            continue
        acc = Decimal(0)
        for a, b in grams:
            p = ((big[(a, b)] * n_total) + (float(uni[b]) * ctx[a])) / (
                (2.0 * ctx[a]) * n_total
            )
            acc += Decimal(str(round(-math.log(p), 6)))
        want[i] = (len(grams), round(float(acc) / len(grams), 6))
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0]
        assert got[i][1] == pytest.approx(want[i][1], abs=5e-6)


_rgb_dims = st.tuples(
    st.integers(min_value=1, max_value=9), st.integers(min_value=1, max_value=9)
)


@given(_rgb_dims, st.integers(min_value=0, max_value=2**32 - 1))
@settings(
    max_examples=40, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_png_roundtrip_on_random_pixels(dims, seed):
    """PNG encode→decode on ARBITRARY pixel content — the fixture law is
    periodic, so its Paeth predictor comparisons can sit in a narrow
    ordering regime; random content drives all pa/pb/pc orderings and
    the 1-pixel-wide / 1-row-tall edge shapes (filters degenerate to
    left=0 / up=0). Channel sums and the top-left pixel must match the
    source array exactly."""
    import numpy as np

    from mapreduce__spark.operators.multimodal import (
        _png_encode,
        decode_png_pixels,
    )

    w, h = dims
    rng = np.random.default_rng(seed)
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.int64).astype(np.uint8)
    got = decode_png_pixels(_png_encode(rgb))
    arr = rgb.astype(np.int64)
    want = (
        w,
        h,
        w * h,
        int(arr[:, :, 0].sum()),
        int(arr[:, :, 1].sum()),
        int(arr[:, :, 2].sum()),
        int(arr[0, 0].sum()),
    )
    assert got == want


@given(
    st.tuples(
        st.integers(min_value=1, max_value=10), st.integers(min_value=1, max_value=10)
    ),
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
)
@settings(
    max_examples=40, deadline=None, suppress_health_check=list(HealthCheck)
)
def test_gif_roundtrip_on_random_pixels(dims, seed, interlaced):
    """GIF LZW encode→decode on ARBITRARY index grids and palettes, both
    row orders — the fixture law is periodic, so its LZW dictionary
    chains and de-interlace permutations follow one regime; random
    content plus 1-row/1-column edge shapes must survive exactly."""
    import struct

    import numpy as np

    from mapreduce__spark.operators.multimodal import (
        _gif_interlace_rows,
        _gif_lzw_compress,
        decode_gif_pixels,
    )

    w, h = dims
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, 8, size=(h, w), dtype=np.int64)
    palette = bytes(rng.integers(0, 256, size=24, dtype=np.int64).tolist())
    rows = _gif_interlace_rows(h) if interlaced else list(range(h))
    flat = [int(idx[y, x]) for y in rows for x in range(w)]
    data = _gif_lzw_compress(flat, 3)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x02, 0, 0) + palette
    out += b"\x2c" + struct.pack(
        "<HHHHB", 0, 0, w, h, 0x40 if interlaced else 0x00
    )
    out += bytes([3])
    for i in range(0, len(data), 200):
        blk = data[i : i + 200]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    got = decode_gif_pixels(bytes(out))
    pal = np.frombuffer(palette, dtype=np.uint8).reshape(8, 3).astype(np.int64)
    rgb = pal[idx]
    want = (
        w,
        h,
        w * h,
        int(rgb[:, :, 0].sum()),
        int(rgb[:, :, 1].sum()),
        int(rgb[:, :, 2].sum()),
        int(rgb[0, 0].sum()),
    )
    assert got == want
