"""Round-9 property tests: decoder truncation behavior and the JPEG
baseline decoder (added this round)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


def test_png_every_prefix_truncation_is_valueerror():
    """Cutting a valid PNG at EVERY byte offset must raise the documented
    ValueError — never struct.error (round-8 ADVICE: a cut inside a
    chunk's 4-byte CRC field, data fully present, hit the unguarded
    struct.unpack) and never a silent wrong decode."""
    from mapreduce__spark.operators.multimodal import (
        _png_encode,
        decode_png_pixels,
    )

    rng = np.random.default_rng(7)
    rgb = rng.integers(0, 256, size=(3, 5, 3), dtype=np.int64).astype(np.uint8)
    full = _png_encode(rgb)
    want = decode_png_pixels(full)
    assert want[:3] == (5, 3, 15)
    for cut in range(len(full)):
        with pytest.raises(ValueError):
            decode_png_pixels(full[:cut])


# ---------------------------------------------------------------------------
# JPEG baseline codec (round 9) — the last cell of the decode matrix.
# ---------------------------------------------------------------------------


def test_jpeg_canonical_entropy_vector_from_spec():
    """A constant-128 8x8 grayscale block quantizes to DC diff 0, so per
    the T.81 Annex K tables the entropy data is hand-derivable without
    running either side: DC category 0 is code '00', EOB is '1010',
    1-padded to a byte = 0b00101011 = 0x2B. Pins the canonical Huffman
    construction and both table transcriptions against the spec."""
    from mapreduce__spark.operators.multimodal import _jpeg_encode

    b = _jpeg_encode([[[[0] * 64]]], 8, 8)
    i = b.find(b"\xff\xda")
    ln = int.from_bytes(b[i + 2 : i + 4], "big")
    assert b[i + 2 + ln : -2] == b"\x2b"


_jpeg_dims = st.tuples(
    st.integers(min_value=1, max_value=20), st.integers(min_value=1, max_value=20)
)


@given(
    _jpeg_dims,
    st.integers(min_value=0, max_value=2**32 - 1),
    st.booleans(),
    st.sampled_from([0, 1, 2, 3]),
)
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_jpeg_roundtrip_on_random_block_constants(dims, seed, gray, restart):
    """Pixel-exact decode on ARBITRARY per-block constants (the class the
    codec is exact on by construction): random dims drive edge-block
    cropping, random constants drive every DC category and sign through
    the prediction chain, restart intervals drive the RST/predictor-reset
    path, and gray/color drives both SOF/SOS shapes."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_encode,
        decode_jpeg_pixels,
    )

    w, h = dims
    bw, bh = -(-w // 8), -(-h // 8)
    rng = np.random.default_rng(seed)
    ncomp = 1 if gray else 3
    consts = rng.integers(0, 256, size=(ncomp, bh, bw))
    comp_blocks = []
    for c in range(ncomp):
        comp_blocks.append(
            [
                [[int(consts[c, by, bx]) - 128] + [0] * 63 for bx in range(bw)]
                for by in range(bh)
            ]
        )
    b = _jpeg_encode(
        comp_blocks, w, h, restart_interval=restart, combined_dht=bool(seed % 2)
    )
    got = decode_jpeg_pixels(b)
    sums = [0, 0, 0]
    for c in range(ncomp):
        for y in range(h):
            for x in range(w):
                sums[c] += int(consts[c, y // 8, x // 8])
    topleft = sum(int(consts[c, 0, 0]) for c in range(ncomp))
    assert got == (w, h, w * h, sums[0], sums[1], sums[2], topleft)


@st.composite
def _jpeg_coeff_blocks(draw):
    """Random quantized coefficient blocks within the Annex K table
    envelope: DC in [-1016, 1016] keeps successive diffs under category
    11; AC in [-1023, 1023]\\{0} keeps sizes under 10. Sparse positions
    drive EOB, runs, and 16-plus-zero ZRL chains."""
    bw = draw(st.integers(min_value=1, max_value=3))
    bh = draw(st.integers(min_value=1, max_value=2))
    gray = draw(st.booleans())
    ncomp = 1 if gray else 3
    comps = []
    for _c in range(ncomp):
        rows = []
        for _by in range(bh):
            row = []
            for _bx in range(bw):
                zz = [0] * 64
                zz[0] = draw(st.integers(min_value=-1016, max_value=1016))
                n_ac = draw(st.integers(min_value=0, max_value=6))
                positions = draw(
                    st.lists(
                        st.integers(min_value=1, max_value=63),
                        min_size=n_ac,
                        max_size=n_ac,
                        unique=True,
                    )
                )
                for pos in positions:
                    v = draw(
                        st.integers(min_value=-1023, max_value=1023).filter(
                            lambda x: x != 0
                        )
                    )
                    zz[pos] = v
                row.append(zz)
            rows.append(row)
        comps.append(rows)
    return comps, bw, bh


@given(_jpeg_coeff_blocks(), st.sampled_from([0, 2]))
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
def test_jpeg_coefficient_layer_roundtrip(blocks_dims, restart):
    """Entropy-layer round trip on RANDOM coefficients — the layer where
    coding is exact BY DEFINITION, so this pins every AC run/size path
    (EOB, ZRL, all size categories, sign handling, runs crossing 16) that
    the DC-only pixel fixtures never touch."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_decode_coeff_blocks,
        _jpeg_encode,
    )

    comps, bw, bh = blocks_dims
    w, h = bw * 8, bh * 8
    b = _jpeg_encode(comps, w, h, restart_interval=restart)
    width, height, blocks, _p = _jpeg_decode_coeff_blocks(b)
    assert (width, height) == (w, h)
    for c, rows in enumerate(comps):
        flat = [zz for row in rows for zz in row]
        assert blocks[c] == flat, f"component {c} coefficients diverged"


def test_jpeg_every_prefix_truncation_is_valueerror():
    """Cutting a valid JPEG at EVERY byte offset raises the documented
    ValueError — never struct.error or a silent partial decode (the PNG
    lesson applied to the new decoder from day one)."""
    from mapreduce__spark.operators.multimodal import (
        decode_jpeg_pixels,
        synth_jpeg_bytes,
    )

    full = synth_jpeg_bytes(10)  # DRI doc: restart segments in the cut zone
    assert decode_jpeg_pixels(full)[0] > 0
    for cut in range(len(full)):
        with pytest.raises(ValueError):
            decode_jpeg_pixels(full[:cut])


def test_jpeg_rejects_non_baseline_variants():
    """Progressive SOF2 and unsupported-sampling files must raise the
    documented ValueError (a real pipeline routes them to a
    library-backed decoder via the decode-error routing seam), not
    mis-decode. Since round 11 a 2x2 luma factor is the SUPPORTED 4:2:0
    shape (tests/test_round11_properties.py), so the rejection probe
    plants 4:2:2 (0x21) instead."""
    from mapreduce__spark.operators.multimodal import (
        decode_jpeg_pixels,
        synth_jpeg_bytes,
    )

    full = synth_jpeg_bytes(3)
    sof = full.find(b"\xff\xc0")
    progressive = full[:sof] + b"\xff\xc2" + full[sof + 2 :]
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(progressive)
    # sampling byte of component 1: marker(2) len(2) prec(1) h(2) w(2)
    # ncomp(1) id(1) -> sof + 11
    samp = sof + 11
    assert full[samp] == 0x11
    subsampled = full[:samp] + b"\x21" + full[samp + 1 :]
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg_pixels(subsampled)
    # a frame component the scan never covers is a structural error too,
    # not a KeyError crash
    badid = full[: sof + 10] + b"\x09" + full[sof + 11 :]
    with pytest.raises(ValueError, match="absent from scan"):
        decode_jpeg_pixels(badid)


def test_jpeg_idct_matrix_agrees_with_direct_formula():
    """The separable matrix IDCT must equal the T.81 A.3.3 direct
    four-loop formula on random dequantized coefficient blocks — two
    independently written forms of the same transform."""
    import math

    from mapreduce__spark.operators.multimodal import _JPEG_IDCT_M

    rng = np.random.default_rng(42)
    for _ in range(10):
        coef = rng.integers(-1016, 1017, size=(8, 8)).astype(np.float64)
        fast = _JPEG_IDCT_M.T @ coef @ _JPEG_IDCT_M
        direct = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                acc = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / math.sqrt(2) if u == 0 else 1.0
                        cv = 1 / math.sqrt(2) if v == 0 else 1.0
                        acc += (
                            cu * cv * coef[u, v]
                            * math.cos((2 * x + 1) * u * math.pi / 16)
                            * math.cos((2 * y + 1) * v * math.pi / 16)
                        )
                direct[x, y] = acc / 4.0
        assert np.allclose(fast, direct, atol=1e-9)


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration (round 9)
# ---------------------------------------------------------------------------


@st.composite
def _pav_inputs(draw):
    n = draw(st.integers(min_value=1, max_value=24))
    keys = sorted(
        draw(
            st.lists(
                st.integers(min_value=-50, max_value=50),
                min_size=n,
                max_size=n,
                unique=True,
            )
        )
    )
    out = []
    for k in keys:
        t = draw(st.integers(min_value=1, max_value=40))
        p = draw(st.integers(min_value=0, max_value=t))
        out.append((k, p, t))
    return out


@given(_pav_inputs())
@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
def test_pav_equals_minimax_reference(pairs):
    """Stack-pooling PAV must equal the O(n^3) minimax characterization
    on RANDOM weighted inputs — the same equivalence the DuckDB oracle
    rides on. Values compare as exact rationals (cross-multiplication):
    the two forms may pick different windows with the SAME pooled rate."""
    from mapreduce__spark.operators.calibration import (
        minimax_reference,
        pav_nondecreasing,
    )

    pav = pav_nondecreasing(pairs)
    ref = minimax_reference(pairs)
    assert set(pav) == set(ref) == {k for k, _p, _t in pairs}
    for k in pav:
        p1, t1 = pav[k]
        p2, t2 = ref[k]
        assert p1 * t2 == p2 * t1, (k, pav[k], ref[k])


@given(_pav_inputs())
@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
def test_pav_fit_is_nondecreasing_and_mass_preserving(pairs):
    """The fitted curve is non-decreasing in key order, and pooled blocks
    conserve the input mass: summing (p, t) once per pooled block over
    its covered keys reproduces the input totals."""
    from mapreduce__spark.operators.calibration import pav_nondecreasing

    fit = pav_nondecreasing(pairs)
    keys = [k for k, _p, _t in pairs]
    rates = [fit[k] for k in keys]
    for (p1, t1), (p2, t2) in zip(rates, rates[1:]):
        assert p1 * t2 <= p2 * t1, "fit decreases"
    # mean preservation: over each maximal run of keys sharing a fitted
    # RATE, the pooled INPUT mass has exactly that rate (adjacent blocks
    # with equal rates may or may not be pooled — the run form is
    # invariant to that choice)
    by_key = {k: (p, t) for k, p, t in pairs}
    i = 0
    while i < len(keys):
        j = i
        fp, ft = fit[keys[i]]
        while j < len(keys) and fit[keys[j]][0] * ft == fp * fit[keys[j]][1]:
            j += 1
        run_p = sum(by_key[k][0] for k in keys[i:j])
        run_t = sum(by_key[k][1] for k in keys[i:j])
        assert run_p * ft == fp * run_t, (keys[i:j], (run_p, run_t), (fp, ft))
        i = j


def test_pav_guards():
    import pytest as _pytest

    from mapreduce__spark.operators.calibration import pav_nondecreasing

    with _pytest.raises(ValueError, match="strictly increasing"):
        pav_nondecreasing([(1, 0, 1), (1, 0, 1)])
    with _pytest.raises(ValueError, match="bad counts"):
        pav_nondecreasing([(1, 2, 1)])
    with _pytest.raises(ValueError, match="bad counts"):
        pav_nondecreasing([(1, 0, 0)])


# ---------------------------------------------------------------------------
# Content-defined chunking (round 9)
# ---------------------------------------------------------------------------


def test_cdc_edge_docs_and_edit_locality(spark, tmp_path):
    """Edge shapes the fixtures underconstrain: a doc shorter than the
    rolling window (one chunk, no cuts), an empty-token doc (double
    space; the length-0 guard pins its hash to DuckDB's empty-fold 0),
    and — the property that makes content-defined chunking worth its
    name — EDIT LOCALITY: prepending one token to a long doc leaves the
    chunk signatures after the first boundary identical, where fixed
    8-token chunks would shift every boundary."""
    import duckdb

    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.plans.tier2_dedup import CDC_W

    base = " ".join(f"tok{i % 37}x{i % 11}" for i in range(120))
    rows = [
        (0, "a b", "en", "web", 3),               # < w tokens
        (1, "x  y z", "en", "web", 6),            # empty token via '  '
        (2, base, "en", "web", len(base)),
        (3, "zzz " + base, "en", "web", len(base) + 4),  # one-token prepend
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).coalesce(1).write.parquet(f"{sf}/documents.parquet")

    q = REGISTRY["content_defined_chunking"]
    got = {r.doc_id: (r.n_chunks, r.n_shared_chunks, r.shared_tokens)
           for r in q.fn(spark, sf).collect()}
    assert got[0][0] == 1  # sub-window doc: exactly one chunk
    assert set(got) == {0, 1, 2, 3}

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {r[0]: (r[1], r[2], r[3]) for r in con.execute(q.oracle).fetchall()}
    assert got == want

    # edit locality: docs 2 and 3 share most chunks (the prepended token
    # only reshapes chunks up to the first surviving boundary), so both
    # report a large shared-token count >= half the doc
    assert got[2][2] >= 60 and got[3][2] >= 60, got
    assert CDC_W < 120  # the property above is only meaningful past w


def test_heavy_hitters_exact_survives_adversarial_partitioning(spark, tmp_path):
    """The Misra-Gries guarantee is per PARTITION, lifted globally by
    pigeonhole — so the hostile case is a corpus shredded across many
    partitions with token frequencies straddling the phi = 1/64 line.
    Build exactly that (known counts, 16-way repartition), and pin the
    output against directly computed truth."""
    from mapreduce__spark.plans import REGISTRY

    # 3 clearly-heavy tokens, 3 just-below, 200 distinct light tokens
    words = []
    words += ["alpha"] * 900 + ["beta"] * 700 + ["gamma"] * 500
    words += ["near1"] * 120 + ["near2"] * 110 + ["near3"] * 100
    for i in range(200):
        words += [f"w{i}"] * 30
    # total = 8430; threshold n*64 > 8430 -> n >= 132
    docs = [
        (i, " ".join(words[i::40]), "en", "web", 10) for i in range(40)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        docs, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).repartition(16).write.parquet(f"{sf}/documents.parquet")

    got = {r.tok: r.n for r in REGISTRY["heavy_hitters_exact"].fn(spark, sf).collect()}
    from collections import Counter

    cnt = Counter(words)
    total = sum(cnt.values())
    want = {t: c for t, c in cnt.items() if c * 64 > total}
    assert got == want
    assert set(want) == {"alpha", "beta", "gamma"}, want
