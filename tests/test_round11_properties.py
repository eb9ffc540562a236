"""Round-11 property gates: the 4:2:0 chroma-subsampled JPEG class.

The 1x1 fixture classes (block-constant + planted-AC) left subsampling
unexercised — the dominant real-corpus JPEG shape. These tests pin the
three new moving parts independently of the registry oracle:
interleaved-MCU entropy coding on RANDOM coefficients (exact by
definition at that layer), the sample-replication upsampling law on the
per-macroblock-constant fixtures, and the truncation discipline.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@st.composite
def _jpeg_420_coeff_blocks(draw):
    """Random quantized coefficient blocks shaped for a 4:2:0 frame:
    luma grid (2*mch x 2*mcw), each chroma (mch x mcw)."""
    mcw = draw(st.integers(min_value=1, max_value=3))
    mch = draw(st.integers(min_value=1, max_value=3))
    comps = []
    for c in range(3):
        f = 2 if c == 0 else 1
        rows = []
        for _by in range(mch * f):
            row = []
            for _bx in range(mcw * f):
                zz = [0] * 64
                zz[0] = draw(st.integers(min_value=-128, max_value=127))
                n_ac = draw(st.integers(min_value=0, max_value=5))
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
    return comps, mcw, mch


@given(_jpeg_420_coeff_blocks(), st.sampled_from([0, 2]))
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_jpeg_420_coefficient_layer_roundtrip(blocks_dims, restart):
    """Entropy-layer round trip on RANDOM coefficients through the 4:2:0
    MCU interleave: four luma blocks (T.81 A.2.3 left-to-right,
    top-to-bottom) then Cb then Cr per MCU, DC prediction per component
    across the 6-block MCU, restart resets included."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_decode_coeff_blocks,
        _jpeg_encode,
    )

    comps, mcw, mch = blocks_dims
    w, h = mcw * 16, mch * 16
    b = _jpeg_encode(
        comps, w, h, restart_interval=restart,
        sampling=[(2, 2), (1, 1), (1, 1)],
    )
    width, height, blocks, p = _jpeg_decode_coeff_blocks(b)
    assert (width, height) == (w, h)
    assert p["samp"] == [(2, 2), (1, 1), (1, 1)]
    for c, rows in enumerate(comps):
        f = 2 if c == 0 else 1
        expect = []
        for m in range(mcw * mch):
            my, mx = divmod(m, mcw)
            for v in range(f):
                for hh in range(f):
                    expect.append(rows[my * f + v][mx * f + hh])
        assert blocks[c] == expect, f"component {c} coefficients diverged"


def test_jpeg_420_fixture_decodes_to_macroblock_law():
    """Full pixel decode of the 4:2:0 fixtures equals the synthesis law
    at (x//16, y//16) for every channel — the replication-upsampling
    semantics computed independently here, covering odd dims (ceil
    chroma grids), restart docs, and DHT parity."""
    from mapreduce__spark.operators.multimodal import (
        decode_jpeg_pixels,
        synth_jpeg_420_bytes,
    )

    for d in (0, 1, 2, 5, 7, 10, 15, 16, 21, 33):
        w, h, n, s0, s1, s2, tl = decode_jpeg_pixels(synth_jpeg_420_bytes(d))
        assert (w, h, n) == (d % 21 + 10, (3 * d) % 19 + 10, w * h)

        def law(c: int, mx: int, my: int) -> int:
            if c == 0:
                return (13 * d + 7 * mx + 3 * my) % 256
            if c == 1:
                return (3 * d + 5 * mx + 11 * my) % 256
            return (9 * d + 2 * mx + 6 * my) % 256

        exp = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    exp[c] += law(c, x // 16, y // 16)
        assert (s0, s1, s2) == tuple(exp), d
        assert tl == sum(law(c, 0, 0) for c in range(3))


def test_jpeg_420_every_prefix_truncation_is_valueerror():
    """Cutting a valid 4:2:0 JPEG at EVERY byte offset raises the
    documented ValueError — never struct.error or a silent partial
    decode (the PNG lesson, applied to the subsampled path too)."""
    from mapreduce__spark.operators.multimodal import (
        decode_jpeg_pixels,
        synth_jpeg_420_bytes,
    )

    full = synth_jpeg_420_bytes(5)  # DRI doc: restart segments in the cut zone
    assert decode_jpeg_pixels(full)[0] > 0
    for cut in range(len(full)):
        with pytest.raises(ValueError):
            decode_jpeg_pixels(full[:cut])


def test_non_420_subsampling_still_rejected():
    """Only all-1x1 and 4:2:0 are supported frames: 4:2:2 (luma 2x1) and
    chroma-supersampled shapes must keep raising the documented error,
    and the checker decoder refuses subsampled input outright."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_encode,
        decode_jpeg_checker_pixels,
        decode_jpeg_pixels,
        synth_jpeg_420_bytes,
    )

    def blocks(grid_w, grid_h):
        return [[[0] * 64 for _ in range(grid_w)] for _ in range(grid_h)]

    b422 = _jpeg_encode(
        [blocks(2, 1), blocks(1, 1), blocks(1, 1)], 16, 8,
        sampling=[(2, 1), (1, 1), (1, 1)],
    )
    with pytest.raises(ValueError, match="sampling"):
        decode_jpeg_pixels(b422)
    with pytest.raises(ValueError, match="1x1"):
        decode_jpeg_checker_pixels(synth_jpeg_420_bytes(0))


# ---------------------------------------------------------------------------
# Archive-container ingest (sources/archives.py): WARC + ZIP parsers.
# ---------------------------------------------------------------------------


def test_warc_parser_matches_law_and_hazards():
    """Every response record's (uri, status, chars, hash) equals the
    synthesis law across docs covering all parities: warcinfo payload
    embedding a fake record header, interleaved request records, bodies
    containing literal 'WARC/1.0', header case/order variation."""
    from mapreduce__spark.sources.archives import (
        _warc_body_law,
        charfold_hash,
        parse_warc_records,
        synth_warc_bytes,
    )

    for d in range(30):
        rows = parse_warc_records(synth_warc_bytes(d))
        assert len(rows) == d % 3 + 2
        for i, (rec, uri, status, nch, h) in enumerate(rows):
            assert rec == i
            assert uri == f"http://site-{d % 7}.example/doc/{d}/{i}"
            assert status == (200 if (d + i) % 5 else 404)
            body = _warc_body_law(d, i)
            assert (nch, h) == (len(body), charfold_hash(body))


def test_zip_parser_matches_law_and_verifies_crc():
    """Member names, methods, sizes, and extracted-text hashes equal the
    law; a flipped payload byte in a DEFLATE member must surface as a
    ValueError or a CRC failure, never a silently wrong text."""
    from mapreduce__spark.sources.archives import (
        _zip_member_law,
        charfold_hash,
        parse_zip_members,
        synth_zip_bytes,
    )

    for d in range(30):
        rows = parse_zip_members(synth_zip_bytes(d))
        assert len(rows) == d % 3 + 2
        for i, (name, method, usize, crc_ok, th) in enumerate(rows):
            lname, text, lmethod = _zip_member_law(d, i)
            assert (name, method, usize, crc_ok) == (
                lname, lmethod, len(text), True,
            )
            assert th == charfold_hash(text)
    # corrupt one byte inside the FIRST member's data region (after the
    # 30-byte local header + name) and require a loud failure
    b = bytearray(synth_zip_bytes(1))  # member 0 of doc 1 is DEFLATE
    name_len = len("part-1-0.txt")
    b[30 + name_len + 2] ^= 0xFF
    try:
        rows = parse_zip_members(bytes(b))
        assert not rows[0][3], "corrupted member passed CRC"
    except ValueError:
        pass


def test_archive_truncation_discipline():
    """Cutting either container at every byte offset yields ValueError
    or a clean shorter parse (WARC prefixes ending exactly on a record
    boundary are themselves valid files) — never another exception or a
    wrong row."""
    from mapreduce__spark.sources.archives import (
        parse_warc_records,
        parse_zip_members,
        synth_warc_bytes,
        synth_zip_bytes,
    )

    w = synth_warc_bytes(7)
    whole = parse_warc_records(w)
    for cut in range(len(w)):
        try:
            rows = parse_warc_records(w[:cut])
        except ValueError:
            continue
        assert rows == whole[: len(rows)]
    z = synth_zip_bytes(7)
    zw = parse_zip_members(z)
    for cut in range(len(z)):
        try:
            rows = parse_zip_members(z[:cut])
        except ValueError:
            continue
        # only an EOCD-comment truncation parses; members are intact
        assert rows == zw


def test_targz_parser_matches_law_and_hazards():
    """Every regular-file entry's (name, size, hash) equals the law
    across docs covering all parities: multi-member gzip streams
    (d%4==0), FEXTRA/FCOMMENT/FHCRC header-field cadences, directory
    entries skipped, ustar checksums verified."""
    from mapreduce__spark.sources.archives import (
        _tgz_member_law,
        charfold_hash,
        parse_targz_members,
        synth_targz_bytes,
    )

    for d in range(60):
        rows = parse_targz_members(synth_targz_bytes(d))
        assert len(rows) == d % 3 + 2
        for i, (name, usize, h) in enumerate(rows):
            lname, text = _tgz_member_law(d, i)
            assert (name, usize, h) == (lname, len(text), charfold_hash(text))


def test_targz_truncation_and_corruption_discipline():
    """Cutting the container at EVERY byte offset is a ValueError (the
    gzip trailer makes no prefix self-delimiting, unlike WARC); a bit
    flipped in the DEFLATE body or trailer is a loud CRC/ISIZE/stream
    failure, never a silently wrong row."""
    from mapreduce__spark.sources.archives import (
        parse_targz_members,
        synth_targz_bytes,
    )

    for d in (7, 8):  # single-member and split multi-member
        b = synth_targz_bytes(d)
        for cut in range(len(b)):
            try:
                parse_targz_members(b[:cut])
                raise AssertionError(f"doc {d} prefix {cut} parsed")
            except ValueError:
                pass
        bb = bytearray(b)
        bb[len(bb) - 12] ^= 0xFF  # inside DEFLATE body or CRC trailer
        try:
            parse_targz_members(bytes(bb))
            raise AssertionError(f"doc {d} corrupted stream parsed")
        except ValueError:
            pass


def test_targz_gzip_layer_rejections():
    """Each hand-parsed gzip header/trailer check fires on a targeted
    mutation: bad magic, non-DEFLATE method, reserved FLG bits, header
    CRC16 flip (on a doc whose law includes FHCRC), ISIZE flip."""
    from mapreduce__spark.sources.archives import (
        parse_targz_members,
        synth_targz_bytes,
    )
    import zlib as _z

    def expect(msg_part, mut):
        try:
            parse_targz_members(bytes(mut))
            raise AssertionError(f"expected failure: {msg_part}")
        except ValueError as e:
            assert msg_part in str(e), (msg_part, str(e))

    b = bytearray(synth_targz_bytes(1))
    m = bytearray(b); m[0] = 0x1E
    expect("bad gzip magic", m)
    m = bytearray(b); m[2] = 9
    expect("unsupported gzip method", m)
    m = bytearray(b); m[3] |= 0x20
    expect("reserved gzip FLG bits", m)
    m = bytearray(b); m[-1] ^= 0xFF  # high byte of ISIZE
    expect("gzip ISIZE mismatch", m)
    # doc 2 (+member 0) lands on the FHCRC cadence ((2+0)%5==2): flip a
    # stored header-CRC byte — the offset is right after the FNAME NUL
    b2 = bytearray(synth_targz_bytes(2))
    assert b2[3] & 0x02, "law drift: doc 2 should carry FHCRC"
    name_end = b2.index(b"\x00", 10)
    m = bytearray(b2); m[name_end + 1] ^= 0xFF
    expect("gzip header CRC16 mismatch", m)


@st.composite
def _warc_files(draw):
    """Random WARC files built independently of synth_warc_bytes: random
    record-type sequences, random header order/case, bodies that may
    embed 'WARC/1.0', varying status codes."""
    recs = []
    n = draw(st.integers(min_value=1, max_value=6))
    for j in range(n):
        rtype = draw(st.sampled_from(["warcinfo", "request", "response"]))
        uri = f"http://h{draw(st.integers(0, 9))}.test/p/{j}"
        if rtype == "response":
            status = draw(st.sampled_from([200, 301, 404, 500]))
            body = draw(
                st.text(
                    alphabet="abc WARC/1.0\t", min_size=0, max_size=40
                ).filter(lambda t: "\r" not in t and "\n" not in t)
            )
            payload = (
                f"HTTP/1.1 {status} X\r\nServer: s\r\n\r\n".encode()
                + body.encode()
            )
            recs.append(("response", uri, status, body, payload, j))
        else:
            filler = draw(st.binary(min_size=0, max_size=30))
            # hazard: embed a fake record header inside the payload
            payload = filler + b"\r\n\r\nWARC/1.0\r\n"
            recs.append((rtype, uri, None, None, payload, j))
    out = bytearray()
    for rtype, uri, _status, _body, payload, j in recs:
        heads = [
            ("WARC-Type", rtype),
            ("WARC-Target-URI", uri),
            ("Content-Length", str(len(payload))),
        ]
        order = draw(st.permutations(range(3)))
        out.extend(b"WARC/1.0\r\n")
        for ix in order:
            name, val = heads[ix]
            if draw(st.booleans()):
                name = name.lower()
            out.extend(f"{name}: {val}\r\n".encode())
        out.extend(b"\r\n")
        out.extend(payload)
        out.extend(b"\r\n\r\n")
    expect = [
        (uri, status, body)
        for rtype, uri, status, body, _p, _j in recs
        if rtype == "response"
    ]
    return bytes(out), expect


@given(_warc_files())
@settings(max_examples=80, deadline=None, suppress_health_check=list(HealthCheck))
def test_warc_parser_on_random_structures(file_expect):
    """Content-Length framing must survive ARBITRARY record sequences,
    header orders/cases, and payloads embedding fake record headers —
    parse output equals the independently tracked response list."""
    from mapreduce__spark.sources.archives import (
        charfold_hash,
        parse_warc_records,
    )

    data, expect = file_expect
    rows = parse_warc_records(data)
    assert len(rows) == len(expect)
    for (rec, uri, status, nch, h), (euri, estatus, ebody) in zip(
        rows, expect
    ):
        assert (uri, status) == (euri, estatus)
        assert (nch, h) == (len(ebody), charfold_hash(ebody))


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcxyz", min_size=1, max_size=10),
            st.sampled_from([0, 8]),
            st.booleans(),  # local-only extra field
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=60, deadline=None, suppress_health_check=list(HealthCheck))
def test_zip_parser_on_random_members(members):
    """ZIP extraction must reproduce arbitrary member texts through both
    methods, divergent local extra fields, and duplicate names — built
    here with an independent mini-writer, not synth_zip_bytes."""
    import struct
    import zlib

    from mapreduce__spark.sources.archives import (
        charfold_hash,
        parse_zip_members,
    )

    out = bytearray()
    central = bytearray()
    for i, (text, method, local_extra) in enumerate(members):
        name = f"m{i}.txt"
        raw = text.encode()
        crc = zlib.crc32(raw) & 0xFFFFFFFF
        if method == 8:
            co = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = co.compress(raw) + co.flush()
        else:
            data = raw
        extra = b"\x01\x02\x04\x00zzzz" if local_extra else b""
        off = len(out)
        out += struct.pack(
            "<IHHHHHIIIHH", 0x04034B50, 20, 0, method, 0, 0,
            crc, len(data), len(raw), len(name), len(extra),
        )
        out += name.encode() + extra + data
        central += struct.pack(
            "<IHHHHHHIIIHHHHHII", 0x02014B50, 20, 20, 0, method, 0, 0,
            crc, len(data), len(raw), len(name), 0, 0, 0, 0, 0, off,
        )
        central += name.encode()
    cd = len(out)
    out += central
    out += struct.pack(
        "<IHHHHIIH", 0x06054B50, 0, 0, len(members), len(members),
        len(central), cd, 3,
    ) + b"abc"
    rows = parse_zip_members(bytes(out))
    assert len(rows) == len(members)
    for (name, method, usize, crc_ok, th), (text, emethod, _x) in zip(
        rows, members
    ):
        assert (method, usize, crc_ok) == (emethod, len(text.encode()), True)
        assert th == charfold_hash(text)


def test_bpe_learn_matches_pure_python_trainer(spark, tmp_path):
    """Third implementation check: a 6-line reference BPE trainer (dict
    counts + greedy list merge) run on a tiny corpus must produce the
    same merge table and symbol totals as the distributed query — the
    semantics pin that is independent of BOTH the Spark fold and the
    SQL island arithmetic."""
    from mapreduce__spark.plans.tier2_pipeline import BPE_LEARN_ROUNDS, bpe_learn_merges

    texts = ["aaa bb aaa", "abab aaa bb", "bb bb abab a"]
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    words: dict[str, int] = {}
    for t in texts:
        for w in t.split(" "):
            if w:
                words[w] = words.get(w, 0) + 1
    symbols = {w: list(w) for w in words}
    expect = []
    for rnd in range(1, BPE_LEARN_ROUNDS + 1):
        counts: dict[tuple, int] = {}
        for w, syms in symbols.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + words[w]
                )
        (x, y), pn = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        for w, syms in symbols.items():
            out: list[str] = []
            for tok in syms:
                if out and out[-1] == x and tok == y:
                    out[-1] = x + y
                else:
                    out.append(tok)
            symbols[w] = out
        after = sum(words[w] * len(syms) for w, syms in symbols.items())
        expect.append((rnd, x, y, pn, after))

    got = [
        (r.round, r.left_sym, r.right_sym, r.pair_n, r.symbols_after)
        for r in bpe_learn_merges(spark, d).orderBy("round").collect()
    ]
    assert got == expect


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2, spectral selection + EOBRUN).
# ---------------------------------------------------------------------------


def test_jpeg_progressive_fixture_exercises_eobrun():
    """The fixture class must genuinely hit the progressive-only paths:
    a color doc's chroma AC scans are all-zero bands, so the byte stream
    must contain an EOBn symbol with run > 1 (decoded as a multi-block
    skip), and the luma scan still walks ZRL + run-6 + EOB0 per block.
    Verified via the coefficient planes: chroma ACs all zero, every luma
    block carries the planted (4,4)."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_decode_progressive,
        JPEG_AC_K,
        JPEG_AC_QUANTIZED,
        synth_jpeg_progressive_bytes,
    )

    d = 4  # color doc with several blocks -> chroma EOBRUN > 1
    width, height, coefs, _tqs = _jpeg_decode_progressive(
        synth_jpeg_progressive_bytes(d)
    )
    n_blocks = (-(-width // 8)) * (-(-height // 8))
    assert n_blocks > 1
    for zz in coefs[0]:
        assert zz[JPEG_AC_K] == JPEG_AC_QUANTIZED[0]
    for c in (1, 2):
        for zz in coefs[c]:
            assert all(v == 0 for v in zz[1:])


def test_jpeg_progressive_truncation_and_rejections():
    """Per-byte truncation raises the documented ValueError; the
    baseline decoder keeps rejecting SOF2 (the routing seam), the
    progressive decoder rejects baseline frames, subsampling, and
    malformed successive-approximation ladders (round 12: AC successive
    approximation itself is now DECODED — see synth_jpeg_ac_refine_bytes
    — so the pinned rejection is the non-contiguous Ah/Al ladder)."""
    import struct

    import pytest as _pytest

    from mapreduce__spark.operators.multimodal import (
        _jpeg_decode_progressive,
        decode_jpeg_pixels,
        decode_jpeg_progressive_pixels,
        synth_jpeg_bytes,
        synth_jpeg_progressive_bytes,
    )

    full = synth_jpeg_progressive_bytes(4)
    assert decode_jpeg_progressive_pixels(full)[0] > 0
    for cut in range(len(full)):
        with _pytest.raises(ValueError):
            decode_jpeg_progressive_pixels(full[:cut])
    with _pytest.raises(ValueError, match="baseline"):
        decode_jpeg_pixels(full)
    with _pytest.raises(ValueError, match="progressive decoder"):
        _jpeg_decode_progressive(synth_jpeg_bytes(1))
    # flip the luma AC scan's AhAl byte to a NON-CONTIGUOUS refinement
    # ladder (Ah=2, Al=0 — a conformant encoder always emits Al=Ah-1)
    sos = full.find(b"\xff\xda", full.find(b"\xff\xda") + 2)
    assert sos > 0
    (ln,) = struct.unpack(">H", full[sos + 2 : sos + 4])
    ahal_off = sos + 2 + ln - 1
    mutated = full[:ahal_off] + b"\x20" + full[ahal_off + 1 :]
    with _pytest.raises(ValueError, match="non-contiguous AC refinement"):
        decode_jpeg_progressive_pixels(mutated)


def test_jpeg_progressive_dc_successive_approximation_bitexact():
    """Odd docs split DC into an Al=1 first pass + a refinement scan;
    the reassembled DC values must be BIT-exact — verified at the
    coefficient layer against the synthesis law, negative DCs included
    (arithmetic shift: (v >> 1) << 1 | (v & 1) == v)."""
    from mapreduce__spark.operators.multimodal import (
        _jpeg_ac_law,
        _jpeg_decode_progressive,
        synth_jpeg_progressive_bytes,
    )

    for d in (1, 3, 5, 7, 9):  # odd: DC-SA docs (5 is grayscale)
        b = synth_jpeg_progressive_bytes(d)
        assert b.count(b"\xff\xda") >= 3  # DC pass + refinement + AC
        width, height, coefs, _ = _jpeg_decode_progressive(b)
        bw = -(-width // 8)
        gray = d % 3 == 2
        for c in range(1 if gray else 3):
            for m, zz in enumerate(coefs[c]):
                by, bx = divmod(m, bw)
                assert zz[0] == _jpeg_ac_law(d, c, bx, by) - 128, (d, c, m)


def _prog_encode_random(comps_zz, w, h, dc_sa=False):
    """Minimal in-test progressive encoder for ARBITRARY coefficient
    planes — independent of the fixture synthesizer: standard DC tables,
    one custom full-symbol AC table (every run/size up to size 10, all
    EOBn, ZRL; 176 length-8 canonical codes), one AC scan per component."""
    import struct

    from mapreduce__spark.operators.multimodal import (
        JPEG_DC_LUMA_BITS,
        JPEG_DC_LUMA_VALS,
        JPEG_ZIGZAG,
        _jpeg_category,
        _jpeg_huff_codes,
        _jpeg_quant_table,
        _JpegBitWriter,
    )

    ac_vals = sorted(
        {(r << 4) | s for r in range(16) for s in range(1, 11)}
        | {r << 4 for r in range(15)}
        | {0xF0}
    )
    ac_bits = [0] * 16
    ac_bits[7] = len(ac_vals)  # all codes length 8
    ncomp = len(comps_zz)
    bw = -(-w // 8)
    bh = -(-h // 8)

    def seg(marker, payload):
        return struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload

    out = bytearray(b"\xff\xd8")
    qt = _jpeg_quant_table(False)
    out += seg(0xDB, b"\x00" + bytes([qt[JPEG_ZIGZAG[k]] for k in range(64)]))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for c in range(ncomp):
        sof += struct.pack(">BBB", c + 1, 0x11, 0)
    out += seg(0xC2, sof)
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(JPEG_DC_LUMA_BITS) + bytes(JPEG_DC_LUMA_VALS)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
    )
    dc_codes = _jpeg_huff_codes(JPEG_DC_LUMA_BITS, JPEG_DC_LUMA_VALS)
    ac_codes = _jpeg_huff_codes(ac_bits, ac_vals)

    al0 = 1 if dc_sa else 0
    sos = bytes([ncomp]) + b"".join(
        bytes([c + 1, 0x00]) for c in range(ncomp)
    ) + bytes([0, 0, al0])
    out += seg(0xDA, sos)
    wtr = _JpegBitWriter()
    preds = [0] * ncomp
    for m in range(bw * bh):
        for c in range(ncomp):
            v = comps_zz[c][m][0] >> al0
            diff = v - preds[c]
            preds[c] = v
            s = _jpeg_category(diff)
            ln, code = dc_codes[s]
            wtr.write(code, ln)
            if s:
                wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    wtr.pad_to_byte()
    out += wtr.out
    if dc_sa:
        sos = bytes([ncomp]) + b"".join(
            bytes([c + 1, 0x00]) for c in range(ncomp)
        ) + bytes([0, 0, 0x10])
        out += seg(0xDA, sos)
        wtr = _JpegBitWriter()
        for m in range(bw * bh):
            for c in range(ncomp):
                wtr.write(comps_zz[c][m][0] & 1, 1)
        wtr.pad_to_byte()
        out += wtr.out
    for c in range(ncomp):
        out += seg(0xDA, bytes([1, c + 1, 0x00, 1, 63, 0x00]))
        wtr = _JpegBitWriter()
        eobrun = 0

        def flush():
            nonlocal eobrun
            while eobrun > 0:
                take = min(eobrun, (1 << 15) - 1)
                r = take.bit_length() - 1
                take = min(take, (1 << (r + 1)) - 1)
                ln, code = ac_codes[r << 4]
                wtr.write(code, ln)
                if r:
                    wtr.write(take - (1 << r), r)
                eobrun -= take

        for m in range(bw * bh):
            zz = comps_zz[c][m]
            if not any(zz[1:]):
                eobrun += 1
                continue
            flush()
            run = 0
            last_nz = max(k for k in range(1, 64) if zz[k])
            for k in range(1, last_nz + 1):
                if zz[k] == 0:
                    run += 1
                    continue
                while run >= 16:
                    ln, code = ac_codes[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                s = _jpeg_category(zz[k])
                ln, code = ac_codes[(run << 4) | s]
                wtr.write(code, ln)
                wtr.write(zz[k] if zz[k] > 0 else zz[k] + (1 << s) - 1, s)
                run = 0
            if last_nz < 63:
                eobrun += 1
        flush()
        wtr.pad_to_byte()
        out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)


@st.composite
def _prog_coeff_planes(draw):
    ncomp = draw(st.sampled_from([1, 3]))
    bw = draw(st.integers(min_value=1, max_value=3))
    bh = draw(st.integers(min_value=1, max_value=3))
    comps = []
    for _c in range(ncomp):
        blocks = []
        for _m in range(bw * bh):
            zz = [0] * 64
            zz[0] = draw(st.integers(min_value=-128, max_value=127))
            # some blocks all-zero-band (EOBRUN food), some dense
            n_ac = draw(st.sampled_from([0, 0, 1, 3, 6]))
            for pos in draw(
                st.lists(st.integers(1, 63), min_size=n_ac, max_size=n_ac,
                         unique=True)
            ):
                zz[pos] = draw(
                    st.integers(-511, 511).filter(lambda x: x != 0)
                )
            blocks.append(zz)
        comps.append(blocks)
    return comps, bw * 8, bh * 8, draw(st.booleans())


@given(_prog_coeff_planes())
@settings(max_examples=40, deadline=None, suppress_health_check=list(HealthCheck))
def test_jpeg_progressive_coefficient_layer_roundtrip(planes_dims):
    """Entropy-layer round trip on RANDOM coefficients through the
    progressive decoder: arbitrary run/size codes, mixed EOBRUN spans,
    optional DC successive approximation — encoded by an INDEPENDENT
    in-test encoder with a full-symbol AC table, so the paths the
    fixture laws never reach (dense blocks, interleaved EOB runs,
    negative DC refinement bits) are pinned exactly."""
    from mapreduce__spark.operators.multimodal import _jpeg_decode_progressive

    comps, w, h, dc_sa = planes_dims
    b = _prog_encode_random(comps, w, h, dc_sa=dc_sa)
    width, height, coefs, _ = _jpeg_decode_progressive(b)
    assert (width, height) == (w, h)
    assert coefs == comps


# ---------------------------------------------------------------------------
# URL canonicalization (url_canonicalize / functions/urls.py).
# ---------------------------------------------------------------------------


def test_url_canonicalize_hazard_branches_and_plan(spark, sf_small):
    """Every canonicalization hazard the law plants resolves correctly,
    and the plan stays JVM-side (no Python-eval nodes): default port
    dropped vs explicit port kept, www./case folding, tracking params
    stripped with the '?' vanishing when none survive, params sorted,
    fragments dropped, and all three registered-domain branches
    (2-label, multi-label suffix, subdomain-of-suffix)."""
    from mapreduce__spark.plans.tier2_pipeline import url_canonicalize

    df = url_canonicalize(spark, sf_small)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    rows = {r.doc_id: r for r in df.collect()}
    r0 = rows[0]  # http + :80 dropped, WWW./case folded, utm/ref stripped
    assert r0.canonical_url == "http://site-0.example.com/docs/0/page?a=1&id=0&z=9"
    assert (r0.registered_domain, r0.path_depth, r0.kept_params) == (
        "site-0.example.com", 3, 3,
    )
    r3 = rows[3]  # every param stripped -> the '?' vanishes too
    assert r3.canonical_url == "http://site-3.example.com/docs/3/page"
    assert r3.kept_params == 0
    r5 = rows[5]  # explicit :8080 kept; subdomain of archive.test suffix
    assert r5.canonical_url == "http://data.archive.test:8080/docs/5/page"
    assert r5.registered_domain == "data.archive.test"
    r7 = rows[7]  # plain two-label registered domain
    assert r7.registered_domain == "data-host.net"
    r9 = rows[9]  # 4-label host under a multi-label suffix
    assert (r9.host, r9.registered_domain) == (
        "cdn.site-2.example.com", "site-2.example.com",
    )


# ---------------------------------------------------------------------------
# HTML visible-text extraction (html_text_extract / operators/html.py).
# ---------------------------------------------------------------------------


def test_html_tokenizer_hazards():
    """The state machine survives what regex stripping cannot: quoted
    '>' in attributes, tag-shaped script/style bodies, comments hiding
    markup, entity decode in text but never in attributes, nested <a>,
    case-insensitive rawtext closers, lenient unknown/unterminated
    entities, and unterminated constructs dropping the tail quietly."""
    from mapreduce__spark.operators.html import extract_html_text

    t = extract_html_text
    assert t('<img alt="a > b">after')[0] == "after"
    assert t("<script>var s=\"<p>fake</p>\";</script>real")[0] == "real"
    assert t("<style>p>span{}</style>ok")[0] == "ok"
    assert t("<SCRIPT>x</SCRIPT>tail")[0] == "tail"
    assert t("<!-- <b>hidden</b> -->shown")[0] == "shown"
    assert t("a&amp;b &#65; &lt;tag&gt;")[0] == "a&b A <tag>"
    assert t('<a href="/u?x=1&amp;y=2">L</a>')[0] == "L"  # attr entity inert
    # unknown / unterminated entities emit the '&' literally
    assert t("x&unknown;y")[0] == "x&unknown;y"
    assert t("x&ampy")[0] == "x&ampy"
    # nested links: all inner text counts once (tags are word
    # boundaries), depth balanced so 'er' is still link text and '!'
    # is not
    text, link_chars, n_para, _ = t("<a>out<a>in</a>er</a>!")
    assert (text, link_chars) == ("out in er !", 9)
    # unterminated script/comment swallow the tail, never crash
    assert t("pre<script>never closed")[0] == "pre"
    assert t("pre<!-- never closed")[0] == "pre"
    # paragraph and link accounting on a full document
    text, link_chars, n_para, n_tags = t(
        "<html><body><p>one</p><p>two <a>x y</a></p></body></html>"
    )
    assert (text, link_chars, n_para) == ("one two x y", 3, 2)
    # whitespace collapse across tag boundaries
    assert t("<div>a</div>\n\n  <div>b</div>")[0] == "a b"


# ---------------------------------------------------------------------------
# Perceptual hashing (image_dhash / image_dhash_neardup, operators/phash.py).
# ---------------------------------------------------------------------------


def test_bmp_rgb_array_matches_pixel_law():
    """The standalone array decode honors both row layouts: RGB at
    image coordinate (x, y from top) equals the synthesis law on
    bottom-up AND top-down (d%5==0) fixtures."""
    from mapreduce__spark.operators.multimodal import synth_bmp_bytes
    from mapreduce__spark.operators.phash import _bmp_rgb_array

    for d in (0, 3, 5, 7, 10, 13):
        arr = _bmp_rgb_array(synth_bmp_bytes(d))
        h, w, _ = arr.shape
        assert (w, h) == (d % 13 + 4, (d * 7) % 11 + 4)
        for y in (0, h - 1):
            for x in (0, w - 1):
                r, g, b = (int(v) for v in arr[y, x])
                assert r == (3 * d + 11 * x + y) % 256
                assert g == (2 * d + x + 7 * y) % 256
                assert b == (d + 3 * x + 5 * y) % 256


@given(st.integers(min_value=0, max_value=10**6))
@settings(max_examples=60, deadline=None)
def test_dhash_matches_scalar_reimplementation(d):
    """dhash_halves' vectorized packing equals a bit-by-bit scalar
    recomputation from the same pixel law, for arbitrary doc ids."""
    from mapreduce__spark.operators.multimodal import synth_bmp_bytes
    from mapreduce__spark.operators.phash import _bmp_rgb_array, dhash_halves

    rgb = _bmp_rgb_array(synth_bmp_bytes(d))
    h, w, _ = rgb.shape
    hi, lo = dhash_halves(rgb)

    def gray(x, y):
        r, g, b = (int(v) for v in rgb[y, x])
        return (299 * r + 587 * g + 114 * b) // 1000

    want_hi = want_lo = 0
    for row in range(8):
        y = (row * h) // 8
        for col in range(8):
            xa, xb = (col * w) // 9, ((col + 1) * w) // 9
            if gray(xa, y) < gray(xb, y):
                if row < 4:
                    want_lo |= 1 << (row * 8 + col)
                else:
                    want_hi |= 1 << ((row - 4) * 8 + col)
    assert (hi, lo) == (want_hi, want_lo)
    assert 0 <= hi < 2**32 and 0 <= lo < 2**32


def test_dhash_band_radius_guard():
    """Radius >= band count would break the pigeonhole completeness
    argument — the operator refuses it loudly."""
    import pytest as _pytest

    from mapreduce__spark.operators.phash import dhash_near_dup_pairs

    with _pytest.raises(ValueError, match="pigeonhole"):
        dhash_near_dup_pairs(None, radius=4)


# ---------------------------------------------------------------------------
# G.711 mu-law codec (audio_mulaw_roundtrip, operators/audio.py).
# ---------------------------------------------------------------------------


def test_mulaw_codec_matches_scalar_reference_full_range():
    """The vectorized encode/decode equals the classic scalar G.711
    formulation for EVERY int16 value; all 256 codes are reachable and
    the companding error never exceeds the top-segment bound."""
    import numpy as np

    from mapreduce__spark.operators.audio import mulaw_decode, mulaw_encode

    def enc1(x):
        sign = 0x80 if x < 0 else 0
        m = min(abs(x), 32635) + 0x84
        e = 7
        for i in range(8):
            if m >> 7 < (1 << (i + 1)):
                e = i
                break
        mant = (m >> (e + 3)) & 0x0F
        return ~(sign | (e << 4) | mant) & 0xFF

    def dec1(c):
        u = ~c & 0xFF
        sign, e, mant = u & 0x80, (u >> 4) & 7, u & 0x0F
        m = (((mant << 3) + 0x84) << e) - 0x84
        return -m if sign else m

    xs = np.arange(-32768, 32768, dtype=np.int64)
    codes = mulaw_encode(xs)
    decs = mulaw_decode(codes)
    # spot-exact on the tricky boundaries + a lattice across the range
    for x in (-32768, -32636, -32635, -132, -1, 0, 1, 131, 132,
              32634, 32635, 32767, *range(-4096, 4097, 97)):
        assert codes[x + 32768] == enc1(x), x
        assert decs[x + 32768] == dec1(enc1(x)), x
    assert len(set(codes.tolist())) == 256
    assert int(np.abs(xs - decs).max()) == 644  # clip-region worst case


def test_wav_samples_honors_riff_hazards():
    """The standalone sample walk returns the interleaved law samples
    on odd-junk-chunk docs (even ids) and data-before-fmt docs
    (multiples of 7) alike."""
    from mapreduce__spark.operators.audio import _wav_samples
    from mapreduce__spark.operators.multimodal import synth_wav_pcm_bytes

    for d in (0, 1, 2, 6, 7, 14, 15, 21):
        s = _wav_samples(synth_wav_pcm_bytes(d))
        ch = d % 2 + 1
        n = (d % 60 + 4) * ch
        assert len(s) == n
        for k in (0, 1, n - 1):
            want = ((31 * d + 7 * (k // ch) + 13 * (k % ch)) % 65536) - 32768
            assert int(s[k]) == want, (d, k)


# ---------------------------------------------------------------------------
# Parquet footer parser (parquet_footer_audit, sources/parquet_footer.py).
# ---------------------------------------------------------------------------


def test_parquet_footer_matches_duckdb_on_testdata():
    """The from-scratch thrift parser agrees with DuckDB's own parquet
    reader on the REAL testdata files (written by a third writer), not
    just the staged fixtures — three independent implementations."""
    import duckdb

    from mapreduce__spark.sources.parquet_footer import parse_parquet_footer

    for table in ("documents", "nation", "orders"):
        path = f"/root/testdata/sf0.001/{table}.parquet"
        with open(path, "rb") as fh:
            mine = parse_parquet_footer(fh.read())
        ducks = duckdb.sql(
            "SELECT row_group_id, row_group_num_rows, column_id, "
            "path_in_schema, compression, num_values, "
            "total_compressed_size, total_uncompressed_size, "
            "data_page_offset, stats_null_count "
            f"FROM parquet_metadata('{path}') "
            "ORDER BY row_group_id, column_id"
        ).fetchall()
        assert len(mine) == len(ducks) > 0
        for m, d in zip(mine, ducks):
            got = (
                m["rg"], m["rg_rows"], m["col"], m["path"], m["codec"],
                m["num_values"], m["comp_bytes"], m["uncomp_bytes"],
                m["data_off"], m["null_count"],
            )
            assert got == d, (table, got, d)


def test_parquet_footer_truncation_discipline():
    """Cutting a parquet file at every byte offset from the tail side
    (the footer region) raises ValueError — never struct.error or a
    silent partial parse; byte-flips in the thrift region either raise
    or change parsed values, never crash with another exception."""
    from mapreduce__spark.plans.tier2_shared import _stage_footer_corpus
    from mapreduce__spark.sources.parquet_footer import parse_parquet_footer

    import os

    d = _stage_footer_corpus()
    with open(os.path.join(d, "00.parquet"), "rb") as fh:
        b = fh.read()
    whole = parse_parquet_footer(b)
    assert whole, "staged file parsed empty"
    for cut in range(max(0, len(b) - 2200), len(b)):
        try:
            parse_parquet_footer(b[:cut])
            raise AssertionError(f"prefix {cut} parsed")
        except ValueError:
            pass
    (_len,) = __import__("struct").unpack("<I", b[-8:-4])
    start = len(b) - 8 - _len
    for off in range(start, len(b) - 8, 7):
        bb = bytearray(b)
        bb[off] ^= 0xFF
        try:
            parse_parquet_footer(bytes(bb))
        except ValueError:
            pass  # loud is fine; any other exception type fails the test


def test_thrift_compact_generic_layer():
    """Hand-encoded compact-protocol struct with every scalar shape the
    parser claims: bool fields, zigzag ints (long deltas + explicit
    field ids), binary, nested struct, list with long-form size, map,
    double, unknown trailing fields skipped via their type."""
    import struct as st

    from mapreduce__spark.sources.parquet_footer import _read_struct

    def vint(n):
        out = b""
        while True:
            if n < 0x80:
                return out + bytes([n])
            out += bytes([(n & 0x7F) | 0x80])
            n >>= 7

    def zz(n):
        return vint((n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1)

    payload = b"".join([
        bytes([0x11]),                      # fid 1, TRUE
        bytes([0x12]),                      # fid 2, FALSE
        bytes([0x15]), zz(-7),              # fid 3, i32 = -7
        bytes([0x16]), zz(3_000_000_000),   # fid 4, i64
        bytes([0x18]), vint(3), b"abc",     # fid 5, binary
        bytes([0x19]),                      # fid 6, list<i32>...
        bytes([0xF5]), vint(16), *[zz(i) for i in range(16)],  # long form
        bytes([0x1C]),                      # fid 7, struct
        bytes([0x16]), zz(42), bytes([0x00]),
        bytes([0x17]), st.pack("<d", 1.5),  # fid 8, double
        bytes([0x1B]), vint(1), bytes([0x55]), zz(2), zz(9),  # fid 9 map i32->i32
        bytes([0x05]), zz(100), zz(5),      # explicit fid 100, i32 = 5
        bytes([0x00]),                      # STOP
    ])
    fields, end = _read_struct(payload, 0)
    assert end == len(payload)
    assert fields[1] is True and fields[2] is False
    assert fields[3] == -7 and fields[4] == 3_000_000_000
    assert fields[5] == b"abc"
    assert fields[6] == list(range(16))
    assert fields[7] == {1: 42}
    assert fields[8] == 1.5
    assert fields[9] == {2: 9}
    assert fields[100] == 5


# ---------------------------------------------------------------------------
# Unigram-LM Viterbi (unigram_lm_tokenize, functions/unigram.py).
# ---------------------------------------------------------------------------


@given(
    st.text(alphabet="abc", min_size=1, max_size=9),
    st.integers(min_value=1, max_value=2**30),
)
@settings(max_examples=120, deadline=None)
def test_viterbi_equals_bruteforce_enumeration(word, seed):
    """The DP (score, mask, pieces) equals exhaustive enumeration of
    all 2^(L-1) segmentations under the same fixed-point scoring and
    smallest-mask tie-break, for random words and random piece counts
    (ties are frequent with a 3-letter alphabet — the tie-break is the
    part a naive DP gets wrong)."""
    from mapreduce__spark.functions.unigram import (
        MAX_PIECE,
        ilog2,
        viterbi_segment,
    )

    # deterministic pseudo-random counts per piece
    pieces = {
        word[i:j]
        for i in range(len(word))
        for j in range(i + 1, min(i + MAX_PIECE, len(word)) + 1)
    }
    pc = {p: (hash((seed, p)) % 997) + 1 for p in sorted(pieces)}
    total = sum(pc.values())

    best = None
    n = len(word)
    for mask in range(1 << (n - 1)):
        cuts = [0] + [p for p in range(1, n) if mask >> (p - 1) & 1] + [n]
        segs = [word[a:b] for a, b in zip(cuts, cuts[1:])]
        if any(len(s) > MAX_PIECE for s in segs):
            continue
        score = sum(ilog2(pc[s]) - ilog2(total) for s in segs)
        key = (score, -mask)
        if best is None or key > best[0]:
            best = (key, mask, segs)
    score, mask, segs = viterbi_segment(word, pc, total)
    assert (score, mask, segs) == (best[0][0], best[1], best[2])


def test_ilog2_is_monotone_and_matches_sql_form():
    """ilog2 must be monotone non-decreasing (a score inversion would
    make 'more frequent' score lower) and equal the SQL bin()-length
    formulation."""
    from mapreduce__spark.functions.unigram import ilog2

    prev = None
    for x in list(range(1, 5000)) + [2**k + d for k in range(13, 40) for d in (-1, 0, 1)]:
        msb = len(bin(x)) - 3  # '0b' prefix
        want = ((msb) << 12) + ((x << 12) >> msb) - 4096
        got = ilog2(x)
        assert got == want
        if prev is not None and x > prev[0]:
            assert got >= prev[1], (x, got, prev)
        prev = (x, got)


# ---------------------------------------------------------------------------
# MP4 sample tables (video_sample_index, operators/video.py).
# ---------------------------------------------------------------------------


def test_mp4_sample_walk_matches_laws_across_variants():
    """Every sample's (dts, size, chunk, offset, first byte) equals the
    synthesis laws across docs covering the co64, largesize-mdat,
    free-box and partial-final-chunk variants; the first-byte check
    proves absolute offset resolution through stsc/stco."""
    from mapreduce__spark.operators.video import (
        SAMPLES_PER_CHUNK,
        _sample_first_byte,
        _sample_size,
        _video_laws,
        parse_mp4_samples,
        synth_mp4_sample_bytes,
    )

    for d in range(48):
        rows = parse_mp4_samples(synth_mp4_sample_bytes(d))
        n, r1, dt1, dt2 = _video_laws(d)
        assert len(rows) == n
        off = 0
        for k, (s, dts, size, chunk, om, fb) in enumerate(rows):
            want_dts = k * dt1 if k < r1 else r1 * dt1 + (k - r1) * dt2
            assert (s, dts, size, chunk, om, fb) == (
                k, want_dts, _sample_size(d, k),
                k // SAMPLES_PER_CHUNK + 1, off, _sample_first_byte(d, k),
            ), (d, k)
            off += size


def test_mp4_truncation_discipline():
    """Cutting the container at every byte offset raises ValueError —
    covering plain, co64, largesize and free-box docs."""
    from mapreduce__spark.operators.video import (
        parse_mp4_samples,
        synth_mp4_sample_bytes,
    )

    for d in (0, 1, 2, 6):  # largesize, free-box, co64, largesize+co64? cover set
        b = synth_mp4_sample_bytes(d)
        for cut in range(len(b)):
            try:
                parse_mp4_samples(b[:cut])
                raise AssertionError(f"doc {d} prefix {cut} parsed")
            except ValueError:
                pass


def test_mp4_malformed_tables_are_loud():
    """Targeted table corruption fires the documented checks: stts
    count drift vs stsz, stsc runs not covering the chunk list, and a
    sample overrunning the file."""
    import struct as st

    from mapreduce__spark.operators.video import (
        parse_mp4_samples,
        synth_mp4_sample_bytes,
    )

    b = synth_mp4_sample_bytes(3)

    def mutate(table: bytes, patch) -> bytes:
        i = b.index(table)
        bb = bytearray(b)
        patch(bb, i)
        return bytes(bb)

    def expect(msg, bb):
        try:
            parse_mp4_samples(bb)
            raise AssertionError(f"expected: {msg}")
        except ValueError as e:
            assert msg in str(e), (msg, str(e))

    # stts first-run count +1 -> sample count disagrees with stsz
    def bump_stts(bb, i):
        cnt = st.unpack(">I", bb[i + 8 : i + 12])[0]
        bb[i + 8 : i + 12] = st.pack(">I", cnt + 1)

    expect("stts sample count disagrees", mutate(b"stts", bump_stts))

    # stsc first run's samples-per-chunk 3 -> 5: chunk walk over-assigns
    # (layout after the 4-byte type: version/flags, entry_count,
    # first_chunk, samples_per_chunk -> spc sits at type+16)
    def bump_stsc(bb, i):
        bb[i + 16 : i + 20] = st.pack(">I", 5)

    expect("more samples than stsz", mutate(b"stsc", bump_stsc))

    # stco first chunk offset beyond EOF -> sample overruns the file
    def bump_stco(bb, i):
        bb[i + 12 : i + 16] = st.pack(">I", len(b) + 100)

    expect("sample overruns the file", mutate(b"stco", bump_stco))


# ---------------------------------------------------------------------------
# Aho-Corasick (blocklist_match_counts, functions/acmatch.py).
# ---------------------------------------------------------------------------


@given(
    st.text(alphabet="ab", min_size=0, max_size=60),
    st.lists(
        st.text(alphabet="ab", min_size=1, max_size=4),
        min_size=1, max_size=6, unique=True,
    ),
)
@settings(max_examples=150, deadline=None)
def test_aho_corasick_equals_naive_counts(text, patterns):
    """Automaton counts equal naive every-start-position counts on a
    2-letter alphabet (maximal pattern nesting/overlap), including
    overlapping occurrences and patterns that are prefixes/suffixes of
    each other."""
    from mapreduce__spark.functions.acmatch import AhoCorasick

    ac = AhoCorasick(patterns)
    got = ac.count_matches(text)
    for idx, p in enumerate(patterns):
        naive = sum(
            1 for i in range(len(text) - len(p) + 1) if text[i : i + len(p)] == p
        )
        assert got.get(idx, 0) == naive, (text, p)


def test_aho_corasick_nested_dictionary_multi_output():
    """One position must emit every nested pattern ending there: 'scan'
    also ends 'an' and... the dictionary's nesting shape, pinned."""
    from mapreduce__spark.functions.acmatch import AhoCorasick

    ac = AhoCorasick(["scan", "an", "a", "n"])
    got = ac.count_matches("scan an")
    by_pattern = {ac.patterns[i]: c for i, c in got.items()}
    assert by_pattern == {"scan": 1, "an": 2, "a": 2, "n": 2}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate"):
        AhoCorasick(["x", "x"])
    with _pytest.raises(ValueError, match="empty"):
        AhoCorasick([""])


# ---------------------------------------------------------------------------
# Snappy + PLAIN page decode (parquet_page_decode, sources/parquet_footer.py).
# ---------------------------------------------------------------------------


@given(st.binary(min_size=0, max_size=800), st.integers(0, 2))
@settings(max_examples=120, deadline=None)
def test_snappy_decoder_matches_pyarrow_codec(data, shape):
    """The from-scratch snappy block decoder inverts pyarrow's
    reference compressor on random, RLE-heavy, and texty buffers (the
    three shapes that exercise literals, overlapping copies, and
    2-byte-offset copies)."""
    import pyarrow as pa

    from mapreduce__spark.sources.parquet_footer import snappy_decompress

    if shape == 1:
        data = (data[:40] or b"x") * 30  # long repeats -> copy elements
    elif shape == 2:
        data = b"the quick " + data + b" lazy dog " + data
    c = pa.compress(data, codec="snappy", asbytes=True)
    assert snappy_decompress(c) == data


def test_snappy_truncation_discipline():
    """Every prefix of a valid snappy stream fails loudly (ValueError),
    never returns silently short output."""
    import pyarrow as pa

    from mapreduce__spark.sources.parquet_footer import snappy_decompress

    data = b"abcabcabc" * 40 + bytes(range(256))
    c = pa.compress(data, codec="snappy", asbytes=True)
    for cut in range(len(c)):
        try:
            out = snappy_decompress(c[:cut])
            raise AssertionError(f"prefix {cut} decoded to {len(out)} bytes")
        except ValueError:
            pass


def test_page_decode_reads_full_column_and_rejects_unsupported():
    """read_int64_column returns every value across row groups for the
    staged PLAIN files, and refuses dictionary-encoded or nullable
    chunks loudly (the footer-audit corpus is both)."""
    import os

    from mapreduce__spark.plans.tier2_shared import (
        _stage_footer_corpus,
        _stage_plainpq_corpus,
    )
    from mapreduce__spark.sources.parquet_footer import read_int64_column

    d = _stage_plainpq_corpus()
    for f in range(3):
        with open(os.path.join(d, f"{f:02d}.parquet"), "rb") as fh:
            vals = read_int64_column(fh.read(), "id")
        n = 50 + 20 * f
        assert vals == list(range(10_000 * f, 10_000 * f + n))
    fd = _stage_footer_corpus()
    with open(os.path.join(fd, "00.parquet"), "rb") as fh:
        b = fh.read()
    try:
        read_int64_column(b, "id")
        raise AssertionError("dictionary-encoded chunk decoded silently")
    except ValueError:
        pass


def test_rle_bp_hybrid_known_vectors_and_dict_reader():
    """Hand-built RLE/bit-packed hybrid vectors (Encodings.md shapes)
    decode exactly; the dictionary reader reproduces DuckDB's read of
    the staged nullable corpus including NULL placement."""
    import os

    import duckdb

    from mapreduce__spark.plans.tier2_shared import _stage_footer_corpus
    from mapreduce__spark.sources.parquet_footer import (
        _rle_bp_hybrid,
        read_dict_column,
    )

    # RLE run: header 2*count, value in ceil(bw/8) bytes
    vals, _ = _rle_bp_hybrid(bytes([2 * 7, 5]), 0, 3, 7)
    assert vals == [5] * 7
    # bit-packed: header 2*groups+1, bw=3, one group of 8 values 0..7
    packed = 0
    for k, v in enumerate([0, 1, 2, 3, 4, 5, 6, 7]):
        packed |= v << (3 * k)
    vals, _ = _rle_bp_hybrid(bytes([3]) + packed.to_bytes(3, "little"), 0, 3, 8)
    assert vals == [0, 1, 2, 3, 4, 5, 6, 7]
    # mixed: RLE then bit-packed, count cuts the padding
    buf = bytes([2 * 3, 1]) + bytes([3]) + packed.to_bytes(3, "little")
    vals, _ = _rle_bp_hybrid(buf, 0, 3, 9)
    assert vals == [1, 1, 1, 0, 1, 2, 3, 4, 5]
    # bw=0 (single-entry dictionary): RLE run with zero value bytes
    vals, _ = _rle_bp_hybrid(bytes([2 * 4]), 0, 0, 4)
    assert vals == [0, 0, 0, 0]

    d = _stage_footer_corpus()
    path = os.path.join(d, "01.parquet")
    with open(path, "rb") as fh:
        b = fh.read()
    want = duckdb.sql(
        f"select id, name from read_parquet('{path}')"
    ).fetchall()
    assert read_dict_column(b, "id") == [r[0] for r in want]
    assert read_dict_column(b, "name") == [r[1] for r in want]
    assert any(r[1] is None for r in want), "fixture lost its NULLs"


def test_csv_torture_fixture_and_third_reader():
    """The staged torture CSV parses to exactly the law rows under
    Python's csv module (a third independent RFC 4180 implementation
    beside Spark and DuckDB), and the embedded-newline rows do NOT
    inflate the record count (the line-split failure mode)."""
    import csv
    import os

    from mapreduce__spark.plans.tier2_sources import (
        CSV_TORTURE_N,
        _csv_torture_field,
        _stage_csv_torture,
    )

    d = _stage_csv_torture()
    with open(os.path.join(d, "torture.csv"), newline="") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["c1", "c2", "c3"]
    body = rows[1:]
    assert len(body) == CSV_TORTURE_N
    for i, (c1, c2, c3) in enumerate(body):
        assert (int(c1), c2, c3) == (i, _csv_torture_field(i), f"tag-{i % 7}")
    # the raw file has MORE physical lines than records
    with open(os.path.join(d, "torture.csv")) as f:
        assert len(f.readlines()) > CSV_TORTURE_N + 1


@given(st.lists(st.integers(-10**12, 10**12), min_size=1, max_size=400))
@settings(max_examples=40, deadline=None)
def test_delta_binary_packed_roundtrip_random_values(xs):
    """read_delta_column inverts pyarrow's DELTA_BINARY_PACKED writer
    for arbitrary int64 sequences (huge jumps force wide miniblocks,
    runs force width-0), both page codecs."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreduce__spark.sources.parquet_footer import read_delta_column

    schema = pa.schema([pa.field("id", pa.int64(), nullable=False)])
    t = pa.table({"id": pa.array(xs, type=pa.int64())}, schema=schema)
    fd, path = tempfile.mkstemp(suffix=".parquet")
    os.close(fd)
    try:
        pq.write_table(
            t, path, use_dictionary=False,
            column_encoding={"id": "DELTA_BINARY_PACKED"},
            compression="snappy" if len(xs) % 2 else "none",
            row_group_size=128, data_page_version="2.0",
        )
        with open(path, "rb") as fh:
            assert read_delta_column(fh.read(), "id") == xs
    finally:
        os.unlink(path)


# ---------------------------------------------------------------------------
# Fixture spec-validity: the SYNTH side checked by stdlib reference readers.
# ---------------------------------------------------------------------------


def test_synth_containers_readable_by_stdlib_references():
    """The synthesized containers are spec-valid to THIRD-PARTY readers,
    not merely round-trip-consistent with our own parsers: tarfile
    (including multi-member gzip docs), zipfile (CRC-verified via
    testzip), gzip (member payload concatenation), and wave (on
    canonical-layout docs; the data-before-fmt fixtures are legal RIFF
    that wave.py is documented to reject, so those assert the rejection
    instead of skipping silently)."""
    import gzip as _gzip
    import io
    import tarfile
    import wave
    import zipfile

    import pytest as _pytest

    from mapreduce__spark.operators.multimodal import synth_wav_pcm_bytes
    from mapreduce__spark.sources.archives import (
        _gunzip_members,
        _tgz_member_law,
        _zip_member_law,
        synth_targz_bytes,
        synth_zip_bytes,
    )

    for d in (0, 1, 3, 4, 7, 8, 12):  # covers multi-member and FHCRC docs
        b = synth_targz_bytes(d)
        with tarfile.open(fileobj=io.BytesIO(b), mode="r:gz") as tf:
            files = [m for m in tf.getmembers() if m.isfile()]
            assert len(files) == d % 3 + 2
            for i, m in enumerate(files):
                name, text = _tgz_member_law(d, i)
                assert m.name == name
                assert tf.extractfile(m).read().decode("ascii") == text
        # gzip module agrees with our member-aware gunzip
        assert _gzip.decompress(b) == _gunzip_members(b)

        z = synth_zip_bytes(d)
        with zipfile.ZipFile(io.BytesIO(z)) as zf:
            assert zf.testzip() is None  # every CRC verified
            for i, name in enumerate(zf.namelist()):
                lname, text, _method = _zip_member_law(d, i)
                assert name == lname
                assert zf.read(name).decode("ascii") == text

    for d in (1, 2, 3, 4, 5, 6, 8):  # canonical fmt-then-data layouts
        with wave.open(io.BytesIO(synth_wav_pcm_bytes(d))) as wf:
            assert wf.getnchannels() == d % 2 + 1
            assert wf.getnframes() == d % 60 + 4
            assert wf.getsampwidth() == 2
    for d in (0, 7, 14):  # data-before-fmt: wave.py's documented limit
        with _pytest.raises(wave.Error):
            wave.open(io.BytesIO(synth_wav_pcm_bytes(d)))


def test_url_canonicalize_scheme_host_agree_with_urllib(spark, sf_small):
    """Third-reference check: for every law URL, the canonicalized
    scheme/host/port agree with urllib.parse (which lowercases schemes
    and splits authorities per RFC 3986) after applying the declared
    www-strip and default-port rules."""
    from urllib.parse import urlsplit

    from mapreduce__spark.plans.tier2_pipeline import url_canonicalize

    rows = url_canonicalize(spark, sf_small).collect()
    assert len(rows) >= 100
    for r in rows:
        s = urlsplit(r.url.split("#")[0])
        scheme = s.scheme.lower()
        host = (s.hostname or "").lower()
        if host.startswith("www."):
            host = host[4:]
        assert r.host == host, (r.url, r.host, host)
        want = f"{scheme}://{host}"
        port = s.port
        if port is not None and not (
            (scheme == "http" and port == 80)
            or (scheme == "https" and port == 443)
        ):
            want += f":{port}"
        assert r.canonical_url.startswith(want + "/"), (r.url, r.canonical_url, want)


@st.composite
def _thrift_struct(draw, depth=0):
    """(encoded_bytes, expected_dict) for a random compact-protocol
    struct: bool/i32/i64/double/binary fields, nested structs and
    lists, random field-id gaps forcing both short and long headers."""
    import struct as _st

    def vint(n):
        out = b""
        while True:
            if n < 0x80:
                return out + bytes([n])
            out += bytes([(n & 0x7F) | 0x80])
            n >>= 7

    def zz(n):
        return vint((n << 1) ^ (n >> 63) if n >= 0 else ((-n) << 1) - 1)

    n_fields = draw(st.integers(1, 5))
    fid = 0
    payload = b""
    expect = {}
    for _ in range(n_fields):
        gap = draw(st.integers(1, 31))
        fid += gap
        kind = draw(st.integers(0, 5 if depth < 2 else 4))
        if kind == 0:
            v = draw(st.booleans())
            typ = 1 if v else 2
            head = bytes([(gap << 4) | typ]) if gap <= 15 else bytes([typ]) + zz(fid)
            payload += head
            expect[fid] = v
            continue
        if kind == 1:
            typ, v = 5, draw(st.integers(-2**31, 2**31 - 1))
            body = zz(v)
        elif kind == 2:
            typ, v = 6, draw(st.integers(-2**62, 2**62))
            body = zz(v)
        elif kind == 3:
            typ, v = 8, draw(st.binary(max_size=12))
            body = vint(len(v)) + v
        elif kind == 4:
            vals = draw(st.lists(st.integers(-1000, 1000), max_size=20))
            typ, v = 9, vals
            if len(vals) < 15:
                body = bytes([(len(vals) << 4) | 5])
            else:
                body = bytes([0xF5]) + vint(len(vals))
            body += b"".join(zz(x) for x in vals)
        else:
            sub_bytes, sub_expect = draw(_thrift_struct(depth=depth + 1))
            typ, v = 12, sub_expect
            body = sub_bytes
        head = bytes([(gap << 4) | typ]) if gap <= 15 else bytes([typ]) + zz(fid)
        payload += head + body
        expect[fid] = v
    return payload + b"\x00", expect


@given(_thrift_struct())
@settings(max_examples=150, deadline=None)
def test_thrift_reader_on_random_structs(enc_expect):
    """The generic compact-protocol reader decodes arbitrary hand-
    encoded structs exactly — field-id gaps both header forms, nested
    structs, long-form lists — and consumes exactly the encoded span."""
    from mapreduce__spark.sources.parquet_footer import _read_struct

    enc, expect = enc_expect
    fields, end = _read_struct(enc, 0)
    assert end == len(enc)
    assert fields == expect


@given(
    st.lists(
        st.tuples(st.booleans(), st.integers(1, 80), st.integers(1, 70)),
        min_size=1, max_size=25,
    ),
    st.integers(0, 3),
)
@settings(max_examples=150, deadline=None)
def test_snappy_decoder_on_hand_encoded_streams(ops, lit_form):
    """A hand-rolled snappy ENCODER exercises the element shapes
    pyarrow's compressor rarely or never emits — all four literal
    length forms (tag-embedded and 1/2/3-byte), copy-2 and copy-4
    elements, minimum-length overlapping copies — and the decoder must
    reproduce the stream exactly."""
    from mapreduce__spark.sources.parquet_footer import snappy_decompress

    def vint(n):
        out = b""
        while True:
            if n < 0x80:
                return out + bytes([n])
            out += bytes([(n & 0x7F) | 0x80])
            n >>= 7

    data = bytearray()
    enc = bytearray()

    def emit_literal(chunk: bytes, form: int):
        ln = len(chunk) - 1
        if form == 0 and ln < 60:
            enc.append(ln << 2)
        else:
            nbytes = max(1, (ln.bit_length() + 7) // 8)
            nbytes = min(nbytes, 3)
            enc.append((59 + nbytes) << 2)
            enc.extend(ln.to_bytes(nbytes, "little"))
        enc.extend(chunk)
        data.extend(chunk)

    for is_copy, a, b_ in ops:
        if not data or not is_copy:
            chunk = bytes((7 * a + 13 * i + b_) % 256 for i in range(a))
            emit_literal(chunk, lit_form % 4 if len(chunk) >= 60 else 0)
            continue
        off = (a % len(data)) + 1
        length = b_ % 60 + 4
        kind = (a + b_) % 3
        if kind == 0 and 4 <= length <= 11 and off < 2048:
            enc.append(0x01 | (((length - 4) & 7) << 2) | ((off >> 8) << 5))
            enc.append(off & 0xFF)
        elif kind == 1 and off < 65536:
            enc.append(0x02 | ((length - 1) << 2))
            enc.extend(off.to_bytes(2, "little"))
        else:
            enc.append(0x03 | ((length - 1) << 2))
            enc.extend(off.to_bytes(4, "little"))
        for _ in range(length):
            data.append(data[-off])
    stream = vint(len(data)) + bytes(enc)
    assert snappy_decompress(stream) == bytes(data)


def test_snappy_malformed_streams_are_loud():
    """Offset 0, offset beyond output, and a wrong declared length each
    raise ValueError, never IndexError or silent garbage."""
    import pytest as _pytest

    from mapreduce__spark.sources.parquet_footer import snappy_decompress

    # literal 'ab' then copy-1 with offset 0
    with _pytest.raises(ValueError, match="offset"):
        snappy_decompress(bytes([6]) + bytes([1 << 2]) + b"ab" + bytes([0x01, 0x00]))
    # literal 'ab' then copy-1 with offset 5 > output length
    with _pytest.raises(ValueError, match="offset"):
        snappy_decompress(bytes([6]) + bytes([1 << 2]) + b"ab" + bytes([0x01, 0x05]))
    # declared length disagrees with produced bytes
    with _pytest.raises(ValueError, match="length"):
        snappy_decompress(bytes([9]) + bytes([1 << 2]) + b"ab")
