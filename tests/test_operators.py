"""Quality tests for the approximate / rows-only operators: the properties
an oracle hash can't check (recall, error bounds, hamming behavior)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce__spark.operators.dedup import (
    exact_jaccard_pairs,
    hamming64,
    lsh_near_duplicate_pairs,
    simhash_fingerprint,
)
from mapreduce__spark.operators.multimodal import extract_features, with_binary_payload
from mapreduce__spark.operators.similarity import brute_force_topk, lsh_topk
from mapreduce__spark.sources import load_table


def test_lsh_recall_vs_exact(spark, sf_oracle):
    """MinHash-LSH (16 hashes / 8 bands) must recover every exact pair at
    threshold 0.8 on this corpus (planted dups are j>=0.98 where candidate
    probability is ~1) and, being exact-verified, emit nothing extra."""
    docs = load_table(spark, sf_oracle, "documents")
    exact = {(r.id1, r.id2) for r in exact_jaccard_pairs(docs, 0.8).collect()}
    lsh = {(r.id1, r.id2) for r in lsh_near_duplicate_pairs(docs, 0.8).collect()}
    assert exact, "corpus should contain planted near-duplicates"
    assert lsh == exact


def test_minhash_fold_family_matches_aggregate(spark, sf_oracle):
    """The fold form (minhash_fold_expr, xxhash64 branch) and the
    aggregate form (minhash_signature) must emit BIT-IDENTICAL signatures
    — a persisted signature table written by one must join against the
    other (the incremental-dedup deployment shape)."""
    from mapreduce__spark.functions.text import tokenize, word_ngrams
    from mapreduce__spark.operators.dedup import minhash_fold_expr, minhash_signature

    docs = load_table(spark, sf_oracle, "documents").where(F.col("doc_id") < 60)
    fold = {
        r.doc_id: tuple(r.mh)
        for r in docs.select(
            "doc_id",
            minhash_fold_expr(
                word_ngrams(tokenize(F.col("text")), 3), 8, "xxhash64"
            ).alias("mh"),
        ).collect()
    }
    agg = {r.doc_id: tuple(r.mh) for r in minhash_signature(docs, 8).collect()}
    assert fold == agg


def test_incremental_pairs_cross_slice_only(spark, sf_oracle):
    """lsh_incremental_pairs must (a) recover exactly the exact-Jaccard
    pairs that straddle the new/ref slices — in either orientation — and
    (b) emit NO ref×ref or new×new pair, the structural point of the
    incremental shape."""
    from mapreduce__spark.operators.dedup import lsh_incremental_pairs

    docs = load_table(spark, sf_oracle, "documents")
    is_new = F.col("doc_id") % 5 == 0
    new, ref = docs.where(is_new), docs.where(~is_new)
    got = {(r.new_id, r.ref_id) for r in lsh_incremental_pairs(new, ref, 0.8).collect()}
    exact = {(r.id1, r.id2) for r in exact_jaccard_pairs(docs, 0.8).collect()}
    want = {
        (a, b) if a % 5 == 0 else (b, a)
        for a, b in exact
        if (a % 5 == 0) != (b % 5 == 0)
    }
    assert want, "corpus should contain planted dups straddling the slices"
    assert got == want
    assert all(a % 5 == 0 and b % 5 != 0 for a, b in got)


def test_incremental_pairs_with_persisted_signatures(spark, sf_oracle, tmp_path):
    """The production deployment shape: reference signatures written to
    parquet once, read back, and passed to lsh_incremental_pairs — must
    produce exactly the same pairs as recomputing signatures from text
    (the hash family is deterministic, so persisted and fresh signatures
    are bit-identical)."""
    from mapreduce__spark.operators.dedup import (
        lsh_incremental_pairs,
        minhash_signature,
    )

    docs = load_table(spark, sf_oracle, "documents")
    is_new = F.col("doc_id") % 5 == 0
    new, ref = docs.where(is_new), docs.where(~is_new)

    sig_path = str(tmp_path / "ref_signatures.parquet")
    minhash_signature(ref, 16).write.parquet(sig_path)
    persisted = spark.read.parquet(sig_path)

    fresh = {
        (r.new_id, r.ref_id)
        for r in lsh_incremental_pairs(new, ref, 0.8).collect()
    }
    reused = {
        (r.new_id, r.ref_id)
        for r in lsh_incremental_pairs(
            new, ref, 0.8, ref_signatures=persisted
        ).collect()
    }
    assert fresh and reused == fresh


def test_ml_minhash_matches_exact_pairs(spark, sf_oracle):
    """The Spark ML MinHashLSH variant must recover the exact pair set at
    threshold 0.8 on this corpus (planted dups are far from the
    threshold, so LSH recall ~1 and hashing collisions are negligible)."""
    from mapreduce__spark.operators.dedup import ml_minhash_pairs

    docs = load_table(spark, sf_oracle, "documents")
    exact = {(r.id1, r.id2) for r in exact_jaccard_pairs(docs, 0.8).collect()}
    ml = {(r.id1, r.id2) for r in ml_minhash_pairs(docs, 0.8).collect()}
    assert ml == exact


def test_phase_timer():
    """F11 parity: phase wall-times accumulate and format like the
    reference's log ('<phase> took <ns> ns')."""
    import re

    from mapreduce__spark.metrics import PhaseTimer

    t = PhaseTimer()
    with t.phase("map_shuffle"):
        sum(range(1000))
    with t.phase("reduce"):
        pass
    with t.phase("reduce"):
        pass
    d = t.durations_ns()
    assert set(d) == {"map_shuffle", "reduce"} and d["map_shuffle"] > 0
    assert all(re.match(r"\[\d\d\.\d\d\.\d{4} .*\] \w+ took \d+ ns", s) for s in t.log_lines())


def test_simhash_separates_near_dups(spark, sf_oracle):
    """Hamming distance between planted near-dup pairs must sit well below
    the distance between random pairs."""
    docs = load_table(spark, sf_oracle, "documents")
    fp = simhash_fingerprint(docs, bits=32)
    pairs = exact_jaccard_pairs(docs, 0.8)
    a = fp.select(F.col("doc_id").alias("id1"), F.col("simhash").alias("h1"))
    b = fp.select(F.col("doc_id").alias("id2"), F.col("simhash").alias("h2"))
    dup_d = (
        pairs.join(a, "id1").join(b, "id2").select(hamming64(F.col("h1"), F.col("h2")).alias("d"))
    ).agg(F.avg("d")).first()[0]
    rand_d = (
        a.crossJoin(b)
        .where(F.col("id1") + 137 == F.col("id2"))  # arbitrary non-dup pairing
        .select(hamming64(F.col("h1"), F.col("h2")).alias("d"))
    ).agg(F.avg("d")).first()[0]
    assert dup_d < rand_d / 2, (dup_d, rand_d)


def test_ann_lsh_recall(spark, sf_oracle):
    """LSH ANN must recover a reasonable fraction of the true top-5 (8
    hyperplanes / 500 vectors => bucket ~2 candidates; recall is traded
    for candidate count — assert it beats random and self-consistency)."""
    emb = load_table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    truth = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {(r.query_id, r.neighbor_id) for r in lsh_topk(emb, qids, k=5, n_planes=4).collect()}
    # every returned neighbor must share the query's bucket and scores are
    # exact; demand non-trivial overlap with the true top-5
    assert len(approx & truth) >= 3, (len(approx & truth), approx)


def test_ann_ivf_recall(spark, sf_oracle):
    """IVF with nprobe=2 of 8 cells must recover a majority of the true
    top-5 across the 5 query vectors (random data ⇒ clusters are weak,
    but probed cells still dominate the similarity mass)."""
    from mapreduce__spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_oracle, "embeddings")
    qids = [0, 1, 2, 3, 4]
    truth = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qids, k=5).collect()}
    ivf = {(r.query_id, r.neighbor_id) for r in ivf_topk(emb, qids, k=5).collect()}
    assert len(ivf & truth) >= 10, (len(ivf & truth), sorted(ivf)[:10])


def test_approx_percentile_error(spark, sf_oracle):
    """The sketch percentile (the 100 TB path) must land within 2% of the
    exact interpolated percentile."""
    o = load_table(spark, sf_oracle, "orders")
    rows = o.agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9], 1000).alias("approx"),
        F.percentile("o_totalprice", F.array(F.lit(0.5), F.lit(0.9))).alias("exact"),
    ).first()
    for a, e in zip(rows.approx, rows.exact):
        assert abs(a - e) <= 0.02 * e, (a, e)


def test_hll_mergeable_matches_exact_within_5pct(spark, sf_oracle):
    """The two-level sketch path (day sketches -> union) must land within
    ±5% of exact COUNT(DISTINCT) per event_type — merging sketches is
    lossless relative to sketching the union, so the error budget is the
    sketch's own."""
    from mapreduce__spark.plans import REGISTRY

    got = {
        r.event_type: r.est_users
        for r in REGISTRY["distinct_users_hll_mergeable"].fn(spark, sf_oracle).collect()
    }
    ev = load_table(spark, sf_oracle, "events")
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(got) == set(want)
    for et, exact in want.items():
        assert abs(got[et] - exact) <= max(1, 0.05 * exact), (et, got[et], exact)


def test_bpe_pair_counts_matches_naive(spark, tmp_path):
    """bpe_pair_counts over a tiny synthetic corpus must equal a naive
    Python pair count — including the 1-token-doc guard (no pairs) and
    the deterministic (count desc, pair asc) top-cut."""
    from collections import Counter

    from mapreduce__spark.plans import REGISTRY

    texts = ["a b a b c", "b", "", "a b", "c c c c", "b c b c b c"]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{d}/documents.parquet")
    got = [
        (r.left_tok, r.right_tok, r.n_pairs)
        for r in REGISTRY["bpe_pair_counts"].fn(spark, d).collect()
    ]
    naive: Counter = Counter()
    for t in texts:
        toks = t.split(" ")
        if len(toks) >= 2:
            for a, b in zip(toks, toks[1:]):
                naive[(a, b)] += 1
    want = sorted(
        ((a, b, n) for (a, b), n in naive.items()),
        key=lambda x: (-x[2], x[0], x[1]),
    )[:50]
    assert sorted(got, key=lambda x: (-x[2], x[0], x[1])) == want


def test_chunked_packing_fills_every_bin(spark, sf_oracle):
    """sequence_packing_chunked's defining invariant: every bin's chunk
    tokens sum to EXACTLY the 2048 budget except the final bin, and
    per-doc chunk totals reassemble each doc's token count."""
    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.sources import load_table

    df = REGISTRY["sequence_packing_chunked"].fn(spark, sf_oracle)
    totals = (
        df.groupBy("bin").agg(F.sum("tokens_in_bin").alias("t")).orderBy("bin").collect()
    )
    assert all(r.t == 2048 for r in totals[:-1])
    assert 0 < totals[-1].t <= 2048
    per_doc = {
        r.doc_id: r.t
        for r in df.groupBy("doc_id").agg(F.sum("tokens_in_bin").alias("t")).collect()
    }
    docs = load_table(spark, sf_oracle, "documents")
    want = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", F.ceil(F.length("text") / 4.0).cast("bigint").alias("n")
        ).collect()
        if r.n > 0
    }
    assert per_doc == want


def test_approx_count_distinct_error(spark, sf_oracle):
    """HLL++ at rsd=2% must land within 5% of the exact distinct count."""
    ev = load_table(spark, sf_oracle, "events")
    got = {
        r.event_type: r.approx_users
        for r in ev.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .collect()
    }
    want = {
        r.event_type: r.exact
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    for k, exact in want.items():
        assert abs(got[k] - exact) <= max(1, 0.05 * exact), (k, got[k], exact)


def test_word_ngrams_short_doc_guard(spark):
    """Documents with fewer than n tokens must yield EMPTY gram arrays —
    an unguarded sequence(1, size-n+1) would count DOWN and emit garbage."""
    from mapreduce__spark.functions.text import tokenize, word_ngrams

    df = spark.createDataFrame(
        [("",), ("one",), ("one two",), ("one two three",), ("a b c d",)], "text string"
    )
    rows = df.select(word_ngrams(tokenize(F.col("text")), 3).alias("g")).collect()
    assert [len(r.g) for r in rows] == [0, 0, 0, 1, 2]
    assert rows[3].g == ["one two three"]
    assert rows[4].g == ["a b c", "b c d"]


def test_lang_id_tie_order(spark):
    """Ties resolve to the earlier language in LANG_ORDER (en > de > fr)."""
    from mapreduce__spark.functions.text import lang_id_expr, tokenize

    df = spark.createDataFrame(
        [("the der le",), ("der le x",), ("le la les y",), ("x y z",)], "text string"
    )
    got = [r.p for r in df.select(lang_id_expr(tokenize(F.col("text"))).alias("p")).collect()]
    assert got == ["en", "de", "fr", "en"]  # all-zero hits tie -> 'en'


def test_search_cli_on_reference_dir(spark, tmp_path):
    """Run the Search client against a copy of the reference repo's
    directory listing (its four files: Makefile, MapReduceFramework.cpp,
    Search.cpp, README) — the exact workload shape of Search.cpp's CLI.
    Search matches file NAMES, so the contents are placeholders."""
    from mapreduce__spark.search_cli import search

    for name in ("Makefile", "MapReduceFramework.cpp", "Search.cpp", "README"):
        (tmp_path / name).write_text(f"{name}\n")
    ref = str(tmp_path)
    got = [r.file for r in search(spark, "Make", [ref]).collect()]
    assert got == ["Makefile"]  # case-sensitive substring: only Makefile
    got = [r.file for r in search(spark, ".cpp", [ref]).collect()]
    assert got == ["MapReduceFramework.cpp", "Search.cpp"]


def test_multimodal_plumbing(spark, sf_small):
    """Binary payload round-trip: byte lengths and checksums from the
    Arrow-batched decode stub must match driver-side recomputation."""
    docs = load_table(spark, sf_small, "documents")
    feats = {r.doc_id: r for r in extract_features(with_binary_payload(docs)).collect()}
    for row in docs.select("doc_id", "text").limit(20).collect():
        b = row.text.encode("utf-8")
        f = feats[row.doc_id]
        assert f.byte_len == len(b)
        assert f.fake_width == (b[0] % 64) + 1
        assert f.fake_height == (b[-1] % 64) + 1
        assert f.checksum == sum(b[:256])


def test_multimodal_arrow_variant_matches_pandas(spark, sf_small):
    """mapInArrow and mapInPandas decode paths must produce identical
    feature rows."""
    from mapreduce__spark.operators.multimodal import extract_features_arrow

    docs = load_table(spark, sf_small, "documents")
    mm = with_binary_payload(docs)
    a = sorted(map(tuple, extract_features(mm).collect()))
    b = sorted(map(tuple, extract_features_arrow(mm).collect()))
    assert a == b


def test_image_header_parser_real_formats():
    """Byte-level header parsing of hand-built PNG/GIF/JPEG fixtures —
    including ones NOT produced by the synthesizer (different field
    values, extra JPEG segments) — plus garbage rejection."""
    import struct
    import zlib

    from mapreduce__spark.operators.multimodal import parse_image_header

    # hand-built PNG 640x480
    ihdr = struct.pack(">II5B", 640, 480, 8, 6, 0, 0, 0)
    chunk = b"IHDR" + ihdr
    png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + chunk + struct.pack(
        ">I", zlib.crc32(chunk)
    )
    assert parse_image_header(png) == ("png", 640, 480)
    # GIF87a 320x200
    assert parse_image_header(b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00") == (
        "gif",
        320,
        200,
    )
    # JPEG with an extra APP1 (EXIF-like) segment before SOF2 (progressive)
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x01\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8" + app1 + sof2) == ("jpeg", 1920, 1080)
    # BMP: BITMAPINFOHEADER with a NEGATIVE height (legal top-down
    # layout) — magnitude reported
    bmp = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
        + struct.pack("<Iii", 40, 800, -600) + bytes(16)
    )
    assert parse_image_header(bmp) == ("bmp", 800, 600)
    # BMP: legacy BITMAPCOREHEADER (DIB size 12, unsigned 16-bit dims at
    # 18/20) — must NOT be read through the INFOHEADER layout, which
    # would splice planes/bpp into the height
    core = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 26)
        + struct.pack("<IHHHH", 12, 320, 240, 1, 24)
    )
    assert parse_image_header(core) == ("bmp", 320, 240)
    # BMP with an unrecognized DIB header size: rejected, not garbage
    weird = (
        b"BM" + struct.pack("<IHHI", 0, 0, 0, 54)
        + struct.pack("<Iii", 16, 800, 600) + bytes(16)
    )
    assert parse_image_header(weird) == ("unknown", 0, 0)
    # rejection
    assert parse_image_header(b"") == ("unknown", 0, 0)
    assert parse_image_header(b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09") == ("unknown", 0, 0)


def test_bmp_pixel_decode_layouts_and_rejection():
    """Full BMP pixel decode: bottom-up and top-down files with the same
    logical pixels must decode identically (row order normalized, stride
    padding skipped), and unsupported variants are rejected, not
    mis-decoded."""
    import struct

    import pytest

    from mapreduce__spark.operators.multimodal import (
        decode_bmp_pixels,
        synth_bmp_bytes,
    )

    # doc_id 10 is top-down (10 % 5 == 0), doc_id 11 bottom-up; both must
    # agree with the generative formulas.
    for doc_id in (10, 11):
        b = synth_bmp_bytes(doc_id)
        w, h, n, sum_r, sum_g, sum_b, topleft = decode_bmp_pixels(b)
        assert (w, h, n) == (doc_id % 13 + 4, (doc_id * 7) % 11 + 4, w * h)
        want_r = sum((3 * doc_id + 11 * x + y) % 256 for x in range(w) for y in range(h))
        want_g = sum((2 * doc_id + x + 7 * y) % 256 for x in range(w) for y in range(h))
        want_b = sum((doc_id + 3 * x + 5 * y) % 256 for x in range(w) for y in range(h))
        assert (sum_r, sum_g, sum_b) == (want_r, want_g, want_b)
        assert topleft == (3 * doc_id) % 256 + (2 * doc_id) % 256 + doc_id % 256

    # a 4-wide row has zero padding; a 5-wide row pads 1 byte — decode of
    # both already covered above via the doc_id sweep; now rejection:
    good = synth_bmp_bytes(7)
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp_pixels(b"XX" + good[2:])
    # 8bpp variant
    bad_bpp = bytearray(good)
    bad_bpp[28:30] = struct.pack("<H", 8)
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp_pixels(bytes(bad_bpp))
    # RLE compression flag
    bad_comp = bytearray(good)
    bad_comp[30:34] = struct.pack("<I", 1)
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp_pixels(bytes(bad_comp))
    # truncated pixel array
    with pytest.raises(ValueError, match="truncated"):
        decode_bmp_pixels(good[:-4])


def test_wav_pcm_decode_hazards_and_rejection():
    """Full PCM16 WAV sample decode: junk-chunk skipping (odd size + pad
    byte), data-before-fmt ordering, interleaving via sum_ch0, and
    rejection of non-PCM variants."""
    import struct

    import pytest

    from mapreduce__spark.operators.multimodal import (
        decode_wav_pcm,
        synth_wav_pcm_bytes,
    )

    # doc_id 14: even (junk LIST chunk) AND % 7 == 0 (data before fmt) —
    # both hazards at once; doc_id 13: stereo, canonical layout.
    for doc_id in (13, 14):
        ch = doc_id % 2 + 1
        nf = doc_id % 60 + 4
        got = decode_wav_pcm(synth_wav_pcm_bytes(doc_id))
        flat = [
            ((31 * doc_id + 7 * n + 13 * c) % 65536) - 32768
            for n in range(nf)
            for c in range(ch)
        ]
        want = (
            ch,
            (8000, 16000, 44100, 48000)[doc_id % 4],
            nf,
            sum(flat),
            min(flat),
            max(flat),
            flat[0],
            sum(flat[::ch]),
        )
        assert got == want

    good = synth_wav_pcm_bytes(13)
    with pytest.raises(ValueError, match="not a WAV"):
        decode_wav_pcm(b"XXXX" + good[4:])
    # IEEE-float format code (3) must be rejected, not mis-read as PCM
    bad = bytearray(good)
    fmt_at = bad.find(b"fmt ")
    bad[fmt_at + 8 : fmt_at + 10] = struct.pack("<H", 3)
    with pytest.raises(ValueError, match="unsupported"):
        decode_wav_pcm(bytes(bad))
    # corrupt fmt declaring block_align=0 must reject, not ZeroDivide
    bad = bytearray(good)
    bad[fmt_at + 20 : fmt_at + 22] = struct.pack("<H", 0)
    with pytest.raises(ValueError, match="block alignment"):
        decode_wav_pcm(bytes(bad))
    # data chunk truncated mid-frame
    with pytest.raises(ValueError, match="missing fmt or data|truncated"):
        decode_wav_pcm(good[:-3])


def test_media_header_parsers_spec_edge_cases():
    """Real-world container quirks: JPEG fill bytes/RST markers/SOS
    cutoff, WAV odd-chunk padding and data-before-fmt ordering, MP4
    64-bit largesize boxes."""
    import struct

    from mapreduce__spark.operators.multimodal import (
        parse_image_header,
        parse_mp4_header,
        parse_wav_header,
    )

    # JPEG: fill bytes + EXIF APP1 + restart marker before SOF0
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    assert parse_image_header(b"\xff\xd8" + b"\xff\xff\xff" + app1 + b"\xff\xd0" + sof0) == ("jpeg", 640, 480)
    # SOS before any SOF: stop — never desync into entropy-coded data
    sos = b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x00\x00"
    assert parse_image_header(b"\xff\xd8" + sos + b"\xff\xc0GARBAGE") == ("jpeg", 0, 0)

    # WAV: odd-sized LIST chunk (pad byte) before fmt; data before fmt
    fmtc = b"fmt " + struct.pack("<I", 16) + struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    odd = b"LIST" + struct.pack("<I", 5) + b"INFOX" + b"\x00"
    data_hdr = b"data" + struct.pack("<I", 400)
    wav = b"RIFF" + struct.pack("<I", 0) + b"WAVE" + odd + fmtc + data_hdr
    assert parse_wav_header(wav) == (2, 44100, 16, 100)
    wav_data_first = (
        b"RIFF" + struct.pack("<I", 0) + b"WAVE" + data_hdr + b"\x00" * 400 + fmtc
    )
    assert parse_wav_header(wav_data_first) == (2, 44100, 16, 100)

    # MP4: size==1 largesize mdat before moov
    mvhd_payload = b"\x00\x00\x00\x00" + struct.pack(">II", 0, 0) + struct.pack(">II", 600, 1200) + bytes(80)
    mvhd = struct.pack(">I", 8 + len(mvhd_payload)) + b"mvhd" + mvhd_payload
    moov = struct.pack(">I", 8 + len(mvhd)) + b"moov" + mvhd
    ftyp = struct.pack(">I", 16) + b"ftypisom" + struct.pack(">I", 512)
    mdat = struct.pack(">I", 1) + b"mdat" + struct.pack(">Q", 48) + b"\x00" * 32
    assert parse_mp4_header(ftyp + mdat + moov) == ("isom", 600, 1200)


def test_webp_flac_header_parsers_spec_edge_cases():
    """WebP RIFF chunk walk (VP8X canvas fields, VP8L packed dimensions,
    lossy VP8 frame tag, chunk-skip over metadata) and FLAC metadata-block
    walk (STREAMINFO after a preceding block, bit-packed fields), plus
    garbage rejection on both."""
    import struct

    from mapreduce__spark.operators.multimodal import (
        parse_flac_streaminfo,
        parse_webp_header,
        synth_flac_bytes,
        synth_webp_bytes,
    )

    # hand-built VP8X with an ICCP chunk (odd size → pad byte) BEFORE it
    iccp = b"ICCP" + struct.pack("<I", 3) + b"abc" + b"\x00"
    vp8x_payload = b"\x20\x00\x00\x00" + (799).to_bytes(3, "little") + (599).to_bytes(3, "little")
    vp8x = b"VP8X" + struct.pack("<I", 10) + vp8x_payload
    body = b"WEBP" + iccp + vp8x
    webp = b"RIFF" + struct.pack("<I", len(body)) + body
    assert parse_webp_header(webp) == ("vp8x", 800, 600)

    # hand-built VP8L 1000x700
    packed = (1000 - 1) | ((700 - 1) << 14)
    vp8l = b"VP8L" + struct.pack("<I", 5) + b"\x2f" + struct.pack("<I", packed)
    body = b"WEBP" + vp8l
    assert parse_webp_header(b"RIFF" + struct.pack("<I", len(body)) + body) == (
        "vp8l", 1000, 700,
    )

    # hand-built lossy VP8: frame tag then 14-bit dimensions at payload+6
    vp8 = b"VP8 " + struct.pack("<I", 10) + bytes(6) + struct.pack("<HH", 320, 240)
    body = b"WEBP" + vp8
    assert parse_webp_header(b"RIFF" + struct.pack("<I", len(body)) + body) == (
        "vp8", 320, 240,
    )
    assert parse_webp_header(b"") == ("unknown", 0, 0)
    assert parse_webp_header(b"RIFF\x00\x00\x00\x00WAVEfmt ") == ("unknown", 0, 0)

    # FLAC: a padding block (type 1) before a last STREAMINFO — the walk
    # must skip it; synthesizer round-trip covers the packed-field math.
    si = synth_flac_bytes(12345)[4:]  # header+34-byte STREAMINFO
    pad = b"\x01" + (4).to_bytes(3, "big") + bytes(4)
    assert parse_flac_streaminfo(b"fLaC" + pad + si) == (16000, 2, 16, 12346)
    assert parse_flac_streaminfo(b"") == (0, 0, 0, 0)
    assert parse_flac_streaminfo(b"fLaX" + pad + si) == (0, 0, 0, 0)

    # synthesizer round-trips across the id space, both variants
    for i in (0, 1, 2, 511, 512, 99999, 123456):
        variant, w, h = parse_webp_header(synth_webp_bytes(i))
        assert (variant, w, h) == (
            "vp8x" if i % 2 == 0 else "vp8l",
            (i % 512) + 16,
            ((i * 7) % 512) + 16,
        )
        rate, ch, bits, total = parse_flac_streaminfo(synth_flac_bytes(i))
        assert (rate, ch, bits, total) == (
            (8000, 16000, 44100, 48000)[i % 4], i % 2 + 1, 16, i % 100000 + 1,
        )


def test_multimodal_metadata_struct(spark, sf_small):
    """The multimodal row shape carries a typed metadata struct."""
    mm = with_binary_payload(load_table(spark, sf_small, "documents"))
    assert [f.name for f in mm.schema["meta"].dataType.fields] == [
        "byte_len",
        "mime",
        "content_md5",
    ]
    assert mm.schema["payload"].dataType.typeName() == "binary"


def test_media_header_parsers_fuzz_never_crash():
    """Arbitrary bytes must parse to a well-formed tuple — never raise,
    never hang (all three walks make strictly positive progress)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mapreduce__spark.operators.multimodal import (
        parse_image_header,
        parse_mp4_header,
        parse_wav_header,
    )

    from mapreduce__spark.operators.multimodal import resize_image_header

    @settings(max_examples=300, deadline=None)
    @given(st.binary(max_size=256))
    def check(b):
        fmt, w, h = parse_image_header(b)
        assert isinstance(fmt, str) and w >= 0 and h >= 0
        ch, rate, bits, nf = parse_wav_header(b)
        assert min(ch, rate, bits, nf) >= 0
        brand, ts, dur = parse_mp4_header(b)
        assert isinstance(brand, str) and ts >= 0 and dur >= 0
        # resize on arbitrary bytes: never raises, output still parseable
        out = resize_image_header(b, 32, 32)
        assert isinstance(out, bytes)
        parse_image_header(out)

    check()

    # seeded structured fuzz: valid signatures + garbage tails
    import random

    rng = random.Random(11)
    for prefix in (b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8", b"RIFF", b"\x00\x00\x00\x10ftyp"):
        for _ in range(50):
            tail = bytes(rng.randrange(256) for _ in range(rng.randrange(64)))
            parse_image_header(prefix + tail)
            parse_wav_header(prefix + tail)
            parse_mp4_header(prefix + tail)


def test_resize_image_header_roundtrip_and_passthrough():
    """resize_image_header must rewrite dimensions for every synthesized
    format (with a VALID recomputed PNG CRC), preserve hand-built JPEGs
    with leading segments, and pass unknown bytes through untouched."""
    import struct
    import zlib

    from mapreduce__spark.operators.multimodal import (
        parse_image_header,
        resize_image_header,
        synth_image_bytes,
    )

    for doc_id in (0, 1, 2, 511, 512, 77):  # covers png/gif/jpeg branches
        b = synth_image_bytes(doc_id)
        fmt, _, _ = parse_image_header(b)
        out = resize_image_header(b, 123, 45)
        assert parse_image_header(out) == (fmt, 123, 45)
    # PNG CRC must be recomputed, not copied stale
    png = resize_image_header(synth_image_bytes(0), 99, 33)
    ihdr_len = struct.unpack(">I", png[8:12])[0]
    chunk = png[12 : 16 + ihdr_len]
    crc = struct.unpack(">I", png[16 + ihdr_len : 20 + ihdr_len])[0]
    assert crc == (zlib.crc32(chunk) & 0xFFFFFFFF)
    # JPEG with an extra APP1 segment before SOF keeps its prefix intact
    app1 = b"\xff\xe1" + struct.pack(">H", 8) + b"Exif\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x01\x01\x11\x00"
    jpg = b"\xff\xd8" + app1 + sof0
    out = resize_image_header(jpg, 320, 240)
    assert out[: len(b"\xff\xd8" + app1)] == b"\xff\xd8" + app1
    assert parse_image_header(out) == ("jpeg", 320, 240)
    # unknown bytes: untouched
    junk = b"\x00\x01\x02\x03\x04\x05\x06\x07\x08\x09"
    assert resize_image_header(junk, 10, 10) == junk


def test_sample_frames_expansion_and_nulls(spark):
    """sample_frames: exact 1→N expansion (count = ceil(n_frames/stride)),
    integer-ms timestamps, NULL and non-WAV payloads dropped, and an
    all-filtered batch still honors the int64 schema (empty-batch path)."""
    from mapreduce__spark.operators.multimodal import sample_frames, synth_wav_bytes

    rows = [
        (7, synth_wav_bytes(7)),        # n_frames=8, rate=48000
        (250, synth_wav_bytes(250)),    # n_frames=251, rate=44100
        (3, None),                      # NULL payload: dropped
        (4, b"not a wav at all"),       # unparseable: dropped
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = sorted(
        (r.doc_id, r.frame_idx, r.ts_ms) for r in sample_frames(df, 100).collect()
    )
    want = []
    for did, nf, rate in ((7, 8, 48000), (250, 251, 44100)):
        for fi in range(0, nf, 100):
            want.append((did, fi, fi * 1000 // rate))
    assert got == sorted(want)
    # all rows filtered => empty result, schema still int64-typed
    nulls = spark.createDataFrame([(1, None)], "doc_id bigint, payload binary")
    empty = sample_frames(nulls, 100)
    assert empty.collect() == []
    assert [f.dataType.simpleString() for f in empty.schema.fields] == [
        "bigint", "bigint", "bigint"
    ]


def test_heavy_hitters_contains_all_true_heavy_values(spark, sf_oracle):
    """freqItems' one-sided guarantee: every value with true frequency
    >= support must appear among the candidates (false positives are
    allowed and expected at this support)."""
    from mapreduce__spark.plans import REGISTRY

    got = {
        r.candidate_heavy_hitter
        for r in REGISTRY["heavy_hitters_approx"].fn(spark, sf_oracle).collect()
    }
    o = load_table(spark, sf_oracle, "orders")
    total = o.count()
    # STRICT >: the freqItems guarantee only covers frequency strictly
    # above the support; an exactly-at-support value may legitimately be
    # evicted from the summary.
    true_heavy = {
        r.o_orderpriority
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 0.1 * total)
        .collect()
    }
    assert true_heavy, "fixture should have at least one heavy value"
    assert true_heavy <= got


def test_quantize_int8_codes_in_range_and_error_bounded(spark, sf_oracle):
    """Quantization invariants the oracle hash can't express directly:
    every code sits in [0, 255], and dequantizing recovers each raw value
    to within half a quantization step per dimension."""
    import numpy as np

    from mapreduce__spark.plans import REGISTRY

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in load_table(spark, sf_oracle, "embeddings").collect()
    }
    X = np.stack(list(emb.values()))
    lo, hi = X.min(axis=0), X.max(axis=0)
    scale = (hi - lo) / 255.0

    out = REGISTRY["embedding_quantize_int8"].fn(spark, sf_oracle).collect()
    assert len(out) == len(emb)
    for r in out:
        q = np.asarray([int(v) for v in r.q_csv.split(",")], dtype=np.int64)
        assert q.min() >= 0 and q.max() <= 255
        dequant = lo + q * scale
        err = np.abs(dequant - emb[r.vec_id])
        # half a step plus fp slack; where a dim is constant, scale==0 and
        # the code is pinned to 0 with dequant == lo == the value
        assert (err <= scale / 2 + 1e-9).all()


def test_bpe_encode_matches_pure_python_reference(spark, sf_oracle):
    """The distributed BPE query must equal a single-threaded pure-Python
    train+encode over the same corpus EXACTLY (same top-V head, same
    deterministic argmax, same greedy ranks) — the rows-only gate that
    stands in for a SQL oracle on this iterative operator."""
    from collections import Counter

    from mapreduce__spark.functions.bpe import encode_tokens, train_bpe_merges
    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.plans.tier2_pipeline import BPE_NUM_MERGES, BPE_TRAIN_VOCAB

    rows = load_table(spark, sf_oracle, "documents").select("doc_id", "text").collect()
    freq = Counter()
    for r in rows:
        # empty split artifacts are excluded from training on both sides
        freq.update(w for w in (r.text.split(" ") if r.text else []) if w)
    head = dict(
        sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TRAIN_VOCAB]
    )
    ranks = {p: i for i, p in enumerate(train_bpe_merges(head, BPE_NUM_MERGES))}
    memo: dict = {}
    want = {}
    for r in rows:
        words = r.text.split(" ") if r.text else []
        pieces = encode_tokens(words, ranks, memo)
        want[r.doc_id] = (len(words), len(pieces), " ".join(pieces[:12]))

    got = {
        r.doc_id: (r.n_tokens, r.n_pieces, r.pieces_head)
        for r in REGISTRY["bpe_encode"].fn(spark, sf_oracle).collect()
    }
    assert got == want
    # and the encoding actually compresses: pieces < chars, pieces >= words
    assert all(p >= w for w, p, _ in want.values())


def test_observe_counts_single_scan_metrics(spark, sf_oracle):
    """Observation metrics ride the SAME action as the consumer: the
    quality gate's kept/dropped counts come out of one pass and match an
    independent recount."""
    from mapreduce__spark.functions.text import gopher_keep_expr
    from mapreduce__spark.metrics import observe_counts

    docs = load_table(spark, sf_oracle, "documents")
    flagged = docs.select("doc_id", gopher_keep_expr(F.col("text")).alias("keep"))
    flagged, obs = observe_counts(
        flagged,
        "quality",
        n=F.count(F.lit(1)),
        kept=F.sum(F.col("keep").cast("long")),
    )
    kept_rows = flagged.where(F.col("keep")).count()  # the one action
    stats = obs.get
    assert stats["n"] == docs.count()
    assert stats["kept"] == kept_rows
    assert 0 < kept_rows < stats["n"] or kept_rows == stats["n"]


def test_tiff_ogg_header_parsers_spec_edge_cases():
    """TIFF IFD walk on hand-built fixtures the synthesizer never emits
    (big-endian LONG-typed dimensions, extra leading tags) and Ogg pages
    with multi-entry segment tables; garbage rejection on both."""
    import struct

    from mapreduce__spark.operators.multimodal import (
        parse_ogg_opus_header,
        parse_tiff_header,
        synth_ogg_opus_bytes,
        synth_tiff_bytes,
    )

    # hand-built big-endian TIFF with LONG (type 4) dims and a leading
    # unrelated tag the walk must skip
    e = ">"
    header = b"MM" + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
    entries = [
        struct.pack(e + "HHI", 254, 4, 1) + struct.pack(e + "I", 0),      # NewSubfileType
        struct.pack(e + "HHI", 256, 4, 1) + struct.pack(e + "I", 70000),  # ImageWidth LONG
        struct.pack(e + "HHI", 257, 4, 1) + struct.pack(e + "I", 50000),  # ImageLength LONG
    ]
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries) + struct.pack(e + "I", 0)
    assert parse_tiff_header(header + ifd) == ("MM", 70000, 50000)
    assert parse_tiff_header(b"") == ("", 0, 0)
    assert parse_tiff_header(b"II" + struct.pack("<H", 43) + bytes(4)) == ("", 0, 0)

    # Ogg page whose segment table has 2 entries (OpusHead split point
    # irrelevant — payload starts after the table)
    opus = (
        b"OpusHead" + bytes([1, 2]) + struct.pack("<H", 312)
        + struct.pack("<I", 48000) + struct.pack("<h", 0) + b"\x00"
    )
    page = (
        b"OggS\x00\x02" + struct.pack("<q", 0) + struct.pack("<I", 777)
        + struct.pack("<I", 0) + struct.pack("<I", 0)
        + bytes([2, len(opus), 0]) + opus
    )
    assert parse_ogg_opus_header(page) == (777, 2, 312, 48000)
    assert parse_ogg_opus_header(b"NotOgg") == (0, 0, 0, 0)
    # an Ogg page that is NOT Opus (e.g. Vorbis) keeps the serial, zeros the rest
    vorbis_page = page[:27] + bytes([1, 7]) + b"\x01vorbis"
    assert parse_ogg_opus_header(vorbis_page) == (777, 0, 0, 0)

    # synthesizer round-trips across the id space, both byte orders
    for i in (0, 1, 2, 511, 512, 99999, 123456):
        assert parse_tiff_header(synth_tiff_bytes(i)) == (
            "II" if i % 2 == 0 else "MM",
            (i % 512) + 16,
            ((i * 7) % 512) + 16,
        )
        assert parse_ogg_opus_header(synth_ogg_opus_bytes(i)) == (
            i % 100000, i % 2 + 1, i % 1000,
            (8000, 16000, 44100, 48000)[i % 4],
        )


def test_decode_roundtrips_property():
    """Property: for ANY doc_id, the byte-level decoders recover exactly
    the generative formulas' aggregates — the pure-Python ground truth
    recomputed independently of both the synth and the decode."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mapreduce__spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_wav_pcm,
        synth_bmp_bytes,
        synth_wav_pcm_bytes,
    )

    @settings(max_examples=60, deadline=None)
    @given(doc_id=st.integers(min_value=0, max_value=10**12))
    def roundtrip(doc_id):
        w, h = doc_id % 13 + 4, (doc_id * 7) % 11 + 4
        got = decode_bmp_pixels(synth_bmp_bytes(doc_id))
        px = [
            (
                (3 * doc_id + 11 * x + y) % 256,
                (2 * doc_id + x + 7 * y) % 256,
                (doc_id + 3 * x + 5 * y) % 256,
            )
            for y in range(h)
            for x in range(w)
        ]
        assert got == (
            w, h, w * h,
            sum(p[0] for p in px), sum(p[1] for p in px), sum(p[2] for p in px),
            sum(px[0]),
        )

        ch, nf = doc_id % 2 + 1, doc_id % 60 + 4
        flat = [
            ((31 * doc_id + 7 * n + 13 * c) % 65536) - 32768
            for n in range(nf)
            for c in range(ch)
        ]
        assert decode_wav_pcm(synth_wav_pcm_bytes(doc_id)) == (
            ch, (8000, 16000, 44100, 48000)[doc_id % 4], nf,
            sum(flat), min(flat), max(flat), flat[0], sum(flat[::ch]),
        )

    roundtrip()


def test_decoders_never_misread_corrupt_bytes():
    """Property: truncating or flipping bytes in a valid file must either
    still decode (mutation hit pixel/sample data or a dont-care field) or
    raise ValueError — never crash with an unexpected exception type. The
    decoders sit in a mapInPandas hot path where an uncaught IndexError
    or struct.error would kill the whole task set."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mapreduce__spark.operators.multimodal import (
        decode_bmp_pixels,
        decode_wav_pcm,
        synth_bmp_bytes,
        synth_wav_pcm_bytes,
    )

    @settings(max_examples=80, deadline=None)
    @given(
        doc_id=st.integers(min_value=0, max_value=10**6),
        cut=st.integers(min_value=0, max_value=200),
        flip_at=st.integers(min_value=0, max_value=10**4),
        flip_to=st.integers(min_value=0, max_value=255),
    )
    def fuzz(doc_id, cut, flip_at, flip_to):
        for synth, decode in (
            (synth_bmp_bytes, decode_bmp_pixels),
            (synth_wav_pcm_bytes, decode_wav_pcm),
        ):
            b = bytearray(synth(doc_id))
            if flip_at < len(b):
                b[flip_at] = flip_to
            mutated = bytes(b[: max(0, len(b) - cut)])
            try:
                decode(mutated)
            except ValueError:
                pass  # the contract: reject loudly, route to fallback

    fuzz()


def test_ann_paths_survive_zero_norm_vectors(spark):
    """A failed-embed all-zeros vector must not crash (ANSI 0/0) or
    NaN-poison any ANN path: brute force ranks it last (score -1.0, the
    DuckDB list_cosine_similarity convention), and the LSH/IVF paths
    still run end-to-end over a corpus containing it."""
    import numpy as np

    from mapreduce__spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.standard_normal(8)]) for i in range(30)]
    rows.append((30, [0.0] * 8))  # the failed embed
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")

    out = brute_force_topk(emb, [0], k=30).collect()
    assert len(out) == 30
    by_rank = sorted(out, key=lambda r: r.rank)
    assert by_rank[-1].neighbor_id == 30 and by_rank[-1].score == -1.0

    assert lsh_topk(emb, [0], k=5, dim=8).count() > 0
    assert ivf_topk(emb, [0, 30], k=5, n_clusters=4, dim=8).count() > 0


def test_boilerplate_removal_drops_cross_doc_chunks(spark, sf_oracle):
    """The corpus-DF boilerplate filter must be non-vacuous on this corpus
    (planted near-dups share 20-token chunks across documents) and
    self-consistent: dropped + surviving chunk counts reconcile, and a doc
    whose chunks all survive keeps its text verbatim (modulo the chunk
    rebuild's space join, which is exact on this single-space corpus)."""
    from mapreduce__spark.plans.tier2_dedup import boilerplate_removal

    out = boilerplate_removal(spark, sf_oracle).collect()
    assert sum(r.n_boiler for r in out) > 0, "no boilerplate found — vacuous"
    assert all(0 <= r.n_boiler <= r.n_chunks for r in out)
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_oracle, "documents").collect()
    }
    untouched = [r for r in out if r.n_boiler == 0]
    assert untouched, "every doc flagged as boilerplate — implausible"
    for r in untouched[:20]:
        assert r.text_kept == docs[r.doc_id]


def test_per_source_cap_caps_every_source(spark, sf_oracle):
    """Cap semantics: no source exceeds PER_SOURCE_CAP, every source with
    >= cap docs is cut to exactly the cap (the fixtures carry 25 docs per
    source, above the cap of 15), and the draw is deterministic."""
    from mapreduce__spark.plans.tier2_pipeline import PER_SOURCE_CAP, per_source_cap

    out = per_source_cap(spark, sf_oracle)
    per_src = {r.source: r.n for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert per_src and all(n == PER_SOURCE_CAP for n in per_src.values())
    first = {r.doc_id for r in out.collect()}
    again = {r.doc_id for r in per_source_cap(spark, sf_oracle).collect()}
    assert first == again


def test_weighted_sample_is_deterministic_and_proper_subset(spark, sf_oracle):
    """The hash-Bernoulli sample must actually sample (neither empty nor
    everything), repeat identically across runs, and never keep a
    zero-weight row."""
    from mapreduce__spark.plans.tier2_pipeline import weighted_sample

    docs_n = load_table(spark, sf_oracle, "documents").count()
    rows = weighted_sample(spark, sf_oracle).collect()
    assert 0 < len(rows) < docs_n
    assert all(r.weight_millis > 0 for r in rows)
    again = {r.doc_id for r in weighted_sample(spark, sf_oracle).collect()}
    assert {r.doc_id for r in rows} == again


def test_kmeans_centroids_match_sequential_reference(spark):
    """The distributed Lloyd's pass (Arrow-batched partial sums over
    partitions) must reproduce a sequential numpy twin of the SAME
    algorithm — cosine assignment, raw-mean update, first-k-by-id init —
    to float-sum tolerance, regardless of how rows are partitioned."""
    import numpy as np

    from mapreduce__spark.operators.similarity import (
        _cosine_matrix_pdf,
        kmeans_centroids,
    )

    dim, n, k, iters = 16, 200, 5, 3
    V = np.array(
        [[((i * 31 + 7 * j) % 23) - 11.0 for j in range(dim)] for i in range(n)]
    )
    rows = [(i, [float(x) for x in V[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, v array<double>").repartition(8)

    got = np.array(kmeans_centroids(df, k=k, iters=iters, dim=dim, pre_projected=True))

    C = V[:k].astype(np.float64).copy()
    for _ in range(iters):
        lab = np.argmax(_cosine_matrix_pdf(V, C), axis=1)
        C = np.vstack(
            [V[lab == j].mean(axis=0) if (lab == j).any() else C[j] for j in range(k)]
        )
    assert got.shape == (k, dim)
    assert np.allclose(got, C, atol=1e-9), np.abs(got - C).max()


def test_boilerplate_hashed_variant_matches_raw(spark, sf_small):
    """hash_chunks=True is the 100 TB shape — DF counted on
    xxhash64(chunk), 8-byte shuffle keys — and must produce the exact
    raw-string result (collision risk at this corpus size is ~0)."""
    from mapreduce__spark.plans.tier2_dedup import boilerplate_removal

    raw = boilerplate_removal(spark, sf_small)
    hashed = boilerplate_removal(spark, sf_small, hash_chunks=True)
    assert sorted(tuple(r) for r in raw.collect()) == sorted(
        tuple(r) for r in hashed.collect()
    )
    # the variant really keys on the hash, and only the variant does
    assert "xxhash64" in hashed._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" not in raw._jdf.queryExecution().optimizedPlan().toString()


def test_mixed_media_dispatch_sniffs_magic_bytes(spark):
    """decode_media_auto must route by container magic, fill only the
    matching modality's columns, and reject unknown containers."""
    import pytest

    from mapreduce__spark.operators.multimodal import (
        decode_media_auto,
        synth_bmp_bytes,
        synth_wav_pcm_bytes,
    )

    mime, w, h, srgb, ch, rate, ssum = decode_media_auto(synth_bmp_bytes(4))
    assert mime == "image/bmp" and w == 4 % 13 + 4 and (ch, rate, ssum) == (None,) * 3
    mime, w, h, srgb, ch, rate, ssum = decode_media_auto(synth_wav_pcm_bytes(7))
    assert mime == "audio/wav" and ch == 2 and (w, h, srgb) == (None,) * 3
    with pytest.raises(ValueError):
        decode_media_auto(b"\x89PNG\r\n\x1a\nnot-actually-routable")


def test_mixed_media_features_emit_real_nulls(spark, sf_small):
    """The absent modality's columns must arrive as SQL NULLs (nullable
    Int64 through Arrow), not NaN-coerced doubles or zeros."""
    from pyspark.sql import functions as F

    from mapreduce__spark.operators.multimodal import (
        mixed_media_features,
        with_mixed_media_payload,
    )

    docs = load_table(spark, sf_small, "documents")
    out = mixed_media_features(with_mixed_media_payload(docs))
    assert dict(out.dtypes)["width"] == "bigint"
    n_img = out.where(F.col("mime") == "image/bmp").count()
    assert 0 < n_img < out.count()
    assert out.where((F.col("mime") == "image/bmp") & F.col("width").isNull()).count() == 0
    assert (
        out.where((F.col("mime") == "audio/wav") & F.col("width").isNotNull()).count()
        == 0
    )


def test_probe_ids_size_guard_drops_hint_when_large(spark):
    """The LSH verify stage's candidate-id probe must broadcast only when
    the id set is provably shippable; past BROADCAST_ID_LIMIT the hint
    disappears so a duplicate-heavy corpus can't OOM the driver (the
    same failure class as the round-6 eval-gram broadcast). Results are
    identical either way."""
    from mapreduce__spark.operators.dedup import BROADCAST_ID_LIMIT, _probe_ids

    corpus = spark.range(500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), "id").alias("text")
    )
    ids = spark.range(0, 100).select(F.col("id").alias("doc_id"))
    small = _probe_ids(corpus, ids, 100)
    large = _probe_ids(corpus, ids, BROADCAST_ID_LIMIT + 1)
    assert "ResolvedHint" in small._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in large._jdf.queryExecution().analyzed().toString()
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, large.collect()))


def _docs_dir(spark, tmp_path, rows):
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).write.parquet(f"{d}/documents.parquet")
    return d


def test_substring_dedup_windows_planted_spans(spark, tmp_path):
    """Semantic check independent of the SQL oracle (a mirrored bug in
    both engines would pass the hash compare): identical docs score
    dup_ratio 1.0, a unique doc 0.0, and a doc sharing exactly one
    30-token span with another reports exactly the windows inside that
    span as duplicated."""
    from mapreduce__spark.plans.tier2_dedup import SUBSTR_WIN, substring_dedup_windows

    span = " ".join(f"s{i}" for i in range(SUBSTR_WIN))  # 30 shared tokens
    uniq_a = " ".join(f"a{i}" for i in range(20))
    uniq_b = " ".join(f"b{i}" for i in range(20))
    clone = " ".join(f"c{i}" for i in range(40))
    rows = [
        (0, clone, "web"),
        (1, clone, "web"),                       # exact clone of doc 0
        (2, " ".join(f"u{i}" for i in range(50)), "web"),  # fully unique
        (3, f"{uniq_a} {span}", "web"),          # shares ONLY the span
        (4, f"{span} {uniq_b}", "web"),
    ]
    got = {
        r.doc_id: r
        for r in substring_dedup_windows(
            spark, _docs_dir(spark, tmp_path, rows)
        ).collect()
    }
    assert got[0].dup_ratio == 1.0 and got[1].dup_ratio == 1.0
    assert got[2].dup_ratio == 0.0
    # doc 3: 50 tokens -> 21 windows; only the LAST window (the span
    # itself, tokens 21..50) also occurs in doc 4's FIRST window
    assert got[3].n_windows == 21 and got[3].n_dup_windows == 1
    assert got[4].n_windows == 21 and got[4].n_dup_windows == 1


def test_domain_mixture_weights_planted_sources(spark, tmp_path):
    """Weights must equal min(cap, uniform_target/actual) on known token
    counts, and shares must sum to 1."""
    from mapreduce__spark.plans.tier2_pipeline import (
        MIXTURE_WEIGHT_CAP,
        domain_mixture_weights,
    )

    def words(n, tag):
        return " ".join(f"{tag}{i}" for i in range(n))

    rows = [
        (0, words(700, "a"), "big"),
        (1, words(200, "b"), "mid"),
        (2, words(100, "c"), "mid"),
        (3, words(10, "d"), "tiny"),   # target/actual = 337.7 -> capped
    ]
    got = {
        r.source: r
        for r in domain_mixture_weights(
            spark, _docs_dir(spark, tmp_path, rows)
        ).collect()
    }
    total, n_src = 1010, 3
    assert got["big"].source_tokens == 700 and got["mid"].source_tokens == 300
    assert abs(sum(r.token_share for r in got.values()) - 1.0) < 1e-6
    assert got["big"].weight == (total / n_src) / 700  # raw, no round
    assert got["tiny"].weight == MIXTURE_WEIGHT_CAP  # capped upsampling


def test_mixed_media_error_routing(spark):
    """on_error='route' must turn an undecodable payload into a visible
    quarantine row (error column, NULL features) while clean rows decode
    identically to raise mode; raise mode must fail the job."""
    import pytest

    from mapreduce__spark.operators.multimodal import (
        mixed_media_features,
        synth_bmp_bytes,
        synth_wav_pcm_bytes,
    )

    rows = [
        (0, bytearray(synth_bmp_bytes(0))),
        (1, bytearray(synth_wav_pcm_bytes(1))),
        (2, bytearray(b"\x89PNG\r\n\x1a\ngarbage")),  # unroutable container
    ]
    mm = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    routed = {r.doc_id: r for r in mixed_media_features(mm, on_error="route").collect()}
    assert routed[2].error and routed[2].mime is None and routed[2].width is None
    assert routed[0].error is None and routed[0].mime == "image/bmp"
    assert routed[1].error is None and routed[1].sum_samples is not None
    # clean rows identical to raise mode
    clean = mm.where(F.col("doc_id") < 2)
    a = sorted(map(tuple, mixed_media_features(clean).collect()))
    b = sorted(
        tuple(r)[:-1] for r in mixed_media_features(clean, on_error="route").collect()
    )
    assert a == b
    with pytest.raises(Exception):
        mixed_media_features(mm).collect()  # raise mode: corrupt row is fatal
    with pytest.raises(ValueError):
        mixed_media_features(mm, on_error="drop")


def test_substring_dedup_hashed_variant_matches_raw(spark, sf_small):
    """hash_windows=True must produce the exact raw-string result while
    shuffling only 8-byte keys (the window string never leaves the scan
    stage — this metric has no rebuild step to carry it for)."""
    from mapreduce__spark.plans.tier2_dedup import substring_dedup_windows

    raw = substring_dedup_windows(spark, sf_small)
    hashed = substring_dedup_windows(spark, sf_small, hash_windows=True)
    assert sorted(map(tuple, raw.collect())) == sorted(map(tuple, hashed.collect()))
    plan = hashed._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan


def test_containment_catches_what_jaccard_misses(spark, tmp_path):
    """The discriminating case: a short doc fully quoted inside a long
    one must score containment ~1.0 while staying far below the Jaccard
    threshold — found by dedup_containment, invisible to the symmetric
    metric."""
    from mapreduce__spark.operators.dedup import (
        exact_containment_pairs,
        exact_jaccard_pairs,
    )
    from mapreduce__spark.sources import load_table

    short = " ".join(f"q{i}" for i in range(12))
    long_ = " ".join(f"w{i}" for i in range(200)) + " " + short
    rows = [(0, short, "quote"), (1, long_, "host"),
            (2, " ".join(f"z{i}" for i in range(50)), "other")]
    d = _docs_dir(spark, tmp_path, rows)
    docs = load_table(spark, d, "documents")
    cont = {(r.id1, r.id2): r for r in exact_containment_pairs(docs, 0.9).collect()}
    assert (0, 1) in cont and cont[(0, 1)].containment_12 == 1.0
    assert cont[(0, 1)].containment_21 < 0.1   # asymmetric by construction
    jac = {(r.id1, r.id2) for r in exact_jaccard_pairs(docs, 0.8).collect()}
    assert (0, 1) not in jac  # the union dominates: Jaccard is blind here


def test_events_ewma_hand_computed(spark, tmp_path):
    """Independent of the mirrored oracle: alpha=0.5 EWMA over a known
    series, initialized at the oldest value — newest 40, then 20, then
    10 gives 0.5*40 + 0.25*20 + 0.25*10 = 27.5. A second user with one
    event returns that value verbatim."""
    import datetime as dt

    from mapreduce__spark.plans.tier2_events import events_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # (event_id, ts, user_id, event_type, value, props) — user 1
        (1, t0, 1, "view", 10.0, "{}"),
        (2, t0 + dt.timedelta(hours=1), 1, "view", 20.0, "{}"),
        (3, t0 + dt.timedelta(hours=2), 1, "view", 40.0, "{}"),
        (4, t0, 2, "view", 7.25, "{}"),
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string",
    ).write.parquet(f"{d}/events.parquet")
    got = {r.user_id: r for r in events_ewma(spark, d).collect()}
    assert got[1].n_events == 3 and got[1].ewma_value == 27.5
    assert got[2].n_events == 1 and got[2].ewma_value == 7.25


def test_chunk_containment_unaligned_verbatim_embed(spark, tmp_path):
    """The linear containment path (round-7 verdict item 5): a doc
    verbatim-embedded in a host at an offset NOT divisible by the chunk
    width must still score 1.0 — the stride-1 window side exists exactly
    for the unaligned copy — while an unrelated doc produces no pair."""
    from mapreduce__spark.operators.dedup import chunk_containment_pairs
    from mapreduce__spark.sources import load_table

    inner = " ".join(f"q{i}" for i in range(24))  # 3 full 8-token chunks
    # 5-token prefix: every chunk of doc 0 is offset by 5 inside doc 1
    host = " ".join(f"p{i}" for i in range(5)) + " " + inner + " " + " ".join(
        f"s{i}" for i in range(7)
    )
    rows = [(0, inner, "quote"), (1, host, "host"),
            (2, " ".join(f"z{i}" for i in range(40)), "other")]
    docs = load_table(spark, _docs_dir(spark, tmp_path, rows), "documents")
    got = {
        (r.id_a, r.id_b): r
        for r in chunk_containment_pairs(docs, 0.8, chunk_tokens=8).collect()
    }
    assert (0, 1) in got and got[(0, 1)].containment == 1.0
    assert got[(0, 1)].n_chunks == 3 and got[(0, 1)].n_found == 3
    # host-in-quote direction fails the threshold (host has unique spans)
    assert (1, 0) not in got
    assert all(2 not in pair for pair in got)


def test_chunk_containment_hash_keys_equals_raw(spark, sf_small):
    """The 8-byte-key 100 TB variant must produce the identical pair set
    and scores as the raw-string oracle path."""
    from mapreduce__spark.operators.dedup import chunk_containment_pairs
    from mapreduce__spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    raw = {
        (r.id_a, r.id_b): (r.n_chunks, r.n_found, r.containment)
        for r in chunk_containment_pairs(docs, 0.8).collect()
    }
    hashed = {
        (r.id_a, r.id_b): (r.n_chunks, r.n_found, r.containment)
        for r in chunk_containment_pairs(docs, 0.8, hash_keys=True).collect()
    }
    assert raw == hashed and raw


def test_chunk_containment_agrees_with_gram_baseline(spark, sf_small):
    """Agreement with the quadratic oracle baseline at sf0.001: every
    chunk-containment pair at 0.8 must be confirmed by gram-level
    containment (the chunk form finds VERBATIM copying, which implies
    high gram containment in the A-in-B direction), and conversely the
    baseline's high-containment pairs must be recalled."""
    from mapreduce__spark.operators.dedup import (
        chunk_containment_pairs,
        exact_containment_pairs,
    )
    from mapreduce__spark.sources import load_table

    docs = load_table(spark, sf_small, "documents")
    chunk = {
        (r.id_a, r.id_b) for r in chunk_containment_pairs(docs, 0.8).collect()
    }
    assert chunk  # anti-vacuity: sf0.001 has containment structure
    # gram containment per ordered pair, unthresholded enough to measure
    gram: dict = {}
    for r in exact_containment_pairs(docs, 0.5).collect():
        gram[(r.id1, r.id2)] = r.containment_12
        gram[(r.id2, r.id1)] = r.containment_21
    # precision: chunked pairs are real containment, not span collisions
    confirmed = [p for p in chunk if gram.get(p, 0.0) >= 0.7]
    assert len(confirmed) == len(chunk), (
        f"unconfirmed chunk pairs: {[p for p in chunk if p not in confirmed]}"
    )
    # recall: VERBATIM full embedding (gram containment 1.0) is the
    # operator's hard guarantee — every full chunk of A then occurs in
    # B, at any offset. Near-total-but-partial containment (e.g. A = B
    # plus one trailing token: gram 0.955) can legitimately fall below
    # the chunk threshold when a changed token sits in one of only a few
    # chunks — the documented quantization of chunk granularity — so the
    # 0.95-band gets a recall FLOOR, not totality.
    full = {p for p, c in gram.items() if c == 1.0}
    assert full <= chunk, f"missed fully-contained pairs: {full - chunk}"
    strong = {p for p, c in gram.items() if c >= 0.95}
    recall = len(strong & chunk) / len(strong)
    assert recall >= 0.8, f"recall {recall:.2f} over {len(strong)} strong pairs"


def test_fuzzy_self_join_equals_naive_cross_join(spark, sf_small):
    """The lossless-blocking claim, checked INSIDE Spark (independent of
    the DuckDB oracle): the distinct-domain + q-gram-filtered join must
    equal the naive quadratic cross join of levenshtein calls, pair for
    pair, on the real sf0.001 part names."""
    from pyspark.sql import functions as F

    from mapreduce__spark.operators.fuzzy import fuzzy_self_join
    from mapreduce__spark.sources import load_table

    parts = load_table(spark, sf_small, "part")
    got = {
        (r.key1, r.key2, r.edit_distance)
        for r in fuzzy_self_join(parts, "p_partkey", "p_name", 2, q=2).collect()
    }
    a = parts.select(F.col("p_partkey").alias("k1"), F.col("p_name").alias("s1"))
    b = parts.select(F.col("p_partkey").alias("k2"), F.col("p_name").alias("s2"))
    ed = F.levenshtein("s1", "s2")
    want = {
        (r.k1, r.k2, r.ed)
        for r in a.crossJoin(b)
        .where((F.col("k1") < F.col("k2")) & (ed <= 2))
        .select("k1", "k2", ed.cast("bigint").alias("ed"))
        .collect()
    }
    assert got == want and got


def test_fuzzy_self_join_planted_edits(spark):
    """Hand-built edits at each distance: substitution (1), insert+sub
    (2), and a 3-edit pair that must NOT match; equal strings on
    different keys match at distance 0."""
    from mapreduce__spark.operators.fuzzy import fuzzy_self_join

    rows = [
        (1, "warehouse"),
        (2, "warehoose"),   # 1 substitution
        (3, "warehousing"), # vs 1: 3 edits -> excluded at k=2
        (4, "warehouse"),   # duplicate value -> ed 0 vs key 1
        (5, "wareh0uses"),  # vs 1: sub '0' + append 's' = 2
    ]
    df = spark.createDataFrame(rows, "id bigint, nm string")
    got = {
        (r.key1, r.key2): r.edit_distance
        for r in fuzzy_self_join(df, "id", "nm", 2, q=2).collect()
    }
    assert got[(1, 2)] == 1 and got[(1, 4)] == 2 * 0 and got[(1, 5)] == 2
    assert got[(2, 4)] == 1
    assert (1, 3) not in got


def _kmeans_python(vecs: dict, k: int, iters: int):
    """Pure-Python Lloyd's twin of operators/clustering.kmeans_assign:
    same quantization (floor of the double product + offset), same
    integer arithmetic, same (dist, cid) tie-break, same
    empty-cluster-keeps-centroid rule."""
    import math

    OFF = 1 << 21
    q = {
        vid: [math.floor(float(x) * 1_000_000) + OFF for x in v]
        for vid, v in vecs.items()
    }
    cents = [list(q[vid]) for vid in sorted(q)[:k]]

    def assign():
        out = {}
        for vid, eq in q.items():
            best = min(
                (sum((a - b) * (a - b) for a, b in zip(eq, c)), j)
                for j, c in enumerate(cents)
            )
            out[vid] = best  # (dist2, cid)
        return out

    for _ in range(iters):
        a = assign()
        for j in range(k):
            members = [q[v] for v, (_, c) in a.items() if c == j]
            if members:
                cents[j] = [
                    sum(col) // len(members) for col in zip(*members)
                ]
    return {v: (c, d) for v, (d, c) in assign().items()}


def test_kmeans_matches_pure_python_twin(spark, tmp_path):
    """Bit-exact agreement with an independent pure-Python Lloyd's on a
    hand-built dataset that exercises the EMPTY-CLUSTER path: seeds 0
    and 1 are identical vectors, so cluster 1 receives no members (ties
    go to the lower cid) and must keep its seed centroid."""
    from mapreduce__spark.operators.clustering import kmeans_assign

    vecs = {
        0: [0.1, 0.1, 0.9, 0.2],
        1: [0.1, 0.1, 0.9, 0.2],   # duplicate of seed 0 -> cluster 1 empty
        2: [0.8, 0.85, 0.05, 0.6],
        3: [0.82, 0.8, 0.0, 0.65],
        4: [0.11, 0.12, 0.88, 0.19],
        5: [0.79, 0.81, 0.02, 0.61],
        6: [-0.3, 0.4, 0.5, -0.2],
        7: [0.12, 0.09, 0.91, 0.21],
    }
    df = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in vecs.items()],
        "vec_id bigint, embedding array<float>",
    )
    # float32 storage narrows the values exactly like the parquet
    # fixture; feed the SAME narrowed values to the twin
    narrowed = {
        r.vec_id: list(r.embedding) for r in df.collect()
    }
    got = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in kmeans_assign(df, 3, 3).collect()
    }
    assert got == _kmeans_python(narrowed, 3, 3)
    # the planted structure: 0/1/4/7 together, 2/3/5 together
    assert len({got[v][0] for v in (0, 1, 4, 7)}) == 1
    assert len({got[v][0] for v in (2, 3, 5)}) == 1
    assert got[0][0] != got[2][0]


def test_kmeans_sf_small_matches_twin(spark, sf_small):
    """Same bit-exact agreement on the real sf0.001 embeddings — the
    64-dim float32 fixture, no planted structure."""
    from mapreduce__spark.operators.clustering import kmeans_assign
    from mapreduce__spark.sources import load_table

    emb = load_table(spark, sf_small, "embeddings")
    vecs = {r.vec_id: list(r.embedding) for r in emb.collect()}
    got = {
        r.vec_id: (r.cluster_id, r.dist2)
        for r in kmeans_assign(emb, 4, 3).collect()
    }
    assert got == _kmeans_python(vecs, 4, 3) and got


def test_cluster_outliers_planted(spark, tmp_path):
    """The is_outlier TRUE branch (all-false on the uniform fixture —
    concentration of measure): plant two tight clusters plus one junk
    vector far from everything; only the junk flags, and its ratio
    clears the 4x-median threshold decisively."""
    from mapreduce__spark.plans.tier2_embedding import embedding_cluster_outliers

    # seeds are the k smallest vec_ids, so ids 0..3 place one seed per
    # natural group; every group then keeps its centroid and the junk
    # vector is ABSORBED into the nearest group instead of capturing a
    # singleton centroid (where its dist2 would be 0, not an outlier —
    # the k-means dynamic the first draft of this test tripped on)
    centers = [0.1, -0.3, 0.4, -0.05]
    rows = [(g, [c] * 8) for g, c in enumerate(centers)]
    vid = 4
    for g, c in enumerate(centers):
        for _ in range(7):
            rows.append(
                (vid, [c + 0.002 * ((vid * 7 + d) % 5 - 2) for d in range(8)])
            )
            vid += 1
    junk = vid
    rows.append((junk, [0.23] * 8))  # between groups, nearest to 0.1
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).selectExpr("vec_id", "embedding", "CAST(0 AS INT) AS label").write.parquet(
        f"{d}/embeddings.parquet"
    )
    got = {r.vec_id: r for r in embedding_cluster_outliers(spark, d).collect()}
    flagged = {v for v, r in got.items() if r.is_outlier}
    assert flagged == {junk}, flagged
    # decisive margin (simulated ratio ~62x vs <=1.11x for real members)
    assert got[junk].dist2 > 10 * got[junk].med_dist2


def test_png_pixel_decode_filters_and_rejection():
    """Full PNG pixel decode: every scanline filter type must be
    exercised and unfiltered correctly (heights >= 5 rotate through
    None/Sub/Up/Average/Paeth), multi-IDAT streams must inflate as one
    zlib stream, CRC corruption and unsupported variants are rejected,
    not mis-decoded."""
    import struct
    import zlib

    import pytest

    from mapreduce__spark.operators.multimodal import (
        decode_png_pixels,
        synth_png_bytes,
    )

    # heights cycle (doc_id*5) % 9 + 4 in [4, 12]; any doc with h >= 5
    # uses all five filters. Sweep a range to cover every (w, h) class.
    for doc_id in range(24):
        b = synth_png_bytes(doc_id)
        w, h, n, sum_r, sum_g, sum_b, topleft = decode_png_pixels(b)
        assert (w, h, n) == (doc_id % 11 + 4, (doc_id * 5) % 9 + 4, w * h)
        want_r = sum((7 * doc_id + 5 * x + 3 * y) % 256 for x in range(w) for y in range(h))
        want_g = sum((doc_id + 2 * x + 11 * y) % 256 for x in range(w) for y in range(h))
        want_b = sum((5 * doc_id + 9 * x + y) % 256 for x in range(w) for y in range(h))
        assert (sum_r, sum_g, sum_b) == (want_r, want_g, want_b)
        assert topleft == (7 * doc_id) % 256 + doc_id % 256 + (5 * doc_id) % 256

    good = synth_png_bytes(3)
    # signature
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png_pixels(b"XXXXXXXX" + good[8:])
    # CRC corruption: flip a byte inside the first IDAT's payload
    idat_at = good.index(b"IDAT")
    corrupt = bytearray(good)
    corrupt[idat_at + 4] ^= 0xFF
    with pytest.raises(ValueError, match="bad CRC"):
        decode_png_pixels(bytes(corrupt))
    # 16-bit depth variant: rebuild IHDR with depth=16 and a valid CRC —
    # must be REJECTED by the variant gate, not mis-decoded.
    w3, h3 = 3 % 11 + 4, (3 * 5) % 9 + 4
    bad_ihdr = struct.pack(">IIBBBBB", w3, h3, 16, 2, 0, 0, 0)
    rebuilt = (
        good[:8]
        + struct.pack(">I", len(bad_ihdr))
        + b"IHDR"
        + bad_ihdr
        + struct.pack(">I", zlib.crc32(b"IHDR" + bad_ihdr) & 0xFFFFFFFF)
        + good[8 + 12 + 13 :]
    )
    with pytest.raises(ValueError, match="unsupported"):
        decode_png_pixels(rebuilt)
    # truncated: cut mid-chunk so a declared length overruns the buffer
    with pytest.raises(ValueError, match="truncated|missing"):
        decode_png_pixels(good[: idat_at + 10])


def test_gif_pixel_decode_hazards_and_canonical_vector():
    """Full GIF LZW decode: interlaced and non-interlaced files, local
    color table precedence over a garbage global one, extension-block
    skipping, multi-sub-block reassembly — and, since BOTH LZW sides are
    implemented here (no stdlib codec to lean on), the decoder is
    additionally pinned to a canonical hand-verifiable 1x1 GIF byte
    vector produced by neither side of our round-trip."""
    import pytest

    from mapreduce__spark.operators.multimodal import (
        decode_gif_pixels,
        synth_gif_bytes,
    )

    # doc_id 9: interlaced (9%3==0) + local color table (odd);
    # doc_id 4: neither; doc_id 3: interlaced only; doc_id 5: LCT only —
    # all four hazard combinations checked against the generative law.
    for doc_id in (3, 4, 5, 9):
        b = synth_gif_bytes(doc_id)
        w, h, n, sum_r, sum_g, sum_b, topleft = decode_gif_pixels(b)
        assert (w, h, n) == (doc_id % 9 + 4, (doc_id * 3) % 7 + 4, w * h)
        want = [0, 0, 0]
        for y in range(h):
            for x in range(w):
                c = (doc_id + 3 * x + 7 * y) % 8
                want[0] += (11 * c + doc_id) % 256
                want[1] += (5 * c + 2 * doc_id) % 256
                want[2] += (3 * c + 7 * doc_id) % 256
        assert [sum_r, sum_g, sum_b] == want
        c0 = doc_id % 8
        assert topleft == (
            (11 * c0 + doc_id) % 256
            + (5 * c0 + 2 * doc_id) % 256
            + (3 * c0 + 7 * doc_id) % 256
        )

    # canonical 1x1 white-pixel GIF89a (the classic minimal GIF): decodes
    # to one white pixel through GCT + GCE-skip + 2-bit LZW — external
    # validation that the LZW decoder implements the SPEC, not merely the
    # inverse of our compressor.
    canon = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00\xff\xff\xff\x00\x00\x00"
        b"!\xf9\x04\x01\x00\x00\x00\x00,\x00\x00\x00\x00\x01\x00\x01\x00\x00"
        b"\x02\x02D\x01\x00;"
    )
    assert decode_gif_pixels(canon) == (1, 1, 1, 255, 255, 255, 765)

    good = synth_gif_bytes(7)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif_pixels(b"XIF89a" + good[6:])
    # a bare signature must raise cleanly, not struct.error
    with pytest.raises(ValueError, match="truncated GIF header"):
        decode_gif_pixels(b"GIF89a")
    # trailer with no image data
    with pytest.raises(ValueError, match="no image data"):
        decode_gif_pixels(good[:13] + good[13 : 13 + 24] + b"\x3b")
    # truncated mid image data (cut before the sub-block terminator)
    with pytest.raises(ValueError, match="truncated|ended"):
        decode_gif_pixels(good[:-10])


def test_gif_lzw_table_overflow_roundtrip():
    """The LZW clear-on-4096 path is DEAD at fixture image sizes (<=120
    pixels); exercise it directly: a 120k-symbol random-of-8 stream
    pushes the code table past 4096 several times, forcing mid-stream
    clear codes and full-width (12-bit) codes — the round-trip through a
    minimal GIF container must still reproduce every index."""
    import random
    import struct

    from mapreduce__spark.operators.multimodal import (
        _gif_lzw_compress,
        decode_gif_pixels,
    )

    rng = random.Random(7)
    idx = [rng.randrange(8) for _ in range(120_000)]
    data = _gif_lzw_compress(idx, 3)
    w, h = 400, 300
    palette = bytes(range(24))
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x02, 0, 0) + palette
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out += bytes([3])
    for i in range(0, len(data), 255):
        blk = data[i : i + 255]
        out += bytes([len(blk)]) + blk
    out += b"\x00\x3b"
    res = decode_gif_pixels(bytes(out))
    pal = [palette[3 * c : 3 * c + 3] for c in range(8)]
    want = (
        w,
        h,
        w * h,
        sum(pal[c][0] for c in idx),
        sum(pal[c][1] for c in idx),
        sum(pal[c][2] for c in idx),
        sum(pal[idx[0]]),
    )
    assert res == want
