"""Tier-2 multimodal decode family: BMP/PNG/GIF/JPEG pixels, WAV audio, video indexes (O-25; split from tier2.py, round 13)."""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce__spark.operators.multimodal import with_binary_payload
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


# --------------------------------------------------------------------------
# O-25: multimodal columns
# --------------------------------------------------------------------------


@query(
    "multimodal_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS byte_len,
           'text/plain'               AS mime,
           md5(text)                  AS content_md5
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct, projected flat: the schema
    discipline for opaque media columns (payload never keyed on)."""
    mm = with_binary_payload(load_table(spark, sf_dir, "documents"))
    return mm.select(
        "doc_id",
        F.col("meta.byte_len").alias("byte_len"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.content_md5").alias("content_md5"),
    )


@query(
    "multimodal_decode",
    oracle="""
    WITH bmp AS (
      SELECT doc_id, doc_id % 13 + 4 AS width, (doc_id * 7) % 11 + 4 AS height
      FROM documents WHERE doc_id % 2 = 0
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM bmp
    ),
    pxy AS (
      SELECT doc_id, width, height, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    ),
    img AS (
      SELECT doc_id, 'image/bmp' AS mime,
             CAST(width AS BIGINT)  AS width,
             CAST(height AS BIGINT) AS height,
             CAST(sum((3 * doc_id + 11 * x + y) % 256
                    + (2 * doc_id + x + 7 * y) % 256
                    + (doc_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_rgb
      FROM pxy GROUP BY doc_id, width, height
    ),
    wavdims AS (
      SELECT doc_id, doc_id % 2 + 1 AS channels,
             CASE doc_id % 4 WHEN 1 THEN 16000 ELSE 48000 END AS sample_rate,
             doc_id % 60 + 4 AS n_frames
      FROM documents WHERE doc_id % 2 = 1
    ),
    s AS (
      SELECT doc_id, channels, sample_rate,
             unnest(generate_series(0, n_frames * channels - 1)) AS k
      FROM wavdims
    ),
    aud AS (
      SELECT doc_id, 'audio/wav' AS mime,
             CAST(channels AS BIGINT)    AS channels,
             CAST(sample_rate AS BIGINT) AS sample_rate,
             CAST(sum((31 * doc_id + 7 * (k // channels) + 13 * (k % channels))
                      % 65536 - 32768) AS BIGINT) AS sum_samples
      FROM s GROUP BY doc_id, channels, sample_rate
    )
    SELECT doc_id, mime, width, height, sum_rgb,
           CAST(NULL AS BIGINT) AS channels,
           CAST(NULL AS BIGINT) AS sample_rate,
           CAST(NULL AS BIGINT) AS sum_samples
    FROM img
    UNION ALL
    SELECT doc_id, mime,
           CAST(NULL AS BIGINT) AS width,
           CAST(NULL AS BIGINT) AS height,
           CAST(NULL AS BIGINT) AS sum_rgb,
           channels, sample_rate, sum_samples
    FROM aud
    """,
    tags=("tier2", "multimodal"),
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mime-dispatched REAL decode over a MIXED-media binary column — the
    shape a production multimodal pipeline has: one `binary` column
    holding different container formats (here even doc_ids carry a full
    24-bit BMP, odd ones a full PCM16 WAV), each payload routed to the
    right decoder by SNIFFED magic bytes, never a trusted sidecar mime
    column. Reuses the oracle-proven BMP pixel and WAV sample decoders;
    the other modality's columns are real NULLs (pandas Int64 -> Arrow),
    and the oracle regenerates both modalities in SQL and unions them.

    This retires the round-1 decode STUB: the from-spec entropy
    decoders (PNG DEFLATE, GIF LZW, JPEG Huffman+DCT) hang off the same
    dispatch shape in their own query plans below. Arrow-batched mapInPandas,
    partition-preserving, payloads never shuffled."""
    from mapreduce__spark.operators.multimodal import (
        mixed_media_features,
        with_mixed_media_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return mixed_media_features(with_mixed_media_payload(docs))


@query(
    "bmp_pixel_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 13 + 4        AS width,
             (doc_id * 7) % 11 + 4  AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((3 * doc_id + 11 * x + y) % 256) AS BIGINT) AS sum_r,
           CAST(sum((2 * doc_id + x + 7 * y) % 256) AS BIGINT)  AS sum_g,
           CAST(sum((doc_id + 3 * x + 5 * y) % 256) AS BIGINT)  AS sum_b,
           CAST((3 * doc_id) % 256 + (2 * doc_id) % 256 + doc_id % 256
                AS BIGINT) AS topleft_rgb
    FROM pxy
    GROUP BY doc_id, width, height
    """,
    tags=("tier2", "multimodal"),
)
def bmp_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, no media libraries: per doc a spec-valid
    uncompressed 24-bit BMP is synthesized (every pixel a pure function
    of doc_id and its (x, y) coordinate) and fully decoded BACK from raw
    bytes — data-offset and DIB fields read from the header, the pixel
    array walked by its 4-byte-aligned row stride with padding sliced
    off, bottom-up vs top-down (negative biHeight) row order normalized.
    The oracle regenerates every pixel in SQL and aggregates, so channel
    sums verify the whole pixel array and the top-left-pixel column
    pins row-order handling (a decoder ignoring layout direction fails
    it). This upgrades O-25's decode cell from declared stub to checked
    decode for the one raster format whose pixel layer is pure byte
    layout; the entropy-coded formats (PNG/GIF/JPEG) have since gained
    their own from-spec decodes below. Arrow-batched mapInPandas, partition-
    preserving, payloads never shuffled."""
    from mapreduce__spark.operators.multimodal import (
        bmp_pixel_features,
        with_bmp_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bmp_pixel_features(with_bmp_payload(docs))


@query(
    "wav_pcm_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 2 + 1 AS channels,
             CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 44100 ELSE 48000 END AS sample_rate,
             doc_id % 60 + 4 AS n_frames
      FROM documents
    ),
    s AS (
      SELECT doc_id, channels, sample_rate, n_frames,
             unnest(generate_series(0, n_frames * channels - 1)) AS k
      FROM dims
    ),
    v AS (
      SELECT doc_id, channels, sample_rate, n_frames, k,
             (31 * doc_id + 7 * (k // channels) + 13 * (k % channels))
               % 65536 - 32768 AS smp
      FROM s
    )
    SELECT doc_id,
           CAST(channels AS BIGINT) AS channels,
           CAST(sample_rate AS BIGINT) AS sample_rate,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(sum(smp) AS BIGINT) AS sum_samples,
           CAST(min(smp) AS BIGINT) AS min_sample,
           CAST(max(smp) AS BIGINT) AS max_sample,
           CAST((31 * doc_id) % 65536 - 32768 AS BIGINT) AS first_sample,
           CAST(sum(CASE WHEN k % channels = 0 THEN smp END) AS BIGINT)
             AS sum_ch0
    FROM v
    GROUP BY doc_id, channels, sample_rate, n_frames
    """,
    tags=("tier2", "multimodal"),
)
def wav_pcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio sample decode, no media libraries — the audio twin of
    bmp_pixel_decode: per doc a spec-valid PCM16 WAV is synthesized
    (every interleaved sample a pure function of doc_id, frame, channel)
    and fully decoded BACK from raw bytes via the real RIFF chunk walk —
    fmt and data located in EITHER order, odd-sized junk chunks skipped
    with their word-alignment pad byte, then one vectorized int16 read.
    The oracle regenerates every sample in SQL: sum/min/max verify the
    whole sample array, first_sample pins the data offset after
    arbitrary preceding chunks, and sum_ch0 pins channel interleaving
    (a flat byte-sum can't fake it). LPCM, like the BMP pixel layer, is
    pure byte layout — compressed codecs (FLAC/Opus) stay header-only
    by design (their STREAMINFO/OpusHead walks cover curation's needs).
    Arrow-batched mapInPandas, partition-
    preserving, payloads never shuffled."""
    from mapreduce__spark.operators.multimodal import (
        wav_pcm_features,
        with_wav_pcm_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return wav_pcm_features(with_wav_pcm_payload(docs))


@query(
    "image_header_metadata",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS fmt,
           CAST((doc_id % 512) + 16 AS BIGINT) AS width,
           CAST(((doc_id * 7) % 512) + 16 AS BIGINT) AS height
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def image_header_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode at the header level, no media libraries: valid
    PNG / GIF / JPEG container bytes are synthesized per doc (dimensions a
    pure function of doc_id) and (format, width, height) are parsed BACK
    from the raw bytes — PNG IHDR big-endian fields, GIF little-endian
    logical screen, a JPEG SOF marker walk. The oracle recomputes the
    expected dimensions from doc_id, so it verifies the byte-level parse
    round-trip exactly. Arrow-batched, partition-preserving; this is the
    decode stage a 100 TB corpus runs for size/aspect filtering before any
    pixel work."""
    from mapreduce__spark.operators.multimodal import (
        image_header_features,
        with_image_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return image_header_features(with_image_payload(docs))


@query(
    "media_header_metadata",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT) AS sample_rate,
           CAST(doc_id % 1000 + 1 AS BIGINT) AS n_frames,
           'isom' AS brand,
           CAST(600 AS BIGINT) AS timescale,
           CAST((doc_id % 3600 + 1) * 600 AS BIGINT) AS duration
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def media_header_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio + video header decode, byte-level (no media libraries):
    per doc, a valid WAV (RIFF chunk walk → channels/rate/frames) and a
    valid MP4 (top-level box walk → ftyp brand, moov/mvhd timescale +
    duration) are synthesized with fields derived from doc_id, then parsed
    back from raw bytes. Oracle recomputes the expected fields from doc_id
    — an exact round-trip check of both container parsers."""
    from mapreduce__spark.operators.multimodal import (
        parse_mp4_header,
        parse_wav_header,
        synth_mp4_bytes,
        synth_wav_bytes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "channels": [], "sample_rate": [], "n_frames": [],
                "brand": [], "timescale": [], "duration": [],
            }
            for i in pdf["doc_id"]:
                i = int(i)
                ch, rate, _bits, nf = parse_wav_header(synth_wav_bytes(i))
                brand, ts, dur = parse_mp4_header(synth_mp4_bytes(i))
                out["doc_id"].append(i)
                out["channels"].append(ch)
                out["sample_rate"].append(rate)
                out["n_frames"].append(nf)
                out["brand"].append(brand)
                out["timescale"].append(ts)
                out["duration"].append(dur)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        roundtrip,
        schema="doc_id bigint, channels bigint, sample_rate bigint, n_frames bigint, "
        "brand string, timescale bigint, duration bigint",
    )


@query(
    "webp_flac_header_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'vp8x' ELSE 'vp8l' END AS webp_variant,
           CAST((doc_id % 512) + 16 AS BIGINT) AS width,
           CAST(((doc_id * 7) % 512) + 16 AS BIGINT) AS height,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT) AS sample_rate,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(16 AS BIGINT) AS bits_per_sample,
           CAST(doc_id % 100000 + 1 AS BIGINT) AS total_samples
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def webp_flac_header_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebP + FLAC header decode, byte-level (no media libraries): per doc,
    a valid WebP container (RIFF chunk walk; VP8X 24-bit canvas fields for
    even ids, VP8L 14-bit packed dimensions for odd) and a valid FLAC
    stream head (metadata-block walk to the bit-packed STREAMINFO) are
    synthesized with fields derived from doc_id, then parsed back from the
    raw bytes. The oracle recomputes the expected fields from doc_id — an
    exact round-trip check of both parsers, same pattern as
    image_header_metadata / media_header_metadata."""
    from mapreduce__spark.operators.multimodal import (
        parse_flac_streaminfo,
        parse_webp_header,
        synth_flac_bytes,
        synth_webp_bytes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "webp_variant": [], "width": [], "height": [],
                "sample_rate": [], "channels": [], "bits_per_sample": [],
                "total_samples": [],
            }
            for i in pdf["doc_id"]:
                i = int(i)
                variant, w, h = parse_webp_header(synth_webp_bytes(i))
                rate, ch, bits, total = parse_flac_streaminfo(synth_flac_bytes(i))
                out["doc_id"].append(i)
                out["webp_variant"].append(variant)
                out["width"].append(w)
                out["height"].append(h)
                out["sample_rate"].append(rate)
                out["channels"].append(ch)
                out["bits_per_sample"].append(bits)
                out["total_samples"].append(total)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        roundtrip,
        schema="doc_id bigint, webp_variant string, width bigint, height bigint, "
        "sample_rate bigint, channels bigint, bits_per_sample bigint, "
        "total_samples bigint",
    )


@query(
    "tiff_ogg_header_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST((doc_id % 512) + 16 AS BIGINT) AS width,
           CAST(((doc_id * 7) % 512) + 16 AS BIGINT) AS height,
           CAST(doc_id % 100000 AS BIGINT) AS serial,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(doc_id % 1000 AS BIGINT) AS pre_skip,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                WHEN 2 THEN 44100 ELSE 48000 END AS BIGINT)
             AS sample_rate
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def tiff_ogg_header_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIFF + Ogg/Opus header decode, byte-level (no media libraries): per
    doc, a valid TIFF (II little-endian for even ids, MM big-endian for
    odd — the parse honors the byte-order mark through the IFD entry walk
    to ImageWidth/ImageLength) and a valid Ogg page wrapping an OpusHead
    identification header (segment-table walk → channels/pre-skip/rate)
    are synthesized with fields derived from doc_id and parsed back from
    raw bytes. Same oracle round-trip pattern as image_header_metadata /
    webp_flac_header_metadata — together the byte-level decode surface
    now covers PNG/GIF/JPEG/WebP/TIFF images and WAV/MP4/FLAC/Ogg-Opus
    media containers."""
    from mapreduce__spark.operators.multimodal import (
        parse_ogg_opus_header,
        parse_tiff_header,
        synth_ogg_opus_bytes,
        synth_tiff_bytes,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def roundtrip(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "byte_order": [], "width": [], "height": [],
                "serial": [], "channels": [], "pre_skip": [], "sample_rate": [],
            }
            for i in pdf["doc_id"]:
                i = int(i)
                order, w, h = parse_tiff_header(synth_tiff_bytes(i))
                serial, ch, skip, rate = parse_ogg_opus_header(
                    synth_ogg_opus_bytes(i)
                )
                out["doc_id"].append(i)
                out["byte_order"].append(order)
                out["width"].append(w)
                out["height"].append(h)
                out["serial"].append(serial)
                out["channels"].append(ch)
                out["pre_skip"].append(skip)
                out["sample_rate"].append(rate)
            yield pd.DataFrame(out)

    return docs.mapInPandas(
        roundtrip,
        schema="doc_id bigint, byte_order string, width bigint, height bigint, "
        "serial bigint, channels bigint, pre_skip bigint, sample_rate bigint",
    )


@query(
    "image_resize_roundtrip",
    oracle="""
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'jpeg' END AS fmt,
           CAST((doc_id % 64) + 8 AS BIGINT) AS width,
           CAST(((doc_id * 3) % 64) + 8 AS BIGINT) AS height
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def image_resize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image RESIZE at the header level: synthesize real container bytes,
    rewrite each header to a per-row target size (PNG IHDR + recomputed
    CRC, GIF screen descriptor, JPEG SOF walk — resize_image_header), then
    parse the rewritten bytes back. The oracle recomputes the target
    dimensions from doc_id, so a hash match proves BOTH byte passes
    (rewrite and re-parse) agree on every row. Pixel resampling stays
    behind the decode stub — this is the metadata half a 100 TB resize
    job runs either side of it."""
    from mapreduce__spark.operators.multimodal import (
        image_header_features,
        resize_images,
        with_image_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    resized = resize_images(
        with_image_payload(docs), "doc_id % 64 + 8", "(doc_id * 3) % 64 + 8"
    )
    return image_header_features(resized)


@query(
    "audio_frame_sample",
    oracle="""
    SELECT doc_id,
           unnest(generate_series(0, (doc_id % 1000 + 1) - 1, 100)) AS frame_idx,
           CAST(unnest(generate_series(0, (doc_id % 1000 + 1) - 1, 100)) * 1000
                // (CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                                    WHEN 2 THEN 44100 ELSE 48000 END) AS BIGINT) AS ts_ms
    FROM documents
    """,
    tags=("tier2", "multimodal"),
)
def audio_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over audio payloads — the 1→N row-expanding Arrow
    UDF every frame-sampler needs: synthesize a real WAV per doc, parse
    its header, emit one row per sampled frame (every 100th index below
    the frame count) with its integer millisecond timestamp. The oracle
    rebuilds the same index series with generate_series from the doc_id
    formulas, so the expansion count, indices, and timestamp arithmetic
    are all hash-checked. Output rows ≈ input rows × frames/stride; Spark
    re-batches the Arrow stream, so no per-doc list ever materializes."""
    from mapreduce__spark.operators.multimodal import sample_frames, with_wav_payload

    docs = load_table(spark, sf_dir, "documents")
    return sample_frames(with_wav_payload(docs), stride=100)


@query(
    "array_functions",
    oracle="""
    SELECT vec_id,
           len(embedding)                                     AS n_dims,
           round(list_max(embedding::DOUBLE[]), 4)            AS max_val,
           round(list_min(embedding::DOUBLE[]), 4)            AS min_val,
           (list_min(embedding::DOUBLE[]) < 0.0)              AS has_negative,
           round(embedding[1]::DOUBLE, 4)                     AS first_val
    FROM embeddings
    WHERE vec_id < 100
    """,
    tags=("tier2", "functions", "multimodal"),
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21/O-25 (arrays): size / min / max / element access over the
    embedding array column — the array-function catalog on real
    multimodal data."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return emb.where(F.col("vec_id") < 100).select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(F.array_max(v), 4).alias("max_val"),
        F.round(F.array_min(v), 4).alias("min_val"),
        (F.array_min(v) < 0.0).alias("has_negative"),
        # F.get, not v[0]: out-of-bounds access is NULL in DuckDB
        # (embedding[1] on an empty list) but an ERROR under Spark's
        # default ANSI mode — get() is the NULL-returning accessor.
        F.round(F.get(v, 0), 4).alias("first_val"),
    )


@query(
    "binaryfile_ingest",
    oracle=f"""
    WITH files AS (
      SELECT CAST(regexp_extract(filename, '([0-9]+)\\.bmp$', 1) AS BIGINT)
               AS media_id,
             size AS byte_len
      FROM read_blob('{BINARYFILE_DIR}/*.bmp')
    ),
    dims AS (
      SELECT media_id, byte_len,
             media_id % 13 + 4        AS width,
             (media_id * 7) % 11 + 4  AS height
      FROM files
    ),
    px AS (
      SELECT media_id, byte_len, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT media_id, byte_len, width, height, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    )
    SELECT media_id,
           CAST(byte_len AS BIGINT) AS byte_len,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(sum((3 * media_id + 11 * x + y) % 256
                  + (2 * media_id + x + 7 * y) % 256
                  + (media_id + 3 * x + 5 * y) % 256) AS BIGINT) AS sum_rgb
    FROM pxy
    GROUP BY media_id, byte_len, width, height
    """,
    tags=("tier2", "multimodal", "sources"),
)
def binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-of-media-files ingest via Spark's built-in `binaryFile`
    source — the shape a real multimodal corpus arrives in (a bucket of
    image files, not a parquet column): read (path, length, content),
    decode the REAL pixel bytes with the proven BMP decoder, key by the
    id parsed from the file name. The oracle is fully independent — it
    reads the same directory with DuckDB's read_blob for size/name and
    regenerates every pixel from the synthesis formulas, so a decoder or
    ingest bug on either side cannot mirror.

    SCALE: binaryFile splits a directory listing across the cluster and
    ships file contents as one binary column per file (no shuffle; the
    decode is scan-stage mapInPandas). For files beyond a few hundred MB
    one switches to streaming reads per file; for billions of tiny files,
    to a packed format — this query pins the small-file directory path.
    The 50-file staging is driver-side and bounded by design (the
    fixture IS the source here, sf-independent because the oracle string
    is static)."""
    from mapreduce__spark.operators.multimodal import decode_bmp_pixels

    d = _stage_binaryfile_corpus()
    # pathGlobFilter on the DIRECTORY, not a glob path: a glob makes the
    # datasource's streaming-metadata probe stat the literal pattern and
    # log a benign FileNotFound stack per load (same fix as xml_ingest)
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp")
        .load(d)
    )

    def decode(batches):
        import os as _os

        import pandas as pd

        for pdf in batches:
            out = {
                "media_id": [], "byte_len": [], "width": [],
                "height": [], "sum_rgb": [],
            }
            for path, length, content in zip(
                pdf["path"], pdf["length"], pdf["content"]
            ):
                w, h, _, sr, sg, sb, _ = decode_bmp_pixels(bytes(content))
                out["media_id"].append(
                    int(_os.path.basename(path).split(".")[0])
                )
                out["byte_len"].append(int(length))
                out["width"].append(w)
                out["height"].append(h)
                out["sum_rgb"].append(sr + sg + sb)
            yield pd.DataFrame(out)

    return files.select("path", "length", "content").mapInPandas(
        decode,
        schema="media_id bigint, byte_len bigint, width bigint, "
        "height bigint, sum_rgb bigint",
    )


@query(
    "warc_ingest",
    oracle=f"""
    WITH recs AS (
      SELECT doc_id,
             unnest(generate_series(0, doc_id % 3 + 1)) AS rec
      FROM documents
    ),
    law AS (
      SELECT doc_id, rec,
             'http://site-' || CAST(doc_id % 7 AS VARCHAR)
               || '.example/doc/' || CAST(doc_id AS VARCHAR)
               || '/' || CAST(rec AS VARCHAR) AS uri,
             CASE WHEN (doc_id + rec) % 5 = 0 THEN 404 ELSE 200 END
                 AS status,
             'doc ' || CAST(doc_id AS VARCHAR) || ' rec '
               || CAST(rec AS VARCHAR) || ' '
               || repeat('tok' || CAST((doc_id * 7 + rec) % 13 AS VARCHAR)
                         || ' ', (doc_id + rec) % 4 + 1)
               || CASE WHEN (doc_id + rec) % 3 = 0
                       THEN 'WARC/1.0 lookalike' ELSE '' END AS body
      FROM recs
    )
    SELECT doc_id, CAST(rec AS BIGINT) AS rec, uri,
           CAST(status AS BIGINT) AS status,
           CAST(length(body) AS BIGINT) AS body_chars,
           CAST({{fold}} AS BIGINT) AS body_hash
    FROM law
    """.format(fold=_sql_charfold("body")),
    tags=("tier2", "source", "multimodal"),
)
def warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC web-crawl ingest (ISO 28500) — the container Common Crawl
    ships in, i.e. the shape an LLM web-text corpus actually arrives
    in. Parses WARC/1.0 records from raw bytes with Content-Length
    framing (the ONLY correct framing: fixture payloads embed literal
    'WARC/1.0' version lines, so split-based parsing dies), filters to
    response records past interleaved warcinfo/request records, splits
    the HTTP payload at its header terminator, and emits per response:
    (rec, uri, status, body_chars, body_hash) with the body text pinned
    cross-engine by the shared char-fold hash. Header case and order
    vary by record parity; every malformed byte stream raises the
    documented ValueError (truncation-gated in
    tests/test_round11_properties.py). The oracle regenerates URI,
    status, body length and body HASH from the synthesis law — fully
    independent of the parser. SCALE: one corpus scan, Arrow-batched
    mapInPandas, payload bytes never shuffle; real WARC directories ride
    the binaryFile source exactly like binaryfile_ingest and parse with
    this same record walker per file. Reference parity: generalizes the
    reference's directory-scan ingest (Search.cpp:183-205) to the
    container format its corpus would ship in at 100 TB."""
    from mapreduce__spark.sources.archives import (
        warc_response_records,
        with_warc_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return warc_response_records(with_warc_payload(docs))


@query(
    "zip_member_extract",
    oracle=f"""
    WITH mem AS (
      SELECT doc_id,
             unnest(generate_series(0, doc_id % 3 + 1)) AS i
      FROM documents
    ),
    law AS (
      SELECT doc_id, i,
             'part-' || CAST(doc_id AS VARCHAR) || '-'
               || CAST(i AS VARCHAR) || '.txt' AS member,
             CASE WHEN (doc_id + i) % 2 = 0 THEN 0 ELSE 8 END AS method,
             'zip ' || CAST(doc_id AS VARCHAR) || ' member '
               || CAST(i AS VARCHAR) || ' '
               || repeat('ab ', (doc_id + i) % 5 + 1) AS text
      FROM mem
    )
    SELECT doc_id, member, CAST(method AS BIGINT) AS method,
           CAST(length(text) AS BIGINT) AS usize,
           TRUE AS crc_ok,
           CAST({{fold}} AS BIGINT) AS text_hash
    FROM law
    """.format(fold=_sql_charfold("text")),
    tags=("tier2", "source", "multimodal"),
)
def zip_member_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP archive extraction from raw bytes — the other container a
    document corpus arrives in. Walks the central directory (EOCD found
    by BACKWARDS signature scan past a non-empty archive comment — the
    fixed-offset shortcut dies on the fixtures), locates each member
    through its LOCAL header's own name/extra lengths (local extra
    fields deliberately differ from the central directory's), inflates
    raw-DEFLATE members (stdlib zlib, wbits=-15 — the PNG convention),
    verifies CRC32 over the inflated bytes, and emits (member, method,
    usize, crc_ok, text_hash) with the extracted TEXT pinned
    cross-engine by the shared char-fold hash — so a wrong inflate, a
    wrong member offset, or a swallowed CRC failure all flip the hash.
    Stored and DEFLATE members interleave by law. The oracle regenerates
    names, methods, sizes and content hashes from the synthesis law,
    independent of the extractor. SCALE: identical shape to warc_ingest
    — one scan, Arrow-batched mapInPandas, archives never shuffle."""
    from mapreduce__spark.sources.archives import (
        with_zip_payload,
        zip_member_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return zip_member_features(with_zip_payload(docs))


def _adpcm_oracle() -> str:
    from mapreduce__spark.operators.adpcm import ADPCM_STEPS

    steps = "[" + ", ".join(str(s) for s in ADPCM_STEPS) + "]"
    return f"""
    WITH blocks AS (
      SELECT doc_id, unnest(generate_series(0, doc_id % 3)) AS b
      FROM documents
    ),
    law AS (
      SELECT doc_id, b,
             CASE (doc_id + b) % 6
                  WHEN 0 THEN 1 WHEN 1 THEN 3 WHEN 2 THEN 5
                  WHEN 3 THEN 9 WHEN 4 THEN 11 ELSE 13 END AS v,
             CASE (doc_id + b) % 6
                  WHEN 0 THEN 40 WHEN 1 THEN 50 WHEN 2 THEN 8
                  WHEN 3 THEN 45 WHEN 4 THEN 35 ELSE 6 END AS i0,
             CASE (doc_id + b) % 6
                  WHEN 0 THEN 1000 WHEN 1 THEN 2000 WHEN 2 THEN -25000
                  WHEN 3 THEN 2500 WHEN 4 THEN 2000 ELSE 20000 END
               + (7 * doc_id + 13 * b) % 97 AS s0
      FROM blocks
    ),
    ks AS (
      SELECT doc_id, b, v, i0, s0,
             unnest(generate_series(1, 16)) AS k
      FROM law
    ),
    deltas AS (
      SELECT doc_id, b, s0, k,
             (CASE WHEN v & 8 = 8 THEN -1 ELSE 1 END)
           * ((st // 8)
              + CASE WHEN v & 4 = 4 THEN st ELSE 0 END
              + CASE WHEN v & 2 = 2 THEN st // 2 ELSE 0 END
              + CASE WHEN v & 1 = 1 THEN st // 4 ELSE 0 END) AS dk
      FROM (
        SELECT *,
               ({steps})[i0 + (k - 1) *
                 (CASE WHEN (v & 7) < 4 THEN -1
                       WHEN (v & 7) = 4 THEN 2
                       WHEN (v & 7) = 5 THEN 4
                       WHEN (v & 7) = 6 THEN 6
                       ELSE 8 END) + 1] AS st
        FROM ks
      )
    ),
    per_block AS (
      SELECT doc_id, b,
             17 * max(s0) + sum((17 - k) * dk) AS blk_sum,
             max(s0) + sum(dk) AS blk_last
      FROM deltas GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(count(*) * 17 AS BIGINT) AS n_samples,
           CAST(sum(blk_sum) AS BIGINT) AS sum_samples,
           CAST(arg_max(blk_last, b) AS BIGINT) AS last_sample
    FROM per_block
    GROUP BY doc_id
    """


@query(
    "audio_adpcm_decode",
    oracle=_adpcm_oracle(),
    tags=("tier2", "multimodal"),
)
def audio_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IMA ADPCM audio decode (WAV format tag 0x11, round 12) — the
    4-bit block-structured codec telephony/game corpora ship when not
    mu-law: per doc a spec-valid mono ADPCM WAV (fmt with
    samples-per-block + fact chunk, d%3+1 data blocks) is synthesized
    and decoded with the REAL general state machine — per-nibble step
    lookup, the standard 4-term delta, int16 sample clamp, 0..88 index
    clamp, every block restarting state from its own header (the
    property that makes blocks independent decode units at 100 TB). The
    fixture law keeps each block's nibble constant and the index walk
    interior, collapsing the decoded samples to an affine form over
    step-table lookups the oracle computes with generate_series + a
    list literal — no recursion — while Spark runs the sequential
    machine; sample sums and the final sample agree only if the walk is
    exactly right (clamping paths are exercised by targeted tests, not
    the law). Arrow-batched mapInPandas; audio bytes never shuffle."""
    from mapreduce__spark.operators.adpcm import (
        adpcm_features,
        with_adpcm_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return adpcm_features(with_adpcm_payload(docs))


@query(
    "targz_member_extract",
    oracle=f"""
    WITH mem AS (
      SELECT doc_id,
             unnest(generate_series(0, doc_id % 3 + 1)) AS i
      FROM documents
    ),
    law AS (
      SELECT doc_id, i,
             'corpus/doc-' || CAST(doc_id AS VARCHAR) || '/part-'
               || CAST(i AS VARCHAR) || '.txt' AS member,
             'tar ' || CAST(doc_id AS VARCHAR) || ' entry '
               || CAST(i AS VARCHAR) || ' '
               || repeat('xy ', (doc_id * 3 + i) % 6 + 1) AS text
      FROM mem
    )
    SELECT doc_id, member,
           CAST(length(text) AS BIGINT) AS usize,
           CAST({{fold}} AS BIGINT) AS text_hash
    FROM law
    """.format(fold=_sql_charfold("text")),
    tags=("tier2", "source", "multimodal"),
)
def targz_member_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tar.gz extraction from raw bytes — the third container corpora
    ship in (research datasets are tarballs). The gzip layer is parsed
    by hand per RFC 1952: optional FEXTRA/FNAME/FCOMMENT/FHCRC fields
    walked (present on law cadences, so fixed-offset skipping dies),
    header CRC16 verified where present, trailer CRC32 + ISIZE verified
    per member, and MULTI-MEMBER streams handled (every d%4==0 fixture
    splits the tar across two concatenated gzip members — single-shot
    `zlib.decompress` dies); only the inner DEFLATE bitstream uses
    stdlib zlib (wbits=-15, the ZIP/PNG convention). The tar walk
    verifies each ustar magic and HEADER CHECKSUM (spaces-for-checksum
    summation), parses the octal size fields, skips directory entries
    and 512-byte padding, and requires both terminating zero blocks.
    Emits (member, usize, text_hash) per regular file with the text
    pinned cross-engine by the shared char-fold hash; the oracle
    regenerates names/sizes/hashes from the synthesis law, fully
    independent of both decompressor and tar walker. Every malformed
    byte stream raises the documented ValueError (per-byte
    truncation-gated in tests/test_round11_properties.py). SCALE: one
    corpus scan, Arrow-batched mapInPandas, archives never shuffle;
    real tarball directories ride binaryFile and parse per file with
    this same walker. Reference parity: generalizes the reference's
    directory-scan ingest (Search.cpp:183-205) like warc_ingest."""
    from mapreduce__spark.sources.archives import (
        targz_member_features,
        with_targz_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return targz_member_features(with_targz_payload(docs))


@query(
    "html_text_extract",
    oracle=f"""
    WITH paras AS (
      SELECT doc_id,
             string_agg('para ' || CAST(doc_id AS VARCHAR) || ' '
                          || CAST(i AS VARCHAR) || ' & more A',
                        ' ' ORDER BY i) AS ptext
      FROM (SELECT doc_id,
                   unnest(generate_series(0, doc_id % 3)) AS i
            FROM documents)
      GROUP BY doc_id
    ),
    law AS (
      SELECT doc_id,
             'Doc ' || CAST(doc_id AS VARCHAR) || ' ' || ptext
               || CASE WHEN doc_id % 2 = 0
                       THEN ' link ' || CAST(doc_id AS VARCHAR)
                       ELSE '' END AS text,
             CASE WHEN doc_id % 2 = 0
                  THEN length('link ' || CAST(doc_id AS VARCHAR))
                  ELSE 0 END AS link_chars
      FROM paras
    )
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS text_chars,
           CAST({{fold}} AS BIGINT) AS text_hash,
           CAST(link_chars AS BIGINT) AS link_chars,
           CAST((100 * link_chars) // length(text) AS BIGINT)
               AS link_density_pct,
           CAST(doc_id % 3 + 1 AS BIGINT) AS n_paragraphs
    FROM law
    """.format(fold=_sql_charfold("text")),
    tags=("tier2", "text", "multimodal"),
)
def html_text_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML visible-text extraction — the step between WARC ingest and
    every text-quality operator. A REAL tokenizer (state machine with
    TAG/RAWTEXT/COMMENT states honoring quoted attribute values), not a
    regex strip: the law plants the classic killers of `<[^>]*>`
    extraction — a literal `>` inside a quoted attribute (every d%5==0
    doc), `<script>`/`<style>` bodies containing tag-shaped text that
    must vanish entirely, comments hiding markup, entities that decode
    in text (`&amp;`, `&#65;`) but must NOT decode inside attribute
    values. Emits per doc the collapsed visible text's length and
    char-fold hash, the visible chars inside `<a>` elements, the
    link-density percentage (the Kohlschütter boilerplate signal, exact
    integer division) and the paragraph count. The oracle rebuilds the
    expected VISIBLE text from the synthesis law — fully independent of
    the tokenizer, so a swallowed script body, a mis-decoded entity or
    a broken attribute scan all flip the hash. SCALE: one corpus scan,
    Arrow-batched mapInPandas, the raw HTML never shuffles (operators/
    html.py); downstream operators see only the narrow feature row."""
    from mapreduce__spark.operators.html import html_text_features

    d = F.col("doc_id")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    paras = F.array_join(
        F.transform(
            F.sequence(F.lit(0), (d % 3).cast("int")),
            lambda i: F.concat(
                F.lit('<p class="c'), i.cast("string"), F.lit('">para '),
                d.cast("string"), F.lit(" "), i.cast("string"),
                F.lit(" &amp; more &#65;</p>"),
            ),
        ),
        "",
    )
    html = F.concat(
        F.lit("<!DOCTYPE html><html><head><title>Doc "), d.cast("string"),
        F.lit("</title><style>p{color:red}</style>"),
        F.lit('<script>var s="<p>fake '), d.cast("string"),
        F.lit('</p>";</script></head><body><!-- hidden <b>x</b> -->'),
        paras,
        F.when(d % 5 == 0, F.lit('<img alt="a > b" src="i.png">')).otherwise(
            F.lit("")
        ),
        F.when(
            d % 2 == 0,
            F.concat(
                F.lit('<div><a href="/u?x=1&amp;y='), d.cast("string"),
                F.lit('">link '), d.cast("string"), F.lit("</a></div>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return html_text_features(docs.withColumn("html", html))


# Law-reconstructed dHash table shared by the two perceptual-hash
# oracles: nearest-neighbor 9x8 grayscale grid over the BMP pixel law
# (synth_bmp_bytes), one bit per adjacent-cell comparison, packed into
# two 32-bit halves so BIGINT arithmetic never touches the sign bit.
_SQL_DHASH_CTES = """
    dims AS (
      SELECT doc_id, doc_id % 13 + 4 AS w, (doc_id * 7) % 11 + 4 AS h
      FROM documents
    ),
    grays AS (
      SELECT doc_id, r.r, c.c, w, h,
             (299 * ((3 * doc_id + 11 * ((c.c * w) // 9)
                      + ((r.r * h) // 8)) % 256)
              + 587 * ((2 * doc_id + ((c.c * w) // 9)
                        + 7 * ((r.r * h) // 8)) % 256)
              + 114 * ((doc_id + 3 * ((c.c * w) // 9)
                        + 5 * ((r.r * h) // 8)) % 256)) // 1000 AS g
      FROM dims,
           (SELECT unnest(generate_series(0, 7)) AS r) r,
           (SELECT unnest(generate_series(0, 8)) AS c) c
    ),
    bits AS (
      SELECT a.doc_id, a.r, a.c, a.w, a.h,
             CASE WHEN a.g < b.g THEN 1 ELSE 0 END AS bit
      FROM grays a
      JOIN grays b ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      WHERE a.c < 8
    ),
    hashes AS (
      SELECT doc_id, MAX(w) AS width, MAX(h) AS height,
             CAST(SUM(CASE WHEN r < 4
                           THEN bit * (CAST(1 AS BIGINT) << (r * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_lo,
             CAST(SUM(CASE WHEN r >= 4
                           THEN bit * (CAST(1 AS BIGINT) << ((r - 4) * 8 + c))
                           ELSE 0 END) AS BIGINT) AS dhash_hi
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "image_dhash",
    oracle=f"""
    WITH {_SQL_DHASH_CTES}
    SELECT doc_id, CAST(width AS BIGINT) AS width,
           CAST(height AS BIGINT) AS height, dhash_hi, dhash_lo
    FROM hashes
    """,
    tags=("tier2", "multimodal", "dedup", "bench"),
)
def image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image fingerprints (dHash) over REAL decoded BMP
    bytes: integer BT.601 grayscale, nearest-neighbor 9x8 grid, one
    bit per adjacent-cell comparison, packed as two 32-bit halves
    (operators/phash.py). The oracle reconstructs every bit from the
    pixel synthesis law through DuckDB arithmetic — a wrong row order
    (the bottom-up/top-down hazard), a wrong grayscale rounding, or a
    flipped bit order all diverge. This is the image sibling of
    minhash_signatures: the narrow fingerprint table that all image
    near-dup joins downstream consume. SCALE: one corpus scan,
    Arrow-batched mapInPandas; images never shuffle, only the 5-column
    hash table leaves the scan stage."""
    from mapreduce__spark.operators.multimodal import with_bmp_payload
    from mapreduce__spark.operators.phash import image_dhash_features

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return image_dhash_features(with_bmp_payload(docs))


@query(
    "image_dhash_neardup",
    oracle=f"""
    WITH {_SQL_DHASH_CTES}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.dhash_hi, b.dhash_hi))
                + bit_count(xor(a.dhash_lo, b.dhash_lo)) AS BIGINT)
               AS hamming
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash_hi, b.dhash_hi))
          + bit_count(xor(a.dhash_lo, b.dhash_lo)) <= 3
    """,
    tags=("tier2", "multimodal", "dedup"),
)
def image_dhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-duplicate pairs within Hamming radius 3 of the dHash
    fingerprint — the multimodal entry in the dedup family. The Spark
    side is the SCALE path: the 64 bits split into four 16-bit bands,
    candidates meet in an equi-join on (band_index, band_value), and
    the exact Hamming filter touches only candidates. By pigeonhole,
    radius 3 < 4 bands means every qualifying pair shares a whole band
    — so the banded plan is provably COMPLETE, and the DuckDB oracle
    (quadratic brute force over the law-reconstructed hashes) must
    agree exactly, pair for pair. The gradient-law fixtures collide
    heavily on purpose (hundreds of distinct hashes over 500 docs), so
    the pair set is fat enough to catch a lossy band split. SCALE:
    shuffle is O(N * 4 bands) 16-bit keys; the N^2 product never forms
    (candidate count is driven by bucket occupancy, the LSH argument
    of dedup_lsh_minhash applied to images)."""
    from mapreduce__spark.operators.multimodal import with_bmp_payload
    from mapreduce__spark.operators.phash import (
        dhash_near_dup_pairs,
        image_dhash_features,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return dhash_near_dup_pairs(image_dhash_features(with_bmp_payload(docs)))


@query(
    "audio_mulaw_roundtrip",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 2 + 1 AS ch,
             (doc_id % 60 + 4) * (doc_id % 2 + 1) AS n
      FROM documents
    ),
    ks AS (
      SELECT doc_id, ch, unnest(generate_series(0, n - 1)) AS k FROM dims
    ),
    samp AS (
      SELECT doc_id, k,
             ((31 * doc_id + 7 * (k // ch) + 13 * (k % ch)) % 65536)
               - 32768 AS s
      FROM ks
    ),
    enc0 AS (
      SELECT doc_id, k, s,
             CASE WHEN s < 0 THEN 128 ELSE 0 END AS sgn,
             LEAST(abs(s), 32635) + 132 AS mag
      FROM samp
    ),
    enc1 AS (
      SELECT *, CASE WHEN mag // 128 >= 128 THEN 7
                     WHEN mag // 128 >= 64 THEN 6
                     WHEN mag // 128 >= 32 THEN 5
                     WHEN mag // 128 >= 16 THEN 4
                     WHEN mag // 128 >= 8 THEN 3
                     WHEN mag // 128 >= 4 THEN 2
                     WHEN mag // 128 >= 2 THEN 1
                     ELSE 0 END AS e
      FROM enc0
    ),
    enc2 AS (
      SELECT doc_id, k, s, sgn, e,
             (mag // (CAST(1 AS BIGINT) << (e + 3))) % 16 AS mant
      FROM enc1
    ),
    enc3 AS (
      SELECT doc_id, k, s,
             255 - (sgn + e * 16 + mant) AS code,
             CASE WHEN sgn = 128
                  THEN -((((mant * 8) + 132)
                          * (CAST(1 AS BIGINT) << e)) - 132)
                  ELSE (((mant * 8) + 132)
                        * (CAST(1 AS BIGINT) << e)) - 132
             END AS dec
      FROM enc2
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(list_reduce(
                  list_prepend(CAST(0 AS BIGINT), list(code ORDER BY k)),
                  (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT)
               AS code_hash,
           CAST(sum(dec) AS BIGINT) AS sum_decoded,
           CAST(max(abs(s - dec)) AS BIGINT) AS max_abs_err
    FROM enc3 GROUP BY doc_id
    """,
    tags=("tier2", "multimodal",),
)
def audio_mulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 mu-law transcode audit over REAL PCM16 WAV bytes — the
    companding codec telephony/ASR corpora ship in, both directions as
    exact integer ops (ITU-T G.711: BIAS 0x84, CLIP 32635, sign/
    segment/mantissa with inverted wire bits). Per doc: the code
    stream's order-pinned char-fold hash (a single swapped or
    mis-segmented code flips it), the reconstructed sample sum, and
    the max absolute reconstruction error (the companding error bound
    itself — ~2% of magnitude, worst 644 at clip — so a broken decode
    explodes this column). The oracle replays encode AND decode from
    the WAV sample law entirely in SQL, term for term. The WAV walk
    honors the RIFF hazards (odd junk chunks, data-before-fmt).
    SCALE: one scan, Arrow-batched mapInPandas, audio never shuffles
    (operators/audio.py)."""
    from mapreduce__spark.operators.audio import wav_mulaw_features
    from mapreduce__spark.operators.multimodal import with_wav_pcm_payload

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return wav_mulaw_features(with_wav_pcm_payload(docs))


@query(
    "video_sample_index",
    oracle="""
    WITH dims AS (
      SELECT doc_id, doc_id % 25 + 5 AS n,
             (doc_id % 25 + 5) // 2 + 1 AS r1,
             100 + doc_id % 5 AS dt1, 200 + doc_id % 7 AS dt2
      FROM documents
    ),
    ks AS (
      SELECT doc_id, r1, dt1, dt2,
             unnest(generate_series(0, n - 1)) AS k
      FROM dims
    ),
    samp AS (
      SELECT doc_id, k AS sample,
             CASE WHEN k < r1 THEN k * dt1
                  ELSE r1 * dt1 + (k - r1) * dt2 END AS dts,
             (doc_id + k) % 9 + 2 AS sz,
             k // 3 + 1 AS chunk,
             (doc_id * 3 + k) % 256 AS first_byte
      FROM ks
    )
    SELECT doc_id, CAST(sample AS BIGINT) AS sample,
           CAST(dts AS BIGINT) AS dts,
           CAST(sz AS BIGINT) AS size,
           CAST(chunk AS BIGINT) AS chunk,
           CAST(COALESCE(SUM(sz) OVER (
                  PARTITION BY doc_id ORDER BY sample
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off_mdat,
           CAST(first_byte AS BIGINT) AS first_byte
    FROM samp
    """,
    tags=("tier2", "multimodal",),
)
def video_sample_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP4/ISO-BMFF sample-table walk — the video frame index a
    frame-sampling pipeline starts from (ISO/IEC 14496-12 stbl family).
    Parses the box tree from raw bytes: stts time-to-sample RUNS (two
    per fixture), stsz sizes, stsc sample-to-chunk runs (a partial
    final chunk expressed as a second run, per spec — not the
    last-chunk-implied shortcut), stco or co64 (64-bit, every d%4==2
    doc) chunk offsets, mdat behind size==1+largesize framing
    (d%6==0), free/uuid junk boxes skipped by size. Each sample's
    resolved ABSOLUTE offset is proven by reading its first payload
    byte out of mdat and matching the law — a wrong run
    interpretation or offset base lands on the wrong byte. The oracle
    rebuilds (dts, size, chunk, offset-in-mdat, first_byte) per sample
    from the synthesis laws with a window cumsum. SCALE: one scan,
    Arrow-batched mapInPandas; at real scale only moov (KBs) plus
    probed bytes are fetched per file (operators/video.py)."""
    from mapreduce__spark.operators.video import (
        mp4_sample_index,
        with_mp4_sample_payload,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return mp4_sample_index(with_mp4_sample_payload(docs))


@query(
    "png_pixel_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 11 + 4       AS width,
             (doc_id * 5) % 9 + 4  AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((7 * doc_id + 5 * x + 3 * y) % 256) AS BIGINT) AS sum_r,
           CAST(sum((doc_id + 2 * x + 11 * y) % 256) AS BIGINT)    AS sum_g,
           CAST(sum((5 * doc_id + 9 * x + y) % 256) AS BIGINT)     AS sum_b,
           CAST((7 * doc_id) % 256 + doc_id % 256 + (5 * doc_id) % 256
                AS BIGINT) AS topleft_rgb
    FROM pxy
    GROUP BY doc_id, width, height
    """,
    tags=("tier2", "multimodal"),
)
def png_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode of an ENTROPY-CODED image format, still zero media
    libraries: per doc a spec-valid 8-bit truecolor PNG is synthesized
    (every pixel a pure function of doc_id and (x, y)) and fully decoded
    back from raw bytes — chunk walk with CRC32 verification, multi-IDAT
    zlib inflate (DEFLATE is stdlib), and all five scanline unfilters
    implemented from the spec, exercised hard because the synth side
    rotates the filter type per row (None/Sub/Up/Average/Paeth). The
    oracle regenerates every pixel in SQL and aggregates, so the channel
    sums verify the whole unfiltered pixel array and the top-left-pixel
    column pins scanline order. bmp_pixel_decode covered the
    pure-byte-layout raster case; this closes the entropy-coded case the
    round-7 docstring still deferred ('PNG/JPEG stay behind the gate') —
    JPEG alone remains library-gated, its codec not being in the stdlib.
    Arrow-batched mapInPandas, partition-preserving, payloads never
    shuffled."""
    from mapreduce__spark.operators.multimodal import (
        png_pixel_features,
        with_png_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return png_pixel_features(with_png_payload(docs))


@query(
    "png_adam7_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             (doc_id * 3) % 14 + 3 AS width,
             (doc_id * 7) % 13 + 3 AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    ),
    p AS (
      SELECT doc_id, width, height, x, y,
             (11 * doc_id + 3 * x + 7 * y) % 256 AS r,
             (3 * doc_id + 8 * x + y) % 256      AS g,
             (9 * doc_id + x + 4 * y) % 256      AS b,
             x + 2 * y + 1                       AS wgt
      FROM pxy
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(r) AS BIGINT) AS sum_r,
           CAST(sum(g) AS BIGINT) AS sum_g,
           CAST(sum(b) AS BIGINT) AS sum_b,
           CAST(sum(wgt * r) AS BIGINT) AS wsum_r,
           CAST(sum(wgt * g) AS BIGINT) AS wsum_g,
           CAST(sum(wgt * b) AS BIGINT) AS wsum_b
    FROM p
    GROUP BY doc_id, width, height
    """,
    tags=("tier2", "multimodal"),
)
def png_adam7_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADAM7-INTERLACED PNG decode (round 12) — the progressive-rendering
    layout web crawls actually contain, and the png_pixel_decode
    docstring's last deferred PNG shape: seven sub-image passes sampling
    the spec's 8x8 pattern, each filtered INDEPENDENTLY (own scanline
    widths, own zero previous row, per-pass rotating filter types), with
    dimensions small enough that several passes are genuinely EMPTY for
    some docs (contributing no bytes at all — a real-decoder hazard).
    Plain channel sums are placement-INVARIANT (any pass-table transpose
    yields the same pixel multiset), so the query also emits
    coordinate-weighted sums sum((x + 2y + 1) * channel) that any wrong
    pass-to-grid mapping shifts; the oracle recomputes both from the
    pixel law. The pass table itself is pinned against the spec's
    pattern-matrix literal in tests/test_round12_properties.py.
    Arrow-batched mapInPandas, payloads never shuffle."""
    from mapreduce__spark.operators.multimodal import (
        png_adam7_features,
        with_png_adam7_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return png_adam7_features(with_png_adam7_payload(docs))


@query(
    "gif_pixel_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 9 + 4        AS width,
             (doc_id * 3) % 7 + 4  AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, x,
             unnest(generate_series(0, height - 1)) AS y,
             (doc_id + 3 * x + 7 * unnest(generate_series(0, height - 1))) % 8
               AS c
      FROM px
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((11 * c + doc_id) % 256) AS BIGINT)    AS sum_r,
           CAST(sum((5 * c + 2 * doc_id) % 256) AS BIGINT) AS sum_g,
           CAST(sum((3 * c + 7 * doc_id) % 256) AS BIGINT) AS sum_b,
           CAST((11 * (doc_id % 8) + doc_id) % 256
              + (5 * (doc_id % 8) + 2 * doc_id) % 256
              + (3 * (doc_id % 8) + 7 * doc_id) % 256 AS BIGINT) AS topleft_rgb
    FROM pxy
    GROUP BY doc_id, width, height
    """,
    tags=("tier2", "multimodal"),
)
def gif_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL LZW decode, zero media libraries: per doc a spec-valid GIF89a
    is synthesized with REAL LZW-compressed pixel data (GIF's codec is
    LZW, small enough to implement from the spec — unlike PNG there is
    no stdlib codec to lean on, so BOTH sides are implemented here:
    compressor and an independently-written decompressor, with the
    decoder additionally validated against a canonical hand-verifiable
    1x1 GIF byte vector produced by neither side). Decode hazards baked
    into the synth: four-pass interlacing on every third doc, local
    color table overriding a garbage global one on every odd doc,
    extension-block skipping, multi-sub-block stream reassembly,
    variable code width with the early-change off-by-one, and natural
    KwKwK cases from the periodic pixel law. The oracle regenerates
    every palette-mapped pixel in SQL; channel sums verify the whole
    index array through the palette and the top-left pixel pins
    de-interlacing. With BMP (byte layout), PNG (DEFLATE) and GIF (LZW)
    all fully decoded, JPEG alone remains library-gated — arithmetic/
    Huffman entropy coding plus DCT is the one codec with no stdlib
    leverage. Arrow-batched mapInPandas, payloads never shuffled."""
    from mapreduce__spark.operators.multimodal import (
        gif_pixel_features,
        with_gif_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return gif_pixel_features(with_gif_payload(docs))


@query(
    "jpeg_pixel_decode",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 19 + 6       AS width,
             (doc_id * 5) % 17 + 6 AS height,
             doc_id % 3 = 2        AS gray
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, gray,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, gray, x // 8 AS bx,
             unnest(generate_series(0, height - 1)) // 8 AS by
      FROM px
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((13 * doc_id + 7 * bx + 3 * by) % 256) AS BIGINT) AS sum_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum((3 * doc_id + 5 * bx + 11 * by) % 256) END
                AS BIGINT) AS sum_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum((9 * doc_id + 2 * bx + 6 * by) % 256) END
                AS BIGINT) AS sum_b,
           CAST((13 * doc_id) % 256
              + CASE WHEN gray THEN 0
                ELSE (3 * doc_id) % 256 + (9 * doc_id) % 256 END
                AS BIGINT) AS topleft_rgb
    FROM pxy
    GROUP BY doc_id, width, height, gray
    """,
    tags=("tier2", "multimodal"),
)
def jpeg_pixel_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG decode, zero media libraries — the LAST cell of
    the decode matrix (BMP = byte layout, PNG = DEFLATE, GIF = LZW, JPEG
    = Huffman entropy + DCT; T.81 has no stdlib leverage for ANY layer,
    so both sides are spec-implemented: canonical Huffman codes from
    BITS/HUFFVAL, DC prediction with category/EXTEND coding, AC run/size
    with ZRL and EOB, byte stuffing, restart markers, zigzag,
    dequantization, separable IDCT). Exactness comes from the fixture
    class, not from skipping the transform: every 8x8 block is constant
    per component, whose forward DCT is DC-only with DC = 8*(v-128) —
    quantized exactly by the DC step pinned to 8 — so the decoder's full
    pipeline reproduces the constants bit-exactly and the channel sums
    hash-check cross-engine. Decode hazards baked into the synth:
    grayscale single-component files every third doc, DRI + restart
    markers every fifth, COM skipping, two quant tables in one DQT
    segment, combined vs per-table DHT by parity, DC prediction crossing
    sign/category boundaries. The general AC paths the DC-only fixtures
    can't reach are pinned by a coefficient-layer round-trip property
    test on RANDOM coefficients plus a hand-derived canonical entropy
    vector (tests/test_round9_properties.py). Components are decoded AS
    STORED (the YCbCr matrix is a pointwise transform outside the codec).
    Arrow-batched mapInPandas, payloads never shuffled."""
    from mapreduce__spark.operators.multimodal import (
        jpeg_pixel_features,
        with_jpeg_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jpeg_pixel_features(with_jpeg_payload(docs))


@query(
    "jpeg_pixel_decode_ac",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 19 + 6       AS width,
             (doc_id * 5) % 17 + 6 AS height,
             doc_id % 3 = 2        AS gray
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, gray,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, gray, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    ),
    p AS (
      SELECT doc_id, width, height, gray,
             (CASE WHEN x % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
           * (CASE WHEN y % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END) AS s,
             23 + ((13 * doc_id + 7 * (x // 8) + 3 * (y // 8)) % 256) % 210
                 AS law_r,
             23 + ((3 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256) % 210
                 AS law_g,
             23 + ((9 * doc_id + 2 * (x // 8) + 6 * (y // 8)) % 256) % 210
                 AS law_b
      FROM pxy
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(law_r + s * 7) AS BIGINT) AS sum_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(law_g + s * (-11)) END AS BIGINT) AS sum_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(law_b + s * 22) END AS BIGINT) AS sum_b,
           CAST(sum(s * (law_r + s * 7)) AS BIGINT) AS checker_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * (law_g + s * (-11))) END AS BIGINT) AS checker_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * (law_b + s * 22)) END AS BIGINT) AS checker_b
    FROM p
    GROUP BY doc_id, width, height, gray
    """,
    tags=("tier2", "multimodal"),
)
def jpeg_pixel_decode_ac(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nonzero-AC JPEG fixture class (round-9 verdict item 5): every
    block carries a planted quantized coefficient at natural (4,4) —
    zigzag index 39, so the driver-attested decode path must walk TWO
    ZRL symbols plus a run-6 AC code per block, the run/size machinery
    the block-constant jpeg_pixel_decode never touches. Exactness
    survives because the (4,4) basis is +-1/2 at every sample: the
    dequantized amplitudes (56, -88, 176) contribute exactly
    s(x)s(y) * (7, -11, 22) per pixel over the checkerboard
    s = (+,-,-,+,+,-,-,+), and the block law is compressed into
    [23, 232] so nothing clamps. The emitted checker-weighted sums
    (sum of s(x)s(y)*pixel) are the non-vacuity device: a full
    checkerboard cancels in the plain channel sums, but an AC-decode
    failure shifts every checker column by amp * n_pixels, so the hash
    cannot pass with the AC path broken. The oracle recomputes every
    pixel from the synthesis law per (x, y) — fully independent of the
    codec. Same Arrow-batched mapInPandas shape as the sibling decoders;
    payloads never shuffle."""
    from mapreduce__spark.operators.multimodal import (
        jpeg_checker_features,
        with_jpeg_ac_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jpeg_checker_features(with_jpeg_ac_payload(docs))


@query(
    "jpeg_pixel_decode_420",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 21 + 10       AS width,
             (doc_id * 3) % 19 + 10 AS height
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height,
             unnest(generate_series(0, width - 1)) // 16 AS mx
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, mx,
             unnest(generate_series(0, height - 1)) // 16 AS my
      FROM px
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum((13 * doc_id + 7 * mx + 3 * my) % 256) AS BIGINT) AS sum_r,
           CAST(sum((3 * doc_id + 5 * mx + 11 * my) % 256) AS BIGINT) AS sum_g,
           CAST(sum((9 * doc_id + 2 * mx + 6 * my) % 256) AS BIGINT) AS sum_b,
           CAST((13 * doc_id) % 256 + (3 * doc_id) % 256
              + (9 * doc_id) % 256 AS BIGINT) AS topleft_rgb
    FROM pxy
    GROUP BY doc_id, width, height
    """,
    tags=("tier2", "multimodal"),
)
def jpeg_pixel_decode_420(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 chroma-subsampled JPEG decode (round-10 verdict item 6) —
    the dominant real-corpus JPEG shape, which the 1x1-sampled fixture
    classes never exercise: each 16x16 MCU interleaves FOUR luma blocks
    (T.81 A.2.3 order) before one Cb and one Cr block at quarter
    resolution, DC prediction runs per component across the 6-block MCU,
    and the decoder upsamples the chroma planes by sample replication
    (pixel (x,y) reads chroma sample (x//2, y//2) — the declared JFIF
    nearest-neighbor semantics). Exactness comes from the fixture law
    being constant PER MACROBLOCK: all four luma blocks of an MCU share
    one DC, so replication reproduces the law exactly and every channel
    of every pixel is the law value at (x//16, y//16) — the oracle
    recomputes that per pixel, fully independent of the codec. Odd
    widths/heights exercise the ceil-division chroma sample grid; DRI +
    restart markers every fifth doc now count 6-block MCUs. Same
    Arrow-batched mapInPandas shape as the sibling decoders (and the
    same decode_jpeg_pixels entry point — sampling is read from SOF0);
    payloads never shuffle."""
    from mapreduce__spark.operators.multimodal import (
        jpeg_pixel_features,
        with_jpeg_420_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jpeg_pixel_features(with_jpeg_420_payload(docs))


@query(
    "jpeg_pixel_decode_progressive",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             doc_id % 17 + 8       AS width,
             (doc_id * 3) % 13 + 8 AS height,
             doc_id % 3 = 2        AS gray
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, gray,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, gray, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    ),
    p AS (
      SELECT doc_id, width, height, gray,
             (CASE WHEN x % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
           * (CASE WHEN y % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END) AS s,
             23 + ((13 * doc_id + 7 * (x // 8) + 3 * (y // 8)) % 256) % 210
                 AS law_r,
             23 + ((3 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256) % 210
                 AS law_g,
             23 + ((9 * doc_id + 2 * (x // 8) + 6 * (y // 8)) % 256) % 210
                 AS law_b
      FROM pxy
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(law_r + s * 7) AS BIGINT) AS sum_r,
           CAST(CASE WHEN gray THEN 0 ELSE sum(law_g) END AS BIGINT) AS sum_g,
           CAST(CASE WHEN gray THEN 0 ELSE sum(law_b) END AS BIGINT) AS sum_b,
           CAST(sum(s * (law_r + s * 7)) AS BIGINT) AS checker_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * law_g) END AS BIGINT) AS checker_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * law_b) END AS BIGINT) AS checker_b
    FROM p
    GROUP BY doc_id, width, height, gray
    """,
    tags=("tier2", "multimodal"),
)
def jpeg_pixel_decode_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE JPEG decode (SOF2, spectral selection) — the last
    real-corpus JPEG shape after round-11's 4:2:0: a DC scan (interleaved,
    baseline category coding) followed by one AC scan per component over
    the 1..63 band, with the progressive-only EOBRUN coding exercised
    BOTH ways — luma blocks each carry the planted (4,4) coefficient
    (ZRL+ZRL+run-6, per-block EOB0) while color docs' chroma bands are
    empty so the encoder emits single EOBn symbols spanning every block
    of the component, the multi-block path baseline JPEG cannot express.
    Every other doc additionally splits DC into SUCCESSIVE-
    APPROXIMATION scans (Al=1 first pass + a one-raw-bit-per-block
    refinement scan — exact because (v>>1)<<1 | (v&1) == v under
    arithmetic shifts). The AC scans ship a custom DHT (the Annex-K
    tables carry no EOBn symbols — as with real progressive encoders).
    AC successive approximation and in-scan restart markers are
    exercised by the round-12 sibling class jpeg_pixel_decode_ac_refine
    (this fixture class stays restart-free by design). The
    checker-weighted sums make the planted AC non-vacuous exactly as in
    jpeg_pixel_decode_ac, and the oracle recomputes every pixel from the
    synthesis law, independent of the codec. Arrow-batched mapInPandas,
    payloads never shuffle."""
    from mapreduce__spark.operators.multimodal import (
        jpeg_progressive_features,
        with_jpeg_progressive_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jpeg_progressive_features(with_jpeg_progressive_payload(docs))


@query(
    "jpeg_pixel_decode_ac_refine",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             (doc_id * 5) % 15 + 8 AS width,
             (doc_id * 7) % 11 + 8 AS height,
             doc_id % 3 = 2        AS gray
      FROM documents
    ),
    px AS (
      SELECT doc_id, width, height, gray,
             unnest(generate_series(0, width - 1)) AS x
      FROM dims
    ),
    pxy AS (
      SELECT doc_id, width, height, gray, x,
             unnest(generate_series(0, height - 1)) AS y
      FROM px
    ),
    p AS (
      SELECT doc_id, width, height, gray,
             (CASE WHEN x % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END)
           * (CASE WHEN y % 8 IN (0, 3, 4, 7) THEN 1 ELSE -1 END) AS s,
             CASE ((x // 8) + 2 * (y // 8) + doc_id) % 4
                  WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN -1
                  ELSE -2 END AS amp,
             23 + ((13 * doc_id + 7 * (x // 8) + 3 * (y // 8)) % 256) % 210
                 AS law_r,
             23 + ((3 * doc_id + 5 * (x // 8) + 11 * (y // 8)) % 256) % 210
                 AS law_g,
             23 + ((9 * doc_id + 2 * (x // 8) + 6 * (y // 8)) % 256) % 210
                 AS law_b
      FROM pxy
    )
    SELECT doc_id,
           CAST(width AS BIGINT)  AS width,
           CAST(height AS BIGINT) AS height,
           CAST(count(*) AS BIGINT) AS n_pixels,
           CAST(sum(law_r + s * 7 * amp) AS BIGINT) AS sum_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(law_g - s * 11) END AS BIGINT) AS sum_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(law_b + s * 22) END AS BIGINT) AS sum_b,
           CAST(sum(s * law_r + 7 * amp) AS BIGINT) AS checker_r,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * law_g - 11) END AS BIGINT) AS checker_g,
           CAST(CASE WHEN gray THEN 0
                ELSE sum(s * law_b + 22) END AS BIGINT) AS checker_b
    FROM p
    GROUP BY doc_id, width, height, gray
    """,
    tags=("tier2", "multimodal"),
)
def jpeg_pixel_decode_ac_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive JPEG with AC SUCCESSIVE APPROXIMATION and in-scan
    RESTART markers (round-11 VERDICT item 4) — the scan script
    mozjpeg-class encoders actually emit, closing the last non-arithmetic
    rejection in the progressive decoder: each component's AC band is a
    shifted first scan (Ah=0 Al=1, toward-zero point transform) plus a
    T.81 G.1.2.3 refinement scan whose newly-nonzero coefficients are
    run/size-1 symbols with sign bits and whose already-nonzero ones take
    buffered CORRECTION BITS — through ZRL, per-block EOB0, and
    multi-block EOB runs (bits riding the run). The luma (4,4) amplitude
    varies per block over {1, 2, -1, -2} so all four paths occur; chroma
    keeps the class constants (-1: empty first scan + per-block
    refinement; +2: one EOBn spanning every block with one correction bit
    each). Every other doc also splits DC into successive-approximation
    scans; every fifth doc adds DRI + cyclic RSTn INSIDE the progressive
    scans (byte-aligned segments, DC-predictor and EOB-run reset per
    interval). The pixel law stays closed-form (block-constant base
    +- 7*amp checkerboard), so the oracle recomputes every pixel
    independently of the codec. Arrow-batched mapInPandas; payloads
    never shuffle. Reference parity: tier-2 multimodal extension like
    its siblings (the reference has no media handling)."""
    from mapreduce__spark.operators.multimodal import (
        jpeg_ac_refine_features,
        with_jpeg_ac_refine_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return jpeg_ac_refine_features(with_jpeg_ac_refine_payload(docs))
