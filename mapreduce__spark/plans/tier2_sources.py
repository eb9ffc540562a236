"""Tier-2 source/format family: archives, parquet internals, CSV/ORC/Avro, schema evolution, layout (O-3; split from tier2.py, round 13)."""

from __future__ import annotations


import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


@query(
    "avro_ingest",
    oracle="""
    WITH recs AS (
      SELECT doc_id,
             unnest(generate_series(0, doc_id % 3 + 1)) AS rec
      FROM documents
    )
    SELECT doc_id, CAST(rec AS BIGINT) AS rec,
           CAST(doc_id * 100 + rec AS BIGINT) AS rec_id,
           'user-' || CAST((doc_id * 7 + rec) % 19 AS VARCHAR) || '-'
             || repeat('x', (doc_id + rec) % 3) AS name,
           CAST((doc_id * 13 + rec * 7) % 1000 - 200 AS BIGINT) AS score
    FROM recs
    """,
    tags=("tier2", "source"),
)
def avro_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container ingest (round 12) — the row-oriented
    serialization format event pipelines and Kafka archives actually
    ship, parsed from raw bytes with no format library: magic + file
    metadata map (including the spec's negative-count skippable map
    blocks, exercised every fifth doc), schema-JSON-driven field order
    (rotated every third doc — schema order IS the wire order), zigzag
    varint longs (scores go NEGATIVE), length-prefixed UTF-8 strings,
    null vs raw-DEFLATE codecs (the codec key is OMITTED on null docs —
    absent means null per spec), multi-block files every fourth doc,
    per-block record counts + byte sizes validated with exact
    consumption, and every block's sync marker checked against the
    header's. Every malformed byte stream raises the documented
    ValueError — the one spec-mandated exception being a cut at an
    exact block boundary, which is indistinguishable from a complete
    shorter container (per-byte truncation-gated in
    tests/test_round12_properties.py, which pins exactly those boundary
    cuts; fuzzed against an independent in-test writer). The oracle regenerates ids, names and scores from
    the synthesis law, fully independent of the parser. SCALE: one
    corpus scan, Arrow-batched mapInPandas, container bytes never
    shuffle; real .avro directories ride binaryFile and parse per file
    with this same walker. Reference parity: generalizes the
    reference's directory-scan ingest (Search.cpp:183-205) like
    warc_ingest."""
    from mapreduce__spark.sources.archives import (
        avro_record_rows,
        with_avro_payload,
    )

    docs = load_table(spark, sf_dir, "documents")
    return avro_record_rows(with_avro_payload(docs))


@query(
    "orc_roundtrip",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           max(o_orderdate) AS max_date
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("tier2", "source", "sink"),
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write -> read -> aggregate roundtrip, completing the
    columnar-format matrix (parquet native, CSV/JSONL/XML, binaryFile,
    custom DataSource — ORC is the other columnar format Spark ships a
    vectorized reader for). The full orders table (ints, strings,
    2-decimal doubles, timestamps) is written to ORC and read back;
    the output aggregates over the ROUNDTRIPPED data while the oracle
    computes the same aggregate from the ORIGINAL parquet — so any
    loss in the ORC layer (timestamp timezone re-interpretation is the
    classic one; the session pins UTC on both paths) diverges the
    hash. Write goes to the per-user staged fixture root, overwritten
    per run. SCALE: ORC and parquet share the same predicate-pushdown/
    column-pruning surface in Spark's DataSource V1 path; the write is
    one narrow pass and the read-back plans identically to any other
    columnar scan."""
    import os

    path = (
        _fixture_root()
        + "/orc/orders_"
        + os.path.basename(os.path.normpath(sf_dir))
    )
    orders = load_table(spark, sf_dir, "orders")
    orders.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderdate").alias("max_date"),
    )


@query(
    "parquet_footer_audit",
    oracle=f"""
    SELECT regexp_extract(file_name, '([^/]+)$', 1) AS file_name,
           row_group_id AS rg,
           row_group_num_rows AS rg_rows,
           column_id AS col,
           path_in_schema AS path,
           compression AS codec,
           num_values,
           total_compressed_size AS comp_bytes,
           total_uncompressed_size AS uncomp_bytes,
           data_page_offset AS data_off,
           stats_null_count AS null_count,
           CASE WHEN path_in_schema = 'id'
                THEN CAST(stats_min_value AS BIGINT) END AS id_min,
           CASE WHEN path_in_schema = 'id'
                THEN CAST(stats_max_value AS BIGINT) END AS id_max
    FROM parquet_metadata('{FOOTER_DIR}/*.parquet')
    """,
    tags=("tier2", "source",),
)
def parquet_footer_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet footer metadata parsed from RAW BYTES with a from-scratch
    Thrift compact-protocol reader (sources/parquet_footer.py) — the
    per-row-group, per-column statistics that row-group pruning rests
    on at 100 TB (min/max/null_count, page offsets, codec, byte sizes).
    The differential here is the strongest in the repo: not a synthesis
    law but DuckDB's OWN parquet reader (`parquet_metadata`) over the
    same staged files — two independent implementations of the same
    binary format agreeing field for field. A mis-read varint, a wrong
    zigzag decode, an unskipped unknown field or an off-by-one in the
    footer locate all diverge. INT64 min/max statistics are decoded to
    typed values (little-endian per parquet-format); the staged corpus
    mixes SNAPPY/UNCOMPRESSED codecs and nullable columns so codec ids
    and null counts are non-trivial. SCALE: footers are a few KB
    regardless of file size — a real deployment range-reads the tail;
    the audit itself is one binaryFile scan, nothing shuffles."""
    from mapreduce__spark.sources.parquet_footer import parquet_footer_rows

    d = _stage_footer_corpus()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(d)
    )
    return parquet_footer_rows(files)


@query(
    "parquet_page_decode",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(row_number() OVER (PARTITION BY filename ORDER BY id) - 1
                AS BIGINT) AS idx,
           id
    FROM read_parquet('{PLAINPQ_DIR}/*.parquet', filename=true)
    """,
    tags=("tier2", "source",),
)
def parquet_page_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parquet READ path from raw bytes, end to end and zero
    libraries: footer (thrift compact) -> column-chunk offsets ->
    per-page thrift PageHeaders -> a FROM-SCRATCH Snappy block
    decompressor (google/snappy format_description.txt: varint length,
    literal/copy tags, overlapping RLE copies) -> PLAIN INT64 values,
    across multiple row groups and mixed SNAPPY/UNCOMPRESSED files.
    The oracle is DuckDB's real read of the same staged files — the
    decoded VALUES must agree row for row, which closes the loop the
    footer audit opened: not just the metadata, the data. The snappy
    layer is additionally fuzzed against pyarrow's reference codec in
    tests/test_round11_properties.py. SCALE: this is the primitive a
    columnar scan is made of; the point here is byte-level
    verification, not replacing the vectorized reader — the staged
    corpus is deliberately KB-sized. One binaryFile scan, Arrow-batched
    mapInPandas."""
    import os as _os

    from mapreduce__spark.sources.parquet_footer import read_int64_column

    d = _stage_plainpq_corpus()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(d)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"file_name": [], "idx": [], "id": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                for idx, v in enumerate(read_int64_column(bytes(content), "id")):
                    out["file_name"].append(_os.path.basename(str(p)))
                    out["idx"].append(idx)
                    out["id"].append(v)
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(
        gen, schema="file_name string, idx bigint, id bigint"
    )


@query(
    "parquet_dict_decode",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(row_number() OVER (PARTITION BY filename ORDER BY id) - 1
                AS BIGINT) AS idx,
           id,
           CASE WHEN name IS NULL THEN NULL
                ELSE CAST({_sql_charfold("name")} AS BIGINT) END AS name_hash
    FROM read_parquet('{{dir}}/*.parquet', filename=true)
    """.replace("{dir}", FOOTER_DIR),
    tags=("tier2", "source",),
)
def parquet_dict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dictionary-encoded half of the raw-bytes parquet read path
    (parquet_page_decode covers PLAIN): dictionary pages decoded PLAIN
    (INT64 and BYTE_ARRAY shapes), data pages as RLE_DICTIONARY index
    streams through a from-scratch RLE/bit-packed hybrid decoder
    (Encodings.md: varint headers, LSB-discriminated runs, 8-value
    LSB-first bit-packed groups), and OPTIONAL columns' definition
    levels (bit-width-1 hybrid behind the u32 length prefix) rebuilding
    real NULLs — the staged corpus plants nulls on an i%7 law. Both the
    non-null INT64 `id` and the nullable BYTE_ARRAY `name` are decoded;
    the oracle is DuckDB's real read of the same files with the shared
    char-fold hash over the string column, so a wrong index, a
    mis-aligned def-level run, or a swapped dictionary slot all
    diverge row for row. SCALE: same byte-level-verification purpose
    as parquet_page_decode — the primitive, not the vectorized
    reader."""
    import os as _os

    from mapreduce__spark.sources.archives import charfold_hash
    from mapreduce__spark.sources.parquet_footer import read_dict_column

    d = _stage_footer_corpus()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(d)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"file_name": [], "idx": [], "id": [], "name_hash": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                raw = bytes(content)
                ids = read_dict_column(raw, "id")
                names = read_dict_column(raw, "name")
                for idx, (i_, nm) in enumerate(zip(ids, names)):
                    out["file_name"].append(_os.path.basename(str(p)))
                    out["idx"].append(idx)
                    out["id"].append(i_)
                    out["name_hash"].append(
                        None if nm is None else charfold_hash(nm)
                    )
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(
        gen,
        schema="file_name string, idx bigint, id bigint, name_hash bigint",
    )


CSV_TORTURE_N = 120
CSV_TORTURE_DIR = _fixture_root() + "/csvtorture/v1"


def _csv_torture_field(i: int) -> str:
    """The c2 law: rotates through the three RFC 4180 hazards — escaped
    quotes, embedded delimiter, embedded newline."""
    if i % 3 == 0:
        return f'val "q{i}" end'
    if i % 3 == 1:
        return f"a,b{i},c"
    return f"line1 {i}\nline2"


def _stage_csv_torture() -> str:
    """One RFC 4180 file whose every third row embeds a quote, a
    delimiter, or a newline inside a quoted field (csv module,
    QUOTE_MINIMAL + doublequote — the interoperable dialect)."""
    import csv
    import io
    import os

    os.makedirs(CSV_TORTURE_DIR, exist_ok=True)
    dest = os.path.join(CSV_TORTURE_DIR, "torture.csv")
    if os.path.exists(dest):
        return CSV_TORTURE_DIR
    buf = io.StringIO()
    w = csv.writer(buf, quoting=csv.QUOTE_MINIMAL, doublequote=True)
    w.writerow(["c1", "c2", "c3"])
    for i in range(CSV_TORTURE_N):
        w.writerow([i, _csv_torture_field(i), f"tag-{i % 7}"])
    tmp = dest + ".tmp"
    with open(tmp, "w", newline="") as f:
        f.write(buf.getvalue())
    os.replace(tmp, dest)
    return CSV_TORTURE_DIR


@query(
    "csv_dialect_torture",
    oracle=f"""
    SELECT CAST(c1 AS BIGINT) AS c1,
           CAST({_sql_charfold("c2")} AS BIGINT) AS c2_hash,
           CAST(length(c2) AS BIGINT) AS c2_chars,
           c3
    FROM read_csv('{CSV_TORTURE_DIR}/torture.csv', header=true,
                  quote='"', escape='"', columns={{'c1': 'BIGINT',
                  'c2': 'VARCHAR', 'c3': 'VARCHAR'}})
    """,
    tags=("tier2", "source",),
)
def csv_dialect_torture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 4180 CSV dialect torture: every third row embeds an escaped
    quote, a literal delimiter, or a literal NEWLINE inside a quoted
    field — the three hazards that break line-split CSV ingestion (the
    newline one breaks any reader that frames records by line). Spark
    reads with multiLine + doublequote escape; the oracle is DuckDB's
    OWN csv reader on the same staged file — two independent RFC 4180
    implementations agreeing field for field (the parquet_page_decode
    differential idea applied to the text format). Field content is
    pinned by the shared char-fold hash plus the raw length (a
    swallowed quote or a split record changes one of them). SCALE:
    multiLine CSV is NOT splittable within a file (records cross line
    boundaries) — a real corpus shards into many files, which is
    exactly how the directory ingest paths here scale; the per-file
    parse is one scan-stage pass."""
    from mapreduce__spark.operators.qsketch import _charfold

    d = _stage_csv_torture()
    df = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(d + "/torture.csv")
    )
    return df.select(
        F.col("c1").cast("bigint").alias("c1"),
        _charfold(F.col("c2")).alias("c2_hash"),
        F.length("c2").cast("bigint").alias("c2_chars"),
        "c3",
    )


@query(
    "parquet_delta_decode",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           CAST(file_row_number AS BIGINT) AS idx,
           id
    FROM read_parquet('{DELTAPQ_DIR}/*.parquet', filename=true,
                      file_row_number=true)
    """,
    tags=("tier2", "source",),
)
def parquet_delta_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third parquet-encoding leg (after PLAIN and RLE_DICTIONARY):
    DELTA_BINARY_PACKED INT64 on v2 data pages, decoded from raw bytes —
    varint block headers, zigzag first value and min-deltas, per-
    miniblock bit widths, LSB-first packed deltas, omitted trailing
    miniblocks, plus the v2 page shape itself (separate UNcompressed
    level sections, is_compressed flag). The staged walk is SIGNED
    (deltas in [-100, 100]) so negative min-deltas and varying bit
    widths are real, and files mix SNAPPY with UNCOMPRESSED. Oracle is
    DuckDB's read with file_row_number — row-for-row value agreement
    between two independent decoder implementations. SCALE: same
    byte-level-verification purpose as its two siblings."""
    import os as _os

    from mapreduce__spark.sources.parquet_footer import read_delta_column

    d = _stage_deltapq_corpus()
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(d)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"file_name": [], "idx": [], "id": []}
            for p, content in zip(pdf["path"], pdf["content"]):
                for idx, v in enumerate(
                    read_delta_column(bytes(content), "id")
                ):
                    out["file_name"].append(_os.path.basename(str(p)))
                    out["idx"].append(idx)
                    out["id"].append(v)
            yield pd.DataFrame(out)

    return files.select("path", "content").mapInPandas(
        gen, schema="file_name string, idx bigint, id bigint"
    )


@query(
    "schema_evolution_merge",
    oracle=f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS file_name,
           id, name, score
    FROM read_parquet('{SEVO_DIR}/*.parquet',
                      union_by_name=true, filename=true)
    """,
    tags=("tier2", "source",),
)
def schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution reads — the lake reality that tables grow (and
    lose) columns across file generations: Spark's mergeSchema parquet
    read unions three staged generations where v2 ADDS a column while
    REORDERING the others (alignment must be by name, not position)
    and v3 DROPS one; files missing a column yield NULLs that coexist
    with v2's planted real NULLs. The oracle is DuckDB's own
    union_by_name read of the same files — two independent
    schema-union implementations agreeing cell for cell, the
    two-reader differential of parquet_page_decode applied to the
    SCHEMA layer. SCALE: mergeSchema's cost is one footer read per
    file at planning (the footer-audit sizes); at 100 TB one pins the
    merged schema in a metastore instead of re-deriving it per query —
    the read semantics this query proves are identical either way."""
    d = _stage_schema_evolution_corpus()
    df = spark.read.option("mergeSchema", "true").parquet(d)
    return df.select(
        F.col("_metadata.file_name").alias("file_name"),
        "id", "name", "score",
    )


@query(
    "xml_ingest",
    oracle=f"""
    WITH ids AS (SELECT unnest(generate_series(0, {XML_N - 1})) AS id)
    SELECT CAST(id AS BIGINT) AS id,
           'c' || CAST(id % 7 AS VARCHAR) AS cat,
           CAST((id * 37) % 10000 AS BIGINT) AS cents,
           't' || CAST(id AS VARCHAR) AS txt,
           CAST(length('t' || CAST(id AS VARCHAR)) AS BIGINT) AS txt_len
    FROM ids
    """,
    tags=("tier2", "sources", "formats"),
)
def xml_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-3 source coverage: Spark 4's BUILT-IN XML reader (rowTag
    record extraction) over a staged multi-file directory — the
    feed-ingestion shape (sitemaps, product feeds, legacy exports)
    that previously needed the external spark-xml package. The schema
    is pinned explicitly (no inference pass over the files), records
    are spread across several documents so the file listing splits,
    and the oracle regenerates every field from the synthesis formulas
    with generate_series — fully independent of the XML parse.

    SCALE: each XML DOCUMENT is one split (a row-tag scan cannot split
    inside a file safely), so the parallelism unit is the file — fine
    for the many-files feed reality; a single multi-GB export gets
    pre-split upstream. Parsing is JVM-side StaxXmlParser in the scan
    stage; no shuffle, no Python."""
    d = _stage_xml_corpus()
    rows = (
        spark.read.format("xml")
        .option("rowTag", "r")
        .schema("id bigint, cat string, cents bigint, txt string")
        # the DIRECTORY, not a glob: a glob path makes the datasource's
        # streaming-metadata probe stat a nonexistent literal path and
        # log a scary (benign) FileNotFound stack per load
        .load(d)
    )
    return rows.select(
        "id", "cat", "cents", "txt", F.length("txt").cast("bigint").alias("txt_len")
    )


ZORDER_BITS = 8  # per-dimension resolution: 256 buckets per axis
ZORDER_FILES = 64  # target file count; each file = a contiguous z-range


def _interleave_sql(bx: str, by: str, bits: int) -> str:
    """Morton/Z-value bit interleave as portable integer SQL: x takes the
    even bit positions, y the odd ones."""
    terms = []
    for k in range(bits):
        terms.append(f"((({bx} >> {k}) & 1) << {2 * k})")
        terms.append(f"((({by} >> {k}) & 1) << {2 * k + 1})")
    return " + ".join(terms)


@query(
    "zorder_layout",
    oracle=f"""
    WITH lims AS (
        SELECT min(l_partkey) AS minp, max(l_partkey) AS maxp,
               min(l_suppkey) AS mins, max(l_suppkey) AS maxs
        FROM lineitem
    ),
    b AS (
        SELECT ((l_partkey - minp) * {1 << ZORDER_BITS}) // (maxp - minp + 1)
                   AS bx,
               ((l_suppkey - mins) * {1 << ZORDER_BITS}) // (maxs - mins + 1)
                   AS by,
               l_partkey, l_suppkey
        FROM lineitem, lims
    ),
    z AS (
        SELECT l_partkey, l_suppkey,
               ({_interleave_sql('bx', 'by', ZORDER_BITS)}) AS zval
        FROM b
    )
    SELECT CAST((zval * {ZORDER_FILES}) // {1 << (2 * ZORDER_BITS)} AS BIGINT)
               AS file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_partkey) AS min_part, max(l_partkey) AS max_part,
           min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
    FROM z GROUP BY 1
    """,
    tags=("tier2", "layout", "scan"),
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) data layout for multi-dimensional scan
    pruning — the Delta/Iceberg OPTIMIZE ZORDER primitive: interleave
    the bits of two clustering columns so that contiguous z-ranges are
    small RECTANGLES in (l_partkey, l_suppkey) space, then report each
    target file's zone map (row count + per-dimension min/max). A
    lexicographic sort clusters only its leading column; the z-curve
    keeps BOTH selective, so point/range predicates on either dimension
    prune most files by their min/max stats alone — this query's output
    IS that zone-map table, making the locality claim externally
    checkable rather than asserted.

    Everything is exact integer arithmetic: per-axis buckets are
    ((x - min) * 256) floor-div (span + 1) over a 1-row broadcast
    min/max aggregate (all values non-negative, so truncating and floor
    division agree across engines), the z-value is an explicit 16-bit
    interleave of shift/mask terms (generated once, identical text in
    both dialects), and file assignment is a contiguous z-range split.

    This is the ORACLE-CHECKED twin of operators/layout.py, which does
    the real thing: write_zordered range-partitions on the z-value and
    writes parquet whose per-file footer stats tests/test_zorder.py
    measures for actual pruning power (that path rank-normalizes with
    percent_rank for skew robustness — a windowed plan an exact SQL twin
    can't pin; this query swaps in min/max scaling so the whole layout
    computation hash-checks cross-engine). At warehouse scale the same
    z-value feeds repartitionByRange + sortWithinPartitions before the
    write, and the per-axis min/max come from column statistics instead
    of a dedicated aggregate — the layout math is unchanged."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    lims = li.agg(
        F.min("l_partkey").alias("minp"),
        F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"),
        F.max("l_suppkey").alias("maxs"),
    )
    b = li.crossJoin(F.broadcast(lims)).select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"((l_partkey - minp) * {1 << ZORDER_BITS})"
            " div (maxp - minp + 1)"
        ).alias("bx"),
        F.expr(
            f"((l_suppkey - mins) * {1 << ZORDER_BITS})"
            " div (maxs - mins + 1)"
        ).alias("by"),
    )
    # the interleave text is generated ONCE and shared with the oracle —
    # the same declared-verbatim policy as the PII regexes: the bit
    # interleave is definitional, so a transcription drift between
    # dialects would be noise, not independence
    z = b.select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            f"(({_interleave_sql('bx', 'by', ZORDER_BITS)}) * {ZORDER_FILES})"
            f" div {1 << (2 * ZORDER_BITS)}"
        )
        .cast("bigint")
        .alias("file_id"),
    )
    return z.groupBy("file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("l_partkey").alias("min_part"),
        F.max("l_partkey").alias("max_part"),
        F.min("l_suppkey").alias("min_supp"),
        F.max("l_suppkey").alias("max_supp"),
    )
