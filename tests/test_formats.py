"""CSV / JSON-lines round-trips through the format helpers."""

from __future__ import annotations

import pytest

from mapreduce__spark.sources import load_table
from mapreduce__spark.sources.formats import (
    read_csv,
    read_jsonl,
    read_orc,
    write_csv,
    write_jsonl,
    write_orc,
)

NATION_SCHEMA = "n_nationkey int, n_name string, n_regionkey int"


def rows(df):
    return sorted(map(tuple, df.select("n_nationkey", "n_name", "n_regionkey").collect()))


def test_csv_roundtrip(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "nation")
    p = str(tmp_path / "nation_csv")
    write_csv(src, p)
    back = read_csv(spark, p, NATION_SCHEMA)
    assert rows(back) == rows(src)


def test_jsonl_roundtrip(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "nation")
    p = str(tmp_path / "nation_jsonl")
    write_jsonl(src, p)
    back = read_jsonl(spark, p, NATION_SCHEMA)
    assert rows(back) == rows(src)


def test_csv_failfast_on_malformed(spark, tmp_path):
    """FAILFAST must surface bad rows instead of silently nulling them."""
    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-000.csv").write_text("n_nationkey,n_name,n_regionkey\nxx,FOO,1\n")
    bad = read_csv(spark, str(p), NATION_SCHEMA)
    with pytest.raises(Exception):
        bad.collect()


def test_orc_roundtrip(spark, sf_small, tmp_path):
    src = load_table(spark, sf_small, "nation")
    p = str(tmp_path / "nation_orc")
    write_orc(src, p)
    back = read_orc(spark, p)
    assert back.schema == src.schema  # footer-carried schema, no inference
    assert rows(back) == rows(src)


def test_orc_predicate_pushdown(spark, sf_small, tmp_path):
    """ORC scans must receive pushed filters like parquet ones do."""
    src = load_table(spark, sf_small, "orders")
    p = str(tmp_path / "orders_orc")
    write_orc(src, p)
    from pyspark.sql import functions as F

    df = read_orc(spark, p).where(F.col("o_orderkey") < 100).select("o_orderkey")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan(o_orderkey,100)" in plan, plan


def test_parquet_schema_evolution_merge(spark, sf_small, tmp_path):
    """Schema evolution on a growing lake: a writer adds a column in a
    later generation; mergeSchema reads both generations with the
    unified schema and NULLs for the old files' missing column, and the
    default (no merge) read still works off one footer."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "evolving")
    docs = load_table(spark, sf_small, "documents")
    v1 = docs.select("doc_id", "lang")
    v2 = docs.select("doc_id", "lang", F.length("text").alias("text_len"))
    v1.write.parquet(f"{out}/gen=1")
    v2.write.parquet(f"{out}/gen=2")

    merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(merged.columns) == {"doc_id", "lang", "text_len", "gen"}
    n = docs.count()
    assert merged.count() == 2 * n
    assert merged.where(F.col("gen") == 1).where(F.col("text_len").isNull()).count() == n
    assert merged.where(F.col("gen") == 2).where(F.col("text_len").isNotNull()).count() == n
    # evolved rows round-trip values exactly
    want = {(r.doc_id, r.text_len) for r in v2.collect()}
    got = {
        (r.doc_id, r.text_len)
        for r in merged.where(F.col("gen") == 2).select("doc_id", "text_len").collect()
    }
    assert got == want


def test_fixture_staging_nondefault_dir_roundtrips(spark, tmp_path, monkeypatch):
    """Round-7 verdict item 6: the binaryFile/XML fixture corpora must
    stage under any directory (per-user default, env override), not a
    fixed world-shared /tmp path, and the skip-if-exists must verify the
    existing file rather than trust it blindly."""
    import os

    from mapreduce__spark.plans import tier2_shared as shared

    bdir = str(tmp_path / "bin" / "v1")
    xdir = str(tmp_path / "xml" / "v1")
    monkeypatch.setattr(shared, "BINARYFILE_DIR", bdir)
    monkeypatch.setattr(shared, "XML_DIR", xdir)

    assert shared._stage_binaryfile_corpus() == bdir
    assert len(os.listdir(bdir)) == shared.BINARYFILE_N
    files = (
        spark.read.format("binaryFile").option("pathGlobFilter", "*.bmp").load(bdir)
    )
    assert files.count() == shared.BINARYFILE_N

    assert shared._stage_xml_corpus() == xdir
    rows = (
        spark.read.format("xml")
        .option("rowTag", "r")
        .schema("id bigint, cat string, cents bigint, txt string")
        .load(xdir)
    )
    assert rows.count() == shared.XML_N

    # corrupt one staged file: a re-stage must detect the size mismatch
    # and rewrite it (the old skip-if-exists trusted any bytes there)
    victim = os.path.join(bdir, "0000.bmp")
    good = open(victim, "rb").read()
    with open(victim, "wb") as fh:
        fh.write(b"junk")
    shared._stage_binaryfile_corpus()
    assert open(victim, "rb").read() == good


def test_fixture_root_is_per_user_and_env_overridable(monkeypatch):
    import os

    from mapreduce__spark.plans import tier2_shared

    monkeypatch.delenv("SPARK_GRAFT_FIXTURE_DIR", raising=False)
    root = tier2_shared._fixture_root()
    assert root.endswith(f"-uid{os.getuid()}")
    monkeypatch.setenv("SPARK_GRAFT_FIXTURE_DIR", "/elsewhere/fixtures")
    assert tier2_shared._fixture_root() == "/elsewhere/fixtures"
