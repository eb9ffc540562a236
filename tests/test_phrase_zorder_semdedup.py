"""Late round-8 operators: phrase_search (postings-intersection hits on
a planted corpus, tie-break determinism), zorder_layout (known Morton
codes, zone-map disjointness on a grid), semantic_dedup (planted twin
vectors removed, orthogonal survivors kept, lowest id always kept)."""

from __future__ import annotations

from mapreduce__spark.plans import REGISTRY
from mapreduce__spark.plans.tier2_sources import _interleave_sql

# ------------------------------------------------------------- phrase


def _write_docs(spark, d, rows):
    spark.createDataFrame(rows, "doc_id bigint, text string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    return str(d)


def test_phrase_search_planted_hits(spark, tmp_path):
    # "a b c" occurs 3x (twice in doc 1, at pos 0 and pos 4; once in
    # doc 2 at pos 1); every other trigram is unique.
    d = _write_docs(
        spark,
        tmp_path,
        [
            (1, "a b c q a b c"),
            (2, "x a b c y"),
            (3, "p q r s"),
        ],
    )
    got = {
        (r.doc_id, r.pos, r.phrase)
        for r in REGISTRY["phrase_search"].fn(spark, d).collect()
    }
    assert got == {(1, 0, "a b c"), (1, 4, "a b c"), (2, 1, "a b c")}


def test_phrase_search_tie_breaks_lexicographically(spark, tmp_path):
    # two trigrams tie at 2 occurrences; the lexicographically smaller
    # ("a a a" < "z z z") must win on BOTH engines
    d = _write_docs(
        spark,
        tmp_path,
        [(1, "a a a z z z"), (2, "a a a z z z")],
    )
    rows = REGISTRY["phrase_search"].fn(spark, d).collect()
    assert {r.phrase for r in rows} == {"a a a"}
    assert {(r.doc_id, r.pos) for r in rows} == {(1, 0), (2, 0)}


def test_phrase_search_short_docs_do_not_crash(spark, tmp_path):
    # sub-trigram docs must contribute nothing (the sequence() guard);
    # one 3-token doc supplies the only trigram
    d = _write_docs(spark, tmp_path, [(1, "xx"), (2, "a"), (3, "t u v")])
    rows = REGISTRY["phrase_search"].fn(spark, d).collect()
    assert {(r.doc_id, r.pos, r.phrase) for r in rows} == {(3, 0, "t u v")}


# ------------------------------------------------------------- zorder


def test_interleave_sql_known_codes(spark):
    # x=0b11, y=0b01: z bits = x0<<0 | y0<<1 | x1<<2 | y1<<3 = 0b0111
    expr = _interleave_sql("x", "y", 8)
    row = spark.sql(
        f"SELECT ({expr}) AS z FROM VALUES (3, 1) AS t(x, y)"
    ).collect()[0]
    assert row.z == 7
    # full-width sanity: x=255,y=0 occupies exactly the even bits
    row = spark.sql(
        f"SELECT ({expr}) AS z FROM VALUES (255, 0) AS t(x, y)"
    ).collect()[0]
    assert row.z == sum(1 << (2 * k) for k in range(8))


def test_zorder_layout_zone_maps_tile_the_grid(spark, tmp_path):
    # a full 64x64 grid: every file's rectangle must be small (perfect
    # tiling gives 64 squares of 8x8 cells) and row counts must conserve
    rows = [(x, y) for x in range(64) for y in range(64)]
    spark.createDataFrame(
        rows, "l_partkey bigint, l_suppkey bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/lineitem.parquet")
    out = REGISTRY["zorder_layout"].fn(spark, str(tmp_path)).collect()
    assert sum(r.n_rows for r in out) == 64 * 64
    for r in out:
        area = (r.max_part - r.min_part + 1) * (r.max_supp - r.min_supp + 1)
        # each of the 64 files covers exactly its 8x8 tile on a uniform
        # grid — no file may smear across the key space
        assert area == 64, (r.file_id, area)


# ------------------------------------------------------- semantic dedup


def _write_vecs(spark, d, vecs):
    rows = [(i, [float(x) for x in v]) for i, v in vecs]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>"
    ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return str(d)


def test_semantic_dedup_removes_planted_twin(spark, tmp_path):
    # vectors 0 and 4 are identical (cosine 1); 1, 2, 3 are mutually
    # orthogonal axis vectors. Seeds = ids 0..3, so 4 lands in 0's
    # cluster and must be removed; everything else is kept.
    def axis(i, scale=0.5):
        v = [0.0] * 64
        v[i] = scale
        return v

    d = _write_vecs(
        spark,
        tmp_path,
        [(0, axis(0)), (1, axis(1)), (2, axis(2)), (3, axis(3)), (4, axis(0))],
    )
    got = {
        r.vec_id: r.is_kept
        for r in REGISTRY["semantic_dedup"].fn(spark, d).collect()
    }
    assert got == {0: True, 1: True, 2: True, 3: True, 4: False}


def test_semantic_dedup_lowest_id_always_kept(spark, tmp_path):
    # any number of identical copies: only the smallest vec_id survives,
    # and every removal's witness (a smaller same-cluster neighbor)
    # exists by construction
    def vec(seed):
        return [((seed * 31 + j) % 7 - 3) / 10.0 for j in range(64)]

    vecs = [(i, vec(0)) for i in range(6)] + [(10, vec(1)), (11, vec(2))]
    d = _write_vecs(spark, tmp_path, vecs)
    out = REGISTRY["semantic_dedup"].fn(spark, d).collect()
    kept = sorted(r.vec_id for r in out if r.is_kept)
    removed = sorted(r.vec_id for r in out if not r.is_kept)
    assert 0 in kept
    assert removed == [1, 2, 3, 4, 5]
    assert set(kept) >= {0, 10, 11}


# ---------------------------------------------- prefix-jaccard agreement


def test_prefix_jaccard_agrees_with_quadratic(spark, sf_small):
    """The prefix-filtered exact join must return exactly the pair set
    of the quadratic baseline at the same threshold on real data."""
    from mapreduce__spark.plans.tier2_dedup import (
        dedup_jaccard_exact,
        dedup_jaccard_prefix,
    )

    quad = {
        (r.id1, r.id2) for r in dedup_jaccard_exact(spark, sf_small).collect()
    }
    pref = {
        (r.id1, r.id2)
        for r in dedup_jaccard_prefix(spark, sf_small).collect()
    }
    assert pref == quad
    assert quad  # non-vacuous: the fixture has near-dup pairs


# ------------------------------------------- entity resolution pipeline


def test_entity_resolution_partitions_the_input(spark, sf_small):
    """The golden-record output must PARTITION the input: member counts
    sum to the part-table row count, every entity_id is a real part key,
    and each cluster's canonical key is its minimum member (the
    survivorship rule)."""
    from mapreduce__spark.plans.tier1 import entity_resolution_parts
    from mapreduce__spark.sources import load_table

    out = entity_resolution_parts(spark, sf_small).collect()
    n_parts = load_table(spark, sf_small, "part").count()
    assert sum(r.n_members for r in out) == n_parts
    assert len({r.entity_id for r in out}) == len(out)


def test_entity_resolution_planted_clusters(spark, tmp_path):
    # two fuzzy clusters + one singleton + one name under the length
    # floor (must stay a singleton even though it's 1 edit from "gear")
    rows = [
        (1, "widget alpha"),
        (2, "widget alphb"),   # 1 edit from 1
        (3, "widget allpha"),  # 1 edit from 1 -> same cluster via 1
        (10, "sprocket"),
        (11, "sprocket x"),    # 2 edits from 10
        (20, "standalone part"),
        (30, "gea"),           # under the len floor (k*q+q = 6): singleton
    ]
    spark.createDataFrame(
        rows, "p_partkey bigint, p_name string"
    ).write.mode("overwrite").parquet(f"{tmp_path}/part.parquet")
    from mapreduce__spark.plans.tier1 import entity_resolution_parts

    got = {
        r.entity_id: (r.n_members, r.canonical_name)
        for r in entity_resolution_parts(spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (3, "widget alpha"),
        10: (2, "sprocket"),
        20: (1, "standalone part"),
        30: (1, "gea"),
    }
