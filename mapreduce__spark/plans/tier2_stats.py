"""Tier-2 statistics and sketch family: tests, moments, sketches, heavy hitters, graph metrics (O-11/O-12; split from tier2.py, round 13)."""

from __future__ import annotations


from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.functions.text import tokenize
from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


@query(
    "value_histogram",
    oracle="""
    SELECT CAST(floor(value / 50.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1
    """,
    tags=("tier2", "profiling"),
)
def value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling: fixed-width histogram (width 50) of events.value —
    floor-bucket arithmetic, one partial-agg pass; the profiling primitive
    behind skew detection and bucket sizing."""
    ev = load_table(spark, sf_dir, "events")
    b = F.floor(F.col("value") / 50.0).cast("bigint")
    return ev.groupBy(b.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("value"), 2).alias("lo"),
        F.round(F.max("value"), 2).alias("hi"),
    )


@query(
    "profile_table",
    oracle="""
    SELECT 'o_custkey' AS column_name,
           count(*) AS n_rows,
           count(o_custkey) AS n_nonnull,
           count(DISTINCT o_custkey) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_val,
           CAST(max(o_custkey) AS VARCHAR) AS max_val
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(*), count(o_orderstatus),
           count(DISTINCT o_orderstatus),
           CAST(min(o_orderstatus) AS VARCHAR), CAST(max(o_orderstatus) AS VARCHAR)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', count(*), count(o_totalprice),
           count(DISTINCT o_totalprice),
           CAST(round(min(o_totalprice), 2) AS VARCHAR),
           CAST(round(max(o_totalprice), 2) AS VARCHAR)
    FROM orders
    """,
    tags=("tier2", "profiling"),
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data profiling meta-operator: per-column row/non-null/distinct
    counts and min/max (stringified for a uniform schema) — the
    ingest-time health check every pipeline runs before trusting a drop.
    ALL columns profile in ONE scan: a single wide aggregate row
    (5 metrics x 3 columns, multiple COUNT(DISTINCT)s expanded by
    Spark's grouping-sets rewrite) unpivoted to one row per column with
    `stack` — at 100 TB the table is read once, not once per profiled
    column (the pre-round-7 union-of-aggregates shape planned a full
    scan per column; no exchange reuse across re-aggregations)."""
    o = load_table(spark, sf_dir, "orders")

    def metrics(col: str, rounded: bool = False):
        mn, mx = F.min(col), F.max(col)
        if rounded:
            mn, mx = F.round(mn, 2), F.round(mx, 2)
        return [
            F.count(F.lit(1)).alias(f"{col}__n_rows"),
            F.count(col).alias(f"{col}__n_nonnull"),
            F.countDistinct(col).alias(f"{col}__n_distinct"),
            mn.cast("string").alias(f"{col}__min_val"),
            mx.cast("string").alias(f"{col}__max_val"),
        ]

    cols = [("o_custkey", False), ("o_orderstatus", False), ("o_totalprice", True)]
    wide = o.agg(*[m for c, r in cols for m in metrics(c, r)])
    stack_args = ", ".join(
        f"'{c}', {c}__n_rows, {c}__n_nonnull, {c}__n_distinct, "
        f"{c}__min_val, {c}__max_val"
        for c, _ in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) as "
            "(column_name, n_rows, n_nonnull, n_distinct, min_val, max_val)"
        )
    )


@query(
    "collect_set_sorted",
    oracle="""
    SELECT lang, array_to_string(list_sort(list_distinct(list(source))), ',') AS sources
    FROM documents GROUP BY lang
    """,
    tags=("tier2", "agg"),
)
def collect_set_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-7 (set form): per-group distinct value sets, sorted for
    determinism (collect_set order is undefined, like collect_list)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.concat_ws(",", F.sort_array(F.collect_set("source"))).alias("sources")
    )


@query(
    "percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           round(min(o_totalprice), 2)  AS min_price,
           round(max(o_totalprice), 2)  AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("tier1", "agg"),
)
def percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11: exact interpolated percentiles (median, p90) per group —
    Spark's `percentile` matches SQL quantile_cont interpolation. The
    approximate scale path is approx_percentile (a mergeable sketch, no
    full sort); exact percentile shuffles the group's values."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "kendall_concordance",
    oracle="""
    WITH xy AS (
      SELECT source,
             len(string_split(text, ' ')) AS x,
             n_chars AS y
      FROM documents
    ),
    cells AS (
      SELECT source, x, y, count(*) AS n FROM xy GROUP BY 1, 2, 3
    ),
    pairs AS (
      SELECT a.source,
             sum(CASE WHEN a.y < b.y THEN a.n * b.n ELSE 0 END) AS nc,
             sum(CASE WHEN a.y > b.y THEN a.n * b.n ELSE 0 END) AS nd
      FROM cells a JOIN cells b
        ON a.source = b.source AND a.x < b.x
      GROUP BY 1
    ),
    m AS (
      SELECT source, sum(n) AS nn,
             sum(n * (n - 1)) // 2 AS n3
      FROM cells GROUP BY 1
    ),
    mx AS (
      SELECT source, sum(nx * (nx - 1)) // 2 AS n1
      FROM (SELECT source, x, sum(n) AS nx FROM cells GROUP BY 1, 2)
      GROUP BY 1
    ),
    my AS (
      SELECT source, sum(ny * (ny - 1)) // 2 AS n2
      FROM (SELECT source, y, sum(n) AS ny FROM cells GROUP BY 1, 2)
      GROUP BY 1
    )
    SELECT m.source,
           CAST(m.nn AS BIGINT) AS n_docs,
           CAST(coalesce(p.nc, 0) AS BIGINT) AS nc,
           CAST(coalesce(p.nd, 0) AS BIGINT) AS nd,
           CAST(mx.n1 AS BIGINT) AS ties_x,
           CAST(my.n2 AS BIGINT) AS ties_y,
           CAST(m.n3 AS BIGINT) AS ties_xy
    FROM m
    JOIN mx ON mx.source = m.source
    JOIN my ON my.source = m.source
    LEFT JOIN pairs p ON p.source = m.source
    """,
    tags=("tier2", "stats"),
)
def kendall_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b concordance counts per source (round 12) — the
    rank-CORRELATION companion to mann_whitney_u's rank-sum: over
    (token count, n_chars) pairs, the exact concordant/discordant pair
    counts and the three tie terms (tau-b = (nc - nd) /
    sqrt((n0 - ties_x)(n0 - ties_y)) is one sqrt away and left to the
    consumer — emitting it would reintroduce libm). The naive
    definition is an O(n^2) pair scan; here pairs are counted on the
    (x, y) CELL HISTOGRAM: one map-side-combined aggregate to cells
    (value-domain-bounded, NOT corpus-bounded), then a per-source
    self-join on a.x < b.x whose size is cells^2, independent of
    document count — the same histogram-compaction trick as
    equidepth_deciles, made pairwise. All outputs are BIGINTs that
    compare exactly. Reference parity: tier-2 stats extension
    (SURVEY §2b O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
            F.col("n_chars").alias("y"),
        )
        .groupBy("source", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        F.col("source"), F.col("x").alias("ax"),
        F.col("y").alias("ay"), F.col("n").alias("an"),
    )
    b = cells.select(
        F.col("source"), F.col("x").alias("bx"),
        F.col("y").alias("by"), F.col("n").alias("bn"),
    )
    pairs = (
        a.join(b, "source")
        .where(F.col("ax") < F.col("bx"))
        .groupBy("source")
        .agg(
            F.sum(
                F.when(F.col("ay") < F.col("by"), F.col("an") * F.col("bn"))
                .otherwise(F.lit(0))
            ).alias("nc"),
            F.sum(
                F.when(F.col("ay") > F.col("by"), F.col("an") * F.col("bn"))
                .otherwise(F.lit(0))
            ).alias("nd"),
        )
    )
    # Tie terms stay in BIGINT end-to-end (round-12 ADVICE): n*(n-1) is
    # always even, so summing the products and integer-halving the total
    # (shiftright = floor-div-2 on non-negatives) is exact at any scale,
    # unlike float `/ 2` which rounds past 2^53.
    m = cells.groupBy("source").agg(
        F.sum("n").alias("n_docs"),
        F.shiftright(
            F.sum(F.col("n") * (F.col("n") - 1)), 1
        ).alias("ties_xy"),
    )
    mx = (
        cells.groupBy("source", "x")
        .agg(F.sum("n").alias("nx"))
        .groupBy("source")
        .agg(
            F.shiftright(
                F.sum(F.col("nx") * (F.col("nx") - 1)), 1
            ).alias("ties_x")
        )
    )
    my = (
        cells.groupBy("source", "y")
        .agg(F.sum("n").alias("ny"))
        .groupBy("source")
        .agg(
            F.shiftright(
                F.sum(F.col("ny") * (F.col("ny") - 1)), 1
            ).alias("ties_y")
        )
    )
    return (
        m.join(mx, "source")
        .join(my, "source")
        .join(pairs, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("nc"), F.lit(0)).cast("long").alias("nc"),
            F.coalesce(F.col("nd"), F.lit(0)).cast("long").alias("nd"),
            "ties_x",
            "ties_y",
            "ties_xy",
        )
    )


@query(
    "ols_fit_per_source",
    oracle="""
    WITH xy AS (
      SELECT source,
             len(string_split(text, ' ')) AS x,
             n_chars AS y
      FROM documents
    ),
    s AS (
      SELECT source, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM xy GROUP BY 1
    )
    SELECT source,
           CAST(n AS BIGINT) AS n_docs,
           CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
           CAST(n * sxx - sx * sx AS BIGINT) AS slope_den,
           CAST(sy * sxx - sx * sxy AS BIGINT) AS intercept_num
    FROM s
    """,
    tags=("tier2", "stats"),
)
def ols_fit_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source least-squares fit of characters-per-token (round 12):
    regress n_chars on token count and emit the EXACT RATIONAL
    slope/intercept — numerators and the shared denominator as BIGINTs
    (slope = slope_num/slope_den, intercept = intercept_num/slope_den) —
    instead of float coefficients, so the comparison is integer-exact
    and the one float division is the consumer's. The moment sums
    (n, Σx, Σy, Σxy, Σx²) are a single map-side-combined aggregate per
    source — the classic one-pass OLS at any scale; at true 100 TB the
    products outgrow int64 and the same plan runs in DECIMAL(38).
    Reference parity: tier-2 stats extension (SURVEY §2b O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    x = F.size(F.split(F.col("text"), " ")).cast("long")
    y = F.col("n_chars")
    s = (
        docs.select("source", x.alias("x"), y.alias("y"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    return s.select(
        "source",
        F.col("n").alias("n_docs"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).alias(
            "slope_num"
        ),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).alias(
            "slope_den"
        ),
        (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")).alias(
            "intercept_num"
        ),
    )


@query(
    "mann_whitney_u",
    oracle="""
    WITH v AS (
      SELECT n_chars AS val, count(*) AS c FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT val, c, sum(c) OVER (ORDER BY val) AS cum FROM v
    ),
    t AS (SELECT sum(c * c * c - c) AS tie_cubes FROM v),
    r AS (
      SELECT d.source,
             count(*) AS n_docs,
             sum(2 * cum.cum - cum.c + 1) AS r2
      FROM (SELECT source, n_chars AS val FROM documents) d
      JOIN cum ON d.val = cum.val
      GROUP BY 1
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(r2 AS BIGINT) AS r2,
           CAST(r2 - n_docs * (n_docs + 1) AS BIGINT) AS u2,
           CAST(t.tie_cubes AS BIGINT) AS tie_cubes
    FROM r CROSS JOIN t
    """,
    tags=("tier2", "stats"),
)
def mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test per source vs the rest of the corpus
    (round 12) — the NONPARAMETRIC drift detector next to welch_z_test
    (means) and source_drift_chi2 (categories): does one source's
    document-length DISTRIBUTION differ from the others', with no
    normality assumption? Everything stays INTEGER-exact through doubled
    midranks: for a value with c ties starting after `offset` smaller
    docs, 2*midrank = 2*(offset + c) - c + 1, so the per-source doubled
    rank sum r2, the doubled U statistic u2 = r2 - n*(n+1), and the tie
    correction sum(c^3 - c) are all BIGINTs that compare exactly across
    engines (the z normalization is one sqrt away and deliberately left
    to the consumer — emitting it would reintroduce libm). SCALE: one
    value-histogram aggregate (distinct-length-sized), the proven
    distributed_cumsum for the global rank offsets (expression-bucketed,
    no single-partition window), then one broadcast join back and a
    per-source aggregate — no sort of the corpus, no per-row window.
    Reference parity: tier-2 stats extension (SURVEY §2b O-11)."""
    from mapreduce__spark.operators.windows import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    v = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.count(F.lit(1)).alias("c")
    )
    cum = distributed_cumsum(v, "val", "c", "cum")
    ties = v.agg(F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c")).alias("tie_cubes"))
    r = (
        docs.select("source", F.col("n_chars").alias("val"))
        .join(F.broadcast(cum), "val")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(2 * F.col("cum") - F.col("c") + 1).alias("r2"),
        )
    )
    return r.crossJoin(F.broadcast(ties)).select(
        "source",
        "n_docs",
        "r2",
        (F.col("r2") - F.col("n_docs") * (F.col("n_docs") + 1)).alias("u2"),
        "tie_cubes",
    )


@query(
    "ks_test_lengths",
    oracle="""
    WITH h AS (
      SELECT source, n_chars AS val, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    m AS (
      SELECT p.sa, p.sb, p.n_a, p.n_b, h.val,
             sum(CASE WHEN h.source = p.sa THEN h.c ELSE 0 END) AS c1,
             sum(CASE WHEN h.source = p.sb THEN h.c ELSE 0 END) AS c2
      FROM pairs p JOIN h ON h.source = p.sa OR h.source = p.sb
      GROUP BY 1, 2, 3, 4, 5
    ),
    cum AS (
      SELECT sa, sb, n_a, n_b,
             sum(c1) OVER (PARTITION BY sa, sb ORDER BY val) AS f1,
             sum(c2) OVER (PARTITION BY sa, sb ORDER BY val) AS f2
      FROM m
    )
    SELECT sa AS source_a, sb AS source_b, n_a, n_b,
           CAST(max(abs(n_b * f1 - n_a * f2)) AS BIGINT) AS d_num,
           CAST(n_a * n_b AS BIGINT) AS d_den
    FROM cum GROUP BY 1, 2, 3, 4
    """,
    tags=("tier2", "stats"),
)
def ks_test_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic for every source PAIR
    over the document-length distribution — the all-pairs drift matrix
    next to mann_whitney_u's one-vs-rest rank test: D = sup over x of
    |F_a(x) - F_b(x)| localizes WHERE two slices' distributions diverge
    most, with no normality or shared-shape assumption. Everything stays
    INTEGER-exact as one deferred rational: D = d_num / d_den with
    d_num = max over values of |n_b*cum_a - n_a*cum_b| and
    d_den = n_a*n_b (the supremum of a right-continuous step difference
    is attained at an observed value, so scanning the union of observed
    values is exhaustive, not an approximation). The sqrt-based
    significance normalization is one expression away and deliberately
    left to the consumer — emitting it would reintroduce libm.

    SCALE: the per-(source, length) histogram compacts the corpus in one
    aggregate pass; pairs x histogram rows is the kendall/theil_sen
    cells-squared discipline — document-count-independent (n_chars
    cardinality x source pairs, never docs). The ECDF windows partition
    by PAIR over histogram rows only; the corpus is never sorted or
    shuffled. Counts ride BIGINTs (n_b*cum_a at 100 TB per-source counts
    near 2^31 would lift these to DECIMAL — stated, not silently
    wrong). Reference parity: tier-2 stats extension (SURVEY §2b
    O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("source", F.col("n_chars").alias("val"))
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = hist.groupBy("source").agg(F.sum("c").alias("n"))
    a = tot.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    b = tot.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    left = pairs.join(
        hist.select(F.col("source").alias("sa"), "val", F.col("c").alias("c1")),
        "sa",
    ).withColumn("c2", F.lit(0).cast("bigint"))
    right = pairs.join(
        hist.select(F.col("source").alias("sb"), "val", F.col("c").alias("c2")),
        "sb",
    ).withColumn("c1", F.lit(0).cast("bigint"))
    merged = (
        left.unionByName(right)
        .groupBy("sa", "sb", "n_a", "n_b", "val")
        .agg(F.sum("c1").alias("c1"), F.sum("c2").alias("c2"))
    )
    w = (
        Window.partitionBy("sa", "sb")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = merged.select(
        "sa",
        "sb",
        "n_a",
        "n_b",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    return (
        cum.groupBy(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "n_a",
            "n_b",
        )
        .agg(
            F.max(
                F.abs(F.col("n_b") * F.col("f1") - F.col("n_a") * F.col("f2"))
            )
            .cast("bigint")
            .alias("d_num")
        )
        .withColumn("d_den", (F.col("n_a") * F.col("n_b")).cast("bigint"))
    )


@query(
    "jsd_source_divergence",
    oracle="""
    WITH h AS (
      SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hc AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS c
      FROM h GROUP BY 1, 2
    ),
    tot AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM hc GROUP BY 1),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb, a.n AS n_a, b.n AS n_b
      FROM tot a JOIN tot b ON a.source < b.source
    ),
    m AS (
      SELECT p.sa, p.sb, p.n_a, p.n_b, hc.tok,
             sum(CASE WHEN hc.source = p.sa THEN hc.c ELSE 0 END) AS a_w,
             sum(CASE WHEN hc.source = p.sb THEN hc.c ELSE 0 END) AS b_w
      FROM pairs p JOIN hc ON hc.source = p.sa OR hc.source = p.sb
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT sa AS source_a, sb AS source_b, n_a, n_b,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN a_w > 0 THEN a_w * CAST(floor(ln(
                    CAST(2 * a_w * n_b AS DOUBLE)
                    / CAST(a_w * n_b + b_w * n_a AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS jsd_p_micro,
           CAST(sum(CASE WHEN b_w > 0 THEN b_w * CAST(floor(ln(
                    CAST(2 * b_w * n_a AS DOUBLE)
                    / CAST(a_w * n_b + b_w * n_a AS DOUBLE))
                * 1000000 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT)
               AS jsd_q_micro
    FROM m GROUP BY 1, 2, 3, 4
    """,
    tags=("tier2", "stats", "quality"),
)
def jsd_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between every source PAIR's unigram
    token distribution — the mixture-design signal next to
    ks_test_lengths (lengths) and mutual_info_lang_source (labels): JSD
    is the symmetric, bounded (ln 2) lexical distance domain-mixture
    tuning reads before merging or re-weighting slices. Exact-arithmetic
    form of JSD = (KL(P||M) + KL(Q||M))/2 with M the even mixture: per
    token the log's argument is ONE rational of exact BIGINTs —
    p_w/m_w = 2*a_w*n_b / (a_w*n_b + b_w*n_a) — a single IEEE division,
    quantized per token to integer micro-nats (the
    mutual_info_lang_source discipline; per-token terms are legitimately
    negative, floor handles them) and weighted by the exact count, so
    both emitted sums are BIGINTs. Consumers compute
    JSD = (jsd_p_micro/n_a + jsd_q_micro/n_b) / 2e6 nats; a token absent
    from one side contributes exactly ln 2 per occurrence on the other
    (the 0*ln0 = 0 terms are dropped by construction, not approximated).

    SCALE: the (source, token) histogram compacts the corpus in one
    map-side-combined pass; pairs x vocabulary is the cells-squared
    discipline — document-count-independent, though VOCABULARY-quadratic
    in the pair count (20 sources x vocab here; a 10k-source deployment
    would prune to the shared top-V head first — stated, not silent).
    Reference parity: tier-2 stats/profiling extension (SURVEY §2b
    O-11/O-24)."""
    docs = load_table(spark, sf_dir, "documents")
    hc = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = hc.groupBy("source").agg(F.sum("c").alias("n"))
    a = tot.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    b = tot.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    pairs = a.join(b, F.col("sa") < F.col("sb"))
    left = pairs.join(
        hc.select(F.col("source").alias("sa"), "tok", F.col("c").alias("a_w")),
        "sa",
    ).withColumn("b_w", F.lit(0).cast("bigint"))
    right = pairs.join(
        hc.select(F.col("source").alias("sb"), "tok", F.col("c").alias("b_w")),
        "sb",
    ).withColumn("a_w", F.lit(0).cast("bigint"))
    m = (
        left.unionByName(right)
        .groupBy("sa", "sb", "n_a", "n_b", "tok")
        .agg(F.sum("a_w").alias("a_w"), F.sum("b_w").alias("b_w"))
    )

    def _side(cnt: str, own_n: str, other_n: str):
        micro = F.floor(
            F.log(
                (2 * F.col(cnt) * F.col(other_n)).cast("double")
                / (
                    F.col("a_w") * F.col("n_b") + F.col("b_w") * F.col("n_a")
                ).cast("double")
            )
            * 1000000
            + F.lit(0.5)
        ).cast("bigint")
        return F.sum(
            F.when(F.col(cnt) > 0, F.col(cnt) * micro).otherwise(F.lit(0))
        ).cast("bigint")

    return m.groupBy(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        "n_a",
        "n_b",
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        _side("a_w", "n_a", "n_b").alias("jsd_p_micro"),
        _side("b_w", "n_b", "n_a").alias("jsd_q_micro"),
    )


@query(
    "per_source_zscore",
    oracle="""
    WITH s AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(count(*) OVER w AS HUGEINT)                           AS n,
             sum(CAST(n_chars AS HUGEINT)) OVER w                       AS sx,
             sum(CAST(n_chars AS HUGEINT) * n_chars) OVER w             AS sxx
      FROM documents
      WINDOW w AS (PARTITION BY source)
    )
    SELECT doc_id, source, n_chars,
           CASE WHEN n > 1 AND (n * sxx - sx * sx) > 0
                THEN (n_chars - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
                ELSE 0.0 END AS zscore
    FROM s
    """,
    tags=("tier2", "agg", "normalization"),
)
def per_source_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row feature standardization within each source domain —
    z = (x − mean) / stddev of doc length, the normalization step a
    quality-scoring pipeline applies before mixing signals with
    different per-domain scales. Degenerate groups (a single doc, or a
    constant length where cancellation could land at −ε) pin z to 0.0
    via the same guarded CASE on both engines — never NaN-vs-error
    drift (the stats_moments clamp argument, applied per row).

    Bit-exact story: the group moments are EXACT BIGINT sums (order-
    independent), and every double appears through the identical
    operation sequence on both engines — sx/n, the n·sxx − sx² integer
    numerator, one IEEE-exact sqrt — so the raw output bits already
    agree, with no rounding step to sit on decimal half-ties.

    SCALE: deliberately NOT the window formulation the oracle uses — an
    unordered PARTITION BY source window would shuffle and buffer the
    whole corpus per source. Instead: one map-side-combinable
    groupBy(source) producing #domains rows, broadcast back onto an
    unshuffled scan. Zero wide exchanges of the corpus at any scale.
    The moments accumulate in DECIMAL(38,0) (mirrored as HUGEINT in the
    oracle): int64 sums look fine at test scale but n·sxx overflows
    2^63 around 10M docs × 30k chars per source — exactly the
    warehouse shape this query claims to serve — where ANSI mode would
    throw and legacy mode would wrap num negative, silently pinning
    every z to 0.0. 128-bit accumulation is exact past any conceivable
    corpus (n·x² ≤ 10^38), and the double casts that follow are
    correctly rounded identically on both engines."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("bigint").alias("n_chars")
    )
    wide = "decimal(38,0)"
    stats = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast(wide).alias("n"),
        F.sum(F.col("n_chars").cast(wide)).cast(wide).alias("sx"),
        F.sum((F.col("n_chars") * F.col("n_chars")).cast(wide))
        .cast(wide)
        .alias("sxx"),
    )
    # NULL-SAFE stats lookup: groupBy made a real stats row for a NULL
    # source, but a name-list join matches on EqualTo — NULL-source docs
    # would silently drop from the output while the oracle's PARTITION BY
    # window keeps them (the incremental_group_stats group-merge lesson).
    stats = stats.withColumnRenamed("source", "_src")
    j = docs.join(
        F.broadcast(stats), F.col("source").eqNullSafe(F.col("_src"))
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    num = n * sxx - sx * sx  # exact in decimal(38,0)
    nd = n.cast("double")
    # raw double, no round(): every op in the chain is identical and
    # correctly rounded on both engines (exact wide-integer inputs, one
    # division, one IEEE-exact sqrt), so the bits already agree — while
    # round() would reintroduce the shortest-decimal half-tie hazard on
    # dyadic z values (z = ±1 family from perfect-square variances)
    z = (F.col("n_chars") - sx.cast("double") / nd) / F.sqrt(
        num.cast("double") / (nd * (nd - F.lit(1.0)))
    )
    return j.select(
        "doc_id",
        "source",
        "n_chars",
        F.when((n > F.lit(1)) & (num > F.lit(0)), z)
        .otherwise(F.lit(0.0))
        .alias("zscore"),
    )


@query(
    "robust_outliers_mad",
    oracle="""
    WITH hist AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ), totals AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs FROM hist GROUP BY 1
    ), hc AS (
        SELECT source, v, cnt,
               CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS cum
        FROM hist
    ), med AS (
        SELECT hc.source,
               CAST(min(CASE WHEN cum >= (n_docs + 1) // 2 THEN v END)
                  + min(CASE WHEN cum >= n_docs // 2 + 1 THEN v END) AS BIGINT) AS med2
        FROM hc JOIN totals ON hc.source = totals.source
        GROUP BY 1
    ), dh AS (
        SELECT h.source, abs(2 * h.v - m.med2) AS d,
               CAST(sum(h.cnt) AS BIGINT) AS cnt
        FROM hist h JOIN med m ON h.source = m.source
        GROUP BY 1, 2
    ), dc AS (
        SELECT source, d, cnt,
               CAST(sum(cnt) OVER (PARTITION BY source ORDER BY d) AS BIGINT) AS cum
        FROM dh
    ), mad AS (
        SELECT dc.source,
               CAST(min(CASE WHEN cum >= (n_docs + 1) // 2 THEN d END)
                  + min(CASE WHEN cum >= n_docs // 2 + 1 THEN d END) AS BIGINT) AS mad4
        FROM dc JOIN totals ON dc.source = totals.source
        GROUP BY 1
    ), outl AS (
        SELECT dh.source,
               CAST(sum(CASE WHEN 2 * dh.d > 3 * m.mad4 THEN dh.cnt ELSE 0 END)
                    AS BIGINT) AS n_outliers
        FROM dh JOIN mad m ON dh.source = m.source
        GROUP BY 1
    )
    SELECT t.source, t.n_docs, med.med2, mad.mad4, outl.n_outliers
    FROM totals t
    JOIN med  ON t.source = med.source
    JOIN mad  ON t.source = mad.source
    JOIN outl ON t.source = outl.source
    """,
    tags=("tier2", "profiling", "quality"),
)
def robust_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source ROBUST center/spread + outlier census over document
    length: exact median and MAD (median absolute deviation), the
    quality-filter statistics that, unlike mean/stddev (per_source_zscore),
    are not themselves dragged by the outliers they are hunting — a
    handful of 100 MB crawl artifacts shifts a source's mean but leaves
    its median untouched, so the 3-sigma rule quietly under-fires exactly
    when it matters. Flag rule: |len - median| > 3 * MAD.

    Everything is EXACT INTEGER arithmetic so the oracle hash cannot
    drift: med2 = x_(ceil(n/2)) + x_(floor(n/2)+1) is TWICE the
    interpolated median (the sum of the two middle order statistics —
    integer), per-doc deviations d = |2*len - med2| are twice the true
    deviation, and mad4 = the same two-middles sum over d is FOUR times
    the interpolated MAD; the flag |len - med| > 3*MAD becomes
    2*d > 3*mad4, all in longs.

    Scale shape (the reason this is not just `percentile(0.5)`): exact
    medians normally need a per-source sort of the whole corpus, but
    document length has BOUNDED CARDINALITY (~30k distinct values), so
    the corpus compresses to a (source, length, count) VALUE HISTOGRAM in
    one map-side-combinable aggregate — the only pass that touches the
    data. Order statistics come from a running-count window over the
    histogram (sources x distinct-lengths rows, never the corpus), the
    deviation histogram derives from the value histogram (d is a function
    of v), and the outlier census is a conditional sum over it. One
    corpus scan, two tiny windows, zero corpus-wide sorts — the same
    compaction trick a 1000-executor exact-percentile job would use."""
    docs = load_table(spark, sf_dir, "documents")
    from mapreduce__spark.operators.windows import idiv

    hist = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    totals = hist.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    k_lo = idiv(F.col("n_docs") + 1, 2)
    k_hi = idiv(F.col("n_docs"), 2) + 1

    def two_middles(h: DataFrame, val: str, out: str) -> DataFrame:
        """source -> sum of the two middle order statistics of `val`,
        ranks read off a running-count window over the tiny histogram."""
        w = (
            Window.partitionBy("source")
            .orderBy(val)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        hc = h.withColumn("cum", F.sum("cnt").over(w)).join(totals, "source")
        return hc.groupBy("source").agg(
            (
                F.min(F.when(F.col("cum") >= k_lo, F.col(val)))
                + F.min(F.when(F.col("cum") >= k_hi, F.col(val)))
            ).alias(out)
        )

    med = two_middles(hist, "v", "med2")
    dh = (
        hist.join(med, "source")
        .groupBy("source", F.abs(2 * F.col("v") - F.col("med2")).alias("d"))
        .agg(F.sum("cnt").alias("cnt"))
    )
    mad = two_middles(dh, "d", "mad4")
    outl = (
        dh.join(mad, "source")
        .groupBy("source")
        .agg(
            F.sum(
                F.when(2 * F.col("d") > 3 * F.col("mad4"), F.col("cnt")).otherwise(
                    F.lit(0).cast("bigint")
                )
            ).alias("n_outliers")
        )
    )
    return (
        totals.join(med, "source").join(mad, "source").join(outl, "source").select(
            "source", "n_docs", "med2", "mad4", "n_outliers"
        )
    )


@query(
    "equidepth_deciles",
    oracle="""
    WITH hist AS (
        SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS n FROM hist
    ), hc AS (
        SELECT v, cnt, CAST(sum(cnt) OVER (ORDER BY v) AS BIGINT) AS cum
        FROM hist
    ), thr AS (
        SELECT min(CASE WHEN cum >= (1 * n + 9) // 10 THEN v END) AS t1,
               min(CASE WHEN cum >= (2 * n + 9) // 10 THEN v END) AS t2,
               min(CASE WHEN cum >= (3 * n + 9) // 10 THEN v END) AS t3,
               min(CASE WHEN cum >= (4 * n + 9) // 10 THEN v END) AS t4,
               min(CASE WHEN cum >= (5 * n + 9) // 10 THEN v END) AS t5,
               min(CASE WHEN cum >= (6 * n + 9) // 10 THEN v END) AS t6,
               min(CASE WHEN cum >= (7 * n + 9) // 10 THEN v END) AS t7,
               min(CASE WHEN cum >= (8 * n + 9) // 10 THEN v END) AS t8,
               min(CASE WHEN cum >= (9 * n + 9) // 10 THEN v END) AS t9
        FROM hc CROSS JOIN tot
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           min(v) AS lo, max(v) AS hi
    FROM (
        SELECT v, cnt,
               1 + (CASE WHEN v > t1 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t2 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t3 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t4 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t5 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t6 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t7 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t8 THEN 1 ELSE 0 END)
                 + (CASE WHEN v > t9 THEN 1 ELSE 0 END) AS bucket
        FROM hist CROSS JOIN thr
    )
    GROUP BY 1
    """,
    tags=("tier2", "profiling"),
)
def equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH decile histogram of document length (value_histogram is
    the equi-WIDTH twin): decile boundaries are the exact discrete
    percentiles t_i = smallest v whose running count reaches ceil(i*n/10)
    (percentile_disc semantics — a value, never an interpolation), and a
    row lands in bucket 1 + #(boundaries strictly below its value). Ties
    never split across buckets, so per-bucket counts equalize only as far
    as ties allow — the honest equi-depth contract on discrete data (a
    tie-splitting ntile would put IDENTICAL lengths in different buckets,
    an arbitrary distinction no boundary can reproduce; empty buckets are
    simply absent).

    Scale shape: the naive form is ntile over a GLOBAL sort of the
    corpus; this one compresses to the bounded-cardinality value
    histogram first (one map-side-combinable aggregate — the
    robust_outliers_mad compaction), takes a running count over the tiny
    histogram, reads the 9 boundaries off it as one row, and
    broadcast-maps them back onto histogram rows. One corpus scan, no
    global sort, no per-row window."""
    docs = load_table(spark, sf_dir, "documents")
    from mapreduce__spark.operators.windows import idiv

    # MATERIALIZED: the histogram (distinct lengths — tiny) feeds the
    # total, the threshold window AND the final bucket mapping; left
    # lazy, the threshold path replans its own full corpus scan (the
    # unigram_lm_score vocab lesson, confirmed by a plan showing 2
    # FileScans before this checkpoint; `docs/query_profile.py` prints it).
    hist = (
        docs.groupBy(F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(F.sum("cnt").alias("n"))
    # Running count over the HISTOGRAM (distinct lengths, not rows): a
    # single-task window here is deliberate and safe at any corpus size.
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    hc = hist.withColumn("cum", F.sum("cnt").over(w)).crossJoin(F.broadcast(tot))
    thr = hc.groupBy().agg(
        *[
            F.min(
                F.when(F.col("cum") >= idiv(i * F.col("n") + 9, 10), F.col("v"))
            ).alias(f"t{i}")
            for i in range(1, 10)
        ]
    )
    bucket = F.lit(1)
    for i in range(1, 10):
        bucket = bucket + F.when(F.col("v") > F.col(f"t{i}"), 1).otherwise(0)
    return (
        hist.crossJoin(F.broadcast(thr))
        .groupBy(bucket.cast("bigint").alias("bucket"))
        .agg(
            F.sum("cnt").alias("n_rows"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )


@query(
    "pandas_udf_grouped_median",
    oracle="""
    WITH s AS (
        SELECT source, n_chars AS v,
               row_number() OVER (PARTITION BY source ORDER BY n_chars) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT source,
           CAST(min(CASE WHEN rn = (n + 1) // 2 THEN v END)
              + min(CASE WHEN rn = n // 2 + 1 THEN v END) AS BIGINT) AS med2
    FROM s GROUP BY source
    """,
    tags=("tier2", "agg", "udf"),
)
def pandas_udf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas_udf GROUPED_AGG leg of the O-27 UDF-surface matrix —
    the one Python-UDF API the tree exercised nowhere (the
    udtf_token_positions docstring listed it on the strength of the
    other six legs; this makes the claim true): a vectorized grouped
    aggregate (pd.Series -> scalar, Arrow-batched per group) computing
    the exact two-middles median statistic med2 = x_(ceil(n/2)) +
    x_(floor(n/2)+1) over document lengths per source. Pure integer
    arithmetic, so the API demonstration carries a full hash check, and
    the statistic deliberately matches robust_outliers_mad's center —
    three independent implementations (numpy sort here, the
    value-histogram compaction there, the oracle's row_number SQL) must
    agree on the same number.

    Scale note: GROUPED_AGG ships each group's column through Arrow into
    Python — the right tool when the aggregate has no Catalyst
    expression form and groups are plentiful (parallelism = #groups).
    For THIS statistic the production operator remains the
    histogram-compaction query (one JVM-side aggregate, no Python on the
    hot path); this is the API twin, the kernel_search_count
    discipline."""
    import pandas as pd

    @F.pandas_udf("bigint")
    def med2(v: pd.Series) -> int:
        import numpy as np

        a = np.sort(v.to_numpy(dtype=np.int64))
        n = len(a)
        return int(a[(n + 1) // 2 - 1] + a[n // 2])

    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(med2(F.col("n_chars")).alias("med2"))


@query(
    "quantile_rank_normalize",
    oracle="""
    WITH hist AS (
        SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY 1, 2
    ), hc AS (
        SELECT source, v, cnt,
               CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v)
                    AS BIGINT) AS cum
        FROM hist
    ), totals AS (
        SELECT source, CAST(sum(cnt) AS BIGINT) AS n_docs
        FROM hist GROUP BY 1
    )
    SELECT d.doc_id, d.source, d.n_chars,
           CAST(2 * hc.cum - hc.cnt + 1 AS BIGINT) AS midrank2,
           totals.n_docs
    FROM documents d
    JOIN hc ON d.source = hc.source AND d.n_chars = hc.v
    JOIN totals ON d.source = totals.source
    """,
    tags=("tier2", "profiling", "quality"),
)
def quantile_rank_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric per-source score calibration: every document gets
    its within-source MIDRANK of length — the quantile-normalization
    step that makes scores comparable ACROSS sources when their raw
    distributions differ in shape (per_source_zscore assumes the shape
    away; robust_outliers_mad resists it; this removes it: a doc at
    midrank 0.9 is "longer than ~90% of its source" regardless of what
    the source's length distribution looks like). Ties share the
    averaged rank, kept integral as midrank2 = 2*cum - cnt + 1 (twice
    the midrank: for a tie-run ending at running count `cum` with `cnt`
    members, the average of ranks cum-cnt+1..cum is (2*cum - cnt + 1)/2)
    alongside n_docs, so the consumer's percentile midrank2/(2*n_docs)
    stays a deferred exact rational and the driver hash sees only longs.

    Scale shape: the per-(source, length) histogram compacts the corpus
    in the one aggregate pass (robust_outliers_mad's trick), the
    running count windows over histogram rows only, and the rank map
    joins BACK to the corpus on (source, length) — histogram-sized, so
    AQE broadcasts it and the corpus is never shuffled or sorted; the
    naive form is a per-source rank window over every row. Histogram
    materialized so the join-back can't replan the aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    hist = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("source")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # rank map under join-local names: hist derives from docs, so
    # joining back on shared column objects trips the ambiguous-self-join
    # analyzer — rename the keys instead of qualifying them
    rank_map = hist.withColumn("cum", F.sum("cnt").over(w)).select(
        F.col("source").alias("_rm_source"),
        F.col("v").alias("_rm_v"),
        (2 * F.col("cum") - F.col("cnt") + 1).alias("midrank2"),
    )
    totals = hist.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(
            rank_map,
            (F.col("source") == F.col("_rm_source"))
            & (F.col("n_chars") == F.col("_rm_v")),
        )
        .drop("_rm_source", "_rm_v")
        .join(totals, "source")
        .select("doc_id", "source", "n_chars", "midrank2", "n_docs")
    )


ISOTONIC_BIN_WIDTH = 5  # score units per calibration bin
ISOTONIC_MAX_BINS = 4096  # driver-side histogram guard


@query(
    "isotonic_calibration",
    oracle=f"""
    WITH b AS (
      SELECT CAST(floor(value / {ISOTONIC_BIN_WIDTH}) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_clicks
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    c AS (
      SELECT bin, n_events, n_clicks,
             sum(n_clicks) OVER (ORDER BY bin) AS cp,
             sum(n_events) OVER (ORDER BY bin) AS ct
      FROM b
    ),
    pairs AS (
      SELECT j.bin AS jb, k.bin AS kb,
             (k.cp - j.cp + j.n_clicks) AS pjk,
             (k.ct - j.ct + j.n_events) AS tjk
      FROM c j JOIN c k ON j.bin <= k.bin
    ),
    inner_min AS (
      SELECT i.bin AS ib, pr.jb,
             min_by(struct_pack(p := pr.pjk, t := pr.tjk),
                    pr.pjk * 1.0 / pr.tjk) AS mn,
             min(pr.pjk * 1.0 / pr.tjk) AS mnv
      FROM c i JOIN pairs pr ON pr.jb <= i.bin AND pr.kb >= i.bin
      GROUP BY 1, 2
    ),
    outer_max AS (
      SELECT ib, max_by(mn, mnv) AS mx FROM inner_min GROUP BY 1
    )
    SELECT b.bin, b.n_events, b.n_clicks,
           CAST(((o.mx).p * 1000000) // (o.mx).t AS BIGINT) AS cal_micro
    FROM b JOIN outer_max o ON o.ib = b.bin
    """,
    tags=("tier2", "pipeline", "agg", "calibration"),
)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) score calibration — the standard monotone-regression
    primitive for turning a raw model score into an empirical rate
    (Zadrozny & Elkan 2002): bin events by score (`value`), count clicks
    per bin, and fit the NON-DECREASING click-rate curve. Output is the
    calibration table (bin, n_events, n_clicks, cal_micro) where
    cal_micro is the fitted rate in exact integer micro-units.

    Independence of the two sides: Spark runs Pool-Adjacent-Violators on
    the driver over the bounded histogram (operators/calibration.py —
    stack pooling, integer cross-multiplication); the oracle unrolls the
    equivalent MINIMAX characterization f(i) = max_(j<=i) min_(k>=i)
    rate(j..k) entirely in SQL (O(bins^3) pairs — fine at oracle scale,
    and the double ordering key is exact here: distinct rationals with
    denominators <= corpus size differ by >> double epsilon, and equal
    rationals floor to the same micro-value, so argmin/argmax ties
    cannot move the output).

    SCALE: one map-side-combinable groupBy(bin) over the corpus — the
    histogram is bounded by the binning law, PAV is O(bins) driver work,
    and the fitted curve rides back as ONE literal map probed against
    the (already tiny, checkpointed) histogram. The corpus never
    shuffles; same compaction pattern as equidepth_deciles."""
    from mapreduce__spark.operators.calibration import pav_nondecreasing
    from mapreduce__spark.operators.staging import bounded_collect

    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # MATERIALIZED: the histogram feeds both the driver PAV collect and
    # the output relation — left lazy, the output would replan a second
    # corpus scan (the equidepth_deciles lesson).
    hist = (
        ev.groupBy(
            F.floor(F.col("value") / ISOTONIC_BIN_WIDTH)
            .cast("bigint")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(
                F.when(F.col("event_type") == "click", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_clicks"),
        )
        .localCheckpoint(eager=True)
    )
    rows = bounded_collect(
        hist.orderBy("bin"), ISOTONIC_MAX_BINS, "isotonic score histogram"
    )
    fit = pav_nondecreasing([(r.bin, r.n_clicks, r.n_events) for r in rows])
    cal = F.create_map(
        *[
            F.lit(x)
            for b, (p, t) in fit.items()
            for x in (b, p * 1_000_000 // t)
        ]
    )
    return hist.withColumn(
        "cal_micro", F.element_at(cal, F.col("bin")).cast("bigint")
    )


MG_CAP = 63  # Misra-Gries capacity: guarantees every phi=1/(CAP+1) item


@query(
    "heavy_hitters_exact",
    oracle="""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), c AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n
      FROM t WHERE tok <> '' GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n) AS BIGINT) AS total FROM c
    )
    SELECT tok, n FROM c, tot WHERE n * 64 > total
    """,
    tags=("tier2", "text", "sketch"),
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT phi-heavy hitters (phi = 1/64) through a mergeable sketch —
    the sketch-then-verify pattern (LSH's shape applied to frequency):
    a per-partition weighted Misra-Gries summary of capacity {MG_CAP}
    guarantees every token with partition frequency > N_p/64 survives
    that partition, and pigeonhole lifts the guarantee globally (a token
    with total count > N/64 must exceed the threshold in SOME
    partition), so the candidate union is a SUPERSET of the answer; an
    exact recount of just the candidates then makes the output exact —
    the MG pass only decides WHICH tokens get recounted, never a count.
    Output: every token whose exact count n satisfies n*64 > N.

    vs heavy_hitters_approx (rows-only, tolerance-gated): this query is
    fully oracle-checked because the sketch is confined to candidate
    GENERATION. SCALE: pass 1 is one Arrow-batched mapInPandas emitting
    <= {MG_CAP}+1 rows per partition (the +1 row carries the partition's
    token total, so N costs no extra scan); pass 2 recounts only
    candidate tokens via a SIZE-GUARDED semi filter — the full token
    stream never shuffles, and the candidate relation broadcasts only
    while its probed count (cheap: the summary is checkpointed) stays
    under HH_BROADCAST_LIMIT. The candidate set is <= {MG_CAP} rows PER
    PARTITION, so on a 10^5-10^6-partition cluster an unconditional
    broadcast would ship tens of millions of rows to every executor —
    past the limit the recount falls back to a shuffle equi-join on the
    token, the same probe-then-choose discipline as
    operators/dedup.py::_probe_ids."""
    return _heavy_hitters_exact(spark, sf_dir)


# Above this many candidate tokens the exact-recount stage must not
# broadcast the Misra-Gries candidate union: candidates are bounded by
# MG_CAP (63) rows per partition, which is tiny locally but grows
# LINEARLY WITH THE CLUSTER — at 10^6 input partitions the union can
# reach ~64M rows, an executor-memory hazard exactly like the eval-gram
# broadcast the round-6 verdict flagged. Under the limit a broadcast
# hash semi filter avoids shuffling the token stream; past it both
# sides are genuinely large and a shuffle equi-join is the right plan.
HH_BROADCAST_LIMIT = 5_000_000


def _heavy_hitters_exact(
    spark: SparkSession, sf_dir: str, broadcast_limit: int = HH_BROADCAST_LIMIT
) -> DataFrame:
    """Body of heavy_hitters_exact with the broadcast guard exposed for
    tests (tests/test_round10_properties.py::
    test_heavy_hitters_broadcast_and_shuffle_paths_value_equal pins the
    broadcast and shuffle recount paths value-equal by forcing
    broadcast_limit=0)."""
    from collections.abc import Iterator

    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")

    def mg(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        total = 0
        for pdf in batches:
            vc = pdf["tok"].value_counts()
            total += int(vc.sum())
            for t, c in vc.items():
                if t in counters:
                    counters[t] += int(c)
                    continue
                counters[t] = int(c)
                if len(counters) > MG_CAP:
                    # weighted MG decrement: subtract the minimum counter
                    # from everything, drop zeros — classic undercount
                    # bound sum(d) <= N_p/(CAP+1) holds because each
                    # decrement event charges CAP+1 live counters
                    d = min(counters.values())
                    counters = {
                        k: v - d for k, v in counters.items() if v - d > 0
                    }
        yield pd.DataFrame(
            {"tok": list(counters) + [None], "pn": [0] * len(counters) + [total]}
        )

    summary = toks.mapInPandas(mg, "tok string, pn bigint").localCheckpoint(
        eager=True
    )
    n_total = summary.where(F.col("tok").isNull()).agg(
        F.sum("pn").alias("total")
    )
    cands = summary.where(F.col("tok").isNotNull()).select("tok").distinct()
    # probe-then-choose: the summary is already checkpointed, so this
    # count touches <= (MG_CAP+1) x #partitions materialized rows, never
    # the corpus. The guard is explicit because cands is a checkpoint
    # with no stats — an unconditional hint is a scale hole at cluster
    # partition counts (see HH_BROADCAST_LIMIT).
    n_cands = cands.count()
    probe = F.broadcast(cands) if n_cands <= broadcast_limit else cands
    counted = (
        toks.join(probe, "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    return counted.crossJoin(F.broadcast(n_total)).where(
        F.col("n") * 64 > F.col("total")
    ).select("tok", "n")


@query(
    "welch_z_test",
    oracle="""
    WITH c AS (
      SELECT event_type, user_id % 2 AS grp,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    s AS (
      SELECT event_type, grp, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sm,
             CAST(sum(cents * cents) AS BIGINT) AS q
      FROM c GROUP BY 1, 2
    ),
    w AS (
      SELECT a.event_type, a.n AS n_a, b.n AS n_b,
             (CAST(a.sm AS DOUBLE) / a.n - CAST(b.sm AS DOUBLE) / b.n)
                 AS mean_diff_cents,
             CAST(CAST(a.n AS HUGEINT) * a.q
                  - CAST(a.sm AS HUGEINT) * a.sm AS DOUBLE)
                 / (CAST(a.n AS DOUBLE) * (a.n - 1.0)) AS var_a,
             CAST(CAST(b.n AS HUGEINT) * b.q
                  - CAST(b.sm AS HUGEINT) * b.sm AS DOUBLE)
                 / (CAST(b.n AS DOUBLE) * (b.n - 1.0)) AS var_b
      FROM s a JOIN s b ON a.event_type = b.event_type
      WHERE a.grp = 0 AND b.grp = 1 AND a.n > 1 AND b.n > 1
    )
    SELECT event_type, n_a, n_b, mean_diff_cents,
           mean_diff_cents / sqrt(var_a / n_a + var_b / n_b) AS z
    FROM w
    """,
    tags=("tier2", "agg", "stats"),
)
def welch_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample z statistic per event_type,
    comparing the even-user cohort (A) against the odd-user cohort (B)
    on event value — the experiment-analysis primitive beside
    source_drift_chi2's categorical test: difference of means over the
    pooled standard error sqrt(var_a/n_a + var_b/n_b).

    Determinism without rounding (the registry's raw-IEEE-chain rule):
    values go to integer cents exactly (2-decimal money, so v*100 never
    lands on a rounding tie), per-cohort moments (n, sum, sum-of-
    squares) are exact int64, the variance numerator n*Q - S^2 is exact
    in 128-bit integers (DECIMAL(38,0) / HUGEINT), and every double op
    after that — two casts, divisions, a subtraction, one sqrt — is
    written with the SAME structure in both dialects, so each step is
    the identical correctly-rounded IEEE op on identical bits. No
    round() anywhere: the chain is bit-identical by construction and
    rounding could only break it (the events_ewma lesson).

    SCALE: one map-side-combinable groupBy(event_type, cohort) over the
    corpus — a fixed-size moment table; the join and the z arithmetic
    are constant work. The same shape handles millions of experiment
    cells: moments are mergeable, so per-day moment tables roll up
    without rescanning events."""
    dec = "decimal(38,0)"
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    c = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    # ONE conditional aggregate, no cohort self-join: the grouped form
    # fed two filtered consumers and re-scanned events (2 FileScans in
    # the AQE plan); conditional sums produce both cohorts' moments in a
    # single pass with identical values
    az = F.col("grp") == 0
    j = (
        c.groupBy("event_type")
        .agg(
            F.sum(F.when(az, 1).otherwise(0)).cast("bigint").alias("n_a"),
            F.sum(F.when(az, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sm_a"),
            F.sum(F.when(az, F.col("cents") * F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("q_a"),
            F.sum(F.when(~az, 1).otherwise(0)).cast("bigint").alias("n_b"),
            F.sum(F.when(~az, F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("sm_b"),
            F.sum(F.when(~az, F.col("cents") * F.col("cents")).otherwise(0))
            .cast("bigint")
            .alias("q_b"),
        )
        .where((F.col("n_a") > 1) & (F.col("n_b") > 1))
    )
    mean_diff = (
        F.col("sm_a").cast("double") / F.col("n_a")
        - F.col("sm_b").cast("double") / F.col("n_b")
    )
    var_a = (
        (
            F.col("n_a").cast(dec) * F.col("q_a").cast(dec)
            - F.col("sm_a").cast(dec) * F.col("sm_a").cast(dec)
        ).cast("double")
        / (F.col("n_a").cast("double") * (F.col("n_a") - F.lit(1.0)))
    )
    var_b = (
        (
            F.col("n_b").cast(dec) * F.col("q_b").cast(dec)
            - F.col("sm_b").cast(dec) * F.col("sm_b").cast(dec)
        ).cast("double")
        / (F.col("n_b").cast("double") * (F.col("n_b") - F.lit(1.0)))
    )
    return j.select(
        "event_type",
        "n_a",
        "n_b",
        mean_diff.alias("mean_diff_cents"),
        (
            mean_diff
            / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
        ).alias("z"),
    )


QSKETCH_ALPHA = 0.01  # DDSketch relative-error target for the query below


@query(
    "quantile_sketch_values",
    oracle=None,  # approximate by design — the alpha relative-error
    # guarantee vs exact percentile_disc, the EXACT sketch merge law,
    # and the fixed-universe state bound are asserted in
    # tests/test_qsketch.py (the heavy_hitters_approx precedent)
    tags=("tier2", "agg", "sketch", "approx"),
)
def quantile_sketch_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate quantiles over an unbounded-cardinality
    DOUBLE measure — the one 100 TB primitive the exact (value -> count)
    histogram machinery (incremental_percentiles,
    stream_quantile_histogram) structurally cannot cover, because its
    state is bounded only by the measure's cardinality. This is the
    DDSketch construction (Masson/Rim/Lee, PVLDB 2019; see
    operators/qsketch.py): bucket = ceil(log_gamma(value)) with
    gamma = (1+a)/(1-a), so the sketch is counts over a FIXED index
    universe (~3.6e4 buckets at a=0.01 across the entire double range —
    data-independent), bucket counts are exact, and the bucket picked
    for quantile q is exactly the one holding the rank-q value, making
    every estimate within relative error a of the true percentile_disc
    — a hard guarantee, not a statistical one.

    Output: per event_type, n_rows and the p50/p90/p99 estimates over
    events.value. SCALE: the build is scan-stage bucketing + one
    map-side-combined groupBy on (event_type, sgn, idx); the read is a
    window PARTITIONED BY event_type over the bounded bucket rows; the
    merge (sketch(A) ++ sketch(B) -> re-sum) is the commutative monoid
    the streaming twin (streaming/streams.py stream_dd_quantiles) folds
    in the state store. No UDF, nothing collected, state bounded by the
    universe, never by row count or value cardinality."""
    from mapreduce__spark.operators.qsketch import dd_quantiles, dd_sketch

    ev = load_table(spark, sf_dir, "events")
    sk = dd_sketch(ev, "value", ["event_type"], alpha=QSKETCH_ALPHA)
    q = dd_quantiles(
        sk, [(1, 2), (9, 10), (99, 100)], ["event_type"], alpha=QSKETCH_ALPHA
    )
    return q.select(
        "event_type",
        "n_rows",
        F.col("q_1_2").alias("p50_est"),
        F.col("q_9_10").alias("p90_est"),
        F.col("q_99_100").alias("p99_est"),
    )


@query(
    "quantile_sketch_dyadic",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
    ),
    b AS (
      SELECT event_type,
             CASE WHEN cents > 0 THEN CAST(length(bin(cents)) AS BIGINT)
                  ELSE 0 END AS bucket,
             CAST(count(*) AS BIGINT) AS n
      FROM c GROUP BY 1, 2
    ),
    w AS (
      SELECT event_type, bucket, n,
             CAST(sum(n) OVER (PARTITION BY event_type ORDER BY bucket)
                  AS BIGINT) AS cum,
             CAST(sum(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      FROM b
    ),
    s AS (
      SELECT event_type, CAST(max(total) AS BIGINT) AS n_rows,
             min(CASE WHEN cum * 2 >= total THEN bucket END) AS b50,
             min(CASE WHEN cum * 10 >= 9 * total THEN bucket END) AS b90,
             min(CASE WHEN cum * 100 >= 99 * total THEN bucket END) AS b99
      FROM w GROUP BY event_type
    )
    SELECT event_type, n_rows,
           CAST(CASE WHEN b50 > 0 THEN CAST(pow(2, b50 - 1) AS BIGINT)
                ELSE 0 END AS BIGINT) AS p50_lo_cents,
           CAST(CASE WHEN b50 > 0 THEN CAST(pow(2, b50) AS BIGINT) - 1
                ELSE 0 END AS BIGINT) AS p50_hi_cents,
           CAST(CASE WHEN b90 > 0 THEN CAST(pow(2, b90 - 1) AS BIGINT)
                ELSE 0 END AS BIGINT) AS p90_lo_cents,
           CAST(CASE WHEN b90 > 0 THEN CAST(pow(2, b90) AS BIGINT) - 1
                ELSE 0 END AS BIGINT) AS p90_hi_cents,
           CAST(CASE WHEN b99 > 0 THEN CAST(pow(2, b99 - 1) AS BIGINT)
                ELSE 0 END AS BIGINT) AS p99_lo_cents,
           CAST(CASE WHEN b99 > 0 THEN CAST(pow(2, b99) AS BIGINT) - 1
                ELSE 0 END AS BIGINT) AS p99_hi_cents
    FROM s
    """,
    tags=("tier2", "agg", "sketch"),
)
def quantile_sketch_dyadic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORACLE-ATTESTED face of the mergeable-quantile design (the
    simhash_charfold precedent applied to sketches): power-of-two
    bucketing over the integer cents measure — bucket = bit length of
    the value, <= 64 buckets for ANY bigint — is integer-exact in both
    engines, so the whole sketch-build + cumulative-rank + bucket-pick
    pipeline that quantile_sketch_values runs with log-gamma buckets is
    hash-checked end-to-end here with dyadic ones. Emits exact [lo, hi]
    cent bounds bracketing each of p50/p90/p99 (factor-2 relative
    brackets; the declared semantics is the BUCKETING, so the oracle is
    exact — rank picks use the same integer cum*den >= num*total
    comparison as the DD read path).

    SCALE: identical shape to quantile_sketch_values — scan-stage
    bucketing, one map-side-combined groupBy over <= 64 buckets per
    event_type, a key-partitioned window over the bounded bucket rows.
    Counts add bucket-wise, so partition/stream merges are the same
    monoid fold."""
    from mapreduce__spark.operators.qsketch import dyadic_sketch

    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    # NaN shares dd_sketch's drop-like-NULL discipline (round-10 ADVICE:
    # a NaN would non-ANSI-cast to bucket 0 on the Spark side while the
    # oracle's CAST(round(NaN) AS BIGINT) errors — filter it in BOTH)
    sk = dyadic_sketch(
        ev.where(F.col("value").isNotNull() & ~F.isnan("value")),
        cents,
        ["event_type"],
    )
    w = Window.partitionBy("event_type")
    cum = sk.select(
        "event_type",
        "bucket",
        F.sum("n").over(w.orderBy("bucket")).alias("cum"),
        F.sum("n").over(w).alias("total"),
    )

    def pick(num: int, den: int, name: str):
        return F.min(
            F.when(F.col("cum") * den >= num * F.col("total"), F.col("bucket"))
        ).alias(name)

    s = cum.groupBy("event_type").agg(
        F.max("total").cast("bigint").alias("n_rows"),
        pick(1, 2, "b50"),
        pick(9, 10, "b90"),
        pick(99, 100, "b99"),
    )

    def lo(b):
        return F.when(
            F.col(b) > 0, F.pow(F.lit(2.0), F.col(b) - 1).cast("bigint")
        ).otherwise(F.lit(0)).cast("bigint")

    def hi(b):
        return F.when(
            F.col(b) > 0, F.pow(F.lit(2.0), F.col(b)).cast("bigint") - 1
        ).otherwise(F.lit(0)).cast("bigint")

    return s.select(
        "event_type",
        "n_rows",
        lo("b50").alias("p50_lo_cents"),
        hi("b50").alias("p50_hi_cents"),
        lo("b90").alias("p90_lo_cents"),
        hi("b90").alias("p90_hi_cents"),
        lo("b99").alias("p99_lo_cents"),
        hi("b99").alias("p99_hi_cents"),
    )


CM_PROBES = 20  # estimate the top-N tokens (deterministic n-desc/tok order)


def _countmin_oracle() -> str:
    """DuckDB twin of the count-min pipeline: same char-fold hash, same
    per-row affine column map, same cell sums, same row-min estimate —
    every step integer arithmetic, so the sketch AND the estimates are
    bit-identical cross-engine (what makes a sketch query fully
    hash-checkable here where murmur-hashed implementations are not)."""
    from mapreduce__spark.operators.qsketch import (
        CM_DEPTH,
        CM_MOD,
        CM_ROW_A,
        CM_ROW_B,
        CM_WIDTH,
    )

    a_case = " ".join(
        f"WHEN {j} THEN CAST({CM_ROW_A[j]} AS BIGINT)" for j in range(CM_DEPTH)
    )
    b_case = " ".join(
        f"WHEN {j} THEN CAST({CM_ROW_B[j]} AS BIGINT)" for j in range(CM_DEPTH)
    )
    return f"""
    WITH t AS (
      SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS n_true
      FROM t WHERE tok <> '' GROUP BY 1
    ), th AS (
      SELECT tok, n_true,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(tok)+1),
                         i -> CAST(ord(substr(tok, i, 1)) AS BIGINT))),
          (a,b) -> (a*31+b) % {CM_MOD}) AS h
      FROM tf
    ), rows_ AS (
      SELECT unnest(range(0, {CM_DEPTH})) AS row
    ), cells AS (
      SELECT row,
             (h * (CASE row {a_case} END) + (CASE row {b_case} END))
                 % {CM_MOD} % {CM_WIDTH} AS col,
             CAST(sum(n_true) AS BIGINT) AS n
      FROM th, rows_ GROUP BY 1, 2
    ), probes AS (
      SELECT tok, n_true, h FROM th
      ORDER BY n_true DESC, tok ASC LIMIT {CM_PROBES}
    ), pcells AS (
      SELECT p.tok, p.n_true, r.row,
             (p.h * (CASE r.row {a_case} END) + (CASE r.row {b_case} END))
                 % {CM_MOD} % {CM_WIDTH} AS col
      FROM probes p, rows_ r
    )
    SELECT pc.tok, CAST(max(pc.n_true) AS BIGINT) AS n_true,
           CAST(min(coalesce(c.n, 0)) AS BIGINT) AS n_est
    FROM pcells pc LEFT JOIN cells c ON c.row = pc.row AND c.col = pc.col
    GROUP BY pc.tok
    """


@query(
    "countmin_freq_estimate",
    oracle=_countmin_oracle(),
    tags=("tier2", "text", "sketch"),
)
def countmin_freq_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates (Cormode &
    Muthukrishnan 2005), fully oracle-checked: the third face of the
    mergeable-sketch family (MG heavy hitters = who is frequent,
    DDSketch = value quantiles, count-min = how often is THIS item).
    Builds the CM_DEPTH x CM_WIDTH cell table from exact token counts —
    the heavy shuffle is the vocabulary groupBy, map-side combinable;
    cells are a bounded second aggregate — and reads back the row-min
    estimate for the top-{CM_PROBES} tokens (deterministic count-desc/
    token order). Estimates NEVER undercount (every cell holding a token
    holds all its mass; the one-sided guarantee is pytest-pinned on
    adversarial data alongside the exact merge law), and every step is
    integer (char-fold hash mod 2^31-1, affine row salts, double mod),
    so sketch and estimates hash-check cross-engine — the property
    murmur-hashed sketch libraries cannot offer an external oracle.

    SCALE: the sketch is <= CM_DEPTH*CM_WIDTH rows regardless of corpus
    or vocabulary size — the bounded summary a 100 TB profiler keeps hot
    while the corpus stays cold; merging shards is cell-wise addition.
    The probe read joins a broadcast probe set against the bounded cell
    table; the CM_PROBES-row probe relation is materialized once (it
    has two consumers — estimate keys and the final join — and a lazy
    rank relation would replan a second corpus scan). At production
    scale the probe list is a fixed query set, not a rank over the
    corpus."""
    from mapreduce__spark.operators.qsketch import (
        countmin_build,
        countmin_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    tf = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_true")
    )
    # the probe relation is consumed twice (estimate keys + final join
    # back); materialize its CM_PROBES rows once or AQE replans a third
    # corpus scan for the second consumer (the round-9 lazy-relation
    # lesson — bounded mechanically by the limit)
    probes = (
        tf.orderBy(F.col("n_true").desc(), F.col("tok").asc())
        .limit(CM_PROBES)
        .localCheckpoint(eager=True)
    )
    sk = countmin_build(toks)
    est = countmin_estimate(sk, probes.select("tok"))
    return probes.join(est, "tok").select("tok", "n_true", "n_est")


def _hll_oracle() -> str:
    """DuckDB twin of the char-fold HyperLogLog: same fold, same
    multiply / xor-shift / multiply mix, same register split, same
    integer register sum — and the raw estimator as the identical single
    division of the shared float literal by the exact bigint sum."""
    from mapreduce__spark.operators.qsketch import (
        CM_MOD,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_RANK_CAP,
        HLL_SCALE,
    )

    return f"""
    WITH c AS (
      SELECT o_orderpriority AS pr, CAST(o_custkey AS VARCHAR) AS it
      FROM orders
    ),
    h0 AS (
      SELECT pr,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(it)+1),
                         i -> CAST(ord(substr(it, i, 1)) AS BIGINT))),
          (a,b) -> (a*31+b) % {CM_MOD}) AS h
      FROM c
    ),
    h1 AS (SELECT pr, (h * CAST(2654435761 AS BIGINT)) % {CM_MOD} AS a FROM h0),
    h2 AS (SELECT pr, xor(a, a >> 15) % {CM_MOD} AS b FROM h1),
    h3 AS (SELECT pr, (b * CAST(1000003 AS BIGINT)) % {CM_MOD} AS h FROM h2),
    reg AS (
      SELECT pr, h % {HLL_M} AS j,
             CASE WHEN h // {HLL_M} > 0
                  THEN {HLL_RANK_CAP} - length(bin(h // {HLL_M}))
                  ELSE {HLL_RANK_CAP} END AS r
      FROM h3
    ),
    mx AS (
      SELECT pr, j, CAST(max(r) AS BIGINT) AS m_rank FROM reg GROUP BY 1, 2
    ),
    agg AS (
      SELECT pr, CAST(count(*) AS BIGINT) AS npres,
             CAST(sum(CAST(pow(2, 50 - m_rank) AS BIGINT)) AS BIGINT) AS sp
      FROM mx GROUP BY 1
    ),
    n AS (SELECT pr, CAST(count(*) AS BIGINT) AS n_rows FROM c GROUP BY 1)
    SELECT n.pr AS o_orderpriority, n.n_rows,
           CAST({HLL_M} - agg.npres AS BIGINT) AS v_empty,
           CAST(agg.sp + ({HLL_M} - agg.npres) * {HLL_SCALE} AS BIGINT)
               AS s_scaled,
           {HLL_ALPHA_NUM!r}
               / (agg.sp + ({HLL_M} - agg.npres) * {HLL_SCALE}) AS raw_est
    FROM n JOIN agg ON n.pr = agg.pr
    """


@query(
    "hll_distinct_charfold",
    oracle=_hll_oracle(),
    tags=("tier2", "agg", "sketch"),
)
def hll_distinct_charfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count with a CROSS-ENGINE-EXACT hash — the
    oracle-attested face of O-12 (the simhash_charfold precedent applied
    to cardinality): Spark's native approx_count_distinct keeps xxhash64
    registers the oracle cannot reproduce, so the family was rows-only
    until now. This twin runs the same FFGM construction over the shared
    char-fold hash (+ multiply/xor-shift/multiply mixing, chosen by
    MEASURED bias on the fixture key population): register = low 8 hash
    bits, rank = leading zeros of the remaining 23, max per register
    (the max monoid — shard merges are groupBy-MAX), then the summary
    emits the INTEGER estimator components (v_empty, the exact scaled
    register sum) plus the raw estimator as one correctly-rounded
    division of a shared float literal — hash-identical both engines.
    The ln-based linear-counting correction is applied from v_empty in
    the tolerance gate (tests/test_qsketch.py: within 15% of exact
    COUNT(DISTINCT) at both verify SFs — sf0.001 exercises the
    linear-counting regime, sf0.01 the raw-estimator regime).

    Counts distinct customers per order priority. SCALE: state is
    <= {256} registers per key group regardless of cardinality; the
    build is one map-side-combinable max aggregate over scan-stage hash
    expressions — the profile primitive behind dedup-rate and
    vocabulary-size monitoring at 100 TB."""
    from mapreduce__spark.operators.qsketch import hll_registers, hll_summary

    o = load_table(spark, sf_dir, "orders")
    regs = hll_registers(
        o, F.col("o_custkey").cast("string"), ["o_orderpriority"]
    )
    summary = hll_summary(regs, ["o_orderpriority"])
    n = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    return n.join(summary, "o_orderpriority").select(
        "o_orderpriority", "n_rows", "v_empty", "s_scaled", "raw_est"
    )


HLL_COHORT_A = "1-URGENT"
HLL_COHORT_B = "5-LOW"


def _hll_overlap_oracle() -> str:
    """DuckDB twin of the HLL set-overlap algebra. The Spark side builds
    the union summary by MAX-MERGING the two cohort register tables
    (hll_union — the operator under attestation); the oracle builds it
    from the CONCATENATED cohort rows. The two are exactly equal by the
    max-monoid law (sketch(A ++ B) == merge(sketch(A), sketch(B)),
    property-pinned in tests/test_qsketch.py), so the check attests the
    merge itself. All components integer except the three raw estimates
    (one correctly-rounded division each) and the inclusion-exclusion
    sum (left-to-right over the same three doubles both engines)."""
    from mapreduce__spark.operators.qsketch import (
        CM_MOD,
        HLL_ALPHA_NUM,
        HLL_M,
        HLL_RANK_CAP,
        HLL_SCALE,
    )

    def regs(where: str, name: str) -> str:
        return f"""
    c_{name} AS (
      SELECT CAST(o_custkey AS VARCHAR) AS it FROM orders WHERE {where}
    ),
    h0_{name} AS (
      SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(it)+1),
                         i -> CAST(ord(substr(it, i, 1)) AS BIGINT))),
          (a,b) -> (a*31+b) % {CM_MOD}) AS h
      FROM c_{name}
    ),
    h1_{name} AS (SELECT (h * CAST(2654435761 AS BIGINT)) % {CM_MOD} AS a FROM h0_{name}),
    h2_{name} AS (SELECT xor(a, a >> 15) % {CM_MOD} AS b FROM h1_{name}),
    h3_{name} AS (SELECT (b * CAST(1000003 AS BIGINT)) % {CM_MOD} AS h FROM h2_{name}),
    mx_{name} AS (
      SELECT h % {HLL_M} AS j,
             CAST(max(CASE WHEN h // {HLL_M} > 0
                  THEN {HLL_RANK_CAP} - length(bin(h // {HLL_M}))
                  ELSE {HLL_RANK_CAP} END) AS BIGINT) AS m_rank
      FROM h3_{name} GROUP BY 1
    ),
    s_{name} AS (
      -- coalesce: an EMPTY cohort has zero register rows, so the SUM is
      -- NULL; the correct sketch of an empty set is all-empty registers,
      -- i.e. s_scaled = {HLL_M} * {HLL_SCALE} (round-10 ADVICE)
      SELECT CAST({HLL_M} - count(*) AS BIGINT) AS v_empty,
             CAST(coalesce(sum(CAST(pow(2, 50 - m_rank) AS BIGINT)), 0)
                  + ({HLL_M} - count(*)) * {HLL_SCALE} AS BIGINT) AS s_scaled
      FROM mx_{name}
    )"""

    blocks = ",\n".join(
        regs(where, name).strip()
        for where, name in (
            (f"o_orderpriority = '{HLL_COHORT_A}'", "a"),
            (f"o_orderpriority = '{HLL_COHORT_B}'", "b"),
            (f"o_orderpriority IN ('{HLL_COHORT_A}', '{HLL_COHORT_B}')", "u"),
        )
    )
    return f"""
    WITH {blocks}
    SELECT
      s_a.v_empty AS v_a, s_a.s_scaled AS s_a,
      {HLL_ALPHA_NUM!r} / s_a.s_scaled AS raw_a,
      s_b.v_empty AS v_b, s_b.s_scaled AS s_b,
      {HLL_ALPHA_NUM!r} / s_b.s_scaled AS raw_b,
      s_u.v_empty AS v_u, s_u.s_scaled AS s_u,
      {HLL_ALPHA_NUM!r} / s_u.s_scaled AS raw_u,
      {HLL_ALPHA_NUM!r} / s_a.s_scaled + {HLL_ALPHA_NUM!r} / s_b.s_scaled
        - {HLL_ALPHA_NUM!r} / s_u.s_scaled AS inter_raw_est
    FROM s_a, s_b, s_u
    """


@query(
    "hll_set_overlap",
    oracle=_hll_overlap_oracle(),
    tags=("tier2", "agg", "sketch"),
)
def hll_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL SET ALGEBRA with the merge operator itself under driver
    attestation: union cardinality via per-register MAX (the max monoid
    — the merge every shard/stream combination runs), intersection via
    inclusion-exclusion over the three raw estimators. The Spark half
    MERGES the two cohort register tables with hll_union; the oracle
    rebuilds the union from concatenated rows — equal exactly by the
    monoid law (sketch(A ++ B) == merge(sketch(A), sketch(B)),
    property-pinned), so a green row here attests the merge, not just
    two builds. Cohorts: distinct customers of '{HLL_COHORT_A}' vs
    '{HLL_COHORT_B}' orders. Emits the deterministic estimator
    components (v/s per cohort, raw estimates, the inclusion-exclusion
    intersection estimate — left-to-right double arithmetic, identical
    both engines); accuracy vs exact overlap is tolerance-gated in
    tests/test_qsketch.py with the documented error-compounding caveat
    (fine for overlap-rate profiling, not small intersections of huge
    sets).

    100 TB use: audience overlap, cross-corpus contamination rate,
    dedup-rate-between-snapshots — WITHOUT a distinct-join over either
    corpus: state is <= 3 x 256 register rows end to end."""
    from mapreduce__spark.operators.qsketch import (
        HLL_ALPHA_NUM,
        HLL_SCALE,
        HLL_M,
        hll_registers,
        hll_union,
    )

    o = load_table(spark, sf_dir, "orders")
    item = F.col("o_custkey").cast("string")
    ra = hll_registers(o.where(F.col("o_orderpriority") == HLL_COHORT_A), item)
    rb = hll_registers(o.where(F.col("o_orderpriority") == HLL_COHORT_B), item)
    ru = hll_union(ra, rb)

    def summary(regs: DataFrame, suffix: str) -> DataFrame:
        # coalesce: an EMPTY cohort has zero register rows, so the SUM is
        # NULL; the correct empty-set sketch is all-empty registers —
        # v_empty = HLL_M, s_scaled = HLL_M * HLL_SCALE (round-10 ADVICE)
        agg = regs.groupBy().agg(
            F.count(F.lit(1)).cast("bigint").alias("_npres"),
            F.coalesce(
                F.sum(
                    F.pow(F.lit(2.0), F.lit(50) - F.col("m_rank")).cast(
                        "bigint"
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("_sp"),
        )
        v = (F.lit(HLL_M) - F.col("_npres")).cast("bigint")
        s = (F.col("_sp") + v * F.lit(HLL_SCALE)).cast("bigint")
        return agg.select(
            v.alias(f"v_{suffix}"),
            s.alias(f"s_{suffix}"),
            (F.lit(HLL_ALPHA_NUM) / s).alias(f"raw_{suffix}"),
        )

    joined = (
        summary(ra, "a")
        .crossJoin(F.broadcast(summary(rb, "b")))
        .crossJoin(F.broadcast(summary(ru, "u")))
    )
    return joined.select(
        "v_a",
        "s_a",
        "raw_a",
        "v_b",
        "s_b",
        "raw_b",
        "v_u",
        "s_u",
        "raw_u",
        (F.col("raw_a") + F.col("raw_b") - F.col("raw_u")).alias(
            "inter_raw_est"
        ),
    )


@query(
    "theil_sen_slope",
    oracle="""
    WITH xy AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
             n_chars AS y
      FROM documents
    ),
    cells AS (
      SELECT source, x, y, CAST(count(*) AS BIGINT) AS n
      FROM xy GROUP BY 1, 2, 3
    ),
    slopes AS (
      SELECT a.source,
             CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS s,
             sum(a.n * b.n) AS w
      FROM cells a JOIN cells b
        ON a.source = b.source AND a.x < b.x
      GROUP BY 1, 2
    ),
    walk AS (
      SELECT source, s, w,
             sum(w) OVER (PARTITION BY source ORDER BY s) AS cum,
             sum(w) OVER (PARTITION BY source) AS tot
      FROM slopes
    )
    SELECT source,
           CAST(max(tot) AS BIGINT) AS n_pairs_w,
           min(CASE WHEN cum * 2 >= tot THEN s END) AS median_slope
    FROM walk GROUP BY source
    """,
    tags=("tier2", "stats"),
)
def theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THEIL-SEN robust trend estimator per source (round 13) — the
    rank-based regression companion to ols_fit_per_source (exact
    least squares) and kendall_concordance (whose tau this estimator is
    the slope face of; Sen 1968): the weighted MEDIAN of pairwise
    slopes (y2-y1)/(x2-x1) over all pairs with distinct x, which
    tolerates ~29% outliers where OLS tolerates none. Same
    histogram-compaction trick as kendall_concordance: pairs are formed
    on the (x, y) CELL HISTOGRAM (pair weight = n_a * n_b), so the
    self-join is cells^2 — value-domain-bounded, independent of
    document count — and the median is a percentile_disc pick over the
    per-source slope distribution (first slope whose cumulative weight
    reaches half, the integer cum*2 >= tot comparison).

    Float discipline: each slope is ONE IEEE division of two exact
    BIGINTs — bit-identical cross-engine — and slopes are GROUPED BY
    that double (same bits, same group), so the walk order, the pick
    and the emitted value are all exact; no rounding anywhere (the
    registry's raw-exact-value rule). SCALE: one map-side-combined
    aggregate to cells, a cells^2 self-join per source, a
    source-partitioned window over the bounded slope rows — nothing
    scales with corpus size past the first aggregate. Reference
    parity: tier-2 stats extension (SURVEY §2b O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.size(F.split(F.col("text"), " ")).cast("long").alias("x"),
            F.col("n_chars").alias("y"),
        )
        .groupBy("source", "x", "y")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    a = cells.select(
        "source", F.col("x").alias("ax"), F.col("y").alias("ay"),
        F.col("n").alias("an"),
    )
    b = cells.select(
        "source", F.col("x").alias("bx"), F.col("y").alias("by"),
        F.col("n").alias("bn"),
    )
    slopes = (
        a.join(b, "source")
        .where(F.col("ax") < F.col("bx"))
        .groupBy(
            "source",
            (
                (F.col("by") - F.col("ay")).cast("double")
                / (F.col("bx") - F.col("ax")).cast("double")
            ).alias("s"),
        )
        .agg(F.sum(F.col("an") * F.col("bn")).alias("w"))
    )
    w = Window.partitionBy("source")
    walk = slopes.select(
        "source",
        "s",
        "w",
        F.sum("w").over(w.orderBy("s")).alias("cum"),
        F.sum("w").over(w).alias("tot"),
    )
    return walk.groupBy("source").agg(
        F.max("tot").cast("bigint").alias("n_pairs_w"),
        F.min(
            F.when(F.col("cum") * 2 >= F.col("tot"), F.col("s"))
        ).alias("median_slope"),
    )


@query(
    "gini_doc_length",
    oracle="""
    WITH h AS (
      SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    w AS (
      SELECT source, v, c,
             CAST(coalesce(sum(c) OVER (PARTITION BY source ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM h
    ),
    agg AS (
      SELECT source,
             CAST(sum(c) AS BIGINT) AS n_docs,
             CAST(sum(v * c) AS BIGINT) AS total_chars,
             CAST(sum(v * (c * cb + (c * (c + 1)) // 2)) AS BIGINT) AS ranksum
      FROM w GROUP BY 1
    )
    SELECT source, n_docs, total_chars,
           CAST(2 * ranksum - (n_docs + 1) * total_chars AS BIGINT)
               AS gini_num,
           CAST(n_docs * total_chars AS BIGINT) AS gini_den,
           CAST(2 * ranksum - (n_docs + 1) * total_chars AS DOUBLE)
               / CAST(n_docs * total_chars AS DOUBLE) AS gini
    FROM agg
    """,
    tags=("tier2", "stats", "quality"),
)
def gini_doc_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI COEFFICIENT of document length per source (round 13) — the
    inequality/balance audit a training-mixture curator runs before
    setting sampling weights: a source whose token mass concentrates in
    a few giant documents (gini -> 1) needs per-document caps that a
    uniform source (gini -> 0) does not. Computed ENTIRELY in integer
    arithmetic (no libm anywhere): with the corpus compacted to the
    per-source length histogram (the equidepth_deciles trick), the
    sorted-rank sum sum(i * x_i) collapses per distinct value v with
    count c and preceding cumulative count C to
    v * (c*C + c*(c+1)//2), and Gini's standard sorted form
    G = (2*ranksum - (n+1)*total) / (n*total) is emitted as its exact
    BIGINT numerator/denominator plus ONE raw int/int IEEE division
    (the registry's exact-arithmetic rule).

    SCALE: one map-side-combined aggregate to the bounded value
    histogram, a source-PARTITIONED running-count window over histogram
    rows, one final aggregate — nothing scales with document count past
    the first aggregate, and no global sort ever materializes (the
    naive Gini needs a per-source full sort). Reference parity: tier-2
    stats/profiling extension (SURVEY §2b O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        docs.groupBy("source", F.col("n_chars").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wh = h.select(
        "source",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cb"),
    )
    ranksum_term = F.col("v") * (
        F.col("c") * F.col("cb")
        + F.shiftright(F.col("c") * (F.col("c") + 1), 1)
    )
    agg = wh.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.sum(F.col("v") * F.col("c")).cast("bigint").alias("total_chars"),
        F.sum(ranksum_term).cast("bigint").alias("ranksum"),
    )
    num = (F.lit(2) * F.col("ranksum")
           - (F.col("n_docs") + 1) * F.col("total_chars"))
    den = F.col("n_docs") * F.col("total_chars")
    return agg.select(
        "source",
        "n_docs",
        "total_chars",
        num.cast("bigint").alias("gini_num"),
        den.cast("bigint").alias("gini_den"),
        (num.cast("double") / den.cast("double")).alias("gini"),
    )


@query(
    "mutual_info_lang_source",
    oracle="""
    WITH xy AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT lang, CAST(sum(c) AS BIGINT) AS cx FROM xy GROUP BY 1),
    my AS (SELECT source, CAST(sum(c) AS BIGINT) AS cy FROM xy GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM xy)
    SELECT CAST(max(n.n) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(count(DISTINCT xy.lang) AS BIGINT) AS n_lang,
           CAST(count(DISTINCT xy.source) AS BIGINT) AS n_source,
           CAST(sum(xy.c * CAST(floor(ln(CAST(xy.c * n.n AS DOUBLE)
                                         / CAST(mx.cx * my.cy AS DOUBLE))
                                     * 1000000 + 0.5) AS BIGINT))
                AS BIGINT) AS mi_micro_weighted
    FROM xy
    JOIN mx ON mx.lang = xy.lang
    JOIN my ON my.source = xy.source
    CROSS JOIN n
    """,
    tags=("tier2", "stats", "quality"),
)
def mutual_info_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MUTUAL INFORMATION between the lang and source labels (round
    13) — the categorical-association audit a curator runs before
    trusting a split or a mixture: MI near zero means the metadata
    columns are independent; high MI flags leakage (a "random" split
    that secretly follows source, a language concentrated in one
    domain). Exact-arithmetic form of
    MI = sum_xy p_xy * ln(p_xy / (p_x p_y)): per contingency cell the
    log's argument is ONE rational of exact BIGINTs (c_xy * N) /
    (c_x * c_y) — a single IEEE division, bit-identical cross-engine —
    quantized per cell to integer micro-nats (floor(x*1e6 + 0.5), which
    handles the legitimately NEGATIVE per-cell terms too) and weighted
    by the exact cell count, so the emitted weighted sum is a BIGINT
    that compares exactly; consumers divide by 1e6*N for MI in nats.

    SCALE: one map-side-combined aggregate to the lang x source
    contingency table (bounded by the label domains, never by corpus
    size), two marginal re-aggregations OVER that table, broadcast-sized
    joins. Reference parity: tier-2 stats/profiling extension
    (SURVEY §2b O-11)."""
    docs = load_table(spark, sf_dir, "documents")
    xy = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    mx = xy.groupBy("lang").agg(F.sum("c").alias("cx"))
    my = xy.groupBy("source").agg(F.sum("c").alias("cy"))
    n = xy.agg(F.sum("c").alias("n"))
    term = F.floor(
        F.log(
            (F.col("c") * F.col("n")).cast("double")
            / (F.col("cx") * F.col("cy")).cast("double")
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    return (
        xy.join(F.broadcast(mx), "lang")
        .join(F.broadcast(my), "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.max("n").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.countDistinct("lang").cast("bigint").alias("n_lang"),
            F.countDistinct("source").cast("bigint").alias("n_source"),
            F.sum(F.col("c") * term).cast("bigint").alias(
                "mi_micro_weighted"
            ),
        )
    )
