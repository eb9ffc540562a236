"""Tier 1 — relational algebra over the kernel (SURVEY.md §2b, O-10..O-21).

The reference kernel implements none of these directly, but each is a
classical MapReduce pattern on its F1-F8 operators (reduce-side join,
tag-and-group set ops, re-keyed multi-pass rollup...). The engine expresses
them as the DataFrame operators Catalyst already optimizes — broadcast vs
sort-merge join selection, partial aggregation, predicate pushdown — rather
than re-deriving the MR encodings.

Scale notes are per-query in docstrings; the recurring rules:
* dims (region 5 rows, nation 25 rows) are broadcast — never shuffled;
* fact-fact joins shuffle on the join key (l_orderkey/o_orderkey is
  uniform, no salting needed); AQE skew-join stands by for real data;
* every aggregate is expression-based => map-side partial agg.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table


def exact_sum(expr, dec: str, digits: int):
    """The float-discipline sum idiom (rationale in pricing_summary's
    docstring): accumulate in DECIMAL — exact and associative, so the
    result is independent of partition layout — round at the true
    precision, cast to double for the driver comparison. One definition
    so the rule cannot drift per call site (the oracles mirror the same
    CAST/round/CAST chain in SQL)."""
    return F.round(F.sum(expr.cast(dec)), digits).cast("double")


# --------------------------------------------------------------------------
# aggregation (O-11, O-12)
# --------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                    AS sum_qty,
           round(sum(l_extendedprice), 2)                               AS sum_base_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 4)
                AS DOUBLE)                                              AS sum_disc_price,
           CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                              AS DECIMAL(18,6))), 6) AS DOUBLE)         AS sum_charge,
           round(avg(l_quantity), 4)                                    AS avg_qty,
           round(avg(l_extendedprice), 4)                               AS avg_price,
           round(avg(l_discount), 4)                                    AS avg_disc,
           count(*)                                                     AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("tier1", "agg", "bench"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11 flagship aggregate: TPC-H Q1 shape on lineitem.

    6 aggregates over 2 low-cardinality keys: partial agg collapses each
    scan partition to ~6 rows before the shuffle, so the shuffle is O(
    partitions), independent of table size — exactly the plan you want at
    100 TB.

    Float discipline: PRODUCT sums (disc_price, charge) accumulate in
    DECIMAL — their true values have 4-6 decimals, so a double sum's last
    bits depend on partition order and a coarse round() can flip at a tie
    (observed: sharded layout changed a round-2 sum by 0.01). Decimal
    addition is exact and associative -> layout-independent; rounding AT
    the true precision is then a no-op both engines agree on. Plain-column
    sums (2-decimal prices, integral quantities) don't need it.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            exact_sum(disc_price, "decimal(18,6)", 4).alias("sum_disc_price"),
            exact_sum(charge, "decimal(18,6)", 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "agg_multi",
    oracle="""
    SELECT o_orderpriority,
           count(*)                         AS n_orders,
           count(DISTINCT o_custkey)        AS n_customers,
           round(sum(o_totalprice), 2)      AS sum_price,
           round(avg(o_totalprice), 4)      AS avg_price,
           round(min(o_totalprice), 2)      AS min_price,
           round(max(o_totalprice), 2)      AS max_price
    FROM orders
    GROUP BY o_orderpriority
    """,
    tags=("tier1", "agg"),
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11: the full aggregate family incl. COUNT(DISTINCT) in one pass.

    countDistinct forces an expand+two-phase agg; Spark keeps the other
    aggregates partial. Fine at scale because the group count is tiny.
    """
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        F.round(F.min("o_totalprice"), 2).alias("min_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )


@query(
    "stats_moments",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n,
           round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
               AS mean_price,
           round((CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                 / (count(*) - 1), 4) AS var_price,
           round(sqrt(greatest((CAST(sum(CAST(o_totalprice * o_totalprice AS DECIMAL(28,4))) AS DOUBLE)
                  - CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*))
                 / (count(*) - 1), 0)), 4) AS stddev_price
    FROM orders
    GROUP BY o_orderstatus
    """,
    tags=("tier1", "agg"),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11: variance / stddev per group.

    Built from the explicit sum/sum-of-squares formula over DECIMAL
    accumulators rather than var_samp()/stddev_samp(): the engines'
    built-ins use different streaming algorithms (Welford merge orders
    differ), so their last bits diverge — exact decimal sums feed both
    sides the IDENTICAL doubles, making the formula cross-engine- and
    layout-stable. (x and x² of 2-decimal data have ≤4 decimals, so the
    decimal accumulation is exact.)"""
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    sum_x = F.sum(p.cast("decimal(18,2)")).cast("double")
    sum_x2 = F.sum((p * p).cast("decimal(28,4)")).cast("double")
    n = F.count(F.lit(1))
    var = (sum_x2 - sum_x * sum_x / n) / (n - 1)
    return o.groupBy("o_orderstatus").agg(
        n.alias("n"),
        F.round(sum_x / n, 6).alias("mean_price"),
        F.round(var, 4).alias("var_price"),
        # Clamp before the sqrt (mirrored in the oracle): a constant
        # group's variance should be exactly 0 but double cancellation
        # can land at -1e-10, where Spark's sqrt yields NaN and DuckDB's
        # RAISES — the gate would hard-error instead of comparing.
        F.round(F.sqrt(F.greatest(var, F.lit(0.0))), 4).alias("stddev_price"),
    )


@query(
    "correlation",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           round((count(*) * CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
                  - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
                 / (count(*) * (count(*) - 1)), 4) AS covar_qty_price,
           round((count(*) * CAST(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
                  - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
                 / sqrt(greatest((count(*) * CAST(sum(CAST(l_quantity * l_quantity AS DECIMAL(28,4))) AS DOUBLE)
                         - CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           * CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
                        * (count(*) * CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE)
                           - CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                             * CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)), 0)), 4)
               AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("tier1", "agg"),
)
def correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11: sample covariance + Pearson correlation per group, from the
    explicit moment sums over DECIMAL accumulators (same cross-engine
    stability argument as stats_moments — built-in corr()/covar_samp()
    use engine-specific streaming merges)."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    n = F.count(F.lit(1))
    sq = F.sum(q.cast("decimal(18,2)")).cast("double")
    sp = F.sum(p.cast("decimal(18,2)")).cast("double")
    sqp = F.sum((q * p).cast("decimal(28,4)")).cast("double")
    sqq = F.sum((q * q).cast("decimal(28,4)")).cast("double")
    spp = F.sum((p * p).cast("decimal(28,4)")).cast("double")
    num = n * sqp - sq * sp
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.round(num / (n * (n - 1)), 4).alias("covar_qty_price"),
        # Same clamp as stats_moments' stddev: cancellation on a
        # constant column must yield sqrt(0) (-> NULL corr via 0-div,
        # both engines), never sqrt(negative) (NaN in Spark, an ERROR
        # in DuckDB).
        F.round(
            num
            / F.sqrt(F.greatest((n * sqq - sq * sq) * (n * spp - sp * sp), F.lit(0.0))),
            4,
        ).alias("corr_qty_price"),
    )


@query(
    "approx_count_distinct",
    oracle=None,  # approximate by construction — driver rows-only check;
    # accuracy vs exact COUNT(DISTINCT) is asserted in tests/test_operators.py
    tags=("tier1", "agg", "approx"),
)
def approx_count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-12: HyperLogLog++ distinct estimate per event_type.

    At 100 TB this replaces the exact distinct's expand/shuffle with a
    fixed-size mergeable sketch per partition — constant memory, one
    narrow shuffle of sketches.
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )


@query(
    "distinct_users_hll_mergeable",
    oracle=None,  # approximate by design — ±5% vs exact asserted in tests
    tags=("tier1", "agg", "sketch"),
)
def distinct_users_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-12 extended: PERSISTABLE distinct-count sketches (Datasketches
    HLL via hll_sketch_agg) — the incremental-analytics shape
    approx_count_distinct cannot express. Per (event_type, day) sketches
    are built once, then any window re-aggregates by UNIONING sketches
    (hll_union_agg) without rescanning events: daily job sketches the
    day's partition, weekly/monthly/all-time rollups merge bytes. At
    100 TB the events scan happens once per day instead of once per
    reporting window. Output: per-event_type all-time estimate computed
    through the merge path (two-level: day sketches → union), which the
    pytest gate checks against exact COUNT(DISTINCT) at ±5%."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    return daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )


@query(
    "incremental_percentiles",
    oracle="""
    WITH hist AS (
        SELECT event_type, value AS v, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ), totals AS (
        SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n_rows
        FROM hist GROUP BY 1
    ), hc AS (
        SELECT event_type, v, cnt,
               CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY v)
                    AS BIGINT) AS cum
        FROM hist
    )
    SELECT t.event_type, t.n_rows,
           min(CASE WHEN cum >= (n_rows + 1) // 2 THEN v END)        AS p50,
           min(CASE WHEN cum >= (9 * n_rows + 9) // 10 THEN v END)   AS p90,
           min(CASE WHEN cum >= (99 * n_rows + 99) // 100 THEN v END) AS p99
    FROM hc JOIN totals t ON hc.event_type = t.event_type
    GROUP BY t.event_type, t.n_rows
    """,
    tags=("tier1", "agg", "sketch"),
)
def incremental_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-11/O-12 extended: MERGEABLE exact percentiles — the quantile
    twin of distinct_users_hll_mergeable, for the incremental-analytics
    shape where daily jobs summarize their partition once and any
    reporting window merges summaries without rescanning events. The
    summary is the per-(event_type, day) VALUE HISTOGRAM: on
    bounded-cardinality measures (money at cent grain, latency at ms
    grain, document lengths) it is bounded-size like a KLL/GK sketch but
    EXACT — merging is count addition (associative, commutative), so
    day → window rollups lose nothing, and unlike interpolating sketches
    the answer is an order statistic actually present in the data
    (percentile_disc: the smallest value whose running count reaches
    ceil(p*n)).

    This query runs the whole two-level path — build daily summaries,
    merge across the full window, read p50/p90/p99 off the merged
    histogram's running count — and the oracle recomputes the same
    discrete percentiles directly from raw events, so the merge path is
    hash-checked against the single-pass truth, exact to the bit (the
    values are ORIGINAL doubles from the data; no arithmetic touches
    them).

    Scale shape: one events scan builds the daily summaries
    (map-side-combinable), the merge shuffles only summary rows
    (days x distinct-values per event_type), and the percentile window
    runs over the merged histogram — corpus-independent state, the
    robust_outliers_mad compaction applied to streaming-style rollups."""
    from mapreduce__spark.operators.windows import idiv

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day"), F.col("value").alias("v")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    # MATERIALIZED: the merged summary (event_types x distinct values —
    # tiny) feeds both the totals and the percentile window; left lazy,
    # the totals path replans its own events scan (the equidepth_deciles
    # lesson — its plan showed 2 FileScans before the checkpoint). In
    # the deployed incremental shape this materialization IS the design:
    # the daily summaries are the persisted artifact.
    merged = (
        daily.groupBy("event_type", "v")
        .agg(F.sum("cnt").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = merged.groupBy("event_type").agg(F.sum("cnt").alias("n_rows"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    hc = merged.withColumn("cum", F.sum("cnt").over(w)).join(totals, "event_type")

    def disc(num: int, den: int):
        rank = idiv(num * F.col("n_rows") + (den - 1), den)
        return F.min(F.when(F.col("cum") >= rank, F.col("v")))

    return hc.groupBy("event_type", "n_rows").agg(
        disc(1, 2).alias("p50"),
        disc(9, 10).alias("p90"),
        disc(99, 100).alias("p99"),
    )


# --------------------------------------------------------------------------
# joins (O-13..O-16)
# --------------------------------------------------------------------------


@query(
    "join_inner",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING' AND o.o_totalprice > 4000.0
    """,
    tags=("tier1", "join"),
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-13: equi inner join (reduce-side-join pattern on the kernel).

    customer is orders/10 in cardinality and filtered — under AQE's
    runtime size stats this flips to broadcast-hash automatically; on a
    real cluster co-partitioning orders/customer buckets on custkey would
    remove the shuffle entirely.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        o.where(F.col("o_totalprice") > 4000.0)
        .join(c, o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")
    )


@query(
    "join_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o
      ON c.c_custkey = o.o_custkey AND o.o_totalprice > 4900.0
    """,
    tags=("tier1", "join"),
)
def join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-13: left outer join with a join-side predicate (kept in the ON
    clause, so non-matching customers survive with NULLs)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cond = (c.c_custkey == o.o_custkey) & (o.o_totalprice > 4900.0)
    return c.join(o, cond, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(big.o_custkey, neg.c_custkey) AS custkey,
           big.n_big, neg.n_neg
    FROM (SELECT o_custkey, count(*) AS n_big FROM orders
          WHERE o_totalprice > 4800.0 GROUP BY o_custkey) big
    FULL JOIN (SELECT c_custkey, count(*) AS n_neg FROM customer
               WHERE c_acctbal < -500.0 GROUP BY c_custkey) neg
      ON big.o_custkey = neg.c_custkey
    """,
    tags=("tier1", "join"),
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-13: full outer join of two pre-aggregated sides — NULLs must
    survive on both sides.

    Quirk the test pins down: the join key itself is NULL on unmatched
    right rows, so the output key must coalesce both sides' keys.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        o.where(F.col("o_totalprice") > 4800.0)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    neg = (
        c.where(F.col("c_acctbal") < -500.0)
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_neg"))
    )
    return big.join(neg, big.o_custkey == neg.c_custkey, "full").select(
        # coalesce BOTH sides' keys: a right-only row's o_custkey is NULL
        # and projecting it alone silently drops the key the full-outer
        # join exists to preserve (the docstring's stated quirk — the
        # code previously didn't do it).
        F.coalesce(big.o_custkey, neg.c_custkey).alias("custkey"),
        "n_big",
        "n_neg",
    )


@query(
    "join_semi_anti",
    oracle="""
    SELECT c_custkey, c_name,
           TRUE AS has_urgent
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT c_custkey, c_name, FALSE AS has_urgent
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
    tags=("tier1", "join"),
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-14: left-semi and left-anti joins (EXISTS / NOT EXISTS), unioned
    with a tag so both paths are hash-checked in one query.

    Semi/anti never materialize right-side columns — the build side is
    just a key set, far cheaper than inner-join-then-distinct at scale.
    """
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    semi = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.lit(True).alias("has_urgent")
    )
    anti = c.join(urgent, c.c_custkey == urgent.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.lit(False).alias("has_urgent")
    )
    return semi.unionAll(anti)


@query(
    "join_broadcast_star",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS sum_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
    tags=("tier1", "join", "bench"),
)
def join_broadcast_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-15: star join through two explicitly-broadcast dimensions.

    nation (25 rows) and region (5 rows) are fixed-cardinality: broadcast
    them and the whole join is map-side — the only shuffle left is the
    final 125-group aggregate. This is THE pattern for dim joins at 100 TB.
    """
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
    )


@query(
    "join_range",
    oracle="""
    SELECT b.bucket_name, count(*) AS n_parts,
           round(avg(p.p_retailprice), 4) AS avg_price
    FROM part p
    JOIN (VALUES ('small', 1, 10), ('medium', 11, 25), ('large', 26, 50))
         AS b(bucket_name, lo, hi)
      ON p.p_size BETWEEN b.lo AND b.hi
    GROUP BY b.bucket_name
    """,
    tags=("tier1", "join"),
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-16: non-equi (range/theta) join against a small bucket dim.

    A non-equi join has no hash key; the only sane physical plan is
    broadcast-nested-loop with the tiny side broadcast — which is what
    forcing broadcast() here guarantees. Never range-join two large
    relations without banding one side into an equi key first.
    """
    p = load_table(spark, sf_dir, "part")
    buckets = F.broadcast(
        spark.createDataFrame(
            [("small", 1, 10), ("medium", 11, 25), ("large", 26, 50)],
            "bucket_name string, lo int, hi int",
        )
    )
    return (
        p.join(buckets, p.p_size.between(F.col("lo"), F.col("hi")))
        .groupBy("bucket_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.round(F.avg("p_retailprice"), 4).alias("avg_price"),
        )
    )


@query(
    "join_skew_salted",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    tags=("tier1", "join", "skew"),
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-13 under pathological skew: the same inner equi-join computed
    through :func:`~mapreduce__spark.operators.skew.salted_join` — the
    build side replicated `salt` ways and the probe side scattered across
    the replicas, so ONE white-hot key (null flood, celebrity user) lands
    on `salt` tasks instead of serializing a stage. Results are identical
    to the plain join by construction (each probe row meets each build row
    exactly once), which is exactly what the plain-SQL oracle checks; AQE
    skew-splitting covers the moderate cases at runtime, salting is the
    explicit fallback it cannot fix (docs/SCALE.md has the measured
    comparison). Decimal accumulation keeps the revenue sum independent of
    partition layout."""
    from mapreduce__spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # unique_col is the point: without it the salt hashes all probe
    # columns, so duplicate (custkey, totalprice) rows share a salt and
    # a hot key of repeated values still funnels one task — the exact
    # degraded case the helper documents.
    joined = salted_join(o, c, ["c_custkey"], salt=8, unique_col="o_orderkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        exact_sum(F.col("o_totalprice"), "decimal(18,4)", 2).alias("revenue"),
    )


@query(
    "join_bloom_pruned",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS sum_qty
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 450000)
    GROUP BY l_returnflag
    """,
    tags=("tier1", "join", "bloom"),
)
def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-14 at the scale edge: left-semi join through
    :func:`~mapreduce__spark.operators.bloom.bloom_pruned_semi_join` — the
    build side's key set (top-decile orders) is Bloom-sketched with pure
    expressions (distributed bit_or build, O(words) collect), the fact
    scan is pruned by the codegen'd might-contain predicate BEFORE any
    shuffle, and the real semi join runs on survivors only. Results equal
    the plain semi join exactly (no false negatives; false positives die
    in the join), which the plain-SQL oracle checks — at 10^8-key build
    sides this is the difference between shuffling the whole fact table
    and shuffling the selectivity fraction."""
    from mapreduce__spark.operators.bloom import bloom_pruned_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    keys = o.where(F.col("o_totalprice") > 450000).select("o_orderkey")
    semi = bloom_pruned_semi_join(li, keys, "l_orderkey", "o_orderkey")
    return semi.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        exact_sum(F.col("l_quantity"), "decimal(18,4)", 2).alias("sum_qty"),
    )


FUZZY_MAX_ED = 2  # edit-distance threshold for the fuzzy join
FUZZY_Q = 2  # q-gram width for the lossless candidate filter


@query(
    "fuzzy_join_parts",
    oracle=f"""
    SELECT a.p_partkey AS key1, b.p_partkey AS key2,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM part a JOIN part b ON a.p_partkey < b.p_partkey
    WHERE length(a.p_name) >= {FUZZY_MAX_ED * FUZZY_Q + FUZZY_Q}
      AND length(b.p_name) >= {FUZZY_MAX_ED * FUZZY_Q + FUZZY_Q}
      AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_ED}
    """,
    tags=("tier1", "join", "fuzzy"),
)
def fuzzy_join_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (edit-distance <= 2) self-join on part names — the
    entity-resolution theta-join the equi family can't express. The
    ORACLE is the naive quadratic cross join of levenshtein calls; the
    engine gets the identical answer via two lossless reductions
    (distinct-domain comparison + q-gram count filtering, then exact
    verify on candidates only) — see
    :func:`operators.fuzzy.fuzzy_self_join` for the blocking math and
    the 100 TB skew story. Extends O-16 beyond the reference (exact
    substring only, Search.cpp:220)."""
    from mapreduce__spark.operators.fuzzy import fuzzy_self_join

    return fuzzy_self_join(
        load_table(spark, sf_dir, "part"),
        "p_partkey",
        "p_name",
        FUZZY_MAX_ED,
        q=FUZZY_Q,
    )


@query(
    "entity_resolution_parts",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT a.p_partkey AS id1, b.p_partkey AS id2
        FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        WHERE length(a.p_name) >= {FUZZY_MAX_ED * FUZZY_Q + FUZZY_Q}
          AND length(b.p_name) >= {FUZZY_MAX_ED * FUZZY_Q + FUZZY_Q}
          AND levenshtein(a.p_name, b.p_name) <= {FUZZY_MAX_ED}
    ),
    edges AS (
        SELECT id1 AS a, id2 AS b FROM pairs
        UNION SELECT id2, id1 FROM pairs
    ),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    comp AS (
        SELECT a AS node, least(a, min(b)) AS component
        FROM reach GROUP BY a
    ),
    ent AS (
        SELECT p.p_partkey AS node,
               coalesce(c.component, p.p_partkey) AS entity_id
        FROM part p LEFT JOIN comp c ON c.node = p.p_partkey
    )
    SELECT e.entity_id, CAST(count(*) AS BIGINT) AS n_members,
           g.p_name AS canonical_name
    FROM ent e JOIN part g ON g.p_partkey = e.entity_id
    GROUP BY e.entity_id, g.p_name
    """,
    tags=("tier1", "join", "fuzzy", "pipeline", "graph"),
)
def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end-to-end — the golden-record pipeline every
    warehouse MDM/dedup project runs, composed from this engine's own
    operators: (1) BLOCK with the lossless fuzzy self-join (edit
    distance <= 2 on part names via distinct-domain + q-gram count
    filtering — operators/fuzzy.py), (2) CLUSTER the match graph with
    iterative connected components (operators/graph.py), (3) MERGE each
    cluster to one golden record: entity_id = the min-key member,
    n_members, and the canonical name read from that member (a
    deterministic survivorship rule). Rows with no fuzzy neighbor —
    including names under the gram filter's declared length floor —
    survive as singleton entities, so the output is a PARTITION of the
    input: sum(n_members) == |part| (pinned in tests).

    The oracle recomputes all three stages independently: the naive
    quadratic levenshtein join, a recursive-CTE transitive closure, and
    a direct group-merge — none of the engine's blocking, propagation,
    or survivorship code is shared with it.

    Scale: blocking cost tracks the distinct-name domain (never corpus
    rows); CC is the same min-label propagation dedup_clusters runs at
    corpus scale; the merge is one groupBy on entity_id plus a
    dimension-sized join back for the canonical name."""
    from mapreduce__spark.operators.fuzzy import fuzzy_self_join
    from mapreduce__spark.operators.graph import connected_components

    part = load_table(spark, sf_dir, "part")
    edges = fuzzy_self_join(
        part, "p_partkey", "p_name", FUZZY_MAX_ED, q=FUZZY_Q
    ).select("key1", "key2")
    cc = connected_components(edges, "key1", "key2")
    ent = (
        part.select(F.col("p_partkey").alias("node"))
        .join(cc, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("entity_id"),
        )
    )
    sizes = ent.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    names = part.select(
        F.col("p_partkey").alias("entity_id"),
        F.col("p_name").alias("canonical_name"),
    )
    return sizes.join(names, "entity_id").select(
        "entity_id", "n_members", "canonical_name"
    )


@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
    """,
    tags=("tier1", "join", "bench"),
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + agg + top-k — the headline multi-join.

    Filters are applied BEFORE the joins (Catalyst pushes them to the
    scans), customer⋈orders flips to broadcast under AQE after the
    segment filter, and the top-10 is TakeOrderedAndProject. The one big
    shuffle is lineitem on l_orderkey — uniformly distributed.
    """
    c = load_table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
    tags=("tier1", "join", "bench"),
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join mixing fact-fact shuffles with broadcast
    dims, including the customer-nation = supplier-nation theta condition
    folded into the supplier equi-join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")),
                4,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "revenue_forecast",
    oracle="""
    SELECT CAST(round(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 4) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.06
      AND l_quantity < 24.0
    """,
    tags=("tier1", "agg", "bench"),
)
def revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+sum scan — the scan-throughput anchor.
    Every predicate reaches the parquet reader; the result is one row, so
    shuffle cost is zero. This is the query whose runtime IS the scan."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.06)
            & (F.col("l_quantity") < 24.0)
        )
        .agg(
            exact_sum(
                F.col("l_extendedprice") * F.col("l_discount"), "decimal(18,6)", 4
            ).alias("revenue")
        )
    )


@query(
    "shipmode_priority",
    oracle="""
    SELECT l.l_returnflag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_returnflag
    """,
    tags=("tier1", "join", "agg"),
)
def shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: fact-fact join + conditional aggregation (CASE
    inside SUM — the conditional-count idiom)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~is_high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "large_volume_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           round(t.total_qty, 2) AS total_qty
    FROM (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 140.0
    ) t
    JOIN orders o ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    tags=("tier1", "join", "agg"),
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join with a HAVING filter — the
    agg runs FIRST so only qualifying orderkeys reach the joins (a
    join-then-agg formulation would shuffle the full fact table twice)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    t = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 140.0)
    )
    return (
        t.join(o, o.o_orderkey == t.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .select("c_custkey", "c_name", "o_orderkey", F.round("total_qty", 2).alias("total_qty"))
    )


# --------------------------------------------------------------------------
# windows & top-k per key (O-17, O-18)
# --------------------------------------------------------------------------


@query(
    "topk_per_key",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn
    FROM (
        SELECT c_mktsegment, c_custkey, c_acctbal,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        FROM customer
    ) WHERE rn <= 3
    """,
    tags=("tier1", "window"),
)
def topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-17: top-k per group via row_number window + filter.

    Spark's WindowGroupLimit pushes the rank filter into the shuffle
    (partial top-k per map task) — each partition contributes at most k
    rows per key, so this scales like an aggregation, not a sort.
    """
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    return (
        c.select("c_mktsegment", "c_custkey", "c_acctbal")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
    )


@query(
    "window_analytic",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
           lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
           rank()       OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS value_rank,
           dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS type_rank
    FROM events
    WHERE user_id < 20
    """,
    tags=("tier1", "window"),
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18: analytic window functions — lag/lead/rank/dense_rank.

    All four share the user_id partitioning, so Spark computes them over
    ONE shuffle+sort (window exchange reuse); ordering keys include a
    unique tiebreak (event_id) for determinism.
    """
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    by_ts = Window.partitionBy("user_id").orderBy("ts", "event_id")
    by_val = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    by_type = Window.partitionBy("user_id").orderBy("event_type")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("event_type").over(by_ts).alias("prev_type"),
        F.lead("event_type").over(by_ts).alias("next_type"),
        F.rank().over(by_val).alias("value_rank"),
        F.dense_rank().over(by_type).alias("type_rank"),
    )


@query(
    "window_frames",
    oracle="""
    SELECT event_id, user_id, ts,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_sum,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
               AS moving_avg3
    FROM events
    WHERE user_id < 20
    """,
    tags=("tier1", "window"),
)
def window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18: frame aggregates — running sum and 3-row moving average."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.sum("value").over(w.rowsBetween(Window.unboundedPreceding, 0)), 2).alias(
            "running_sum"
        ),
        F.round(F.avg("value").over(w.rowsBetween(-2, 0)), 4).alias("moving_avg3"),
    )


# --------------------------------------------------------------------------
# set operations, distinct, rollup/cube (O-10, O-19, O-20)
# --------------------------------------------------------------------------


@query(
    "set_ops",
    oracle="""
    SELECT 'union' AS op, nk FROM (
        SELECT c_nationkey AS nk FROM customer UNION ALL SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'intersect' AS op, nk FROM (
        SELECT c_nationkey AS nk FROM customer WHERE c_acctbal < 0
        INTERSECT SELECT s_nationkey FROM supplier WHERE s_acctbal < 0)
    UNION ALL
    SELECT 'except' AS op, nk FROM (
        SELECT c_nationkey AS nk FROM customer
        EXCEPT SELECT s_nationkey FROM supplier WHERE s_acctbal < 0)
    """,
    tags=("tier1", "setop"),
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-19: UNION ALL / INTERSECT / EXCEPT, tagged and stacked so all
    three set semantics are verified by one hash."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    c_nk = c.select(F.col("c_nationkey").alias("nk"))
    c_neg = c.where(F.col("c_acctbal") < 0).select(F.col("c_nationkey").alias("nk"))
    s_nk = s.select(F.col("s_nationkey").alias("nk"))
    s_neg = s.where(F.col("s_acctbal") < 0).select(F.col("s_nationkey").alias("nk"))
    tag = lambda df, t: df.select(F.lit(t).alias("op"), "nk")  # noqa: E731
    return (
        tag(c_nk.unionAll(s_nk), "union")
        .unionAll(tag(c_neg.intersect(s_neg), "intersect"))
        .unionAll(tag(c_nk.subtract(s_neg), "except"))
    )


@query(
    "distinct_dedup",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
    tags=("tier1",),
)
def distinct_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-10: DISTINCT = group-by-all-cols with no-op reduce (the kernel
    pattern); Spark plans it as a hash aggregate with partial dedup."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "rollup_cube",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS returnflag,
           coalesce(l_linestatus, '<all>') AS linestatus,
           GROUPING(l_returnflag, l_linestatus) AS gid,
           count(*) AS cnt,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("tier1", "agg"),
)
def rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-20: ROLLUP with grouping_id — multi-level aggregates in one pass
    (the kernel would need one MR pass per level; Spark expands
    grouping sets map-side)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("<all>")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("<all>")).alias("linestatus"),
            "gid",
            "cnt",
            "sum_qty",
        )
    )


@query(
    "unpivot_metrics",
    oracle="""
    WITH wide AS (
        SELECT o_orderpriority,
               count(*)::DOUBLE AS n_orders,
               round(sum(o_totalprice), 2) AS sum_price,
               round(max(o_totalprice), 2) AS max_price
        FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, 'n_orders'  AS metric, n_orders  AS value FROM wide
    UNION ALL
    SELECT o_orderpriority, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT o_orderpriority, 'max_price', max_price FROM wide
    """,
    tags=("tier1", "agg"),
)
def unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-20 inverse: UNPIVOT/melt — wide per-group metrics to long
    (group, metric, value) form, the shape metric stores and plotting
    layers consume. Spark's unpivot is a zero-shuffle Expand."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("double").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.round(F.max("o_totalprice"), 2).alias("max_price"),
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_orders", "sum_price", "max_price"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "null_semantics",
    oracle="""
    WITH j AS (
        SELECT o.o_orderstatus, c.c_acctbal
        FROM orders o LEFT JOIN customer c
          ON o.o_custkey = c.c_custkey AND c.c_acctbal < -700.0
    )
    SELECT o_orderstatus,
           count(*) AS n_rows,
           count(c_acctbal) AS n_matched,
           round(sum(coalesce(c_acctbal, 0.0)), 2) AS sum_bal,
           CAST(sum(CASE WHEN c_acctbal IS NOT DISTINCT FROM NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe
    FROM j GROUP BY o_orderstatus
    """,
    tags=("tier1", "semantics"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL NULL semantics pinned down: null-skipping COUNT(col) vs
    COUNT(*), COALESCE defaults, and null-safe equality (<=>) — over an
    outer join that manufactures the NULLs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(
        c, (o.o_custkey == c.c_custkey) & (c.c_acctbal < -700.0), "left"
    ).select("o_orderstatus", "c_acctbal")
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("c_acctbal").alias("n_matched"),
        F.round(F.sum(F.coalesce(F.col("c_acctbal"), F.lit(0.0))), 2).alias("sum_bal"),
        F.sum(
            F.when(F.col("c_acctbal").eqNullSafe(F.lit(None).cast("double")), 1).otherwise(0)
        ).alias("n_null_safe"),
    )


@query(
    "cube_agg",
    oracle="""
    SELECT coalesce(o_orderstatus, '<all>')   AS orderstatus,
           coalesce(o_orderpriority, '<all>') AS orderpriority,
           GROUPING(o_orderstatus, o_orderpriority) AS gid,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("tier1", "agg"),
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-20: CUBE — all 2^n grouping-set combinations in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("<all>")).alias("orderstatus"),
            F.coalesce(F.col("o_orderpriority"), F.lit("<all>")).alias("orderpriority"),
            "gid",
            "cnt",
            "sum_price",
        )
    )


# --------------------------------------------------------------------------
# scalar-function catalog (O-21)
# --------------------------------------------------------------------------


@query(
    "scalar_functions",
    oracle="""
    SELECT p_partkey,
           lower(p_type)                                   AS type_lower,
           substr(p_name, 1, 6)                            AS name_prefix,
           instr(p_brand, '#')                             AS hash_pos,
           len(string_split(p_name, '_'))                  AS name_tokens,
           regexp_extract(p_brand, '#(\\d+)', 1)           AS brand_num,
           round(abs(p_retailprice - 950.0), 2)            AS price_dev,
           round(ln(p_retailprice), 4)                     AS log_price,
           CAST(pow(p_size, 2) AS BIGINT)                  AS size_sq
    FROM part
    WHERE p_size <= 10
    """,
    tags=("tier1", "functions"),
)
def scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (strings & math): the scalar-function catalog exercised in one
    projection — all built-in JVM expressions, zero Python."""
    p = load_table(spark, sf_dir, "part")
    return p.where(F.col("p_size") <= 10).select(
        "p_partkey",
        F.lower("p_type").alias("type_lower"),
        F.substring("p_name", 1, 6).alias("name_prefix"),
        F.instr(F.col("p_brand"), "#").alias("hash_pos"),
        F.size(F.split("p_name", "_")).alias("name_tokens"),
        F.regexp_extract("p_brand", r"#(\d+)", 1).alias("brand_num"),
        F.round(F.abs(F.col("p_retailprice") - 950.0), 2).alias("price_dev"),
        F.round(F.log(F.col("p_retailprice")), 4).alias("log_price"),
        F.pow("p_size", 2).cast("bigint").alias("size_sq"),
    )


@query(
    "datetime_functions",
    oracle="""
    SELECT year(o_orderdate)  AS order_year,
           month(o_orderdate) AS order_month,
           count(*)           AS n_orders,
           round(sum(o_totalprice), 2) AS sum_price
    FROM orders
    WHERE date_trunc('year', o_orderdate) >= TIMESTAMP '1997-01-01'
    GROUP BY year(o_orderdate), month(o_orderdate)
    """,
    tags=("tier1", "functions"),
)
def datetime_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (dates): year/month extraction + date_trunc predicate,
    aggregated monthly — the canonical time-rollup."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.where(F.date_trunc("year", "o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        .groupBy(
            F.year("o_orderdate").alias("order_year"),
            F.month("o_orderdate").alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
    )


@query(
    "string_agg_per_group",
    oracle="""
    SELECT n_regionkey,
           string_agg(n_name, ';' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
    tags=("tier1", "agg", "functions"),
)
def string_agg_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21: ordered string aggregation (LISTAGG) — sorted collect_list
    joined with a separator; sort_array makes the concat deterministic
    (collect_list order is not, SURVEY §4.3.2)."""
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.concat_ws(";", F.sort_array(F.collect_list("n_name"))).alias("nations")
    )


@query(
    "text_normalize",
    oracle="""
    SELECT p_partkey,
           trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g')) AS norm_name
    FROM part WHERE p_partkey < 300
    """,
    tags=("tier1", "functions", "text"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21/O-24: the standard text-normalization chain (lowercase, strip
    non-alphanumerics, squeeze whitespace, trim) — the preprocessing step
    in front of every dedup/tokenize pass, as pure codegen expressions."""
    p = load_table(spark, sf_dir, "part")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("p_name")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    return p.where(F.col("p_partkey") < 300).select("p_partkey", norm.alias("norm_name"))


@query(
    "window_distribution",
    oracle="""
    SELECT c_custkey,
           ntile(4)       OVER w AS quartile,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume
    FROM customer
    WHERE c_custkey <= 400
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
    tags=("tier1", "window"),
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18: distribution window functions — ntile / percent_rank /
    cume_dist over a global ordering (unique tiebreak keeps every rank
    deterministic) — computed WITHOUT a single-task global window.

    `ntile/percent_rank/cume_dist OVER (ORDER BY ...)` in the literal form
    funnels the whole relation through ONE task (WindowExec warns, and at
    100 TB it simply dies). But all three are pure functions of the global
    row number r and the total count n once the ordering is unique:
    percent_rank = (r-1)/(n-1), cume_dist = r/n, and ntile(k) follows the
    first-(n mod k)-buckets-get-one-extra rule. `distributed_row_number`
    (operators/windows.py) supplies r via the two-phase range-bucket +
    driver-offset pattern, fully parallel; n falls out of its offset pass.
    The arithmetic below matches SQL semantics literal-for-literal, so the
    DuckDB window-function oracle stays bit-exact."""
    from mapreduce__spark.operators.windows import distributed_row_number, ntile_expr

    c = load_table(spark, sf_dir, "customer")
    filtered = c.where(F.col("c_custkey") <= 400).select("c_custkey", "c_acctbal")
    numbered, n = distributed_row_number(filtered, ["c_acctbal", "c_custkey"])
    rn = F.col("rn")
    denom = F.lit(max(n - 1, 1))  # n==1 => percent_rank is defined as 0
    return numbered.select(
        "c_custkey",
        ntile_expr(rn, n, 4).cast("int").alias("quartile"),
        F.round((rn - 1).cast("double") / denom, 6).alias("pct_rank"),
        F.round(rn.cast("double") / F.lit(n), 6).alias("cume"),
    )


@query(
    "date_arithmetic",
    oracle="""
    SELECT o_orderkey,
           datediff('day', o_orderdate, TIMESTAMP '2000-01-01') AS days_to_y2k,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           dayofweek(o_orderdate) + 1 AS dow
    FROM orders WHERE o_orderkey < 1000
    """,
    tags=("tier1", "functions"),
)
def date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (dates, arithmetic): datediff / interval add / day-of-week.
    Dialect note pinned by the oracle: Spark's dayofweek is 1-based
    Sunday, DuckDB's 0-based — the SQL side carries the +1."""
    o = load_table(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") < 1000).select(
        "o_orderkey",
        F.datediff(F.lit("2000-01-01").cast("timestamp"), F.col("o_orderdate")).alias(
            "days_to_y2k"
        ),
        # interval add, NOT date_add: date_add truncates any time-of-day
        # to midnight, which matches the oracle's `+ INTERVAL 30 DAY`
        # only while the fixture's timestamps happen to be midnight-only.
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.dayofweek("o_orderdate").alias("dow"),
    )


@query(
    "json_extraction",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k')            AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events
    WHERE event_type = 'error'
    """,
    tags=("tier1", "functions"),
)
def json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (semi-structured): JSON path extraction from events.props —
    string and numeric forms (get_json_object stays JVM-side)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.where(F.col("event_type") == "error").select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_num"),
    )


@query(
    "pivot_agg",
    oracle="""
    SELECT user_id % 10 AS user_bucket,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'view')     AS view,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'error')    AS error
    FROM events
    GROUP BY 1
    """,
    tags=("tier1", "agg"),
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-20 family: pivot (one column per key value). Explicit value list
    keeps the schema static — a discovery pivot would need an extra
    distinct pass and produce a data-dependent schema (never do that in a
    production pipeline). Missing combinations coalesce to 0 to match SQL
    FILTER-count semantics."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy((F.col("user_id") % 10).alias("user_bucket"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_bucket", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


_SQL_SURFACE = """
    WITH cust_max AS (
        SELECT o_custkey, max(o_totalprice) AS mx
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey, c.c_name, t.n_top
    FROM customer c
    JOIN (
        SELECT o.o_custkey, count(*) AS n_top
        FROM orders o JOIN cust_max m ON o.o_custkey = m.o_custkey
        WHERE o.o_totalprice > 0.9 * m.mx
        GROUP BY o.o_custkey
    ) t ON c.c_custkey = t.o_custkey
    WHERE EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey
                    AND o2.o_orderpriority = '1-URGENT')
"""


@query("sql_cte_exists", oracle=_SQL_SURFACE, tags=("tier1", "sql"))
def sql_cte_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL entry surface: the SAME ANSI text runs through spark.sql
    over registered temp views and through the DuckDB oracle — CTE,
    derived-table join, and a correlated EXISTS in one statement."""
    for t in ("customer", "orders"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_SURFACE)


@query(
    "json_typed_struct",
    oracle="""
    SELECT json_extract_string(props, '$.k')::BIGINT % 10 AS k_bucket,
           count(*) AS n,
           CAST(sum(json_extract_string(props, '$.k')::BIGINT) AS BIGINT) AS sum_k
    FROM events
    GROUP BY 1
    """,
    tags=("tier1", "functions"),
)
def json_typed_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21/O-25 (semi-structured, typed): from_json parses props into a
    typed struct ONCE, then downstream expressions use struct fields —
    the right pattern when several fields are extracted (one parse,
    not one get_json_object scan per field)."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(F.from_json("props", "k bigint").alias("p"))
    return (
        parsed.groupBy((F.col("p.k") % 10).alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.k").alias("sum_k"))
    )


@query(
    "merge_upsert",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_totalprice, o_orderstatus
        FROM orders WHERE o_orderkey % 10 != 0
    ), changes AS (
        SELECT o_orderkey,
               o_totalprice + 100.0 AS new_price,
               CASE WHEN o_orderkey % 9 = 0 THEN 'D' ELSE 'U' END AS op
        FROM orders WHERE o_orderkey % 3 = 0
    )
    SELECT b.o_orderkey, b.o_totalprice AS price, b.o_orderstatus AS status,
           'kept' AS action
    FROM base b ANTI JOIN changes c ON b.o_orderkey = c.o_orderkey
    UNION ALL
    SELECT c.o_orderkey, c.new_price AS price,
           coalesce(b.o_orderstatus, 'N') AS status,
           CASE WHEN b.o_orderkey IS NULL THEN 'inserted' ELSE 'updated' END
             AS action
    FROM changes c LEFT JOIN base b ON c.o_orderkey = b.o_orderkey
    WHERE c.op != 'D'
    """,
    tags=("tier1", "join", "cdc"),
)
def merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (the CDC apply step) on plain DataFrames — no
    table format required: a change batch (update / insert / delete ops
    keyed by o_orderkey, derived deterministically from orders so the
    oracle can rebuild it) applied to a base snapshot:

    * base rows untouched by any change -> kept (anti join on the key);
    * 'U' changes -> upserted (left join back to base decides
      updated-vs-inserted and carries forward unchanged columns);
    * 'D' changes -> dropped (filtered before the union).

    Scale shape: two key-equi-joins on the same uniform key (one anti,
    one left) + a union — each side shuffles once on o_orderkey; at
    warehouse scale both joins share the partitioning, and a real
    deployment sorts/buckets the base snapshot by key so only the delta
    shuffles. This is the engine-level core that Delta/Iceberg MERGE
    compiles to."""
    o = load_table(spark, sf_dir, "orders")
    base = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    changes = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 100.0).alias("new_price"),
        F.when(F.col("o_orderkey") % 9 == 0, "D").otherwise("U").alias("op"),
    )
    kept = base.join(changes, "o_orderkey", "left_anti").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
        F.lit("kept").alias("action"),
    )
    # Matched-ness comes from an explicit marker, NOT from a payload
    # column's null-ness: the oracle tests the JOIN KEY (b.o_orderkey IS
    # NULL), and a base row with a legitimately-NULL o_orderstatus would
    # otherwise diverge from it (labelled inserted here, updated there).
    applied = (
        changes.where(F.col("op") != "D")
        .join(base.withColumn("_matched", F.lit(1)), "o_orderkey", "left")
        .select(
            "o_orderkey",
            F.col("new_price").alias("price"),
            F.coalesce(F.col("o_orderstatus"), F.lit("N")).alias("status"),
            F.when(F.col("_matched").isNull(), "inserted")
            .otherwise("updated")
            .alias("action"),
        )
    )
    return kept.unionAll(applied)


@query(
    "scd2_intervals",
    oracle="""
    SELECT user_id, event_type AS state, ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS valid_to,
           CASE WHEN lead(ts) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM events
    """,
    tags=("tier1", "window", "cdc"),
)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 history build: each per-user event
    becomes a [valid_from, valid_to) validity interval via one lead()
    window, open-ended (is_current) on the latest row — the standard
    dimension-history reconstruction, one window over the uniform user
    key and nothing else."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )


def _cdc_snapshots(spark: SparkSession, sf_dir: str):
    """The deterministic old/new snapshot pair both CDC-derivation
    queries diff (snapshot_diff_cdc and incremental_agg_cdc): `new`
    drops different rows than `old` (deletes + inserts) and shifts
    price by o_orderkey % 5, so % 5 == 0 keys are present in both with
    IDENTICAL payloads and must emit no change row."""
    o = load_table(spark, sf_dir, "orders")
    old = o.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    new = o.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + F.col("o_orderkey") % 5).alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    return old, new


@query(
    "snapshot_diff_cdc",
    oracle="""
    WITH old AS (
        SELECT o_orderkey, o_totalprice AS price, o_orderstatus AS status
        FROM orders WHERE o_orderkey % 10 != 0
    ), new AS (
        SELECT o_orderkey, o_totalprice + (o_orderkey % 5) AS price,
               o_orderstatus AS status
        FROM orders WHERE o_orderkey % 7 != 0
    )
    SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN n.o_orderkey IS NULL THEN 'D' ELSE 'U' END AS op,
           n.price AS price, n.status AS status
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.price  IS DISTINCT FROM n.price
       OR o.status IS DISTINCT FROM n.status
    """,
    tags=("tier1", "join", "cdc"),
)
def snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reverse CDC — derive the net change feed between two table
    snapshots (the nightly-full-dump ingestion problem: the source gives
    you only states, you need the delta). Two deterministic snapshot
    views of orders: `new` drops different rows than `old` (deletes +
    inserts) and shifts price by o_orderkey % 5 — so keys with % 5 == 0
    are present in both with IDENTICAL payloads and must emit NO row
    (the minimality half of the contract a naive join-everything
    misses). apply_changes(old, result, key) == new is property-tested
    as the operator's round-trip law."""
    from mapreduce__spark.operators.cdc import snapshot_diff

    old, new = _cdc_snapshots(spark, sf_dir)
    return snapshot_diff(old, new, "o_orderkey")


@query(
    "incremental_agg_cdc",
    oracle="""
    SELECT o_orderstatus AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(o_totalprice + (o_orderkey % 5)
                               AS DECIMAL(18,2))) AS DOUBLE), 2)
             AS total_price
    FROM orders WHERE o_orderkey % 7 != 0
    GROUP BY o_orderstatus
    """,
    tags=("tier1", "agg", "cdc"),
)
def incremental_agg_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for distributive aggregates: the
    per-status count/sum over the NEW snapshot is produced WITHOUT ever
    aggregating the new snapshot — the old aggregate is patched with
    ±contributions derived from a pre/post-image change feed
    (snapshot_diff(include_preimage=True) over the same old/new pair as
    snapshot_diff_cdc). Post-images contribute +1/+price to their
    group, pre-images −1/−price to THEIRS (a row whose group changed
    moves between groups through one −/+ pair); groups patched to zero
    rows drop out. The oracle is the full recompute over the new
    snapshot — so the driver differentially checks the INCREMENTAL path
    against the DIRECT one, a structurally non-mirrored comparison.
    Sums accumulate in DECIMAL(18,2) (exact, order-independent) so
    incremental == direct to the bit, the registry's decimal-sum idiom.

    SCALE: this is why change feeds exist — the maintained aggregate is
    updated by scanning only the delta (one narrow groupBy of the
    change rows + a #groups-row outer merge), while the 100 TB full
    rescan the oracle performs here stays a correctness check. The old
    aggregate and the delta are both #groups rows; the merge is a
    broadcast-size full-outer join.

    `old` feeds two consumers (the baseline aggregate AND the diff), so
    it is materialized once rather than letting Catalyst re-plan a
    second full orders scan (the round-7 scan-audit pattern). The
    materialization is an artifact of SYNTHESIZING snapshots from one
    fixture table: a real IVM consumer reads old/new as already-stored
    tables, each scanned exactly once by nature. The IVM core —
    including the NULL-SAFE group merge a fixtures-only view would
    never exercise — lives in operators/cdc.incremental_group_stats,
    hypothesis-tested against a direct recompute on random snapshots
    with NULL groups/keys/values."""
    from mapreduce__spark.operators.cdc import incremental_group_stats

    old, new = _cdc_snapshots(spark, sf_dir)
    old = old.localCheckpoint(eager=True)
    stats = incremental_group_stats(old, new, "o_orderkey", "status", "price")
    return stats.select(
        "status",
        F.col("n_rows").alias("n_orders"),
        F.round(F.col("sum_value").cast("double"), 2).alias("total_price"),
    )


def _custkey_suppkey_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (custkey, suppkey) bipartite edge list from orders ⋈
    lineitem — shared by both mass-propagation queries. The caller
    (propagate_mass) materializes it once; Catalyst would otherwise
    re-run the most expensive join per degree/superstep consumer."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )


@query(
    "graph_mass_propagation",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), degc AS (
        SELECT c, count(*) AS d FROM edges GROUP BY c
    ), m1 AS (
        SELECT e.s, CAST(sum(1000000 // degc.d) AS BIGINT) AS mass
        FROM edges e JOIN degc ON e.c = degc.c
        GROUP BY e.s
    ), degs AS (
        SELECT s, count(*) AS d FROM edges GROUP BY s
    ), m2 AS (
        SELECT e.c, CAST(sum(m1.mass // degs.d) AS BIGINT) AS mass
        FROM edges e JOIN m1 ON e.s = m1.s JOIN degs ON e.s = degs.s
        GROUP BY e.c
    )
    SELECT c AS custkey, mass FROM m2
    ORDER BY mass DESC, custkey ASC LIMIT 25
    """,
    tags=("tier1", "graph"),
)
def graph_mass_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank's propagation step (k=2 supersteps via the parameterized
    propagate_mass loop) over the customer-supplier bipartite graph
    (distinct (custkey, suppkey) edges from orders ⋈ lineitem): every
    customer starts with integer mass 1e6, splits it by integer division
    across its suppliers, and the suppliers split what they receive back
    across their customers — top-25 customers by returned mass (the
    two-hop influence score).

    Integer mass div degree is the whole trick for verifiability: float
    PageRank sums contributions in nondeterministic order, so a bit-exact
    cross-engine hash would be luck; integer sums are order-independent
    and the div truncation is defined identically in both engines.

    Scale shape: the edge list is checkpointed once and probed under
    MASS_DRIVER_MAX_EDGES; a graph under the bound (bench scale, sf0.1)
    runs both supersteps as NumPy segment sums on the driver, so the
    upstream join and the probe are the whole query's Spark work.
    Larger graphs run the Pregel message-passing shape on the same
    checkpoint: degree columns attached once, the first superstep folds
    the uniform initial mass as a literal (no join), each later
    superstep is static edges ⋈ shrinking masses (uniform keys) + one
    partial-agged groupBy, with localCheckpoint lineage truncation every
    few supersteps (see operators/graph.py propagate_mass)."""
    from mapreduce__spark.operators.graph import propagate_mass

    m = propagate_mass(_custkey_suppkey_edges(spark, sf_dir), k=2)
    return (
        m.select(F.col("c").alias("custkey"), F.col("mass").cast("bigint"))
        .orderBy(F.col("mass").desc(), F.col("custkey").asc())
        .limit(25)
    )


@query(
    "graph_mass_propagation_k4",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS s
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ), degc AS (
        SELECT c, count(*) AS d FROM edges GROUP BY c
    ), degs AS (
        SELECT s, count(*) AS d FROM edges GROUP BY s
    ), m1 AS (
        SELECT e.s, CAST(sum(1000000 // degc.d) AS BIGINT) AS mass
        FROM edges e JOIN degc ON e.c = degc.c
        GROUP BY e.s
    ), m2 AS (
        SELECT e.c, CAST(sum(m1.mass // degs.d) AS BIGINT) AS mass
        FROM edges e JOIN m1 ON e.s = m1.s JOIN degs ON e.s = degs.s
        GROUP BY e.c
    ), m3 AS (
        SELECT e.s, CAST(sum(m2.mass // degc.d) AS BIGINT) AS mass
        FROM edges e JOIN m2 ON e.c = m2.c JOIN degc ON e.c = degc.c
        GROUP BY e.s
    ), m4 AS (
        SELECT e.c, CAST(sum(m3.mass // degs.d) AS BIGINT) AS mass
        FROM edges e JOIN m3 ON e.s = m3.s JOIN degs ON e.s = degs.s
        GROUP BY e.c
    )
    SELECT c AS custkey, mass FROM m4
    ORDER BY mass DESC, custkey ASC LIMIT 25
    """,
    tags=("tier1", "graph"),
)
def graph_mass_propagation_k4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four supersteps of the same integer mass propagation
    (operators/graph.py propagate_mass). The oracle unrolls all four
    supersteps in SQL with the same integer algebra (order-independent
    sums, defined truncation), so any k is bit-exact-checkable. Under
    MASS_DRIVER_MAX_EDGES — every fixture and bench input — the four
    supersteps run on the driver in NumPy, so this query attests the
    driver path at k=4. The distributed loop's CHECKPOINTED iteration
    path (checkpoint_every=2 localCheckpoints mid-run at k>=3) is
    carried by the forced-distributed tests instead:
    tests/test_graph.py runs propagate_mass with the bound at 0 for
    k=1..4 and checkpoint_every 1 and 2, and the oracle suite repeats
    this query with every driver bound at 0."""
    from mapreduce__spark.operators.graph import propagate_mass

    m = propagate_mass(_custkey_suppkey_edges(spark, sf_dir), k=4)
    return (
        m.select(F.col("c").alias("custkey"), F.col("mass").cast("bigint"))
        .orderBy(F.col("mass").desc(), F.col("custkey").asc())
        .limit(25)
    )


@query(
    "graph_triangles",
    oracle="""
    WITH li AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), e AS (
        SELECT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ), deg AS (
        SELECT node, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
        ) GROUP BY node
    ), o AS (
        SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS s,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS t,
               CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dt
        FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v
    ), w AS (
        SELECT a.s AS apex,
               CASE WHEN (a.dt, a.t) < (b.dt, b.t) THEN a.t ELSE b.t END AS cx,
               CASE WHEN (a.dt, a.t) < (b.dt, b.t) THEN b.t ELSE a.t END AS cy
        FROM o a JOIN o b ON a.s = b.s AND a.t < b.t
    ), tri AS (
        SELECT w.apex, w.cx, w.cy FROM w JOIN o ON o.s = w.cx AND o.t = w.cy
    ), n AS (
        SELECT apex AS node FROM tri
        UNION ALL SELECT cx AS node FROM tri
        UNION ALL SELECT cy AS node FROM tri
    )
    SELECT node AS part_key, CAST(count(*) AS BIGINT) AS n_triangles
    FROM n GROUP BY node
    """,
    tags=("tier1", "graph"),
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph (parts
    are adjacent when some order contains both): the local clustering
    signal behind "customers who bought X and Y also bought Z", and the
    classic graph statistic whose naive MapReduce form melts down on hub
    nodes. Degree-ordered orientation (Suri & Vassilvitskii, WWW'11)
    finds each triangle exactly once at its (degree,id)-lowest vertex —
    see operators/graph.py count_triangles for the O(m^{3/2}) work
    bound, the O(sqrt(m)) out-degree bound that makes the round-11
    adjacency-array + array_intersect execution safe per-row, the
    measured A/B vs the former wedge-join form (warm 29.4s -> 10.4s at
    sf0.1), and the NumPy driver path that counts graphs of up to
    TRIANGLES_DRIVER_MAX_EDGES edges (sf0.1's 1.196M included). The oracle unrolls the equivalent wedge-join orientation in
    SQL — exact integer counts, no /3 correction to drift."""
    from mapreduce__spark.operators.graph import count_triangles

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .distinct()
    )
    return count_triangles(edges).select(
        F.col("node").alias("part_key"), "n_triangles"
    )


@query(
    "skyline_pareto",
    oracle="""
    SELECT y.p_partkey, y.p_retailprice, y.p_size
    FROM part y
    WHERE NOT EXISTS (
        SELECT 1 FROM part x
        WHERE x.p_retailprice <= y.p_retailprice
          AND x.p_size <= y.p_size
          AND (x.p_retailprice < y.p_retailprice OR x.p_size < y.p_size)
    )
    """,
    tags=("tier1", "window", "skyline"),
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts minimizing retail price
    AND size: a part survives iff no other part is <= on both
    dimensions and < on at least one. Equal (price, size) twins do not
    dominate each other — both stay (the standard skyline convention).

    Algorithm: the sort-filter skyline, two-phase. Phase 1 prunes
    LOCALLY — rows are hash-bucketed and each bucket keeps only its own
    frontier via one windowed running-min (sorted by (price, size),
    a row survives iff every earlier row in its bucket has strictly
    larger size; on distinct pairs, an earlier row with size <= current
    always dominates). Skylines compose (the global frontier is a
    subset of the union of any partitioning's local frontiers), so
    phase 2 re-runs the identical filter UNpartitioned over the
    surviving sliver. That unpartitioned window is the textbook
    single-task smell — and here it is the design: phase 1 already cut
    the corpus to near-frontier rows (sf0.01: 20k parts -> frontier 4),
    so the global pass sorts thousands of rows, not billions; at 100 TB
    the bucket count scales with the cluster and the merge input stays
    tiny for any non-adversarial distribution. The oracle is the
    NAIVE QUADRATIC dominance anti-join — a genuinely independent
    algorithm, not the same plan replayed in SQL."""
    p = (
        load_table(spark, sf_dir, "part")
        .select("p_partkey", "p_retailprice", "p_size")
        # distinct (price, size) pairs carry the dominance structure;
        # rows join back at the end so twins all survive together
    )
    pairs = p.select("p_retailprice", "p_size").distinct()

    def frontier(df: DataFrame, part_cols: list[str]) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(F.col("p_retailprice").asc(), F.col("p_size").asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        m = F.min("p_size").over(w)
        return df.withColumn("_m", m).where(
            F.col("_m").isNull() | (F.col("_m") > F.col("p_size"))
        )

    local = frontier(
        pairs.withColumn(
            "_b", F.pmod(F.hash("p_retailprice", "p_size"), F.lit(32))
        ),
        ["_b"],
    ).select("p_retailprice", "p_size")
    sky = frontier(local, []).select("p_retailprice", "p_size")
    return p.join(
        F.broadcast(sky), ["p_retailprice", "p_size"]
    ).select("p_partkey", "p_retailprice", "p_size")


@query(
    "heavy_hitters_approx",
    oracle=None,  # approximate by design — containment of TRUE heavy
    # hitters is asserted in tests/test_operators.py
    tags=("tier1", "agg", "sketch", "approx"),
)
def heavy_hitters_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate frequent items over the order-priority stream:
    DataFrame.freqItems (Karp/Misra-Gries-style single-pass summary) at
    support 0.1 — the sketch a 100 TB profiler runs instead of a full
    groupBy when only the heavy tail matters. One narrow scan, constant
    memory per partition, mergeable partials; the guarantee is the
    classic one-sided bound: every value with frequency above the support
    IS in the result (false positives possible, false negatives not) —
    the containment gate pytest asserts."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderpriority")
        .freqItems(["o_orderpriority"], support=0.1)
        .select(
            F.explode("o_orderpriority_freqItems").alias("candidate_heavy_hitter")
        )
    )


@query(
    "json_variant_agg",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT)                                    AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE event_type IN ('error', 'purchase')
    GROUP BY event_type
    """,
    tags=("tier1", "functions"),
)
def json_variant_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-21 (semi-structured, Spark 4 VARIANT path): parse events.props
    once into a VARIANT and aggregate typed extractions from it. VARIANT
    is the scale path for semi-structured columns — the value is parsed
    once into a binary form and every variant_get is a direct typed read,
    where the get_json_object form (json_extraction) re-parses the JSON
    string per extraction; same results, different cost model at 100 TB
    (this query is the agreement proof for the pair). try_variant_get
    would NULL malformed rows; the fixtures are clean so the strict form
    documents the contract."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    k = F.variant_get(v, "$.k", "bigint")
    return (
        ev.where(F.col("event_type").isin("error", "purchase"))
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


KCORE_K = 12  # peel threshold: alive-degree < K removes the node
KCORE_ROUNDS = 5  # unrolled round count (fixtures converge in <= 2)


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled fixed-k peeling in SQL: round r's degree CTE counts only
    neighbors still alive in n_{r-1} (the full adjacency never shrinks —
    aliveness rides the join), removal and survivor CTEs chain R times,
    and a final degree pass supplies the core's residual degrees. A
    converged graph makes the tail rounds identity, matching the Spark
    loop's early exit exactly."""
    parts = [
        """e AS (
          SELECT DISTINCT o.o_custkey AS u, -l.l_suppkey - 1 AS v
          FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )""",
        # MATERIALIZED: every n{r} is referenced three times (twice by
        # the next degree CTE, once by the next EXCEPT) — left to the
        # default inlining the round chain re-expands exponentially
        # (measured 130s at sf0.01; materialized, sub-second)
        "adj AS MATERIALIZED (SELECT u AS a, v AS b FROM e"
        " UNION ALL SELECT v, u FROM e)",
        "n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM adj)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
              SELECT n.node, CAST(count(al.node) AS BIGINT) AS d
              FROM n{r - 1} n
              LEFT JOIN adj ON adj.a = n.node
              LEFT JOIN n{r - 1} al ON al.node = adj.b
              GROUP BY 1)"""
        )
        parts.append(
            f"r{r} AS MATERIALIZED (SELECT node, d FROM d{r} WHERE d < {k})"
        )
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT node FROM n{r - 1} "
            f"EXCEPT SELECT node FROM r{r})"
        )
    parts.append(
        f"""dfin AS (
          SELECT n.node, CAST(count(al.node) AS BIGINT) AS d
          FROM n{rounds} n
          LEFT JOIN adj ON adj.a = n.node
          LEFT JOIN n{rounds} al ON al.node = adj.b
          GROUP BY 1)"""
    )
    unions = "\n      UNION ALL\n".join(
        f"SELECT node, CAST({r} AS BIGINT) AS layer, d AS residual_degree "
        f"FROM r{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT node, layer, residual_degree FROM (
      {unions}
      UNION ALL
      SELECT node, CAST(0 AS BIGINT) AS layer, d AS residual_degree FROM dfin
    )"""
    )


@query(
    "k_core_peel",
    oracle=_kcore_oracle(KCORE_K, KCORE_ROUNDS),
    tags=("tier1", "graph"),
)
def k_core_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-k core peeling over the customer-supplier trading graph
    (customers and suppliers adjacent when some order connects them;
    supplier ids negated into their own key space): iteratively remove
    nodes with alive-degree < {K}, recording each node's peel LAYER —
    the onion-decomposition slice behind influence ranking and
    engagement-core extraction, and the graph-algorithm class (iterative
    VERTEX deletion, data-dependent rounds) that mass propagation
    (static structure) and triangles (one-shot joins) don't cover.

    Both sides run the identical declared semantics — exactly
    KCORE_ROUNDS peel rounds (converged tails are identity; the pytest
    gate asserts the fixtures converge well inside the unroll) — the
    Spark loop via per-round degree aggregate + anti-join shrink with
    checkpointed lineage (operators/graph.py k_core_layers; under
    KCORE_DRIVER_MAX_EDGES edge rows the operator peels on the driver
    in vectorized NumPy, the connected_components hybrid — identical
    rows, tested), the oracle via generated round-chained CTEs whose
    aliveness rides the degree join instead of shrinking the adjacency.
    Output is one row per node: (node, layer, residual_degree),
    layer 0 = the k-core."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (-F.col("l_suppkey") - 1).alias("v"),
        )
        .distinct()
    )
    from mapreduce__spark.operators.graph import k_core_layers

    return k_core_layers(edges, KCORE_K, KCORE_ROUNDS)
