"""Tier-2 event-stream family: windows, sessionization, funnels, time series, stream-fold twins (O-26; split from tier2.py, round 13)."""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mapreduce__spark.plans.registry import query
from mapreduce__spark.sources import load_table

from mapreduce__spark.plans.tier2_shared import *  # noqa: F401,F403


@query(
    "user_path_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
    tags=("tier2", "analytics"),
)
def user_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts over per-user event sequences
    (the funnel/retention sibling: which step follows which, corpus-wide).

    Scale shape: one lag window partitioned by user_id (uniform key), then
    a hash aggregate on the tiny (prev, next) type-pair key space — the
    shuffle after the window moves one row per partition per pair."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        # asc_nulls_last: Spark ASC defaults NULLS FIRST, DuckDB (the
        # oracle) NULLS LAST — a NULL ts would take rank 1 here and
        # rank last there, flipping lag pairs and first-row picks.
        F.col("ts").asc_nulls_last(), "event_id"
    )
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# O-26: event-stream windows (batch-equivalent, oracle-checkable forms)
# --------------------------------------------------------------------------


@query(
    "events_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    tags=("tier2", "streaming"),
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate — identical code shape under
    readStream + withWatermark (see mapreduce__spark.streaming)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


@query(
    "events_rollup_gapfill",
    oracle="""
    WITH agg AS (
        SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
               count(*) AS n, round(sum(value), 2) AS sv
        FROM events GROUP BY 1, 2
    ), span AS (SELECT min(h) AS lo, max(h) AS hi FROM agg),
    hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h FROM span
    ), types AS (SELECT DISTINCT event_type FROM events)
    SELECT hours.h AS window_start, types.event_type,
           coalesce(agg.n, 0) AS n_events,
           coalesce(agg.sv, 0.0) AS sum_value
    FROM hours CROSS JOIN types
    LEFT JOIN agg ON agg.h = hours.h AND agg.event_type = types.event_type
    """,
    tags=("tier2", "streaming", "timeseries"),
)
def events_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled rollup: the tumbling 1-hour aggregate
    DENSIFIED so every (hour, event_type) cell in the observed span exists,
    zero-filled where no events landed — what downstream charting /
    anomaly baselines need from a time-series store.

    Scale shape: the dense grid is built WITHOUT a driver collect —
    the span is a 1-row aggregate whose `sequence(lo, hi, 1 hour)`
    explodes into the hour spine, cross-joined with the distinct types
    (both post-agg relations are bounded by hours × types, tiny at any
    corpus size); the hourly aggregate then broadcast-joins onto the
    grid. Events are scanned ONCE — the hourly aggregate is
    materialized (hours × types rows) because it feeds three consumers
    (span, type list, and the grid join); left lazy, each re-plans its
    own full events scan (no exchange reuse across re-aggregations —
    the same triple-scan domain_mixture_weights had). Nothing
    grid-sized ever shuffles."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sv"))
        .select(F.col("w.start").alias("h"), "event_type", "n", "sv")
        .localCheckpoint(eager=True)
    )
    span = agg.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    hours = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "window_start"
        )
    )
    # Types come from the MATERIALIZED aggregate, not a fresh events
    # scan — every observed type appears in agg by construction, and the
    # rename disambiguates the grid's type column from agg's in the join
    # below (dataframe-identity column resolution is an ambiguous
    # self-join trap).
    types = agg.select(F.col("event_type").alias("grid_type")).distinct()
    grid = hours.crossJoin(types)
    return grid.join(
        F.broadcast(agg),
        (F.col("h") == F.col("window_start")) & (F.col("event_type") == F.col("grid_type")),
        "left",
    ).select(
        "window_start",
        F.col("grid_type").alias("event_type"),
        F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
        F.coalesce(F.col("sv"), F.lit(0.0)).alias("sum_value"),
    )


@query(
    "events_sliding_window",
    oracle="""
    SELECT time_bucket(INTERVAL '30 minutes', ts)
             - i.i * INTERVAL '30 minutes' AS window_start,
           count(*) AS n_events,
           round(round(sum(value), 2) / count(*), 6) AS avg_value
    FROM events CROSS JOIN UNNEST(range(2)) AS i(i)
    GROUP BY 1
    """,
    tags=("tier2", "streaming"),
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 hour, 30-minute slide): each event contributes
    to size/slide = 2 windows; Spark's window() does the row expansion.

    The avg is computed as round(sum,2)/count: an avg of 2-decimal data
    lands exactly on round() ties (sum/10 → x.xx5) where Spark and the
    oracle can round apart, while a 2-decimal sum never sits near a
    boundary — so both engines produce bit-identical doubles."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6).alias("avg_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "avg_value")
    )


@query(
    "sessionization",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts,
               CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM x
    )
    SELECT user_id, session_id, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
    tags=("tier2", "streaming"),
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-minute inactivity gap) via the
    lag → new-session flag → running-sum pattern; the streaming twin is
    session_window() with a watermark (mapreduce__spark.streaming).

    The gap compares epoch MICROSECONDS (same discipline as
    rolling_user_features): unix_timestamp() truncates to whole seconds,
    so a true gap of e.g. 1800.3s whose second-floors differ by exactly
    1800 would split sessions differently from the µs-precise oracle —
    a boundary the testdata happens not to exercise, which is exactly
    when truncation bugs survive. The NTZ→LTZ cast is exact under the
    session's pinned UTC zone."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        # asc_nulls_last: Spark ASC defaults NULLS FIRST, DuckDB (the
        # oracle) NULLS LAST — a NULL ts would take rank 1 here and
        # rank last there, flipping lag pairs and first-row picks.
        F.col("ts").asc_nulls_last(), "event_id"
    )
    ts_us = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    prev_us = F.unix_micros(F.lag("ts").over(w).cast("timestamp_ltz"))
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull() | ((ts_us - prev_us) > 1_800_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new"),
        "event_id",
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("session_id"),
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "funnel_analysis",
    oracle="""
    WITH e AS (
        SELECT * FROM events WHERE event_id % 7 = 0
    ), v AS (
        SELECT user_id, min(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id
    ), staged AS (
        SELECT v.user_id,
               CASE WHEN p.user_id IS NOT NULL THEN 3
                    WHEN c.user_id IS NOT NULL THEN 2
                    ELSE 1 END AS stage
        FROM v LEFT JOIN c ON v.user_id = c.user_id
               LEFT JOIN p ON v.user_id = p.user_id
    )
    SELECT stage, count(*) AS n_users FROM staged GROUP BY stage
    """,
    tags=("tier2", "events", "analytics"),
)
def funnel_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis: users counted by the furthest stage of
    view → click (after the first view) → purchase (after that click)
    they reached, with strict event-time ordering between stages (a click
    BEFORE any view does not advance the funnel — the chained min-ts
    semantics a flat per-type min would get wrong).

    Scale shape (round-7 single-scan rewrite): ONE events scan (type +
    thinning filters pushed down) and ONE user-keyed shuffle — each
    user's per-type timestamps collect into sorted arrays and the
    chained stage mins are pure array expressions (`array_min` over a
    higher-order `filter` capturing the previous stage's min), so the
    funnel logic runs inside whole-stage codegen with no joins at all.
    The pre-rewrite form chained three per-user aggregates through
    user-keyed joins: six scans and four shuffles for the same answer
    (no exchange reuse across re-aggregations). Per-user arrays hold
    that user's OWN events only — the same per-key memory contract as
    grouped_collect_sorted; a pathological bot user is capped upstream
    by per-source/user caps in a real pipeline. (The event_id % 7
    thinning keeps the synthetic stream sparse enough that users
    actually spread across stages — the dense stream saturates everyone
    to stage 3.)"""
    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_id") % 7 == 0)
        & F.col("event_type").isin("view", "click", "purchase")
    )

    def ts_of(kind: str):
        # collect_list drops NULLs, so each array holds exactly that
        # type's timestamps; sort_array makes element 1 the minimum
        return F.sort_array(
            F.collect_list(F.when(F.col("event_type") == kind, F.col("ts")))
        ).alias(kind)

    per_user = ev.groupBy("user_id").agg(ts_of("view"), ts_of("click"), ts_of("purchase"))
    t1 = F.element_at("view", 1)  # NULL when the user never viewed
    t2 = F.array_min(F.filter("click", lambda c: c > t1))
    t3 = F.array_min(F.filter("purchase", lambda p: p > t2))
    staged = per_user.where(F.size("view") > 0).select(
        F.when(t3.isNotNull(), 3).when(t2.isNotNull(), 2).otherwise(1).alias("stage")
    )
    return staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


@query(
    "retention_cohort",
    oracle="""
    WITH first_order AS (
        SELECT o_custkey,
               min(year(o_orderdate) * 12 + month(o_orderdate)) AS cohort_m
        FROM orders GROUP BY o_custkey
    )
    SELECT CAST(f.cohort_m // 12 AS BIGINT) AS cohort_year,
           CAST(f.cohort_m % 12 AS BIGINT) AS cohort_month0,
           CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.cohort_m
                AS BIGINT) AS month_offset,
           count(DISTINCT o.o_custkey) AS n_customers
    FROM orders o JOIN first_order f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2, 3
    """,
    tags=("tier2", "analytics"),
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: customers bucketed by first-order month, counted
    per months-elapsed offset — the standard retention triangle. Month
    arithmetic is integer (year*12+month) on both sides, sidestepping
    months_between/datediff dialect drift.

    Scale shape (round-7 single-scan rewrite): ONE orders scan and ONE
    customer-keyed shuffle — the per-customer first month is a
    min-over-window (the pipeline's exact-dedup idiom), replacing the
    pre-rewrite aggregate-plus-join-back that scanned orders twice and
    shuffled three times for the same answer; then one (cohort, offset)
    count-distinct. All shuffles on uniform keys."""
    from mapreduce__spark.operators.windows import idiv

    o = load_table(spark, sf_dir, "orders")
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    joined = o.select("o_custkey", m.alias("_m")).withColumn(
        "cohort_m", F.min("_m").over(Window.partitionBy("o_custkey"))
    )
    return (
        joined.select(
            idiv(F.col("cohort_m").cast("bigint"), 12).alias("cohort_year"),
            (F.col("cohort_m") % 12).cast("bigint").alias("cohort_month0"),
            (F.col("_m") - F.col("cohort_m")).cast("bigint").alias("month_offset"),
            "o_custkey",
        )
        .groupBy("cohort_year", "cohort_month0", "month_offset")
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query(
    "stateful_dedup_first_event",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id, ts AS first_ts
    FROM (
        SELECT user_id, event_type, event_id, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("tier2", "streaming"),
)
def stateful_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup per (user, event_type) — the deterministic batch
    analogue of streaming dropDuplicatesWithinWatermark."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        # NULLS LAST to match the oracle (see user_path_transitions)
        F.col("ts").asc_nulls_last(), "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("first_event_id"),
            F.col("ts").alias("first_ts"),
        )
    )


@query(
    "stream_interval_join_batch",
    oracle="""
    SELECT p.event_id AS p_id, c.event_id AS c_id,
           p.user_id AS p_user, p.ts AS p_ts, c.ts AS c_ts
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    tags=("tier2", "streaming"),
)
def stream_interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream interval join (purchases matched to
    the same user's clicks within the preceding hour) — and not a
    re-implementation: it calls streaming.stream_stream_interval_join
    itself on batch relations (withWatermark is a no-op in batch), so the
    oracle check attests the EXACT join predicate the readStream form runs
    (streaming/streams.py:209; batch≡stream replay equivalence is pinned
    by tests/test_streaming.py::test_stream_stream_interval_join_equals_batch).

    Scale shape: an equi-join on user_id with the time interval as a
    post-join filter; streaming bounds state by watermark + interval,
    batch shuffles both sides on the uniform user key."""
    from mapreduce__spark.streaming.streams import stream_stream_interval_join

    ev = load_table(spark, sf_dir, "events")
    return stream_stream_interval_join(
        ev.where(F.col("event_type") == "purchase"),
        ev.where(F.col("event_type") == "click"),
    )


@query(
    "global_row_number",
    oracle="""
    SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rn
    FROM documents
    """,
    tags=("tier2", "window", "pipeline"),
)
def global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering WITHOUT a single-task global window: the
    distributed cumsum of 1s (operators/windows.py) — count form of the
    two-phase offset pattern. The idiom behind stable example ids in
    training-data exports (monotonically_increasing_id is partition-
    layout-dependent and non-contiguous; this is neither)."""
    from mapreduce__spark.operators.windows import distributed_cumsum, idiv

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    numbered = distributed_cumsum(
        docs.withColumn("_one", F.lit(1).cast("bigint")), "doc_id", "_one", "rn"
    )
    return numbered.select("doc_id", F.col("rn").cast("bigint").alias("rn"))


@query(
    "rolling_user_features",
    oracle="""
    SELECT event_id, user_id, ts,
           count(*) OVER w AS n_prev_1h,
           round(sum(value) OVER w, 2) AS sum_prev_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW)
    """,
    tags=("tier2", "window", "timeseries"),
)
def rolling_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18 (range frames): trailing 1-hour per-user activity features —
    the feature-engineering window for event streams. Spark's rangeBetween
    needs a numeric ordering key; it runs over epoch MICROSECONDS — a
    second-truncated key shifts events near the exact 1-hour boundary in
    or out of the frame relative to the µs-precise INTERVAL semantics
    (caught by the sf0.1 oracle gate)."""
    ev = load_table(spark, sf_dir, "events")
    # unix_micros rejects TIMESTAMP_NTZ (how parquet timestamp[us] without
    # a zone arrives under inferTimestampNTZ); with the session pinned to
    # UTC the NTZ->LTZ cast is an exact monotone mapping, and it is a
    # no-op when the column is already zoned.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp_ltz")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_prev_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_prev_1h"),
    )


@query(
    "asof_nearest_events",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
         j AS (
           SELECT p.event_id, p.user_id, p.ts,
                  min(CASE WHEN c.click_ts IS NULL THEN NULL
                      ELSE struct_pack(
                        ad := abs(epoch_us(p.ts) - epoch_us(c.click_ts)),
                        fwd := CASE WHEN c.click_ts <= p.ts THEN 0 ELSE 1 END,
                        cts := c.click_ts, cid := c.click_id)
                      END) AS pick
           FROM p LEFT JOIN c ON p.user_id = c.user_id
           GROUP BY p.event_id, p.user_id, p.ts
         )
    SELECT event_id, user_id, ts,
           pick.cid AS click_id, pick.cts AS click_ts
    FROM j
    """,
    tags=("tier2", "join", "timeseries"),
)
def asof_nearest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-match as-of join (pandas merge_asof direction='nearest'):
    each purchase gets the user's click CLOSEST in time — before or
    after — with |delta| ties resolving backward (the earlier click) and
    equal-(user, ts) click ties to the max click_id, the same dedup
    convention asof_join_events pins. Runs operators/asof.py's
    asof_join_nearest: ONE shuffle on the key, the ascending carry pass
    for the latest click at-or-before and a descending pass over the
    same partition for the earliest click at-or-after, then a scan-stage
    integer-microsecond distance pick — no range explosion at any key
    cardinality. The oracle is deliberately the OTHER formulation: a
    per-key quadratic argmin over struct_pack(|delta|, direction, ...)
    lexicographic min (affordable at oracle scale), so the two sides
    share no plan shape."""
    from mapreduce__spark.operators.asof import asof_join_nearest

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    return asof_join_nearest(
        purchases.withColumn("_j_ts", F.col("ts")),
        clicks.withColumn("_j_ts", F.col("click_ts")),
        on=["user_id"],
        ts="_j_ts",
        right_cols=["click_id", "click_ts"],
    ).select("event_id", "user_id", "ts", "click_id", "click_ts")


@query(
    "asof_join_events",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts AS click_ts, max(event_id) AS click_id
               FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, p.ts, c.click_id, c.click_ts
    FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
    tags=("tier2", "join", "timeseries"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent click at or
    before it (union + carry-forward window — one shuffle, no range
    explosion; see operators/asof.py). Oracle is DuckDB's native ASOF.

    Equal-(user_id, ts) click ties resolve to the MAX click_id on both
    sides: `tiebreak="click_id"` here, a pre-dedup `max(event_id)` per
    (user_id, ts) in the oracle — DuckDB ASOF picks an arbitrary tied row
    otherwise, which would flake the value-hash comparison."""
    from mapreduce__spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    return asof_join(
        purchases.withColumn("_j_ts", F.col("ts")),
        clicks.withColumn("_j_ts", F.col("click_ts")),
        on=["user_id"],
        ts="_j_ts",
        right_cols=["click_id", "click_ts"],
        tiebreak="click_id",
    ).select("event_id", "user_id", "ts", "click_id", "click_ts")


EWMA_N = 32  # events per user in the smoothing window (newest-first)


@query(
    "events_ewma",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS vc,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ),
    recent AS (
      SELECT user_id, vc, rn,
             max(rn) OVER (PARTITION BY user_id) AS m
      FROM (SELECT * FROM ranked WHERE rn <= {EWMA_N})
    )
    SELECT user_id,
           CAST(max(m) AS BIGINT) AS n_events,
           sum(CASE WHEN rn < m THEN CAST(pow(2, m - 1 - rn) AS BIGINT)
                    ELSE 1 END * vc)
             / (100.0 * pow(2, max(m) - 1)) AS ewma_value
    FROM recent
    GROUP BY user_id
    """,
    tags=("tier2", "streaming", "timeseries"),
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average of event values
    (alpha = 0.5, newest-first over the user's last EWMA_N events,
    initialized at the oldest value in the window) — the smoothing /
    anomaly-baseline primitive a time-series store pairs with the
    gap-filled rollup.

    Determinism is the interesting part: EWMA is a float recurrence, and
    naive pow-and-sum would make cross-engine equality libm luck. With
    alpha = 0.5 every weight is a POWER OF TWO, so the whole recurrence
    is computed in EXACT integer arithmetic — values to cents (the
    fixtures are 2-decimal), weights 2^(m-1-rn) as exact BIGINTs, one
    integer dot product (bounded: 2^31 x max-cents x 32 << 2^63) — and
    floats appear only in the final division of two bit-identical
    integers (the graph_mass_propagation integer trick applied to
    smoothing). The window cap both bounds the weights and matches
    practice (an anomaly baseline over the recent tail).

    SCALE: one hash-partitioned window per user (same shape as
    sessionization), then a per-user aggregate; nothing global, no
    driver participation."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    ranked = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("bigint").alias("vc"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= EWMA_N)
    )
    recent = ranked.withColumn(
        "m", F.max("rn").over(Window.partitionBy("user_id"))
    )
    weight = F.when(
        F.col("rn") < F.col("m"),
        F.pow(F.lit(2.0), F.col("m") - 1 - F.col("rn")).cast("bigint"),
    ).otherwise(F.lit(1).cast("bigint"))
    return recent.groupBy("user_id").agg(
        F.max("m").cast("bigint").alias("n_events"),
        # NO round(): the dot product and the 100·2^(m-1) denominator are
        # both exact, so the single division is correctly rounded to the
        # same double on every engine — while round(·, 6) would REINTRODUCE
        # a cross-engine hazard at exact half-ties (hypothesis found
        # S/2^(m-1) = 0.09375 cents: Spark HALF_UPs the shortest decimal
        # to 0.000938, binary-value rounding gives 0.000937).
        (
            F.sum(weight * F.col("vc"))
            / (F.lit(100.0) * F.pow(F.lit(2.0), F.max("m") - 1))
        ).alias("ewma_value"),
    )


@query(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, v.t1, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.t1
      GROUP BY 1, 2
    ),
    p AS (
      SELECT e.user_id, c.t1, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.t2
      GROUP BY 1, 2
    )
    SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS users,
           CAST(0 AS BIGINT) AS sum_elapsed_us
    FROM v
    UNION ALL
    SELECT '2_click', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(epoch_us(t2) - epoch_us(t1)), 0) AS BIGINT)
    FROM c
    UNION ALL
    SELECT '3_purchase', CAST(count(*) AS BIGINT),
           CAST(coalesce(sum(epoch_us(t3) - epoch_us(t1)), 0) AS BIGINT)
    FROM p
    """,
    tags=("tier2", "events"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (round 12) — the product-analytics
    staple the window/sessionization family does not cover: per user,
    the first 'view', then the first 'click' strictly AFTER it, then
    the first 'purchase' strictly after THAT (order matters — a
    purchase before the click does not convert). Emits per stage the
    reached-user count and the exact total view-to-stage latency in
    MICROSECONDS (unix_micros over the sessionization-precedent
    timestamp_ltz cast vs DuckDB epoch_us — integer-exact; the constant
    session-timezone offset cancels in the difference, and the ns->us
    truncation is shared by the loaders). SCALE: three
    filtered per-user min-aggregates chained by equi-joins on user_id —
    each stage's relation only SHRINKS, AQE broadcasts the later
    stages; no window over the raw event stream, nothing quadratic.
    Reference parity: tier-2 events extension (SURVEY §2b O-18
    family)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") > F.col("t1"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t2"))
        .groupBy("user_id", "t1")
        .agg(F.min("ts").alias("t3"))
    )
    s1 = v.agg(
        F.count(F.lit(1)).alias("users"),
    ).select(
        F.lit("1_view").alias("stage"),
        "users",
        F.lit(0).cast("bigint").alias("sum_elapsed_us"),
    )
    s2 = c.agg(
        F.count(F.lit(1)).alias("users"),
        F.coalesce(
            F.sum(
                F.unix_micros(F.col("t2").cast("timestamp_ltz"))
                - F.unix_micros(F.col("t1").cast("timestamp_ltz"))
            ),
            F.lit(0),
        ).alias("sum_elapsed_us"),
    ).select(F.lit("2_click").alias("stage"), "users", "sum_elapsed_us")
    s3 = p.agg(
        F.count(F.lit(1)).alias("users"),
        F.coalesce(
            F.sum(
                F.unix_micros(F.col("t3").cast("timestamp_ltz"))
                - F.unix_micros(F.col("t1").cast("timestamp_ltz"))
            ),
            F.lit(0),
        ).alias("sum_elapsed_us"),
    ).select(F.lit("3_purchase").alias("stage"), "users", "sum_elapsed_us")
    return s1.unionByName(s2).unionByName(s3)


@query(
    "seasonal_decompose",
    oracle="""
    WITH agg AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS h, count(*) AS n
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM agg),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL '1 hour')) AS h
      FROM span
    ),
    series AS (
      SELECT spine.h, COALESCE(agg.n, 0) AS n
      FROM spine LEFT JOIN agg USING (h)
    ),
    tr AS (
      SELECT h, n,
             CASE WHEN lag(n, 12) OVER w IS NOT NULL
                       AND lead(n, 12) OVER w IS NOT NULL
                  THEN 2 * sum(n) OVER (ORDER BY h ROWS BETWEEN 11
                                        PRECEDING AND 11 FOLLOWING)
                       + lag(n, 12) OVER w + lead(n, 12) OVER w
             END AS trend_x48
      FROM series WINDOW w AS (ORDER BY h)
    ),
    det AS (
      SELECT h, n, trend_x48,
             CASE WHEN trend_x48 IS NOT NULL
                  THEN 48 * n - trend_x48 END AS det_x48,
             EXTRACT(hour FROM h) AS hod
      FROM tr
    ),
    seas AS (
      SELECT hod, CAST(sum(det_x48) AS BIGINT) AS seas_sum_x48,
             CAST(count(*) AS BIGINT) AS seas_n
      FROM det WHERE det_x48 IS NOT NULL GROUP BY hod
    )
    SELECT det.h AS window_start, CAST(n AS BIGINT) AS n_events,
           CAST(trend_x48 AS BIGINT) AS trend_x48,
           CAST(det_x48 AS BIGINT) AS det_x48,
           CAST(det.hod AS BIGINT) AS hod,
           seas.seas_sum_x48, seas.seas_n
    FROM det LEFT JOIN seas ON det.hod = seas.hod
    """,
    tags=("tier2", "timeseries"),
)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly event
    series, exact-integer throughout: the centered 2x24 moving-average
    trend (the textbook even-period form) is emitted x48 so the
    half-weights at the +/-12 endpoints stay integers; detrended values
    are 48*s - trend_x48; the daily seasonal profile ships as exact
    per-hour-of-day (sum, count) evidence rather than a rounded mean.
    Gap hours are zero-filled on the spine first (the gapfill shape) so
    the moving window sees the true calendar. Trend is NULL within 12
    hours of either edge — exactly where the centered window would be
    partial. SCALE: events are scanned once into the hourly aggregate;
    everything after operates on the BOUNDED hour spine (span-sized,
    corpus-independent) — which is also why the single ordered window
    below is exempt from the partition-less-window lint (documented
    there as entry #2). The oracle replays the identical decomposition
    through DuckDB's window machinery."""
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n0"))
        .select(F.col("w.start").alias("window_start"), "n0")
        .localCheckpoint(eager=True)  # feeds span + spine join
    )
    span = agg.agg(
        F.min("window_start").alias("lo"), F.max("window_start").alias("hi")
    )
    spine = span.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias(
            "window_start"
        )
    )
    series = spine.join(F.broadcast(agg), "window_start", "left").select(
        "window_start", F.coalesce("n0", F.lit(0)).alias("n")
    )
    # bounded relation: the hour spine (span-sized, post-aggregation) —
    # lint exemption documented in tests/test_zorder.py
    w = Window.orderBy("window_start")
    lag12 = F.lag("n", 12).over(w)
    lead12 = F.lead("n", 12).over(w)
    trend = F.when(
        lag12.isNotNull() & lead12.isNotNull(),
        2 * F.sum("n").over(w.rowsBetween(-11, 11)) + lag12 + lead12,
    )
    det = series.withColumn("trend_x48", trend.cast("bigint")).withColumn(
        "det_x48", (48 * F.col("n") - F.col("trend_x48")).cast("bigint")
    ).withColumn("hod", F.hour("window_start").cast("bigint"))
    seas = (
        det.filter(F.col("det_x48").isNotNull())
        .groupBy("hod")
        .agg(
            F.sum("det_x48").alias("seas_sum_x48"),
            F.count(F.lit(1)).alias("seas_n"),
        )
    )
    return det.join(F.broadcast(seas), "hod", "left").select(
        "window_start",
        F.col("n").cast("bigint").alias("n_events"),
        "trend_x48", "det_x48", "hod", "seas_sum_x48", "seas_n",
    )


@query(
    "source_drift_chi2",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_ref,
             CAST(count(*) FILTER (WHERE doc_id % 2 = 1) AS BIGINT) AS n_cur
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
             CAST(sum(n_cur) AS BIGINT) AS tc
      FROM s
    )
    SELECT source, n_ref, n_cur,
           CASE WHEN n_ref > 0 AND tc > 0
                THEN CAST(CAST(n_ref AS HUGEINT) * tc AS DOUBLE)
                     / CAST(tr AS DOUBLE) END AS expected_cur,
           CASE WHEN n_ref > 0 AND tc > 0
                THEN (n_cur - CAST(CAST(n_ref AS HUGEINT) * tc AS DOUBLE)
                              / CAST(tr AS DOUBLE))
                     * (n_cur - CAST(CAST(n_ref AS HUGEINT) * tc AS DOUBLE)
                                / CAST(tr AS DOUBLE))
                     / (CAST(CAST(n_ref AS HUGEINT) * tc AS DOUBLE)
                        / CAST(tr AS DOUBLE)) END AS chi2_contrib,
           CAST(n_ref = 0 AS BIGINT) AS is_new,
           CAST(n_cur = 0 AS BIGINT) AS is_gone
    FROM s, t
    """,
    tags=("tier2", "monitoring", "agg"),
)
def source_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus drift monitor: per-source chi-square contribution between
    a reference and a current snapshot of the corpus (the fixture's two
    deterministic doc_id-parity halves stand in for yesterday/today) —
    the distribution-shift alarm every continuously-crawled training
    pipeline runs before retraining. expected_cur scales the reference
    count to the current total; the contribution (o−e)²/e flags the
    sources driving the shift; is_new / is_gone flag sources that only
    one snapshot has (their contribution is NULL on both engines via
    the same guarded CASE — never a division by a zero expectation).

    Bit-exactness: counts are exact; the one scaling product runs in
    128-bit (DECIMAL(38,0) / HUGEINT — bigint n_ref·tc overflows near
    10^12·10^12), and every double then appears through the identical
    correctly-rounded op sequence, emitted RAW (registry rounding
    rule).

    SCALE: ONE corpus scan — both snapshot counts come from a single
    map-side-combinable conditional aggregate (#sources rows), totals
    from re-aggregating those rows, merged back with a one-row
    broadcast. No second scan, no wide join, no NULL-group hazard (the
    groupBy output is itself the join-free carrier)."""
    docs = load_table(spark, sf_dir, "documents")
    s = (
        docs.groupBy("source")
        .agg(
            F.count(F.when(F.col("doc_id") % 2 == 0, 1))
            .cast("bigint")
            .alias("n_ref"),
            F.count(F.when(F.col("doc_id") % 2 == 1, 1))
            .cast("bigint")
            .alias("n_cur"),
        )
        .localCheckpoint(eager=True)  # #sources rows; feeds totals AND output
    )
    t = s.agg(
        F.sum("n_ref").cast("bigint").alias("tr"),
        F.sum("n_cur").cast("bigint").alias("tc"),
    )
    j = s.crossJoin(F.broadcast(t))
    e = (F.col("n_ref").cast("decimal(38,0)") * F.col("tc")).cast(
        "double"
    ) / F.col("tr").cast("double")
    guard = (F.col("n_ref") > 0) & (F.col("tc") > 0)
    return j.select(
        "source",
        "n_ref",
        "n_cur",
        F.when(guard, e).alias("expected_cur"),
        F.when(
            guard,
            (F.col("n_cur") - e) * (F.col("n_cur") - e) / e,
        ).alias("chi2_contrib"),
        (F.col("n_ref") == 0).cast("bigint").alias("is_new"),
        (F.col("n_cur") == 0).cast("bigint").alias("is_gone"),
    )


CUSUM_H_MULT = 5  # alarm threshold = CUSUM_H_MULT * reference rate k


@query(
    "cusum_drift",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    kk AS (
      SELECT CAST(sum(n_events) // count(*) AS BIGINT) AS k FROM d
    ),
    p AS (
      SELECT day, n_events, k,
             sum(n_events - k) OVER (ORDER BY day) AS pre
      FROM d, kk
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, n_events,
           CAST(pre - least(0, min(pre) OVER (ORDER BY day)) AS BIGINT)
               AS cusum,
           (pre - least(0, min(pre) OVER (ORDER BY day)))
               > {CUSUM_H_MULT} * k AS alarm
    FROM p
    """,
    tags=("tier2", "window", "quality", "changepoint"),
)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM (Page 1954) volume-drift detection over the daily event
    series — the sequential changepoint primitive behind data-quality
    monitors: the one-sided statistic S_i = max(0, S_(i-1) + (x_i - k))
    accumulates excess over the reference rate k = floor(mean daily
    volume) and alarms when it crosses h = {CUSUM_H_MULT}k. Output is the
    full path (day, n_events, cusum, alarm), not just alarms, so the
    statistic itself is hash-checked.

    The recurrence LOOKS inherently sequential, but the classic identity
    S_i = P_i - least(0, min_(j<=i) P_j) (P = running sum of deviations)
    turns it into TWO scans — and scans distribute: this query runs
    distributed_cumsum then the new distributed_cummin, both range-bucket
    two-phase operators (per-bucket window + O(P) driver prefix offsets
    broadcast back as a literal map), so the same plan that handles 30
    days here handles per-minute buckets over years without a one-task
    window. The oracle computes the identity with plain SQL windows —
    an independent formulation on the same exact integers (k is an
    integer floor-division; deviations, prefixes and minima stay in
    int64)."""
    from mapreduce__spark.operators.windows import (
        distributed_cummin,
        distributed_cumsum,
        idiv,
    )

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    kdf = daily.agg(
        idiv(F.sum("n_events"), F.count(F.lit(1))).cast("bigint").alias("k")
    )
    dev = daily.crossJoin(F.broadcast(kdf)).select(
        "day",
        "n_events",
        "k",
        # numeric, unique scan key for the range-bucket operators
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).alias("_dn"),
        (F.col("n_events") - F.col("k")).alias("_dev"),
    )
    p = distributed_cumsum(dev, "_dn", "_dev", out_col="_pre")
    s = distributed_cummin(p, "_dn", "_pre", out_col="_runmin")
    cusum = F.col("_pre") - F.least(F.lit(0).cast("bigint"), F.col("_runmin"))
    return s.select(
        # ISO string, not DATE: the driver mirror reads Spark dates as
        # objects but DuckDB dates as datetime64 — same value, different
        # dtype token — so the one date-keyed output serializes the key
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events",
        cusum.cast("bigint").alias("cusum"),
        (cusum > CUSUM_H_MULT * F.col("k")).alias("alarm"),
    )


@query(
    "vocab_growth",
    oracle="""
    WITH t AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tt AS (
      SELECT doc_id, tok FROM t WHERE tok <> ''
    ), fd AS (
      SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc FROM tt GROUP BY 1
    ), nv AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS new_types
      FROM fd GROUP BY 1
    ), nt AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tt GROUP BY 1
    ), j AS (
      SELECT nt.doc_id, coalesce(nv.new_types, 0) AS new_types, nt.n_tokens
      FROM nt LEFT JOIN nv ON nv.doc_id = nt.doc_id
    )
    SELECT doc_id, new_types,
           CAST(sum(new_types) OVER (ORDER BY doc_id) AS BIGINT) AS cum_vocab,
           CAST(sum(n_tokens) OVER (ORDER BY doc_id) AS BIGINT) AS cum_tokens
    FROM j
    """,
    tags=("tier2", "text", "window"),
)
def vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (the Heaps-law measurement): for each doc
    in corpus order, how many NEVER-SEEN-BEFORE token types it
    introduces, plus the running vocabulary size and running token count
    — the curve whose flattening tells a pipeline when more data stops
    buying new vocabulary (dedup/quality regressions show up as kinks).

    First occurrence is a groupBy(token).min(doc_id) — the same
    first-occurrence idiom as paragraph dedup — so "new type" needs no
    ordered scan; the two running totals then ride distributed_cumsum
    (range-bucket two-phase, no one-task window), while the oracle uses
    plain SQL windows over the same exact integers. Scale: two
    combinable aggregates over the token stream + the cumsum's bounded
    offset pass; the corpus text never shuffles, only (token, doc_id)
    and the per-doc count table."""
    from mapreduce__spark.operators.windows import distributed_cumsum

    docs = load_table(spark, sf_dir, "documents")
    tt = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).where(F.col("tok") != "")
    nv = (
        tt.groupBy("tok")
        .agg(F.min("doc_id").cast("bigint").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_types"))
    )
    nt = tt.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    j = nt.join(nv, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("new_types"), F.lit(0).cast("bigint")).alias(
            "new_types"
        ),
        "n_tokens",
    )
    c1 = distributed_cumsum(j, "doc_id", "new_types", out_col="cum_vocab")
    c2 = distributed_cumsum(c1, "doc_id", "n_tokens", out_col="cum_tokens")
    return c2.select(
        "doc_id",
        "new_types",
        F.col("cum_vocab").cast("bigint").alias("cum_vocab"),
        F.col("cum_tokens").cast("bigint").alias("cum_tokens"),
    )


STREAM_CUSUM_K = 10  # configured in-control daily rate (stream_cusum's k)
STREAM_CUSUM_H = 5  # alarm threshold multiple


@query(
    "stream_cusum_fold",
    oracle=f"""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT event_type, day, n,
             sum(n - {STREAM_CUSUM_K})
                 OVER (PARTITION BY event_type ORDER BY day) AS pre
      FROM d
    ),
    s AS (
      SELECT event_type, day,
             pre - least(0, min(pre)
                 OVER (PARTITION BY event_type ORDER BY day)) AS cusum,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY day DESC) AS rn
      FROM p
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(CASE WHEN rn = 1 THEN cusum END) AS BIGINT)
               AS final_cusum,
           CAST(sum(CASE WHEN cusum > {STREAM_CUSUM_H * STREAM_CUSUM_K}
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
    FROM s GROUP BY event_type
    """,
    tags=("tier2", "streaming", "changepoint"),
)
def stream_cusum_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver attestation for the streaming CUSUM monitor (round-9
    verdict item 8 — the stream_interval_join_batch discipline applied
    to a STATEFUL operator): the Spark half executes stream_cusum's own
    merge-then-recompute fold (streaming/streams.py batch_cusum_fold,
    built from the two helpers the state update calls verbatim) over the
    whole series per event_type — exactly what the stream's final
    micro-batch emission computes from its merged state. The oracle is
    an INDEPENDENT formulation: the prefix-min identity
    S_i = P_i - least(0, min P_j) in plain SQL windows (the cusum_drift
    identity, partitioned by event_type, with stream_cusum's CONFIGURED
    k={STREAM_CUSUM_K} instead of the data-derived rate). Equality of
    the fold with the stream's emission over random micro-batch splits
    is pinned in tests/test_streaming.py.

    SCALE: the fold ships each event_type's (day, ts) rows through
    Arrow once — state stays the bounded day histogram; the oracle-side
    identity is how the BATCH twin (cusum_drift) distributes the same
    recurrence without a sequential pass."""
    from mapreduce__spark.streaming.streams import batch_cusum_fold

    ev = load_table(spark, sf_dir, "events")
    return batch_cusum_fold(ev, k=STREAM_CUSUM_K, h_mult=STREAM_CUSUM_H)


# --------------------------------------------------------------------------
# Round-13: driver attestation for the remaining stream sketch folds
# (round-12 VERDICT item 5) — the batch_cusum_fold discipline applied to
# the Misra-Gries, count-min and quantile-histogram state updates: each
# query executes the SAME fold helpers the state store calls
# (streaming/streams.py), against an independent SQL oracle.
# --------------------------------------------------------------------------

MG_FOLD_CAP = 8  # small enough that decrements fire at every test scale


def _mg_fold_oracle(cap: int, k: int = 64) -> str:
    """Independent DuckDB simulation of the weighted Misra-Gries fold:
    the insertion sequence (count DESC, user ASC — the deterministic
    order _mg_batch_order pins) is replayed by a RECURSIVE CTE whose
    state is the live (user, counter) list. Each recursion step folds a
    chunk of k items through list_reduce — the accumulator is the MG
    list itself, each element a singleton list so acc and element types
    unify — turning O(items) recursion iterations into O(items/k),
    which keeps the sf0.1 two-scale gate fast (3s, vs 58s unchunked)."""
    insert = (
        "list_filter("
        "list_transform(list_append(acc, x[1]), "
        "e -> struct_pack(u := e.u, v := e.v - "
        f"CASE WHEN len(list_append(acc, x[1])) > {cap} "
        "THEN list_min(list_transform(list_append(acc, x[1]), y -> y.v)) "
        "ELSE 0 END)), "
        "e -> e.v > 0)"
    )
    return f"""
    WITH RECURSIVE items AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS i
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n_seen,
             CAST(ceil(count(*) / {k}.0) AS BIGINT) AS nsteps
      FROM items GROUP BY 1
    ),
    chunks AS (
      SELECT event_type, CAST(floor((i - 1) / {k}) AS BIGINT) AS step,
             list([struct_pack(u := user_id, v := c)] ORDER BY i) AS chunk
      FROM items GROUP BY 1, 2
    ),
    sim AS (
      SELECT event_type, CAST(0 AS BIGINT) AS step,
             CAST([] AS STRUCT(u BIGINT, v BIGINT)[]) AS mg
      FROM m
      UNION ALL
      SELECT s.event_type, s.step + 1,
             list_reduce(list_prepend(s.mg, c.chunk),
                         (acc, x) -> {insert}) AS mg
      FROM sim s
      JOIN chunks c ON c.event_type = s.event_type AND c.step = s.step
    ),
    fin AS (
      SELECT s.event_type, m.n_seen, unnest(s.mg) AS e
      FROM sim s JOIN m ON m.event_type = s.event_type AND s.step = m.nsteps
    )
    SELECT event_type, e.u AS user_id, CAST(e.v AS BIGINT) AS est,
           CAST(n_seen AS BIGINT) AS n_seen
    FROM fin
    """


@query(
    "stream_mg_fold",
    oracle=_mg_fold_oracle(MG_FOLD_CAP),
    tags=("tier2", "streaming", "sketch"),
)
def stream_mg_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver attestation for the streaming Misra-Gries heavy-hitters
    state update (round-12 VERDICT item 5, the stream_cusum_fold
    discipline): the Spark half runs stream_mg_heavy_hitters' OWN
    weighted insert (streaming/streams.py _mg_insert, called verbatim by
    the state store) over the whole series per event_type in the
    deterministic (count DESC, user ASC) order _mg_batch_order pins for
    both twins — exactly what the stream emits when every event lands in
    one micro-batch. The oracle replays the identical insertion sequence
    in a recursive CTE whose state is the live counter list (chunked
    through list_reduce so recursion depth is items/64). MG is NOT
    micro-batch-split-invariant — only its guarantees are (coverage of
    every item with count > N/(cap+1), underestimation <= N/(cap+1)),
    pinned per split in tests/test_streaming.py — so the external claim
    here is the fold code itself, not split invariance.

    SCALE: the fold ships each event_type's user_ids through Arrow once
    and keeps <= cap+1 counters live — the bounded state that lets a
    100 TB stream track heavy hitters without replay; the batch twin's
    shuffle is one map-side-combinable groupBy(event_type). Reference
    parity: tier-2 streaming extension (SURVEY §2b O-26)."""
    from mapreduce__spark.streaming.streams import batch_mg_fold

    ev = load_table(spark, sf_dir, "events")
    return batch_mg_fold(ev, cap=MG_FOLD_CAP)


def _cm_fold_oracle() -> str:
    """DuckDB twin of the per-event_type count-min cell fold: the same
    char-fold hash over the user_id rendered as a decimal string, the
    same per-row affine column map, the same cell sums — all integer,
    so the full live sketch hash-checks cross-engine."""
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
    WITH items AS (
      SELECT event_type, CAST(user_id AS VARCHAR) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), th AS (
      SELECT event_type, n,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, length(s)+1),
                         i -> CAST(ord(substr(s, i, 1)) AS BIGINT))),
          (a,b) -> (a*31+b) % {CM_MOD}) AS h
      FROM items
    ), rows_ AS (
      SELECT unnest(range(0, {CM_DEPTH})) AS row
    )
    SELECT event_type, CAST(row AS BIGINT) AS row,
           CAST((h * (CASE row {a_case} END) + (CASE row {b_case} END))
               % {CM_MOD} % {CM_WIDTH} AS BIGINT) AS col,
           CAST(sum(n) AS BIGINT) AS n
    FROM th, rows_ GROUP BY 1, 2, 3
    """


@query(
    "stream_countmin_fold",
    oracle=_cm_fold_oracle(),
    tags=("tier2", "streaming", "sketch"),
)
def stream_countmin_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver attestation for the streaming count-min state update
    (round-12 VERDICT item 5): items are hashed to (row, col) cells with
    the same Spark expressions stream_countmin pre-buckets with
    (operators/qsketch.py _charfold / _cm_col), then the shared
    _hist_merge_counts fold — the very code the state store calls —
    accumulates the cell map batch-side per event_type, emitting the
    full live sketch (event_type, row, col, n). Cell counts are an
    additive monoid, so this EQUALS the stream's final emission over any
    micro-batch split (pinned in tests/test_streaming.py) — unlike MG,
    the fold here is split-invariant, which is exactly why the oracle
    can be a plain charfold/affine GROUP BY instead of a sequential
    simulation.

    SCALE: state is <= CM_DEPTH*CM_WIDTH cells per event_type at ANY
    cardinality; the batch twin's heavy shuffle is the (event_type,
    user) pre-count, map-side combinable. Reference parity: tier-2
    streaming extension (SURVEY §2b O-26)."""
    from mapreduce__spark.streaming.streams import batch_cm_fold

    ev = load_table(spark, sf_dir, "events")
    return batch_cm_fold(ev, item_col="user_id")


@query(
    "stream_quantile_fold",
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
    tags=("tier2", "streaming", "sketch"),
)
def stream_quantile_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver attestation for the streaming quantile-sketch state update
    (round-12 VERDICT item 5): stream_dd_quantiles' merge + value-order
    walk + integer rank pick (streaming/streams.py _hist_merge_counts /
    _hist_value_order / _hist_pick, called verbatim by the state store)
    executed batch-side per event_type — on the ORACLE-SAFE dyadic cents
    buckets rather than the gamma (libm-log) ones, the exact split that
    made quantile_sketch_values rows-only while quantile_sketch_dyadic
    hash-checks: the FOLD is bucket-scheme-agnostic, so running it over
    power-of-two integer buckets attests the state-store code end-to-end
    while the oracle states the same answer as a plain SQL window walk
    (the quantile_sketch_dyadic formulation — which differs from this
    query only in WHERE the walk runs: Spark window vs the state fold).

    SCALE: bucketing is scan-stage; the fold ships <= 64 bucket counts
    per event_type through Arrow — bounded state at any cardinality;
    counts add bucket-wise so micro-batch splits fold to the same
    sketch (pinned in tests/test_streaming.py). Reference parity:
    tier-2 streaming extension (SURVEY §2b O-26)."""
    from mapreduce__spark.streaming.streams import batch_quantile_fold

    ev = load_table(spark, sf_dir, "events")
    return batch_quantile_fold(ev)


@query(
    "session_window_agg",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, value, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                            > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events WHERE ts IS NOT NULL
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
        SELECT user_id, ts, value,
               CAST(sum(is_new) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS sid
        FROM x
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    tags=("tier2", "streaming"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE session windows in batch — F.session_window() with a
    30-minute gap, the same operator the streaming twin
    (streaming.stream_sessionized) runs behind a watermark, here under
    a full DuckDB oracle. Complements `sessionization` (the manual
    lag → flag → cumsum form): the native operator reports session END
    as last_event + gap, and its merge boundary is INCLUSIVE — an
    event arriving EXACTLY gap after its predecessor still merges
    (session windows coalesce when next_start <= prev_end), matching
    the manual form's `> gap` new-session comparator. Both facts are
    pinned by a planted exact-boundary fixture
    (tests/test_round14_properties.py), because `>=` is precisely the
    off-by-one a port of this operator would write — and did, in this
    query's first draft.

    The gap compares epoch MICROSECONDS (the sessionization
    discipline); sum_value uses the 2-decimal-sum idiom. NULL
    timestamps are filtered explicitly on both sides: session_window
    drops them silently, the islands CTE would glue them to a
    neighboring session — making the exclusion declared rather than
    accidental.

    SCALE: one shuffle on user_id, then per-key session assembly —
    unlike the manual form's two window passes over the same
    partitioning, the native operator merges sessions in the aggregate
    itself (Spark plans updating/merging session aggregation), which is
    also the shape that carries directly to the streaming state store.
    Reference parity: tier-2 events extension (SURVEY §2b O-26)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@query(
    "temporal_split_events",
    oracle="""
    WITH x AS (
        SELECT user_id, ts, event_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id) AS n
        FROM events WHERE ts IS NOT NULL
    ), labeled AS (
        SELECT user_id, ts,
               CASE WHEN rn > n - (n // 5) THEN 'test'
                    WHEN rn > n - 2 * (n // 5) THEN 'val'
                    ELSE 'train' END AS split
        FROM x
    )
    SELECT user_id, split,
           CAST(count(*) AS BIGINT) AS n_events,
           min(ts) AS first_ts, max(ts) AS last_ts
    FROM labeled GROUP BY 1, 2
    """,
    tags=("tier2", "pipeline", "sampling"),
)
def temporal_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-FREE TEMPORAL SPLIT per user — the time-series
    counterpart of train_test_split's content-hash buckets: each user's
    event history is ordered by (ts, event_id) and the LAST floor(n/5)
    events become test, the floor(n/5) before those val, the rest
    train — the forecasting/recsys evaluation protocol where random
    splits leak the future into training. Deterministic and exact: the
    cut is a pure integer rule on the per-user rank, never a fraction
    of a float; users with n < 5 keep all events in train (floor = 0),
    declared rather than special-cased. The split-boundary law —
    max(train.ts) <= min(val.ts) <= max(val.ts) <= min(test.ts) within
    every user — is what the oracle attests via first_ts/last_ts and a
    property test re-checks independently.

    SCALE: one shuffle on user_id, two window functions over the same
    partitioning (rank + count, no second exchange), then a map-side
    combined per-(user, split) aggregate. Per-user histories are the
    partition unit — the same layout sessionization and
    rolling_user_features already shuffle to, so a real pipeline
    computes all three off one exchange. Reference parity: tier-2
    pipeline extension (SURVEY §2b O-26/O-24 family)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_last(), "event_id"
    )
    wc = Window.partitionBy("user_id")
    x = ev.select(
        "user_id",
        "ts",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    k = F.expr("n DIV 5")
    labeled = x.select(
        "user_id",
        "ts",
        F.when(F.col("rn") > F.col("n") - k, F.lit("test"))
        .when(F.col("rn") > F.col("n") - 2 * k, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )
    return labeled.groupBy("user_id", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
