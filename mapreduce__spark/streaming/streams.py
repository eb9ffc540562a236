"""Structured Streaming counterparts of the event-window queries (O-26).

The batch forms in plans/tier2_events.py are the oracle-checkable semantics; the
functions here run the SAME logical shapes as true streams:

* file-source `readStream` over the events parquet (in production: Kafka —
  swap `format`),
* event-time watermarks bounding state (late rows beyond the watermark are
  dropped — the reference has no notion of this; its shuffle-termination
  heuristic, MapReduceFramework.cpp:394-406, is a broken cousin),
* tumbling window aggregation, session windows, and stateful dedup
  (`dropDuplicates` under a watermark).

Tests run them with `Trigger.AvailableNow` into a memory sink and compare
against the batch twins — the Structured Streaming guarantee that a
windowed agg over a replayed stream equals the batch agg makes that a real
equivalence check, not a smoke test.

Scale: state lives in the state store keyed by (window/session, keys);
watermark delay bounds state size; `spark.sql.shuffle.partitions` sets
state-store parallelism and must be chosen BEFORE the first checkpoint.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



def _staged_table_dir(sf_dir: str, table: str) -> str:
    """FileStreamSource requires a DIRECTORY (its file index rejects a bare
    file as basePath); the testdata ships one file per table, so stage a
    copy under /tmp once per scale factor. In production the source is a
    real directory (or Kafka) and this shim disappears."""
    import shutil

    name = sf_dir.rstrip("/").split("/")[-1]
    d = f"/tmp/mapreduce__spark_stream/{name}/{table}"
    os.makedirs(d, exist_ok=True)
    dst = f"{d}/{table}.parquet"
    src = f"{sf_dir}/{table}.parquet"
    if not os.path.exists(dst) or os.path.getmtime(dst) < os.path.getmtime(src):
        # copy2 preserves the SOURCE mtime (copyfile stamps copy time,
        # which defeats the staleness check for any regenerated fixture
        # whose mtime is backdated — archives, cp -p, the tests' own
        # utime calls); staging via tmp + atomic replace keeps a
        # concurrent session from reading a torn half-copied footer.
        tmp = f"{dst}.tmp.{os.getpid()}"
        shutil.copy2(src, tmp)
        os.replace(tmp, dst)
    return d


def _staged_events_dir(sf_dir: str) -> str:
    return _staged_table_dir(sf_dir, "events")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (schema must be declared
    for streaming reads; maxFilesPerTrigger shapes micro-batches).

    The declared schema is taken from a batch footer read of the same
    directory, so the stream sees exactly what `load_table` sees whatever
    the writer's timestamp physical type was: TIMESTAMP(NANOS) data
    arrives as bigint (nanosAsLong) and is integer-divided to µs, exactly
    mirroring mapreduce__spark.sources.tables.load_table; µs data arrives
    as a native timestamp type and passes through untouched.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    d = _staged_events_dir(sf_dir)
    schema = spark.read.parquet(d).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    ts_type = dict((f.name, f.dataType.simpleString()) for f in schema).get("ts")
    if ts_type == "bigint":
        raw = raw.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_type == "timestamp_ntz":
        # withWatermark rejects TIMESTAMP_NTZ; with the session pinned to
        # UTC the LTZ cast is exact and collected values still equal the
        # batch twin's naive datetimes.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp_ltz"))
    return raw


def stream_tumbling_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour counts with an event-time watermark — the streaming
    twin of the `events_tumbling_window` batch query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
    )


def stream_sessionized(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows with a 30-minute gap — streaming sessionization.

    Note the contract delta vs the batch lag/cumsum form: session_window's
    end = last event + gap, so tests compare session_start/user/count.
    """
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("session_start"), "user_id", "n_events")
    )


def stream_dedup_first(events: DataFrame) -> DataFrame:
    """Stateful streaming dedup: first observed event per (user_id,
    event_type) within the watermark horizon.

    dropDuplicatesWithinWatermark — not plain dropDuplicates — because
    state eviction is the whole scale story: Spark only expires
    dropDuplicates state when the event-time column is part of the key
    subset (which would dedup exact (key, ts) pairs, not keys), so the
    plain form keeps one state row per key FOREVER — the classic
    unbounded state-store leak on a stream with growing key cardinality.
    The WithinWatermark form evicts a key once the watermark passes its
    event time + delay, bounding state to keys active inside the
    horizon; a duplicate arriving beyond the horizon re-admits, which is
    exactly the documented contract."""
    return (
        events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type", "event_id", "ts")
    )


def stream_user_totals_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user running (event count, value sum) maintained in the state
    store across micro-batches — the reference's Reduce-with-memory shape
    that windowed aggregation can't express (state never expires here;
    production would set a TTL timeout).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [round(total, 2)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        stateStructType="n bigint, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_ewma(events: DataFrame) -> DataFrame:
    """Stateful streaming EWMA (alpha = 0.5): per-user smoothed value
    maintained in the state store — the true streaming form of the
    recurrence e := (v + e)/2, applied in (ts, event_id) order within
    each micro-batch, state carrying across batches. This is the twin of
    the batch `events_ewma` query with the structural difference
    streaming forces: a stream cannot replay its tail, so the batch form
    windows over the newest N events while the stream keeps the running
    recurrence (same alpha, same initialize-at-first-value semantics).

    Determinism: values go to integer cents BEFORE the recurrence, and
    the per-step float ops are fixed (add, halve) in a fixed order, so
    replaying the same batches reproduces bit-identical state — pinned
    against a sequential reference in tests/test_streaming.py. Emits one
    row per user per batch (update mode); production would add a state
    TTL like the totals operator."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        from decimal import ROUND_HALF_UP, Decimal

        e, n = state.get if state.exists else (0.0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"]:
            # HALF_UP quantization over the SHORTEST-DECIMAL rendering of
            # v*100 — bit-identical to the batch twin's
            # F.round(value * 100) (Spark rounds BigDecimal.valueOf(d),
            # i.e. Double.toString's shortest decimal, HALF_UP; Python's
            # repr() is the same shortest decimal). The previous Python
            # round() was half-to-EVEN over the exact binary value — the
            # two 'same semantics' twins disagreed on exact .5 cents
            # (round-7 advice item 4).
            vc = float(
                Decimal(repr(v * 100.0)).quantize(
                    Decimal(1), rounding=ROUND_HALF_UP
                )
            )
            e = vc if n == 0 else (vc + e) / 2.0
            n += 1
        state.update((e, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                # raw division, no round(): e is an exact dyadic in cents,
                # so e/100.0 is one correctly-rounded op — rounding to 6
                # digits would sit on half-ties (see events_ewma)
                "ewma_value": [e / 100.0],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, ewma_value double",
        stateStructType="e double, n bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_quantile_histogram(events: DataFrame) -> DataFrame:
    """Stateful streaming EXACT percentiles via the mergeable value
    histogram — the streaming form of the batch `incremental_percentiles`
    query, and the state-bounding argument made live: the state per
    event_type is the (value -> count) histogram, which on
    bounded-cardinality measures is bounded-size regardless of how many
    events stream through, so the state store never grows with the
    stream (the property KLL/GK sketches buy with approximation, bought
    exactly here). Each micro-batch folds its rows into the histogram
    (count addition — the same merge the batch query's day->window
    rollup runs) and emits the discrete p50/p90/p99 read off the merged
    state: the smallest value whose running count reaches ceil(p*n),
    values always ORIGINAL doubles from the data, so the final batch's
    emission is bit-identical to the batch query (pinned in
    tests/test_streaming.py across multi-file micro-batches)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        if state.exists:
            vs, cs = state.get
            hist = dict(zip(list(vs), list(cs)))
        else:
            hist = {}
        for pdf in pdfs:
            for v, c in pdf["value"].value_counts().items():
                hist[float(v)] = hist.get(float(v), 0) + int(c)
        items = sorted(hist.items())
        state.update(([v for v, _ in items], [c for _, c in items]))
        n = sum(hist.values())

        def disc(num: int, den: int) -> float:
            rank = (num * n + den - 1) // den
            cum = 0
            for v, c in items:
                cum += c
                if cum >= rank:
                    return v
            return items[-1][0]

        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_rows": [n],
                "p50": [disc(1, 2)],
                "p90": [disc(9, 10)],
                "p99": [disc(99, 100)],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_rows bigint, p50 double, p90 double, "
            "p99 double"
        ),
        stateStructType="vs array<double>, cs array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cusum(events: DataFrame, k: int = 10, h_mult: int = 5) -> DataFrame:
    """Stateful streaming CUSUM drift monitor per event_type — the
    streaming twin of the batch `cusum_drift` query, with the structural
    differences streaming forces: the in-control reference rate ``k`` is
    a CONFIGURED parameter (a stream cannot know its final mean — which
    is also how production CUSUM monitors run), and the state carries the
    BOUNDED per-day count histogram (the mergeable-summary pattern of
    stream_quantile_histogram), so each micro-batch merges its counts and
    recomputes the whole path — the result converges to the batch answer
    regardless of how days split across batches, late deliveries
    included.

    Two independent formulations meet in the tests: this operator folds
    the textbook recurrence S := max(0, S + (x - k)) day by day, while
    the batch twin computes the prefix-min identity
    S_i = P_i - least(0, min_(j<=i) P_j) through distributed scans —
    equality over random micro-batch splits pins both. All integers."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        days, counts = state.get if state.exists else ([], [])
        hist = dict(zip(days, counts))
        rows = pd.concat(list(pdfs), ignore_index=True)
        _cusum_merge_days(hist, rows)
        ordered = sorted(hist)
        state.update((ordered, [int(hist[d]) for d in ordered]))
        n_days, s, n_alarms = _cusum_recompute(hist, k, h_mult)
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_days": [n_days],
                "final_cusum": [s],
                "n_alarms": [n_alarms],
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_days bigint, final_cusum bigint, "
            "n_alarms bigint"
        ),
        stateStructType="days array<string>, counts array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _cusum_merge_days(hist: dict, rows: "pd.DataFrame") -> None:
    """The MERGE half of stream_cusum's merge-then-recompute fold: add a
    batch of rows' per-day counts into the day histogram (the bounded
    state). Shared verbatim by the streaming state update and the
    batch_cusum_fold driver-attested twin."""
    import pandas as pd

    by_day = pd.to_datetime(rows["ts"]).dt.strftime("%Y-%m-%d").value_counts()
    for day, cnt in by_day.items():
        hist[day] = hist.get(day, 0) + int(cnt)


def _cusum_recompute(hist: dict, k: int, h_mult: int) -> tuple[int, int, int]:
    """The RECOMPUTE half: fold the textbook recurrence
    S := max(0, S + (x - k)) over the merged day histogram in day order,
    counting alarm days (S > h_mult*k). Returns (n_days, final_cusum,
    n_alarms)."""
    s = 0
    n_alarms = 0
    ordered = sorted(hist)
    for d in ordered:
        s = max(0, s + (hist[d] - k))
        if s > h_mult * k:
            n_alarms += 1
    return len(ordered), s, n_alarms


def batch_cusum_fold(events: DataFrame, k: int = 10, h_mult: int = 5) -> DataFrame:
    """stream_cusum's EXACT fold executed batch-side per event_type — the
    stream_interval_join_batch discipline applied to a stateful operator:
    applyInPandasWithState cannot run on a batch relation, so the fold
    itself (merge day counts, recompute the recurrence — the two shared
    helpers above) runs under batch applyInPandas over the same grouping,
    which is exactly what the streaming update does with the whole series
    in one state. Equality of this output with the stream's final
    emission over random micro-batch splits is the merge-then-recompute
    convergence claim, pinned in tests/test_streaming.py."""
    import pandas as pd

    def fold(key, pdf):
        hist: dict = {}
        _cusum_merge_days(hist, pdf)
        n_days, s, n_alarms = _cusum_recompute(hist, k, h_mult)
        return pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_days": [n_days],
                "final_cusum": [s],
                "n_alarms": [n_alarms],
            }
        )

    return events.select("event_type", "ts").groupBy("event_type").applyInPandas(
        fold,
        "event_type string, n_days bigint, final_cusum bigint, n_alarms bigint",
    )


def _mg_insert(mg: dict, u: int, c: int, cap: int) -> dict:
    """ONE weighted Misra-Gries insert — the exact update the
    stream_mg_heavy_hitters state store applies per (user, batch-count)
    pair, shared verbatim with the batch_mg_fold driver-attested twin
    (round-12 VERDICT item 5): add to an existing counter, else admit
    the newcomer and, on overflow past cap, subtract the minimum counter
    from everyone and evict the non-positive."""
    if u in mg:
        mg[u] += c
        return mg
    mg[u] = c
    if len(mg) > cap:
        d = min(mg.values())
        mg = {k: v - d for k, v in mg.items() if v - d > 0}
    return mg


def _mg_batch_order(vc) -> list[tuple[int, int]]:
    """Deterministic insertion order for one batch's value_counts:
    count DESC, user ASC. pandas' tie order within equal counts is
    unspecified, and MG's final summary depends on insertion order —
    pinning the order makes both the stream's emission and the batch
    fold reproducible (and the latter SQL-simulable)."""
    return sorted(
        ((int(u), int(c)) for u, c in vc.items()),
        key=lambda t: (-t[1], t[0]),
    )


def batch_mg_fold(events: DataFrame, cap: int = 8) -> DataFrame:
    """stream_mg_heavy_hitters' EXACT weighted-MG fold executed
    batch-side per event_type (the batch_cusum_fold discipline,
    round-12 VERDICT item 5): the whole series arrives as ONE batch —
    what the stream computes when every event lands in a single
    micro-batch — and each (user, count) is inserted with the shared
    _mg_insert/_mg_batch_order helpers the state store calls. Unlike
    cusum's merge-then-recompute, MG is NOT micro-batch-split-invariant
    (only its error guarantees are, pinned in tests/test_streaming.py);
    what this twin attests externally is the fold code itself, against
    an independent SQL simulation of the same insertion sequence."""
    import pandas as pd

    def fold(key, pdf):
        mg: dict = {}
        vc = pdf["user_id"].value_counts()
        total = int(vc.sum())
        for u, c in _mg_batch_order(vc):
            mg = _mg_insert(mg, u, c, cap)
        users = sorted(mg)
        return pd.DataFrame(
            {
                "event_type": [key[0]] * len(users),
                "user_id": users,
                "est": [mg[u] for u in users],
                "n_seen": [total] * len(users),
            }
        )

    return (
        events.select("event_type", "user_id")
        .groupBy("event_type")
        .applyInPandas(
            fold,
            "event_type string, user_id bigint, est bigint, n_seen bigint",
        )
    )


def stream_mg_heavy_hitters(events: DataFrame, cap: int = 63) -> DataFrame:
    """Stateful streaming heavy hitters per event_type via a weighted
    Misra-Gries summary in the state store — the streaming twin of the
    batch `heavy_hitters_exact` (which confines the same sketch to
    candidate generation and recounts exactly; a stream cannot replay
    for the recount, so it lives with MG's deterministic error bound
    instead). State per event_type: <= `cap` (user_id, counter) pairs
    plus the running item total N. Applying weighted MG batch-by-batch
    IS MG over the concatenated stream, so the classic guarantees hold
    stream-wide and are exactly testable: every user with true count
    > N/(cap+1) is present, and every counter underestimates its true
    count by at most N/(cap+1). Emits the full summary each batch
    (update mode): (event_type, user_id, est, n_seen)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    def update(key, pdfs, state: GroupState):
        users, counts, total = (
            state.get if state.exists else ([], [], 0)
        )
        mg = dict(zip(users, counts))
        rows = pd.concat(list(pdfs), ignore_index=True)
        vc = rows["user_id"].value_counts()
        total += int(vc.sum())
        for u, c in _mg_batch_order(vc):
            mg = _mg_insert(mg, u, c, cap)
        users2 = sorted(mg)
        state.update((users2, [mg[u] for u in users2], total))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(users2),
                "user_id": users2,
                "est": [mg[u] for u in users2],
                "n_seen": [total] * len(users2),
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, user_id bigint, est bigint, n_seen bigint"
        ),
        stateStructType=(
            "users array<bigint>, counts array<bigint>, total bigint"
        ),
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _hist_merge_counts(hist: dict, items) -> None:
    """The MERGE half of the sketch-cell state fold: add a batch's
    ((k1, k2), count) pairs into the cell-count map — the additive
    monoid both bounded-state sketches ride. Shared verbatim by
    stream_dd_quantiles ((sgn, idx) buckets) and stream_countmin
    ((row, col) cells) state updates and by their batch_quantile_fold /
    batch_cm_fold driver-attested twins (round-12 VERDICT item 5)."""
    for key, c in items:
        k = (int(key[0]), int(key[1]))
        hist[k] = hist.get(k, 0) + int(c)


def _hist_value_order(hist: dict) -> list:
    """Buckets in value order: negatives by descending magnitude, zero,
    positives ascending — the (sgn, sgn*idx) sort of the batch read."""
    return sorted(hist.items(), key=lambda kv: (kv[0][0], kv[0][0] * kv[0][1]))


def _hist_pick(items: list, total: int, num: int, den: int) -> tuple:
    """The READ half: percentile_disc bucket pick — the first bucket in
    value order whose cumulative count reaches rank num/den, via the
    pure-integer cum*den >= num*total comparison (no float rank)."""
    cum = 0
    for key, n in items:
        cum += n
        if cum * den >= num * total:
            return key
    return items[-1][0]


def batch_quantile_fold(events: DataFrame) -> DataFrame:
    """stream_dd_quantiles' EXACT state fold + bucket walk executed
    batch-side per event_type (the batch_cusum_fold discipline,
    round-12 VERDICT item 5), on the ORACLE-SAFE dyadic cents buckets:
    the gamma (log) bucketing is not cross-engine hash-checkable (libm —
    why quantile_sketch_values is rows-only), but the FOLD is
    bucket-scheme-agnostic, so running the same _hist_merge_counts /
    _hist_value_order / _hist_pick helpers the state store calls over
    power-of-two integer buckets attests the fold and walk end-to-end
    against an independent SQL window formulation. Emits the exact
    [lo, hi] cent bounds of each picked bucket, like
    quantile_sketch_dyadic — which computes the same answer with a
    Spark window instead of the state-store fold."""
    import pandas as pd

    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    bucket = (
        F.when(cents > 0, F.length(F.bin(cents)))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    bucketed = events.where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    ).select(
        "event_type",
        F.when(bucket > 0, F.lit(1)).otherwise(F.lit(0)).cast("int").alias("sgn"),
        bucket.alias("idx"),
    )

    def lo_hi(key: tuple) -> tuple[int, int]:
        b = key[1]
        if b <= 0:
            return 0, 0
        return 1 << (b - 1), (1 << b) - 1

    def fold(key, pdf):
        hist: dict = {}
        _hist_merge_counts(hist, pdf.groupby(["sgn", "idx"]).size().items())
        items = _hist_value_order(hist)
        total = sum(hist.values())
        out = {"event_type": [key[0]], "n_rows": [total]}
        for name, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
            lo, hi = lo_hi(_hist_pick(items, total, num, den))
            out[f"{name}_lo_cents"] = [lo]
            out[f"{name}_hi_cents"] = [hi]
        return pd.DataFrame(out)

    return bucketed.groupBy("event_type").applyInPandas(
        fold,
        "event_type string, n_rows bigint, "
        "p50_lo_cents bigint, p50_hi_cents bigint, "
        "p90_lo_cents bigint, p90_hi_cents bigint, "
        "p99_lo_cents bigint, p99_hi_cents bigint",
    )


def stream_dd_quantiles(events: DataFrame, alpha: float = 0.01) -> DataFrame:
    """Stateful streaming DDSketch quantiles per event_type — the
    streaming twin of the batch `quantile_sketch_values` query, and the
    payoff of the sketch's monoid merge law: the state per event_type is
    the (sgn, idx) -> count bucket map, whose size is bounded by the
    FIXED log-gamma index universe (operators/qsketch.py), never by how
    many events stream through or how many distinct values they carry —
    the property the exact stream_quantile_histogram only has on
    bounded-cardinality measures.

    Bucketing happens BEFORE the stateful op with the exact same Spark
    expressions the batch sketch uses (qsketch._bucket_cols), so the
    state fold is pure integer count addition — batch-split-invariant by
    construction — and the final emission is the same bucket-walk read
    (integer cum*den >= num*total rank picks, midpoint estimates) the
    batch query runs; equality over random micro-batch splits is pinned
    in tests/test_streaming.py."""
    import math as _math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mapreduce__spark.operators.qsketch import _bucket_cols, gamma_for_alpha

    gamma = gamma_for_alpha(alpha)
    sgn, idx = _bucket_cols(F.col("value"), gamma)
    # same NULL/NaN discipline as the batch dd_sketch (batch==stream)
    bucketed = events.where(
        F.col("value").isNotNull() & ~F.isnan(F.col("value"))
    ).select("event_type", sgn.alias("sgn"), idx.alias("idx"))

    def update(key, pdfs, state: GroupState):
        if state.exists:
            sgns, idxs, ns = state.get
            hist = dict(zip(zip(list(sgns), list(idxs)), list(ns)))
        else:
            hist = {}
        for pdf in pdfs:
            _hist_merge_counts(hist, pdf.groupby(["sgn", "idx"]).size().items())
        items = _hist_value_order(hist)
        state.update(
            (
                [s for (s, _), _ in items],
                [i for (_, i), _ in items],
                [n for _, n in items],
            )
        )
        total = sum(hist.values())

        def est(s: int, i: int) -> float:
            if s == 0:
                return 0.0
            return s * (2.0 * _math.pow(gamma, i) / (gamma + 1.0))

        def disc(num: int, den: int) -> float:
            return est(*_hist_pick(items, total, num, den))

        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_rows": [total],
                "p50_est": [disc(1, 2)],
                "p90_est": [disc(9, 10)],
                "p99_est": [disc(99, 100)],
            }
        )

    return bucketed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=(
            "event_type string, n_rows bigint, p50_est double, "
            "p90_est double, p99_est double"
        ),
        stateStructType="sgns array<int>, idxs array<bigint>, ns array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def batch_cm_fold(events: DataFrame, item_col: str = "user_id") -> DataFrame:
    """stream_countmin's EXACT state fold executed batch-side per
    event_type (the batch_cusum_fold discipline, round-12 VERDICT
    item 5): items are hashed to (row, col) cells with the same Spark
    expressions the stream pre-buckets with, then the whole series
    arrives as ONE batch and the shared _hist_merge_counts fold — the
    very code the state store calls — accumulates the cell map, emitted
    as the full sketch (event_type, row, col, n). Cell counts are an
    additive monoid, so this equals the stream's final emission over ANY
    micro-batch split (pinned in tests/test_streaming.py) AND is
    SQL-expressible as a plain charfold/affine group-by — the
    independent oracle."""
    import pandas as pd

    from mapreduce__spark.operators.qsketch import CM_DEPTH, _charfold, _cm_col

    h = _charfold(F.col(item_col).cast("string"))
    cells = events.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
        h.alias("_h"),
    ).select(
        "event_type", "row", _cm_col(F.col("_h"), F.col("row")).alias("col")
    )

    def fold(key, pdf):
        cellmap: dict = {}
        _hist_merge_counts(cellmap, pdf.groupby(["row", "col"]).size().items())
        items = sorted(cellmap.items())
        return pd.DataFrame(
            {
                "event_type": [key[0]] * len(items),
                "row": [r for (r, _), _ in items],
                "col": [c for (_, c), _ in items],
                "n": [n for _, n in items],
            }
        )

    return cells.groupBy("event_type").applyInPandas(
        fold, "event_type string, row bigint, col bigint, n bigint"
    )


def stream_countmin(events: DataFrame, item_col: str = "user_id") -> DataFrame:
    """Stateful streaming count-min sketch per event_type — the streaming
    twin of the batch countmin_freq_estimate build: state is the
    (row, col) -> count cell map (<= CM_DEPTH*CM_WIDTH entries, bounded
    at ANY cardinality), and because cell counts are an additive monoid,
    folding micro-batches into the state IS the batch sketch of the
    concatenated stream — the final emission equals the batch build
    exactly (pinned over random micro-batch splits in
    tests/test_streaming.py). Items are hashed to cells BEFORE the
    stateful op with the same Spark expressions the batch build uses, so
    the fold is pure integer addition. Emits the full live sketch
    (event_type, row, col, n) each update — downstream estimate reads
    are the same row-min join the batch query runs."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mapreduce__spark.operators.qsketch import CM_DEPTH, _charfold, _cm_col

    h = _charfold(F.col(item_col).cast("string"))
    cells = events.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("row"),
        h.alias("_h"),
    ).select(
        "event_type", "row", _cm_col(F.col("_h"), F.col("row")).alias("col")
    )

    def update(key, pdfs, state: GroupState):
        rows, cols, ns = state.get if state.exists else ([], [], [])
        cellmap = dict(zip(zip(list(rows), list(cols)), list(ns)))
        for pdf in pdfs:
            _hist_merge_counts(cellmap, pdf.groupby(["row", "col"]).size().items())
        items = sorted(cellmap.items())
        state.update(
            (
                [r for (r, _), _ in items],
                [c for (_, c), _ in items],
                [n for _, n in items],
            )
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(items),
                "row": [r for (r, _), _ in items],
                "col": [c for (_, c), _ in items],
                "n": [n for _, n in items],
            }
        )

    return cells.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, row bigint, col bigint, n bigint",
        stateStructType="rows array<bigint>, cols array<bigint>, ns array<bigint>",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_user_totals_tws(events: DataFrame) -> DataFrame:
    """The same per-user running totals through `transformWithStateInPandas`
    — Spark 4's arbitrary-state API (typed value/list/map state handles,
    explicit TTL, timers) that supersedes applyInPandasWithState. Both
    forms are kept: the GroupState form is the widely-deployed surface,
    this one is where stateful feature pipelines are heading. State here
    is a single ValueState row per user; production would add a TTL config
    to bound the store exactly like the GroupState twin's timeout.

    Runtime dependency note: the transformWithState worker protocol
    requires google.protobuf; in environments without it (this sandbox)
    the query fails at stream start — the equivalence test importorskips
    accordingly, and the applyInPandasWithState twin (no protobuf) is the
    always-runnable surface."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._totals = handle.getValueState(
                "totals", "n bigint, total double"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, total = (
                self._totals.get() if self._totals.exists() else (0, 0.0)
            )
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._totals.update((n, total))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [round(total, 2)],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType="user_id bigint, n_events bigint, sum_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_static_join(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: each micro-batch joins against the (refreshed)
    static side — the standard dim-enrichment pattern; no state store
    involved, the static side broadcasts per micro-batch."""
    return events.join(dim, events.user_id == dim.c_custkey, "inner").select(
        "event_id", "user_id", "ts", "c_mktsegment"
    )


def stream_stream_interval_join(
    purchases: DataFrame, clicks: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same user's
    clicks within the preceding hour. Both sides carry watermarks so the
    state store can expire rows older than the interval + lateness —
    unbounded state otherwise (THE stream-stream join failure mode)."""
    p = purchases.select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "2 hours")
    c = clicks.select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select("p_id", "c_id", "p_user", "p_ts", "c_ts")


def run_stream_to_memory(
    sdf: DataFrame, name: str, output_mode: str = "append", timeout_sec: int = 120
) -> None:
    """Drain a streaming DataFrame into an in-memory table with
    Trigger.AvailableNow (process everything currently available, then
    stop) — the batch-equivalence harness used by tests."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
    if not finished:
        # A partially drained memory table is indistinguishable from a
        # complete one downstream — fail here, not in a confusing
        # batch/stream diff (or worse, a silently weakened assertion).
        raise TimeoutError(
            f"stream '{name}' did not finish draining within {timeout_sec}s; "
            "the memory table is partial"
        )


# --------------------------------------------------------------------------
# Document-pipeline streaming twin: the stateless preprocessing stages
# (PII scrub + quality gate) run unchanged under readStream — the point is
# that a training-data pipeline can ingest documents incrementally with the
# SAME expressions (and therefore bit-identical output) as the batch pass.
# --------------------------------------------------------------------------

def _staged_docs_dir(sf_dir: str) -> str:
    return _staged_table_dir(sf_dir, "documents")


def read_documents_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the documents table. The declared schema
    comes from a batch footer read of the staged dir (same pattern as
    read_events_stream) — a hardcoded schema string would silently yield
    all-NULL columns by name-matching if the fixture schema ever drifted,
    while the footer read either matches the batch twin exactly or fails
    loudly."""
    d = _staged_docs_dir(sf_dir)
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )


def stream_quality_scrub(docs: DataFrame) -> DataFrame:
    """Stateless scrub + quality stage: no state, no watermark, no shuffle —
    a pure per-row map, so it streams with zero semantic difference from
    the batch `pii_scrub` / `gopher_quality_rules` expressions it reuses."""
    from mapreduce__spark.functions.text import (
        gopher_keep_expr,
        pii_count_expr,
        pii_scrub_expr,
    )

    clean = pii_scrub_expr(F.col("text"))
    return docs.select(
        "doc_id",
        clean.alias("clean_text"),
        pii_count_expr(F.col("text")).alias("n_pii"),
        gopher_keep_expr(clean).alias("keep"),
    ).where(F.col("keep"))


def stream_dedup_docs(docs: DataFrame) -> DataFrame:
    """Incremental exact dedup on ingest: first-seen doc per content hash
    survives; later byte-identical copies are dropped across micro-batches
    (dropDuplicates keeps cross-batch state in the state store — bound it
    with a watermark on an ingest-time column in production; the batch twin
    is exact_duplicate_groups / the flagship's min-over-window stage)."""
    return docs.select(
        "doc_id", F.md5("text").alias("fp")
    ).dropDuplicates(["fp"])


def stream_weighted_sample(docs: DataFrame) -> DataFrame:
    """Stateless deterministic weighted sampling on ingest: the keep
    decision is a pure hash function of the row (functions/text.py
    weighted_keep_expr — the SAME expression as the batch
    `weighted_sample` query), so a doc's membership is identical whether
    it arrives in a stream or a batch scan, across replays, and across
    engines. No state store, no watermark — the sampling stage a 100 TB
    ingest pipeline runs at the firehose."""
    from mapreduce__spark.functions.text import (
        weight_millis_expr,
        weighted_keep_expr,
    )

    wm = weight_millis_expr(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_words"),
            wm.alias("weight_millis"),
        )
        .where(weighted_keep_expr(F.col("doc_id"), F.col("weight_millis")))
    )


# --------------------------------------------------------------------------
# Archive-ingest streaming twin (round 11): a WARC drop-directory is the
# incremental face of warc_ingest — crawlers append .warc files, the
# stream picks each file up ONCE (file-source exactly-once tracking) and
# parses it with the SAME record walker as the batch query, so the two
# surfaces cannot drift. binaryFile is a supported streaming file source;
# the parse is stateless scan-stage mapInPandas, so no watermark or state
# store is involved — output is append-mode rows per response record.
# --------------------------------------------------------------------------


def stream_warc_records(spark: SparkSession, warc_dir: str) -> DataFrame:
    """Streaming WARC response records from a drop directory of
    ``<doc_id>.warc`` files: one output row per response record, parsed
    by sources/archives.parse_warc_records — byte-for-byte the batch
    parser."""
    import os as _os

    from mapreduce__spark.sources.archives import parse_warc_records

    raw = (
        spark.readStream.format("binaryFile")
        # streaming sources need a declared schema; binaryFile's is fixed
        .schema(
            "path string, modificationTime timestamp, "
            "length bigint, content binary"
        )
        .option("pathGlobFilter", "*.warc")
        .option("maxFilesPerTrigger", 8)
        .load(warc_dir)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "rec": [], "uri": [],
                "status": [], "body_chars": [], "body_hash": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                for rec, uri, status, nch, h in parse_warc_records(
                    bytes(content)
                ):
                    out["doc_id"].append(doc_id)
                    out["rec"].append(rec)
                    out["uri"].append(uri)
                    out["status"].append(status)
                    out["body_chars"].append(nch)
                    out["body_hash"].append(h)
            yield pd.DataFrame(out)

    return raw.select("path", "content").mapInPandas(
        gen,
        schema=(
            "doc_id bigint, rec bigint, uri string, status bigint, "
            "body_chars bigint, body_hash bigint"
        ),
    )


def stream_targz_members(spark: SparkSession, tgz_dir: str) -> DataFrame:
    """Streaming tar.gz member extraction from a drop directory of
    ``<doc_id>.tar.gz`` files — byte-for-byte the batch walker
    (sources/archives.parse_targz_members), the same exactly-once
    file-source pickup as stream_warc_records. A corrupt tarball fails
    its micro-batch loudly (the ValueError discipline) instead of
    emitting a silently short corpus."""
    import os as _os

    from mapreduce__spark.sources.archives import parse_targz_members

    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length bigint, content binary"
        )
        .option("pathGlobFilter", "*.tar.gz")
        .option("maxFilesPerTrigger", 8)
        .load(tgz_dir)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {"doc_id": [], "member": [], "usize": [], "text_hash": []}
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                for name, usize, h in parse_targz_members(bytes(content)):
                    out["doc_id"].append(doc_id)
                    out["member"].append(name)
                    out["usize"].append(usize)
                    out["text_hash"].append(h)
            yield pd.DataFrame(out)

    return raw.select("path", "content").mapInPandas(
        gen,
        schema="doc_id bigint, member string, usize bigint, text_hash bigint",
    )


def stream_zip_members(spark: SparkSession, zip_dir: str) -> DataFrame:
    """Streaming ZIP member extraction from a drop directory of
    ``<doc_id>.zip`` files — byte-for-byte the batch central-directory
    walker (sources/archives.parse_zip_members), completing the
    archive-stream matrix (WARC, tar.gz, ZIP)."""
    import os as _os

    from mapreduce__spark.sources.archives import parse_zip_members

    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length bigint, content binary"
        )
        .option("pathGlobFilter", "*.zip")
        .option("maxFilesPerTrigger", 8)
        .load(zip_dir)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "member": [], "method": [],
                "usize": [], "crc_ok": [], "text_hash": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                for name, method, usize, crc_ok, h in parse_zip_members(
                    bytes(content)
                ):
                    out["doc_id"].append(doc_id)
                    out["member"].append(name)
                    out["method"].append(method)
                    out["usize"].append(usize)
                    out["crc_ok"].append(crc_ok)
                    out["text_hash"].append(h)
            yield pd.DataFrame(out)

    return raw.select("path", "content").mapInPandas(
        gen,
        schema=(
            "doc_id bigint, member string, method bigint, usize bigint, "
            "crc_ok boolean, text_hash bigint"
        ),
    )


def stream_avro_records(spark: SparkSession, avro_dir: str) -> DataFrame:
    """Streaming Avro-container record ingest from a drop directory of
    ``<doc_id>.avro`` files — byte-for-byte the batch walker
    (sources/archives.parse_avro_records), extending the archive-stream
    matrix (WARC, tar.gz, ZIP, Avro). A malformed container fails its
    micro-batch loudly (the ValueError discipline)."""
    import os as _os

    from mapreduce__spark.sources.archives import parse_avro_records

    raw = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, "
            "length bigint, content binary"
        )
        .option("pathGlobFilter", "*.avro")
        .option("maxFilesPerTrigger", 8)
        .load(avro_dir)
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            out = {
                "doc_id": [], "rec": [], "rec_id": [],
                "name": [], "score": [],
            }
            for path, content in zip(pdf["path"], pdf["content"]):
                doc_id = int(_os.path.basename(path).split(".")[0])
                for rec, vals in parse_avro_records(bytes(content)):
                    out["doc_id"].append(doc_id)
                    out["rec"].append(rec)
                    out["rec_id"].append(vals["id"])
                    out["name"].append(vals["name"])
                    out["score"].append(vals["score"])
            yield pd.DataFrame(out)

    return raw.select("path", "content").mapInPandas(
        gen,
        schema=(
            "doc_id bigint, rec bigint, rec_id bigint, name string, "
            "score bigint"
        ),
    )
