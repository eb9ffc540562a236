"""Structured Streaming equivalence: replaying the events table through
readStream (AvailableNow) must reproduce the batch window aggregates —
Spark's exactly-once guarantee replaces the reference's racy
shuffle-termination heuristic (MapReduceFramework.cpp:394-406)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from mapreduce__spark.plans.tier2_events import events_tumbling_window, sessionization
from mapreduce__spark.sources import load_table
from mapreduce__spark.streaming import (
    read_events_stream,
    run_stream_to_memory,
    stream_dedup_first,
    stream_sessionized,
    stream_static_join,
    stream_stream_interval_join,
    stream_tumbling_counts,
    stream_user_totals_stateful,
    stream_user_totals_tws,
)


def test_stream_tumbling_equals_batch(spark, sf_small):
    sdf = stream_tumbling_counts(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_tumble", output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in spark.table("t_tumble").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in events_tumbling_window(spark, sf_small).collect()
    }
    assert got == want


def test_stream_sessions_match_batch_starts(spark, sf_small):
    """session_window sessions must agree with the batch lag/cumsum
    sessionization on (user, session_start, n_events)."""
    sdf = stream_sessionized(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_sess", output_mode="complete")
    got = {
        (r.user_id, r.session_start, r.n_events) for r in spark.table("t_sess").collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in sessionization(spark, sf_small).collect()
    }
    assert got == want


def test_stream_stateful_totals(spark, sf_small):
    """applyInPandasWithState running totals: the LAST update emitted per
    user must equal the batch aggregate."""
    sdf = stream_user_totals_stateful(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_state", output_mode="update")
    # 'update' mode appends one row per user per batch; the final state is
    # the max-n row per user.
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.table("t_state")
        .groupBy("user_id")
        .agg(
            F.max(F.struct("n_events", "sum_value")).alias("s")
        )
        .select("user_id", "s.n_events", "s.sum_value")
        .collect()
    }
    ev = load_table(spark, sf_small, "events")
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_stream_stateful_totals_tws(spark, sf_small):
    """transformWithStateInPandas running totals must converge to the same
    per-user batch aggregate as the applyInPandasWithState twin.

    The operator's worker protocol needs google.protobuf — PySpark
    4.1.2's generated StateMessage_pb2 validates the runtime against the
    protoc it was built with, so the exact constraint is
    `protobuf>=6.33.0,<7` (runtime_version.ValidateProtobufRuntimeVersion
    at pyspark/sql/streaming/proto/StateMessage_pb2.py:29). This sandbox
    ships no protobuf and forbids pip installs, so the missing dependency
    is an EXPECTED environment failure (xfail), not an optional skip; on
    any cluster image carrying protobuf>=6.33.0,<7 the test runs and must
    pass (strict). The GroupState twin's test always runs."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        pytest.xfail(
            "transformWithStateInPandas worker protocol requires "
            "protobuf>=6.33.0,<7 (StateMessage_pb2 runtime validation); "
            "not installed in this environment and pip installs are "
            "forbidden — a CORE dependency in pyproject.toml since round "
            "11, so any pip-installed environment has it and this test "
            "must pass there"
        )
    sdf = stream_user_totals_tws(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_tws", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.table("t_tws")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
        .select("user_id", "s.n_events", "s.sum_value")
        .collect()
    }
    ev = load_table(spark, sf_small, "events")
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_stream_static_join_equals_batch(spark, sf_small):
    dim = load_table(spark, sf_small, "customer").select("c_custkey", "c_mktsegment")
    sdf = stream_static_join(read_events_stream(spark, sf_small), dim)
    run_stream_to_memory(sdf, "t_ssj", output_mode="append")
    got = spark.table("t_ssj")
    ev = load_table(spark, sf_small, "events")
    want = ev.join(dim, ev.user_id == dim.c_custkey, "inner")
    assert got.count() == want.count()
    assert {(r.event_id, r.c_mktsegment) for r in got.collect()} == {
        (r.event_id, r.c_mktsegment) for r in want.collect()
    }


def test_stream_stream_interval_join_equals_batch(spark, sf_small):
    """Stream-stream interval join (purchases x clicks within 1h) must
    reproduce the batch interval join under full replay."""
    ev_stream = read_events_stream(spark, sf_small)
    sdf = stream_stream_interval_join(
        ev_stream.where(F.col("event_type") == "purchase"),
        ev_stream.where(F.col("event_type") == "click"),
    )
    run_stream_to_memory(sdf, "t_ssij", output_mode="append")
    got = {(r.p_id, r.c_id) for r in spark.table("t_ssij").collect()}

    ev = load_table(spark, sf_small, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_id"), F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    want = {
        (r.p_id, r.c_id)
        for r in p.join(
            c,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") <= F.col("p_ts"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 hour")),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_stream_incremental_checkpoint_exactly_once(spark, sf_small, tmp_path):
    """File-source incremental processing under a checkpoint: replaying
    with the same checkpoint processes nothing new; newly-arrived files
    are processed exactly once (the exactly-once story the reference's
    racy shuffle-termination heuristic lacks)."""
    src = tmp_path / "incoming"
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    ev = load_table(spark, sf_small, "events").select("event_id", "user_id", "value")
    # stage 4 shards; first drop 2 of them
    shards = ev.randomSplit([0.25, 0.25, 0.25, 0.25], seed=7)
    for i, s in enumerate(shards[:2]):
        s.coalesce(1).write.mode("overwrite").parquet(str(src / f"batch{i}"))

    def run_once():
        sdf = (
            spark.readStream.schema("event_id bigint, user_id bigint, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        )
        q = (
            sdf.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()

    run_once()
    first = spark.read.parquet(sink).count()
    assert first == shards[0].count() + shards[1].count()
    run_once()  # same checkpoint, no new files -> no new rows
    assert spark.read.parquet(sink).count() == first
    for i, s in enumerate(shards[2:], start=2):
        s.coalesce(1).write.mode("overwrite").parquet(str(src / f"batch{i}"))
    run_once()  # only the new files are processed
    total = spark.read.parquet(sink).count()
    assert total == ev.count()
    ids = [r.event_id for r in spark.read.parquet(sink).select("event_id").collect()]
    assert len(ids) == len(set(ids))  # exactly once, no duplicates


def test_stream_dedup_one_per_key(spark, sf_small):
    """Streaming dropDuplicates keeps exactly one event per (user, type)
    present in the batch table."""
    sdf = stream_dedup_first(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_dedup", output_mode="append")
    got = spark.table("t_dedup")
    ev = load_table(spark, sf_small, "events")
    want_keys = {
        (r.user_id, r.event_type)
        for r in ev.select("user_id", "event_type").distinct().collect()
    }
    assert got.count() == len(want_keys)
    assert {
        (r.user_id, r.event_type) for r in got.select("user_id", "event_type").collect()
    } == want_keys


def test_stream_document_scrub_equals_batch(spark, sf_small):
    """The document preprocessing stages (PII scrub + quality gate) must
    produce bit-identical rows under readStream and batch — they are
    stateless maps sharing the same Column expressions."""
    from mapreduce__spark.functions.text import (
        gopher_keep_expr,
        pii_count_expr,
        pii_scrub_expr,
    )
    from mapreduce__spark.streaming.streams import (
        read_documents_stream,
        run_stream_to_memory,
        stream_quality_scrub,
    )

    sdf = stream_quality_scrub(read_documents_stream(spark, sf_small))
    run_stream_to_memory(sdf, "doc_scrub_stream")
    got = {
        (r.doc_id, r.clean_text, r.n_pii, r.keep)
        for r in spark.table("doc_scrub_stream").collect()
    }

    docs = load_table(spark, sf_small, "documents")
    clean = pii_scrub_expr(F.col("text"))
    batch = docs.select(
        "doc_id",
        clean.alias("clean_text"),
        pii_count_expr(F.col("text")).alias("n_pii"),
        gopher_keep_expr(clean).alias("keep"),
    ).where(F.col("keep"))
    want = {(r.doc_id, r.clean_text, r.n_pii, r.keep) for r in batch.collect()}
    assert got == want and len(got) > 0


def test_stream_dedup_docs_one_per_fingerprint(spark, sf_small):
    """Streaming exact dedup must keep exactly one doc per content hash —
    same fingerprint set as the batch dedup operator."""
    from mapreduce__spark.operators.dedup import exact_duplicate_groups
    from mapreduce__spark.streaming.streams import (
        read_documents_stream,
        run_stream_to_memory,
        stream_dedup_docs,
    )

    sdf = stream_dedup_docs(read_documents_stream(spark, sf_small))
    run_stream_to_memory(sdf, "doc_dedup_stream", output_mode="update")
    got = spark.table("doc_dedup_stream").collect()
    got_fps = {r.fp for r in got}
    assert len(got) == len(got_fps)  # exactly one survivor per hash

    batch = exact_duplicate_groups(load_table(spark, sf_small, "documents"))
    want_fps = {r.fp for r in batch.collect()}
    assert got_fps == want_fps and len(got_fps) > 0


def test_stream_upsert_sink_equals_sequential_batch_merge(spark, sf_small, tmp_path):
    """The foreachBatch upsert sink (versioned snapshots + atomic pointer)
    must converge to exactly the state of applying the same change batches
    sequentially in batch mode — and re-running with the same checkpoint
    must process nothing new (idempotent commit)."""
    import os as _os

    from mapreduce__spark.operators.cdc import (
        apply_changes,
        current_snapshot_path,
        read_snapshot,
        stream_upsert_sink,
    )

    o = load_table(spark, sf_small, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    # batch 0: upsert every %3 key (price+1); batch 1: delete every %9 key
    # (seq 0), then upsert every %5 key (seq 1) — keys divisible by both
    # carry a D+U pair inside ONE micro-batch, so the test exercises the
    # seq_col compaction path (without seq_col such a batch is rejected
    # as ambiguous), plus overlapping keys ACROSS batches so out-of-order
    # application is caught too.
    b0 = o.where(F.col("o_orderkey") % 3 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(0).alias("seq"),
    )
    b1_del = o.where(F.col("o_orderkey") % 9 == 0).select(
        "o_orderkey", F.col("o_totalprice"), F.lit("D").alias("op"), F.lit(0).alias("seq")
    )
    b1_up = o.where(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_totalprice") + 2.0).alias("o_totalprice"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    b1 = b1_del.unionByName(b1_up)

    src = tmp_path / "changes"
    src.mkdir()
    b0.coalesce(1).write.parquet(str(src / "batch0"))
    b1.coalesce(1).write.parquet(str(src / "batch1"))
    # FileStreamSource orders files by modification time — pin it.
    t0 = 1_700_000_000
    for i, d in enumerate(("batch0", "batch1")):
        for f in _os.listdir(src / d):
            _os.utime(src / d / f, (t0 + i, t0 + i))

    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    sdf = (
        spark.readStream.schema(
            "o_orderkey bigint, o_totalprice double, op string, seq int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_upsert_sink(sdf, "o_orderkey", state_root, ckpt, seq_col="seq")
    q.awaitTermination(120)
    if q.isActive:
        q.stop()

    got = {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in read_snapshot(spark, state_root).collect()
    }
    # sequential batch-mode application of the same two batches
    base = spark.createDataFrame([], "o_orderkey bigint, o_totalprice double")
    base = apply_changes(base, b0, "o_orderkey", seq_col="seq")
    base = apply_changes(base, b1, "o_orderkey", seq_col="seq")
    want = {(r.o_orderkey, round(r.o_totalprice, 2)) for r in base.collect()}
    assert got == want and want

    # replay with the same checkpoint: no new batches, same pointer
    before = current_snapshot_path(state_root)
    q2 = stream_upsert_sink(sdf, "o_orderkey", state_root, ckpt, seq_col="seq")
    q2.awaitTermination(60)
    if q2.isActive:
        q2.stop()
    assert current_snapshot_path(state_root) == before

    # time travel: version 0 is the batch-0-only state (b1's deletes and
    # upserts absent), and the pointer read equals the newest version
    from mapreduce__spark.operators.cdc import read_snapshot

    v0 = {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in read_snapshot(spark, state_root, version=0).collect()
    }
    want_v0 = {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in apply_changes(
            spark.createDataFrame([], "o_orderkey bigint, o_totalprice double"),
            b0,
            "o_orderkey",
            seq_col="seq",
        ).collect()
    }
    assert v0 == want_v0 and v0 != got
    cur = {
        (r.o_orderkey, round(r.o_totalprice, 2))
        for r in read_snapshot(spark, state_root).collect()
    }
    assert cur == got


def test_watermark_drops_late_event(spark, tmp_path):
    """TRUE watermark semantics — the one place stream and batch twins
    legitimately diverge: an event arriving after its window's state was
    emitted and evicted is DROPPED from the streaming aggregate but
    present in the batch aggregate.

    The choreography needs THREE micro-batches because watermark effects
    lag one batch (the watermark computed at batch N's commit governs
    batch N+1, and eviction happens at N+1's commit): batch 0 fills
    window 01:00 and pushes event time to 12:00; batch 1 runs under the
    resulting 10:00 watermark, so its commit EMITS and EVICTS window
    01:00 with only the on-time row; batch 2's late 01:20 row then finds
    no state and is discarded (numRowsDroppedByWatermark). A late row
    delivered one batch earlier — before eviction — would legally still
    be aggregated; that is watermark semantics, not a bug, and exactly
    why the test pins the post-eviction case."""
    import datetime
    import os as _os

    from mapreduce__spark.streaming.streams import stream_tumbling_counts

    schema = "event_id bigint, ts timestamp, event_type string, value double"
    base = "2024-03-01 "
    batches = [
        [(1, base + "01:10:00", "click", 1.0), (2, base + "12:00:00", "click", 1.0)],
        [(3, base + "12:10:00", "click", 1.0)],
        [(4, base + "01:20:00", "click", 99.0)],  # late; must be dropped
    ]
    src = tmp_path / "late_events"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(
            [(e, datetime.datetime.fromisoformat(t), ty, v) for e, t, ty, v in rows],
            schema,
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
    t0 = 1_700_000_000
    for i in range(len(batches)):
        for f in _os.listdir(src / f"b{i}"):
            _os.utime(src / f"b{i}" / f, (t0 + i, t0 + i))

    sdf = stream_tumbling_counts(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(f"{src}/*")
    )
    q = (
        sdf.writeStream.format("memory")
        .queryName("t_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    if q.isActive:
        q.stop()
    dropped = sum(
        so["numRowsDroppedByWatermark"]
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1
    got = {
        (r.window_start.isoformat(), r.n_events, r.sum_value)
        for r in spark.table("t_late").collect()
    }
    # window 01:00 closed with ONLY the on-time row; the late 99.0 never
    # entered it
    assert ("2024-03-01T01:00:00", 1, 1.0) in got
    assert not any(n == 2 for _, n, _ in got)
    # batch over the same files DOES count both rows for that window —
    # the documented stream/batch divergence under lateness
    batch = spark.read.parquet(f"{src}/*")
    n = batch.where(
        F.col("ts").between("2024-03-01 01:00:00", "2024-03-01 01:59:59")
    ).count()
    assert n == 2


def test_stateful_totals_carry_across_micro_batches(spark, sf_small, tmp_path):
    """State must persist ACROSS micro-batches, not just within one: the
    staged single-file source yields exactly one batch, so every other
    stateful test exercises only intra-batch accumulation. Split events
    into three shards (maxFilesPerTrigger=1 -> three micro-batches) and
    check the applyInPandasWithState running totals still converge to
    the batch aggregate — the state-store carry contract itself."""
    import os as _os

    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_user_totals_stateful,
    )

    ev = load_table(spark, sf_small, "events").select("user_id", "value")
    src = tmp_path / "shards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=11)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("user_id bigint, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_user_totals_stateful(sdf), "t_state_multi", output_mode="update"
    )
    # update mode emits one row per user per batch it appears in; the
    # final state is the max-n row per user.
    got = {
        r.user_id: (r.n_events, r.sum_value)
        for r in spark.table("t_state_multi")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "sum_value")).alias("s"))
        .select("user_id", "s.n_events", "s.sum_value")
        .collect()
    }
    want = {
        r.user_id: (r.n, round(r.total, 2))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
        .collect()
    }
    assert got == want


def test_stream_weighted_sample_equals_batch(spark, sf_small):
    """The deterministic weighted sampler is stateless and hash-decided, so
    a full stream replay must keep EXACTLY the batch query's rows — same
    ids, same columns (the two sides share one expression source)."""
    from mapreduce__spark.plans.tier2_pipeline import weighted_sample
    from mapreduce__spark.streaming.streams import (
        read_documents_stream,
        run_stream_to_memory,
        stream_weighted_sample,
    )

    sdf = stream_weighted_sample(read_documents_stream(spark, sf_small))
    run_stream_to_memory(sdf, "doc_wsample_stream")
    got = {
        (r.doc_id, r.source, r.n_words, r.weight_millis)
        for r in spark.table("doc_wsample_stream").collect()
    }
    want = {
        (r.doc_id, r.source, r.n_words, r.weight_millis)
        for r in weighted_sample(spark, sf_small).collect()
    }
    assert got == want and len(got) > 0


def test_streaming_chain_source_transform_cdc_across_restart(spark, tmp_path):
    """End-to-end composition of the three streaming pieces (round-6
    VERDICT item 7), previously only tested in isolation: the synthdocs
    custom streaming source (replayable offsets + cursor file) feeds
    stream_weighted_sample, which feeds the CDC foreachBatch upsert sink —
    across a mid-corpus stop and a RESTART on the same checkpoint.
    Exactly-once is asserted two ways: the final snapshot equals the batch
    twin over the whole corpus, and every committed version strictly grows
    the key set (a re-delivered batch would commit a version adding no new
    keys)."""
    import json as _json
    import os as _os

    from mapreduce__spark.operators.cdc import read_snapshot, stream_upsert_sink
    from mapreduce__spark.sources.pydatasource import _doc_text, register
    from mapreduce__spark.streaming.streams import stream_weighted_sample

    register(spark)
    cursor = tmp_path / "cursor"
    state_root = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    N, WORDS = 40, 400  # 400 words -> keep probability 40%: non-vacuous sample

    def transform(docs):
        # synthdocs has no source column; derive one the way an ingest
        # job tags its feed, then run the REAL sampling transform
        tagged = docs.withColumn(
            "source", F.concat(F.lit("feed-"), (F.col("doc_id") % 4).cast("string"))
        )
        return stream_weighted_sample(tagged).withColumn("op", F.lit("U"))

    def run_until_drained(max_rows: int) -> None:
        sdf = (
            spark.readStream.format("synthdocs")
            .option("max_rows", max_rows)
            .option("rows_per_batch", 10)
            .option("partitions", 2)
            .option("words_per_doc", WORDS)
            .option("cursor_file", str(cursor))
            .load()
        )
        # availableNow snapshots "available" at query start; the source
        # pages latestOffset by rows_per_batch, so drain with bounded
        # re-runs exactly like an operator retrying a stopped ingest job
        for _ in range(max_rows // 10 + 2):
            q = stream_upsert_sink(transform(sdf), "doc_id", state_root, ckpt)
            q.awaitTermination(120)
            if q.isActive:
                q.stop()
            if int(cursor.read_text() or 0) >= max_rows:
                break
        assert int(cursor.read_text()) >= max_rows

    run_until_drained(20)   # phase 1: half the corpus, then "crash"
    mid = {r.doc_id for r in read_snapshot(spark, state_root).collect()}
    run_until_drained(N)    # restart: same checkpoint + cursor

    # batch twin over the full corpus (same transform, batch relation)
    batch_docs = spark.createDataFrame(
        [(i, _doc_text(i, WORDS)) for i in range(N)], "doc_id bigint, text string"
    )
    want = {
        (r.doc_id, r.source, r.n_words, r.weight_millis)
        for r in transform(batch_docs).drop("op").collect()
    }
    got = {
        (r.doc_id, r.source, r.n_words, r.weight_millis)
        for r in read_snapshot(spark, state_root).collect()
    }
    assert got == want and want
    assert mid < {g[0] for g in got}  # restart added docs, dropped none

    # every committed version strictly grows the key set — a re-delivered
    # micro-batch would add no new keys and fail here
    versions = sorted(
        (d for d in _os.listdir(state_root) if d.startswith("v")),
        key=lambda d: int(d[1:]),
    )
    prev: set = set()
    for v in versions:
        keys = {r.doc_id for r in read_snapshot(
            spark, state_root, version=int(v[1:])
        ).collect()}
        assert prev < keys, f"version {v} added no new keys (re-delivery?)"
        prev = keys


def test_stream_ewma_matches_sequential_reference(spark, sf_small):
    """The stateful streaming EWMA must reproduce a sequential reference
    applying the identical recurrence (cents, add, halve) in the same
    (ts, event_id) order — bit-exact, since every float op is fixed."""
    from mapreduce__spark.streaming.streams import stream_user_ewma

    sdf = stream_user_ewma(read_events_stream(spark, sf_small))
    run_stream_to_memory(sdf, "t_ewma", output_mode="update")
    got = {
        r.user_id: (r.n_events, r.ewma_value)
        for r in spark.table("t_ewma")
        .groupBy("user_id")
        .agg(F.max(F.struct("n_events", "ewma_value")).alias("s"))
        .select("user_id", "s.n_events", "s.ewma_value")
        .collect()
    }
    ev = (
        load_table(spark, sf_small, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    )
    from decimal import ROUND_HALF_UP, Decimal

    want: dict = {}
    for r in sorted(ev, key=lambda r: (r.user_id, r.ts, r.event_id)):
        # independent HALF_UP shortest-decimal quantization — the BATCH
        # twin's F.round convention, asserted here rather than mirroring
        # whatever the streaming implementation does (round-7 advice 4:
        # the old reference used Python round(), half-to-even, same as
        # the then-buggy implementation — a mirrored bug, not a check)
        vc = float(
            Decimal(repr(r.value * 100.0)).quantize(
                Decimal(1), rounding=ROUND_HALF_UP
            )
        )
        e, n = want.get(r.user_id, (None, 0))
        e = vc if n == 0 else (vc + e) / 2.0
        want[r.user_id] = (e, n + 1)
    # raw division on both sides (no round — see events_ewma's tie note)
    want = {u: (n, e / 100.0) for u, (e, n) in want.items()}
    assert got == want and want


def test_stream_quantile_histogram_equals_batch(spark, sf_small, tmp_path):
    """The stateful histogram percentiles must converge to the batch
    incremental_percentiles result across MULTIPLE micro-batches (three
    file shards, maxFilesPerTrigger=1), since the whole point is that
    merging per-batch histograms loses nothing: the final emission per
    event_type (max n_rows) must equal the batch query's row exactly —
    the percentile values are original doubles, no tolerance needed."""
    import os as _os

    from mapreduce__spark.plans.tier1 import incremental_percentiles
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_quantile_histogram,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    src = tmp_path / "qshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=23)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_quantile_histogram(sdf), "t_qhist_stream", output_mode="update"
    )
    got = {
        r.event_type: (r.n_rows, r.p50, r.p90, r.p99)
        for r in spark.table("t_qhist_stream")
        .groupBy("event_type")
        .agg(F.max(F.struct("n_rows", "p50", "p90", "p99")).alias("s"))
        .select("event_type", "s.n_rows", "s.p50", "s.p90", "s.p99")
        .collect()
    }
    want = {
        r.event_type: (r.n_rows, r.p50, r.p90, r.p99)
        for r in incremental_percentiles(spark, sf_small).collect()
    }
    assert got == want and len(got) > 0


def test_stream_cusum_converges_across_batches(spark, sf_small, tmp_path):
    """The stateful streaming CUSUM (textbook max(0, s + d) fold over the
    state's per-day histogram, fixed reference k) must converge across
    THREE micro-batches to the same final statistic as a sequential
    reference over the complete data — day counts split arbitrarily
    across batches, so only the merge-then-recompute design makes this
    hold. The recurrence here and the batch twin's prefix-min identity
    (cusum_drift) are independent formulations of the same statistic."""
    import os as _os

    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_cusum,
    )

    K, H = 10, 5
    ev = load_table(spark, sf_small, "events").select("event_type", "ts")
    src = tmp_path / "cshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=31)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_cusum(sdf, k=K, h_mult=H), "t_cusum_stream", output_mode="update"
    )
    got = {
        r.event_type: (r.n_days, r.final_cusum, r.n_alarms)
        for r in spark.table("t_cusum_stream")
        .groupBy("event_type")
        .agg(F.max(F.struct("n_days", "final_cusum", "n_alarms")).alias("s"))
        .select("event_type", "s.n_days", "s.final_cusum", "s.n_alarms")
        .collect()
    }
    # sequential reference over the COMPLETE series, same recurrence
    rows = ev.select(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).collect()
    hist: dict = {}
    for r in rows:
        hist.setdefault(r.event_type, {})
        hist[r.event_type][r.day] = hist[r.event_type].get(r.day, 0) + 1
    want = {}
    for et, h in hist.items():
        s = 0
        alarms = 0
        for day in sorted(h):
            s = max(0, s + (h[day] - K))
            if s > H * K:
                alarms += 1
        want[et] = (len(h), s, alarms)
    assert got == want and len(got) >= 3


def test_stream_mg_heavy_hitters_guarantees(spark, sf_small, tmp_path):
    """The streaming Misra-Gries summary must satisfy BOTH classic
    guarantees against exact ground truth after three micro-batches:
    (a) completeness — every user whose true count exceeds N/(cap+1) per
    event_type appears in the final summary; (b) bounded undercount —
    every emitted counter is <= its true count and short by at most
    N/(cap+1). Batch-by-batch application IS MG over the concatenated
    stream, so the bounds hold stream-wide."""
    import os as _os

    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_mg_heavy_hitters,
    )

    CAP = 15  # small cap so the decrement path actually fires
    ev = load_table(spark, sf_small, "events").select("event_type", "user_id")
    src = tmp_path / "hhshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=47)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_mg_heavy_hitters(sdf, cap=CAP), "t_hh_stream", output_mode="update"
    )
    # final summary = rows carrying each event_type's max n_seen
    all_rows = spark.table("t_hh_stream").collect()
    max_seen: dict = {}
    for r in all_rows:
        max_seen[r.event_type] = max(max_seen.get(r.event_type, 0), r.n_seen)
    got: dict = {}
    for r in all_rows:
        if r.n_seen == max_seen[r.event_type]:
            got.setdefault(r.event_type, {})[r.user_id] = (r.est, r.n_seen)

    truth: dict = {}
    for r in ev.groupBy("event_type", "user_id").count().collect():
        truth.setdefault(r.event_type, {})[r.user_id] = r["count"]

    assert set(got) == set(truth)
    checked_any = False
    for et, users in truth.items():
        n_total = sum(users.values())
        bound = n_total / (CAP + 1)
        summary = got[et]
        # (a) completeness for true heavy hitters
        for u, c in users.items():
            if c > bound:
                assert u in summary, (et, u, c, bound)
                checked_any = True
        # (b) bounded undercount for everything emitted
        for u, (est, n_seen) in summary.items():
            assert n_seen == n_total
            assert est <= users[u]
            assert users[u] - est <= bound, (et, u, est, users[u], bound)
    assert checked_any  # the fixture must actually exercise guarantee (a)


def test_stream_dd_quantiles_matches_batch(spark, sf_small, tmp_path):
    """The DDSketch state fold is a commutative-monoid merge, so the
    final emission must match the batch quantile_sketch_values output
    regardless of how rows split across micro-batches. Bucketing runs
    through the same Spark expressions on both sides, so n_rows and
    bucket picks are exactly equal; the midpoint estimates go through
    Python pow (stream) vs JVM pow (batch) — both correctly-rounded on
    this data in practice, compared at 1e-12 relative to be safe."""
    import os as _os

    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_dd_quantiles,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "value")
    src = tmp_path / "ddshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=31)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_dd_quantiles(sdf), "t_dd_stream", output_mode="update"
    )
    rows = spark.table("t_dd_stream").collect()
    final = {}
    for r in rows:
        if r.event_type not in final or r.n_rows > final[r.event_type].n_rows:
            final[r.event_type] = r

    want = {
        r.event_type: r
        for r in REGISTRY["quantile_sketch_values"].fn(spark, sf_small).collect()
    }
    assert set(final) == set(want) and len(want) >= 3
    for et, w in want.items():
        g = final[et]
        assert g.n_rows == w.n_rows
        for col in ("p50_est", "p90_est", "p99_est"):
            assert abs(g[col] - w[col]) <= 1e-12 * abs(w[col]), (et, col)


def test_stream_cusum_final_emission_equals_batch_fold(spark, sf_small, tmp_path):
    """The driver-attested stream_cusum_fold query must equal the actual
    stream's FINAL emission per event_type over random micro-batch
    splits — the merge-then-recompute convergence claim, now pinned
    against the same code path the driver hashes."""
    import os as _os

    from mapreduce__spark.plans import REGISTRY
    from mapreduce__spark.streaming.streams import run_stream_to_memory, stream_cusum

    ev = load_table(spark, sf_small, "events").select("event_type", "ts")
    src = tmp_path / "cfshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=59)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_cusum(sdf), "t_cusum_fold_stream", output_mode="update"
    )
    rows = spark.table("t_cusum_fold_stream").collect()
    final = {}
    for r in rows:
        if r.event_type not in final or r.n_days > final[r.event_type][0]:
            final[r.event_type] = (r.n_days, r.final_cusum, r.n_alarms)

    want = {
        r.event_type: (r.n_days, r.final_cusum, r.n_alarms)
        for r in REGISTRY["stream_cusum_fold"].fn(spark, sf_small).collect()
    }
    assert final == want and len(want) >= 3


def test_stream_countmin_final_state_equals_batch_sketch(spark, sf_small, tmp_path):
    """Cell counts are an additive monoid, so the stream's final sketch
    per event_type must equal the batch count-min build of the whole
    series — exact cell-for-cell, over random micro-batch splits."""
    import os as _os

    from mapreduce__spark.operators.qsketch import countmin_build
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_countmin,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "user_id")
    src = tmp_path / "cmshards"
    src.mkdir()
    t0 = 1_700_000_000
    for i, s in enumerate(ev.randomSplit([1.0, 1.0, 1.0], seed=83)):
        d = src / f"b{i}"
        s.coalesce(1).write.parquet(str(d))
        for f in _os.listdir(d):
            _os.utime(d / f, (t0 + i, t0 + i))

    sdf = (
        spark.readStream.schema("event_type string, user_id bigint")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    run_stream_to_memory(
        stream_countmin(sdf), "t_cm_stream", output_mode="update"
    )
    rows = spark.table("t_cm_stream").collect()
    # final state per event_type = the emission with the largest total
    totals: dict = {}
    for r in rows:
        totals[r.event_type] = max(
            totals.get(r.event_type, 0),
            sum(x.n for x in rows if x.event_type == r.event_type),
        )
    # the per-update emission carries the WHOLE live sketch, so the
    # final state is the last (largest-mass) emission; reconstruct it
    # as the max n per (event_type, row, col) — counts only grow
    final: dict = {}
    for r in rows:
        k = (r.event_type, r.row, r.col)
        final[k] = max(final.get(k, 0), r.n)

    want: dict = {}
    for et_row in ev.select("event_type").distinct().collect():
        et = et_row.event_type
        sub = ev.where(F.col("event_type") == et).select(
            F.col("user_id").cast("string").alias("tok")
        )
        for r in countmin_build(sub).collect():
            want[(et, r.row, r.col)] = r.n
    assert final == want and len(want) > 20


def test_stream_warc_ingest_equals_batch(spark, tmp_path):
    """The WARC drop-directory stream must produce exactly the batch
    parser's rows: stage one .warc file per doc, drain with AvailableNow,
    and compare against parse_warc_records run directly — the
    batch/stream seam for archive ingest (round 11)."""
    from mapreduce__spark.sources.archives import (
        parse_warc_records,
        synth_warc_bytes,
    )
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_warc_records,
    )

    d = tmp_path / "drop"
    d.mkdir()
    expect = set()
    for doc_id in range(24):
        payload = synth_warc_bytes(doc_id)
        (d / f"{doc_id}.warc").write_bytes(payload)
        for rec, uri, status, nch, h in parse_warc_records(payload):
            expect.add((doc_id, rec, uri, status, nch, h))

    sdf = stream_warc_records(spark, str(d))
    run_stream_to_memory(sdf, "t_warc", output_mode="append")
    got = {
        (r.doc_id, r.rec, r.uri, r.status, r.body_chars, r.body_hash)
        for r in spark.table("t_warc").collect()
    }
    assert got == expect and len(got) >= 48


def test_stream_targz_ingest_equals_batch(spark, tmp_path):
    """The tar.gz drop-directory stream produces exactly the batch
    walker's rows across the multi-member-gzip and FHCRC fixture
    variants — the archive-ingest batch/stream seam extended to the
    third container format."""
    from mapreduce__spark.sources.archives import (
        parse_targz_members,
        synth_targz_bytes,
    )
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_targz_members,
    )

    d = tmp_path / "drop"
    d.mkdir()
    expect = set()
    for doc_id in range(20):
        payload = synth_targz_bytes(doc_id)
        (d / f"{doc_id}.tar.gz").write_bytes(payload)
        for name, usize, h in parse_targz_members(payload):
            expect.add((doc_id, name, usize, h))

    sdf = stream_targz_members(spark, str(d))
    run_stream_to_memory(sdf, "t_targz", output_mode="append")
    got = {
        (r.doc_id, r.member, r.usize, r.text_hash)
        for r in spark.table("t_targz").collect()
    }
    assert got == expect and len(got) >= 40


def test_stream_zip_ingest_equals_batch(spark, tmp_path):
    """The ZIP drop-directory stream produces exactly the batch
    extractor's rows (stored + DEFLATE members, CRC verified) —
    completing the archive batch/stream matrix."""
    from mapreduce__spark.sources.archives import (
        parse_zip_members,
        synth_zip_bytes,
    )
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_zip_members,
    )

    d = tmp_path / "drop"
    d.mkdir()
    expect = set()
    for doc_id in range(20):
        payload = synth_zip_bytes(doc_id)
        (d / f"{doc_id}.zip").write_bytes(payload)
        for name, method, usize, crc_ok, h in parse_zip_members(payload):
            expect.add((doc_id, name, method, usize, crc_ok, h))

    sdf = stream_zip_members(spark, str(d))
    run_stream_to_memory(sdf, "t_zipm", output_mode="append")
    got = {
        (r.doc_id, r.member, r.method, r.usize, r.crc_ok, r.text_hash)
        for r in spark.table("t_zipm").collect()
    }
    assert got == expect and len(got) >= 40


def test_stream_avro_ingest_equals_batch(spark, tmp_path):
    """The Avro drop-directory stream produces exactly the batch
    walker's rows across the codec/field-order/multi-block fixture
    variants — the archive batch/stream matrix extended to the fourth
    container format (round 12)."""
    from mapreduce__spark.sources.archives import (
        parse_avro_records,
        synth_avro_bytes,
    )
    from mapreduce__spark.streaming.streams import (
        run_stream_to_memory,
        stream_avro_records,
    )

    d = tmp_path / "drop"
    d.mkdir()
    expect = set()
    for doc_id in range(20):
        payload = synth_avro_bytes(doc_id)
        (d / f"{doc_id}.avro").write_bytes(payload)
        for rec, vals in parse_avro_records(payload):
            expect.add((doc_id, rec, vals["id"], vals["name"], vals["score"]))

    sdf = stream_avro_records(spark, str(d))
    run_stream_to_memory(sdf, "t_avro", output_mode="append")
    got = {
        (r.doc_id, r.rec, r.rec_id, r.name, r.score)
        for r in spark.table("t_avro").collect()
    }
    assert got == expect and len(got) >= 40


def test_batch_cm_fold_equals_countmin_build(spark, sf_small):
    """Round-13 (round-12 VERDICT item 5): the driver-attested
    batch_cm_fold — the state store's dict fold run batch-side — must
    equal the Spark-native countmin_build of the same per-event_type
    series cell-for-cell: the fold and the declarative build are two
    implementations of the same additive monoid."""
    from mapreduce__spark.operators.qsketch import countmin_build
    from mapreduce__spark.streaming.streams import batch_cm_fold

    ev = load_table(spark, sf_small, "events").select("event_type", "user_id")
    got = {
        (r.event_type, r.row, r.col): r.n
        for r in batch_cm_fold(ev).collect()
    }
    want: dict = {}
    for et_row in ev.select("event_type").distinct().collect():
        et = et_row.event_type
        sub = ev.where(F.col("event_type") == et).select(
            F.col("user_id").cast("string").alias("tok")
        )
        for r in countmin_build(sub).collect():
            want[(et, r.row, r.col)] = r.n
    assert got == want and len(want) > 20


def test_batch_quantile_fold_equals_dyadic_window(spark, sf_small):
    """The state-store fold + walk (batch_quantile_fold) and the Spark
    window walk (quantile_sketch_dyadic) compute the same dyadic bucket
    picks — identical output rows, two execution strategies."""
    from mapreduce__spark.plans import REGISTRY

    cols = [
        "event_type", "n_rows",
        "p50_lo_cents", "p50_hi_cents",
        "p90_lo_cents", "p90_hi_cents",
        "p99_lo_cents", "p99_hi_cents",
    ]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in REGISTRY["stream_quantile_fold"].fn(spark, sf_small).collect()
    )
    want = sorted(
        tuple(r[c] for c in cols)
        for r in REGISTRY["quantile_sketch_dyadic"].fn(spark, sf_small).collect()
    )
    assert got == want and len(want) >= 3


def test_batch_mg_fold_guarantees(spark, sf_small):
    """The weighted-MG fold keeps the classic deterministic guarantees
    per event_type: every user with true count > N/(cap+1) is present,
    and every kept counter underestimates its true count by at most
    N/(cap+1) (never overestimates)."""
    from mapreduce__spark.plans.tier2_events import MG_FOLD_CAP
    from mapreduce__spark.streaming.streams import batch_mg_fold

    ev = load_table(spark, sf_small, "events").select("event_type", "user_id")
    true = {
        (r.event_type, r.user_id): r.n
        for r in ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    totals: dict = {}
    for (et, _), n in true.items():
        totals[et] = totals.get(et, 0) + n
    kept = {
        (r.event_type, r.user_id): (r.est, r.n_seen)
        for r in batch_mg_fold(ev, cap=MG_FOLD_CAP).collect()
    }
    assert kept, "fold emitted nothing"
    for (et, u), (est, n_seen) in kept.items():
        assert n_seen == totals[et]
        t = true[(et, u)]
        assert est <= t, "MG counter may never overestimate"
        assert t - est <= totals[et] // (MG_FOLD_CAP + 1)
    for (et, u), t in true.items():
        if t > totals[et] / (MG_FOLD_CAP + 1):
            assert (et, u) in kept, f"heavy hitter {(et, u)} missing"
    # the cap must actually bind (otherwise the fold degenerates to an
    # exact count and the decrement path is untested at this scale)
    per_type_users: dict = {}
    for et, _ in true:
        per_type_users[et] = per_type_users.get(et, 0) + 1
    assert max(per_type_users.values()) > MG_FOLD_CAP


def test_stream_mg_single_batch_equals_batch_fold(spark, sf_small, tmp_path):
    """stream_mg_heavy_hitters fed the WHOLE series as one micro-batch
    must emit exactly batch_mg_fold's summary — the two twins share
    _mg_insert/_mg_batch_order verbatim, so this pins that neither side
    drifted from the shared fold (MG is order-dependent, which is why
    the shared deterministic order matters)."""
    from mapreduce__spark.plans.tier2_events import MG_FOLD_CAP
    from mapreduce__spark.streaming.streams import (
        batch_mg_fold,
        run_stream_to_memory,
        stream_mg_heavy_hitters,
    )

    ev = load_table(spark, sf_small, "events").select("event_type", "user_id")
    src = tmp_path / "mgone"
    ev.coalesce(1).write.parquet(str(src))
    sdf = spark.readStream.schema("event_type string, user_id bigint").parquet(
        str(src)
    )
    run_stream_to_memory(
        stream_mg_heavy_hitters(sdf, cap=MG_FOLD_CAP),
        "t_mg_one",
        output_mode="update",
    )
    got = sorted(
        (r.event_type, r.user_id, r.est, r.n_seen)
        for r in spark.table("t_mg_one").collect()
    )
    want = sorted(
        (r.event_type, r.user_id, r.est, r.n_seen)
        for r in batch_mg_fold(ev, cap=MG_FOLD_CAP).collect()
    )
    assert got == want and len(want) > 0
