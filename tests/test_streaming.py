"""Structured Streaming tests: stream-batch parity (the canonical way to
validate an incremental plan), cross-micro-batch state accumulation, and
the oracle check for the batch session-window query."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from bigdata_group4_app_spark.operators.relational import events_hourly
from bigdata_group4_app_spark.sources.registry import load_table
from bigdata_group4_app_spark.streaming import (
    event_sessions,
    hourly_counts_stream,
    running_user_totals,
    stream_events,
)

from .conftest import SF_SMOKE, check_registered


@pytest.fixture()
def events_dir(tmp_path):
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(f"{SF_SMOKE}/events.parquet", d / "part-000.parquet")
    return str(d)


def _run_to_memory(stream_df, name: str, output_mode: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_stream_matches_batch(spark, events_dir):
    stream = hourly_counts_stream(stream_events(spark, events_dir))
    _run_to_memory(stream, "hourly_sink", "complete")
    got = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM hourly_sink").collect()
    }
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_hourly(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_stateful_totals_accumulate_across_batches(spark, tmp_path):
    # split events into two files dropped sequentially: state must carry over
    src = load_table(spark, SF_SMOKE, "events")
    half1 = src.filter(F.col("event_id") % 2 == 0)
    half2 = src.filter(F.col("event_id") % 2 == 1)
    d = tmp_path / "incremental"
    d.mkdir()

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    drop(half1, "b1.parquet")
    stream = running_user_totals(stream_events(spark, str(d)))
    q = (
        stream.writeStream.format("memory")
        .queryName("totals_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        drop(half2, "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    # last emitted row per user = accumulated totals over BOTH batches
    latest = {}
    for r in spark.sql("SELECT * FROM totals_sink").collect():
        latest[r["user_id"]] = (r["n_events"], r["sum_value"])
    want = {
        r["user_id"]: (r["n"], round(r["s"], 4))
        for r in src.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert latest == want


def test_event_sessions_oracle(spark):
    check_registered(spark, "event_sessions", SF_SMOKE)


def test_session_stream_emits_closed_batch_sessions(spark, events_dir):
    """Append-mode session windows emit once the watermark passes them;
    every emitted session must appear verbatim in the batch result (the
    final, unclosed-at-watermark sessions legitimately stay in state)."""
    from bigdata_group4_app_spark.streaming import session_counts_stream

    stream = session_counts_stream(
        stream_events(spark, events_dir), watermark="0 seconds"
    )
    _run_to_memory(stream, "session_sink", "append")
    emitted = {
        (r["user_id"], r["session_start"]): (
            r["session_last"],
            r["n_events"],
            r["sum_value"],
        )
        for r in spark.sql("SELECT * FROM session_sink").collect()
    }
    batch = {
        (r["user_id"], r["session_start"]): (
            r["session_last"],
            r["n_events"],
            r["sum_value"],
        )
        for r in event_sessions(spark, SF_SMOKE).collect()
    }
    assert emitted, "no sessions emitted"
    for key, agg in emitted.items():
        assert batch.get(key) == agg
    # with a zero-delay watermark nearly everything closes: expect the
    # emitted set to be the batch set minus at most one open session/user
    n_users = len({u for u, _ in batch})
    assert len(emitted) >= len(batch) - n_users


def test_checkpoint_recovery_resumes_without_reprocessing(spark, tmp_path):
    """Kill a checkpointed query mid-stream, restart it, drop more data:
    the restarted query must pick up from the checkpoint (no duplicate
    processing of batch-1 files, state intact)."""
    from bigdata_group4_app_spark.streaming import hourly_counts_stream

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "ckpt_src"
    d.mkdir()
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    def start():
        stream = hourly_counts_stream(stream_events(spark, str(d)))
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # split by event TIME (streams arrive roughly time-ordered): windows the
    # watermark closes after batch 1 hold all their events, so their emitted
    # aggregates must equal the batch query over the full table
    split = src.agg(
        F.timestamp_micros(
            ((F.unix_micros(F.min("ts")) + F.unix_micros(F.max("ts"))) / 2).cast(
                "long"
            )
        ).alias("m")
    ).first()["m"]
    drop(src.filter(F.col("ts") < split), "b1.parquet")
    q = start()
    q.processAllAvailable()
    q.stop()

    drop(src.filter(F.col("ts") >= split), "b2.parquet")
    q = start()
    q.processAllAvailable()
    q.stop()

    # append-mode windows emit only once the watermark passes; with both
    # halves processed, every emitted (hour, type) row must match the batch
    # aggregate over the full table — duplicates would break the match
    got = spark.read.parquet(out).collect()
    want = {
        (r["hour"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in events_hourly(spark, SF_SMOKE).collect()
    }
    assert got, "nothing emitted after restart"
    seen = set()
    for r in got:
        key = (r["hour"], r["event_type"])
        assert key not in seen, f"duplicate emission for {key}"
        seen.add(key)
        assert want[key] == (r["n_events"], r["sum_value"])


def test_foreachbatch_dedup_sink_writes_each_key_once(spark, tmp_path):
    """Overlapping file drops (simulating at-least-once redelivery): the
    foreachBatch dedup sink must land every event_id exactly once."""
    from bigdata_group4_app_spark.streaming.sinks import start_dedup_append_sink

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "overlap_src"
    d.mkdir()
    out = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    total = src.count()
    third = total // 3
    drop(src.filter(F.col("event_id") < 2 * third), "b1.parquet")
    q = start_dedup_append_sink(
        stream_events(spark, str(d)), out, ckpt, ["event_id"]
    )
    try:
        q.processAllAvailable()
        # second drop overlaps the first by ~a third
        drop(src.filter(F.col("event_id") >= third), "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    written = spark.read.parquet(out)
    assert written.count() == total
    assert written.select("event_id").distinct().count() == total


def test_sliding_stream_matches_batch_windows(spark, events_dir):
    """Sliding-window stream parity: complete-mode counts must equal the
    batch F.window(size, slide) aggregation (each event in size/slide
    overlapping windows)."""
    from bigdata_group4_app_spark.streaming import sliding_counts_stream

    stream = sliding_counts_stream(stream_events(spark, events_dir))
    _run_to_memory(stream, "sliding_sink", "complete")
    got = {
        (r["win_start"], r["win_end"]): r["n_events"]
        for r in spark.sql("SELECT * FROM sliding_sink").collect()
    }
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .count()
        .select(
            F.col("w.start").alias("s"), F.col("w.end").alias("e"), "count"
        )
    )
    want = {(r["s"], r["e"]): r["count"] for r in batch.collect()}
    assert got == want


def test_stream_static_join_enriches_events(spark, events_dir):
    """Stream-static join: the static dim is re-read per micro-batch and
    joined without state — enriched rows must match the batch join."""
    cust = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = (
        stream_events(spark, events_dir)
        .join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory(enriched, "enriched_sink", "complete")
    got = {
        r["c_mktsegment"]: r["n"]
        for r in spark.sql("SELECT * FROM enriched_sink").collect()
    }
    want = {
        r["c_mktsegment"]: r["n"]
        for r in load_table(spark, SF_SMOKE, "events")
        .join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_dedup_drops_redelivered_rows(spark, tmp_path):
    """dropDuplicatesWithinWatermark: redelivered event_ids within the
    watermark horizon are suppressed by the dedup state store."""
    src = load_table(spark, SF_SMOKE, "events").limit(500)
    d = tmp_path / "dup_src"
    d.mkdir()
    pdf = src.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
    pdf.to_parquet(d / "b1.parquet", index=False)
    pdf.to_parquet(d / "b2.parquet", index=False)  # full redelivery

    deduped = (
        stream_events(spark, str(d))
        .withWatermark("ts", "10 days")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    _run_to_memory(deduped, "dedup_sink", "append")
    rows = spark.sql("SELECT event_id FROM dedup_sink").collect()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids)) == 500


def test_stream_stream_interval_join_matches_batch(spark, events_dir):
    """Stream-stream interval join (clicks × purchases within 1h) must
    reproduce the batch attribution pairs exactly once each — the
    watermarked buffers may not drop or duplicate in-window matches."""
    from bigdata_group4_app_spark.operators.advanced import (
        attribution_window_join,
    )
    from bigdata_group4_app_spark.streaming import attribution_stream_join

    src = stream_events(spark, events_dir)
    joined = attribution_stream_join(
        src.filter(F.col("event_type") == "click"),
        src.filter(F.col("event_type") == "purchase"),
    )
    _run_to_memory(joined, "attrib_sink", "append")
    got = (
        spark.sql("SELECT * FROM attrib_sink")
        .groupBy("p_event_id")
        .agg(
            F.count(F.lit(1)).alias("n_clicks_1h"),
            F.round(F.sum("c_value"), 4).alias("clicked_value"),
        )
        .collect()
    )
    want = attribution_window_join(spark, SF_SMOKE).collect()
    assert {(r["p_event_id"], r["n_clicks_1h"], r["clicked_value"]) for r in got} == {
        (r["event_id"], r["n_clicks_1h"], r["clicked_value"]) for r in want
    }


def test_cdc_merge_sink_matches_batch_state(spark, tmp_path):
    """Stream-batch parity for the CDC merge sink: folding the event
    stream in three time-ordered micro-batches must land the exact
    per-key state the batch semantics define (last event per user, users
    whose last event is a tombstone absent)."""
    from bigdata_group4_app_spark.streaming.sinks import start_cdc_merge_sink

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "cdc_src"
    d.mkdir()
    state = str(tmp_path / "cdc_state")
    ckpt = str(tmp_path / "cdc_ckpt")

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    lo, hi = "2024-01-11", "2024-01-21"
    drop(src.filter(F.col("ts") < lo), "b1.parquet")
    q = start_cdc_merge_sink(stream_events(spark, str(d)), state, ckpt)
    try:
        q.processAllAvailable()
        drop(src.filter((F.col("ts") >= lo) & (F.col("ts") < hi)), "b2.parquet")
        q.processAllAvailable()
        drop(src.filter(F.col("ts") >= hi), "b3.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    from bigdata_group4_app_spark.streaming.sinks import read_cdc_state

    got = {
        r["user_id"]: (r["last_type"], r["last_value"], r["last_ts"])
        for r in read_cdc_state(spark, state).collect()
    }
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    want = {
        r["user_id"]: (r["event_type"], r["value"], r["ts"])
        for r in src.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .collect()
    }
    assert got == want


def test_cdc_merge_state_step_is_idempotent(spark, tmp_path):
    """Replaying the same micro-batch (crash between write and checkpoint
    commit) must leave the state byte-identical — the exactly-once
    argument for the CDC sink."""
    from bigdata_group4_app_spark.streaming.sinks import merge_cdc_state

    src = load_table(spark, SF_SMOKE, "events")
    state = str(tmp_path / "state")
    first = src.filter(F.col("ts") < "2024-01-16")
    second = src.filter(F.col("ts") >= "2024-01-16")
    from bigdata_group4_app_spark.streaming.sinks import read_cdc_state

    merge_cdc_state(first, state)
    merge_cdc_state(second, state)
    once = sorted(map(tuple, read_cdc_state(spark, state).collect()))
    merge_cdc_state(second, state)  # replay
    twice = sorted(map(tuple, read_cdc_state(spark, state).collect()))
    assert once == twice


def test_streaming_ses_matches_sequential_fold(spark, tmp_path):
    """Stateful streaming SES across two time-ordered micro-batches must
    equal the sequential fold over the full per-user history — state
    carries the smoothed value across batch boundaries."""
    from bigdata_group4_app_spark.streaming.stateful import streaming_ses

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "ses_src"
    d.mkdir()

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    drop(src.filter(F.col("ts") < "2024-01-16"), "b1.parquet")
    stream = streaming_ses(stream_events(spark, str(d)))
    q = (
        stream.writeStream.format("memory")
        .queryName("ses_sink")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()
        drop(src.filter(F.col("ts") >= "2024-01-16"), "b2.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    latest = {}
    for r in spark.sql("SELECT * FROM ses_sink").collect():
        latest[r["user_id"]] = (r["n_seen"], r["ses"])

    want = {}
    rows = sorted(
        src.select("user_id", "ts", "event_id", "value").collect(),
        key=lambda r: (r["ts"], r["event_id"]),
    )
    acc: dict[int, tuple[int, float]] = {}
    for r in rows:
        n, s = acc.get(r["user_id"], (0, 0.0))
        s = r["value"] if n == 0 else 0.3 * r["value"] + 0.7 * s
        acc[r["user_id"]] = (n + 1, s)
    want = {u: (n, round(s, 4)) for u, (n, s) in acc.items()}
    assert latest == want


def test_peak_concurrency_oracle(spark):
    check_registered(spark, "peak_concurrent_sessions", SF_SMOKE)


def test_peak_concurrency_matches_naive_sweep(spark):
    """The distributed two-level prefix sum must equal a single-sequence
    sweep line replayed in Python over the collected sessions."""
    from bigdata_group4_app_spark.streaming.windows import (
        event_sessions,
        peak_concurrent_sessions,
    )

    sessions = event_sessions(spark, SF_SMOKE).collect()
    bounds = [(r["session_start"], 1) for r in sessions] + [
        (r["session_last"], -1) for r in sessions
    ]
    bounds.sort(key=lambda b: (b[0], -b[1]))
    run, peaks = 0, {}
    for t, d in bounds:
        run += d
        day = t.date()
        peaks[day] = max(peaks.get(day, float("-inf")), run)
    got = {
        r["day"]: r["peak_concurrency"]
        for r in peak_concurrent_sessions(spark, SF_SMOKE).collect()
    }
    assert got == peaks
    assert max(got.values()) > 1  # data actually overlaps


def test_transform_with_state_topk(spark, tmp_path):
    """Spark 4 transformWithStateInPandas: MapState counts must accumulate
    across two micro-batches and the final emitted top-k per event type
    must equal the batch groupBy count top-k (same (-n, user) tiebreak).
    Requires the RocksDB state store provider and protobuf (the TWS
    state-server protocol) — skips where protobuf isn't installed."""
    pytest.importorskip(
        "google.protobuf", reason="transformWithState needs protobuf"
    )
    from bigdata_group4_app_spark.streaming.stateful import (
        TOPK_K,
        streaming_topk_users,
    )

    src = load_table(spark, SF_SMOKE, "events")
    d = tmp_path / "topk_stream"
    d.mkdir()

    def drop(df, name):
        pdf = df.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
        pdf.to_parquet(d / name, index=False)

    drop(src.filter(F.col("event_id") % 2 == 0), "b1.parquet")
    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        stream = streaming_topk_users(stream_events(spark, str(d)))
        q = (
            stream.writeStream.format("memory")
            .queryName("topk_sink")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        drop(src.filter(F.col("event_id") % 2 == 1), "b2.parquet")
        q = (
            streaming_topk_users(stream_events(spark, str(d)))
            .writeStream.format("memory")
            .queryName("topk_sink")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev
            )
    got = {}
    for r in spark.sql("SELECT * FROM topk_sink").collect():
        got[(r["event_type"], r["rank"])] = (r["user_id"], r["n_events"])
    want = {}
    counts = (
        src.groupBy("event_type", "user_id").count().collect()
    )
    by_type: dict = {}
    for r in counts:
        by_type.setdefault(r["event_type"], []).append(
            (r["user_id"], r["count"])
        )
    for et, lst in by_type.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        for i, (uid, n) in enumerate(lst[:TOPK_K], 1):
            want[(et, i)] = (uid, n)
    assert got == want


def test_session_path_trigrams_oracle(spark):
    check_registered(spark, "session_path_trigrams", SF_SMOKE)


def test_session_path_trigrams_replay(spark):
    """Trigram counts replayed in Python over per-session ordered type
    sequences rebuilt from event_sessions' gap rule."""
    from collections import Counter

    from bigdata_group4_app_spark.streaming.windows import (
        PATH_TOP_K,
        session_path_trigrams,
    )

    ev = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"], r["event_type"])
            for r in load_table(spark, SF_SMOKE, "events").collect()
        ),
    )
    sessions = []
    cur_user, last_ts, cur = None, None, []
    for uid, ts, eid, et in ev:
        new = (
            uid != cur_user
            or (ts - last_ts).total_seconds() >= 1800
        )
        if new:
            if cur:
                sessions.append(cur)
            cur = []
            cur_user = uid
        cur.append(et)
        last_ts = ts
    if cur:
        sessions.append(cur)
    want = Counter()
    for types in sessions:
        for i in range(len(types) - 2):
            want[">".join(types[i : i + 3])] += 1
    top = sorted(want.items(), key=lambda t: (-t[1], t[0]))[:PATH_TOP_K]
    got = [
        (r["trigram"], r["n"])
        for r in session_path_trigrams(spark, SF_SMOKE).collect()
    ]
    assert got == top


def test_ohlc_stream_matches_batch(spark, events_dir):
    """Streaming OHLC (argmin/argmax struct aggregates in the state
    store) must equal the batch ohlc_hourly_bars on the same data."""
    from bigdata_group4_app_spark.operators.relational import (
        ohlc_hourly_bars,
    )
    from bigdata_group4_app_spark.streaming.windows import ohlc_bars_stream

    stream = ohlc_bars_stream(stream_events(spark, events_dir))
    _run_to_memory(stream, "ohlc_sink", "complete")
    got = {
        (r["event_type"], r["bar_hour"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_events"], r["volume"],
        )
        for r in spark.sql("SELECT * FROM ohlc_sink").collect()
    }
    want = {
        (r["event_type"], r["bar_hour"]): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_events"], r["volume"],
        )
        for r in ohlc_hourly_bars(spark, SF_SMOKE).collect()
    }
    assert got == want


def test_watermark_sizing_oracle_and_detection(spark, tmp_path):
    """Oracle parity on the real (in-order) stream, then detection proof:
    renumber arrivals with a deterministic md5 shuffle and the measured
    lateness must (a) be nonzero and (b) match a Python replay."""
    from bigdata_group4_app_spark.streaming.windows import (
        watermark_sizing_stats,
    )

    check_registered(spark, "watermark_sizing_stats", SF_SMOKE)
    row = watermark_sizing_stats(spark, SF_SMOKE).collect()[0]
    assert row["n_late"] == 0  # driver feed is genuinely in-order

    # disordered copy: arrival order = md5 shuffle of event_id
    import hashlib
    import shutil

    d = tmp_path / "disordered"
    d.mkdir()
    src = load_table(spark, SF_SMOKE, "events")
    pdf = src.withColumn("ts", F.unix_micros("ts") * 1000).toPandas()
    pdf["__k"] = pdf["event_id"].map(
        lambda e: hashlib.md5(str(e).encode()).hexdigest()
    )
    pdf = pdf.sort_values("__k").reset_index(drop=True)
    order = pdf["event_id"].tolist()
    ts_us = (pdf["ts"] // 1000).tolist()
    pdf["event_id"] = range(len(pdf))  # new arrival ids in shuffled order
    pdf.drop(columns="__k").to_parquet(d / "events.parquet", index=False)

    got = watermark_sizing_stats(spark, str(d)).collect()[0]
    # Python replay over the shuffled arrival sequence
    run_max, n_late, max_late = None, 0, 0
    for t in ts_us:
        if run_max is not None and run_max - t > 0:
            n_late += 1
            max_late = max(max_late, run_max - t)
        run_max = t if run_max is None else max(run_max, t)
    assert got["n_late"] == n_late > 0
    assert abs(got["max_lateness_s"] - round(max_late / 1e6, 4)) < 1e-6
    assert got["late_share"] == round(n_late / (len(ts_us) - 1), 4)


def test_cdc_state_survives_crashed_overwrite(spark, tmp_path):
    """A writer dying mid-commit must never destroy the previous state:
    an uncommitted segment (no manifest lists it) is ignored by readers
    and simply rewritten by the replay."""
    from bigdata_group4_app_spark.streaming.sinks import (
        merge_cdc_state,
        read_cdc_state,
    )

    src = load_table(spark, SF_SMOKE, "events")
    state = str(tmp_path / "state")
    first = src.filter(F.col("ts") < "2024-01-16")
    second = src.filter(F.col("ts") >= "2024-01-16")
    merge_cdc_state(first, state)
    before = sorted(map(tuple, read_cdc_state(spark, state).collect()))

    # simulate the crash: a partial segment where the next step writes
    # (the segment is named after the next snapshot id, 1), no manifest
    import pathlib

    crashed = pathlib.Path(state) / "segments" / "cdc_state" / "state-000001"
    crashed.mkdir()
    (crashed / "part-00000.parquet").write_bytes(b"garbage, not parquet")
    assert sorted(map(tuple, read_cdc_state(spark, state).collect())) == before

    # replay overwrites the wreckage and commits normally
    merge_cdc_state(second, state)
    after = read_cdc_state(spark, state)
    assert after.count() >= len(before)


# Spark jobs per micro-batch of the two ingest sink steps: (new batch,
# replay of it). These counts did not vary over 10 measured batches at
# local[8] and 6 at local[4]; some other plans' job counts move by one
# between runs, so the budget is checked against the maximum over
# _BUDGET_BATCHES batches.
_INGEST_JOB_BUDGET = {
    "minhash_index_step": (23, 4),
    "catalog_commit_step": (7, 4),
}
_BUDGET_BATCHES = 2


def test_ingest_sink_steps_job_budget(spark, tmp_path):
    """Each step of one micro-batch computes every relation once: the job
    counts of ``minhash_index_step`` and ``catalog_commit_step`` for a new
    batch and for its replay stay within ``_INGEST_JOB_BUDGET``. The store
    has the shape a long-running ingest has after maintenance: before each
    measured batch the index is compacted to one segment and the catalog's
    documents table to one segment under a committed head. Batches are
    built from pandas frames, as perfbench's curator workload builds them."""
    from bigdata_group4_app_spark.operators.snapshots import compact_table
    from bigdata_group4_app_spark.streaming.sinks import (
        catalog_commit_step,
        compact_minhash_index,
        minhash_index_step,
    )

    from .conftest import jobs_during

    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )
    n = 2 + _BUDGET_BATCHES
    size = len(docs) // n
    batches = [
        spark.createDataFrame(
            docs[i * size : (i + 1) * size], "doc_id long, text string"
        )
        for i in range(n)
    ]
    index, catalog = str(tmp_path / "index"), str(tmp_path / "catalog")
    for b in batches[:2]:
        minhash_index_step(b, index)
        catalog_commit_step(b, catalog)
    steps = {
        "minhash_index_step": lambda b: minhash_index_step(b, index),
        "catalog_commit_step": lambda b: catalog_commit_step(b, catalog),
    }
    seen = {name: ([], []) for name in steps}
    for i, b in enumerate(batches[2:]):
        compact_minhash_index(spark, index, min_segments=1)
        compact_table(spark, catalog, "documents", f"compact-{i}")
        for name, step in steps.items():
            for kind, runs in zip(("new", "replay"), seen[name]):
                tag = f"{name}-{kind}-{i}"
                runs.append(len(jobs_during(spark, lambda: step(b), tag)[1]))
    for name, (new, replay) in seen.items():
        budget_new, budget_replay = _INGEST_JOB_BUDGET[name]
        assert max(new) <= budget_new and max(replay) <= budget_replay, (
            name,
            seen[name],
        )
