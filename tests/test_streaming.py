"""Streaming module: the stream result must equal the batch plan run on
the same data (batch IS the oracle), and watermarks must drop late rows
across micro-batches."""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import uuid

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elevate_data_pipeline_spark.session import get_spark
from elevate_data_pipeline_spark.sources.catalog import Catalog
from elevate_data_pipeline_spark.streaming import (
    hourly_rollup,
    read_events_stream,
    sessionize_batch,
    sessionize_stream,
)

from conftest import SF_DIR


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Copy the events table into a directory so the file stream can read it."""
    d = tmp_path / "events_stream"
    d.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), d / "part-0.parquet")
    return str(d)


def _run_to_memory(stream_df, mode: str):
    name = "t" + uuid.uuid4().hex[:12]
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return name


def test_hourly_rollup_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    assert stream.isStreaming
    name = _run_to_memory(hourly_rollup(stream), "complete")

    batch = hourly_rollup(Catalog(spark, SF_DIR).table("events"))
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_hourly_hll_stream_equals_batch(spark, events_dir):
    """The bounded-state distinct sketch emits the bit-identical
    register frame on stream and batch (registers are pure integer
    arithmetic), and the per-window state is capped at 2^p rows."""
    from elevate_data_pipeline_spark.streaming import hourly_distinct_hll

    stream = read_events_stream(spark, events_dir)
    name = _run_to_memory(hourly_distinct_hll(stream, p=6), "complete")

    batch = hourly_distinct_hll(Catalog(spark, SF_DIR).table("events"), p=6)
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0
    per_window: dict = {}
    for hour_ts, _bkt, _m in want:
        per_window[hour_ts] = per_window.get(hour_ts, 0) + 1
    assert max(per_window.values()) <= 64


def test_sessionize_stream_equals_batch(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    # single batch + emit_open: every session (closed and open) is emitted
    name = _run_to_memory(sessionize_stream(stream, emit_open=True), "append")

    batch = sessionize_batch(Catalog(spark, SF_DIR).table("events"))
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in spark.table(name).collect()
    }
    want = {
        (r.user_id, r.session_start, r.session_end, r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want and len(want) > 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """Micro-batched file stream; a row arriving two batches after the
    watermark passed its window must be dropped by the windowed agg.
    (The watermark commit lags one batch behind the data that produced
    it, so the guaranteed-drop case needs the late row >= 2 batches
    after the on-time data.)"""
    d = tmp_path / "late"
    d.mkdir()
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"

    def write_batch(fname, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / fname))

    ns = 1_000_000_000  # ns per second
    t0 = 1_700_000_000 * ns  # ns epoch base
    hr = 3600 * ns
    write_batch("b1", [(1, t0 + 10 * hr, 1, "click", 1.0, "{}")])
    write_batch("b2", [(2, t0 + 10 * hr + 60 * ns, 1, "click", 1.0, "{}")])
    write_batch("b3", [(3, t0 + 1 * hr, 1, "click", 1.0, "{}")])  # 9h late -> dropped

    stream = read_events_stream(spark, str(d) + "/b*", max_files_per_trigger=1)
    name = _run_to_memory(hourly_rollup(stream, watermark="2 hours"), "update")

    rows = spark.table(name).collect()
    counts = {}
    for r in rows:  # update mode re-emits; keep the latest count per window
        counts[r.hour_ts] = max(counts.get(r.hour_ts, 0), r.n_events)
    assert counts == {max(counts): 2}  # only the on-time window, n=2


def test_sessionize_batch_gap_split(spark):
    rows = [
        (1, 1_700_000_000_000_000, 7, "a", 1.0, "{}"),
        (2, 1_700_000_000_000_000 + 10 * 60 * 1_000_000, 7, "a", 2.0, "{}"),  # same session
        (3, 1_700_000_000_000_000 + 50 * 60 * 1_000_000, 7, "a", 4.0, "{}"),  # 40min gap -> new
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts_us long, user_id long, event_type string, value double, props string"
    ).withColumn("ts", F.timestamp_micros("ts_us"))
    out = sessionize_batch(df, gap_minutes=30).orderBy("session_start").collect()
    assert [(r.n_events, r.total_value) for r in out] == [(2, 3.0), (1, 4.0)]


def test_stream_to_parquet_sink(spark, events_dir, tmp_path):
    """writeStream -> parquet sink with checkpoint: rows land on disk and
    match the batch rollup."""
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = read_events_stream(spark, events_dir)
    q = (
        hourly_rollup(stream).writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode only finalizes windows past the watermark; with one batch
    # the final watermark covers all but the last 2 hours of events
    written = spark.read.parquet(out)
    batch = hourly_rollup(Catalog(spark, SF_DIR).table("events"))
    got = {tuple(r) for r in written.collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got <= want
    assert len(got) >= len(want) - 3  # at most the unflushed tail differs


def test_upsert_sink_keeps_latest(spark, tmp_path):
    """foreachBatch upsert across two micro-batches: the state table holds
    one row per key with the latest value."""
    from elevate_data_pipeline_spark.streaming.events import upsert_sink

    d = tmp_path / "in"
    d.mkdir()
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    ns = 1_000_000_000

    def write_batch(fname, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / fname))

    write_batch("b1", [(1, 100 * ns, 7, "click", 1.0, "{}"),
                       (2, 200 * ns, 8, "click", 2.0, "{}")])
    write_batch("b2", [(3, 300 * ns, 7, "click", 3.0, "{}")])  # supersedes user 7

    stream = read_events_stream(spark, str(d) + "/b*", max_files_per_trigger=1)
    out = str(tmp_path / "state")
    q = upsert_sink(stream, out, str(tmp_path / "ck"), keys=["user_id"],
                    order_col="ts", tiebreak="event_id")
    q.awaitTermination(120)

    state = {r.user_id: r.value for r in spark.read.parquet(out).collect()}
    assert state == {7: 3.0, 8: 2.0}


def test_dedup_stream_drops_redeliveries(spark, tmp_path):
    """Cross-batch duplicate event_ids within the watermark are dropped;
    result equals batch dropDuplicates on the union of all batches."""
    from elevate_data_pipeline_spark.streaming import dedup_stream

    d = tmp_path / "dup"
    d.mkdir()
    schema = "event_id long, ts long, user_id long, event_type string, value double, props string"
    ns = 1_000_000_000
    t0 = 1_700_000_000 * ns

    def write_batch(fname, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / fname))

    write_batch("b1", [(1, t0, 7, "click", 1.0, "{}"),
                       (2, t0 + 60 * ns, 8, "view", 2.0, "{}"),
                       (1, t0, 7, "click", 1.0, "{}")])        # in-batch dup
    write_batch("b2", [(2, t0 + 60 * ns, 8, "view", 2.0, "{}"),  # redelivery
                       (3, t0 + 120 * ns, 9, "click", 3.0, "{}")])

    stream = read_events_stream(spark, str(d) + "/b*", max_files_per_trigger=1)
    name = _run_to_memory(dedup_stream(stream), "append")

    got = sorted(r.event_id for r in spark.table(name).collect())
    assert got == [1, 2, 3]


def test_enrich_stream_equals_batch_join(spark, events_dir):
    """Stream-static broadcast join: per-batch enrichment equals the
    batch join on the same data."""
    from elevate_data_pipeline_spark.streaming import enrich_stream

    dim = (
        Catalog(spark, SF_DIR)
        .table("customer")
        .select(F.col("c_custkey").alias("user_id"), "c_nationkey")
    )
    stream = read_events_stream(spark, events_dir)
    name = _run_to_memory(
        enrich_stream(stream, dim, on="user_id").select("event_id", "c_nationkey"),
        "append",
    )

    batch = (
        Catalog(spark, SF_DIR)
        .table("events")
        .join(F.broadcast(dim), "user_id", "left")
        .select("event_id", "c_nationkey")
    )
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_stream_interval_join_equals_batch(spark, events_dir):
    """Two event-type streams joined within ±30min per user: the
    stream-stream interval join (watermarks both sides bound the state)
    must produce the batch join's pairs."""
    from elevate_data_pipeline_spark.streaming import join_streams_interval

    def split(df):
        return (
            df.filter(F.col("event_type") == "error").select("user_id", "ts", "event_id"),
            df.filter(F.col("event_type") == "purchase").select(
                "user_id", F.col("ts").alias("ts2"), F.col("event_id").alias("event_id2")
            ),
        )

    stream = read_events_stream(spark, events_dir)
    sl, sr = split(stream)
    joined = join_streams_interval(sl, sr.withColumnRenamed("ts2", "ts"))
    name = _run_to_memory(
        joined.select("l.event_id", F.col("r.event_id2").alias("event_id2")), "append"
    )

    batch = Catalog(spark, SF_DIR).table("events")
    bl, br = split(batch)
    want_df = bl.join(
        br,
        (bl["user_id"] == br["user_id"])
        & (br["ts2"] >= F.expr("ts - INTERVAL 30 MINUTES"))
        & (br["ts2"] <= F.expr("ts + INTERVAL 30 MINUTES")),
    )
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {(r["event_id"], r["event_id2"]) for r in want_df.collect()}
    assert got == want and len(want) > 0


def test_sessionize_native_matches_custom_batch(spark):
    from elevate_data_pipeline_spark.streaming.events import sessionize_native

    ev = Catalog(spark, SF_DIR).table("events")
    native = {
        (r.user_id, r.session_start): (r.n_events, r.total_value, r.session_end)
        for r in sessionize_native(ev, gap_minutes=30).collect()
    }
    custom = {
        (r.user_id, r.session_start): (r.n_events, r.total_value, r.session_end)
        for r in sessionize_batch(ev, gap_minutes=30).collect()
    }
    assert set(native) == set(custom) and len(native) > 0
    for k, (n, v, end) in custom.items():
        nn, nv, nend = native[k]
        assert nn == n and nv == v
        # built-in session_window end = last event + gap (half-open bound)
        assert (nend - end).total_seconds() == 30 * 60


def test_sessionize_native_streaming(spark, events_dir):
    from elevate_data_pipeline_spark.streaming.events import sessionize_native

    stream = read_events_stream(spark, events_dir)
    name = _run_to_memory(sessionize_native(stream), "complete")
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in
            sessionize_native(Catalog(spark, SF_DIR).table("events")).collect()}
    assert got == want and len(want) > 0


def test_dedup_ingest_sink_cross_batch(spark, tmp_path):
    """Crawl-ingest dedup across micro-batches: a batch-2 near-dup of a
    batch-1 doc is dropped via the persisted band index; a batch-2
    within-batch duplicate pair keeps only the smaller id; novel docs
    survive."""
    from elevate_data_pipeline_spark.streaming import dedup_ingest_sink

    base_text = " ".join(f"tok{i}" for i in range(60))
    near_dup = " ".join(f"tok{i}" for i in range(59)) + " tokX"
    other = " ".join(f"alt{i}" for i in range(60))
    novel = " ".join(f"new{i}" for i in range(60))

    d = tmp_path / "in"
    d.mkdir()
    schema = "doc_id long, text string"

    def write_batch(fname, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d / fname))

    write_batch("b1", [(1, base_text), (2, other)])
    write_batch("b2", [(3, near_dup), (4, novel), (5, novel)])

    stream = (
        spark.readStream.schema(schema).format("parquet")
        .option("maxFilesPerTrigger", "1").load(str(d) + "/b*")
    )
    state = str(tmp_path / "state")
    q = dedup_ingest_sink(stream, state, str(tmp_path / "ck"))
    q.awaitTermination(180)

    kept = sorted(r.doc_id for r in spark.read.parquet(state + "/docs").collect())
    assert kept == [1, 2, 4]
    # the band index covers exactly the kept docs
    idx_ids = {r["_id"] for r in spark.read.parquet(state + "/bands").collect()}
    assert idx_ids == {1, 2, 4}


def test_drift_monitor_sink_matches_batch_tvd(spark, tmp_path):
    """Streaming drift vs a frozen reference across two micro-batches:
    the final score row equals the batch TVD computed over all streamed
    events, and the running bucket state accumulates across batches."""
    from elevate_data_pipeline_spark.streaming import drift_monitor_sink

    ref = spark.createDataFrame(
        [(float(v),) for v in [10, 10, 35, 60, 60, 60]], "value double"
    )
    d = tmp_path / "in"
    d.mkdir()

    def write_batch(fname, values):
        spark.createDataFrame([(float(v),) for v in values], "value double") \
            .coalesce(1).write.parquet(str(d / fname))

    write_batch("b1", [10, 35, 35])
    write_batch("b2", [85, 85, 10])

    stream = (
        spark.readStream.schema("value double").format("parquet")
        .option("maxFilesPerTrigger", "1").load(str(d) + "/b*")
    )
    state = str(tmp_path / "state")
    q = drift_monitor_sink(stream, ref, state, str(tmp_path / "ck"),
                           bucket_width=25.0)
    q.awaitTermination(120)

    scores = {r.batch_id: r for r in spark.read.parquet(state + "/scores").collect()}
    assert len(scores) == 2
    final = scores[max(scores)]
    assert final.n_ref_total == 6 and final.n_cur_total == 6
    # buckets (width 25): ref {0:2, 1:1, 2:3}; cur {0:2, 1:2, 3:2}
    # num = |2*6-2*6| + |1*6-2*6| + |3*6-0| + |0-2*6| = 0+6+18+12 = 36
    # tvd = 36 / (2*6*6) = 0.5
    assert final.tvd == 0.5
    counts = {r.bucket: r.n_cur for r in spark.read.parquet(state + "/counts").collect()}
    assert counts == {0: 2, 1: 2, 3: 2}


def test_topk_monitor_sink_accumulates(spark, tmp_path):
    """Streaming top-k across two micro-batches: the final ranking
    reflects RUNNING counts (batch 2 flips the leader), ties break on
    the key, and the state table is key-sized."""
    from elevate_data_pipeline_spark.streaming import topk_monitor_sink

    d = tmp_path / "in"
    d.mkdir()

    def write_batch(fname, types):
        spark.createDataFrame([(t,) for t in types], "event_type string") \
            .coalesce(1).write.parquet(str(d / fname))

    write_batch("b1", ["a", "a", "b"])
    write_batch("b2", ["b", "b", "c"])

    stream = (
        spark.readStream.schema("event_type string").format("parquet")
        .option("maxFilesPerTrigger", "1").load(str(d) + "/b*")
    )
    state = str(tmp_path / "state")
    q = topk_monitor_sink(stream, state, str(tmp_path / "ck"), k=2)
    q.awaitTermination(120)

    ranks = spark.read.parquet(state + "/rankings").collect()
    by_batch = {}
    for r in ranks:
        by_batch.setdefault(r.batch_id, []).append((r.event_type, r.n))
    assert len(by_batch) == 2
    final = sorted(by_batch[max(by_batch)], key=lambda t: (-t[1], t[0]))
    # running counts after both batches: a=2, b=3, c=1 -> top-2 = b, a
    assert final == [("b", 3), ("a", 2)]
    counts = {r.event_type: r.n for r in spark.read.parquet(state + "/counts").collect()}
    assert counts == {"a": 2, "b": 3, "c": 1}


def test_latest_state_stream_equals_batch(spark, events_dir):
    from elevate_data_pipeline_spark.streaming import latest_state

    stream = read_events_stream(spark, events_dir, max_files_per_trigger=1)
    assert stream.isStreaming
    name = _run_to_memory(latest_state(stream), "complete")

    batch = latest_state(Catalog(spark, SF_DIR).table("events"))
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_quota_out_of_order_strict_mode_fails_batch(spark, tmp_path):
    """With arrival order REVERSED against event-time order, strict mode
    (out_of_order="error") must fail the stream instead of silently
    admitting the wrong events."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from elevate_data_pipeline_spark.streaming import quota_per_key
    from elevate_data_pipeline_spark.operators.util import epoch_us

    ev = Catalog(spark, SF_DIR).table("events")
    cut = ev.select(F.median(epoch_us("ts")).cast("long").alias("c")).collect()[0]["c"]
    d = tmp_path / "quota_ooo"
    d.mkdir()
    # f0 = LATER events, f1 = EARLIER events; pin mtimes so the newer
    # half arrives first
    ev.filter(epoch_us("ts") > cut).coalesce(1).write.parquet(str(d / "f0"))
    ev.filter(epoch_us("ts") <= cut).coalesce(1).write.parquet(str(d / "f1"))
    files = sorted(str(p) for p in d.rglob("*.parquet"))
    tgt = tmp_path / "arrivals_ooo"
    tgt.mkdir()
    import time as _time

    t0 = _time.time() - 100
    for i, f in enumerate(files):
        dst = tgt / f"part-{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (t0 + i, t0 + i))

    stream = read_events_stream(spark, str(tgt), max_files_per_trigger=1)
    q = (
        quota_per_key(stream, n=5, out_of_order="error")
        .writeStream.format("memory")
        .queryName("t" + uuid.uuid4().hex[:12])
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException, match="not after last admitted"):
        q.awaitTermination(120)


def test_quota_rejects_bad_out_of_order_mode(spark):
    from elevate_data_pipeline_spark.streaming import quota_per_key

    ev = Catalog(spark, SF_DIR).table("events")
    with pytest.raises(ValueError, match="out_of_order"):
        quota_per_key(ev, n=5, out_of_order="nope")


def test_quota_stream_equals_batch(spark, tmp_path):
    """transformWithStateInPandas quota vs the batch window twin, over
    TIME-SPLIT ingest files (arrival order == event-time order) in
    multiple micro-batches."""
    from elevate_data_pipeline_spark.streaming import quota_per_key

    ev = Catalog(spark, SF_DIR).table("events")
    from elevate_data_pipeline_spark.operators.util import epoch_us

    cut = ev.select(F.median(epoch_us("ts")).cast("long").alias("c")).collect()[0]["c"]
    d = tmp_path / "quota_stream"
    d.mkdir()
    ev.filter(epoch_us("ts") <= cut).coalesce(1).write.parquet(str(d / "f0"))
    ev.filter(epoch_us("ts") > cut).coalesce(1).write.parquet(str(d / "f1"))
    # flatten: file source reads a directory of parquet files
    files = sorted(str(p) for p in d.rglob("*.parquet"))
    tgt = tmp_path / "arrivals"
    tgt.mkdir()
    import time as _time

    t0 = _time.time() - 100
    for i, f in enumerate(files):
        dst = tgt / f"part-{i}.parquet"
        shutil.copy(f, dst)
        # the file source orders its initial listing by mtime: pin
        # strictly increasing mtimes so arrival order == time order
        os.utime(dst, (t0 + i, t0 + i))

    stream = read_events_stream(spark, str(tgt), max_files_per_trigger=1)
    name = _run_to_memory(quota_per_key(stream, n=5), "append")

    batch = quota_per_key(ev, n=5)
    got = {tuple(r) for r in spark.table(name).collect()}
    want = {tuple(r) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_rate_source_dedup_and_sessionize_twins(spark):
    """Drive dedup_stream and sessionize_native from the built-in
    rate-micro-batch source — a continuous, non-replayable source with
    no files behind it — and assert the same batch equivalence the
    file-backed tests pin. Rows are deterministic (value = 0,1,2,...),
    every event attribute derives from value, and the stream is capped
    with a filter, so the converged sink state equals the batch twin."""
    import time as _time

    from elevate_data_pipeline_spark.streaming import dedup_stream, sessionize_native

    def shape(df):
        # 200 raw rows -> 40 distinct events, each re-delivered 5x with
        # IDENTICAL attributes (the at-least-once duplicate shape);
        # event-time derives from the id, not the rate timestamp
        v = F.col("value") % 40
        return df.filter(F.col("value") < 200).select(
            v.alias("event_id"),
            (v % 7).alias("user_id"),
            F.timestamp_micros(
                1_700_000_000_000_000 + (v % 20 + F.floor(v / 20) * 300) * 60_000_000
            ).alias("ts"),  # two 20-minute clusters 5h apart -> 2 sessions/user
            (v * 1.0).alias("value"),
        )

    def run_until(make_query, want, mode):
        raw = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", 100)  # 2 batches cover values 0..199
            .option("numPartitions", 2)
            .load()
        )
        name = "t" + uuid.uuid4().hex[:12]
        q = (
            make_query(shape(raw))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .start()
        )
        try:
            deadline = _time.time() + 120
            got = None
            while _time.time() < deadline:
                got = {tuple(r) for r in spark.table(name).collect()}
                if got == want:
                    break
                _time.sleep(0.5)
            return got
        finally:
            q.stop()

    batch = shape(spark.range(200).select(F.col("id").alias("value")))
    want_d = {tuple(r) for r in dedup_stream(batch).collect()}
    want_s = {tuple(r) for r in sessionize_native(batch).collect()}
    assert len(want_d) == 40 and len(want_s) == 14  # 7 users x 2 sessions

    got_d = run_until(dedup_stream, want_d, "append")
    assert got_d == want_d
    got_s = run_until(sessionize_native, want_s, "complete")
    assert got_s == want_s


def _rollup_to_parquet(stream, sink: str, ckpt: str):
    q = (
        hourly_rollup(stream).writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    assert q.exception() is None
    return q


def test_state_stores_follow_session_parallelism(spark, events_dir, tmp_path):
    """A stateful stream started under get_spark's default runs one
    state-store partition per core (one wave), not a fixed count."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        get_spark("edp-tests")
        q = _rollup_to_parquet(
            read_events_stream(spark, events_dir),
            str(tmp_path / "sink"), str(tmp_path / "ckpt"),
        )
        ops = json.loads(q.lastProgress.json)["stateOperators"]
        assert ops[0]["numShufflePartitions"] == spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_checkpoint_keeps_its_state_partition_count(spark, tmp_path):
    """A checkpoint created at 32 state partitions resumes at 32 under the
    one-wave default (Spark keeps the count in the offset log), and the
    sink holds exactly the batch rollup's windows closed by the final
    watermark."""
    events = pq.read_table(os.path.join(SF_DIR, "events.parquet")).sort_by("ts")
    src, sink, ckpt = tmp_path / "src", str(tmp_path / "sink"), str(tmp_path / "ckpt")
    src.mkdir()
    cuts = [events.num_rows * i // 4 for i in range(5)]

    def feed(parts):
        for i in parts:
            part = events.slice(cuts[i], cuts[i + 1] - cuts[i])
            pq.write_table(part, str(src / f"part-{i}.parquet"))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        feed((0, 1))
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        _rollup_to_parquet(read_events_stream(spark, str(src)), sink, ckpt)

        feed((2, 3))
        get_spark("edp-tests")
        q = _rollup_to_parquet(read_events_stream(spark, str(src)), sink, ckpt)
        last = json.loads(q.lastProgress.json)
        assert last["stateOperators"][0]["numShufflePartitions"] == 32
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    wm = dt.datetime.strptime(last["eventTime"]["watermark"], "%Y-%m-%dT%H:%M:%S.%fZ")
    batch = hourly_rollup(Catalog(spark, SF_DIR).table("events")).collect()
    want = sorted(tuple(r) for r in batch if r.hour_ts + dt.timedelta(hours=1) <= wm)
    got = sorted(tuple(r) for r in spark.read.parquet(sink).collect())
    assert got == want and len(want) > 0
