"""Structured Streaming over the ``events`` table.

The reference is pure batch (SURVEY.md §2.7 — no streaming anywhere in
the tree); this module is the north-star streaming extension. The same
logical plans run in batch and stream:

- ``hourly_rollup`` — tumbling-window count/sum with a watermark for
  late data. On a stream this is an incremental stateful aggregation;
  on a batch frame the identical expression tree computes the
  ``events_hourly`` registry query.
- ``sessionize_stream`` — custom stateful operator (gap-based
  sessionization) via ``applyInPandasWithState``: state is one open
  session per user, sessions close when the gap exceeds ``gap_minutes``
  or the group times out past the watermark.
- ``sessionize_batch`` — the batch equivalent expressed with window
  functions (lag + conditional cumsum), used as the oracle for the
  streaming path and registered as a query in its own right.

Scale notes: the streaming agg shuffles on (window, event_type) — low
cardinality, so state stays small; sessionization shuffles on user_id,
which at 100 TB is the natural partitioning for per-user state (state
store scales with #live users, not #events). RocksDB state store is the
cluster-side conf for that; local tests use the default HDFS-backed one.
Every stateful micro-batch runs one state-store task per shuffle
partition (streams get no AQE coalescing), each committing its store
however little data it holds: the session default of one wave
(``session.get_spark``) keeps that to one task per core. The count is
frozen into the checkpoint when a stream first starts; a restart resumes
at the checkpoint's count whatever the session's setting.
"""

from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators.util import epoch_us
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

GAP_MINUTES_DEFAULT = 30


def events_stream_schema(ts_type=None) -> StructType:
    """Schema of the events table as read by the file stream.

    ``ts`` has shipped in two layouts: TIMESTAMP(NANOS) (surfaces as a
    nanosecond LongType under ``spark.sql.legacy.parquet.nanosAsLong``)
    and TIMESTAMP(MICROS) (surfaces as a timestamp — NTZ when the file
    is written without UTC adjustment). ``ts_type`` selects the layout;
    :func:`read_events_stream` probes the actual files and passes the
    observed type, mirroring ``Catalog.load_table``'s dual-layout
    handling (sources/catalog.py).
    """
    return StructType(
        [
            StructField("event_id", LongType()),
            StructField("ts", ts_type or LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
            StructField("props", StringType()),
        ]
    )


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over parquet events (a directory or glob).

    File streams are the local stand-in for Kafka: each newly-arrived
    file becomes a micro-batch. ``max_files_per_trigger`` throttles
    batch size (and lets tests force multi-batch execution).

    The ``ts`` layout (nanos-as-long vs native timestamp) is probed from
    the files already present via a one-off batch read, so the stream
    sees the same ``ts`` type and values the batch ``Catalog`` produces
    for the same files. The probe reads parquet footers only, but it
    does so in a one-task Spark job (schema inference), not on the
    driver.
    """
    # same defensive confs as Catalog.load_table: work on a vanilla session
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    probed = dict(spark.read.parquet(path).dtypes).get("ts")
    ts_is_long = probed == "bigint"
    # MICROS files infer as TIMESTAMP_NTZ on batch reads, but watermarks
    # reject NTZ (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — declare plain
    # TIMESTAMP in the stream schema instead. With the session timezone
    # pinned to UTC the values are identical to the batch NTZ read.
    ts_type = LongType() if ts_is_long else TimestampType()
    reader = spark.readStream.schema(events_stream_schema(ts_type)).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.load(path)
    if ts_is_long:
        # integer division — ns epoch values (~1.7e18) overflow double precision
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour window: count + exact (decimal) value sum.

    Works on both streaming and batch frames — ``withWatermark`` is a
    no-op in batch, so the batch result is the oracle for the stream.
    """
    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def hourly_distinct_hll(
    events: DataFrame, p: int = 6, watermark: str = "2 hours"
) -> DataFrame:
    """Approximate distinct users per tumbling hour as portable-HLL
    REGISTERS — the canonical bounded-state streaming sketch: state per
    window is at most 2^p register maxima however many users the hour
    sees (exact distinct state grows with #users). Returns one row per
    (hour_ts, bkt) with the register maximum M; folding registers into
    the estimate is the reader's one-liner (a second aggregation, which
    streaming append mode cannot chain — and does not need to: the
    register frame IS the sketch, and sketches from different streams /
    days merge by MAX on the same rows).

    Works on both streaming and batch frames (withWatermark is a no-op
    in batch), so the batch run is the oracle for the stream —
    bit-exact, because registers are pure integer arithmetic
    (operators/sketch: portable hash + CASE-chain leading-zero rank)."""
    from ..operators.sketch import _hll_hash_col, _hll_rho_col

    df = events.withWatermark("ts", watermark) if events.isStreaming else events
    wbits = 32 - p
    h = _hll_hash_col(F.col("user_id"))
    return (
        df.select(
            F.window("ts", "1 hour").alias("w"),
            F.floor(h / (1 << wbits)).cast("long").alias("bkt"),
            _hll_rho_col(h % (1 << wbits), wbits).alias("_rho"),
        )
        .groupBy("w", "bkt")
        .agg(F.max("_rho").alias("m"))
        .select(F.col("w.start").alias("hour_ts"), "bkt", "m")
    )


def quota_per_key(
    events: DataFrame, n: int = 5, key: str = "user_id", out_of_order: str = "warn"
) -> DataFrame:
    """Stateful quota enforcement: emit only the FIRST ``n`` events per
    key, ordered by (ts, event_id) — the crawl-ingest primitive that
    caps per-domain (or per-user) intake without a global sort.

    Streaming path keeps ONE int64 of state per live key (events already
    admitted) via ``applyInPandasWithState``; each micro-batch sorts the
    key's Arrow chunk locally and admits rows until the quota fills.
    Cross-batch order is the file arrival order, so the stream equals
    the batch twin whenever ingest files are time-ordered (the standard
    date-partitioned layout; test_quota_stream_equals_batch feeds
    time-split files). The Spark 4 ``transformWithStateInPandas`` API
    would express the same state machine, but its state-server protocol
    requires ``google.protobuf``, which this container lacks — the
    GroupState API is dependency-free and semantically identical here.

    Batch path is the same contract as one per-key window: row_number
    over (e, event_id), filter <= n. Output: (key, event_id, value,
    rank_in_key).

    Out-of-order guard: the stream state also tracks the last-admitted
    (ts, event_id) per key, so a micro-batch carrying rows OLDER than
    something already admitted — the case where stream and batch twin
    can diverge — is no longer silent. ``out_of_order="warn"`` (default)
    logs a per-key warning to the executor log; ``"error"`` fails the
    batch (strict mode for pipelines that must guarantee batch parity);
    ``"ignore"`` restores the old silent behavior.
    """
    if out_of_order not in ("warn", "error", "ignore"):
        raise ValueError(
            f"out_of_order must be warn|error|ignore, got {out_of_order!r}"
        )
    from ..operators.util import epoch_us

    base = events.select(
        F.col(key).alias("k"),
        epoch_us("ts").alias("e"),
        "event_id",
        "value",
    )
    out_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("event_id", LongType()),
            StructField("value", DoubleType()),
            StructField("rank_in_key", LongType()),
        ]
    )

    if not events.isStreaming:
        from pyspark.sql.window import Window

        w = Window.partitionBy("k").orderBy("e", "event_id")
        return (
            base.withColumn("rank_in_key", F.row_number().over(w).cast("long"))
            .filter(F.col("rank_in_key") <= n)
            .select("k", "event_id", "value", "rank_in_key")
            .withColumnRenamed("k", key)
        )

    state_schema = StructType(
        [
            StructField("seen", LongType()),
            StructField("last_e", LongType()),
            StructField("last_id", LongType()),
        ]
    )

    def _quota(
        key_: Tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen, last_e, last_id = state.get if state.exists else (0, None, None)
        batch = pd.concat(list(pdfs), ignore_index=True)
        batch = batch.sort_values(["e", "event_id"], kind="mergesort")
        if last_e is not None and len(batch) and out_of_order != "ignore":
            head_e = int(batch["e"].iloc[0])
            head_id = int(batch["event_id"].iloc[0])
            if (head_e, head_id) <= (int(last_e), int(last_id)):
                msg = (
                    f"quota_per_key: key {key_} received event "
                    f"({head_e}, {head_id}) not after last admitted "
                    f"({last_e}, {last_id}) — micro-batch arrival order is "
                    "behind event-time order; stream may diverge from the "
                    "batch twin"
                )
                if out_of_order == "error":
                    raise ValueError(msg)
                import warnings

                warnings.warn(msg)
        room = max(0, n - int(seen))
        take = batch.iloc[:room]
        if len(take):
            last_e = int(take["e"].iloc[-1])
            last_id = int(take["event_id"].iloc[-1])
        state.update((int(seen) + len(take), last_e, last_id))
        if len(take):
            yield pd.DataFrame(
                {
                    "k": take["k"].astype("int64"),
                    "event_id": take["event_id"].astype("int64"),
                    "value": take["value"],
                    "rank_in_key": range(int(seen) + 1, int(seen) + len(take) + 1),
                }
            )

    return (
        base.groupBy("k")
        .applyInPandasWithState(
            _quota,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .withColumnRenamed("k", key)
    )


def latest_state(events: DataFrame) -> DataFrame:
    """CDC materialized view: latest (value, event_id) per
    (user_id, event_type), treating the event log as a stream of upserts.

    One ``max(struct(e, event_id, value))`` aggregate — lexicographic
    struct max picks the row with the greatest (ts, event_id), which is
    exact because event_id is unique. Works on both streaming and batch
    frames: on a stream it is a plain stateful aggregation (state = one
    struct per live key, updated in place each micro-batch — run it in
    ``update``/``complete`` output mode; no watermark needed because keys
    never retire), and the SAME code on the batch frame is its oracle.
    This is the streaming face of the batch ``events_state_asof`` query
    (queries.py) without the time-travel bound.
    """
    from ..operators.util import epoch_us

    return (
        events.select(
            "user_id", "event_type", epoch_us("ts").alias("e"), "event_id", "value"
        )
        .groupBy("user_id", "event_type")
        .agg(
            F.max(F.struct("e", "event_id", "value")).alias("_m"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            "event_type",
            F.col("_m.value").alias("last_value"),
            F.col("_m.event_id").alias("last_event_id"),
            "n_events",
        )
    )


def upsert_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str,
    tiebreak: str | None = None,
):
    """foreachBatch upsert: merge each micro-batch into a parquet state
    table, keeping the latest row per key.

    Parquet has no MERGE, so each batch rewrites the (compacted) state:
    read current -> union batch -> latest_by_key -> overwrite. At 100 TB
    the same foreachBatch body targets a table format with real MERGE
    (Delta/Iceberg) — the streaming-side pattern is identical. Returns
    the started StreamingQuery.
    """
    from ..operators.curation import latest_by_key

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            current = spark.read.parquet(path)
            merged = current.unionByName(batch_df, allowMissingColumns=True)
        except Exception:  # first batch: no state yet
            merged = batch_df
        compacted = latest_by_key(merged, keys=keys, order_col=order_col, tiebreak=tiebreak)
        # rewrite via a temp dir: overwriting a path being read breaks
        compacted.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    return (
        stream_df.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def dedup_stream(
    events: DataFrame, keys: list[str] | None = None, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact deduplication within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps the first arrival per key and
    drops re-deliveries (at-least-once sources re-send) for as long as
    the key's state is within the watermark — after that, state is
    evicted, so memory is bounded by the horizon's key cardinality
    instead of the full history. This is the streaming face of the batch
    ``dedup_exact`` operator (operators/dedup.py); on a batch frame it
    degrades to plain ``dropDuplicates`` (the oracle).
    """
    keys = keys or ["event_id"]
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    return events.dropDuplicates(keys)


def enrich_stream(
    events: DataFrame, dim: DataFrame, on, how: str = "left"
) -> DataFrame:
    """Stream-static enrichment join.

    The static dimension is re-read per micro-batch and broadcast (it
    must fit executor memory — at 100 TB the dim side is the ~GB-scale
    customer/part table, not the fact stream), so no stream-side state
    or shuffle is added: each micro-batch maps through a broadcast hash
    join. Works identically on a batch frame, which is the test oracle.
    """
    return events.join(F.broadcast(dim), on, how)


def join_streams_interval(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    within_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join within a time interval.

    Joins two event streams on a key where the right event lands within
    ±``within_minutes`` of the left event. The interval condition plus
    watermarks on BOTH sides is what lets Spark bound the join state:
    each side buffers only rows younger than watermark + interval, so
    state scales with the horizon's row count, not the stream history.
    Works identically on batch frames (the test oracle).
    """
    l = (left.withWatermark("ts", watermark) if left.isStreaming else left).alias("l")
    r = (right.withWatermark("ts", watermark) if right.isStreaming else right).alias("r")
    iv = f"INTERVAL {int(within_minutes)} MINUTES"
    cond = (
        (F.col(f"l.{on}") == F.col(f"r.{on}"))
        & (F.col("r.ts") >= F.expr(f"l.ts - {iv}"))
        & (F.col("r.ts") <= F.expr(f"l.ts + {iv}"))
    )
    return l.join(r, cond)


# --------------------------------------------------------------------------
# Gap-based sessionization
# --------------------------------------------------------------------------

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

# open-session state carried between micro-batches (epoch micros to keep
# the state tuple plain-typed)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def sessionize_batch(events: DataFrame, gap_minutes: int = GAP_MINUTES_DEFAULT) -> DataFrame:
    """Batch sessionization via window functions.

    A new session starts when the gap to the previous event of the same
    user exceeds ``gap_minutes``; the session id is the running count of
    such breaks (lag + conditional cumulative sum — the standard
    islands-and-gaps formulation, single shuffle on user_id).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = gap_minutes * 60 * 1_000_000
    with_break = events.withColumn(
        "_new_session",
        (
            F.coalesce(
                epoch_us("ts") - epoch_us(F.lag("ts").over(w)),
                F.lit(gap_us + 1),
            )
            > gap_us
        ).cast("long"),
    ).withColumn("_session_no", F.sum("_new_session").over(w))
    return (
        with_break.groupBy("user_id", "_session_no")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .drop("_session_no")
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def sessionize_native(
    events: DataFrame,
    gap_minutes: int = GAP_MINUTES_DEFAULT,
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap sessionization via Spark's built-in ``session_window`` — the
    idiomatic path when no per-session custom logic is needed (state
    lives in the JVM state store; no Python worker round-trip). Works on
    both batch and streaming inputs.

    Semantics note vs :func:`sessionize_batch` / ``sessionize_stream``:
    ``session_window.end`` is ``last_event_ts + gap`` (the half-open
    window bound), not the last event timestamp itself — start and
    n_events/total_value agree exactly.
    """
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy("user_id", F.session_window("ts", f"{gap_minutes} minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = GAP_MINUTES_DEFAULT,
    watermark: str = "2 hours",
    emit_open: bool = False,
) -> DataFrame:
    """Streaming sessionization: one open-session state row per user.

    ``applyInPandasWithState`` partitions by user_id; each micro-batch
    the handler folds that user's new events (sorted by ts) into the
    open session, emitting every session that closes (gap exceeded).
    When the group times out past the watermark, the open session is
    flushed. ``emit_open=True`` additionally flushes the open session at
    the end of every batch (used by single-pass tests where the stream
    ends while sessions are still open).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def handle(
        key: Tuple[int],
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        closed: list[tuple[int, int, int, float]] = []

        if state.hasTimedOut:
            if state.exists:
                s0, s1, n, v = state.get
                closed.append((s0, s1, n, v))
                state.remove()
        else:
            if state.exists:
                cur = list(state.get)
            else:
                cur = None
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            for ts, value in zip(rows["ts"], rows["value"]):
                us = int(ts.value) // 1_000  # pandas Timestamp.value is ns
                val = float(value)
                if cur is None:
                    cur = [us, us, 1, val]
                elif us - cur[1] > gap_us:
                    closed.append(tuple(cur))
                    cur = [us, us, 1, val]
                else:
                    cur[1] = us
                    cur[2] += 1
                    cur[3] += val
            if cur is not None:
                if emit_open:
                    closed.append(tuple(cur))
                    if state.exists:
                        state.remove()
                else:
                    state.update(tuple(cur))
                    # time out this user's state once the watermark passes
                    # the gap horizon beyond their last event
                    state.setTimeoutTimestamp(cur[1] // 1_000 + gap_minutes * 60 * 1_000)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(closed),
                    "session_start": [pd.Timestamp(s0, unit="us") for s0, *_ in closed],
                    "session_end": [pd.Timestamp(s1, unit="us") for _, s1, *_ in closed],
                    "n_events": [n for *_, n, _ in closed],
                    "total_value": [v for *_, v in closed],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            handle,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
