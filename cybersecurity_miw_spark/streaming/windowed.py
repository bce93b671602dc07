"""Event-time streaming: watermarked window aggregation and a custom
stateful operator.

The reference has no event-time concept — its incremental mode
(miw/job.cc:197-226) folds whole files in arrival order. At cluster
scale a log pipeline needs the two Structured Streaming primitives the
reference's design cannot express:

* **watermarked tumbling windows** — late events (up to the watermark
  delay) still land in their event-time bucket; state for closed
  windows is dropped, so memory is bounded by (open windows × group
  cardinality) instead of growing with stream length.
* **applyInPandasWithState** — arbitrary per-key running state (the
  Spark-sanctioned escape hatch for operators the built-in windowed
  aggs can't express). Used here for a per-user running profile
  (count/sum/max) that survives restarts via the checkpoint — the
  stateful analog of the reference's in-memory merge table, but
  durable and partitioned by key.

Both operate on comma-delimited event lines
(``event_id,ISO-ts,user_id,event_type,value``) landing as files in a
directory — the streaming twin of the batch `events_lines` shape.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark.streaming.loop import (
    _read_store_if_present,
    micro_batch_loop,
)

EVENT_LINE_SCHEMA = "event_id long, ts timestamp, user_id long, etype string, value double"


def parse_event_lines(lines: DataFrame) -> DataFrame:
    """CSV event lines → typed columns (JVM from_csv, no UDF)."""
    return lines.select(
        F.from_csv(F.col("value"), EVENT_LINE_SCHEMA).alias("e")
    ).select("e.*")


def _events(spark: SparkSession, input_dir: str) -> DataFrame:
    """The streaming event frame over the lines landing in
    ``input_dir``."""
    return parse_event_lines(spark.readStream.format("text").load(input_dir))


def _parquet_sink(
    df: DataFrame, output_dir: str, checkpoint_dir: str, available_now: bool
) -> StreamingQuery:
    """Start an append-mode, checkpointed parquet sink for ``df``."""
    writer = (
        df.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_counts(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    window: str = "1 hour",
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Tumbling-window per-event-type counts/sums with a watermark.

    Append mode: a window row is emitted exactly once, when the
    watermark passes its end — the scale-correct shape (closed-window
    state is freed; output is immutable so the sink can be a plain
    parquet append at any volume)."""
    ev = _events(spark, input_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("etype"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "etype",
            "n_events",
            "value_sum",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir, available_now)


def streaming_sessions(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Gap-based session aggregation on a live stream — the streaming
    twin of ``operators.windows.sessionize`` using Spark's built-in
    ``session_window`` (dynamic-length event-time windows that close
    when a key goes quiet for ``gap``).

    Append mode: a session row is emitted exactly once, when the
    watermark passes gap beyond its last event — so downstream sees
    finalized sessions only, and state per key is bounded by its
    open session, not stream history. This is the shape a 100 TB/day
    clickstream sessionizer runs forever: no custom state code, the
    engine's session-window state store does the merging."""
    ev = _events(spark, input_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", gap).alias("w"), F.col("user_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("value_sum"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir, available_now)


def streaming_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    keys: tuple[str, ...] = ("event_id",),
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming exact dedup: emit each key's FIRST arrival, drop
    re-deliveries seen within the watermark delay.

    The streaming twin of ``operators.dedup.exact_*`` for a training
    pipeline ingesting documents/events continuously — at-least-once
    upstream delivery (file redeliveries, producer retries) becomes
    exactly-once rows downstream. ``dropDuplicatesWithinWatermark``
    keeps per-key state only until the watermark passes, so state is
    bounded by (keys arriving per watermark window), not by stream
    lifetime — the property that makes this run forever at 100 TB/day
    where an unwatermarked ``dropDuplicates`` would grow state without
    bound."""
    ev = _events(spark, input_dir)
    deduped = ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )
    return _parquet_sink(deduped, output_dir, checkpoint_dir, available_now)


# ---- custom stateful operator: per-user running profile ----

_PROFILE_OUTPUT = "user_id long, n_events bigint, value_sum double, value_max double"
_PROFILE_STATE = "n bigint, s double, m double"


def _profile_fn(
    key: tuple[Any, ...], pdfs: Iterator[Any], state: Any
) -> Iterator[Any]:
    """Fold this batch's rows for one user into the running
    (count, sum, max) state; emit the updated profile once per batch.
    Pure-Python arithmetic on Arrow batches — the state is three
    scalars per key, so the store stays tiny at any key cardinality."""
    import pandas as pd

    n, s, m = state.get if state.exists else (0, 0.0, float("-inf"))
    for pdf in pdfs:
        vals = pdf["value"].astype(float)
        n += int(len(pdf))
        s += float(vals.sum())
        if len(vals):
            m = max(m, float(vals.max()))
    state.update((n, s, m))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "value_sum": [s],
            "value_max": [m],
        }
    )


def running_user_profile(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Per-user running (count, sum, max) via applyInPandasWithState —
    checkpointed, so successive runs keep accumulating (the durable
    analog of the reference's in-memory merge table).

    Sink semantics: update-mode batches carry ONLY the keys touched in
    that micro-batch, so the sink must MERGE each batch, never replace
    itself wholesale (a plain overwrite would drop every untouched
    user's profile per trigger, and availableNow runs split across
    micro-batches would drop their own earlier batches). Profiles are
    laid out in ``bucket=pmod(xxhash64(user_id), N)`` partitions and
    each batch rewrites only its touched buckets via dynamic partition
    overwrite: existing rows for untouched users in those buckets are
    carried over (anti-join), batch rows win for touched users. Work
    per trigger is bounded by touched-bucket bytes, not sink size."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    n_buckets = 16

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # materialized once: the touched-bucket collect, the anti-join
        # and the union below all read it, and each read of the live
        # frame would rerun the state function for every touched key
        batch = batch_df.withColumn(
            "bucket", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets))
        ).localCheckpoint(eager=True)
        # existence is probed, not inferred from a read error: a
        # transient FS failure on a later trigger must fail the
        # trigger, not pass for "no sink yet" — the bucket overwrite
        # below would then drop every untouched user in the touched
        # buckets
        existing = _read_store_if_present(sess, output_dir)
        if existing is not None:
            touched = [
                r["bucket"] for r in batch.select("bucket").distinct().collect()
            ]
            carried = existing.where(F.col("bucket").isin(touched)).join(
                batch.select("user_id"), "user_id", "left_anti"
            )
            # materialize BEFORE the overwrite touches the files being read
            merged = (
                carried.select(*batch.columns)
                .unionByName(batch)
                .localCheckpoint(eager=True)
            )
        else:
            merged = batch
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(output_dir)
        )

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, write_batch,
        parse=lambda lines: parse_event_lines(lines)
        .groupBy("user_id")
        .applyInPandasWithState(
            _profile_fn,
            outputStructType=_PROFILE_OUTPUT,
            stateStructType=_PROFILE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        ),
        not_null=(),
        available_now=available_now,
        output_mode="update",
    )


def enriched_stream(
    spark: SparkSession,
    input_dir: str,
    dim_df: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    on: str = "user_id",
    available_now: bool = True,
) -> StreamingQuery:
    """Stream-static enrichment: join each micro-batch of events
    against a static dimension table (user attributes, threat-intel
    indicators). Spark plans the static side as a broadcast per
    micro-batch when it is small — the streaming analog of the batch
    dimension join, with no state store involvement (the static side
    is re-read per batch, so a refreshed dim parquet is picked up on
    the next trigger)."""
    ev = _events(spark, input_dir)
    joined = ev.join(dim_df, on, "left")
    return _parquet_sink(joined, output_dir, checkpoint_dir, available_now)


def streaming_minute_rollup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "30 minutes",
    cents_scale: int = 100,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous-aggregate maintenance: the streaming producer of the
    rollup family (operators/timeseries.py). Each closed 1-minute
    window appends ONE immutable partial row per (bucket, event_type)
    in the exact `rollup_partials` schema — `bucket` (window start),
    `event_type`, n_events, value_sum_c, value_min_c, value_max_c —
    so hour/day views are a batch
    `rollup_from_partials(spark.read.parquet(sink))` over a table of
    ~#buckets×#keys rows, never a rescan of the event stream.

    Append + watermark is what makes this scale: closed-window state
    is dropped (memory bounded by open windows × key cardinality) and
    the sink is append-only parquet (no upserts needed — a bucket row
    is written exactly once, when the watermark passes its end)."""
    ev = _events(spark, input_dir)
    cents = F.round(F.col("value") * cents_scale, 0).cast("long")
    agg = (
        ev.withWatermark("ts", watermark)
        .select("ts", F.col("etype").alias("event_type"), cents.alias("_c"))
        .groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("_c").cast("long").alias("value_sum_c"),
            F.min("_c").alias("value_min_c"),
            F.max("_c").alias("value_max_c"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n_events",
            "value_sum_c",
            "value_min_c",
            "value_max_c",
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir, available_now)


def stream_stream_join(
    spark: SparkSession,
    events_dir: str,
    alerts_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "30 minutes",
    join_window_seconds: int = 3600,
    available_now: bool = True,
) -> StreamingQuery:
    """Watermarked stream-stream inner join: each event pairs with
    the alerts of the SAME user whose alert time falls in
    ``[event ts, event ts + join_window_seconds]`` — the correlation
    join (alert raised shortly after an event) that neither a
    stream-static join nor a window agg expresses.

    Both sides carry watermarks and the join predicate bounds alert
    time relative to event time, so Spark can expire buffered state:
    an input row is held only until the other side's watermark passes
    its window — state is bounded by (rate x window), not stream
    length. Without the time-range condition Spark would have to
    buffer both streams forever (it rejects that plan in append
    mode); the range is what makes the join scale.

    Alert lines land as ``alert_id,ISO-ts,user_id,severity`` text
    files; events are the standard event-line shape.
    """
    ev = _events(spark, events_dir).withWatermark("ts", watermark)
    al = (
        spark.readStream.format("text")
        .load(alerts_dir)
        .select(
            F.from_csv(
                F.col("value"),
                "alert_id long, a_ts timestamp, a_user long, severity string",
            ).alias("a")
        )
        .select("a.*")
        .withWatermark("a_ts", watermark)
    )
    joined = ev.join(
        al,
        (ev["user_id"] == al["a_user"])
        & (al["a_ts"] >= ev["ts"])
        & (al["a_ts"] <= ev["ts"] + F.expr(f"INTERVAL {join_window_seconds} SECONDS")),
        "inner",
    ).select(
        "event_id", "user_id", "ts", "etype", "alert_id", "a_ts", "severity"
    )
    return _parquet_sink(joined, output_dir, checkpoint_dir, available_now)


def streaming_minute_distinct_rollup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_dir: str,
    watermark: str = "30 minutes",
    available_now: bool = True,
) -> StreamingQuery:
    """Streaming producer for the approx-DISTINCT rollup
    (operators/timeseries.py:time_rollup_distinct): each closed
    minute window appends one row with an HLL SKETCH BLOB per
    (bucket, event_type) — not an estimate. Storing the sketch is
    the whole point: estimates don't merge (distinct counts can't be
    summed across minutes), sketches do — hour/day views
    ``hll_union_agg`` the sink and estimate at the end, and the same
    sink can be unioned with batch-built sketches for backfill."""
    ev = _events(spark, input_dir)
    agg = (
        ev.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 minute").alias("w"),
            F.col("etype").alias("event_type"),
        )
        .agg(F.expr("hll_sketch_agg(user_id)").alias("user_sketch"))
        .select(
            F.col("w.start").alias("bucket"), "event_type", "user_sketch"
        )
    )
    return _parquet_sink(agg, output_dir, checkpoint_dir, available_now)
