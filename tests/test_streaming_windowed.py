"""Event-time streaming: watermarked windows emit exactly-once on
watermark passage; applyInPandasWithState keeps durable per-key state
across restarts.
"""

from __future__ import annotations

import time

from cybersecurity_miw_spark.streaming.windowed import (
    running_user_profile,
    windowed_counts,
)


def _await(q):
    q.awaitTermination(120)
    time.sleep(0.2)


def test_windowed_counts_watermark_append(spark, tmp_path):
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # two event types inside the 10:00-11:00 window
    (indir / "a.log").write_text(
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "2,2026-01-01T10:20:00,7,click,2.5\n"
        "3,2026-01-01T10:40:00,8,view,1.0\n"
    )
    _await(windowed_counts(spark, str(indir), ckpt, outdir))

    # append mode: the window is still open (watermark hasn't passed
    # 11:00), so nothing is final yet
    try:
        n0 = len(spark.read.parquet(outdir).collect())
    except Exception:
        n0 = 0  # sink may not exist before the first append
    assert n0 == 0

    # an event far past the window end advances the watermark
    # (12:00 - 30min > 11:00) and finalizes the first window
    (indir / "b.log").write_text("4,2026-01-01T12:00:00,7,click,9.0\n")
    _await(windowed_counts(spark, str(indir), ckpt, outdir))

    rows = {
        (r["etype"]): (r["n_events"], r["value_sum"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert rows == {"click": (2, 4.0), "view": (1, 1.0)}


def test_running_user_profile_state_survives_restart(spark, tmp_path):
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,click,1.0\n"
        "2,2026-01-01T10:01:00,7,click,3.0\n"
        "3,2026-01-01T10:02:00,8,view,5.0\n"
    )
    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    first = {
        r["user_id"]: (r["n_events"], r["value_sum"], r["value_max"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert first == {7: (2, 4.0, 3.0), 8: (1, 5.0, 5.0)}

    # new file, new run: checkpointed state accumulates (not recomputed
    # from scratch), proving the state store round-trip
    (indir / "b.log").write_text("4,2026-01-01T11:00:00,7,click,10.0\n")
    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    second = {
        r["user_id"]: (r["n_events"], r["value_sum"], r["value_max"])
        for r in spark.read.parquet(outdir).collect()
    }
    # update-mode batch emits only user 7 (the touched key); the sink
    # MERGES per batch, so user 7's totals include run 1 AND user 8's
    # untouched profile survives the second trigger
    assert second == {7: (3, 14.0, 10.0), 8: (1, 5.0, 5.0)}


def test_running_user_profile_sink_read_failure_fails_trigger(
    spark, tmp_path, monkeypatch
):
    """A sink read that fails for any reason other than "no sink yet"
    (a transient filesystem error) must fail the trigger. Passing it
    off as a missing sink would overwrite each touched bucket with the
    batch's rows alone and drop every untouched user in it. A restart
    without the fault replays the batch and merges it."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException
    from pyspark.sql import DataFrameReader
    from pyspark.sql import functions as F

    # two users that share a sink bucket (pmod(xxhash64(user_id), 16))
    bucket = {
        r["u"]: r["b"]
        for r in spark.range(1, 64)
        .select(
            F.col("id").alias("u"),
            F.pmod(F.xxhash64("id"), F.lit(16)).alias("b"),
        )
        .collect()
    }
    touched, untouched = next(
        (a, b) for a in bucket for b in bucket if a < b and bucket[a] == bucket[b]
    )

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    def sink():
        return {
            r["user_id"]: (r["n_events"], r["value_sum"], r["value_max"])
            for r in spark.read.parquet(outdir).collect()
        }

    (indir / "a.log").write_text(
        f"1,2026-01-01T10:00:00,{touched},click,1.0\n"
        f"2,2026-01-01T10:01:00,{untouched},view,5.0\n"
    )
    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    first = {touched: (1, 1.0, 1.0), untouched: (1, 5.0, 5.0)}
    assert sink() == first

    (indir / "b.log").write_text(
        f"3,2026-01-01T11:00:00,{touched},click,10.0\n"
    )
    real_parquet = DataFrameReader.parquet

    def flaky_parquet(self, *paths, **options):
        if paths and str(paths[0]).rstrip("/") == outdir:
            raise OSError("simulated transient filesystem failure")
        return real_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", flaky_parquet)
    q = running_user_profile(spark, str(indir), ckpt, outdir)
    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination(120)
    assert "simulated transient filesystem failure" in str(exc.value)
    monkeypatch.undo()
    assert sink() == first  # the failed trigger overwrote nothing

    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    assert sink() == {touched: (2, 11.0, 10.0), untouched: (1, 5.0, 5.0)}


def test_running_user_profile_state_fn_runs_once_per_touched_key(
    spark, tmp_path, monkeypatch
):
    """Each trigger runs the state function once per touched key, also
    once the sink exists and the batch is merged into it: the batch
    frame is read by the bucket collect, the anti-join and the union,
    and is materialized once for all three. The calls are counted in a
    file, since the function runs in Python workers."""
    from cybersecurity_miw_spark.streaming import windowed

    calls = tmp_path / "calls"
    real = windowed._profile_fn

    def counted(key, pdfs, state):
        with open(calls, "a") as fh:
            fh.write(f"{key[0]}\n")
        yield from real(key, pdfs, state)

    def tally():
        ids = calls.read_text().split()
        return {int(u): ids.count(u) for u in set(ids)}

    monkeypatch.setattr(windowed, "_profile_fn", counted)
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,click,1.0\n"
        "2,2026-01-01T10:01:00,8,view,5.0\n"
    )
    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    assert tally() == {7: 1, 8: 1}

    (indir / "b.log").write_text("3,2026-01-01T11:00:00,7,click,10.0\n")
    _await(running_user_profile(spark, str(indir), ckpt, outdir))
    assert tally() == {7: 2, 8: 1}
    assert {
        r["user_id"]: (r["n_events"], r["value_sum"], r["value_max"])
        for r in spark.read.parquet(outdir).collect()
    } == {7: (2, 11.0, 10.0), 8: (1, 5.0, 5.0)}


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from cybersecurity_miw_spark.streaming.windowed import streaming_dedup

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # event 1 delivered twice in one batch (file redelivery), event 2 once
    (indir / "a.log").write_text(
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "2,2026-01-01T10:06:00,8,view,2.0\n"
    )
    _await(streaming_dedup(spark, str(indir), ckpt, outdir))
    rows = spark.read.parquet(outdir).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2]

    # batch 2: event 1 re-delivered again (inside the watermark — state
    # remembers it via the checkpoint) plus a new event 3
    (indir / "b.log").write_text(
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "3,2026-01-01T10:07:00,9,click,3.0\n"
    )
    _await(streaming_dedup(spark, str(indir), ckpt, outdir))
    rows = spark.read.parquet(outdir).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]


def test_streaming_dedup_redelivery_after_state_expiry(spark, tmp_path):
    """Second watermark boundary: once the watermark passes an event's
    ts + delay, its dedup state is evicted — yet a redelivery carrying
    the original (now-late) event time is STILL suppressed, because
    the watermark's late-data filter drops it before state lookup.
    Exactly-once for redeliveries therefore survives state expiry as
    long as redeliveries keep their source event time; only a
    redelivery re-stamped with a fresh ts (not the same record) could
    reappear.
    """
    from cybersecurity_miw_spark.streaming.windowed import streaming_dedup

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text(
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "2,2026-01-01T10:06:00,8,view,2.0\n"
    )
    _await(streaming_dedup(spark, str(indir), ckpt, outdir))

    # advance the watermark far past 10:05 + 30min: 13:00 - 30min =
    # 12:30, so event 1's state is evicted after this batch
    (indir / "b.log").write_text("5,2026-01-01T13:00:00,7,click,9.0\n")
    _await(streaming_dedup(spark, str(indir), ckpt, outdir))

    # batch 3: event 1 redelivered post-expiry (ts 10:05 << watermark)
    # alongside a live event
    (indir / "c.log").write_text(
        "1,2026-01-01T10:05:00,7,click,1.5\n"
        "6,2026-01-01T13:01:00,7,click,1.0\n"
    )
    _await(streaming_dedup(spark, str(indir), ckpt, outdir))

    rows = spark.read.parquet(outdir).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 5, 6]


def test_streaming_sessions_gap_close_and_merge(spark, tmp_path):
    """session_window sessionization: events within the gap merge into
    one session (even across batches, via the state store); a quiet
    gap splits sessions; rows emit only once the watermark passes gap
    beyond the session's last event."""
    from cybersecurity_miw_spark.streaming.windowed import streaming_sessions

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # user 7: two events 10 min apart (one session); user 8: one event
    (indir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,click,1.0\n"
        "2,2026-01-01T10:10:00,7,click,2.0\n"
        "3,2026-01-01T10:05:00,8,view,5.0\n"
    )
    _await(streaming_sessions(spark, str(indir), ckpt, outdir))
    try:
        n0 = len(spark.read.parquet(outdir).collect())
    except Exception:
        n0 = 0
    assert n0 == 0  # watermark hasn't passed any session's end + gap

    # batch 2: user 7 again at 10:20 (merges into the open session —
    # state-store merge across batches), then far-future events close
    # everything: watermark 13:00 - 30min = 12:30
    (indir / "b.log").write_text(
        "4,2026-01-01T10:20:00,7,click,4.0\n"
        "5,2026-01-01T13:00:00,9,click,0.5\n"
    )
    _await(streaming_sessions(spark, str(indir), ckpt, outdir))

    rows = {
        (r["user_id"]): (
            r["session_start"].isoformat(),
            r["session_end"].isoformat(),
            r["n_events"],
            r["value_sum"],
        )
        for r in spark.read.parquet(outdir).collect()
    }
    # session_end = last event + gap (the window the engine keeps open)
    assert rows[7] == (
        "2026-01-01T10:00:00", "2026-01-01T10:50:00", 3, 7.0
    )
    assert rows[8] == (
        "2026-01-01T10:05:00", "2026-01-01T10:35:00", 1, 5.0
    )
    assert 9 not in rows  # its session is still open


def test_stream_static_enrichment(spark, tmp_path):
    """Each micro-batch joins against the static dimension; unmatched
    keys survive with nulls (left join), and a dim refresh between
    runs is visible to the next trigger."""
    from cybersecurity_miw_spark.streaming.windowed import enriched_stream

    indir = tmp_path / "in"
    dimdir = str(tmp_path / "dim")
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    spark.createDataFrame(
        [(7, "analyst"), (8, "admin")], ["user_id", "role"]
    ).write.parquet(dimdir)

    (indir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,click,1.0\n"
        "2,2026-01-01T10:01:00,9,view,2.0\n"
    )
    dim = spark.read.parquet(dimdir)
    _await(enriched_stream(spark, str(indir), dim, ckpt, outdir))
    rows = {r["event_id"]: r["role"] for r in spark.read.parquet(outdir).collect()}
    assert rows == {1: "analyst", 2: None}

    # refresh the dim (user 9 appears), new batch picks it up
    spark.createDataFrame(
        [(7, "analyst"), (9, "guest")], ["user_id", "role"]
    ).write.mode("overwrite").parquet(dimdir)
    (indir / "b.log").write_text("3,2026-01-01T10:02:00,9,view,3.0\n")
    dim2 = spark.read.parquet(dimdir)
    _await(enriched_stream(spark, str(indir), dim2, ckpt, outdir))
    rows = {r["event_id"]: r["role"] for r in spark.read.parquet(outdir).collect()}
    assert rows == {1: "analyst", 2: None, 3: "guest"}


def test_streaming_sessions_agree_with_batch_session_summary(
    spark, tmp_path
):
    """Cross-check the two session paths (VERDICT r5 #6): every
    session the streaming sessionizer CLOSES must appear in batch
    `operators.windows.session_summary` over the same events with the
    same (user, start, last-event, count) — and the closed set must
    cover every batch session that ended before the final watermark.
    streaming session_end is last event + gap, so last event =
    session_end - 30 min."""
    from pyspark.sql import functions as F

    from cybersecurity_miw_spark.operators import windows
    from cybersecurity_miw_spark.streaming.windowed import (
        parse_event_lines,
        streaming_sessions,
    )

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # 3 users; user 7 has two sessions split by a >30 min gap; events
    # arrive across two micro-batches with in-batch disorder; a lone
    # far-future event (user 99) drives the watermark past everything
    # earlier so those sessions all close.
    (indir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,click,1.0\n"
        "3,2026-01-01T10:29:00,7,click,1.0\n"
        "2,2026-01-01T10:05:00,8,view,2.0\n"
        "6,2026-01-01T10:06:00,9,click,9.0\n"
        "4,2026-01-01T11:30:00,7,view,3.0\n"
    )
    _await(streaming_sessions(spark, str(indir), ckpt, outdir))
    # batch 2 events stay AHEAD of the restored watermark (11:00 =
    # batch 1 max 11:30 - 30 min): anything older would be late data
    # the stream correctly drops while batch still counts it
    (indir / "b.log").write_text(
        "5,2026-01-01T11:40:00,7,click,0.5\n"
        "7,2026-01-02T12:00:00,99,click,0.0\n"
    )
    _await(streaming_sessions(spark, str(indir), ckpt, outdir))

    gap_s = 30 * 60
    streamed = {
        (
            r["user_id"],
            int(r["session_start"].timestamp()),
            int(r["session_end"].timestamp()) - gap_s,
            r["n_events"],
        )
        for r in spark.read.parquet(outdir).collect()
    }

    batch_ev = parse_event_lines(
        spark.read.text(str(indir)).select(
            F.col("value").cast("string")
        )
    )
    batch = {
        (r["user_id"], r["start_s"], r["end_s"], r["n_events"])
        for r in windows.session_summary(
            batch_ev, gap_minutes=30
        ).collect()
    }

    # closed streaming sessions are exactly the batch sessions whose
    # last event precedes the final watermark (max ts - 30 min)
    cutoff = int(
        batch_ev.agg(F.max("ts")).head()[0].timestamp()
    ) - gap_s
    closed_batch = {b for b in batch if b[2] + gap_s <= cutoff}
    assert streamed == closed_batch
    # sanity: the fixture actually exercises both users-with-multiple-
    # sessions and a still-open session
    assert len(streamed) >= 4
    assert len(batch) > len(closed_batch)


def test_streaming_minute_rollup_feeds_batch_reaggregation(spark, tmp_path):
    """The continuous-aggregate contract: streamed minute partials,
    re-aggregated batch-side with rollup_from_partials, equal the
    batch time_rollup over the same (closed) events — the two paths
    share one algebra, so a metric read from the streaming sink can
    never disagree with a batch backfill."""
    import datetime as dt

    from cybersecurity_miw_spark.operators.timeseries import (
        rollup_from_partials,
        time_rollup,
    )
    from cybersecurity_miw_spark.streaming.windowed import (
        streaming_minute_rollup,
    )

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text(
        "1,2026-01-01T10:05:10,7,click,1.50\n"
        "2,2026-01-01T10:05:40,7,click,2.50\n"
        "3,2026-01-01T10:20:00,8,view,1.00\n"
        "4,2026-01-01T10:59:30,7,click,4.00\n"
    )
    _await(streaming_minute_rollup(spark, str(indir), ckpt, outdir))
    # a next-day event closes every Jan-1 minute window
    (indir / "b.log").write_text("5,2026-01-02T12:00:00,7,click,9.0\n")
    _await(streaming_minute_rollup(spark, str(indir), ckpt, outdir))

    partials = spark.read.parquet(outdir)
    got = {
        (r["bucket"], r["event_type"]): (
            r["n_events"], r["value_sum_c"], r["value_min_c"], r["value_max_c"],
        )
        for r in partials.collect()
    }
    # two same-minute clicks merged into one partial row
    assert got == {
        (dt.datetime(2026, 1, 1, 10, 5), "click"): (2, 400, 150, 250),
        (dt.datetime(2026, 1, 1, 10, 20), "view"): (1, 100, 100, 100),
        (dt.datetime(2026, 1, 1, 10, 59), "click"): (1, 400, 400, 400),
    }

    # batch twin over the closed (Jan-1) events
    closed = spark.createDataFrame(
        [
            ("click", dt.datetime(2026, 1, 1, 10, 5, 10), 1.50),
            ("click", dt.datetime(2026, 1, 1, 10, 5, 40), 2.50),
            ("view", dt.datetime(2026, 1, 1, 10, 20, 0), 1.00),
            ("click", dt.datetime(2026, 1, 1, 10, 59, 30), 4.00),
        ],
        "event_type STRING, ts TIMESTAMP, value DOUBLE",
    )
    stream_side = sorted(
        tuple(r) for r in rollup_from_partials(partials).collect()
    )
    batch_side = sorted(tuple(r) for r in time_rollup(closed).collect())
    assert stream_side == batch_side


def test_stream_stream_join_time_bounded(spark, tmp_path):
    """Correlation join: alerts pair with same-user events whose ts
    precedes the alert by at most the join window; outside-window and
    cross-user alerts pair with nothing."""
    evdir = tmp_path / "ev"
    aldir = tmp_path / "al"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    evdir.mkdir()
    aldir.mkdir()

    (evdir / "a.log").write_text(
        "1,2026-01-01T10:00:00,7,login,1.0\n"
        "2,2026-01-01T10:10:00,8,login,1.0\n"
        "3,2026-01-01T11:30:00,7,click,1.0\n"
    )
    (aldir / "a.log").write_text(
        # 30 min after event 1, same user -> pairs with event 1 only
        # (event 3 is later than the alert)
        "100,2026-01-01T10:30:00,7,high\n"
        # same user, 2h after event 1 -> outside the 1h window of
        # event 1, inside event 3's window
        "101,2026-01-01T12:00:00,7,low\n"
        # user with no events in window
        "102,2026-01-01T10:05:00,9,low\n"
    )
    from cybersecurity_miw_spark.streaming.windowed import (
        stream_stream_join,
    )

    _await(
        stream_stream_join(
            spark, str(evdir), str(aldir), ckpt, outdir,
            join_window_seconds=3600,
        )
    )
    # advance both watermarks far past everything so all pairs emit
    (evdir / "b.log").write_text("4,2026-01-02T12:00:00,7,login,1.0\n")
    (aldir / "b.log").write_text("103,2026-01-02T12:00:00,7,low\n")
    _await(
        stream_stream_join(
            spark, str(evdir), str(aldir), ckpt, outdir,
            join_window_seconds=3600,
        )
    )

    rows = sorted(
        (r["event_id"], r["alert_id"])
        for r in spark.read.parquet(outdir).collect()
        if r["alert_id"] in (100, 101, 102)
    )
    assert rows == [(1, 100), (3, 101)]


def test_streaming_sketch_rollup_feeds_distinct_reaggregation(
    spark, tmp_path
):
    """Streamed HLL sketch partials, unioned batch-side, must equal
    the batch time_rollup_distinct on the same closed events — the
    distinct-count continuous aggregate contract (estimates can't
    merge; sketches must)."""
    import datetime as dt

    from cybersecurity_miw_spark.operators.timeseries import (
        rollup_distinct_from_sketches,
        time_rollup_distinct,
    )
    from cybersecurity_miw_spark.streaming.windowed import (
        streaming_minute_distinct_rollup,
    )

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    # user 7 spans two minutes AND appears twice in one minute: the
    # hour level must count it once
    (indir / "a.log").write_text(
        "1,2026-01-01T10:05:10,7,click,1.0\n"
        "2,2026-01-01T10:05:40,7,click,1.0\n"
        "3,2026-01-01T10:06:00,7,click,1.0\n"
        "4,2026-01-01T10:06:30,8,click,1.0\n"
        "5,2026-01-01T10:20:00,9,view,1.0\n"
    )
    _await(
        streaming_minute_distinct_rollup(spark, str(indir), ckpt, outdir)
    )
    (indir / "b.log").write_text("6,2026-01-02T12:00:00,7,click,9.0\n")
    _await(
        streaming_minute_distinct_rollup(spark, str(indir), ckpt, outdir)
    )

    sk = spark.read.parquet(outdir)
    got = sorted(
        tuple(r) for r in rollup_distinct_from_sketches(sk).collect()
    )
    closed = spark.createDataFrame(
        [
            ("click", dt.datetime(2026, 1, 1, 10, 5, 10), 7),
            ("click", dt.datetime(2026, 1, 1, 10, 5, 40), 7),
            ("click", dt.datetime(2026, 1, 1, 10, 6, 0), 7),
            ("click", dt.datetime(2026, 1, 1, 10, 6, 30), 8),
            ("view", dt.datetime(2026, 1, 1, 10, 20, 0), 9),
        ],
        "event_type STRING, ts TIMESTAMP, user_id LONG",
    )
    want = sorted(
        tuple(r) for r in time_rollup_distinct(closed).collect()
    )
    assert got == want
    # and the hour row really deduplicates user 7 across minutes
    hour = [
        r for r in got
        if r[0] == "hour" and r[2] == "click"
    ]
    assert hour[0][3] == 2  # users 7 and 8, not 3 minute-slots
