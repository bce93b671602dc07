"""Row-level data expectations with a quarantine sink — the
continuous data-contract pattern (Delta Live Tables' expectations,
Great Expectations' checkpoint mode) on plain Structured Streaming:

    events land as files → every row is evaluated against named
    predicate expectations IN ONE PASS → passing rows append to the
    good sink, failing rows append to a quarantine sink WITH the
    list of violated expectation names.

Nothing is dropped silently: the quarantine keeps the full row plus
``_violations`` (array of names), so bad data is debuggable and
replayable after a fix. The violation vector is a single projection
(array of when()s + array_compact) — no per-expectation pass, no
Python; cost is O(#expectations) expression nodes per row.

Complements operators/quality.py: that module checks TABLE-level
expectations against a one-pass profile (row counts, null fractions,
distincts); this one enforces ROW-level contracts continuously and
routes the failures.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark.streaming.loop import micro_batch_loop
from cybersecurity_miw_spark.streaming.windowed import parse_event_lines


def with_violations(
    df: DataFrame, expectations: list[tuple[str, Column]]
) -> DataFrame:
    """Add ``_violations``: the names of every expectation whose
    predicate is NOT satisfied by the row (null predicate counts as a
    violation — an expectation must PROVE itself). One projection."""
    if not expectations:
        raise ValueError("at least one expectation is required")
    flags = [
        F.when(~F.coalesce(cond, F.lit(False)), F.lit(name))
        for name, cond in expectations
    ]
    return df.withColumn("_violations", F.array_compact(F.array(*flags)))


def split_by_expectations(
    df: DataFrame, expectations: list[tuple[str, Column]]
) -> tuple[DataFrame, DataFrame]:
    """(good, quarantined): good rows with the check column removed,
    failing rows with ``_violations`` retained."""
    tagged = with_violations(df, expectations)
    good = tagged.where(F.size("_violations") == 0).drop("_violations")
    bad = tagged.where(F.size("_violations") > 0)
    return good, bad


def streaming_with_expectations(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    good_dir: str,
    quarantine_dir: str,
    expectations: list[tuple[str, Column]],
    available_now: bool = True,
    metrics: list | None = None,
) -> StreamingQuery:
    """Continuous contract enforcement over event lines
    (``event_id,ISO-ts,user_id,event_type,value``): each micro-batch
    is tagged once, then both sinks append their half. The tagged
    frame is materialized once per batch (localCheckpoint) so the two
    writes don't recompute the parse+tag work.

    Pass a list as ``metrics`` to monitor the quarantine rate WITHOUT
    scanning the sink: an Observation node rides the tagging
    projection (the same one-pass accounting as MiwJob line stats,
    job.py:enable_line_stats), filled as a side effect of the batch's
    own materialization — no extra job. One dict is appended per
    micro-batch: ``{'batch_id', 'n_rows', 'n_quarantined'}`` plus a
    per-expectation violation count under ``'viol_<name>'`` (a row
    violating two expectations counts once in n_quarantined and once
    per name)."""
    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Observation

        tagged = with_violations(batch_df, expectations)
        obs = None
        if metrics is not None:
            obs = Observation(f"expectations_b{batch_id}")
            aggs = [
                F.count(F.lit(1)).alias("n_rows"),
                F.coalesce(
                    F.sum((F.size("_violations") > 0).cast("long")),
                    F.lit(0),
                ).alias("n_quarantined"),
                *[
                    F.coalesce(
                        F.sum(
                            F.array_contains("_violations", name).cast("long")
                        ),
                        F.lit(0),
                    ).alias(f"viol_{name}")
                    for name, _ in expectations
                ],
            ]
            tagged = tagged.observe(obs, *aggs)
        tagged = tagged.localCheckpoint(eager=True)
        if obs is not None:
            # filled by the checkpoint materialization above
            metrics.append({"batch_id": batch_id, **obs.get})
        (
            tagged.where(F.size("_violations") == 0)
            .drop("_violations")
            .write.mode("append")
            .parquet(good_dir)
        )
        bad = tagged.where(F.size("_violations") > 0)
        bad.write.mode("append").parquet(quarantine_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, write_batch,
        parse=parse_event_lines,
        not_null=(),
        available_now=available_now,
    )
