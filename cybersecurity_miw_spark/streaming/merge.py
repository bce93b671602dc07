"""Incremental aggregation — the reference's ``-merge_results`` /
``-tmp_save`` modes re-expressed.

The reference feeds successive files into the SAME aggregation state by
re-emitting the previous reduce output into the next map phase
(reference: miw/job.cc:197-226, metis/application.cc:245-249), with
``-tmp_save`` writing a timestamped CSV snapshot after each chunk
(miw/mr_job.h:147-177). In Spark this is either:

* **batch**: all files in one plan — ``spark.read.text([...])`` then
  one aggregation; the incremental machinery has no reason to exist; or
* **streaming**: a file-source Structured Streaming query whose every
  trigger summarizes its new lines with the batch aggregation and
  merges that summary into the stored one (``log_record::merge``,
  miw/log_record.cc:251-324) — the honest cluster analog of "keep
  summarizing as logs arrive". The summary is versioned by trigger, so
  it needs no Spark state store.

The reference has no late-data concept, so no watermark is set; the
stored summary is bounded by the group-key cardinality exactly as the
reference's in-memory table was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark import fsutil
from cybersecurity_miw_spark.operators.aggregate import (
    finalize,
    merge_summaries,
    summarize,
)
from cybersecurity_miw_spark.plans.compiler import parse
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.sources.text import clean_lines
from cybersecurity_miw_spark.streaming.loop import (
    _read_store_if_present,
    micro_batch_loop,
)


def stream_logs(
    spark: SparkSession,
    input_dir: str,
    ldef: LogDef,
    checkpoint_dir: str,
    output_dir: str,
    available_now: bool = True,
    write_batch=None,
) -> StreamingQuery:
    """Continuously summarize log files landing in ``input_dir``;
    each micro-batch rewrites the full (small) group summary to
    ``output_dir`` as parquet — the -tmp_save snapshot analog.

    Trigger ``N`` summarizes its lines with the batch aggregation
    (:func:`~cybersecurity_miw_spark.operators.aggregate.summarize`),
    merges that summary with version ``N-1`` under
    ``<checkpoint_dir>/summary``, writes the result as version ``N``,
    hands its finalized rows to ``write_batch(df, N)`` and drops the
    versions before ``N-1``.

    Exactly-once emit: source offsets commit to the checkpoint only
    AFTER the batch function returns. A crash mid-batch replays that
    batch on restart, which merges into version ``N-1`` again and
    rewrites version ``N`` and the overwrite snapshot with the same
    summary (no double counting). The crash-resume goldens in
    tests/test_streaming_merge.py inject a failing ``write_batch`` to
    prove it. A checkpoint whose version ``N-1`` is gone cannot be
    resumed: the trigger raises rather than restart the summary from
    zero.
    """
    if write_batch is None:

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(output_dir)

    versions = f"{checkpoint_dir}/summary"

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        summary = summarize(batch_df, ldef)
        if batch_id > 0:
            prev = _read_store_if_present(spark, f"{versions}/{batch_id - 1}")
            if prev is None:
                raise RuntimeError(
                    f"stream_logs: summary version {batch_id - 1} is missing "
                    f"under {versions}; the checkpoint no longer matches its "
                    f"summary — reset the checkpoint ({checkpoint_dir}) and "
                    "replay the input"
                )
            summary = merge_summaries(prev, summary, ldef)
        path = f"{versions}/{batch_id}"
        summary.write.mode("overwrite").parquet(path)
        write_batch(finalize(spark.read.parquet(path), ldef), batch_id)
        for name in fsutil.list_names(spark, versions):
            if name.isdigit() and int(name) < batch_id - 1:
                fsutil.delete(spark, f"{versions}/{name}")

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, merge_batch,
        parse=lambda lines: parse(clean_lines(lines, ldef), ldef),
        not_null=(),
        available_now=available_now,
    )
