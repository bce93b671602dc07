"""Incremental aggregation — the reference's ``-merge_results`` /
``-tmp_save`` modes re-expressed.

The reference feeds successive files into the SAME aggregation state by
re-emitting the previous reduce output into the next map phase
(reference: miw/job.cc:197-226, metis/application.cc:245-249), with
``-tmp_save`` writing a timestamped CSV snapshot after each chunk
(miw/mr_job.h:147-177). In Spark this is either:

* **batch**: all files in one plan — ``spark.read.text([...])`` then
  one aggregation; the incremental machinery has no reason to exist; or
* **streaming**: a file-source Structured Streaming query in "complete"
  mode — new files landing in a directory merge into the running
  aggregation state, checkpointed (= tmp_save), which is the honest
  cluster analog of "keep summarizing as logs arrive".

The reference has no late-data concept, so no watermark is set; state
is bounded by the group-key cardinality exactly as the reference's
in-memory table was.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark.operators.aggregate import aggregate
from cybersecurity_miw_spark.plans.compiler import parse
from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.sources.text import clean_lines
from cybersecurity_miw_spark.streaming.loop import micro_batch_loop


def stream_logs(
    spark: SparkSession,
    input_dir: str,
    ldef: LogDef,
    checkpoint_dir: str,
    output_dir: str,
    available_now: bool = True,
    union_count_strategy: str = "expr",
    write_batch=None,
) -> StreamingQuery:
    """Continuously summarize log files landing in ``input_dir``;
    each micro-batch rewrites the full (small) group summary to
    ``output_dir`` as parquet — the -tmp_save snapshot analog.

    Exactly-once emit: source offsets commit to the checkpoint only
    AFTER the batch function returns, and the overwrite snapshot is
    idempotent — a crash mid-batch replays that batch on restart and
    rewrites the same summary (no double counting). The crash-resume
    golden in tests/test_streaming_merge.py injects a failing
    ``write_batch`` to prove it.

    union_count uses the single-groupBy expression strategy: the
    loop runs the aggregation as a ``complete``-mode streaming query,
    and Structured Streaming refuses to start one that chains a second
    aggregation onto a streaming aggregation (an AnalysisException),
    which the batch path's two-level histogram is.
    """
    if write_batch is None:

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            batch_df.write.mode("overwrite").parquet(output_dir)

    return micro_batch_loop(
        spark, input_dir, checkpoint_dir, write_batch,
        parse=lambda lines: aggregate(
            parse(clean_lines(lines, ldef), ldef), ldef, union_count_strategy
        ),
        not_null=(),
        available_now=available_now,
        output_mode="complete",
    )
