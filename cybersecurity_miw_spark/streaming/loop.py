"""The one micro-batch skeleton every ``foreachBatch`` loop in the
package runs on — the streaming analog of the reference's single job
skeleton that each MIW job plugs its map/reduce/combine functions into.

:func:`micro_batch_loop` owns the three pieces each loop used to
hand-roll: the file-source reader (text lines or parquet, the
``maxFilesPerTrigger`` backpressure cap, the line parser and the
non-null key filter), the per-trigger cache-release scope, and the
checkpointed ``foreachBatch`` writer with its ``availableNow`` trigger.
A loop supplies only its per-trigger body.

The store helpers the ingest loops share live here too: the
existence-probed store read and the staleness policy hook.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from cybersecurity_miw_spark.cache import release_mark, release_since


def _read_store_if_present(sess: SparkSession, store_dir: str):
    """Read a persisted store parquet, or None when the store does not
    exist YET (first trigger). Existence is probed explicitly through
    the Hadoop FileSystem API (fsutil.exists) rather than by catching
    the read error: a transient FS/object-store failure on a LATER
    batch must fail the trigger — the checkpoint then replays the
    batch — not be silently classified as "no store yet", which would
    skip the history anti-join and re-admit already-seen rows
    (ADVICE r16)."""
    from cybersecurity_miw_spark import fsutil

    if not fsutil.exists(sess, store_dir):
        return None
    return sess.read.parquet(store_dir)


class StaleStoreError(RuntimeError):
    """A streaming store monitor graded a trigger stale and the loop
    was started with ``on_stale="raise"``. The query fails BEFORE the
    trigger's checkpoint commits, so after the documented offline
    remediation (one-call ``rebuild_*`` in the single-writer window,
    docs/MONITORING.md) a restart replays the tripped batch — nothing
    is lost, per the family's at-least-once contract."""


def _stale_gate(metrics: list | None, on_stale: str) -> list | None:
    """Validate ``on_stale`` and return the effective metrics list:
    ``on_stale="raise"`` needs the monitor ACTIVE even when the caller
    passed no list, so it gets a private one. Auto-rebuild mid-stream
    is deliberately not an option — frozen orders/quantizers are
    load-bearing, so failing fast is the only honest in-stream action
    (VERDICT r14 #3)."""
    if on_stale not in ("report", "raise"):
        raise ValueError(
            f"on_stale must be 'report' or 'raise', got {on_stale!r}"
        )
    if metrics is None and on_stale == "raise":
        return []
    return metrics


def _raise_if_stale(report: dict, on_stale: str, loop: str) -> None:
    if on_stale == "raise" and report.get("stale"):
        raise StaleStoreError(
            f"{loop}: store monitor graded this trigger stale "
            f"({report}); rebuild the store offline "
            "(docs/MONITORING.md) and restart the stream"
        )


def micro_batch_loop(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    body: Callable[[DataFrame, int], None],
    *,
    parse: Callable[[DataFrame], DataFrame] | None = None,
    schema: str | None = None,
    not_null: Sequence[str] = ("doc_id",),
    max_files_per_trigger: int | None = None,
    available_now: bool = True,
    output_mode: str = "append",
) -> StreamingQuery:
    """Start a checkpointed file-source query that runs ``body(batch_df,
    batch_id)`` once per trigger.

    Source: ``input_dir`` read as text lines, or as parquet under
    ``schema`` when one is given; ``parse`` then maps the raw frame to
    the loop's streaming input (a line parser, or a parser plus a
    stateful operator, whose sink mode ``output_mode`` names), and rows
    with a NULL in any ``not_null`` column are dropped. A loop that
    carries a summary across triggers without Spark state (the log
    summary of ``streaming.merge.stream_logs``) parses lines only and
    keeps its summary versioned by batch id, so a replayed trigger
    reads the same previous version again.

    Each trigger runs ``body`` inside its own cache-release scope, so
    the intermediates the body's operators pin are unpersisted when the
    trigger ends — raised or not."""
    reader = spark.readStream
    if max_files_per_trigger is not None:
        # backpressure: bound each micro-batch's file count so one
        # huge landing burst cannot make a single trigger (and its
        # store anti-join build side) arbitrarily large; availableNow
        # still drains everything, just in capped batches
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if schema is not None:
        rows = reader.schema(schema).parquet(input_dir)
    else:
        rows = reader.format("text").load(input_dir)
    if parse is not None:
        rows = parse(rows)
    if not_null:
        rows = rows.where(
            reduce(lambda a, b: a & b, [F.col(c).isNotNull() for c in not_null])
        )

    def run_trigger(batch_df: DataFrame, batch_id: int) -> None:
        # scope the release to intermediates pinned WITHIN this
        # trigger: releasing the whole registry would also unpersist
        # frames pinned by concurrent work in the same session
        # (ADVICE r8)
        cache_mark = release_mark()
        # try/finally: an exception mid-batch must still close the
        # scope, or the orphan open scope accumulates references to
        # every future pin on this foreachBatch thread (ADVICE r10)
        try:
            body(batch_df, batch_id)
        finally:
            # a continuous query runs this forever: without the
            # per-trigger release the executor cache grows by one
            # batch's intermediates per trigger, unbounded
            release_since(cache_mark)

    writer = (
        rows.writeStream.outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(run_trigger)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
