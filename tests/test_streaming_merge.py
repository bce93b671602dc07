"""S14 incremental aggregation: files landing in a directory merge
into the running summary via Structured Streaming (checkpointed =
-tmp_save analog, miw/job.cc:197-226, miw/mr_job.h:147-177). Each
trigger merges its batch summary into the stored summary version, so
the query keeps no Spark state.
"""

from __future__ import annotations

import shutil
import statistics
import time

import pytest
from pyspark.errors.exceptions.captured import StreamingQueryException

from cybersecurity_miw_spark.plans.logdef import LogDef
from cybersecurity_miw_spark.streaming.merge import stream_logs

FMT = {
    "format_name": "st",
    "delims": ",",
    "fields": [
        {"name": "etype", "pos": 1, "type": "string", "key": True},
        {"name": "val", "pos": 2, "type": "int",
         "aggregated": True, "aggregation": "sum"},
    ],
}


# a histogram and both moments: the partials that merge per key
FMT_MOMENTS = {
    "format_name": "st_moments",
    "delims": ",",
    "fields": [
        {"name": "etype", "pos": 1, "type": "string", "key": True},
        {"name": "val", "pos": 2, "type": "int", "aggregation": "union_count"},
        {"name": "v_mean", "pos": 2, "type": "float", "aggregation": "mean"},
        {"name": "v_var", "pos": 2, "type": "float",
         "aggregation": "variance"},
    ],
}


def _run_stream(spark, indir, ckpt, outdir, fmt=FMT, write_batch=None):
    q = stream_logs(
        spark, indir, LogDef.from_json(fmt), ckpt, outdir,
        available_now=True, write_batch=write_batch,
    )
    q.awaitTermination(120)
    time.sleep(0.2)
    return q


def test_incremental_file_merge(spark, tmp_path):
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text("1,x,10\n2,x,5\n3,y,1\n")
    _run_stream(spark, str(indir), ckpt, outdir)
    first = {
        r["etype"]: (r["logs"], r["val"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert first == {"x": (2, 15), "y": (1, 1)}

    # a new file lands; resuming from the checkpoint folds ONLY the new
    # data into the existing state (the reference's re-emit machinery)
    (indir / "b.log").write_text("4,x,7\n5,z,2\n")
    _run_stream(spark, str(indir), ckpt, outdir)
    second = {
        r["etype"]: (r["logs"], r["val"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert second == {"x": (3, 22), "y": (1, 1), "z": (1, 2)}


def test_crash_mid_batch_resumes_exactly_once(spark, tmp_path):
    """SURVEY §2.9 exactly-once emit: kill the query AFTER the batch's
    side effect but BEFORE its offsets commit; the restart replays the
    batch idempotently (overwrite snapshot) — counts are exact, never
    doubled."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text("1,x,10\n2,x,5\n3,y,1\n")
    _run_stream(spark, str(indir), ckpt, outdir)

    # new chunk lands; this run CRASHES after writing the snapshot but
    # before the offset commit (the kill-after-batch-1 scenario)
    (indir / "b.log").write_text("4,x,7\n5,z,2\n")

    def crashing_write(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(outdir)
        raise RuntimeError("simulated crash before offset commit")

    from cybersecurity_miw_spark.plans.logdef import LogDef
    from cybersecurity_miw_spark.streaming.merge import stream_logs

    q = stream_logs(
        spark, str(indir), LogDef.from_json(FMT), ckpt, outdir,
        available_now=True, write_batch=crashing_write,
    )
    try:
        q.awaitTermination(120)
    except StreamingQueryException:
        pass
    assert not q.isActive

    # resume: the uncommitted batch replays; totals are exactly-once
    _run_stream(spark, str(indir), ckpt, outdir)
    final = {
        r["etype"]: (r["logs"], r["val"])
        for r in spark.read.parquet(outdir).collect()
    }
    assert final == {"x": (3, 22), "y": (1, 1), "z": (1, 2)}


def test_crash_resume_merges_histograms_and_moments(spark, tmp_path):
    """The crash-resume pattern on a histogram and both moments: the
    crash comes after the trigger wrote its summary version and the
    snapshot; the replay merges into the previous version again, so
    the histogram counts are exact and the moments match the batch
    values of all lines."""
    indir = tmp_path / "in"
    outdir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    indir.mkdir()

    (indir / "a.log").write_text("1,x,10\n2,x,5\n3,y,1\n")
    _run_stream(spark, str(indir), ckpt, outdir, FMT_MOMENTS)
    (indir / "b.log").write_text("4,x,7\n5,z,2\n6,x,10\n")

    def crashing_write(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(outdir)
        raise RuntimeError("simulated crash before offset commit")

    with pytest.raises(StreamingQueryException):
        _run_stream(spark, str(indir), ckpt, outdir, FMT_MOMENTS, crashing_write)
    assert (tmp_path / "ckpt" / "summary" / "1").is_dir()
    _run_stream(spark, str(indir), ckpt, outdir, FMT_MOMENTS)

    final = {r["etype"]: r for r in spark.read.parquet(outdir).collect()}
    assert {k: (r["logs"], r["val_counts"]) for k, r in final.items()} == {
        "x": (4, {5: 1, 7: 1, 10: 2}),
        "y": (1, {1: 1}),
        "z": (1, {2: 1}),
    }
    x = [10.0, 5.0, 7.0, 10.0]
    assert final["x"]["v_mean"] == pytest.approx(statistics.fmean(x))
    assert final["x"]["v_var"] == pytest.approx(statistics.variance(x))
    assert (final["y"]["v_mean"], final["y"]["v_var"]) == (1.0, 0.0)
    assert not {"_n_v_mean", "_n_v_var", "_mean_v_var"} & set(final["x"].asDict())


def test_no_streaming_state(spark, tmp_path):
    """Three landed files, one trigger each: the query runs no
    stateful operator, and the stored summary holds one row per group
    (the last two versions are kept, for a replay of the last
    trigger)."""
    indir = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    indir.mkdir()
    for i, chunk in enumerate(["1,x,10\n2,x,5\n", "3,y,1\n4,x,7\n", "5,z,2\n"]):
        (indir / f"{i}.log").write_text(chunk)
        q = _run_stream(spark, str(indir), str(ckpt), str(tmp_path / "out"))
    assert q.lastProgress["stateOperators"] == []
    versions = sorted(p.name for p in (ckpt / "summary").iterdir()
                      if p.name.isdigit())
    assert versions == ["1", "2"]
    summary = spark.read.parquet(str(ckpt / "summary" / "2"))
    assert summary.count() == summary.select("etype").distinct().count() == 3


def test_missing_summary_version_raises(spark, tmp_path):
    """A checkpoint whose previous summary version is gone must not
    restart the summary from zero: the trigger fails and says to reset
    the checkpoint."""
    indir = tmp_path / "in"
    ckpt = tmp_path / "ckpt"
    indir.mkdir()
    (indir / "a.log").write_text("1,x,10\n")
    _run_stream(spark, str(indir), str(ckpt), str(tmp_path / "out"))
    shutil.rmtree(ckpt / "summary" / "0")
    (indir / "b.log").write_text("2,x,5\n")
    with pytest.raises(StreamingQueryException, match="reset the checkpoint"):
        _run_stream(spark, str(indir), str(ckpt), str(tmp_path / "out"))
