"""The micro-batch skeleton every foreachBatch loop runs on
(streaming/loop.py): its per-trigger cache scope releases what the
body pinned even when the body raises, and no loop under streaming/
forks its own reader, cache scope or writer again."""

from __future__ import annotations

from pathlib import Path

import pytest

import cybersecurity_miw_spark.streaming as streaming_pkg


def test_trigger_releases_pins_when_body_raises(spark, tmp_path):
    """A body that pins a frame with ``cache.tracked_persist`` and then
    raises still has that pin released by the trigger's cache scope,
    and the query fails with the body's error."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cybersecurity_miw_spark import cache
    from cybersecurity_miw_spark.streaming.ingest import parse_doc_lines
    from cybersecurity_miw_spark.streaming.loop import micro_batch_loop

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "a.tsv").write_text("1\talpha\n2\tbeta\n")
    pinned = []

    def body(batch_df, batch_id):
        df = cache.tracked_persist(batch_df.select("doc_id"))
        assert df.count() == 2  # materialize the pin
        assert df.storageLevel.useMemory or df.storageLevel.useDisk
        pinned.append(df)
        raise RuntimeError("body failed after pinning")

    q = micro_batch_loop(
        spark, str(indir), str(tmp_path / "ckpt"), body,
        parse=parse_doc_lines,
    )
    with pytest.raises(StreamingQueryException) as exc:
        q.awaitTermination(120)
    assert "body failed after pinning" in str(exc.value)
    assert len(pinned) == 1
    level = pinned[0].storageLevel
    assert not (level.useMemory or level.useDisk)
    assert all(f is not pinned[0] for f in cache._TRACKED)


@pytest.mark.parametrize(
    "needle",
    ["foreachBatch(", "release_mark(", 'option("maxFilesPerTrigger"'],
)
def test_streaming_loops_share_one_skeleton(needle):
    """The reader cap, the per-trigger cache scope and the
    foreachBatch writer each occur exactly once under streaming/, in
    the skeleton: a new loop plugs its body into micro_batch_loop
    instead of hand-rolling them."""
    pkg = Path(streaming_pkg.__file__).parent
    hits = [
        path.name
        for path in sorted(pkg.glob("*.py"))
        for line in path.read_text(encoding="utf-8").splitlines()
        if needle in line
    ]
    assert hits == ["loop.py"], hits


@pytest.mark.parametrize("join_key", ['["band", "band_hash"]', '["band", "val"]'])
def test_store_joins_live_in_the_family_operators(join_key):
    """No loop under streaming/ joins batch rows to a band store
    itself: every store join lives in its family's operator probe
    (``dedup._store_probe``), which carries the replay guard, so a
    loop cannot drift from the batch path."""
    pkg = Path(streaming_pkg.__file__).parent
    hits = [
        path.name
        for path in sorted(pkg.glob("*.py"))
        if join_key in path.read_text(encoding="utf-8")
    ]
    assert hits == [], hits


def test_band_store_loops_share_one_store_flags_body():
    """The Hamming loops run on the same store-flags body as the
    MinHash and semantic loops; their own body is gone."""
    from cybersecurity_miw_spark.streaming import ingest

    assert not hasattr(ingest, "_hamming_band_flags")
    assert hasattr(ingest, "_store_flags")
