"""Replay safety of the store-backed appending flag loops
(streaming/ingest.py). Each loop appends the trigger's rows to its
store before the streaming checkpoint commits, so a crash between the
append and the commit makes the restart re-run the trigger against a
store that already holds the batch's own rows. Such a replay may
duplicate flag rows (at-least-once, docs/MONITORING.md) but must never
flag a document as a duplicate of itself: a consumer that drops every
flagged ``new_id`` would otherwise drop the whole batch."""

from __future__ import annotations

from pathlib import Path

import pytest

BASE = "the quick brown fox jumps over the lazy dog again and again"
WORDS = [f"w{i}" for i in range(40)]


def _text_batch(indir: Path) -> None:
    words = " ".join(WORDS[:14])
    (indir / "a.tsv").write_text(
        f"1\t{BASE}\n"
        f"2\t{BASE} extra\n"
        "3\tcompletely different unrelated content entirely\n"
        f"4\t{words}\n"
        f"5\t{words} {WORDS[14]}\n"
    )


def _media_batch(spark, indir: Path) -> None:
    template = bytes((i * 37 + 11) % 256 for i in range(600))
    near = bytearray(template)
    near[300] = (near[300] + 90) % 256
    unrelated = bytes((i * 151 + 7) % 256 for i in range(600))
    spark.createDataFrame(
        [(1, template), (2, bytes(near)), (3, unrelated)],
        "media_id LONG, payload BINARY",
    ).coalesce(1).write.parquet(str(indir))


def _run(loop: str, spark, indir: Path, tmp: Path):
    from cybersecurity_miw_spark.streaming import ingest

    args = (spark, str(indir), str(tmp / "ckpt"), str(tmp / "flags"),
            str(tmp / "store"))
    if loop == "minhash":
        return ingest.streaming_near_dup_flags(*args)
    if loop == "semantic":
        return ingest.streaming_semantic_flags(
            *args, dim=16, n_planes=2, threshold=0.9
        )
    if loop == "simhash":
        return ingest.streaming_simhash_flags(*args)
    if loop == "phash":
        return ingest.streaming_phash_flags(*args)
    return ingest.streaming_setsim_flags(
        *args, str(tmp / "freq"), str(tmp / "hist"), threshold=0.5
    )


@pytest.mark.parametrize(
    "loop", ["minhash", "semantic", "simhash", "phash", "setsim"]
)
def test_replayed_trigger_flags_no_self_pairs(spark, tmp_path, loop):
    """Run one trigger, delete its commit marker (the state a crash
    after the store append and before the commit leaves), restart:
    the replayed trigger re-probes a store that holds its own rows and
    must emit no ``(x, x)`` flag."""
    indir = tmp_path / "in"
    if loop == "phash":
        _media_batch(spark, indir)
    else:
        indir.mkdir()
        _text_batch(indir)

    _run(loop, spark, indir, tmp_path).awaitTermination(120)
    store_rows = spark.read.parquet(str(tmp_path / "store")).count()
    commits = tmp_path / "ckpt" / "commits"
    for marker in (commits / "0", commits / ".0.crc"):
        marker.unlink(missing_ok=True)

    _run(loop, spark, indir, tmp_path).awaitTermination(120)
    # the trigger really ran again: its store rows are there twice
    assert spark.read.parquet(str(tmp_path / "store")).count() == (
        2 * store_rows
    )
    pairs = [
        (r["new_id"], r["stored_id"])
        for r in spark.read.parquet(str(tmp_path / "flags")).collect()
    ]
    assert pairs, "the batch holds near-dup pairs"
    assert [p for p in pairs if p[0] == p[1]] == []
