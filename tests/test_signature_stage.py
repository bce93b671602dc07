"""The MinHash signature stage: the numpy permutation-minima kernel
behind ``dedup.with_signature`` and the split-aware scan widening in
``sources.tables.ensure_parallelism`` that parallelizes it.

The kernel is pinned twice: against a plain Python loop over the
permutation family (no Spark, null/empty/sliced Arrow inputs), and
through Spark against the Column-form ``dedup.minhash_signature``
reference on adversarial documents generated here, with Arrow batches
forced small so every partition is cut into several batches."""

from __future__ import annotations

import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cybersecurity_miw_spark.operators import dedup
from cybersecurity_miw_spark.sources import tables


def _loop_minima(rows, num_hashes):
    return [
        [None] * num_hashes if not r else [
            min((dedup.MINHASH_A[i] * h + dedup.MINHASH_B[i])
                % dedup.MINHASH_P for h in r)
            for i in range(num_hashes)
        ]
        for r in rows
    ]


def minima(arr, num_hashes):
    out = dedup.minhash_minima(arr, num_hashes)
    assert out.type == pa.list_(pa.int64())
    return out.to_pylist()


@pytest.mark.parametrize("num_hashes", [16, 112, 128])
def test_minima_kernel_matches_loop_reference(num_hashes):
    rng = random.Random(num_hashes)
    rows = [None, [], [0], [2**32 - 1], [7, 7, 7]]
    rows += [
        [rng.randrange(2**32) for _ in range(rng.randrange(1, 40))]
        for _ in range(30)
    ]
    rows += [[], None]
    rng.shuffle(rows)
    arr = pa.array(rows, type=pa.list_(pa.int64()))
    want = _loop_minima(rows, num_hashes)
    assert minima(arr, num_hashes) == want
    # a batch with no hashes at all
    empty = pa.array([None, []], type=pa.list_(pa.int64()))
    assert minima(empty, num_hashes) == [[None] * num_hashes] * 2
    # sliced arrays (offsets not starting at 0, values past the end)
    for start, stop in [(3, 17), (0, 1), (5, 5), (len(rows) - 2, len(rows))]:
        part = arr.slice(start, stop - start)
        assert minima(part, num_hashes) == want[start:stop]


def _adversarial_texts() -> list[str | None]:
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(60)]
    texts = [
        None,
        "",
        "   ",
        "word",
        "two words",
        "日本語のテキストです 東京 大阪 京都 日本語のテキストです 東京 大阪",
        "数据 去重 测试 数据 去重 测试 数据 去重",
        "a b c a b c a b c a b c a b c",  # repeated shingles
        "Mixed CASE\tand\nwhitespace   runs  here",
        " ".join(rng.choice(vocab) for _ in range(2000)),
    ]
    texts += [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(1, 50)))
        for _ in range(40)
    ]
    return texts


@pytest.mark.parametrize("num_hashes", [16, 112, 128])
@pytest.mark.parametrize("id_type", ["long", "string"])
def test_with_signature_matches_column_reference(spark, num_hashes, id_type):
    rows = [
        (i if id_type == "long" else f"doc-{i:03d}", t)
        for i, t in enumerate(_adversarial_texts())
    ]
    docs = spark.createDataFrame(
        rows, f"doc_key {id_type}, text string"
    ).repartition(3)
    sig = dedup.with_signature(
        docs, id_col="doc_key", num_hashes=num_hashes
    )
    ref = docs.select(
        "doc_key",
        dedup.minhash_signature(F.col("text"), num_hashes, 3).alias("_sig"),
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try:
        got = {r["doc_key"]: r["_sig"] for r in sig.collect()}
    finally:
        spark.conf.set(key, prev)
    want = {r["doc_key"]: r["_sig"] for r in ref.collect()}
    assert len(got) == len(rows)
    assert got == want
    assert all(len(s) == num_hashes for s in got.values())
    assert sig.schema["_sig"].dataType.elementType.typeName() == "long"


def _write_row_groups(path, n_rows: int, n_groups: int) -> None:
    rng = np.random.default_rng(0)
    table = pa.table({
        "doc_id": np.arange(n_rows),
        "x": rng.random(n_rows),
    })
    pq.write_table(table, path, row_group_size=n_rows // n_groups)


def test_small_multi_row_group_file_is_widened(spark, tmp_path):
    """8 row groups, under 1 MB: Spark packs the file into ONE byte
    split, so the scan runs one task however many row groups it has —
    widened to defaultParallelism."""
    path = str(tmp_path / "small.parquet")
    _write_row_groups(path, 40_000, 8)
    assert pq.ParquetFile(path).metadata.num_row_groups == 8
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    out = tables.ensure_parallelism(df, path)
    assert out is not df
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_file_with_enough_splits_is_left_alone(spark, tmp_path):
    path = str(tmp_path / "split.parquet")
    _write_row_groups(path, 40_000, 8)
    confs = {
        "spark.sql.files.maxPartitionBytes": str(48 * 1024),
        "spark.sql.files.openCostInBytes": "1024",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
        assert tables.ensure_parallelism(df, path) is df
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize(
    "max_bytes,open_cost", [(None, None), ("64k", "4k"), ("200k", "1k")]
)
def test_scan_partition_model_matches_spark(spark, tmp_path, max_bytes, open_cost):
    """The split/packing model agrees with the partitions Spark plans
    for a directory of unequal files."""
    for i, n in enumerate([60_000, 20_000, 5_000, 5_000, 500]):
        _write_row_groups(str(tmp_path / f"part-{i}.parquet"), n, 4)
    confs = {
        "spark.sql.files.maxPartitionBytes": max_bytes,
        "spark.sql.files.openCostInBytes": open_cost,
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        if v is not None:
            spark.conf.set(k, v)
    try:
        _, sizes = tables._parquet_stats(str(tmp_path))
        planned = spark.read.parquet(str(tmp_path)).rdd.getNumPartitions()
        assert tables._scan_partitions(spark, sizes) == planned
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
