"""Parquet table loaders for the synthetic benchmark tables
(TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings.

``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark
rejects by default (PARQUET_TYPE_ILLEGAL); we flip the documented
``spark.sql.legacy.parquet.nanosAsLong`` escape hatch and rebuild a
proper timestamp from the nano count with integer arithmetic (``div``,
not ``/`` — double division loses precision on ~1.7e18 nanos). The
session timezone is pinned to UTC so date rendering is deterministic
regardless of the caller's session defaults.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cybersecurity_miw_spark.cache import app_memo

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# A widening repartition only pays when the per-row work above it is
# expensive; "auto" additionally requires the table to be big enough
# that a single-threaded scan would dominate (measured at sf0.1:
# widening took minhash_signatures 1.83 s -> 0.93 s but wc_wordcount
# 0.36 s -> 0.79 s — the query, not the table, knows which side it is
# on, hence the tri-state below).
_WIDEN_AUTO_MIN_BYTES = int(
    os.environ.get("SPARK_GRAFT_WIDEN_MIN_BYTES", str(64 * 1024 * 1024))
)


# memoized parquet footer stats: repeated query construction over the
# same table must not re-pay metadata reads
_PARQUET_STATS: dict[str, tuple[int, list[int]]] = {}


def _read_parquet_memo(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, memoized per application — a
    session-level table registry (what spark.table() gives catalog
    tables): the read re-runs driver-side footer/schema inference on
    every call (~0.1 s per table locally; listing-bound on object
    stores) though the benchmark tables are immutable for the life of
    a session. Only the LAZY plan is kept — no rows are cached or
    persisted; every action still scans the parquet files in full."""
    return app_memo(
        spark.sparkContext.applicationId,
        ("read_parquet", path),
        lambda: spark.read.parquet(path),
    )


def _parquet_stats(path: str) -> tuple[int, list[int]] | None:
    """(total row groups, per-file bytes) for the parquet file/directory
    at ``path`` (local filesystem only), via footer metadata — no
    Spark job, no py4j. None when the layout can't be inspected
    (remote FS, odd extensions); callers then skip the widening
    decision."""
    if path in _PARQUET_STATS:
        return _PARQUET_STATS[path]
    try:
        import pyarrow.parquet as pq

        if os.path.isdir(path):
            files = [
                os.path.join(path, f)
                for f in os.listdir(path)
                if f.endswith(".parquet")
            ]
        else:
            files = [path]
        n = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
        sizes = [os.path.getsize(f) for f in files]
    except Exception:
        return None
    _PARQUET_STATS[path] = (n, sizes)
    return n, sizes


def _scan_partitions(spark: SparkSession, sizes: list[int]) -> int:
    """How many scan tasks Spark plans for files of these byte sizes:
    the split size of ``FilePartition.maxSplitBytes`` (from the
    session's ``spark.sql.files.maxPartitionBytes``/``openCostInBytes``
    and the leaf parallelism), each file cut into splits of that size,
    and the splits packed next-fit-decreasing into partitions as
    ``FilePartition.getFilePartitions`` does."""
    conf = spark._jsparkSession.sessionState().conf()
    max_bytes = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    min_parts = (
        min_parts.get() if min_parts.isDefined()
        else spark._jsparkSession.leafNodeDefaultParallelism()
    )
    total = sum(size + open_cost for size in sizes)
    split = min(max_bytes, max(open_cost, total // min_parts))
    splits = sorted(
        (min(split, size - off) for size in sizes
         for off in range(0, size, split)),
        reverse=True,
    )
    parts, current = 0, 0
    for length in splits:
        if parts == 0 or current + length > split:
            parts, current = parts + 1, 0
        current += length + open_cost
    return parts


def ensure_parallelism(
    df: DataFrame,
    path: str,
    min_parts: int | None = None,
    min_bytes: int = 0,
) -> DataFrame:
    """Round-robin repartition IF the scan yields fewer input splits
    than the cluster has cores (and the input exceeds ``min_bytes``).

    A scan task reads whole row groups and whole byte splits, so the
    scan runs ``min(row groups, byte splits)`` tasks that do work:
    a file written as one row group scans as ONE task no matter how
    many cores exist, and so does a small file of many row groups —
    Spark packs it into one split of up to ``maxPartitionBytes``
    (at least 4 MB by ``openCostInBytes``), see
    :func:`_scan_partitions`. Either way every expression above runs
    single-threaded (the local testdata files, one row group each,
    and the 8-row-group, 0.5 MB benchmark corpus are both this
    shape). One exchange of the raw bytes restores full parallelism
    for the expensive projections above: on the corpus, widening
    split the MinHash signature stage from one task into two on
    ``local[2]`` (1.1 s -> 0.83 s). On a real cluster reading many
    files/row groups the scan already has >= defaultParallelism
    splits and this is a no-op — the analog of the reference's
    memory-aware autosplit (miw/mr_job.cc splitter), expressed as
    Spark partitioning instead of a custom reader.
    """
    spark = df.sparkSession
    target = min_parts or spark.sparkContext.defaultParallelism
    stats = _parquet_stats(path)
    if stats is None or sum(stats[1]) < min_bytes:
        return df
    row_groups, sizes = stats
    if min(row_groups, _scan_partitions(spark, sizes)) < target:
        return df.repartition(target)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | None = None
) -> DataFrame:
    """Load a benchmark table.

    ``widen`` controls the under-split protection of
    :func:`ensure_parallelism`:

    * ``True`` — force when row groups < cores. For callers about to
      run expensive per-row work (hash families, shingling, vector
      folds) where a serial scan loses even on small inputs.
    * ``None`` (auto, default) — widen only when the table ALSO
      exceeds ``SPARK_GRAFT_WIDEN_MIN_BYTES`` (64 MB): a giant
      single-row-group file must never serialize a 1000-core cluster,
      but shuffling a few MB to save a sub-second serial scan is a
      pure tax.
    * ``False`` — never (broadcast sides, plain scan+aggs whose
      partial aggregation is already cheaper than a full-row
      exchange).
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        df = load_events(spark, sf_dir)
    else:
        df = _read_parquet_memo(spark, path)
    if widen is True:
        df = ensure_parallelism(df, path)
    elif widen is None:
        df = ensure_parallelism(df, path, min_bytes=_WIDEN_AUTO_MIN_BYTES)
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ``ts`` as a real TimestampType column."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/events.parquet"

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    return app_memo(
        spark.sparkContext.applicationId, ("load_events", path), build
    )


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}
