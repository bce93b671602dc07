"""SparkSession construction with scale-sane defaults.

Local testing runs on local[N]; the same settings are what we'd ship
on a 1000-executor cluster: AQE on (runtime shuffle-partition
coalescing and skew-join splitting replace the reference's
sampling-based reduce-task predictor, metis/predictor.hh), UTC session
timezone (deterministic date bucketing and oracle parity), Arrow
enabled for the few pandas-interop paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: generated classes kept compiled
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "cybersecurity-miw-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus) * 2),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # long-lived sessions compile one codegen class per distinct
        # plan; the JVM default 240 MB code cache fills after a few
        # dozen heavy queries and C2 starts flushing/deferring, which
        # turns codegen'd regex loops interpreted (measured: a 1.4 s
        # query intermittently ran 10-80 s in a 15-query session)
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=512m")
        # let AQE re-optimize (coalesce/skew-split) INSIDE cached
        # plans: off by default, which pins every tracked_persist
        # intermediate at the raw shuffle partition count — all
        # downstream stages of a staged() frame then launch one task
        # per pinned partition regardless of data size. Data-adaptive
        # at any scale (AQE sizes partitions by bytes, not cores);
        # r18 same-session A/B: time_rollup_multires 1.58 → 0.55,
        # near_dup_jaccard_confirm → 1.54, link_pagerank_dangling
        # 1.71 → 1.31 control-normalized at sf0.1.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # generated-class cache sized to hold a whole dedup job (static
        # conf; Spark's default is 100): a corpus near-dedup job (LSH ->
        # Jaccard -> connected components, 3,000 docs) generates
        # 114-124 distinct classes, so at 100 the LRU evicted and
        # recompiled 90-97 of them on EVERY warm job (Spark
        # CodegenMetrics); at 1000, 0-8. A log summary job (44 classes)
        # recompiles 4 per job at either size
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    return builder.getOrCreate()


def cluster_profile(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_partition_mb: int = 128,
) -> dict[str, str]:
    """The conf set we'd submit with on a real cluster, derived from
    the cluster size — the concrete version of SCALE.md's tuning
    notes. Returned as a plain dict for spark-submit --conf flags or
    SparkSession.builder.config(map=...).

    Sizing logic:
    - shuffle partitions = 2x total cores (slot headroom for stragglers;
      AQE coalesces small ones back down at runtime, so over-provisioning
      is cheap and under-provisioning is a spill).
    - maxPartitionBytes fixes scan-task granularity; 128 MB keeps a
      task's working set inside executor memory alongside shuffle
      buffers at 4-8 GB/executor.
    - broadcast threshold 64 MB: dims up to ~64 MB serialize cheaper
      than shuffling the fact side (the bloomjoin/broadcast paths
      assume this).
    - AQE on everywhere: runtime coalescing + skew-join splitting
      replace the reference's sampling-based reduce predictor; the
      explicit salting tools (operators/skew.py) remain for keys AQE
      cannot split (single-key hot aggregations).
    """
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.files.maxPartitionBytes": str(
            target_partition_mb * 1024 * 1024
        ),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.sql.parquet.aggregatePushdown": "true",
        "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=512m",
        # cached intermediates get AQE coalescing/skew handling too
        # (see get_spark): without it a persisted frame pins the raw
        # shuffle partition count for every consumer
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # one long job's generated classes stay compiled (see get_spark)
        "spark.sql.codegen.cache.maxEntries": str(CODEGEN_CACHE_ENTRIES),
    }
