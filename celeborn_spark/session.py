"""SparkSession factory with 100 TB-minded defaults.

Celeborn's physical data-plane strategies (SURVEY.md §4) map onto Spark
configuration, not onto code we write:

- push-based shuffle / merged reads   -> Spark shuffle (built-in)
- small-push coalescing (PushMergedData, ShuffleClientImpl.java:976)
                                      -> AQE coalescePartitions
- skew split by chunk range (CelebornPartitionUtil.java:60)
                                      -> AQE skewJoin
- per-batch LZ4/ZSTD compression (client/compress/Compressor.java:23)
                                      -> spark.io.compression.codec=zstd
- tiered memory->disk spill (worker/storage/TierWriter.scala)
                                      -> unified memory manager (built-in)
- metadata resolved once, then cached (GetReducerFileGroup)
                                      -> codegen cache sized to the working
                                         set (spark.sql.codegen.cache.maxEntries)

On a real cluster the same session factory is used; only master/memory
change. Shuffle partitions default to the core count locally — on a
1000-executor cluster you'd set ~2-3x total cores, and AQE coalescing
shrinks small stages back down at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    try:
        return max(1, int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4)))
    except ValueError:
        return os.cpu_count() or 4


def get_spark(
    app_name: str = "celeborn_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) the tuned SparkSession.

    AQE on (runtime coalesce + skew-join split), UTC session timezone
    (oracle comparability), Arrow for every Python boundary, zstd
    shuffle compression (reference default codec family,
    common/protocol/CompressionCodec.java:21).
    """
    cpus = _cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.parquet.filterPushdown", "true")
        # TIMESTAMP(NANOS) columns are rejected by Spark's reader unless
        # read as long; a no-op for MICROS/MILLIS data. catalog.load_table
        # dispatches on the resulting dtype, so either flavor works.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Compiled classes, not data. The default 100 entries is below the
        # ~135 classes the analyst queries generate, so each class was
        # evicted before reuse and every pass recompiled ~114 of them
        # (~1 s of Janino). A static conf: settable only at creation.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
