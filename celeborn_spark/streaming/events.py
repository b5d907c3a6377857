"""Streaming source + sink helpers for the events table.

The reference's streaming analogues (SURVEY.md §2A): credit-based
streamed reads (CreditStreamManager.java:42-193) map to micro-batch
flow control (maxFilesPerTrigger / maxOffsetsPerTrigger); exactly-once
attempt/batch dedup (CelebornInputStream.java:864-904) maps to
watermark + dropDuplicates; graceful-restart state (worker shuffledb)
maps to checkpointLocation.

For tests/oracle runs, a finite parquet directory drives the stream to
completion synchronously (memory sink + processAllAvailable) — the
same operators attach unchanged to kafka/socket sources in production.
The events stream reads ts exactly as the batch catalog does: it pins
the schema ``catalog.load_table``'s scan inferred and normalizes ts
with the same ``catalog.normalize_events_ts`` dispatch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from celeborn_spark.catalog import (
    _pin_session_confs,
    _read_parquet,
    normalize_events_ts,
    table_path,
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """events as an unbounded stream (file source). Streaming sources
    never infer, so the stream pins the raw schema the batch scan
    inferred (memoized per file stamp by the catalog; the confs are
    pinned first so a TIMESTAMP(NANOS) ts infers as long), and ts is
    normalized by the same dispatch as ``load_table`` — batch and
    stream cannot disagree on the physical flavor."""
    _pin_session_confs(spark)
    path = table_path(sf_dir, "events")
    reader = spark.readStream.schema(_read_parquet(spark, path).schema)
    if max_files_per_trigger:
        # micro-batch flow control — the engine-side analogue of the
        # reference's credit-based read (CreditStreamManager.java:80)
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # file streaming source needs a directory or glob, not a bare file
    raw = reader.parquet(path.replace("events.parquet", "events.*"))
    return normalize_events_ts(raw)


def read_offset_stream(
    spark: SparkSession, rows_per_batch: int, num_partitions: int = 4
) -> DataFrame:
    """Offset-based source with per-trigger admission control: each
    micro-batch admits exactly `rows_per_batch` monotonically increasing
    offsets (the `value` column) — the rate-micro-batch twin of Kafka's
    maxOffsetsPerTrigger, and the engine-side analogue of the
    reference's credit-based streamed read, where the client grants the
    worker a bounded number of in-flight chunks per round
    (CreditStreamManager.java:80-202)."""
    return (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", str(rows_per_batch))
        .option("numPartitions", str(num_partitions))
        .option("startTimestamp", "0")
        .load()
    )


def kafka_available(spark: SparkSession) -> bool:
    """Runtime capability check: is the spark-sql-kafka connector on the
    JVM classpath? Same dispatch pattern as
    sources/io.lake_format_available — callers branch instead of
    try/excepting a whole stream start."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def read_kafka_stream(
    spark: SparkSession,
    topic: str,
    bootstrap_servers: str,
    max_offsets_per_trigger: int | None = None,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source with per-trigger admission control — the production
    twin of read_offset_stream (which reproduces the same
    maxOffsetsPerTrigger shape on rate-micro-batch for the jar-less
    sandbox). Capability-dispatched: raises a clear NotImplementedError
    when the connector jar is absent instead of an opaque
    ClassNotFoundException mid-stream.

    Reference analogue: credit-based streamed read — the client grants
    the worker a bounded number of in-flight chunks per round
    (CreditStreamManager.java:80-202); here the bound is offsets per
    micro-batch."""
    if not kafka_available(spark):
        raise NotImplementedError(
            "spark-sql-kafka connector jars are not on the classpath; "
            "use read_offset_stream for the jar-less admission-control shape"
        )
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    return reader.load()


def run_stream_until(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    done,
    timeout_sec: float = 120.0,
    poll_sec: float = 0.2,
    state_partitions: int = 4,
) -> DataFrame:
    """Drive an UNBOUNDED stream (rate source — never exhausts, so
    processAllAvailable never returns) until `done(sink_table)` is
    truthy, then stop (test/oracle harness only). State-partition
    sizing as in run_stream_to_table.

    Caller contract for determinism: the transformation must make the
    sink a fixed point once `done` holds (e.g. an offset-bound filter
    under which later batches contribute nothing) — batches committing
    between the done-check and stop() then cannot change the result."""
    import time

    spark = stream_df.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            deadline = time.time() + timeout_sec
            while not done(spark.table(name)):
                if time.time() > deadline:
                    raise TimeoutError(f"stream {name!r} not done after {timeout_sec}s")
                time.sleep(poll_sec)
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return spark.table(name)


def run_stream_to_table(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    state_partitions: int = 4,
    no_data_batches: bool = True,
) -> DataFrame:
    """Drive a finite stream to completion into an in-memory sink and
    return the result table (test/oracle harness only).

    Stateful operators create one state store per shuffle partition per
    operator, and each store pays fixed open/commit cost every
    micro-batch — for these bounded test streams that fixed cost
    dominates, so the partition count is sized to the stream volume
    (state stores are config-partitioned, not data-partitioned; a
    production deployment sets 2-3x cores for real volumes).

    ``no_data_batches=False`` skips the trailing empty micro-batch the
    engine otherwise runs after the watermark advances. ONLY safe for
    transformations that emit eagerly (inner stream-stream joins,
    stateless maps): for them the no-data batch only EVICTS state,
    which a bounded run discards at stop() anyway — the sink table is
    identical (measured r13: the eviction batch cost 1.7 s of the
    stream-stream join's 5.5 s wall). Watermark-gated emissions
    (append-mode aggregations/session windows, outer joins) NEED that
    batch — leave it on for them."""
    spark = stream_df.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    nd_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nd = spark.conf.get(nd_key, "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    spark.conf.set(nd_key, "true" if no_data_batches else "false")
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        spark.conf.set(nd_key, old_nd)
    return spark.table(name)
