"""Catalog: the driver-generated TPC-H-ish parquet tables (TESTDATA.md).

Scans go through ``spark.read.parquet`` so Catalyst gets predicate
pushdown, column pruning and partition pruning for free — the engine
analogue of the reference's reader stack (WorkerPartitionReader /
LocalPartitionReader / DfsPartitionReader,
worker/.../FetchHandler.scala:111) collapsed into one declarative scan.
Like the reducer's cached partition-location map (GetReducerFileGroup),
the metadata is resolved once: each table's schema is inferred on the
first scan of its files and reused while they are unchanged.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session-level work (conf pinning, view registration) is memoized per
# Spark application: a query path that calls load_table/register_views
# per invocation must not re-pay conf RPCs and 10 parquet footer reads
# every time (driver-side overhead on a hot path at scale).
_CONF_PINNED: set[str] = set()
# app_id -> sf_dir the views currently point at (views are REPLACED on
# a switch, so only the latest registration is valid per session)
_VIEWS_REGISTERED: dict[str, str] = {}
# NOTE: a (app, sf_dir, table) -> DataFrame memoization was tried in
# round 5 to shave the per-query footer read (~10 ms) and REVERTED:
# reusing one DataFrame instance across query invocations made the
# iterative/localCheckpoint-heavy pipelines (q_dedup_groups) ~1.7x
# slower and high-variance (3.0 s -> 4.6-6.1 s steady-state, measured
# in isolation both ways). Every call still builds a fresh DataFrame,
# so every invocation's plan stays independent; a schema memo is not a
# DataFrame memo. An uncached spark.read.parquet runs a schema-inference
# Spark job on every call (110-210 ms, even for one file); a read with
# the memoized schema runs none (20-45 ms).
# (app_id, table path) -> (file stamp, inferred schema); one entry per
# path, replaced when the stamp changes.
_SCHEMAS: dict[tuple[str, str], tuple[tuple, T.StructType]] = {}


def _pin_session_confs(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _CONF_PINNED:
        return
    # Oracle parity must hold under ANY caller-provided session (the
    # driver does not use our tuned factory): timestamps render in the
    # session TZ, DuckDB's are naive — pin UTC at runtime. The legacy
    # nanos conf only affects TIMESTAMP(NANOS) columns (Spark's reader
    # rejects them otherwise); it is a no-op for MICROS/MILLIS data, so
    # pinning it keeps the loader tolerant of either parquet flavor.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    _CONF_PINNED.add(app_id)


def _stamp(path: str) -> tuple | None:
    """(inode, size, mtime_ns) of the file at ``path``, or of every file
    under the directory at ``path`` in sorted order. None when the path
    cannot be stamped (missing, or not a local path): those reads skip
    the memo, so a missing path still raises Spark's AnalysisException."""
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_ino, st.st_size, st.st_mtime_ns)
        files = []
        for root, dirs, names in os.walk(path):
            dirs.sort()
            for n in sorted(names):
                f = os.path.join(root, n)
                st = os.stat(f)
                files.append((f, st.st_ino, st.st_size, st.st_mtime_ns))
        return tuple(files)
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A fresh ``spark.read.parquet(path)``; the schema is inferred once
    per (application, path) while the files under the path are
    unchanged, and later reads pass it so Spark runs no inference job."""
    stamp = _stamp(path)
    if stamp is None:
        return spark.read.parquet(path)
    key = (spark.sparkContext.applicationId, path)
    memo = _SCHEMAS.get(key)
    if memo is not None and memo[0] == stamp:
        return spark.read.schema(memo[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """events with ``ts`` as a session-TZ timestamp, whatever physical
    flavor the parquet holds. Real parquet timestamps come in several
    flavors; dispatch on the type the scan (batch or stream) produced:
      TIMESTAMP(NANOS) + nanosAsLong -> LongType: truncate to micros
        (the same truncation DuckDB applies);
      TIMESTAMP(MICROS, isAdjustedToUTC=false) -> TIMESTAMP_NTZ: cast
        to session-TZ timestamp (identity under pinned UTC);
      TIMESTAMP(MICROS, UTC) and legacy INT96 -> TimestampType: pass
        through."""
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    _pin_session_confs(spark)
    df = _read_parquet(spark, table_path(sf_dir, name))
    return normalize_events_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so spark.sql() queries work.
    Memoized per (application, sf_dir) — re-registration re-reads every
    table's parquet footer for nothing."""
    app_id = spark.sparkContext.applicationId
    if _VIEWS_REGISTERED.get(app_id) == sf_dir:
        return
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _VIEWS_REGISTERED[app_id] = sf_dir
