"""Per-invocation driver setup is paid once per session, not per call.

Two caches hold metadata only, never data or DataFrames:

- ``catalog.load_table`` memoizes each table's inferred schema per
  (application, path) and file stamp, so a repeated scan runs no
  schema-inference Spark job and a rewritten table is re-inferred;
- ``session.get_spark`` sizes the codegen cache to the working set, so a
  second pass over the same queries compiles (almost) no new classes.
"""

from __future__ import annotations

import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from celeborn_spark import catalog, registry
from celeborn_spark.catalog import load_table, table_path

# The queries of the analyst benchmark workload: short statistics,
# evaluation, drift and graph queries whose cost is driver-side.
ANALYST_QUERIES = (
    "q_grubbs_test",
    "q_seasonal_decompose",
    "q_chi_residuals",
    "q_weighted_kappa",
    "q_page_hinkley",
    "q_embedding_drift",
    "q_degree_assortativity",
)


def _jobs(spark, fn):
    """(result of fn(), number of Spark jobs fn submitted)."""
    sc = spark.sparkContext
    group = f"driver-memo-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "driver memo test")
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_second_load_runs_no_inference_job(spark, sf_dir, tmp_path):
    shutil.copy(table_path(sf_dir, "lineitem"), table_path(str(tmp_path), "lineitem"))
    first, first_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "lineitem"))
    second, second_jobs = _jobs(spark, lambda: load_table(spark, str(tmp_path), "lineitem"))
    assert first_jobs >= 1  # the miss infers the schema with a Spark job
    assert second_jobs == 0
    assert second is not first  # a fresh DataFrame per call

    uncached = spark.read.parquet(table_path(str(tmp_path), "lineitem"))
    assert second.schema == uncached.schema
    assert _rows(second) == _rows(uncached)


@pytest.mark.parametrize("layout", ["file", "directory"])
def test_rewritten_table_gets_new_schema(spark, tmp_path, layout):
    path = table_path(str(tmp_path), "region")
    old = pa.table({"r_regionkey": [1, 2], "r_name": ["a", "b"]})
    new = pa.table({"r_regionkey": [3], "r_comment": [0.5]})

    def write(p, t):
        if layout == "file":
            pq.write_table(t, p)
        else:
            spark.createDataFrame(t.to_pandas()).write.mode("overwrite").parquet(p)

    write(path, old)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    write(path, new)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_comment"]
    assert [tuple(r) for r in df.collect()] == [(3, 0.5)]
    app = spark.sparkContext.applicationId
    assert catalog._SCHEMAS[(app, path)][1].fieldNames() == ["r_regionkey", "r_comment"]


def test_events_read_as_timestamp_through_memo(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    second, jobs = _jobs(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    assert _rows(second.select("ts")) == _rows(first.select("ts"))


def test_unstampable_paths_skip_the_memo(tmp_path):
    assert catalog._stamp(str(tmp_path / "missing.parquet")) is None
    assert catalog._stamp(f"file://{tmp_path}") is None
    assert catalog._stamp("s3a://bucket/lineitem.parquet") is None


def test_codegen_cache_holds_the_working_set(spark, sf_dir):
    """A second pass over the analyst queries compiles (almost) nothing.

    At the default 100 entries the second pass recompiles ~122 classes.
    With 1000 it compiles 0, or a few classes when an adaptive re-plan of
    q_embedding_drift or q_degree_assortativity differs between runs (8,
    in 1 of 4 probes)."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    fns = registry.queries()

    def run_all():
        for name in ANALYST_QUERIES:
            fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()

    run_all()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run_all()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before <= 16
