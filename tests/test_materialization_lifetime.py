"""A persisted relation lives for one query invocation.

Engine code caches through ``operators.hold``; every registered query
first unpersists what the previous invocation held. Spark's
CacheManager matches a cached plan by file path, not by file content,
so a cache that outlived its invocation served a rerun over rewritten
files the old rows, and it left entries that grew the session.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap

import pyarrow.parquet as pq

from celeborn_spark import registry
from perfbench.workloads import CURATED_DOCS, WORKLOADS

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rerun_reads_rewritten_input(spark, sf_dir, tmp_path):
    """q_dedup_groups persists its shingle table. Rerun in the same
    session after documents.parquet lost half its rows, it must answer
    for the new file, exactly as a run on a cleared cache does."""
    sf = str(tmp_path / "sf")
    shutil.copytree(sf_dir, sf, copy_function=shutil.copyfile)
    q = registry.queries()["q_dedup_groups"]
    before = _rows(q(spark, sf))

    docs = os.path.join(sf, "documents.parquet")
    table = pq.read_table(docs)
    mtime = os.stat(docs).st_mtime
    pq.write_table(table.slice(0, table.num_rows // 2), docs)
    os.utime(docs, (mtime + 10, mtime + 10))

    rerun = _rows(q(spark, sf))
    spark.catalog.clearCache()
    fresh = _rows(q(spark, sf))
    assert rerun == fresh
    assert rerun != before


def test_cache_manager_empties_after_repeated_pinned_queries(spark, sf_dir):
    """Three invocations of every pinned benchmark query, then one of a
    query that persists nothing: no CacheManager entry remains."""
    fns = registry.queries()
    pinned = [
        n for w in WORKLOADS.values() for n in w.queries if n != CURATED_DOCS
    ]
    assert len(pinned) == 11
    for _ in range(3):
        for name in pinned:
            fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
    fns["q1_pricing_summary"](spark, sf_dir).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# A relation held in a session that was then stopped cannot be
# unpersisted (the stopped BlockManager is gone); the next session's
# first query must still run. In a subprocess: it stops its session.
_RESTART_SCRIPT = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from celeborn_spark import registry
    from celeborn_spark.operators import hold

    spark = SparkSession.builder.master("local[2]").getOrCreate()
    spark.range(10).transform(hold).count()
    spark.stop()
    spark = SparkSession.builder.master("local[2]").getOrCreate()
    q = registry.queries()["q1_pricing_summary"]
    print("ROWS", q(spark, sys.argv[1]).count())
    spark.stop()
    """
)


def test_query_runs_after_session_restart(sf_dir):
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, sf_dir],
        capture_output=True, text=True, timeout=300, cwd=REPO,
    )
    assert proc.returncode == 0 and "ROWS" in proc.stdout, proc.stderr[-2000:]
