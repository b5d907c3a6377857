"""Pareto frontier (skyline) operator — multi-objective selection.

The curation shape: "show every document/config/part not strictly
worse than another on ALL criteria" (cost vs quality trade-off
surfaces, model-size vs loss frontiers). SQL expresses it as a
NOT-EXISTS dominance anti-join — quadratic. The distributed algorithm
is local-then-global: a partition-local skyline pass prunes everything
dominated within its partition (correct because global dominance
implies local dominance for any co-partitioned pair — a point
dominated by ANY point is dominated by some point in SOME partition,
so the union of local skylines is a superset of the global skyline),
then the same pass runs once more over the (small) survivor union.

Each local pass is sort-free of the quadratic join: within a
partition, sort by (x, y); a point is dominated iff the min y over
strictly-smaller x is <= its y, or a same-x point has strictly
smaller y. The min-over-smaller-x is a running min over the per-x
group minima — a window over DISTINCT x values (cardinality-bounded,
the operators/curriculum.quantile_bins histogram discipline), never
over raw rows.

Worst case: anti-correlated dimensions put ALL points on the frontier
— inherent to the operator (the skyline IS the data), not the plan.

Ties: points equal on BOTH dimensions dominate nothing and co-survive
(dominance requires strict improvement in at least one dimension).
Dimensions are MINIMIZED; negate a column to maximize it. NULL
dimensions are out of contract (filter first).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import hold


def _prune(df: DataFrame, part: Column, x: str = "x", y: str = "y") -> DataFrame:
    """Drop rows dominated by another row in the same `part` group."""
    d = df.withColumn("_p", part)
    gx = d.groupBy("_p", x).agg(F.min(y).alias("_gy"))
    run = W.partitionBy("_p").orderBy(x).rowsBetween(W.unboundedPreceding, -1)
    gx = gx.withColumn("_ylt", F.min("_gy").over(run))
    d = d.join(gx, ["_p", x])
    dominated = (
        F.col("_ylt").isNotNull() & (F.col("_ylt") <= F.col(y))
    ) | (F.col(y) > F.col("_gy"))
    return d.filter(~dominated).drop("_p", "_gy", "_ylt")


def skyline_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Rows not dominated on the (x_col, y_col) MINIMIZE-both frontier
    (p dominates q iff p.x <= q.x, p.y <= q.y, and p is strictly
    smaller in at least one). Stage 1 prunes per input partition
    (map-side: the only exchange is the per-x-min aggregate keyed on
    (partition, x)); stage 2 re-runs the pass globally over the
    survivor union. The result is partition-layout independent — any
    stage-1 partitioning yields the same global frontier (pinned by
    tests/test_frontier.py)."""
    base = df.withColumn("_x", F.col(x_col)).withColumn("_y", F.col(y_col))
    # Stage-1 groups come from a DATA-derived hash, not
    # spark_partition_id(): the id is re-evaluated independently in the
    # two join subtrees of _prune and disagrees after exchanges (join
    # rows then carry the wrong group's minima), while xxhash64(x, y)
    # is identical everywhere, needs no materialization, and any
    # grouping is a correct pruning superset.
    nparts = df.sparkSession.sparkContext.defaultParallelism
    grp = F.pmod(F.xxhash64("_x", "_y"), F.lit(nparts))
    # stage-2's _prune reads its input twice (rows + per-x minima);
    # survivors are frontier-sized, so materialize them instead of
    # running the whole stage-1 prune once per reference. The RAW
    # input is deliberately NOT materialized — re-scanning pruned
    # parquet twice beats writing the full table once at 100 TB.
    local = _prune(base, grp, "_x", "_y").transform(hold)
    out = _prune(local, F.lit(0), "_x", "_y")
    return out.drop("_x", "_y")


def skyline_oracle_sql(
    table_sql: str, x_sql: str, y_sql: str, cols_sql: str
) -> str:
    """DuckDB mirror via the quadratic NOT-EXISTS dominance definition
    — the semantics `skyline_2d` must reproduce exactly. `table_sql`
    is a FROM-able relation; `x_sql`/`y_sql` the minimized dimension
    expressions; `cols_sql` the output column list."""
    return f"""
    WITH pts AS (
        SELECT {cols_sql}, {x_sql} AS sx, {y_sql} AS sy FROM {table_sql}
    )
    SELECT {cols_sql} FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.sx <= p.sx AND q.sy <= p.sy
          AND (q.sx < p.sx OR q.sy < p.sy)
    )
    """
