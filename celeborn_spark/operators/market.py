"""Market-basket co-occurrence mining (support / confidence / lift).

The classic retail-analytics association query, and in an LLM-data
pipeline the same algebra ranks co-occurring sources/domains/tags for
mixture design. Scale shape: pair generation self-joins on the BASKET
key (the natural co-occurrence key — a bounded per-basket item set
keeps the blow-up at O(items-per-basket²), never corpus-quadratic),
pair counting is one pair-keyed aggregate, and the lone global scalar
(total basket count) rides a broadcast 1-row relation. All counts are
integers; lift/confidence are single IEEE divisions of exact integers,
so every engine produces bit-identical doubles with no rounding.

Reference analogue: SparkTestBase.scala:111-135 drives groupBy/
combineByKey co-occurrence-style workloads through the shuffle plane;
the basket self-join is exactly such an equality-keyed exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators import _spread, hold


def cooccurrence_lift(
    df: DataFrame, basket_col: str, item_col: str, k: int = 25
) -> DataFrame:
    """Top-k item pairs by basket co-occurrence with support counts,
    confidence(a→b) and lift. Pairs are canonical (item_a < item_b);
    rank order (n_both desc, item_a, item_b) is all-integer, so the
    top-k cut is engine-deterministic."""
    # An in-row C(n,2) rewrite (the item_neighbors form) was tried and
    # REVERTED here (r13): nested-transform HOF pair expansion cost
    # ~16 s CPU where this ReuseExchange self-join costs 2.6 s — the
    # sort-merge join IS the cheaper pair kernel for long-typed
    # baskets feeding a plain pair count (item_neighbors keeps the
    # in-row form because it also folds sizes and both directions
    # in-row). A pre-distinct _spread was also tried and reverted:
    # distinct needs (basket, item) distribution, so the extra
    # exchange buys nothing.
    baskets = df.select(
        F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
    ).distinct()
    # item -> number of baskets containing it (distinct already applied)
    item_n = baskets.groupBy("item").agg(F.count(F.lit(1)).cast("long").alias("n_item"))
    total = baskets.select(
        F.count_distinct(F.col("basket")).cast("long").alias("n_baskets")
    )
    pairs = (
        baskets.alias("a")
        .join(baskets.alias("b"), "basket")
        .filter(F.col("a.item") < F.col("b.item"))
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    scored = (
        pairs.join(
            item_n.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_a")),
            "item_a",
        )
        .join(
            item_n.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
    )
    ranked = scored.orderBy(
        F.col("n_both").desc(), F.col("item_a"), F.col("item_b")
    ).limit(k)
    return ranked.select(
        "item_a",
        "item_b",
        "n_both",
        "n_a",
        "n_b",
        # single divisions of exact integers: bit-identical cross-engine
        (F.col("n_both") / F.col("n_a")).alias("confidence_a_b"),
        ((F.col("n_both") * F.col("n_baskets")) / (F.col("n_a") * F.col("n_b"))).alias(
            "lift"
        ),
    )


def cooccurrence_oracle_sql(
    table: str, basket_col: str, item_col: str, k: int = 25
) -> str:
    """DuckDB mirror: identical canonical pairs, counts and divisions."""
    return f"""
    WITH baskets AS (
        SELECT DISTINCT {basket_col} AS basket, {item_col} AS item FROM {table}
    ),
    item_n AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY item),
    total AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_baskets FROM baskets),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_both
        FROM baskets a JOIN baskets b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT p.item_a, p.item_b, p.n_both,
               na.n_item AS n_a, nb.n_item AS n_b, t.n_baskets
        FROM pairs p
        JOIN item_n na ON na.item = p.item_a
        JOIN item_n nb ON nb.item = p.item_b
        CROSS JOIN total t
        ORDER BY p.n_both DESC, p.item_a, p.item_b
        LIMIT {k}
    )
    SELECT item_a, item_b, n_both, n_a, n_b,
           n_both / CAST(n_a AS DOUBLE) AS confidence_a_b,
           (n_both * n_baskets) / CAST(n_a * n_b AS DOUBLE) AS lift
    FROM ranked
    """


def item_neighbors(
    df: DataFrame, basket_col: str, item_col: str, k: int = 5
) -> DataFrame:
    """Top-k nearest items per item by co-occurrence cosine — the
    item-item collaborative-filtering neighborhood (the "users who
    bought X also bought" recommender primitive, and the item-side
    input to swing/ItemCF rankers): sim(i, j) = n_ij / sqrt(n_i * n_j)
    over distinct basket memberships.

    Engine parity: n_ij, n_i, n_j are exact integers; sqrt of an exact
    integer product and the final division are both correctly-rounded
    IEEE ops, so sim is bit-identical cross-engine and ranking on
    (sim DESC, neighbor ASC) is deterministic without any rounding.

    Scale shape: pair generation groups by the BASKET key and expands
    the sorted per-basket item array's C(n,2) ordered pairs IN-ROW
    (bounded by basket size — order baskets are single-digit — never
    corpus-quadratic; the r13 q_itemsets3 array-combination form): the
    former basket-keyed self-join's second exchange of the basket
    relation is gone, and the only exchanges left are the basket
    aggregate and the map-side-combined pair count. Identical pairs:
    same distinct per-basket item sets, ordered item_a < item_b, same
    exact-integer supports. The per-item top-k window is
    WindowGroupLimit-pruned at rank k. Both directions of each pair
    are emitted by ONE in-row explode of a 2-struct array (r13) — the
    pair aggregate has a single consumer, so the former union of two
    reads (and the eager checkpoint job it required) is gone."""
    from pyspark.sql import Window as W

    # the collect_set PARTIAL agg runs on the scan's partitioning — a
    # single-split input serializes the set-build onto one core;
    # spread first (conditional no-op on wide scans; r13, the
    # q_itemsets3 measurement)
    arrs = (
        _spread(
            df.select(
                F.col(basket_col).alias("basket"), F.col(item_col).alias("item")
            ),
            "basket",
        )
        .groupBy("basket")
        .agg(F.array_sort(F.collect_set("item")).alias("items"))
        .select("items")
        .transform(hold)  # feeds the pair expansion AND item_n
    )
    # item-count-sized; materialized because BOTH direction joins read
    # it — without this the plan recomputed the whole scan+agg chain
    # once per side (verified in the executed plan: two FileScans)
    item_n = (
        arrs.select(F.explode("items").alias("item"))
        .groupBy("item")
        .agg(F.count(F.lit(1)).cast("long").alias("n_item"))
        .transform(hold)
    )
    pairs = (
        arrs.filter(F.size("items") >= 2)
        .select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(items, (x, i) ->
                      transform(slice(items, i + 2, size(items)), y ->
                        struct(x AS item_a, y AS item_b))))
                    """
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    # single consumer — explode both directions in-row instead of
    # unioning two reads of an eagerly-checkpointed pair relation
    # (one fewer job, no pair materialization)
    both_dirs = pairs.select(
        F.explode(
            F.array(
                F.struct("item_a", "item_b", "n_both"),
                F.struct(
                    F.col("item_b").alias("item_a"),
                    F.col("item_a").alias("item_b"),
                    F.col("n_both"),
                ),
            )
        ).alias("q")
    ).select("q.*")
    scored = (
        both_dirs.join(
            item_n.select(F.col("item").alias("item_a"), F.col("n_item").alias("n_i")),
            "item_a",
        )
        .join(
            item_n.select(F.col("item").alias("item_b"), F.col("n_item").alias("n_j")),
            "item_b",
        )
        .withColumn(
            "sim",
            F.col("n_both")
            / F.sqrt((F.col("n_i") * F.col("n_j")).cast("double")),
        )
    )
    rn = F.row_number().over(
        W.partitionBy("item_a").orderBy(F.col("sim").desc(), F.col("item_b"))
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select(
            F.col("item_a").alias("item"),
            F.col("item_b").alias("neighbor"),
            "n_both",
            "sim",
            F.col("rn").cast("int").alias("rank"),
        )
    )


def item_neighbors_oracle_sql(
    table: str, basket_col: str, item_col: str, k: int = 5
) -> str:
    """DuckDB mirror of `item_neighbors`: identical integer counts,
    sqrt/division, and (sim DESC, neighbor) ranking."""
    return f"""
    WITH baskets AS (
        SELECT DISTINCT {basket_col} AS basket, {item_col} AS item FROM {table}
    ),
    item_n AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n_item FROM baskets GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, CAST(count(*) AS BIGINT) AS n_both
        FROM baskets a JOIN baskets b
          ON a.basket = b.basket AND a.item < b.item
        GROUP BY 1, 2
    ),
    both_dirs AS (
        SELECT item_a, item_b, n_both FROM pairs
        UNION ALL
        SELECT item_b AS item_a, item_a AS item_b, n_both FROM pairs
    ),
    scored AS (
        SELECT d.item_a, d.item_b, d.n_both,
               d.n_both / sqrt(CAST(ni.n_item * nj.n_item AS DOUBLE)) AS sim
        FROM both_dirs d
        JOIN item_n ni ON ni.item = d.item_a
        JOIN item_n nj ON nj.item = d.item_b
    ),
    ranked AS (
        SELECT item_a, item_b, n_both, sim,
               row_number() OVER (
                   PARTITION BY item_a ORDER BY sim DESC, item_b
               ) AS rn
        FROM scored
    )
    SELECT item_a AS item, item_b AS neighbor, n_both, sim,
           CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= {k}
    """
