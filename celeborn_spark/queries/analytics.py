"""Analytics additions (round 6, late): incremental aggregate
maintenance, market-basket lift, per-entity rolling anomaly screen,
dyadic-exact EWMA trend, in-engine naive Bayes, and reciprocal-rank
fusion.

Reference analogue: all are aggregate/join shapes the reference's data
plane exists to serve (SparkTestBase.scala:111-150 differential
workloads); the incremental-merge query additionally mirrors its
partial-output merge-on-commit discipline at table level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import hold
from celeborn_spark.operators.classify import (
    classification_report_oracle_sql,
    naive_bayes_confusion,
    naive_bayes_oracle_sql,
)
from celeborn_spark.operators.incremental import (
    agg_state,
    delta_join,
    finalize_agg,
    incremental_agg_oracle_sql,
    incremental_quantile_oracle_sql,
    merge_agg_states,
    merge_quantile_state_sides,
    quantile_state_sides,
    quantiles_from_state,
)
from celeborn_spark.operators.classify import (
    decision_stump,
    decision_stump_oracle_sql,
)
from celeborn_spark.operators.market import (
    cooccurrence_lift,
    cooccurrence_oracle_sql,
    item_neighbors,
    item_neighbors_oracle_sql,
)
from celeborn_spark.operators import stats as stats_ops
from celeborn_spark.operators.stats import (
    ewma_oracle_sql,
    ewma_trend,
    rolling_anomaly,
    rolling_anomaly_oracle_sql,
)
from celeborn_spark.registry import query

_CUTOFF = "1996-01-01"


@query(
    "q_incremental_agg_merge",
    oracle=incremental_agg_oracle_sql("lineitem", "l_partkey", "l_extendedprice"),
)
def q_incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view refresh without the rescan: the per-part price
    summary is built as merge(state(pre-1996 base), state(1996+ delta))
    — at 100 TB only the delta partition and the key-sized state table
    are ever touched. The oracle recomputes from the FULL table, so
    equality proves the merge algebra exact (integer-cents sums are
    associative; float sums would not be)
    (operators/incremental.agg_state/merge_agg_states)."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    base = li.filter(F.col("l_shipdate") < cutoff)
    delta = li.filter((F.col("l_shipdate") >= cutoff) | F.col("l_shipdate").isNull())
    merged = merge_agg_states(
        agg_state(base, "l_partkey", "l_extendedprice"),
        agg_state(delta, "l_partkey", "l_extendedprice"),
        "l_partkey",
    )
    return finalize_agg(merged, "l_partkey")


@query(
    "q_cooccurrence_lift",
    oracle=cooccurrence_oracle_sql("lineitem", "l_orderkey", "l_partkey", k=25),
)
def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket mining: top-25 part pairs by order co-occurrence
    with confidence and lift. Pair generation self-joins on the BASKET
    key (bounded per-order item sets — never corpus-quadratic); lift/
    confidence are single divisions of exact integers, bit-identical
    cross-engine; the cut ranks on all-integer (n_both, pair) keys
    (operators/market.cooccurrence_lift)."""
    li = load_table(spark, sf_dir, "lineitem")
    return cooccurrence_lift(li, "l_orderkey", "l_partkey", k=25)


@query(
    "q_rolling_anomaly",
    oracle=rolling_anomaly_oracle_sql(
        "events", "user_id", ("ts", "event_id"), "value"
    ),
)
def q_rolling_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-window k-sigma anomaly counts over the event
    stream — the per-entity drift monitor. The 3-sigma test is the
    division-free ALL-INTEGER predicate (n*x-s)^2 > 9*(n*ssq-s^2) over
    integer-cents frame sums, so engines whose sliding-frame evaluation
    strategies differ (segment tree vs re-accumulation) still agree
    bit-for-bit. One window exchange on user_id
    (operators/stats.rolling_anomaly)."""
    return rolling_anomaly(
        load_table(spark, sf_dir, "events"),
        "user_id",
        ("ts", "event_id"),
        "value",
    )


@query(
    "q_ewma_trend",
    oracle=ewma_oracle_sql(
        "(SELECT * FROM events WHERE event_type = 'purchase')",
        "user_id",
        ("ts", "event_id"),
        "value",
    ),
)
def q_ewma_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's exponentially-weighted purchase-value trend (alpha
    1/2, 8-point truncation) at their latest event. Dyadic weights over
    integer cents make every windowed product and sum EXACTLY
    representable — raw doubles ship unrounded and match bit-for-bit.
    One window exchange on user_id (operators/stats.ewma_trend)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    return ewma_trend(ev, "user_id", ("ts", "event_id"), "value")


@query(
    "q_naive_bayes_lang",
    oracle=naive_bayes_oracle_sql("documents", "doc_id", "text", "lang"),
)
def q_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier trained AND applied
    in-engine; output is the confusion matrix. Training is two
    map-side-combined aggregates; scoring uses the add-one-smoothing
    identity so only the sparse (doc-token)x(class-token) postings join
    runs — never a dense doc x class x vocab cube. Argmax ranks on the
    6 dp-rounded score with the class name as tiebreaker
    (operators/classify.naive_bayes_confusion)."""
    docs = load_table(spark, sf_dir, "documents")
    return naive_bayes_confusion(docs, "doc_id", "text", "lang")


_RRF_TERMS = ("hash", "sort", "merge")
_RRF_POOL = 100
_RRF_C = 60
_RRF_K = 25

_RRF_ORACLE = f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM t),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, tok, count(*) AS tf
        FROM (SELECT doc_id, unnest(toks) AS tok FROM t)
        WHERE tok IN ('hash', 'sort', 'merge')
        GROUP BY doc_id, tok
    ),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.doc_id,
               round(sum(
                   ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                   * ((tf.tf * (1.2 + 1))
                      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * (dl.dl / stats.avgdl))))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id) CROSS JOIN stats
        GROUP BY tf.doc_id
    ),
    r1 AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
            FROM scored
        ) WHERE rnk <= {_RRF_POOL}
    ),
    r2 AS (
        SELECT doc_id, rnk FROM (
            SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rnk
            FROM documents
        ) WHERE rnk <= {_RRF_POOL}
    ),
    u AS (
        SELECT doc_id, 1.0 / ({_RRF_C} + rnk) AS term FROM r1
        UNION ALL
        SELECT doc_id, 1.0 / ({_RRF_C} + rnk) FROM r2
    ),
    fused AS (
        SELECT doc_id, sum(term) AS rrf, CAST(count(*) AS BIGINT) AS n_lists
        FROM u GROUP BY doc_id
    )
    SELECT doc_id, rrf, n_lists, rnk FROM (
        SELECT doc_id, rrf, n_lists,
               row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
        FROM fused
    ) WHERE rnk <= {_RRF_K}
"""


@query("q_rrf_fusion", oracle=_RRF_ORACLE)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-search result fusion: BM25 lexical top-100 and a
    length-prior top-100 combined by reciprocal-rank fusion
    (sum 1/(60+rank)), final top-25. Only RANK integers cross lists, so
    fused scores are sums of exact-integer divisions — bit-identical
    cross-engine, no rounding. Both candidate lists and the final cut
    use TakeOrderedAndProject + windowless pack-ranking; nothing
    corpus-sized ever sits in one partition
    (operators/textops.rrf_fuse/topk_ranks)."""
    from celeborn_spark.operators.textops import bm25_topk, rrf_fuse, topk_ranks

    docs = load_table(spark, sf_dir, "documents")
    r1 = bm25_topk(docs, "doc_id", "text", _RRF_TERMS, k=_RRF_POOL).select(
        "doc_id", "rnk"
    )
    r2 = topk_ranks(docs.select("doc_id", "n_chars"), "doc_id", "n_chars", _RRF_POOL)
    return rrf_fuse([r1, r2], "doc_id", c=_RRF_C, k=_RRF_K)


_Q_LO, _Q_W, _Q_BINS = 0, 50000, 256


@query(
    "q_incremental_quantiles",
    oracle=incremental_quantile_oracle_sql(
        "lineitem",
        "l_suppkey",
        "l_extendedprice",
        _Q_LO,
        _Q_W,
        _Q_BINS,
        [("p50", 1, 2), ("p95", 19, 20)],
    ),
)
def q_incremental_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained per-supplier price percentiles: the
    quantile sibling of q_incremental_agg_merge. The state is a fixed
    $500-grid histogram of integer counts — mergeable by ADDITION, so
    a percentile refresh at 100 TB touches only the delta partition and
    the (key x <=256 bins) state. The estimate rule (lower edge of the
    first bin reaching rank ceil(q*n)) is all-integer; the oracle
    recomputes from the FULL table, so equality proves histogram
    mergeability (operators/incremental.quantile_state_sides)."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    # base-vs-delta states build in ONE scan (stacked on a side flag —
    # every row lands in exactly one side, so summing the side out is
    # the same state addition the two-scan form proved), and both
    # percentiles extract in ONE bounded window pass, so the state has
    # a single consumer and needs no eager checkpoint.
    is_delta = (F.col("l_shipdate") >= cutoff) | F.col("l_shipdate").isNull()
    st = merge_quantile_state_sides(
        quantile_state_sides(
            li, "l_suppkey", "l_extendedprice", is_delta, _Q_LO, _Q_W, _Q_BINS
        ),
        "l_suppkey",
    )
    return quantiles_from_state(
        st, "l_suppkey", [("p50", 1, 2), ("p95", 19, 20)], _Q_LO, _Q_W
    )


@query(
    "q_item_neighbors",
    oracle=item_neighbors_oracle_sql("lineitem", "l_orderkey", "l_partkey", k=5),
)
def q_item_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 cosine neighbors per
    part over order-basket co-occurrence — the "also bought" ranker.
    Basket-keyed pair join (never corpus-quadratic), bit-identical
    sqrt/division sims, WindowGroupLimit-pruned per-item top-k
    (operators/market.item_neighbors)."""
    li = load_table(spark, sf_dir, "lineitem")
    return item_neighbors(li, "l_orderkey", "l_partkey", k=5)


@query(
    "q_decision_stump",
    oracle=decision_stump_oracle_sql(
        "lineitem", "l_quantity", "l_returnflag = 'R'"
    ),
)
def q_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 decision tree: the single l_quantity threshold most
    associated with return status, scored by the all-integer
    |TP*TN - FP*FN| criterion over running sums on DISTINCT feature
    values (cardinality-bounded window) — the weak-learner /
    feature-screen primitive (operators/classify.decision_stump)."""
    li = load_table(spark, sf_dir, "lineitem")
    return decision_stump(li, "l_quantity", F.col("l_returnflag") == "R")


@query(
    "q_incremental_join_merge",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey, l.l_quantity, o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def q_incremental_join_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance: orders and lineitem are each split
    at the 1996 cutoff into (base, delta); the refreshed view =
    base-join UNION delta_join(dA join B_old + A_old join dB +
    dA join dB). The oracle recomputes the join from the FULL tables,
    so equality proves the delta algebra exact — the
    refresh-without-rescan shape for JOINED views, next to
    q_incremental_agg_merge's aggregate half
    (operators/incremental.delta_join)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    base_l = li.filter(F.col("l_shipdate") < cutoff)
    delta_l = li.filter(
        (F.col("l_shipdate") >= cutoff) | F.col("l_shipdate").isNull()
    )
    o_keyed = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    base_o = o_keyed.filter(F.col("o_orderdate") < cutoff)
    delta_o = o_keyed.filter(
        (F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull()
    )
    proj = ["l_orderkey", "l_partkey", "l_quantity", "o_orderpriority"]
    prev = base_l.join(base_o, "l_orderkey").select(*proj)
    delta = delta_join(base_l, delta_l, base_o, delta_o, "l_orderkey").select(
        *proj
    )
    return prev.unionByName(delta)


@query(
    "q_events_pipeline",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    base AS (
        SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
        FROM gaps GROUP BY user_id
    ),
    e AS (SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t FROM events),
    s1 AS (SELECT u, min(t) AS t FROM e WHERE et = 'view' GROUP BY u),
    s2 AS (
        SELECT e.u, min(e.t) AS t FROM e
        JOIN s1 ON e.u = s1.u AND e.et = 'click' AND e.t > s1.t GROUP BY e.u
    ),
    s3 AS (
        SELECT e.u, min(e.t) AS t FROM e
        JOIN s2 ON e.u = s2.u AND e.et = 'purchase' AND e.t > s2.t GROUP BY e.u
    ),
    rev AS (
        SELECT user_id,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    anom AS ({stats_ops.rolling_anomaly_oracle_sql(
        "events", "user_id", ("ts", "event_id"), "value"
    )})
    SELECT base.user_id, base.n_sessions,
           (s3.u IS NOT NULL) AS completed_funnel,
           coalesce(rev.cents, 0) AS purchase_cents,
           anom.n_anomalies
    FROM base
    LEFT JOIN s3 ON base.user_id = s3.u
    LEFT JOIN rev ON base.user_id = rev.user_id
    JOIN anom ON base.user_id = anom.user_id
    """,
)
def q_events_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end events analytics canary (the behavioral twin of
    q_pipeline_full's corpus canary): per user, 30-min-gap session
    count, strict view->click->purchase funnel completion, exact
    integer-cents purchase revenue, and the rolling k-sigma anomaly
    count — four verified operator families composed through
    user-keyed joins in ONE plan, each reusing the same user
    partitioning. Any component regression turns this single driver
    row red."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > 1_800_000_000
            ),
            1,
        ).otherwise(0),
    )
    base = gaps.groupBy("user_id").agg(
        F.sum("new_session").cast("long").alias("n_sessions")
    )
    e = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("et"),
        F.unix_micros("ts").alias("t"),
    )
    s1 = e.filter(F.col("et") == "view").groupBy("u").agg(F.min("t").alias("t1"))
    s2 = (
        e.filter(F.col("et") == "click")
        .join(s1, "u")
        .filter(F.col("t") > F.col("t1"))
        .groupBy("u")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        e.filter(F.col("et") == "purchase")
        .join(s2, "u")
        .filter(F.col("t") > F.col("t2"))
        .groupBy("u")
        .agg(F.min("t").alias("t3"))
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    anom = stats_ops.rolling_anomaly(ev, "user_id", ("ts", "event_id"), "value")
    return (
        base.join(s3.select(F.col("u").alias("user_id"), "t3"), "user_id", "left")
        .join(rev, "user_id", "left")
        .join(anom.select("user_id", "n_anomalies"), "user_id")
        .select(
            "user_id",
            "n_sessions",
            F.col("t3").isNotNull().alias("completed_funnel"),
            F.coalesce(F.col("cents"), F.lit(0).cast("long")).alias(
                "purchase_cents"
            ),
            "n_anomalies",
        )
    )


@query(
    "q_user_growth",
    oracle="""
    WITH firstd AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS d0
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT d0 AS day, CAST(count(*) AS BIGINT) AS new_users FROM firstd
        GROUP BY 1
    ),
    active AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
        FROM events GROUP BY 1
    )
    SELECT a.day, a.active_users,
           coalesce(daily.new_users, 0) AS new_users,
           CAST(sum(coalesce(daily.new_users, 0)) OVER (
               ORDER BY a.day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM active a LEFT JOIN daily ON a.day = daily.day
    """,
)
def q_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth curve: active users, first-seen (new) users, and
    the cumulative user count — the DAU/acquisition readout. The only
    unpartitioned window runs over DISTINCT DAYS (calendar-bounded,
    the histogram discipline); everything else is user/day-keyed
    exchanges with exact integer counts."""
    ev = load_table(spark, sf_dir, "events")
    firstd = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0")
    )
    daily = firstd.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    active = ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.count_distinct("user_id").cast("long").alias("active_users"))
    from pyspark.sql import Window as W

    joined = active.join(daily, "day", "left").withColumn(
        "new_users", F.coalesce(F.col("new_users"), F.lit(0).cast("long"))
    )
    return joined.withColumn(
        "cumulative_users",
        F.sum("new_users")
        .over(
            W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long"),
    )


@query(
    "q_revenue_wow_growth",
    oracle="""
    WITH w AS (
        SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    g AS (
        SELECT week, cents,
               lag(cents) OVER (ORDER BY week) AS prev_cents
        FROM w
    )
    SELECT week, cents, prev_cents,
           CASE WHEN prev_cents IS NULL OR prev_cents = 0 THEN NULL
                ELSE CAST(cents - prev_cents AS DOUBLE) / prev_cents END
               AS wow_growth
    FROM g
    """,
)
def q_revenue_wow_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue growth: integer-cents weekly sums, a lag
    over DISTINCT WEEKS (calendar-bounded window), one exact division
    per row (NULL on the first/zero weeks, never /0) — the core
    business-trend readout."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    w = o.groupBy(
        F.date_trunc("week", "o_orderdate").cast("date").alias("week")
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # calendar-bounded: one row per WEEK
    g = w.withColumn("prev_cents", F.lag("cents").over(W.orderBy("week")))
    return g.select(
        "week",
        "cents",
        "prev_cents",
        F.when(
            F.col("prev_cents").isNull() | (F.col("prev_cents") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            (F.col("cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents")
        )
        .alias("wow_growth"),
    )


@query(
    "q_market_hhi",
    oracle="""
    WITH s AS (
        SELECT s.s_nationkey AS nation,
               l.l_suppkey AS supp,
               CAST(sum(CAST(floor(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        GROUP BY 1, 2
    ),
    t AS (SELECT nation, CAST(sum(cents) AS BIGINT) AS tot FROM s GROUP BY 1)
    SELECT s.nation, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum((CAST(s.cents AS DOUBLE) / t.tot)
                     * (CAST(s.cents AS DOUBLE) / t.tot)), 6) AS hhi
    FROM s JOIN t ON s.nation = t.nation
    GROUP BY s.nation
    """,
)
def q_market_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue per
    nation (1/n = perfectly even, 1 = monopoly) — the market-structure
    audit, and the revenue-weighted sibling of q_key_skew_profile's
    count-based Gini. Shares are exact-integer-cents divisions; the
    share-square sum rounds 6dp; two nation-keyed aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    s = (
        li.join(sup, li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nation"),
            F.col("l_suppkey").alias("supp"),
        )
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    from pyspark.sql import Window

    # the nation total folds IN-ROW as a key-partitioned window BIGINT
    # sum over the bounded (nation, supplier) grid — the totals
    # aggregate + join-back re-ran the lineitem⋈supplier pass (r13
    # reference-count rule); identical integers, identical shares
    share = F.col("cents").cast("double") / F.col("tot")
    return (
        s.withColumn(
            "tot",
            F.sum("cents").over(Window.partitionBy("nation")).cast("long"),
        )
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
        )
    )


@query(
    "q_lorenz_curve",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM orders GROUP BY 1
    ),
    hist AS (SELECT cents AS v, CAST(count(*) AS BIGINT) AS cnt,
                    CAST(sum(cents) AS BIGINT) AS vcents
             FROM per_cust GROUP BY 1),
    edges AS (
        SELECT v, cnt, vcents,
               sum(cnt) OVER (ORDER BY v) - cnt AS cum_before,
               sum(cnt) OVER ()                 AS total_n
        FROM hist
    ),
    binned AS (
        SELECT least(9, CAST(floor(10 * cum_before / total_n) AS BIGINT))
                   AS decile,
               CAST(sum(cnt) AS BIGINT) AS n_customers,
               CAST(sum(vcents) AS BIGINT) AS bin_cents
        FROM edges GROUP BY 1
    ),
    tot AS (SELECT sum(bin_cents) AS total_cents FROM binned)
    SELECT decile, n_customers, bin_cents,
           CAST(sum(bin_cents) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               / total_cents AS cum_share
    FROM binned CROSS JOIN tot
    """,
)
def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration curve of customer revenue: customers
    binned into spend deciles via the exact value-histogram rule (the
    quantile_bins arithmetic inline over integer cents — no global row
    sort), then each decile's cumulative share of total revenue — the
    curve readout whose scalar summaries are q_market_hhi and the
    key-skew Gini. cum_share = ONE division of exact integer cents,
    emitted raw; the windows run over the cents HISTOGRAM and the
    10-row decile relation."""
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    hist = per_cust.groupBy(F.col("cents").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("cents").cast("long").alias("vcents"),
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wall = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    binned = (
        hist.withColumn("cum_before", F.sum("cnt").over(wcum) - F.col("cnt"))
        .withColumn("total_n", F.sum("cnt").over(wall))
        .groupBy(
            F.least(
                F.lit(9),
                F.floor(10 * F.col("cum_before") / F.col("total_n")).cast(
                    "long"
                ),
            ).alias("decile")
        )
        .agg(
            F.sum("cnt").cast("long").alias("n_customers"),
            F.sum("vcents").cast("long").alias("bin_cents"),
        )
    )
    wdec = W.orderBy("decile").rowsBetween(W.unboundedPreceding, 0)
    wtot = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return binned.select(
        "decile",
        "n_customers",
        "bin_cents",
        (
            F.sum("bin_cents").over(wdec).cast("double")
            / F.sum("bin_cents").over(wtot)
        ).alias("cum_share"),
    )


@query(
    "q_ndcg_eval",
    oracle="""
    WITH pop AS (
        SELECT CAST(props->>'k' AS BIGINT) AS item,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    recs AS (
        SELECT item,
               CAST(row_number() OVER (ORDER BY c DESC, item) AS BIGINT) AS pos
        FROM pop ORDER BY c DESC, item LIMIT 10
    ),
    truth AS (
        SELECT DISTINCT user_id, CAST(props->>'k' AS BIGINT) AS item
        FROM events WHERE event_type = 'purchase'
    ),
    nt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY 1),
    dcg AS (
        SELECT t.user_id,
               CAST(count(*) AS BIGINT) AS hits,
               sum(ln(2.0) / ln(r.pos + 1.0)) AS dcg
        FROM truth t JOIN recs r ON r.item = t.item
        GROUP BY 1
    ),
    ideal AS (
        SELECT pos AS m,
               sum(ln(2.0) / ln(pos + 1.0))
                   OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS idcg
        FROM recs
    )
    SELECT nt.user_id, nt.n_truth,
           coalesce(d.hits, 0) AS hits,
           round(coalesce(d.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM nt
    LEFT JOIN dcg d ON d.user_id = nt.user_id
    JOIN ideal i ON i.m = least(nt.n_truth, 10)
    """,
)
def q_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation: NDCG@10 of the popularity
    recommender (top-10 most-viewed items, deterministic count-desc +
    item tiebreak) against each user's purchased items — the offline
    eval loop every recsys/retrieval pipeline runs next to q_rrf_fusion
    (rank combination) and q_item_neighbors (the model). DCG terms
    ln(2)/ln(pos+1) are irrational (6dp round tie-safe); the ideal-DCG
    table is a cumulative window over the 10 rec positions — a 10-row
    broadcast relation, while truth/judgments shuffle once on user."""
    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object(F.col("props"), "$.k").cast("long")
    pop = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(item.alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    from pyspark.sql import Window as W

    recs = (
        pop.orderBy(F.col("c").desc(), "item")
        .limit(10)
        .select(
            "item",
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), "item"))
            .cast("long")
            .alias("pos"),
        )
    )
    # truth is referenced twice (sizes + DCG join) — checkpoint the
    # distinct once so the filtered events scan runs once.
    truth = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", item.alias("item"))
        .distinct()
        .transform(hold)
    )
    nt = truth.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    dcg = (
        truth.join(F.broadcast(recs), "item")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("hits"),
            F.sum(F.log(F.lit(2.0)) / F.log(F.col("pos") + 1.0)).alias("dcg"),
        )
    )
    wp = W.orderBy("pos").rowsBetween(W.unboundedPreceding, W.currentRow)
    ideal = recs.select(
        F.col("pos").alias("m"),
        F.sum(F.log(F.lit(2.0)) / F.log(F.col("pos") + 1.0)).over(wp).alias("idcg"),
    )
    return (
        nt.join(dcg, "user_id", "left")
        .join(
            F.broadcast(ideal),
            F.least(F.col("n_truth"), F.lit(10)) == F.col("m"),
        )
        .select(
            "user_id",
            "n_truth",
            F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
            ).alias("ndcg"),
        )
    )


@query(
    "q_rolling_wau",
    oracle="""
    WITH du AS (
        SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS VARCHAR) AS day,
           CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
    FROM days d
    JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    """,
)
def q_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day — the windowed
    distinct-count engagement metric between q_user_growth's DAU and
    q_stickiness' monthly MAU. The day-user grid (one distinct pass
    over row mass) range-joins the day grid over a 7-day band —
    output and join both calendar x active-user bounded, never row
    mass squared. Exact integer counts."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
    ).distinct().transform(hold)  # feeds the day grid AND the band join
    days = du.select("day").distinct()
    joined = days.alias("d").join(
        du.alias("u"),
        (F.col("u.day") >= F.date_sub(F.col("d.day"), 6))
        & (F.col("u.day") <= F.col("d.day")),
    )
    return (
        joined.groupBy(F.col("d.day").alias("day"))
        .agg(F.countDistinct("u.user_id").cast("long").alias("wau"))
        .select(F.col("day").cast("string").alias("day"), "wau")
    )


@query(
    "q_stickiness",
    oracle="""
    WITH du AS (
        SELECT DISTINCT date_trunc('month', ts) AS month,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               user_id
        FROM events
    ),
    dau AS (
        SELECT month, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        FROM du GROUP BY 1, 2
    ),
    m AS (
        SELECT month,
               CAST(count(*) AS BIGINT) AS days_active,
               CAST(sum(dau) AS BIGINT) AS sum_dau
        FROM dau GROUP BY 1
    ),
    mau AS (
        SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        FROM du GROUP BY 1
    )
    SELECT CAST(CAST(m.month AS DATE) AS VARCHAR) AS month,
           m.days_active, mau.mau, m.sum_dau,
           CAST(m.sum_dau AS DOUBLE) / (m.days_active * mau.mau)
               AS stickiness
    FROM m JOIN mau USING (month)
    """,
)
def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly stickiness (avg DAU / MAU): what fraction of the
    month's actives show up on an average day — the engagement-depth
    ratio over q_user_growth's DAU and q_rolling_wau's WAU.
    stickiness = sum(daily distinct)/(active_days * monthly distinct)
    is a SINGLE division of exact integers, raw. One distinct pass
    over row mass; everything after is month/day-grid bounded."""
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("month", "ts").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "user_id",
    ).distinct().transform(hold)  # feeds the DAU grid AND the MAU agg
    dau = du.groupBy("month", "day").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    m = dau.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("days_active"),
        F.sum("dau").cast("long").alias("sum_dau"),
    )
    mau = du.groupBy("month").agg(
        F.countDistinct("user_id").cast("long").alias("mau")
    )
    return (
        m.join(mau, "month")
        .select(
            F.col("month").cast("date").cast("string").alias("month"),
            "days_active",
            "mau",
            "sum_dau",
            F.expr(
                "CAST(sum_dau AS DOUBLE) / (days_active * mau)"
            ).alias("stickiness"),
        )
    )


_SCREEN_FEATURES = [
    ("hour", "date_part('hour', ts)"),
    # Spark dayofweek is 1-7 (Sunday=1); DuckDB's is 0-6 -> +1 aligns
    ("dow", "dayofweek(ts) + 1"),
    ("value_band", "least(9, CAST(floor(value / 50.0) AS BIGINT))"),
]


@query(
    "q_feature_screen",
    oracle=" UNION ALL ".join(
        f"SELECT '{name}' AS feature, * FROM ({decision_stump_oracle_sql('events', feat_sql, chr(39) + 'purchase' + chr(39) + ' = event_type')})"
        for name, feat_sql in _SCREEN_FEATURES
    ),
)
def q_feature_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feature predictiveness screen: the best depth-1 split of
    each candidate feature (hour, day-of-week, value band) against the
    is-purchase label, one row per feature — "which features are worth
    a model at all", the k-feature extension of q_decision_stump. Each
    stump is the all-integer |TP*TN-FP*FN| argmax; the union is
    feature-tagged (operators/classify.decision_stump)."""
    from celeborn_spark.operators.classify import decision_stump

    ev = load_table(spark, sf_dir, "events")
    label = F.col("event_type") == "purchase"
    parts = []
    for name, feat in [
        ("hour", F.hour("ts")),
        ("dow", F.dayofweek("ts").cast("long")),
        (
            "value_band",
            F.least(F.lit(9), F.floor(F.col("value") / 50.0).cast("long")),
        ),
    ]:
        parts.append(
            decision_stump(
                ev.select(feat.alias("x"), "event_type"),
                "x",
                label,
            ).select(F.lit(name).alias("feature"), "*")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "q_decayed_popularity",
    oracle="""
    WITH cells AS (
        SELECT CAST(props->>'k' AS BIGINT) AS item,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type IN ('view', 'click', 'purchase')
        GROUP BY 1, 2
    ),
    mx AS (SELECT max(day) AS d_max FROM cells),
    walked AS (
        SELECT item,
               sum(c * exp(-0.1 * date_diff('day', day, d_max))) OVER w
                   AS score,
               sum(c) OVER w AS n_events,
               count(*) OVER w AS rn,
               count(*) OVER (PARTITION BY item) AS days
        FROM cells CROSS JOIN mx
        WINDOW w AS (PARTITION BY item ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
        SELECT item, CAST(n_events AS BIGINT) AS n_events,
               round(score, 6) AS decayed_score
        FROM walked WHERE rn = days
    )
    SELECT item, n_events, decayed_score
    FROM scored
    QUALIFY row_number() OVER (
        ORDER BY decayed_score DESC, item) <= 20
    """,
)
def q_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed item popularity: per-item sum of e^(-0.1 * age
    days) interaction mass — the freshness-aware ranking signal the
    plain popularity counts (q_item_neighbors' basis) lack; yesterday's
    fad decays, a steady seller endures. Exact (item, day) counts; the
    decay terms accumulate over the ORDERED per-item day window
    (sequential in both engines), rounded 6dp before the top-20 rank
    with item tiebreak. One (item, day) aggregate; every window is
    item x calendar bounded."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
    )
    cells = (
        ev.select(
            F.get_json_object(F.col("props"), "$.k")
            .cast("long")
            .alias("item"),
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .groupBy("item", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds the max-day scalar AND the walk
    )
    mx = cells.agg(F.max("day").alias("d_max"))
    wd = W.partitionBy("item").orderBy("day").rowsBetween(
        W.unboundedPreceding, 0
    )
    walked = (
        cells.crossJoin(F.broadcast(mx))
        .withColumn(
            "score",
            F.sum(
                F.expr("c * exp(-0.1 * datediff(d_max, day))")
            ).over(wd),
        )
        .withColumn("n_events", F.sum("c").over(wd))
        .withColumn("rn", F.count(F.lit(1)).over(wd))
        .withColumn("days", F.count(F.lit(1)).over(W.partitionBy("item")))
    )
    scored = walked.filter(F.col("rn") == F.col("days")).select(
        "item",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("score", 6).alias("decayed_score"),
    )
    # heap-select the 20 (TakeOrderedAndProject — the item set scales
    # with the catalog); the pre-r10 row_number-then-filter form ranked
    # every item through one partition (the q_bm25_topk lesson).
    return scored.orderBy(F.col("decayed_score").desc(), F.col("item")).limit(20)


@query(
    "q_gini_coefficient",
    # tie-aware exact form: a block of c equal values starting after
    # cumulative position p contributes v*c*(2p + c - n) to the
    # numerator; G = num / (n * S) is ONE division of exact BIGINTs
    oracle="""
    WITH hist AS (
        SELECT CAST(floor(c_acctbal * 100) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM customer GROUP BY 1
    ),
    cum AS (
        SELECT v, c,
               coalesce(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND 1 PRECEDING), 0) AS p,
               sum(c) OVER () AS n,
               sum(v * c) OVER () AS s
        FROM hist
    )
    SELECT CAST(max(n) AS BIGINT) AS n,
           CAST(sum(v * c * (2 * p + c - n)) AS BIGINT) AS gini_num,
           CAST(sum(v * c * (2 * p + c - n)) AS DOUBLE) / (max(n) * max(s))
               AS gini
    FROM cum
    """,
)
def q_gini_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of customer account balances — the
    inequality SCALAR completing q_lorenz_curve (the curve) and
    q_theil_index (the decomposable member). Tie-aware all-BIGINT
    numerator from the cents-value histogram (a c-block after
    cumulative position p contributes v*c*(2p + c - n)); G = num/(nS)
    is a SINGLE division — no doubles anywhere before it. One
    histogram aggregate; the walk runs on distinct values."""
    from pyspark.sql import Window as W

    c = load_table(spark, sf_dir, "customer")
    hist = c.groupBy(
        F.floor(F.col("c_acctbal") * 100).cast("long").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    wp = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    wall = W.partitionBy()
    cum = hist.select(
        "v",
        "c",
        F.coalesce(F.sum("c").over(wp), F.lit(0)).alias("p"),
        F.sum("c").over(wall).alias("n"),
        F.sum(F.col("v") * F.col("c")).over(wall).alias("s"),
    )
    return cum.agg(
        F.max("n").cast("long").alias("n"),
        F.sum(
            F.col("v") * F.col("c") * (2 * F.col("p") + F.col("c") - F.col("n"))
        )
        .cast("long")
        .alias("gini_num"),
        (
            F.sum(
                F.col("v")
                * F.col("c")
                * (2 * F.col("p") + F.col("c") - F.col("n"))
            ).cast("double")
            / (F.max("n") * F.max("s"))
        ).alias("gini"),
    )


@query(
    "q_rank_eval",
    # Exactness trick: every AP/MRR term i/pos has pos <= 10, and
    # lcm(1..10) = 2520, so i * (2520 / pos) is an EXACT int64 — the
    # per-user sums are integers (summation-order-free), and the final
    # ap/mrr are ONE exact int64-over-int64 IEEE division each:
    # bit-identical across engines with no rounding anywhere (the
    # rational-ratio half-way rule).
    oracle="""
    WITH pop AS (
        SELECT CAST(props->>'k' AS BIGINT) AS item,
               CAST(count(*) AS BIGINT) AS c
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    recs AS (
        SELECT item,
               CAST(row_number() OVER (ORDER BY c DESC, item) AS BIGINT) AS pos
        FROM pop ORDER BY c DESC, item LIMIT 10
    ),
    truth AS (
        SELECT DISTINCT user_id, CAST(props->>'k' AS BIGINT) AS item
        FROM events WHERE event_type = 'purchase'
    ),
    nt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_truth
           FROM truth GROUP BY 1),
    hit AS (
        SELECT t.user_id, r.pos,
               CAST(row_number() OVER (PARTITION BY t.user_id
                                       ORDER BY r.pos) AS BIGINT) AS hit_rank
        FROM truth t JOIN recs r ON r.item = t.item
    ),
    peruser AS (
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS hits,
               CAST(sum(hit_rank * (2520 / pos)) AS BIGINT) AS ap_num,
               CAST(min(pos) AS BIGINT) AS first_pos
        FROM hit GROUP BY 1
    )
    SELECT nt.user_id, nt.n_truth,
           coalesce(p.hits, CAST(0 AS BIGINT)) AS hits,
           CASE WHEN p.user_id IS NULL THEN 0.0
                ELSE CAST(p.ap_num AS DOUBLE)
                     / (2520.0 * least(nt.n_truth, 10)) END AS ap,
           CASE WHEN p.user_id IS NULL THEN 0.0
                ELSE CAST(2520 / p.first_pos AS DOUBLE) / 2520.0 END AS mrr
    FROM nt LEFT JOIN peruser p ON p.user_id = nt.user_id
    """,
)
def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 + MRR@10 of the popularity recommender against each
    user's purchases — the precision-oriented companions to
    q_ndcg_eval's graded gain (AP rewards packing ALL relevant items
    early; MRR scores only the first hit — the navigational metric).
    Same shape: 10-row recs broadcast, truth shuffles once on user,
    per-user windows bounded by the 10 rec positions."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    item = F.get_json_object(F.col("props"), "$.k").cast("long")
    pop = (
        ev.filter(F.col("event_type") == "view")
        .groupBy(item.alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    recs = (
        pop.orderBy(F.col("c").desc(), "item")
        .limit(10)
        .select(
            "item",
            F.row_number()
            .over(W.orderBy(F.col("c").desc(), "item"))
            .cast("long")
            .alias("pos"),
        )
    )
    # truth is referenced twice (sizes + hit join) — checkpoint once
    truth = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", item.alias("item"))
        .distinct()
        .transform(hold)
    )
    nt = truth.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_truth")
    )
    # <=10 hit rows per user partition (positions of the 10-row recs)
    wu = W.partitionBy("user_id").orderBy("pos")
    hit = truth.join(F.broadcast(recs), "item").select(
        "user_id",
        "pos",
        F.row_number().over(wu).cast("long").alias("hit_rank"),
    )
    peruser = hit.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("hits"),
        F.sum(F.col("hit_rank") * (F.lit(2520) / F.col("pos")).cast("long"))
        .cast("long")
        .alias("ap_num"),
        F.min("pos").cast("long").alias("first_pos"),
    )
    joined = nt.join(peruser.withColumnRenamed("user_id", "u"),
                     F.col("user_id") == F.col("u"), "left")
    return joined.select(
        "user_id",
        "n_truth",
        F.coalesce("hits", F.lit(0).cast("long")).alias("hits"),
        F.when(F.col("u").isNull(), F.lit(0.0))
        .otherwise(
            F.col("ap_num").cast("double")
            / (F.lit(2520.0) * F.least(F.col("n_truth"), F.lit(10)))
        )
        .alias("ap"),
        F.when(F.col("u").isNull(), F.lit(0.0))
        .otherwise(
            (F.lit(2520) / F.col("first_pos")).cast("long").cast("double")
            / F.lit(2520.0)
        )
        .alias("mrr"),
    )


@query(
    "q_itemsets3",
    # Pure-integer support counts; pair/triple generation self-joins
    # on the BASKET key (per-basket item sets are small and bounded by
    # order size — the cooccurrence_lift discipline, never
    # corpus-quadratic); the final cut is a deterministic top-20 with
    # full-key tiebreaks. Oracle form matters: the item-order
    # predicates live in WHERE, not in the JOIN conditions — with them
    # in ON, DuckDB planned an inequality join (IEJoin-style) instead
    # of hash-on-basket + filter, which ran 100x+ slower at the sf1
    # rung (20+ min vs 11 s; found by the r12 sf1 window sweep).
    # Identical semantics for INNER joins.
    oracle="""
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        FROM lineitem
    ),
    triples AS (
        SELECT a.item AS i1, b.item AS i2, c.item AS i3,
               CAST(count(*) AS BIGINT) AS support
        FROM baskets a
        JOIN baskets b ON b.basket = a.basket
        JOIN baskets c ON c.basket = a.basket
        WHERE b.item > a.item AND c.item > b.item
        GROUP BY 1, 2, 3
    )
    SELECT i1, i2, i3, support FROM triples
    ORDER BY support DESC, i1, i2, i3 LIMIT 20
    """,
)
def q_itemsets3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets over order baskets (top-20 by support) —
    the k=3 rung of market-basket mining above q_cooccurrence_lift's
    pairs; three-way affinities drive bundle/placement decisions that
    pairwise lift cannot see. Triple generation is two basket-keyed
    self-joins with ordered-item predicates (each basket contributes
    C(|basket|,3) rows, bounded by order size), then one exact-integer
    count and a heap-selected top-20."""
    li = load_table(spark, sf_dir, "lineitem")
    # Array-combination form (r13 optimization, guide §1.2/§2.4): one
    # groupBy(basket) collect_set replaces the former
    # distinct+localCheckpoint+two broadcast self-joins — per-basket
    # item sets are bounded by order size, so the sorted array's
    # C(|basket|,3) in-row combinations expand inside whole-stage
    # codegen with NO join at all, and the only exchanges left are the
    # basket aggregate and the (map-side combined) triple count.
    # Identical triples: same distinct per-basket item sets, ordered
    # i1 < i2 < i3, same exact-integer supports.
    # the collect_set PARTIAL agg runs on the scan's partitioning — a
    # single-split lineitem serializes the whole set-build onto one
    # core; spread first (conditional no-op on wide scans). Measured
    # r13 interleaved A/B: 2.6-3.6 s -> 1.0-1.2 s.
    from celeborn_spark.operators.dedup import _spread

    arrs = (
        _spread(li.select("l_orderkey", "l_partkey"), "l_orderkey")
        .groupBy(F.col("l_orderkey").alias("basket"))
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
        .select("items")
        .filter(F.size("items") >= 3)
    )
    triples = (
        arrs.select(
            F.explode(
                F.expr(
                    """
                    flatten(transform(items, (x, i) ->
                      flatten(transform(slice(items, i + 2, size(items)), (y, j) ->
                        transform(slice(items, i + j + 3, size(items)), z ->
                          struct(x AS i1, y AS i2, z AS i3))))))
                    """
                )
            ).alias("t")
        )
        .groupBy(
            F.col("t.i1").alias("i1"),
            F.col("t.i2").alias("i2"),
            F.col("t.i3").alias("i3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
    )
    return triples.orderBy(
        F.col("support").desc(), "i1", "i2", "i3"
    ).limit(20)


@query(
    "q_classifier_report",
    oracle=classification_report_oracle_sql(
        naive_bayes_oracle_sql("documents", "doc_id", "text", "lang")
    ),
)
def q_classifier_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sklearn-style classification report (per-class P/R/F1/support +
    micro accuracy + macro-F1) of the in-engine naive-Bayes language
    classifier — the multi-class grading surface beside the binary
    desk (q_mcc, q_roc_auc): which LANGUAGES does the classifier
    confuse, not just how often. Derives entirely from the bounded
    k x k confusion relation (operators/classify.classification_report
    over naive_bayes_confusion)."""
    from celeborn_spark.operators.classify import classification_report

    docs = load_table(spark, sf_dir, "documents")
    return classification_report(
        naive_bayes_confusion(docs, "doc_id", "text", "lang")
    )
