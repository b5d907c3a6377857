"""Temporal join surface: as-of join and range self-join over events —
operators Spark lacks natively, composed scale-first
(operators/asof.py). DuckDB's native ASOF JOIN and theta join are the
oracles, so the compositions are checked against a first-class
implementation of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import hold
from celeborn_spark.operators.resample import (
    merge_intervals,
    merge_intervals_oracle_sql,
)
from celeborn_spark.operators.stats import (
    interevent_oracle_sql,
    wilson_oracle_sql,
)
from celeborn_spark.operators.asof import (
    asof_join,
    bucketed_range_self_join,
    point_in_time_join,
)
from celeborn_spark.registry import query


@query(
    "q_asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts,
               max(event_id)           AS view_event_id,
               arg_max(value, event_id) AS view_value
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    )
    SELECT c.user_id, c.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           v.view_event_id, v.view_value
    FROM clicks c ASOF LEFT JOIN views v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click, the latest view at-or-before it per user."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    joined = asof_join(
        clicks, views, keys=["user_id"], ts_col="ts",
        right_payload=["view_event_id", "view_value"],
    )
    return joined.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "view_event_id",
        "view_value",
    )


@query(
    "q_asof_join_forward",
    # DuckDB's native ASOF is backward-only; the forward oracle is the
    # first-at-or-after LATERAL (per-key ordered LIMIT 1).
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ),
    views AS (
        SELECT user_id, ts,
               max(event_id)           AS view_event_id,
               arg_max(value, event_id) AS view_value
        FROM events WHERE event_type = 'view'
        GROUP BY user_id, ts
    )
    SELECT c.user_id, c.event_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           v.view_event_id, v.view_value
    FROM clicks c LEFT JOIN LATERAL (
        SELECT view_event_id, view_value
        FROM views v WHERE v.user_id = c.user_id AND v.ts >= c.ts
        ORDER BY v.ts LIMIT 1
    ) v ON true
    """,
)
def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each click, the earliest view at-or-after it per user
    (merge_asof direction='forward' parity) — same single-exchange
    union+window composition, mirrored frame."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "event_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max_by("value", "event_id").alias("view_value"),
        )
    )
    joined = asof_join(
        clicks, views, keys=["user_id"], ts_col="ts",
        right_payload=["view_event_id", "view_value"],
        direction="forward",
    )
    return joined.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        "view_event_id",
        "view_value",
    )


@query(
    "q_range_join_pairs",
    oracle="""
    SELECT a.user_id, count(*) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
    GROUP BY a.user_id
    """,
)
def q_range_join_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event pairs within 5 minutes per user, counted per user. The
    Spark side is the bucketed equi-join; the oracle is the naive theta
    join — same result, quadratic only inside a bucket."""
    e = load_table(spark, sf_dir, "events")
    pairs = bucketed_range_self_join(e, "user_id", "ts", 300, "event_id")
    return pairs.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "q_resample_gapfill",
    # buckets are epoch-second longs (integer floor of epoch_us/width):
    # exact in both engines, no timestamp rendering in the result
    oracle="""
    WITH b AS (
        SELECT user_id,
               CAST(floor(epoch_us(ts) / 300000000.0) AS BIGINT) AS bucket,
               value
        FROM events
    ),
    agg AS (
        SELECT user_id, bucket, round(avg(value), 6) AS bucket_avg
        FROM b GROUP BY user_id, bucket
    ),
    grid AS (
        SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket
        FROM (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1
              FROM b GROUP BY user_id)
    )
    SELECT g.user_id, g.bucket, a.bucket_avg,
           last_value(a.bucket_avg IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
    FROM grid g LEFT JOIN agg a
      ON g.user_id = a.user_id AND g.bucket = a.bucket
    """,
)
def q_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute per-user rollup with gap-filled buckets and forward
    fill (operators/resample.py) — the hypertable/continuous-aggregate
    operator of a time-series engine."""
    from celeborn_spark.operators.resample import resample_gapfill

    e = load_table(spark, sf_dir, "events")
    return resample_gapfill(e, "user_id", "ts", "value", width_sec=300)


@query(
    "q_funnel_steps",
    oracle="""
    WITH e AS (
        SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t FROM events
    ),
    s1 AS (SELECT u, min(t) AS t FROM e WHERE et = 'view' GROUP BY u),
    s2 AS (
        SELECT e.u, min(e.t) AS t, min(s1.t) AS t_prev
        FROM e JOIN s1 ON e.u = s1.u AND e.et = 'click' AND e.t > s1.t
        GROUP BY e.u
    ),
    s3 AS (
        SELECT e.u, min(e.t) AS t, min(s2.t) AS t_prev
        FROM e JOIN s2 ON e.u = s2.u AND e.et = 'purchase' AND e.t > s2.t
        GROUP BY e.u
    )
    SELECT 'view' AS step, 1 AS ord, count(*) AS n_users,
           CAST(NULL AS DOUBLE) AS avg_step_delay_sec FROM s1
    UNION ALL
    SELECT 'click', 2, count(*), round(avg((t - t_prev) / 1e6), 2) FROM s2
    UNION ALL
    SELECT 'purchase', 3, count(*), round(avg((t - t_prev) / 1e6), 2) FROM s3
    """,
)
def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch funnel view -> click -> purchase: per-step converted
    users and mean inter-step delay (operators/funnel.py — chained
    user-keyed min-aggregates, no event-stream windows)."""
    from celeborn_spark.operators.funnel import funnel_steps

    e = load_table(spark, sf_dir, "events")
    return funnel_steps(e, ["view", "click", "purchase"])


@query(
    "q_funnel_windowed",
    # Same chained min-aggregates as q_funnel_steps with the per-step
    # conversion window bound (1 hour): a step converts only within
    # 3600s of the previous step's conversion.
    oracle="""
    WITH e AS (
        SELECT user_id AS u, event_type AS et, epoch_us(ts) AS t FROM events
    ),
    s1 AS (SELECT u, min(t) AS t FROM e WHERE et = 'view' GROUP BY u),
    s2 AS (
        SELECT e.u, min(e.t) AS t, min(s1.t) AS t_prev
        FROM e JOIN s1 ON e.u = s1.u AND e.et = 'click'
         AND e.t > s1.t AND e.t <= s1.t + 3600000000
        GROUP BY e.u
    ),
    s3 AS (
        SELECT e.u, min(e.t) AS t, min(s2.t) AS t_prev
        FROM e JOIN s2 ON e.u = s2.u AND e.et = 'purchase'
         AND e.t > s2.t AND e.t <= s2.t + 3600000000
        GROUP BY e.u
    )
    SELECT 'view' AS step, 1 AS ord, count(*) AS n_users,
           CAST(NULL AS DOUBLE) AS avg_step_delay_sec FROM s1
    UNION ALL
    SELECT 'click', 2, count(*), round(avg((t - t_prev) / 1e6), 2) FROM s2
    UNION ALL
    SELECT 'purchase', 3, count(*), round(avg((t - t_prev) / 1e6), 2) FROM s3
    """,
)
def q_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound funnel: view -> click -> purchase where each step
    must convert within 1 hour of the previous one — the conversion-
    window form of product analytics (unbounded form: q_funnel_steps)."""
    from celeborn_spark.operators.funnel import funnel_steps

    e = load_table(spark, sf_dir, "events")
    return funnel_steps(e, ["view", "click", "purchase"], window_sec=3600)


@query(
    "q_retention_cohorts",
    oracle="""
    WITH first AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS act_week FROM events
    )
    SELECT CAST(f.cohort_week AS VARCHAR) AS cohort_week,
           CAST(date_diff('day', f.cohort_week, a.act_week) / 7 AS INTEGER)
               AS week_offset,
           count(*) AS n_active_users
    FROM active a JOIN first f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle over the events table
    (operators/funnel.py retention_cohorts)."""
    from celeborn_spark.operators.funnel import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS next_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id
               ) AS prev_type
        FROM events
    )
    SELECT prev_type, next_type, count(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts of per-user event sequences
    (operators/funnel.py event_transitions)."""
    from celeborn_spark.operators.funnel import event_transitions

    return event_transitions(load_table(spark, sf_dir, "events"))


@query(
    "q_point_in_time_join",
    oracle="""
    WITH latest AS (
        SELECT o_custkey, o_orderdate, o_orderpriority,
               row_number() OVER (PARTITION BY o_custkey, o_orderdate
                                  ORDER BY o_orderkey DESC) AS rn
        FROM orders
    ),
    versions AS (
        SELECT o_custkey, o_orderdate AS valid_from, o_orderpriority,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate) AS valid_to
        FROM latest WHERE rn = 1
    ),
    facts AS (
        SELECT l.l_orderkey, l.l_linenumber, o.o_custkey, l.l_shipdate
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber,
           (SELECT v.o_orderpriority FROM versions v
            WHERE v.o_custkey = f.o_custkey
              AND v.valid_from <= f.l_shipdate
              AND (v.valid_to IS NULL OR f.l_shipdate < v.valid_to)
            ORDER BY v.valid_from DESC LIMIT 1) AS prio_at_ship
    FROM facts f
    """,
)
def q_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe feature lookup: each shipped line is enriched with
    the customer's order priority IN EFFECT AT SHIP TIME (the version
    opened by the latest order on or before l_shipdate, superseded by
    any newer order). The versioned dimension derives from orders via
    a lead() window (SCD2 tiling, last order per (cust, date) wins);
    the lookup is ONE key-exchange as-of join, not a range theta join
    (operators/asof.point_in_time_join). The oracle is the correlated
    validity-interval subquery — the semantics the composition must
    reproduce."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    wv = W.partitionBy("o_custkey", "o_orderdate").orderBy(
        F.col("o_orderkey").desc()
    )
    latest = (
        orders.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
    )
    versions = latest.select(
        "o_custkey",
        F.col("o_orderdate").alias("valid_from"),
        "o_orderpriority",
        F.lead("o_orderdate")
        .over(W.partitionBy("o_custkey").orderBy("o_orderdate"))
        .alias("valid_to"),
    )
    facts = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == orders["o_orderkey"],
    ).select("l_orderkey", "l_linenumber", "o_custkey", "l_shipdate")
    out = point_in_time_join(
        facts,
        versions.withColumnRenamed("o_orderpriority", "prio_at_ship"),
        ["o_custkey"],
        "l_shipdate",
        "valid_from",
        "valid_to",
        ["prio_at_ship"],
    )
    return out.select("l_orderkey", "l_linenumber", "prio_at_ship")


@query(
    "q_interval_merge",
    oracle=merge_intervals_oracle_sql(
        "SELECT l_suppkey, l_shipdate AS s, "
        "l_shipdate + INTERVAL 7 DAY AS e FROM lineitem",
        "l_suppkey",
        bounds_cast="DATE",
    ),
)
def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each supplier's 7-day shipping windows
    coalesced into continuous activity islands — the interval dual of
    sessionization (validity-window merging, maintenance scheduling).
    ONE supplier-keyed window exchange; prefix-max island heads, raw
    timestamp comparisons only (operators/resample.merge_intervals)."""
    li = load_table(spark, sf_dir, "lineitem")
    iv = li.select(
        "l_suppkey",
        F.col("l_shipdate").alias("s"),
        (F.col("l_shipdate") + F.expr("INTERVAL 7 DAYS")).alias("e"),
    )
    out = merge_intervals(iv, "l_suppkey", "s", "e")
    return out.select(
        "l_suppkey",
        F.col("island_start").cast("date").alias("island_start"),
        F.col("island_end").cast("date").alias("island_end"),
        "n_merged",
    )


@query(
    "q_attribution_last_touch",
    oracle="""
    WITH purchases AS (
        SELECT event_id, user_id, ts, CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    touches AS (
        SELECT user_id, ts, event_type, event_id,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_type IN ('click', 'view')
    ),
    attributed AS (
        SELECT p.event_id, p.cents,
               (SELECT t.event_type FROM touches t
                WHERE t.user_id = p.user_id AND t.rn = 1 AND t.ts <= p.ts
                ORDER BY t.ts DESC, t.event_id DESC LIMIT 1) AS touch_type
        FROM purchases p
    )
    SELECT coalesce(touch_type, 'unattributed') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(cents) AS BIGINT) AS revenue_cents
    FROM attributed GROUP BY 1
    """,
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits the
    LATEST preceding click/view of the same user (the marketing-
    analytics sibling of the point-in-time join — same backward as-of
    machinery, one user-keyed exchange, no per-purchase scan). Touches
    deduped per (user, ts) by highest event_id so the as-of right side
    is unique; revenue in exact integer cents; purchases with no prior
    touch report 'unattributed'. Oracle = the correlated latest-touch
    subquery (operators/asof.asof_join)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "ts",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    wt = W.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    touches = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", F.col("event_type").alias("touch_type"))
    )
    att = asof_join(
        purchases, touches, ["user_id"], "ts", ["touch_type"]
    )
    return att.groupBy(
        F.coalesce(F.col("touch_type"), F.lit("unattributed")).alias(
            "touch_type"
        )
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


@query(
    "q_temporal_cooccurrence",
    oracle="""
    SELECT least(a.event_type, b.event_type) AS type_a,
           greatest(a.event_type, b.event_type) AS type_b,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) > epoch_us(a.ts)
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
    GROUP BY 1, 2
    """,
)
def q_temporal_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type pairs co-occurring within 5 minutes per user — the
    TEMPORAL basket (what happens together in time, where
    q_cooccurrence_lift asks what belongs to the same static basket).
    Pair generation rides bucketed_range_self_join, the (key, bucket)
    equi-join form of the range theta join — Catalyst hash-partitions
    it, so at 100 TB the pair space is user x window bounded, never
    quadratic in the stream. The oracle IS the theta join, proving the
    bucketed rewrite exact (operators/asof.bucketed_range_self_join)."""
    ev = load_table(spark, sf_dir, "events")
    # event_type rides THROUGH the pair join (exact equivalent of the
    # old join-back on the unique event_id, minus two row-mass joins)
    pairs = bucketed_range_self_join(
        ev, "user_id", "ts", 300, "event_id", payload_cols=["event_type"]
    )
    return pairs.groupBy(
        F.least("event_type_a", "event_type_b").alias("type_a"),
        F.greatest("event_type_a", "event_type_b").alias("type_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


@query(
    "q_cohort_ltv",
    oracle="""
    WITH firstw AS (
        SELECT user_id, CAST(min(date_trunc('week', ts)) AS DATE) AS cohort
        FROM events GROUP BY 1
    ),
    sized AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
        FROM firstw GROUP BY 1
    ),
    rev AS (
        SELECT f.cohort,
               CAST(date_diff('week', f.cohort,
                              CAST(date_trunc('week', e.ts) AS DATE)) AS BIGINT)
                   AS week_n,
               CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM events e JOIN firstw f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT cohort, week_n,
               CAST(sum(cents) OVER (
                   PARTITION BY cohort ORDER BY week_n
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_cents
        FROM rev
    )
    SELECT cum.cohort, cum.week_n, cum.cum_cents, sized.cohort_users,
           CAST(cum.cum_cents AS DOUBLE) / sized.cohort_users
               AS ltv_cents_per_user
    FROM cum JOIN sized ON cum.cohort = sized.cohort
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    signup-week cohort, normalized per cohort user — the weekly
    retention triangle's revenue companion. Integer-cents sums, a
    cohort-partitioned running window, and ONE exact division —
    bit-identical; two user-keyed exchanges plus the tiny cohort
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    firstw = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("week", "ts")).cast("date").alias("cohort")
    )
    sized = firstw.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        ev.filter(F.col("event_type") == "purchase")
        .join(firstw, "user_id")
        .groupBy(
            "cohort",
            F.floor(
                F.datediff(
                    F.date_trunc("week", "ts").cast("date"), F.col("cohort")
                )
                / 7
            )
            .cast("long")
            .alias("week_n"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    cum = rev.withColumn(
        "cum_cents",
        F.sum("cents")
        .over(
            W.partitionBy("cohort")
            .orderBy("week_n")
            .rowsBetween(W.unboundedPreceding, W.currentRow)
        )
        .cast("long"),
    )
    return cum.join(sized, "cohort").select(
        "cohort",
        "week_n",
        "cum_cents",
        "cohort_users",
        (F.col("cum_cents").cast("double") / F.col("cohort_users")).alias(
            "ltv_cents_per_user"
        ),
    )


@query(
    "q_seq_pattern_topk",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    trigrams AS (
        SELECT event_type || '>' || t2 || '>' || t3 AS pattern
        FROM ordered WHERE t3 IS NOT NULL
    )
    SELECT pattern, CAST(count(*) AS BIGINT) AS n
    FROM trigrams GROUP BY pattern
    ORDER BY n DESC, pattern
    LIMIT 20
    """,
)
def q_seq_pattern_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 behavioral trigrams (consecutive event-type triples per
    user, ordered by time): the sequential-pattern summary one level
    deeper than q_event_transitions' Markov pairs — what three-step
    paths dominate, where do error loops cluster. ONE user-keyed
    window exchange (both leads share the frame) + a pattern-keyed
    count with map-side partials; the cut ranks on exact integers
    with the pattern string as tiebreak."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tri = (
        ev.select(
            "event_type",
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("pattern")
        )
    )
    return (
        tri.groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pattern")
        .limit(20)
    )


@query(
    "q_seasonality_index",
    oracle="""
    WITH counts AS (
        SELECT event_type, isodow(ts) AS isodow,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    totals AS (SELECT event_type, sum(n) AS n_t FROM counts GROUP BY 1)
    SELECT c.event_type, c.isodow, c.n,
           CAST(c.n * 7 AS DOUBLE) / t.n_t AS dow_index
    FROM counts c JOIN totals t USING (event_type)
    """,
)
def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per event type: observed share of
    a weekday vs the uniform 1/7 expectation (index 1.0 = no
    seasonality; >1 = overrepresented day) — the weekly-rhythm
    diagnostic next to q_user_growth (daily trend) and q_ewma_trend.
    Two count aggregates; dow_index = ONE division of exact integers
    (n*7 / n_t), bit-identical cross-engine, emitted raw. isodow
    (Monday=1..7) = Spark weekday()+1."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy(
        "event_type", (F.weekday("ts") + 1).alias("isodow")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    totals = counts.groupBy("event_type").agg(F.sum("n").alias("n_t"))
    return counts.join(totals, "event_type").select(
        "event_type",
        "isodow",
        "n",
        ((F.col("n") * 7).cast("double") / F.col("n_t")).alias("dow_index"),
    )


@query(
    "q_ohlc_hourly",
    oracle="""
    WITH keyed AS (
        SELECT event_type, date_trunc('hour', ts) AS hour, value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
        FROM events WHERE event_type IN ('purchase', 'click')
    )
    SELECT event_type, hour,
           arg_min(value, k) AS open,
           max(value) AS high,
           min(value) AS low,
           arg_max(value, k) AS close,
           CAST(count(*) AS BIGINT) AS n_events
    FROM keyed GROUP BY 1, 2
    """,
)
def q_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC (open/high/low/close) candles of event value per
    event type — the time-bucketed rollup a metrics store serves for
    any "how did this metric move" panel. ONE map-combined aggregate
    (open/close via min_by/max_by on a zero-padded (epoch_us,
    event_id) string key — lexicographic IS chronological and the
    unique id makes ties deterministic; DuckDB's arg_min/arg_max take
    only scalar ordering keys, hence the fold). High/low/open/close
    are raw untouched doubles — no arithmetic, no rounding needed."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    k = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        F.min_by("value", k).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", k).alias("close"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )


@query(
    "q_funnel_conversion_ci",
    oracle=wilson_oracle_sql(
        """(
        WITH reach AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                       AS r_view,
                   max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                       AS r_click,
                   max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS r_purchase
            FROM events GROUP BY user_id
        )
        SELECT 'view>click' AS step, r_click = 1 AS conv
        FROM reach WHERE r_view = 1
        UNION ALL
        SELECT 'click>purchase', r_purchase = 1
        FROM reach WHERE r_click = 1
    )""",
        "step",
        "step",
        "conv",
    ),
)
def q_funnel_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel step-conversion rates WITH Wilson 95% intervals — the
    composition of q_funnel_steps' reach flags and the
    operators/stats.wilson_interval machinery: a raw conversion rate
    without its interval invites overreading small cohorts. Per-user
    reach flags in ONE aggregate, one union of the two step cohorts,
    one group-keyed Wilson aggregate (the oracle is generated by
    wilson_oracle_sql so both engines fold the identical z^2
    constant — a hand-copied 3.8416 vs Python's 1.96*1.96 differs in
    the last ulp)."""
    from celeborn_spark.operators.stats import wilson_interval

    ev = load_table(spark, sf_dir, "events")
    reach = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("r_view"),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("r_click"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "r_purchase"
        ),
    )
    steps = (
        reach.filter(F.col("r_view") == 1)
        .select(
            F.lit("view>click").alias("step"),
            (F.col("r_click") == 1).alias("conv"),
        )
        .unionByName(
            reach.filter(F.col("r_click") == 1).select(
                F.lit("click>purchase").alias("step"),
                (F.col("r_purchase") == 1).alias("conv"),
            )
        )
    )
    return wilson_interval(steps, "step", "conv")


@query(
    "q_retention_matrix",
    oracle="""
    WITH uw AS (
        SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS w
        FROM events GROUP BY 1, 2
    ),
    cohort AS (SELECT user_id, min(w) AS cw FROM uw GROUP BY 1),
    sizes AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_cohort
              FROM cohort GROUP BY 1),
    act AS (
        SELECT c.cw, CAST(date_diff('day', c.cw, uw.w) AS BIGINT) // 7
                   AS week_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM uw JOIN cohort c ON c.user_id = uw.user_id
        GROUP BY 1, 2
    )
    SELECT CAST(a.cw AS VARCHAR) AS cohort_week, a.week_offset,
           a.n_active, s.n_cohort,
           CAST(a.n_active AS DOUBLE) / s.n_cohort AS retention
    FROM act a JOIN sizes s ON s.cw = a.cw
    """,
)
def q_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-active week,
    fraction still active k weeks later — THE product-analytics
    readout next to q_cohort_ltv (revenue) and q_user_growth (volume).
    One (user, week) distinct exchange, then everything runs on the
    user-week relation; retention is ONE division of exact integers,
    raw. Weeks truncate Monday-start in both engines."""
    ev = load_table(spark, sf_dir, "events")
    # uw is referenced twice (cohort build + activity join) — checkpoint
    # the distinct once so the events table scans once, not twice.
    uw = (
        ev.select(
            "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("w")
        )
        .distinct()
        .transform(hold)
    )
    cohort = uw.groupBy("user_id").agg(F.min("w").alias("cw"))
    sizes = cohort.groupBy("cw").agg(
        F.count(F.lit(1)).cast("long").alias("n_cohort")
    )
    act = (
        uw.join(cohort, "user_id")
        .groupBy(
            "cw",
            F.floor(F.datediff(F.col("w"), F.col("cw")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
    )
    return act.join(F.broadcast(sizes), "cw").select(
        F.col("cw").cast("string").alias("cohort_week"),
        "week_offset",
        "n_active",
        "n_cohort",
        (F.col("n_active").cast("double") / F.col("n_cohort")).alias("retention"),
    )


@query(
    "q_time_to_convert",
    oracle="""
    WITH v AS (SELECT user_id, min(epoch_us(ts)) AS mv
               FROM events WHERE event_type = 'view' GROUP BY 1),
    p AS (SELECT user_id, min(epoch_us(ts)) AS mp
          FROM events WHERE event_type = 'purchase' GROUP BY 1),
    d AS (
        SELECT v.user_id, p.mp - v.mv AS delay_us
        FROM v JOIN p ON p.user_id = v.user_id
        WHERE p.mp >= v.mv
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_viewers FROM v)
    SELECT n_viewers,
           CAST(count(*) AS BIGINT) AS n_converted,
           CAST(count(*) AS DOUBLE) / n_viewers AS conv_rate,
           CAST(sum(delay_us) AS DOUBLE) / count(*) AS avg_delay_us,
           median(delay_us) AS median_delay_us
    FROM d CROSS JOIN tot
    GROUP BY n_viewers
    """,
)
def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: time from a user's first view to their first
    purchase — the how-long companion to q_funnel_conversion_ci's
    how-many. Delays stay EXACT MICROSECOND BIGINTs end to end (never
    divided by a decimal literal — the q17 lint class); conv_rate and
    avg are single divisions of exact integers and the median of
    exact integers averages the two middles identically in both
    engines — all raw. Two min-aggregates + one user-keyed join."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros(F.col("ts"))).alias("mv"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros(F.col("ts"))).alias("mp"))
    )
    d = v.join(p, "user_id").filter(F.col("mp") >= F.col("mv")).select(
        (F.col("mp") - F.col("mv")).alias("delay_us")
    )
    tot = v.agg(F.count(F.lit(1)).cast("long").alias("n_viewers"))
    return (
        d.crossJoin(F.broadcast(tot))
        .groupBy("n_viewers")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            (F.count(F.lit(1)).cast("double") / F.max("n_viewers")).alias(
                "conv_rate"
            ),
            (F.sum("delay_us").cast("double") / F.count(F.lit(1))).alias(
                "avg_delay_us"
            ),
            F.median("delay_us").alias("median_delay_us"),
        )
    )


@query(
    "q_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    c AS (
        SELECT event_type AS from_type, nxt AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT from_type, sum(n) AS tot FROM c GROUP BY 1)
    SELECT c.from_type, c.to_type, c.n,
           CAST(c.n AS DOUBLE) / t.tot AS prob
    FROM c JOIN t ON t.from_type = c.from_type
    """,
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event-type
    sequences — the behavioral-model readout behind q_seq_pattern_topk
    (which mines the top trigrams; this gives the full one-step
    dynamics a simulator or anomaly scorer consumes). One user-keyed
    window exchange for the lead, then everything is (type x type)
    sized; prob is ONE division of exact integers, raw. Ordering key
    (ts, event_id) is unique per user, so the sequence is
    deterministic in both engines."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = c.groupBy("from_type").agg(F.sum("n").alias("tot"))
    return c.join(F.broadcast(t), "from_type").select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.col("tot")).alias("prob"),
    )


@query(
    "q_attribution_ushaped",
    oracle="""
    WITH fp AS (
        SELECT user_id, min(ts) AS conv_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    t AS (
        SELECT e.user_id, e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn,
               count(*) OVER (PARTITION BY e.user_id) AS k
        FROM events e JOIN fp ON fp.user_id = e.user_id
        WHERE e.event_type IN ('click', 'view') AND e.ts < fp.conv_ts
    ),
    credited AS (
        SELECT event_type AS touch_type,
               CAST(CASE
                   WHEN k = 1 THEN 1000000
                   WHEN k = 2 THEN 500000
                   WHEN rn = 1 THEN 400000 + CAST(floor(
                       (200000 - CAST(floor(200000 / (k - 2)) AS BIGINT) * (k - 2))
                       / 2) AS BIGINT)
                   WHEN rn = k THEN 400000
                       + (200000 - CAST(floor(200000 / (k - 2)) AS BIGINT) * (k - 2))
                       - CAST(floor(
                       (200000 - CAST(floor(200000 / (k - 2)) AS BIGINT) * (k - 2))
                       / 2) AS BIGINT)
                   ELSE CAST(floor(200000 / (k - 2)) AS BIGINT)
               END AS BIGINT) AS micro
        FROM t
    )
    SELECT touch_type,
           CAST(count(*) AS BIGINT) AS touches_n,
           CAST(sum(micro) AS BIGINT) AS credit_micro,
           CAST(sum(micro) AS DOUBLE) / 1000000 AS credit
    FROM credited GROUP BY touch_type
    """,
)
def q_attribution_ushaped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each user's
    first conversion distributes one unit of credit over the touches
    preceding it — 40% first, 40% last, 20% across the middles (all
    of it to the single/pair touch when k <= 2). Credit is allocated
    in INTEGER MICRO-UNITS with a money-style remainder policy
    (middles get floor(200000/(k-2)); the first touch gets half the
    remainder rounded down, the last touch the rest), so per-channel
    totals are exact BIGINTs — conservation holds to the micro: every
    converting user with >= 1 touch contributes exactly 1_000_000 —
    and the one division to `credit` is bit-identical cross-engine.
    The multi-touch sibling of q_attribution_last_touch; users whose
    conversion has no prior touch are excluded (last-touch reports
    them as 'unattributed').

    Scale shape: one user-keyed exchange for the window pair
    (row_number + per-user count); credit arithmetic is map-side;
    the final aggregate is channel-sized."""
    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    wk = W.partitionBy("user_id")
    t = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("conv_ts"))
        .select(
            "event_type",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wk).alias("k"),
        )
    )
    k, rn = F.col("k"), F.col("rn")
    mid = F.floor(200000 / (k - 2)).cast("long")
    rem = 200000 - mid * (k - 2)
    micro = (
        F.when(k == 1, F.lit(1000000))
        .when(k == 2, F.lit(500000))
        .when(rn == 1, 400000 + F.floor(rem / 2).cast("long"))
        .when(rn == k, 400000 + rem - F.floor(rem / 2).cast("long"))
        .otherwise(mid)
    ).cast("long")
    return (
        t.select(F.col("event_type").alias("touch_type"), micro.alias("micro"))
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("touches_n"),
            F.sum("micro").cast("long").alias("credit_micro"),
        )
        .select(
            "touch_type",
            "touches_n",
            "credit_micro",
            (F.col("credit_micro").cast("double") / 1000000).alias("credit"),
        )
    )


@query(
    "q_session_paths",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sess AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS session_id
        FROM gaps
    ),
    paths AS (
        SELECT user_id, session_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM sess GROUP BY user_id, session_id
    ),
    counted AS (
        SELECT path, CAST(count(*) AS BIGINT) AS n FROM paths GROUP BY path
    )
    SELECT path, n, rnk FROM (
        SELECT path, n,
               CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rnk
        FROM counted
    ) WHERE rnk <= 15
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 session journey paths: 30-minute-gap sessionization
    (q_sessionize's exact cut), each session's event types joined in
    (ts, event_id) order into a '>' path string, counted corpus-wide —
    the navigation-pattern readout behind funnels. Path assembly is
    deterministic in both engines: Spark sorts the collected
    (ts, event_id, type) structs (array_sort orders by fields, and
    (ts, event_id) is unique per user), DuckDB orders its string_agg;
    ranking is count-desc with a path tiebreaker on exact integers.

    Scale shape: one user-keyed exchange covers sessionization AND
    path assembly (same partitioning); the count/rank relations are
    path-space sized. The top-15 window runs on the path-count
    relation, not row mass."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.lag(F.unix_micros(F.col("ts"))).over(w)
    new_session = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    wsum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sess = ev.withColumn(
        "session_id", F.sum(new_session).over(wsum)
    )
    paths = sess.groupBy("user_id", "session_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    counted = paths.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n"))
    # heap-select the 15 (TakeOrderedAndProject) then rank the bounded
    # survivors — the distinct-path space grows with the event-type
    # vocabulary, so no full-relation single-partition window.
    wr = W.orderBy(F.col("n").desc(), "path")
    return (
        counted.orderBy(F.col("n").desc(), "path")
        .limit(15)
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .select("path", "n", "rnk")
    )


@query(
    "q_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS a
        FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    scored AS (
        SELECT day, a, lag(a, 7) OVER (ORDER BY day) AS f
        FROM daily
    )
    SELECT CAST(count(*) AS BIGINT) AS n_scored,
           round(avg(CAST(abs(a - f) AS DOUBLE) / a), 6) AS mape,
           round(avg(CAST(abs(a - f) AS DOUBLE) / ((a + f) / 2.0)), 6) AS smape,
           round(sqrt(CAST(sum((a - f) * (a - f)) AS DOUBLE) / count(*)), 6)
               AS rmse_cents
    FROM scored WHERE f IS NOT NULL AND a > 0
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's purchase
    revenue as the value 7 rows earlier on the daily grid and score
    MAPE / sMAPE / RMSE over the scorable tail — the
    is-this-series-even-forecastable baseline every fancier model must
    beat (and the evaluation twin of q_seasonality_index). Daily
    revenue is exact integer cents, so each day's APE terms are single
    divisions of exact BIGINTs and the squared errors are exact
    BIGINT sums; the <= n_days averages round 6 dp.

    Scale shape: events reduce to the day grid in one map-combined
    aggregate; everything after runs on <= |days| rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(F.sum(F.floor(F.col("value") * 100).cast("long")).cast("long").alias("a"))
    )
    wd = W.orderBy("day")
    scored = daily.withColumn("f", F.lag("a", 7).over(wd)).filter(
        F.col("f").isNotNull() & (F.col("a") > 0)
    )
    a, f = F.col("a"), F.col("f")
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        F.round(F.avg(F.abs(a - f).cast("double") / a), 6).alias("mape"),
        F.round(F.avg(F.abs(a - f).cast("double") / ((a + f) / 2.0)), 6).alias(
            "smape"
        ),
        F.round(
            F.sqrt(F.sum((a - f) * (a - f)).cast("double") / F.count(F.lit(1))),
            6,
        ).alias("rmse_cents"),
    )


@query(
    "q_markov_entropy",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    c AS (
        SELECT event_type AS from_type, nxt AS to_type,
               CAST(count(*) AS BIGINT) AS n
        FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ),
    t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
    g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM c)
    SELECT max(grand) AS n_transitions,
           round(-sum((CAST(n AS DOUBLE) / grand)
                      * ln(CAST(n AS DOUBLE) / tot)), 6) AS entropy_rate,
           round(exp(-sum((CAST(n AS DOUBLE) / grand)
                          * ln(CAST(n AS DOUBLE) / tot))), 6) AS perplexity
    FROM c JOIN t USING (from_type) CROSS JOIN g
    """,
)
def q_markov_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical event-type Markov chain (state
    weights = observed from-state frequencies) and its perplexity —
    the single-number "how predictable is user behavior" readout over
    q_markov_transitions' matrix. p-ratios are single divisions of
    exact BIGINTs; the (type x type)-term ln sum and its exp round
    6 dp on both sides.

    Scale shape: identical to q_markov_transitions — one user-keyed
    window exchange, then (type x type)-sized relations only."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    # c is referenced THREE times (terms + row totals + grand total);
    # materialize the 25-row aggregate once or each reference re-runs
    # the user-keyed window over full row mass (the r7/r9 lesson)
    c = (
        seq.groupBy(
            F.col("event_type").alias("from_type"), F.col("nxt").alias("to_type")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )
    t = c.groupBy("from_type").agg(F.sum("n").cast("long").alias("tot"))
    g = c.agg(F.sum("n").cast("long").alias("grand"))
    n = F.col("n").cast("double")
    term = (n / F.col("grand")) * F.log(n / F.col("tot"))
    return (
        c.join(F.broadcast(t), "from_type")
        .crossJoin(F.broadcast(g))
        .agg(
            F.max("grand").alias("n_transitions"),
            F.round(-F.sum(term), 6).alias("entropy_rate"),
            F.round(F.exp(-F.sum(term)), 6).alias("perplexity"),
        )
    )


_CCF_DAILY_SQL = """
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'click'
                        THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                        THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                    AS BIGINT) AS y
        FROM events GROUP BY 1
"""


def _ccf_branch_sql(lag: int) -> str:
    if lag >= 0:
        xs, ys = "x", f"lead(y, {lag}) OVER (ORDER BY day)"
    else:
        xs, ys = f"lead(x, {-lag}) OVER (ORDER BY day)", "y"
    return f"""
    SELECT CAST({lag} AS BIGINT) AS lag,
           CAST(count(*) AS BIGINT) AS n_days,
           round(CASE WHEN count(*) > 1
                      AND count(*) * sum(xs * xs) - sum(xs) * sum(xs) > 0
                      AND count(*) * sum(ys * ys) - sum(ys) * sum(ys) > 0 THEN
               CAST(count(*) * sum(xs * ys) - sum(xs) * sum(ys) AS DOUBLE)
               / (sqrt(CAST(count(*) * sum(xs * xs) - sum(xs) * sum(xs)
                            AS DOUBLE))
                  * sqrt(CAST(count(*) * sum(ys * ys) - sum(ys) * sum(ys)
                              AS DOUBLE)))
           END, 6) AS ccf
    FROM (SELECT {xs} AS xs, {ys} AS ys FROM daily) p
    WHERE xs IS NOT NULL AND ys IS NOT NULL
    """


@query(
    "q_cross_correlation",
    oracle="WITH daily AS ("
    + _CCF_DAILY_SQL
    + ")\n"
    + "\nUNION ALL\n".join(_ccf_branch_sql(lag) for lag in range(-3, 4)),
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily click spend and daily
    purchase revenue at lags -3..+3 — the does-traffic-lead-revenue
    diagnostic (a positive peak at lag +l says clicks precede
    purchases by l days). Each lag's Pearson r comes from BIGINT
    cents power sums over the lead-shifted day grid (exact until the
    final sqrt, 6 dp); the 30-row daily relation is materialized ONCE
    and the 7 lag branches run on it (the multi-reference lesson —
    without the checkpoint each branch re-aggregates full row mass).

    Scale shape: events reduce to the day grid in one map-combined
    aggregate; everything after is 7 aggregates over <= |days| rows.
    Documented bound: n_days * max(x*y) < 2^63."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100).cast("long")
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", cents).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    # calendar-bounded: daily has one row per DAY
    wd = W.orderBy("day")
    parts = []
    for lag in range(-3, 4):
        if lag >= 0:
            pairs = daily.select(
                F.col("x").alias("xs"), F.lead("y", lag).over(wd).alias("ys")
            )
        else:
            pairs = daily.select(
                F.lead("x", -lag).over(wd).alias("xs"), F.col("y").alias("ys")
            )
        pairs = pairs.filter(F.col("xs").isNotNull() & F.col("ys").isNotNull())
        xs, ys = F.col("xs"), F.col("ys")
        n = F.count(F.lit(1))
        agg = pairs.agg(
            F.lit(lag).cast("long").alias("lag"),
            n.cast("long").alias("n_days"),
            F.round(
                F.when(
                    (n > 1)
                    & (n * F.sum(xs * xs) - F.sum(xs) * F.sum(xs) > 0)
                    & (n * F.sum(ys * ys) - F.sum(ys) * F.sum(ys) > 0),
                    (n * F.sum(xs * ys) - F.sum(xs) * F.sum(ys)).cast("double")
                    / (
                        F.sqrt(
                            (n * F.sum(xs * xs) - F.sum(xs) * F.sum(xs)).cast(
                                "double"
                            )
                        )
                        * F.sqrt(
                            (n * F.sum(ys * ys) - F.sum(ys) * F.sum(ys)).cast(
                                "double"
                            )
                        )
                    ),
                ),
                6,
            ).alias("ccf"),
        )
        parts.append(agg)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


@query(
    "q_interevent_exponential",
    oracle=interevent_oracle_sql(),
)
def q_interevent_exponential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential fit + memorylessness diagnostics of per-user
    inter-event gaps: MLE rate, coefficient of variation (1 under a
    Poisson process; the corpus-level twin of q_fano_burstiness), and
    median/mean (ln 2 under exponentiality). Second-grain exact-BIGINT
    gaps from one (user, ts, id)-ordered lag, histogram lower-median,
    single-division readouts (operators/stats.interevent_exponential)."""
    from celeborn_spark.operators.stats import interevent_exponential

    ev = load_table(spark, sf_dir, "events")
    return interevent_exponential(ev, "user_id", "ts", "event_id")


@query(
    "q_attribution_timedecay",
    oracle="""
    WITH fp AS (
        SELECT user_id, min(ts) AS conv_ts
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    t AS (
        SELECT e.user_id, e.event_type,
               row_number() OVER (PARTITION BY e.user_id
                                  ORDER BY e.ts, e.event_id) AS rn,
               (epoch_us(fp.conv_ts) - epoch_us(e.ts)) // 1000000 AS d_s
        FROM events e JOIN fp ON fp.user_id = e.user_id
        WHERE e.event_type IN ('click', 'view') AND e.ts < fp.conv_ts
    ),
    w AS (
        SELECT user_id, event_type, rn,
               CAST(floor(round(exp(-(CAST(d_s AS DOUBLE)) / 604800.0), 6)
                          * 1000000 + 0.5) AS BIGINT) AS wm
        FROM t
    ),
    sums AS (SELECT user_id, CAST(sum(wm) AS BIGINT) AS w_tot
             FROM w GROUP BY 1),
    based AS (
        SELECT w.user_id, w.event_type, w.rn,
               (1000000 * w.wm) // s.w_tot AS base,
               (1000000 * w.wm) % s.w_tot AS frac
        FROM w JOIN sums s ON s.user_id = w.user_id
    ),
    remd AS (
        SELECT user_id, CAST(1000000 - sum(base) AS BIGINT) AS rem
        FROM based GROUP BY 1
    ),
    extra AS (
        SELECT b.user_id, b.event_type,
               b.base + CASE WHEN row_number() OVER (
                   PARTITION BY b.user_id
                   ORDER BY b.frac DESC, b.rn) <= r.rem
                   THEN 1 ELSE 0 END AS micro
        FROM based b JOIN remd r ON r.user_id = b.user_id
    )
    SELECT event_type AS touch_type,
           CAST(count(*) AS BIGINT) AS touches_n,
           CAST(sum(micro) AS BIGINT) AS credit_micro,
           CAST(sum(micro) AS DOUBLE) / 1000000 AS credit
    FROM extra GROUP BY 1
    """,
)
def q_attribution_timedecay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (1-week e-fold): each
    pre-conversion touch earns credit proportional to e^(-age/7d),
    integer-normalized to exactly 1,000,000 micro per converting user
    by largest-remainder allocation — completes the attribution trio
    (q_attribution_last_touch, q_attribution_ushaped). The decay
    weight rounds exp to 6dp before the half-up micro quantization
    (the ln/exp discipline), so the proportional split and the
    remainder ordering ((frac DESC, rn)) are exact-BIGINT
    deterministic; per-channel totals conserve to the micro.

    Scale shape: one user-keyed window pass + per-user k-row
    allocation windows; channel totals map-combine."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("conv_ts"))
    )
    t = (
        ev.filter(F.col("event_type").isin("click", "view"))
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("conv_ts"))
        .select(
            "user_id",
            "event_type",
            F.row_number()
            .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("rn"),
            F.expr(
                "(unix_micros(conv_ts) - unix_micros(ts)) div 1000000"
            ).alias("d_s"),
        )
    )
    w = t.withColumn(
        "wm",
        F.expr(
            "CAST(floor(round(exp(-(CAST(d_s AS DOUBLE)) / 604800.0), 6)"
            " * 1000000 + 0.5) AS BIGINT)"
        ),
    )
    wu = W.partitionBy("user_id")
    based = (
        w.withColumn("w_tot", F.sum("wm").over(wu))
        .withColumn("base", F.expr("(1000000 * wm) div w_tot"))
        .withColumn("frac", F.expr("(1000000 * wm) % w_tot"))
    )
    remd = based.withColumn("rem", F.lit(1000000) - F.sum("base").over(wu))
    extra = remd.withColumn(
        "micro",
        F.col("base")
        + (
            F.row_number().over(
                W.partitionBy("user_id").orderBy(
                    F.col("frac").desc(), F.col("rn")
                )
            )
            <= F.col("rem")
        ).cast("long"),
    )
    return extra.groupBy(F.col("event_type").alias("touch_type")).agg(
        F.count(F.lit(1)).cast("long").alias("touches_n"),
        F.sum("micro").cast("long").alias("credit_micro"),
        (F.sum("micro").cast("double") / 1000000).alias("credit"),
    )


@query(
    "q_daily_percentile_ladder",
    # lower-percentile rule on exact integer ranks: the k-th order
    # statistic with k = ceil(q * n) = (q_num * n + q_den - 1) // q_den
    # read off the per-day cents-histogram cumulative counts
    oracle="""
    WITH vals AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(floor(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    hist AS (
        SELECT day, cents, CAST(count(*) AS BIGINT) AS c
        FROM vals GROUP BY 1, 2
    ),
    cum AS (
        SELECT day, cents,
               sum(c) OVER (PARTITION BY day ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(c) OVER (PARTITION BY day) AS n
        FROM hist
    )
    SELECT CAST(day AS VARCHAR) AS day,
           CAST(max(n) AS BIGINT) AS n,
           CAST(min(CASE WHEN cw >= (50 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p50_cents,
           CAST(min(CASE WHEN cw >= (95 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p95_cents,
           CAST(min(CASE WHEN cw >= (99 * n + 99) // 100 THEN cents END)
                AS BIGINT) AS p99_cents
    FROM cum GROUP BY day
    """,
)
def q_daily_percentile_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily p50/p95/p99 of event values — the tail-latency/SLO time
    series behind every ops dashboard (q_percentiles reports one
    global ladder; this walks the calendar, where regressions live).
    Exact k-th order statistics (k = ceil(q*n) in pure integer
    arithmetic) read off per-day cents histograms — no interpolation,
    no row sort, engine-exact."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    hist = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    ).groupBy("day", "cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W.partitionBy("day").orderBy("cents").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = hist.select(
        "day",
        "cents",
        F.sum("c").over(wc).alias("cw"),
        F.sum("c").over(W.partitionBy("day")).alias("n"),
    )
    return cum.groupBy(F.col("day").cast("string").alias("day")).agg(
        F.max("n").cast("long").alias("n"),
        F.min(
            F.when(F.col("cw") >= F.expr("(50 * n + 99) div 100"), F.col("cents"))
        )
        .cast("long")
        .alias("p50_cents"),
        F.min(
            F.when(F.col("cw") >= F.expr("(95 * n + 99) div 100"), F.col("cents"))
        )
        .cast("long")
        .alias("p95_cents"),
        F.min(
            F.when(F.col("cw") >= F.expr("(99 * n + 99) div 100"), F.col("cents"))
        )
        .cast("long")
        .alias("p99_cents"),
    )


@query(
    "q_interval_join",
    # The range-join pattern that scales: NEVER a theta-join on
    # ts BETWEEN lo AND hi (which Spark would execute as a broadcast
    # nested loop). Events pre-aggregate to a CALENDAR-bounded per-day
    # histogram; each order explodes into its 7 day keys; the join is
    # a plain equi-join on day. Counts are exact integers.
    oracle="""
    WITH day_counts AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    order_days AS (
        SELECT o_orderkey,
               unnest(generate_series(CAST(o_orderdate AS DATE),
                                      CAST(o_orderdate AS DATE)
                                          + INTERVAL 6 DAY,
                                      INTERVAL 1 DAY))::DATE AS day
        FROM orders
    )
    SELECT od.o_orderkey,
           CAST(coalesce(sum(dc.n), 0) AS BIGINT) AS n_events_7d
    FROM order_days od
    LEFT JOIN day_counts dc ON dc.day = od.day
    GROUP BY 1
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval join: for every order, the count of platform
    events inside [o_orderdate, o_orderdate + 7d) — the range-join
    shape behind campaign attribution, promo-window analysis, and
    before/after incident splits. Implemented as day-bucket
    decomposition (7-lane bounded fan-out on the probe side, the
    build side is a calendar-bounded day histogram), so it is one
    shuffle on day — not an O(orders x events) theta join."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    day_counts = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    d0 = F.col("o_orderdate").cast("date")
    order_days = o.select(
        "o_orderkey",
        F.explode(F.sequence(d0, F.date_add(d0, 6))).alias("day"),
    )
    return (
        order_days.join(F.broadcast(day_counts), "day", "left")
        .groupBy("o_orderkey")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_events_7d"))
    )


@query(
    "q_shapley_attribution",
    # Exactness: users reduce to a 16-row touched-bitmask histogram
    # (4 channels), v(S) sums conversion counts over submasks, and the
    # Shapley weights |S|!(3-|S|)! are scaled by 4!=24 so every
    # marginal contribution is an exact int64; shapley = shap24/24.0
    # is ONE exact IEEE division. The (S, m) enumeration is a 16x16
    # literal grid — bounded, independent of row mass.
    oracle="""
    WITH touched AS (
        SELECT user_id,
               CAST(sum(DISTINCT CASE event_type
                        WHEN 'view' THEN 1 WHEN 'click' THEN 2
                        WHEN 'signup' THEN 4 WHEN 'error' THEN 8
                        ELSE 0 END) AS BIGINT) AS m,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    mh AS (
        SELECT m, CAST(sum(conv) AS BIGINT) AS conv_n
        FROM touched GROUP BY 1
    ),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
        SELECT s.s, CAST(coalesce(sum(mh.conv_n), 0) AS BIGINT) AS val
        FROM subsets s LEFT JOIN mh ON (mh.m & s.s) = mh.m
        GROUP BY 1
    ),
    channels AS (
        SELECT * FROM (VALUES ('view', 1), ('click', 2),
                              ('signup', 4), ('error', 8))
            AS t(channel, bit)
    ),
    marginals AS (
        SELECT c.channel,
               CAST(sum(
                   CASE ((SELECT count(*) FROM channels c2
                          WHERE (vs.s & c2.bit) > 0))
                       WHEN 0 THEN 6 WHEN 1 THEN 2
                       WHEN 2 THEN 2 WHEN 3 THEN 6 END
                   * (vi.val - vs.val)) AS BIGINT) AS shap24
        FROM channels c
        JOIN v vs ON (vs.s & c.bit) = 0
        JOIN v vi ON vi.s = vs.s + c.bit
        GROUP BY 1
    )
    SELECT channel, shap24,
           CAST(shap24 AS DOUBLE) / 24.0 AS shapley_conversions
    FROM marginals
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value marketing attribution over the 4 touch channels
    (view/click/signup/error), coalition value v(S) = conversions
    whose full touched-set is covered by S — the game-theoretic
    closer of the attribution desk (last-touch, U-shaped, time-decay
    award positionally; Shapley awards each channel its average
    marginal contribution over all orderings, the only scheme that is
    efficient + symmetric). Row mass reduces to a 16-row bitmask
    histogram before ANY combinatorics; the subset enumeration is a
    16x16 literal grid."""
    ev = load_table(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "signup", 4)
        .when(F.col("event_type") == "error", 8)
        .otherwise(0)
    )
    touched = ev.groupBy("user_id").agg(
        F.sum_distinct(bit).cast("long").alias("m"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    mh = touched.groupBy("m").agg(F.sum("conv").cast("long").alias("conv_n"))
    subsets = spark.range(0, 16).select(F.col("id").alias("s"))
    v = (
        subsets.join(
            F.broadcast(mh), (F.col("m").bitwiseAND(F.col("s"))) == F.col("m"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("conv_n"), F.lit(0)).cast("long").alias("val"))
        .transform(hold)  # 16-row value table, referenced twice below
    )
    from celeborn_spark.operators import values_table

    channels = values_table(
        spark,
        [("view", 1), ("click", 2), ("signup", 4), ("error", 8)],
        "channel string, bit long",
    )
    # weight by |S| (popcount of s restricted to the other 3 channels)
    popcnt = sum(
        F.shiftright(F.col("s"), i).bitwiseAND(F.lit(1)) for i in range(4)
    )
    w = (
        F.when(popcnt == 0, 6)
        .when(popcnt == 1, 2)
        .when(popcnt == 2, 2)
        .otherwise(6)
    )
    vs = v.select(F.col("s"), F.col("val").alias("v_s"))
    vi = v.select(F.col("s").alias("si"), F.col("val").alias("v_si"))
    marg = (
        channels.join(
            F.broadcast(vs), (F.col("s").bitwiseAND(F.col("bit"))) == 0
        )
        .join(F.broadcast(vi), F.col("si") == F.col("s") + F.col("bit"))
        .groupBy("channel")
        .agg(F.sum(w * (F.col("v_si") - F.col("v_s"))).cast("long").alias("shap24"))
    )
    return marg.select(
        "channel",
        "shap24",
        (F.col("shap24").cast("double") / F.lit(24.0)).alias(
            "shapley_conversions"
        ),
    )
