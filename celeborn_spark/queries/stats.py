"""Statistics + model-fitting queries (operators/stats.py, apply_cdc):
correlation screen, A/B significance test, in-engine logistic quality
classifier, and CDC log application.

Reference analogue: Celeborn's data plane serves aggregate-heavy
workloads (SparkTestBase.scala:111-135 combineByKey differentials);
these queries are single-exchange aggregates + the bounded-iteration
discipline of operators/kmeans.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import curriculum as C
from celeborn_spark.operators import hold
from celeborn_spark.operators import stats as stats_ops
from celeborn_spark.operators.stats import (
    corr_matrix,
    corr_matrix_oracle_sql,
    logreg_fit,
    logreg_oracle_sql,
    welch_t,
    welch_t_oracle_sql,
)
from celeborn_spark.registry import query

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]

# O(1)-bounded features for the quality classifier: bias, capped
# kilo-chars, and space density. Expressions are written identically
# in Spark and DuckDB (length/replace agree on these ASCII corpora).
_LOGREG_FEATURES = [
    ("bias", "1.0"),
    ("nchars_k", "least(n_chars, 2000) / 1000.0"),
    ("space_ratio", "(length(text) - length(replace(text, ' ', ''))) * 1.0 / n_chars"),
]
_LOGREG_ITERS = 3
_LOGREG_LR = 0.5


@query(
    "q_correlation_matrix",
    oracle=corr_matrix_oracle_sql("lineitem", _CORR_COLS),
)
def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over lineitem's numeric measures —
    the feature-redundancy screen before model-based curation. ONE
    full-scan aggregate produces every sum/square/cross-product; the
    6 pair rows are assembled from that single scalar row."""
    return corr_matrix(load_table(spark, sf_dir, "lineitem"), _CORR_COLS)


@query(
    "q_ab_test_welch",
    oracle=welch_t_oracle_sql("events", "event_type", "value", "view"),
)
def q_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t-statistic of every event type's value distribution
    against the 'view' baseline (+ Welch–Satterthwaite dof) — the
    experiment-readout primitive. One group-keyed aggregate; the
    baseline's 1-row scalars broadcast."""
    return welch_t(
        load_table(spark, sf_dir, "events"), "event_type", "value", "view"
    )


@query(
    "q_logreg_quality",
    oracle=logreg_oracle_sql(
        "documents",
        _LOGREG_FEATURES,
        "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END",
        iters=_LOGREG_ITERS,
        lr=_LOGREG_LR,
    ),
)
def q_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression quality classifier trained in-engine by
    full-batch gradient descent (3 rounds, zero init) on document
    features, label = is-English — the fastText-style linear scorer of
    an LLM curation pipeline. Per round: one gradient aggregate +
    a broadcast 1-row weight relation; weights rounded 6 dp per round
    pin engine parity (operators/stats.logreg_fit)."""
    docs = load_table(spark, sf_dir, "documents").select(
        F.lit(1.0).alias("bias"),
        (F.least(F.col("n_chars"), F.lit(2000)) / 1000.0).alias("nchars_k"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))))
            * 1.0
            / F.col("n_chars")
        ).alias("space_ratio"),
        F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("label"),
    )
    return logreg_fit(
        docs,
        [n for n, _ in _LOGREG_FEATURES],
        "label",
        iters=_LOGREG_ITERS,
        lr=_LOGREG_LR,
    )


@query(
    "q_cdc_apply",
    oracle="""
    WITH last AS (
        SELECT user_id AS uid,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    c AS (SELECT uid, op, value FROM last WHERE rn = 1)
    SELECT COALESCE(b.c_custkey, c.uid) AS uid,
           CASE WHEN c.op IS NOT NULL THEN c.value ELSE b.c_acctbal END AS value
    FROM customer b FULL OUTER JOIN c ON b.c_custkey = c.uid
    WHERE c.op IS NULL OR c.op <> 'D'
    """,
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay a CDC log onto a base snapshot (last-writer-wins with a
    unique (ts, event_id) tiebreak; 'error' events are deletes): the
    state a lake table reaches after applying a Debezium-style change
    feed. One window exchange reduces the log to its winning row per
    key, then a key-only full-outer join against base — payload beyond
    the winner never shuffles (operators/merge.apply_cdc)."""
    from celeborn_spark.operators.merge import apply_cdc

    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("uid"), F.col("c_acctbal").alias("value")
    )
    changes = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("uid"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "ts",
        "event_id",
        "value",
    )
    return apply_cdc(
        base, changes, key_col="uid", op_col="op", ord_cols=("ts", "event_id")
    )


_EXPECTATION_RULES = [
    ("qty_in_domain", "l_quantity BETWEEN 1 AND 50"),
    ("price_positive", "l_extendedprice > 0"),
    ("qty_under_30", "l_quantity <= 30"),
    ("shipped_before_1997", "l_shipdate < timestamp '1997-01-01'"),
    ("returnflag_not_null", "l_returnflag IS NOT NULL"),
]


@query(
    "q_data_expectations",
    oracle="""
    WITH counts AS (
        SELECT
          CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 0 ELSE 1 END) AS BIGINT) AS qty_in_domain,
          CAST(sum(CASE WHEN l_extendedprice > 0 THEN 0 ELSE 1 END) AS BIGINT) AS price_positive,
          CAST(sum(CASE WHEN l_quantity <= 30 THEN 0 ELSE 1 END) AS BIGINT) AS qty_under_30,
          CAST(sum(CASE WHEN l_shipdate < TIMESTAMP '1997-01-01' THEN 0 ELSE 1 END) AS BIGINT) AS shipped_before_1997,
          CAST(sum(CASE WHEN l_returnflag IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) AS returnflag_not_null
        FROM lineitem
    )
    SELECT 'qty_in_domain' AS rule, qty_in_domain AS n_violations, qty_in_domain = 0 AS pass FROM counts
    UNION ALL SELECT 'price_positive', price_positive, price_positive = 0 FROM counts
    UNION ALL SELECT 'qty_under_30', qty_under_30, qty_under_30 = 0 FROM counts
    UNION ALL SELECT 'shipped_before_1997', shipped_before_1997, shipped_before_1997 = 0 FROM counts
    UNION ALL SELECT 'returnflag_not_null', returnflag_not_null, returnflag_not_null = 0 FROM counts
    """,
)
def q_data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem: five named
    row-level expectations counted in ONE scan (codegen'd conditional
    sums, map-side partials) — the Deequ/Great-Expectations shape, and
    the engine-level analogue of the reference's e2e integrity check
    (A21). Mixed pass/fail rules keep the readout honest
    (operators/quality.check_expectations)."""
    from celeborn_spark.operators.quality import check_expectations

    return check_expectations(
        load_table(spark, sf_dir, "lineitem"), _EXPECTATION_RULES
    )


@query(
    "q_referential_audit",
    oracle="""
    SELECT e.event_type, CAST(count(*) AS BIGINT) AS n_bad
    FROM events e
    WHERE e.user_id NOT IN (
        SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    )
    GROUP BY e.event_type
    """,
)
def q_referential_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential/allowlist audit: events whose user is absent from
    the registered-user dimension (BUILDING segment), counted per type.
    One anti-join on the key — broadcast because the dimension side is
    dimension-sized (operators/quality.referential_violations)."""
    from celeborn_spark.operators.quality import referential_violations

    events = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    bad = referential_violations(events, "user_id", dim, "c_custkey")
    return bad.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_bad"))


@query(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type AS grp, quantile_cont(value, 0.5) AS median
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type AS grp, e.value AS x, m.median,
               abs(e.value - m.median) AS absdev
        FROM events e JOIN med m ON e.event_type = m.grp
    ),
    mad AS (
        SELECT grp, median, quantile_cont(absdev, 0.5) AS mad
        FROM dev GROUP BY 1, 2
    )
    SELECT d.grp,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN abs(d.x - m.median) > 6.0 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(m.median, 6) AS median,
           round(m.mad, 6) AS mad
    FROM (SELECT grp, x FROM dev) d
    JOIN mad m ON d.grp = m.grp
    GROUP BY d.grp, m.median, m.mad
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-event-type outlier screen: |x - median| > 6 * MAD.
    Median absolute deviation resists the corrupt batch that drags a
    mean/stddev gate toward itself; exact interpolated medians are
    engine-identical. Two group-keyed aggregates + broadcast joins
    (operators/quality.mad_outliers)."""
    from celeborn_spark.operators.quality import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"), "event_type", "value", k=6.0)


@query(
    "q_cusum_changepoint",
    oracle=stats_ops.cusum_oracle_sql(
        "events", "user_id", ("ts", "event_id"), "value"
    ),
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user CUSUM level-shift locator: the event where cumulative
    deviation from the user's mean peaks. Division-free all-integer
    arithmetic over floored cents (cusum of n*x - S = n * classic
    CUSUM, same argmax), so the windowed oracle matches bit-for-bit;
    one user-keyed window exchange (operators/stats.cusum_changepoint)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.cusum_changepoint(ev, "user_id", ("ts", "event_id"), "value")


@query(
    "q_key_skew_profile",
    oracle=stats_ops.key_skew_oracle_sql("lineitem", "l_partkey"),
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-health audit of the l_partkey distribution: exact Gini
    + heaviest-key share in ONE row. The rank sum over count-sorted
    keys collapses to closed-form block sums over the count-of-counts
    histogram — a window over distinct count VALUES, never a key-sized
    sort — so the exact statistic stays computable at 100 TB
    (operators/stats.key_skew_profile; the A16 decision input)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.key_skew_profile(li, "l_partkey")


@query(
    "q_grouped_ols_trend",
    oracle=stats_ops.grouped_ols_oracle_sql(
        "lineitem", "l_suppkey", "l_shipdate", "l_extendedprice"
    ),
)
def q_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier price trend: OLS slope of extended price (integer
    cents) over ship date (integer days). All four OLS sums are
    BIGINT-exact, slope is ONE division — bit-identical with no
    rounding anywhere; one map-combined aggregate
    (operators/stats.grouped_ols_trend)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.grouped_ols_trend(
        li, "l_suppkey", "l_shipdate", "l_extendedprice"
    )


@query(
    "q_benford_audit",
    oracle=stats_ops.benford_oracle_sql("lineitem", "l_extendedprice"),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of extended prices — the
    fabricated-feed screen. Digits from the INTEGER cents string (no
    engine float formatting), expected shares as shared 6dp constants,
    single-division observed shares; one 9-group aggregate
    (operators/stats.benford_audit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.benford_audit(li, "l_extendedprice")


@query(
    "q_autocorrelation",
    oracle=stats_ops.lag1_autocorr_oracle_sql(
        "events", "user_id", ("ts", "event_id"), "value"
    ),
)
def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values: the n^2 factors
    of the deviation products cancel, so the classic anchored ACF is
    sums of exact BIGINT lag products with ONE final division —
    bit-identical, no rounding. One user-keyed window exchange
    (operators/stats.lag1_autocorr); the drift companion to
    q_cusum_changepoint."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.lag1_autocorr(ev, "user_id", ("ts", "event_id"), "value")


@query(
    "q_chi_square",
    oracle=stats_ops.chi_square_oracle_sql("documents", "lang", "source"),
)
def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test over the lang x source contingency
    table — did the crawl's language mix shift by source? One
    map-combined count aggregate; marginals and the chi2 sum run over
    the cell relation (langs x sources sized), never the corpus
    (operators/stats.chi_square_independence). Output (chi2, dof, n)."""
    d = load_table(spark, sf_dir, "documents")
    return stats_ops.chi_square_independence(d, "lang", "source")


@query(
    "q_wilson_ci",
    oracle=stats_ops.wilson_oracle_sql(
        """(SELECT c.c_nationkey,
                   EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey) AS active
            FROM customer c)""",
        "c_nationkey",
        "c_nationkey",
        "active",
    ),
)
def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation customer activation rate with the Wilson 95% score
    interval — the small-n-honest conversion readout (normal-approx
    intervals lie at extreme p or small n). Activation = has >= 1
    order, via a left-semi-join flag; one group-keyed aggregate
    (operators/stats.wilson_interval)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    ).distinct()
    flagged = c.join(
        o.withColumn("active", F.lit(True)), "c_custkey", "left"
    ).select(
        "c_nationkey", F.coalesce("active", F.lit(False)).alias("active")
    )
    return stats_ops.wilson_interval(flagged, "c_nationkey", "active")


@query(
    "q_survival_curve",
    oracle=stats_ops.km_survival_oracle_sql(
        """SELECT date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS t
           FROM events GROUP BY user_id"""
    ),
)
def q_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-lifetime survival curve (Kaplan-Meier without censoring):
    fraction of users still active t days after first touch, per
    distinct lifetime day. Lifetime = whole days between a user's first
    and last event. S(t) = exp(prefix-sum of ln((n-d)/n)) over DISTINCT
    durations (calendar-bounded window, the q_user_growth discipline),
    exact-integer ratios through ln, 6dp
    (operators/stats.km_survival)."""
    ev = load_table(spark, sf_dir, "events")
    durs = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts")).cast("date"), F.min(F.col("ts")).cast("date")
        ).alias("t")
    )
    return stats_ops.km_survival(durs, "t")


@query(
    "q_mann_whitney",
    oracle=stats_ops.mann_whitney_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity", "'R'", "'A'"
    ),
)
def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test: do RETURNED lineitems'
    quantities stochastically dominate ACCEPTED ones? The
    nonparametric sibling of q_ab_test_welch — ranks come from the
    l_quantity VALUE HISTOGRAM (50 distinct values), never a row
    sort; U and the rank sums are exact integers/halves, z rounds
    6dp through sqrt (operators/stats.mann_whitney_u)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.mann_whitney_u(li, "l_returnflag", "l_quantity", "R", "A")


@query(
    "q_quantile_transform",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, l_quantity AS v,
               CAST(count(*) AS BIGINT) AS cnt
        FROM lineitem GROUP BY 1, 2
    ),
    ranked AS (
        SELECT g, v, cnt,
               coalesce(sum(cnt) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before,
               sum(cnt) OVER (PARTITION BY g) AS n
        FROM hist
    ),
    bins AS (
        SELECT g, v,
               CAST(2 * cum_before + cnt + 1 AS DOUBLE) / (2 * n) AS qfrac
        FROM ranked
    )
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_quantity,
           b.qfrac
    FROM lineitem l
    JOIN bins b ON b.g = l.l_returnflag AND b.v = l.l_quantity
    """,
)
def q_quantile_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped quantile (rank-based) normalization: map every
    l_quantity to its average-rank FRACTION within its return-flag
    group — the distribution-free feature transform (quantile
    normalization) next to q_feature_scaling (min-max) and
    q_grouped_zscore (parametric). qfrac = (2*cum_before + t + 1) /
    (2n): exact integers through ONE division, bit-identical
    cross-engine. The ranks come from the per-group VALUE HISTOGRAM
    (50 distinct values; the quantile_bins discipline) and join back
    to the row mass broadcast — the corpus is never sorted."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("g"), F.col("l_quantity").alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    wn = W.partitionBy("g")
    bins = (
        hist.withColumn(
            "cum_before", F.coalesce(F.sum("cnt").over(w), F.lit(0))
        )
        .withColumn("n", F.sum("cnt").over(wn))
        .select(
            "g",
            "v",
            (
                (2 * F.col("cum_before") + F.col("cnt") + 1).cast("double")
                / (2 * F.col("n"))
            ).alias("qfrac"),
        )
    )
    return li.join(
        F.broadcast(bins),
        (F.col("g") == F.col("l_returnflag")) & (F.col("v") == F.col("l_quantity")),
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity", "qfrac")


@query(
    "q_srm_check",
    oracle="""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    arms AS (
        SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR) || ':srm'), 1, 1)
                         IN ('0','1','2','3','4','5','6','7')
                    THEN 0 ELSE 1 END AS arm
        FROM users
    ),
    obs AS (
        SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM arms
    )
    SELECT n_a, n_b,
           (n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)
           + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0) AS chi2,
           ((n_a - (n_a + n_b) / 2.0) * (n_a - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)
           + (n_b - (n_a + n_b) / 2.0) * (n_b - (n_a + n_b) / 2.0)
               / ((n_a + n_b) / 2.0)) > 3.841 AS srm_flag
    FROM obs
    """,
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: split users into two arms by a
    reproducible md5 bit (the repo's hash-lane idiom — DuckDB
    reproduces md5 bit-for-bit) and chi-square goodness-of-fit the
    observed arm counts against the designed 50/50 — THE first check
    before reading any A/B metric (a biased assignment invalidates
    q_ab_test_welch downstream). One distinct + one scalar aggregate;
    expected counts are exact halves, so the two GOF terms are
    identical IEEE expressions cross-engine; flag at the 5%
    critical value (dof 1)."""
    ev = load_table(spark, sf_dir, "events")
    arms = (
        ev.select("user_id")
        .distinct()
        .select(
            F.when(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":srm"))),
                    1,
                    1,
                ).isin(list("01234567")),
                0,
            )
            .otherwise(1)
            .alias("arm")
        )
    )
    obs = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    e = (na + nb) / F.lit(2.0)
    chi2 = (na - e) * (na - e) / e + (nb - e) * (nb - e) / e
    return obs.select("n_a", "n_b", chi2.alias("chi2"), (chi2 > 3.841).alias("srm_flag"))


@query(
    "q_anova",
    oracle=stats_ops.anova_oracle_sql("lineitem", "l_returnflag", "l_quantity"),
)
def q_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does return status (A/N/R) move order quantity at
    all? The k-sample generalization of q_ab_test_welch — one
    map-combined (n, sum, sum-sq) aggregate per group, then all
    statistics assemble on the 3-row relation
    (operators/stats.anova_oneway). Output (f_stat, eta_sq, dof1,
    dof2, n)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.anova_oneway(li, "l_returnflag", "l_quantity")


@query(
    "q_ks_test",
    oracle=stats_ops.ks_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity", "'R'", "'A'"
    ),
)
def q_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between RETURNED and ACCEPTED
    quantity distributions — the shape-difference screen next to
    q_mann_whitney (shift) and q_ab_test_welch (means). CDFs come from
    the 50-value quantity HISTOGRAM, never a row sort; D's numerator
    is an exact BIGINT and ks_d is one IEEE division, emitted raw
    (operators/stats.ks_two_sample)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.ks_two_sample(li, "l_returnflag", "l_quantity", "R", "A")


@query(
    "q_cramers_v",
    oracle=stats_ops.cramers_v_oracle_sql("documents", "lang", "source"),
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for the lang x source association — the
    0..1 companion to q_chi_square (chi2 grows with n, V compares
    association STRENGTH across slices). Same one-exchange cell
    aggregate; the sqrt makes V irrational so the 6dp round is
    tie-safe (operators/stats.cramers_v). Output (v, dof, n)."""
    d = load_table(spark, sf_dir, "documents")
    return stats_ops.cramers_v(d, "lang", "source")


@query(
    "q_theil_sen",
    oracle=stats_ops.theil_sen_oracle_sql(
        """SELECT event_type AS g,
                  date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
                  CAST(count(*) AS BIGINT) AS y
           FROM events GROUP BY 1, 2""",
        group_alias="event_type",
    ),
)
def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type Theil-Sen robust trend of daily event volume —
    the outlier-immune sibling of q_ols_trend (median of pairwise
    slopes tolerates ~29% corruption; one wild day moves OLS
    arbitrarily). Input is the per-(type, day) COUNT relation: every
    slope is one IEEE division of exact integers and the median is
    bit-identical cross-engine, emitted raw. The pairwise self-join is
    bounded by distinct DAYS per type, never row mass
    (operators/stats.theil_sen)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"),
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).alias("x"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    return stats_ops.theil_sen(daily, "event_type", "x", "y")


@query(
    "q_g_test",
    oracle=stats_ops.g_test_oracle_sql("documents", "lang", "source"),
)
def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of lang x source independence —
    the ln-based sibling of q_chi_square, better calibrated on sparse
    cells and additive across table partitions. Exact-integer ratios
    through ln per observed cell (zero cells contribute exactly 0);
    one count exchange, cell-relation sized downstream
    (operators/stats.g_test)."""
    d = load_table(spark, sf_dir, "documents")
    return stats_ops.g_test(d, "lang", "source")


@query(
    "q_cohens_d",
    oracle=stats_ops.cohens_d_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity", "'R'", "'A'"
    ),
)
def q_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d effect size between RETURNED and ACCEPTED quantities —
    the how-big companion to q_ab_test_welch/q_mann_whitney's
    is-it-real. Integer-valued metric -> exact BIGINT (n, sum, sum-sq)
    accumulators, identical IEEE assembly, raw output
    (operators/stats.cohens_d_int)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.cohens_d_int(li, "l_returnflag", "l_quantity", "R", "A")


@query(
    "q_jarque_bera",
    oracle=stats_ops.jarque_bera_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity", group_alias="l_returnflag"
    ),
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality screen per return flag over order
    quantities — the distribution-shape gate before the parametric
    tests (Welch/ANOVA assume near-normal groups). Raw power sums
    s1..s4 as exact BIGINTs (Spark's built-in skewness/kurtosis can
    never hash-match DuckDB's — population vs bias-corrected), moments
    assembled with identical expression text, 6dp
    (operators/stats.jarque_bera_int)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.jarque_bera_int(li, "l_returnflag", "l_quantity")


@query(
    "q_spearman",
    oracle=stats_ops.spearman_oracle_sql(
        "lineitem",
        "l_returnflag",
        "l_quantity",
        "round(l_discount * 100, 0)",
        group_alias="l_returnflag",
    ),
)
def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount tier
    per return flag — the monotone-association screen next to
    q_corr_matrix (Pearson misses nonlinear-but-ordered structure).
    Doubled average ranks from per-group VALUE HISTOGRAMS (exact
    BIGINTs, ties included), joint-histogram sums, one IEEE assembly —
    raw, never a row sort (operators/stats.spearman_rho_int). The
    discount tier round(d*100) is ulp-safe: the product lands within
    ulps of an integer, never at a .5 tie."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.spearman_rho_int(
        li, "l_returnflag", F.col("l_quantity"), F.round(F.col("l_discount") * 100, 0)
    )


@query(
    "q_kendall_tau",
    oracle=stats_ops.kendall_oracle_sql(
        "lineitem", "l_quantity", "round(l_discount * 100, 0)"
    ),
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between quantity and discount tier — concordance
    probability from the JOINT VALUE HISTOGRAM's self-join (50 x 11
    cells; cell-space squared, never row-squared) with exact-integer
    concordant/discordant/tie counts and ONE final sqrt division, raw
    (operators/stats.kendall_tau_b)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.kendall_tau_b(
        li, F.col("l_quantity"), F.round(F.col("l_discount") * 100, 0)
    )


@query(
    "q_pca_2d",
    oracle=stats_ops.pca_2d_oracle_sql(
        "lineitem",
        "l_returnflag",
        "l_quantity",
        "round(l_discount * 100, 0)",
        group_alias="l_returnflag",
    ),
)
def q_pca_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form 2D PCA of (quantity, discount tier) per return flag:
    eigenvalues of the 2x2 covariance matrix + principal-axis angle —
    the variance-split/direction readout a whitening or projection
    step needs, with NO iteration and NO driver math (the 2x2 eigen
    problem is a formula). Exact BIGINT sums, identical IEEE closed
    form, 6dp (operators/stats.pca_2d_int)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.pca_2d_int(
        li, "l_returnflag", F.col("l_quantity"), F.round(F.col("l_discount") * 100, 0)
    )


@query(
    "q_fano_burstiness",
    oracle="""
    WITH hc AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
               sum(c) AS sc, sum(c * c) AS scc
        FROM hc GROUP BY 1
    )
    SELECT event_type, n_hours,
           CASE WHEN n_hours > 1 THEN
           ((scc - CAST(sc AS DOUBLE) * sc / CAST(n_hours AS DOUBLE))
                / (CAST(n_hours AS DOUBLE) - 1))
           / (CAST(sc AS DOUBLE) / CAST(n_hours AS DOUBLE)) END AS fano
    FROM s
    """,
)
def q_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness (Fano factor: variance/mean of hourly event counts)
    per event type — Fano ~ 1 is Poisson traffic, >> 1 is bursty (the
    capacity-planning / anomaly-context readout next to
    q_rolling_anomaly's per-point flags). Hourly counts are exact
    integers, so (n, sum, sum-sq) are exact BIGINTs over the
    calendar-bounded hour grid and the var/mean assembly is the
    identical IEEE sequence — raw, no rounding."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    s = hc.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum("c").alias("sc"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
    )
    nh = F.col("n_hours").cast("double")
    sc_d = F.col("sc").cast("double")
    fano = F.when(
        F.col("n_hours") > 1,
        ((F.col("scc") - sc_d * F.col("sc") / nh) / (nh - 1)) / (sc_d / nh),
    )
    return s.select("event_type", "n_hours", fano.alias("fano"))


@query(
    "q_did_estimator",
    oracle="""
    WITH g AS (
        SELECT (o_orderpriority IN ('1-URGENT', '2-HIGH')) AS treated,
               (o_orderdate >= TIMESTAMP '1998-01-01') AS post,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS s_cents
        FROM orders GROUP BY 1, 2
    ),
    w AS (
        SELECT
            max(CASE WHEN treated AND post THEN s_cents END) AS s_tp,
            max(CASE WHEN treated AND post THEN n END) AS n_tp,
            max(CASE WHEN treated AND NOT post THEN s_cents END) AS s_t0,
            max(CASE WHEN treated AND NOT post THEN n END) AS n_t0,
            max(CASE WHEN NOT treated AND post THEN s_cents END) AS s_cp,
            max(CASE WHEN NOT treated AND post THEN n END) AS n_cp,
            max(CASE WHEN NOT treated AND NOT post THEN s_cents END) AS s_c0,
            max(CASE WHEN NOT treated AND NOT post THEN n END) AS n_c0
        FROM g
    )
    SELECT n_tp, n_t0, n_cp, n_c0,
           (CAST(s_tp AS DOUBLE) / n_tp - CAST(s_t0 AS DOUBLE) / n_t0)
           - (CAST(s_cp AS DOUBLE) / n_cp - CAST(s_c0 AS DOUBLE) / n_c0)
               AS did_cents
    FROM w
    """,
)
def q_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences estimator: change in mean order value
    for high-priority orders vs the parallel trend of the rest across
    the 1998-01-01 cutover — the causal-analytics readout next to
    q_ab_test_welch (randomized) for observational before/after
    questions. The four cell means are single divisions of exact
    integer-cents sums; the DiD combination is the identical IEEE
    sequence, raw. One map-combined 4-cell aggregate."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("treated"),
        (F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")).alias(
            "post"
        ),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("s_cents"),
    )

    def cell(t, p, c):
        cond = (F.col("treated") == t) & (F.col("post") == p)
        return F.max(F.when(cond, F.col(c)))

    w = g.agg(
        cell(True, True, "s_cents").alias("s_tp"),
        cell(True, True, "n").alias("n_tp"),
        cell(True, False, "s_cents").alias("s_t0"),
        cell(True, False, "n").alias("n_t0"),
        cell(False, True, "s_cents").alias("s_cp"),
        cell(False, True, "n").alias("n_cp"),
        cell(False, False, "s_cents").alias("s_c0"),
        cell(False, False, "n").alias("n_c0"),
    )
    mean = lambda s, n: F.col(s).cast("double") / F.col(n)  # noqa: E731
    return w.select(
        "n_tp",
        "n_t0",
        "n_cp",
        "n_c0",
        (
            (mean("s_tp", "n_tp") - mean("s_t0", "n_t0"))
            - (mean("s_cp", "n_cp") - mean("s_c0", "n_c0"))
        ).alias("did_cents"),
    )


@query(
    "q_trimmed_mean",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, v, c,
               coalesce(sum(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_lo,
               sum(c) OVER (PARTITION BY g) AS n
        FROM hist
    ),
    kept AS (
        SELECT g, n, n * 5 // 100 AS k,
               greatest(least(cum_lo + c, n - n * 5 // 100)
                        - greatest(cum_lo, n * 5 // 100), 0) AS r,
               v
        FROM cum
    )
    SELECT g AS l_returnflag,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(k) AS BIGINT) AS n_trimmed_each_side,
           CAST(sum(v * r) AS DOUBLE) / (max(n) - 2 * max(k)) AS trimmed_mean
    FROM kept GROUP BY g
    """,
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5% two-sided trimmed mean of order quantity per return flag —
    the outlier-robust location estimate between the mean (fragile)
    and the median (throws away 98% of the data), computed ENTIRELY
    from the per-group VALUE HISTOGRAM: retained-count per value cell
    is exact integer clamp arithmetic, the trimmed sum is an exact
    BIGINT, and the mean is ONE division, raw. No row is ever sorted
    (the quantile_bins discipline)."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    wn = W.partitionBy("g")
    cum = hist.select(
        "g",
        "v",
        "c",
        F.coalesce(F.sum("c").over(w), F.lit(0)).alias("cum_lo"),
        F.sum("c").over(wn).alias("n"),
    )
    kept = cum.select(
        "g",
        "n",
        F.floor(F.col("n") * 5 / 100).cast("long").alias("k"),
        F.greatest(
            F.least(F.col("cum_lo") + F.col("c"), F.col("n") - F.floor(F.col("n") * 5 / 100).cast("long"))
            - F.greatest(F.col("cum_lo"), F.floor(F.col("n") * 5 / 100).cast("long")),
            F.lit(0),
        ).alias("r"),
        "v",
    )
    return kept.groupBy(F.col("g").alias("l_returnflag")).agg(
        F.max("n").cast("long").alias("n"),
        F.max("k").cast("long").alias("n_trimmed_each_side"),
        (
            F.sum(F.col("v") * F.col("r")).cast("double")
            / (F.max("n") - 2 * F.max("k"))
        ).alias("trimmed_mean"),
    )


@query(
    "q_weighted_median",
    oracle="""
    WITH hist AS (
        SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
               sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS wc
        FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, v, wc,
               sum(wc) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(wc) OVER (PARTITION BY g) AS tw
        FROM hist
    )
    SELECT g AS l_returnflag,
           CAST(min(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT)
               AS weighted_median_qty,
           CAST(max(tw) AS BIGINT) AS total_weight_cents
    FROM cum GROUP BY g
    """,
)
def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median order quantity per return flag: the
    quantity splitting the group's REVENUE mass in half (the unweighted
    median splits row counts — wrong question when rows carry very
    different economic weight). Lower-median rule on exact
    integer-cents cumulative weights — a deterministic integer
    comparison, no interpolation, engine-exact. Histogram windows
    only; no row sort."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("v"),
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias("wc")
    )
    w = W.partitionBy("g").orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wn = W.partitionBy("g")
    cum = hist.select(
        "g",
        "v",
        F.sum("wc").over(w).alias("cw"),
        F.sum("wc").over(wn).alias("tw"),
    )
    return cum.groupBy(F.col("g").alias("l_returnflag")).agg(
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v")))
        .cast("long")
        .alias("weighted_median_qty"),
        F.max("tw").cast("long").alias("total_weight_cents"),
    )


# Poisson(1) inverse-CDF ladder thresholds: cdf_k = e^-1 * sum_{i<=k} 1/i!.
# Written as repr'd double literals so Spark and DuckDB compare against
# bit-identical constants.
_POISSON_CDF = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
)


@query(
    "q_bootstrap_ci",
    oracle="""
    WITH reps AS (SELECT unnest(range(0, 200)) AS b),
    base AS (
        SELECT r.b,
               CAST(floor(e.value * 100) AS BIGINT) AS cents,
               CAST(concat('0x', substr(md5(concat_ws(':', concat_ws('#', CAST(e.event_id AS VARCHAR), CAST(r.b AS VARCHAR)), '11')), 1, 8)) AS UBIGINT) / 4294967296.0 AS u
        FROM events e CROSS JOIN reps r
    ),
    w AS (
        SELECT b, cents,
               CASE
                   WHEN u < 0.36787944117144233 THEN 0
                   WHEN u < 0.7357588823428847 THEN 1
                   WHEN u < 0.9196986029286058 THEN 2
                   WHEN u < 0.9810118431238462 THEN 3
                   WHEN u < 0.9963401531726563 THEN 4
                   WHEN u < 0.9994058151824183 THEN 5
                   WHEN u < 0.9999167588507119 THEN 6
                   ELSE 7
               END AS wt
        FROM base
    ),
    means AS (
        SELECT b, CAST(sum(wt * cents) AS DOUBLE) / sum(wt) AS mean_b
        FROM w GROUP BY b HAVING sum(wt) > 0
    ),
    ranked AS (
        SELECT b, mean_b,
               row_number() OVER (ORDER BY mean_b, b) AS rk,
               count(*) OVER () AS nb
        FROM means
    ),
    pt AS (SELECT CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS DOUBLE)
                  / count(*) AS mean_cents
           FROM events)
    SELECT CAST(max(nb) AS BIGINT) AS n_replicates,
           max(pt.mean_cents) AS mean_cents,
           max(CASE WHEN rk = 5 THEN mean_b END) AS ci_lo_cents,
           max(CASE WHEN rk = 196 THEN mean_b END) AS ci_hi_cents
    FROM ranked CROSS JOIN pt
    """,
)
def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap 95% CI for the mean event value — the
    distribution-free uncertainty readout that scales where classic
    resampling cannot (per-row Poisson(1) weights replace per-replicate
    row sampling, so the 200 replicates are ONE map over the data +
    one 200-group combine; the standard big-data bootstrap form).

    Engine parity end to end: the replicate weights come from the
    repo's deterministic md5 u01 variate compared against repr'd
    Poisson-CDF double literals (identical branch in both engines);
    each replicate mean is one IEEE division of exact BIGINT sums; the
    percentile picks are exact ranks (row 5 / row 196 of 200, tiebreak
    on b) — raw output, no rounding anywhere.

    Scale shape: the events x 200 fan-out is map-side (broadcast range
    join, no pre-exchange); per-replicate sums combine map-side into a
    200-row relation. At 100 TB the only wire traffic is
    200 partial-sum rows per task."""
    ev = load_table(spark, sf_dir, "events")
    reps = spark.range(0, 200).select(F.col("id").alias("b"))
    u = C.u01(
        F.concat_ws(
            "#", F.col("event_id").cast("string"), F.col("b").cast("string")
        ),
        salt=11,
    )
    wt = F.when(u < F.lit(_POISSON_CDF[0]), 0)
    for i, c in enumerate(_POISSON_CDF[1:], start=1):
        wt = wt.when(u < F.lit(c), i)
    wt = wt.otherwise(7)
    # events.parquet is a single split: repartition BEFORE the 200x
    # fan-out so the 20M-hash map stage uses every core (the CLAUDE.md
    # repartition-before-CPU-heavy-map rule; measured 20.1 -> ~2 s at
    # sf0.1 on local[32]).
    par = ev.sparkSession.sparkContext.defaultParallelism
    w = (
        ev.select("event_id", F.floor(F.col("value") * 100).cast("long").alias("cents"))
        .repartition(par)
        .crossJoin(F.broadcast(reps))
        .select("b", "cents", wt.alias("wt"))
    )
    means = (
        w.groupBy("b")
        .agg(
            (F.sum(F.col("wt") * F.col("cents")).cast("double") / F.sum("wt")).alias(
                "mean_b"
            ),
            F.sum("wt").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select("b", "mean_b")
    )
    from pyspark.sql import Window as W

    # replicate-bounded: means has one row per bootstrap replicate
    # (200 rows)
    ranked = means.select(
        "mean_b",
        F.row_number().over(W.orderBy("mean_b", "b")).alias("rk"),
        F.count(F.lit(1)).over(W.partitionBy()).alias("nb"),
    )
    pt = ev.agg(
        (
            F.sum(F.floor(F.col("value") * 100).cast("long")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_cents")
    )
    return (
        ranked.crossJoin(F.broadcast(pt))
        .agg(
            F.max("nb").cast("long").alias("n_replicates"),
            F.max("mean_cents").alias("mean_cents"),
            F.max(F.when(F.col("rk") == 5, F.col("mean_b"))).alias("ci_lo_cents"),
            F.max(F.when(F.col("rk") == 196, F.col("mean_b"))).alias("ci_hi_cents"),
        )
    )


@query(
    "q_sprt_ab",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(epoch_us(ts)) AS t0
        FROM events GROUP BY 1
    ),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ),
    obs AS (
        SELECT f.user_id, f.t0,
               CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END AS converted
        FROM firsts f LEFT JOIN conv c ON c.user_id = f.user_id
    ),
    walk AS (
        SELECT idx,
               round(n1 * ln(0.15 / 0.10) + (idx - n1) * ln(0.85 / 0.90), 6)
                   AS llr
        FROM (
            SELECT sum(converted)
                       OVER (ORDER BY t0, user_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS n1,
                   row_number() OVER (ORDER BY t0, user_id) AS idx
            FROM obs
        )
    ),
    bounds AS (SELECT round(ln((1 - 0.2) / 0.05), 6) AS up,
                      round(ln(0.2 / (1 - 0.05)), 6) AS lo),
    crossed AS (
        SELECT min(CASE WHEN llr >= up THEN idx END) AS up_idx,
               min(CASE WHEN llr <= lo THEN idx END) AS lo_idx,
               CAST(count(*) AS BIGINT) AS n_obs,
               max(CASE WHEN idx = (SELECT max(idx) FROM walk)
                        THEN llr END) AS llr_final
        FROM walk CROSS JOIN bounds
    )
    SELECT n_obs,
           CASE
               WHEN up_idx IS NOT NULL
                    AND (lo_idx IS NULL OR up_idx <= lo_idx) THEN 'accept_h1'
               WHEN lo_idx IS NOT NULL THEN 'accept_h0'
               ELSE 'continue'
           END AS decision,
           CAST(CASE
               WHEN up_idx IS NOT NULL
                    AND (lo_idx IS NULL OR up_idx <= lo_idx) THEN up_idx
               WHEN lo_idx IS NOT NULL THEN lo_idx
           END AS BIGINT) AS cross_idx,
           round(llr_final, 6) AS llr_final
    FROM crossed
    """,
)
def q_sprt_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald sequential probability ratio test over the user conversion
    stream: cumulative log-likelihood ratio of H1 (p=0.15) vs H0
    (p=0.10) in first-touch order, with the alpha=0.05 / beta=0.2
    decision boundaries — the EARLY-STOPPING companion to the
    fixed-horizon q_ab_test_welch (a sequential test reads the data as
    it arrives and stops at the first boundary crossing, at a fraction
    of the fixed-n sample size). Output (n_obs, decision, cross_idx,
    llr_final).

    Engine parity: the walk is EXACT-INTEGER until one shared formula —
    llr(i) = n1(i) * ln(0.15/0.10) + (idx(i) - n1(i)) * ln(0.85/0.90),
    where n1/idx are the inclusive prefix conversion-count and
    row-number in (t0, user_id) order. The prefix counts are integers
    (order-of-accumulation-free), so Spark computes them with the
    two-stage bucket-offset form (time-quantized buckets -> <=1024-row
    offset window -> bucket-local windows; the r10 _bounded_cum_before
    discipline — the pre-r10 form summed float terms through ONE
    unpartitioned user-sized window, the ROC-family scale-killer with
    users ~ row mass) while the oracle keeps its single window; llr
    AND the decision bounds round 6dp on BOTH sides before the
    crossing comparison (r10 ADVICE: raw ln() parity between JVM
    Math.log and libm is not guaranteed, and a 1-ulp divergence
    scaled by n1 could flip cross_idx at a boundary), so the first
    crossing index compares rounded-vs-rounded; llr_final is the same
    rounded value."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.unix_micros(F.col("ts"))).alias("t0")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    obs = firsts.join(
        conv.withColumn("c", F.lit(1)), "user_id", "left"
    ).select(
        "user_id", "t0", F.coalesce("c", F.lit(0)).alias("converted")
    ).transform(hold)  # referenced by bounds + the bucketed walk
    n_buckets = 1024
    tb = obs.agg(F.min("t0").alias("_lo"), F.max("t0").alias("_hi"))
    span = F.col("_hi") - F.col("_lo")
    # Divide FIRST in double (the _bounded_cum_before form): micros *
    # 1024 would silently wrap int64 for spans over ~285 years. floor
    # of the monotone double expression is still monotone, and bucket
    # boundaries only move rows BETWEEN buckets — the offset+local
    # prefix counts are bucket-invariant, so values are unchanged.
    b = F.when(
        span > 0,
        F.least(
            F.lit(n_buckets - 1),
            F.floor(
                (F.col("t0") - F.col("_lo")).cast("double")
                / span
                * n_buckets
            ),
        ),
    ).otherwise(F.lit(0))
    h = (
        obs.crossJoin(F.broadcast(tb))
        .withColumn("_b", b.cast("long"))
        .drop("_lo", "_hi")
    )
    counts = h.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("converted").alias("_c")
    )
    woff = W.orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "_b",
        F.coalesce(F.sum("_n").over(woff), F.lit(0)).alias("_off"),
        F.coalesce(F.sum("_c").over(woff), F.lit(0)).alias("_off1"),
    )
    wloc = W.partitionBy("_b").orderBy("t0", "user_id")
    wcum = wloc.rowsBetween(W.unboundedPreceding, 0)
    c1 = F.log(F.lit(0.15) / F.lit(0.10))
    c0 = F.log(F.lit(0.85) / F.lit(0.90))
    n1 = F.col("_off1") + F.sum("converted").over(wcum)
    idx = F.col("_off") + F.row_number().over(wloc)
    # llr is rounded 6dp BEFORE the boundary comparison (and the
    # bounds likewise) so the crossing predicate never rides on raw
    # ln() parity between JVM Math.log and libm — a 1-ulp divergence
    # scaled by n1 could flip cross_idx near a boundary. The operands
    # are irrational multiples, so 6dp half-way ties are out of reach
    # (the welch_t discipline).
    walk = (
        h.join(F.broadcast(offsets), "_b")
        .select(
            idx.alias("idx"),
            F.round(n1 * c1 + (idx - n1) * c0, 6).alias("llr"),
        )
    )
    up = F.round(F.log((1 - F.lit(0.2)) / F.lit(0.05)), 6)
    lo = F.round(F.log(F.lit(0.2) / (1 - F.lit(0.05))), 6)
    crossed = walk.agg(
        F.min(F.when(F.col("llr") >= up, F.col("idx"))).alias("up_idx"),
        F.min(F.when(F.col("llr") <= lo, F.col("idx"))).alias("lo_idx"),
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.max(F.struct("idx", "llr"))["llr"].alias("llr_final"),
    )
    h1 = F.col("up_idx").isNotNull() & (
        F.col("lo_idx").isNull() | (F.col("up_idx") <= F.col("lo_idx"))
    )
    return crossed.select(
        "n_obs",
        F.when(h1, F.lit("accept_h1"))
        .when(F.col("lo_idx").isNotNull(), F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
        F.when(h1, F.col("up_idx"))
        .when(F.col("lo_idx").isNotNull(), F.col("lo_idx"))
        .cast("long")
        .alias("cross_idx"),
        F.round("llr_final", 6).alias("llr_final"),
    )


@query(
    "q_log_rank",
    oracle=stats_ops.log_rank_oracle_sql(
        """SELECT CASE WHEN max(CASE WHEN event_type = 'purchase'
                                     THEN 1 ELSE 0 END) = 1
                       THEN 1 ELSE 2 END AS g,
                  date_diff('day', CAST(min(ts) AS DATE),
                            CAST(max(ts) AS DATE)) AS t
           FROM events GROUP BY user_id"""
    ),
)
def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test: do users who ever purchased have a different
    lifetime (first-to-last-event days) survival curve than users who
    never did? The two-cohort comparison OVER q_survival_curve's
    curve. At-risk counts come from the duration-histogram prefix, the
    E/V terms accumulate over the ORDERED duration window, chi2 =
    (O-E)^2/V rounds 6dp (operators/stats.log_rank_test)."""
    ev = load_table(spark, sf_dir, "events")
    subj = ev.groupBy("user_id").agg(
        F.when(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            == 1,
            1,
        )
        .otherwise(2)
        .alias("g"),
        F.datediff(
            F.max(F.col("ts")).cast("date"), F.min(F.col("ts")).cast("date")
        ).alias("t"),
    )
    return stats_ops.log_rank_test(subj, "g", "t", 1, 2)


@query(
    "q_nelson_aalen",
    oracle=stats_ops.nelson_aalen_oracle_sql(
        """SELECT date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS t
           FROM events GROUP BY user_id"""
    ),
)
def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve of user lifetimes — the
    hazard-space twin of q_survival_curve (H(t) = sum d/n over the
    duration prefix; S ~= exp(-H)). Exact-integer hazard increments
    accumulated over the ordered distinct-duration window, 6dp
    (operators/stats.nelson_aalen)."""
    ev = load_table(spark, sf_dir, "events")
    durs = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts")).cast("date"), F.min(F.col("ts")).cast("date")
        ).alias("t")
    )
    return stats_ops.nelson_aalen(durs, "t")


@query(
    "q_mcnemar",
    oracle=stats_ops.mcnemar_oracle_sql(
        """SELECT max(CASE WHEN epoch_us(ts) <= mid_us THEN 1 ELSE 0 END) AS x,
                  max(CASE WHEN epoch_us(ts) > mid_us THEN 1 ELSE 0 END) AS y
           FROM events CROSS JOIN (
               SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
               FROM events)
           GROUP BY user_id"""
    ),
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test: of the SAME users, how many were active
    only in the first half of the observation window (b) vs only in
    the second (c), and is the churn/arrival asymmetry significant?
    The paired complement of q_ab_test_welch. The midpoint is exact
    integer microseconds ((min+max) div 2); b, c are one map-combined
    aggregate; chi2 = (|b-c|-1)^2/(b+c) is a single division, raw
    (operators/stats.mcnemar_test)."""
    # ev feeds the midpoint aggregate AND the pairs groupBy —
    # checkpoint the 2-column projection so events scan once
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    ).localCheckpoint(eager=False)
    mid = ev.agg(
        F.expr("(min(us) + max(us)) div 2").alias("mid_us")
    )
    pairs = ev.crossJoin(F.broadcast(mid)).groupBy("user_id").agg(
        F.max(F.when(F.col("us") <= F.col("mid_us"), 1).otherwise(0)).alias(
            "x"
        ),
        F.max(F.when(F.col("us") > F.col("mid_us"), 1).otherwise(0)).alias(
            "y"
        ),
    )
    return stats_ops.mcnemar_test(pairs, "x", "y")


@query(
    "q_cohens_kappa",
    oracle=stats_ops.cohens_kappa_oracle_sql(
        """SELECT CASE WHEN o_totalprice >= 250000 THEN 1 ELSE 0 END AS r1,
                  CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END AS r2
           FROM orders"""
    ),
)
def q_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two order-labeling heuristics (high-value
    = totalprice >= 250k vs high-priority = URGENT/HIGH): do the rules
    agree beyond their marginals? The inter-annotator QA gate for
    labeled data. Cleared-denominator all-BIGINT form, ONE division,
    raw (operators/stats.cohens_kappa)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.when(F.col("o_totalprice") >= 250000, 1).otherwise(0).alias("r1"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        )
        .otherwise(0)
        .alias("r2"),
    )
    return stats_ops.cohens_kappa(o, "r1", "r2")


@query(
    "q_runs_test",
    oracle=stats_ops.runs_test_oracle_sql(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m
           FROM events WHERE event_type = 'purchase' GROUP BY 1"""
    ),
)
def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily purchase revenue's
    above/below-median sign sequence: is the series exchangeable, or
    does it drift/oscillate? The randomness gate BEFORE the
    change-point detectors (q_cusum_changepoint, q_pettitt_changepoint
    ask WHERE it broke; this asks IF). Histogram lower-median, one
    lag() over the day grid, exact-integer z chain 6dp
    (operators/stats.runs_test)."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return stats_ops.runs_test(events, "day", "cents")


@query(
    "q_brown_forsythe",
    oracle=stats_ops.brown_forsythe_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity"
    ),
)
def q_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe variance-equality test across return-flag groups
    of order quantities — the robust (median-based Levene) spread
    check that gates mean-comparison tests (q_ab_test_welch relaxes
    equal variance; this measures whether spreads differ at all).
    Histogram group medians, exact-BIGINT deviation sums, ordered
    group walk, F 6dp (operators/stats.brown_forsythe)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.brown_forsythe(li, "l_returnflag", "l_quantity")


@query(
    "q_seasonal_strength",
    oracle=stats_ops.seasonal_strength_oracle_sql(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m
           FROM events WHERE event_type = 'purchase' GROUP BY 1"""
    ),
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of daily purchase revenue: variance explained
    by day-of-week means (1 - SSW/SST) — is q_seasonality_index's
    weekly cycle real signal or noise? Exact-BIGINT power sums, the
    7-term between-group sum accumulated over the ordered DOW window,
    6dp (operators/stats.seasonal_strength)."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return stats_ops.seasonal_strength(events, "day", "cents")


@query(
    "q_ab_power_plan",
    oracle=stats_ops.ab_power_oracle_sql(
        "events", "event_type", "value", "'click'", mde_frac=0.05
    ),
)
def q_ab_power_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B sample-size plan from the click arm's measured variance:
    units per arm to detect a 5% lift at alpha 0.05 / power 0.8 — the
    front end of the experiment family (q_ab_test_welch/q_cuped grade
    what ran; this sizes the next run). Exact cents power sums (value
    <= 500 keeps sum(cents^2) far under 2^63), repr'd z literals, one
    formula chain (operators/stats.ab_power_plan)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.ab_power_plan(
        ev, "event_type", "value", "click", mde_frac=0.05
    )


@query(
    "q_t_closeness",
    oracle=stats_ops.t_closeness_oracle_sql(
        "customer",
        ["c_mktsegment", "c_nationkey"],
        "floor(c_acctbal / 1000.0)",
    ),
)
def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the (segment, nation) quasi-groups:
    ordinal earth-mover distance between each group's account-balance
    band distribution and the global one — completes the release-
    privacy triad (q_k_anonymity, q_l_diversity). Exact-BIGINT
    cumulative-gap numerators over the ordered band grid, per-group
    window walks, 6dp (operators/stats.t_closeness)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.t_closeness(
        c,
        ["c_mktsegment", "c_nationkey"],
        F.floor(F.col("c_acctbal") / F.lit(1000.0)),
    )


@query(
    "q_cochran_armitage",
    oracle=stats_ops.cochran_armitage_oracle_sql(
        "events",
        "least(10, CAST(floor(10 * CAST(floor(value * 100) AS BIGINT)"
        " / 50000) AS BIGINT) + 1)",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END",
    ),
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: does purchase propensity trend
    monotonically across value deciles? The ordinal complement of
    q_chi_square (any-association) and the categorical sibling of
    q_grouped_ols_trend. Integer-cleared trend algebra, split-sqrt
    denominator, 6dp (operators/stats.cochran_armitage)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.least(
            F.lit(10),
            (
                F.floor(
                    10 * F.floor(F.col("value") * 100).cast("long") / 50000
                )
                + 1
            ).cast("long"),
        ).alias("decile"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "label"
        ),
    )
    return stats_ops.cochran_armitage(ev, "decile", "label")


@query(
    "q_theil_index",
    oracle=stats_ops.theil_oracle_sql(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS unit,
                  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS m
           FROM events WHERE event_type = 'purchase' GROUP BY 1"""
    ),
)
def q_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality of daily purchase revenue across days — the
    entropy member of the inequality family (q_lorenz_curve,
    q_market_hhi); uniquely decomposes additively across subgroups.
    Exact-integer share ratios through ln, ordered unit walk, 6dp
    (operators/stats.theil_index)."""
    events = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
    )
    return stats_ops.theil_index(events, "day", "cents")


@query(
    "q_ks_bh_screen",
    oracle=stats_ops.ks_bh_oracle_sql(
        "customer", "c_mktsegment", "floor(c_acctbal / 100.0)", q=0.10
    ),
)
def q_ks_bh_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg drift screen: KS test of every market
    segment's account-balance distribution against the rest, Kolmogorov
    p approximations, FDR control at q=0.10 — which segments GENUINELY
    differ after correcting for testing all of them (the
    multiple-comparisons closer the per-test family needs). Exact
    BIGINT D numerators over the segment x band grid, identical-text
    exp chain (lam*lam, never pow), p-ordered BH walk
    (operators/stats.ks_bh_screen)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.ks_bh_screen(
        c, "c_mktsegment", F.floor(F.col("c_acctbal") / F.lit(100.0)), q=0.10
    )


@query(
    "q_kruskal_wallis",
    oracle=stats_ops.kruskal_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity"
    ),
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across return-flag groups of order quantities:
    the k-group rank test — extends q_mann_whitney beyond two groups
    and is the outlier-robust sibling of q_anova. Histogram average
    ranks, exact tie correction, ordered group walk, 6dp
    (operators/stats.kruskal_wallis)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.kruskal_wallis(li, "l_returnflag", "l_quantity")


@query(
    "q_granger_leadlag",
    oracle=stats_ops.granger_oracle_sql(
        """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                  CAST(sum(CASE WHEN event_type = 'click'
                       THEN CAST(floor(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
                  CAST(sum(CASE WHEN event_type = 'purchase'
                       THEN CAST(floor(value * 100) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
           FROM events GROUP BY 1"""
    ),
)
def q_granger_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granger-style lead-lag: does yesterday's click spend explain
    today's purchase revenue beyond revenue's own autoregression? —
    the causal-direction sharpening of q_cross_correlation's symmetric
    lags. Exact cents second moments, closed-form 2-predictor OLS
    determinant chain, incremental-F readout, 6dp
    (operators/stats.granger_leadlag)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.when(
            F.col("event_type") == "click",
            F.floor(F.col("value") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("xc"),
        F.when(
            F.col("event_type") == "purchase",
            F.floor(F.col("value") * 100).cast("long"),
        )
        .otherwise(0)
        .alias("yc"),
    )
    return stats_ops.granger_leadlag(
        daily, "day", F.col("xc"), F.col("yc")
    )


@query(
    "q_posthoc_pairwise",
    oracle=stats_ops.pairwise_welch_oracle_sql(
        "lineitem",
        "l_returnflag",
        "CAST(l_quantity AS BIGINT)",
    ),
)
def q_posthoc_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-hoc pairwise Welch t between all return-flag pairs — WHICH
    groups differ once the omnibus (q_anova / q_kruskal_wallis) fires;
    n_pairs is emitted for the caller's Bonferroni/BH correction.
    Exact power sums, k x k pair join on the k-row relation, never row
    mass (operators/stats.pairwise_welch)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").cast("long").alias("qty")
    )
    return stats_ops.pairwise_welch(li, "l_returnflag", F.col("qty"))


@query(
    "q_eb_shrinkage",
    oracle=stats_ops.eb_shrinkage_oracle_sql(
        "orders",
        "o_custkey % 100",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END",
        strength=20,
    ),
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-cohort urgent-order rates
    (customer-key cohorts, fixed pseudo-count m=20 toward the global
    rate) — the small-sample stabilizer that stops a 2-of-3 cohort
    outranking a 490-of-1000 one on a dashboard
    (operators/stats.eb_shrunk_rates)."""
    o = load_table(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("cohort"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
    )
    return stats_ops.eb_shrunk_rates(o, "cohort", "urgent", strength=20)


@query(
    "q_cliffs_delta",
    # Same dual-histogram rank machinery as q_mann_whitney: gt/lt are
    # EXACT int64 pair counts from the value histogram (cum_before =
    # #B-values strictly below each distinct v), and delta is ONE
    # IEEE-exact division of two exact int64 operands — bit-identical
    # across engines with NO rounding anywhere (a rational ratio can
    # land on half-way digits where engines' round() rules differ).
    oracle="""
    WITH hist AS (
        SELECT l_quantity AS v,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM lineitem
        WHERE l_returnflag IN ('R', 'A')
        GROUP BY 1
    ),
    ranked AS (
        SELECT ca, cb,
               coalesce(sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS b_before
        FROM hist
    ),
    agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               CAST(sum(ca * b_before) AS BIGINT) AS gt
        FROM ranked
    ),
    lt_agg AS (
        SELECT a.n_a, a.n_b, a.gt,
               CAST((SELECT sum(ca * (a.n_b - b_before - cb))
                     FROM ranked) AS BIGINT) AS lt
        FROM agg a
    )
    SELECT n_a, n_b, gt, lt,
           CASE WHEN n_a > 0 AND n_b > 0 THEN
               CAST(gt - lt AS DOUBLE) / (CAST(n_a AS DOUBLE) * n_b)
           END AS delta
    FROM lt_agg
    """,
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta ordinal effect size between RETURNED ('R') and
    ACCEPTED ('A') lineitem quantities: delta = (#(x>y) - #(x<y)) /
    (n_a*n_b) — the magnitude companion to q_mann_whitney's
    significance (U says WHETHER one group dominates; delta says BY
    HOW MUCH, scale-free in [-1, 1]). Pair counts come from the value
    HISTOGRAM (50 distinct l_quantity values), never an n_a x n_b
    pair join: #(x>y) = sum_v ca(v) * #B-below(v), via one bounded
    histogram window + one aggregate."""
    from pyspark.sql import Window as W

    li = load_table(spark, sf_dir, "lineitem")
    g = F.col("l_returnflag")
    hist = (
        li.filter(g.isin(["R", "A"]))
        .groupBy(F.col("l_quantity").alias("v"))
        .agg(
            F.sum(F.when(g == "R", 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(g == "A", 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    # histogram-bounded windows: input is the 50-value quantity grid
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranked = hist.withColumn(
        "b_before", F.coalesce(F.sum("cb").over(w), F.lit(0))
    ).withColumn("nb_total", F.sum("cb").over(W.partitionBy()))
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("b_before")).cast("long").alias("gt"),
        F.sum(
            F.col("ca") * (F.col("nb_total") - F.col("b_before") - F.col("cb"))
        ).cast("long").alias("lt"),
    )
    return agg.select(
        "n_a",
        "n_b",
        "gt",
        "lt",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            (F.col("gt") - F.col("lt")).cast("double")
            / (F.col("n_a").cast("double") * F.col("n_b")),
        ).alias("delta"),
    )


@query(
    "q_fisher_exact",
    # Exactness design: the 2x2 table comes from a FIXED-SIZE
    # deterministic sample (md5-order LIMIT 200 — constant work per
    # r10's sample-size rule), so the log-factorial grid is a bounded
    # 201-row relation. pmf comparisons run in LOG space with a 1e-7
    # relative guard (R's fisher.test convention): mirror tables have
    # EXACTLY equal pmf, and the guard absorbs both that equality and
    # cross-engine ln/accumulation ulp drift; p rounds 6dp after the
    # exp-sum. AS MATERIALIZED pins the 9-way-referenced lf CTE.
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS a_flag,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   AS b_flag
        FROM events GROUP BY 1
    ),
    sample_u AS (
        SELECT * FROM flags
        ORDER BY md5(concat_ws(':', CAST(user_id AS VARCHAR), 'fx')),
                 user_id
        LIMIT 200
    ),
    cells AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(a_flag) AS BIGINT) AS r1,
               CAST(sum(b_flag) AS BIGINT) AS c1,
               CAST(sum(a_flag * b_flag) AS BIGINT) AS a_obs
        FROM sample_u
    ),
    lf AS MATERIALIZED (
        SELECT i,
               sum(CASE WHEN i <= 1 THEN 0.0
                        ELSE ln(CAST(i AS DOUBLE)) END)
                   OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS lfv
        FROM (SELECT unnest(range(0, 201)) AS i)
    ),
    support AS (
        SELECT c.n, c.r1, c.c1, c.a_obs,
               unnest(range(greatest(0, c.c1 - (c.n - c.r1)),
                            least(c.r1, c.c1) + 1)) AS k
        FROM cells c
    ),
    lp AS (
        SELECT s.n, s.r1, s.c1, s.a_obs, s.k,
               (SELECT lfv FROM lf WHERE i = s.r1)
             + (SELECT lfv FROM lf WHERE i = s.n - s.r1)
             + (SELECT lfv FROM lf WHERE i = s.c1)
             + (SELECT lfv FROM lf WHERE i = s.n - s.c1)
             - (SELECT lfv FROM lf WHERE i = s.n)
             - (SELECT lfv FROM lf WHERE i = s.k)
             - (SELECT lfv FROM lf WHERE i = s.r1 - s.k)
             - (SELECT lfv FROM lf WHERE i = s.c1 - s.k)
             - (SELECT lfv FROM lf WHERE i = s.n - s.r1 - s.c1 + s.k)
                   AS ln_pmf
        FROM support s
    ),
    obs AS (SELECT ln_pmf AS ln_obs FROM lp WHERE k = a_obs)
    SELECT max(lp.n) AS n, max(lp.r1) AS r1, max(lp.c1) AS c1,
           max(lp.a_obs) AS a_obs,
           round(sum(CASE WHEN lp.ln_pmf <= o.ln_obs + ln(1.0 + 1e-7)
                          THEN exp(lp.ln_pmf) ELSE 0 END), 6) AS p_value
    FROM lp CROSS JOIN obs o
    """,
)
def q_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test (two-sided) of purchase x click
    independence over a fixed 200-user sample — the SMALL-SAMPLE
    contingency test the chi-square family (q_chi_square, q_g_test)
    cannot give: those rely on asymptotics that break when expected
    cell counts are small, exactly the regime of a fixed-size QA
    sample. p = sum of hypergeometric pmfs <= the observed table's
    (log-space compare, 1e-7 relative guard — R's convention).
    Distributed shape: user flags reduce map-side; everything after
    the LIMIT-200 cut runs on sample/grid relations of <= 201 rows."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "a_flag"
        ),
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias(
            "b_flag"
        ),
    )
    sample = flags.orderBy(
        F.md5(F.concat_ws(":", F.col("user_id").cast("string"), F.lit("fx"))),
        "user_id",
    ).limit(200)
    cells = sample.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("a_flag").cast("long").alias("r1"),
        F.sum("b_flag").cast("long").alias("c1"),
        F.sum(F.col("a_flag") * F.col("b_flag")).cast("long").alias("a_obs"),
    ).localCheckpoint(eager=False)  # 1-row scalar table feeding support + output
    # bounded 201-row log-factorial grid; the running window's input
    # is the fixed integer grid, never data. Collapsed to ONE ordered
    # array relation (r13 optimization): the nine lookups below used
    # to be nine separate broadcast equi-joins against this grid —
    # nine broadcast builds and nine join stages for 201 rows; one
    # crossJoin of the 1-row array + element_at lookups computes the
    # IDENTICAL doubles (same window-summed values, only re-shaped).
    lf_arr = (
        spark.range(0, 201)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.when(F.col("i") <= 1, F.lit(0.0)).otherwise(
                    F.log(F.col("i").cast("double"))
                )
            )
            .over(W.orderBy("i").rowsBetween(W.unboundedPreceding, 0))
            .alias("lfv"),
        )
        .agg(
            F.array_sort(
                F.collect_list(F.struct("i", "lfv"))
            ).alias("_ilf")
        )
        .select(F.expr("transform(_ilf, x -> x.lfv)").alias("_lf"))
    )
    support = cells.select(
        "n",
        "r1",
        "c1",
        "a_obs",
        F.explode(
            F.sequence(
                F.greatest(F.lit(0).cast("long"), F.col("c1") - (F.col("n") - F.col("r1"))),
                F.least(F.col("r1"), F.col("c1")),
            )
        ).alias("k"),
    )
    s = support.crossJoin(F.broadcast(lf_arr))
    lookups = {
        "lf_r1": F.col("r1"),
        "lf_r2": F.col("n") - F.col("r1"),
        "lf_c1": F.col("c1"),
        "lf_nc1": F.col("n") - F.col("c1"),
        "lf_n": F.col("n"),
        "lf_k": F.col("k"),
        "lf_r1k": F.col("r1") - F.col("k"),
        "lf_c1k": F.col("c1") - F.col("k"),
        "lf_r2k": F.col("n") - F.col("r1") - F.col("c1") + F.col("k"),
    }
    for alias, expr in lookups.items():
        s = s.withColumn(
            alias, F.element_at(F.col("_lf"), (expr + 1).cast("int"))
        )
    s = s.drop("_lf")
    lp = s.select(
        "n",
        "r1",
        "c1",
        "a_obs",
        "k",
        (
            F.col("lf_r1")
            + F.col("lf_r2")
            + F.col("lf_c1")
            + F.col("lf_nc1")
            - F.col("lf_n")
            - F.col("lf_k")
            - F.col("lf_r1k")
            - F.col("lf_c1k")
            - F.col("lf_r2k")
        ).alias("ln_pmf"),
    ).localCheckpoint(eager=False)  # referenced twice: obs row + the p-value sum
    obs = lp.filter(F.col("k") == F.col("a_obs")).select(
        F.col("ln_pmf").alias("ln_obs")
    )
    return (
        lp.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n").alias("n"),
            F.max("r1").alias("r1"),
            F.max("c1").alias("c1"),
            F.max("a_obs").alias("a_obs"),
            F.round(
                F.sum(
                    F.when(
                        F.col("ln_pmf")
                        <= F.col("ln_obs") + F.log(F.lit(1.0) + F.lit(1e-7)),
                        F.exp(F.col("ln_pmf")),
                    ).otherwise(F.lit(0.0))
                ),
                6,
            ).alias("p_value"),
        )
    )


@query(
    "q_gumbel_maxima",
    # Calendar-bounded: one row per month survives the first
    # aggregate; maxima are exact integer cents, the moment sums are
    # exact int64 (cents^2 * months << 2^63), and the only irrational
    # steps (sqrt, ln) round 6dp tie-safe.
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mth,
               CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS mx
        FROM orders GROUP BY 1
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               CAST(sum(mx) AS BIGINT) AS s1,
               CAST(sum(mx * mx) AS BIGINT) AS s2
        FROM monthly
    )
    SELECT n_blocks,
           round(CAST(s1 AS DOUBLE) / n_blocks / 100.0, 6) AS mean_max,
           round(sqrt(6.0 * ((CAST(s2 AS DOUBLE)
                              - CAST(s1 AS DOUBLE) * s1 / n_blocks)
                             / (n_blocks - 1)))
                 / pi() / 100.0, 6) AS gumbel_scale,
           round((CAST(s1 AS DOUBLE) / n_blocks
                  - 0.5772156649015329
                    * (sqrt(6.0 * ((CAST(s2 AS DOUBLE)
                                    - CAST(s1 AS DOUBLE) * s1 / n_blocks)
                                   / (n_blocks - 1))) / pi())) / 100.0, 6)
               AS gumbel_loc,
           round((CAST(s1 AS DOUBLE) / n_blocks
                  - 0.5772156649015329
                    * (sqrt(6.0 * ((CAST(s2 AS DOUBLE)
                                    - CAST(s1 AS DOUBLE) * s1 / n_blocks)
                                   / (n_blocks - 1))) / pi())
                  - (sqrt(6.0 * ((CAST(s2 AS DOUBLE)
                                  - CAST(s1 AS DOUBLE) * s1 / n_blocks)
                                 / (n_blocks - 1))) / pi())
                    * ln(-ln(0.99))) / 100.0, 6) AS return_level_p99
    FROM mom
    """,
)
def q_gumbel_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit by the method of moments over MONTHLY
    maxima of order value: scale = s*sqrt(6)/pi, loc = mean - gamma*
    scale, plus the 100-month return level loc - scale*ln(-ln(0.99))
    — the capacity-planning / anomaly-threshold readout (what peak
    should we provision for?) that mean/percentile stats of the BULK
    distribution cannot give; block maxima need EVT, not quantiles.
    Row mass dies at the per-month max aggregate (calendar-bounded);
    moments are exact integer-cents sums."""
    o = load_table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_trunc("month", F.col("o_orderdate").cast("date")).alias("mth")
    ).agg(
        F.max(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("mx")
    )
    mom = monthly.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    s1d = F.col("s1").cast("double")
    nb = F.col("n_blocks")
    mean_c = s1d / nb
    var_c = (F.col("s2").cast("double") - s1d * F.col("s1") / nb) / (nb - 1)
    scale_c = F.sqrt(F.lit(6.0) * var_c) / F.lit(3.141592653589793)
    gamma = F.lit(0.5772156649015329)
    loc_c = mean_c - gamma * scale_c
    rl_c = loc_c - scale_c * F.log(-F.log(F.lit(0.99)))
    return mom.select(
        "n_blocks",
        F.round(mean_c / 100.0, 6).alias("mean_max"),
        F.round(scale_c / 100.0, 6).alias("gumbel_scale"),
        F.round(loc_c / 100.0, 6).alias("gumbel_loc"),
        F.round(rl_c / 100.0, 6).alias("return_level_p99"),
    )


@query(
    "q_cochran_q",
    # All-integer identity: Q = (k-1)(k*sum(C_j^2) - N^2) /
    # (k*N - sum(R_i^2)) with k=3 — numerator and denominator are
    # exact int64 (no N/k fraction ever materializes), so Q is ONE
    # exact division, bit-identical with zero rounding.
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS f1,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS f2,
               max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS f3
        FROM events GROUP BY 1
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(f1) AS BIGINT) AS c1,
               CAST(sum(f2) AS BIGINT) AS c2,
               CAST(sum(f3) AS BIGINT) AS c3,
               CAST(sum((f1 + f2 + f3) * (f1 + f2 + f3)) AS BIGINT) AS sr2
        FROM flags
    )
    SELECT n_users, c1 AS c_view, c2 AS c_click, c3 AS c_signup,
           CASE WHEN 3 * (c1 + c2 + c3) - sr2 > 0 THEN
               CAST(2 * (3 * (c1*c1 + c2*c2 + c3*c3)
                         - (c1 + c2 + c3) * (c1 + c2 + c3)) AS DOUBLE)
               / (3 * (c1 + c2 + c3) - sr2)
           END AS q_stat
    FROM agg
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test: do the three binary engagement treatments
    (viewed / clicked / signed-up, one trio per user) have equal
    success rates? The k-related-proportions omnibus that McNemar
    (k=2, q_mcnemar) generalizes to — the within-subject design the
    independent-samples chi-square would get WRONG (each user
    contributes all three flags). Row mass reduces at the per-user
    flag aggregate; Q is computed from five exact int64 sums."""
    ev = load_table(spark, sf_dir, "events")
    t = F.col("event_type")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(t == "view", 1).otherwise(0)).alias("f1"),
        F.max(F.when(t == "click", 1).otherwise(0)).alias("f2"),
        F.max(F.when(t == "signup", 1).otherwise(0)).alias("f3"),
    )
    r = F.col("f1") + F.col("f2") + F.col("f3")
    agg = flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("f1").cast("long").alias("c1"),
        F.sum("f2").cast("long").alias("c2"),
        F.sum("f3").cast("long").alias("c3"),
        F.sum(r * r).cast("long").alias("sr2"),
    )
    c1, c2, c3, sr2 = (F.col(c) for c in ("c1", "c2", "c3", "sr2"))
    n_succ = c1 + c2 + c3
    num = 2 * (3 * (c1 * c1 + c2 * c2 + c3 * c3) - n_succ * n_succ)
    den = 3 * n_succ - sr2
    return agg.select(
        "n_users",
        c1.alias("c_view"),
        c2.alias("c_click"),
        c3.alias("c_signup"),
        F.when(den > 0, num.cast("double") / den).alias("q_stat"),
    )


@query(
    "q_bayes_ab",
    # Same bounded-grid exactness design as q_fisher_exact: the A/B
    # populations come from the md5-order LIMIT-200 sample, so Beta
    # posterior parameters are <= 102 and every lnB() reduces to
    # lookups in a fixed 421-row log-factorial grid; the closed-form
    # P(A>B) sum has <= 102 positive terms and rounds 6dp (no
    # set-inclusion branching anywhere, unlike Fisher).
    oracle="""
    WITH flags AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1
    ),
    sample_u AS (
        SELECT * FROM flags
        ORDER BY md5(concat_ws(':', CAST(user_id AS VARCHAR), 'ab')),
                 user_id
        LIMIT 200
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS na,
               CAST(sum(CASE WHEN user_id % 2 = 0 THEN conv ELSE 0 END)
                    AS BIGINT) AS sa,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS nb,
               CAST(sum(CASE WHEN user_id % 2 = 1 THEN conv ELSE 0 END)
                    AS BIGINT) AS sb
        FROM sample_u
    ),
    post AS (
        SELECT na, sa, nb, sb,
               sa + 1 AS a1, na - sa + 1 AS b1,
               sb + 1 AS a2, nb - sb + 1 AS b2
        FROM cells
    ),
    lf AS MATERIALIZED (
        SELECT i,
               sum(CASE WHEN i <= 1 THEN 0.0
                        ELSE ln(CAST(i AS DOUBLE)) END)
                   OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS lfv
        FROM (SELECT unnest(range(0, 421)) AS i)
    ),
    terms AS (
        SELECT p.na, p.sa, p.nb, p.sb,
               exp(
                   ((SELECT lfv FROM lf WHERE i = p.a2 + t.i - 1)
                    + (SELECT lfv FROM lf WHERE i = p.b1 + p.b2 - 1)
                    - (SELECT lfv FROM lf WHERE i = p.a2 + t.i + p.b1
                                              + p.b2 - 1))
                 - ln(CAST(p.b1 + t.i AS DOUBLE))
                 - ((SELECT lfv FROM lf WHERE i = t.i)
                    + (SELECT lfv FROM lf WHERE i = p.b1 - 1)
                    - (SELECT lfv FROM lf WHERE i = t.i + p.b1))
                 - ((SELECT lfv FROM lf WHERE i = p.a2 - 1)
                    + (SELECT lfv FROM lf WHERE i = p.b2 - 1)
                    - (SELECT lfv FROM lf WHERE i = p.a2 + p.b2 - 1))
               ) AS term
        FROM post p
        JOIN (SELECT unnest(range(0, 421)) AS i) t ON t.i < p.a1
    )
    SELECT max(na) AS na, max(sa) AS sa, max(nb) AS nb, max(sb) AS sb,
           round(sum(term), 6) AS p_a_beats_b
    FROM terms
    """,
)
def q_bayes_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B: P(conversion_A > conversion_B) in closed form
    under Beta(1,1) priors over the fixed 200-user sample (even
    user_id = A, odd = B) — the decision-ready posterior probability
    next to the frequentist desk (Welch p-values, SPRT boundaries,
    Wilson intervals answer different questions; a launch decision
    wants THIS number). Row mass reduces at the per-user flag
    aggregate; the posterior sum runs over a <=102-row support against
    a 421-row log-factorial grid."""
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    flags = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    sample = flags.orderBy(
        F.md5(F.concat_ws(":", F.col("user_id").cast("string"), F.lit("ab"))),
        "user_id",
    ).limit(200)
    even = F.col("user_id") % 2 == 0
    cells = sample.agg(
        F.sum(F.when(even, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(even, F.col("conv")).otherwise(0)).cast("long").alias("sa"),
        F.sum(F.when(~even, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(~even, F.col("conv")).otherwise(0)).cast("long").alias("sb"),
    )
    post = cells.select(
        "na", "sa", "nb", "sb",
        (F.col("sa") + 1).alias("a1"),
        (F.col("na") - F.col("sa") + 1).alias("b1"),
        (F.col("sb") + 1).alias("a2"),
        (F.col("nb") - F.col("sb") + 1).alias("b2"),
    ).transform(hold)  # 1-row scalar table feeding the support join
    # bounded 421-row log-factorial grid (fixed integers, never data)
    lf = (
        spark.range(0, 421)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.when(F.col("i") <= 1, F.lit(0.0)).otherwise(
                    F.log(F.col("i").cast("double"))
                )
            )
            .over(W.orderBy("i").rowsBetween(W.unboundedPreceding, 0))
            .alias("lfv"),
        )
        .transform(hold)  # 9 broadcast lookups reference it
    )
    grid = spark.range(0, 421).select(F.col("id").alias("ti"))
    support = post.join(F.broadcast(grid), F.col("ti") < F.col("a1"))
    lookups = {
        "lf_a2i": F.col("a2") + F.col("ti") - 1,
        "lf_b12": F.col("b1") + F.col("b2") - 1,
        "lf_den1": F.col("a2") + F.col("ti") + F.col("b1") + F.col("b2") - 1,
        "lf_i": F.col("ti"),
        "lf_b1m": F.col("b1") - 1,
        "lf_ib1": F.col("ti") + F.col("b1"),
        "lf_a2m": F.col("a2") - 1,
        "lf_b2m": F.col("b2") - 1,
        "lf_a2b2": F.col("a2") + F.col("b2") - 1,
    }
    s = support
    for alias, expr in lookups.items():
        s = s.join(
            F.broadcast(lf.select(F.col("i").alias("_i"), F.col("lfv").alias(alias))),
            expr == F.col("_i"),
        ).drop("_i")
    term = F.exp(
        (F.col("lf_a2i") + F.col("lf_b12") - F.col("lf_den1"))
        - F.log((F.col("b1") + F.col("ti")).cast("double"))
        - (F.col("lf_i") + F.col("lf_b1m") - F.col("lf_ib1"))
        - (F.col("lf_a2m") + F.col("lf_b2m") - F.col("lf_a2b2"))
    )
    return s.agg(
        F.max("na").alias("na"),
        F.max("sa").alias("sa"),
        F.max("nb").alias("nb"),
        F.max("sb").alias("sb"),
        F.round(F.sum(term), 6).alias("p_a_beats_b"),
    )


@query(
    "q_bradley_terry",
    oracle=stats_ops.bradley_terry_oracle_sql(n_teams=16, rounds=2),
)
def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference strengths (Hunter MM, 2 rounds, 6 dp
    per-round re-sync) over supplier "teams" (suppkey % 16) whose
    matches are consecutive line numbers within an order, winner =
    higher extended price — the pairwise-preference ranking model
    behind RLHF comparison data and league tables, as a first-class
    operator beside q_rank_eval's pointwise metrics. One equi-join
    builds matches, one aggregate reduces to the bounded <=C(16,2)
    pair table, and the MM rounds iterate ONLY that bounded relation
    (operators/stats.bradley_terry)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.bradley_terry(li, n_teams=16, rounds=2)


@query(
    "q_odds_ratio",
    oracle=stats_ops.odds_ratio_oracle_sql(
        "(SELECT c_acctbal > 5000 AS e_col,"
        "        o_orderpriority = '1-URGENT' AS o_col"
        " FROM orders JOIN customer ON o_custkey = c_custkey)",
        "e_col",
        "o_col",
    ),
)
def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2x2 odds ratio + relative risk with Woolf log-CI: does a
    high-balance customer (acctbal > 5000) place urgent orders at
    different odds? The DIRECTIONAL association readout beside
    q_chi_square/q_cramers_v (which only measure strength). One
    conditional aggregate over the order-customer join; exact BIGINT
    cells, ln/sqrt rounded 6dp (operators/stats.odds_ratio_2x2)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
    return stats_ops.odds_ratio_2x2(
        j,
        exposure=F.col("c_acctbal") > 5000,
        outcome=F.col("o_orderpriority") == "1-URGENT",
    )


@query(
    "q_bartlett_test",
    oracle=stats_ops.bartlett_oracle_sql(
        "customer", "c_mktsegment", "floor(c_acctbal * 100)"
    ),
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's variance-homogeneity test across market segments on
    account-balance cents — the equal-variances GATE in front of
    q_anova (and the parametric sibling of q_brown_forsythe). One
    map-combined exact-integer (n, sum, sum-sq) aggregate per group;
    the statistic assembles on the 5-row relation
    (operators/stats.bartlett_test)."""
    customer = load_table(spark, sf_dir, "customer")
    return stats_ops.bartlett_test(
        customer, "c_mktsegment", F.floor(F.col("c_acctbal") * 100)
    )


@query(
    "q_friedman_test",
    oracle=stats_ops.friedman_oracle_sql("events", "user_id", "event_type"),
)
def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman within-subject omnibus: do the event types differ in
    per-user frequency, controlling for each user's overall activity
    level? Blocks = users, treatments = the event-type catalog,
    values = 0-filled per-user counts, average-rank ties — the
    repeated-measures sibling of q_kruskal_wallis. All-integer rank
    identities (doubled half-ranks), exact tie correction
    (operators/stats.friedman_test)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.friedman_test(ev, "user_id", "event_type")


@query(
    "q_ljung_box",
    oracle=stats_ops.ljung_box_oracle_sql(
        "orders", "o_orderdate", "floor(o_totalprice * 100)", max_lag=7
    ),
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test (lags 1..7) on daily revenue cents —
    are the short-horizon autocorrelations jointly zero, i.e. is
    there any structure for a forecast to exploit? The multi-lag
    companion of q_autocorrelation and the residual check behind
    q_forecast_backtest. Row mass reduces to the calendar-bounded
    day series before any window (operators/stats.ljung_box)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.ljung_box(
        orders, "o_orderdate", F.floor(F.col("o_totalprice") * 100), max_lag=7
    )


@query(
    "q_mantel_haenszel",
    oracle=stats_ops.mantel_haenszel_oracle_sql(
        "(SELECT c_mktsegment AS seg,"
        "        c_acctbal > 5000 AS e_col,"
        "        o_orderpriority = '1-URGENT' AS o_col"
        " FROM orders JOIN customer ON o_custkey = c_custkey)",
        "seg",
        "e_col",
        "o_col",
    ),
)
def q_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel common odds ratio of urgent-order vs
    high-balance, STRATIFIED by market segment — the
    confounder-adjusted companion of q_odds_ratio (crude vs adjusted
    gap = Simpson's-paradox readout). Exact per-stratum cells, two
    bounded cross-stratum sums (operators/stats.mantel_haenszel)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
    return stats_ops.mantel_haenszel(
        j,
        "c_mktsegment",
        exposure=F.col("c_acctbal") > 5000,
        outcome=F.col("o_orderpriority") == "1-URGENT",
    )


@query(
    "q_tost_equivalence",
    oracle=stats_ops.tost_oracle_sql(
        "events", "event_type", "value", "view", "click", rel_margin=0.05
    ),
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test: is the mean VIEW value provably within
    ±5% of the mean CLICK value? The reversed-burden A/A-check
    q_ab_test_welch cannot express (absence of significance is not
    equivalence). Welch machinery, data-derived margin, z-critical
    verdict on 6dp-rounded t's (operators/stats.tost_equivalence)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.tost_equivalence(
        ev, "event_type", "value", "view", "click", rel_margin=0.05
    )


@query(
    "q_negbin_fit",
    oracle=stats_ops.negative_binomial_oracle_sql(
        "events", "event_type", "user_id"
    ),
)
def q_negbin_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-user counts per
    event type — the overdispersion diagnostic (variance > mean ⇒ a
    Poisson rate model under-predicts burstiness) beside
    q_fano_burstiness. Exact integer moments, 0-filled units,
    censored fit when v <= m (operators/stats.negative_binomial_fit)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.negative_binomial_fit(ev, "event_type", "user_id")


@query(
    "q_page_hinkley",
    oracle=stats_ops.page_hinkley_oracle_sql(
        "orders", "o_orderdate", "floor(o_totalprice * 100)"
    ),
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley drift statistic per day on daily revenue cents —
    the streaming-monitoring change detector beside q_cusum_changepoint
    (needs a target mean) and q_pettitt_changepoint (retrospective):
    running deviation from the RUNNING mean minus its running minimum.
    Row mass reduces to the calendar before the prefix windows
    (operators/stats.page_hinkley)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.page_hinkley(
        orders, "o_orderdate", F.floor(F.col("o_totalprice") * 100)
    )


_PT_B = 200
_PT_KEY_SQL = (
    "concat_ws('#', CAST(p.event_id AS VARCHAR), CAST(r.b AS VARCHAR))"
)


@query(
    "q_permutation_test",
    # every replicate diff is one IEEE division of exact BIGINT cents
    # sums (deterministic, no rounding); the md5 u01 lane reproduces
    # bit-for-bit in DuckDB (the repo's hash-lane idiom)
    oracle=f"""
    WITH pt_rows AS (
        SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS cents,
               event_type = 'view' AS is_a
        FROM events WHERE event_type IN ('view', 'click')
    ),
    pt_obs AS (
        SELECT CAST(sum(CASE WHEN is_a THEN cents END) AS DOUBLE)
               / sum(CASE WHEN is_a THEN 1 ELSE 0 END)
             - CAST(sum(CASE WHEN NOT is_a THEN cents END) AS DOUBLE)
               / sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS obs_diff
        FROM pt_rows
    ),
    pt_assign AS (
        SELECT r.b, p.cents,
               {{u01}} < 0.5 AS side
        FROM pt_rows p CROSS JOIN range({_PT_B}) r(b)
    ),
    pt_diff AS (
        SELECT b,
               CAST(sum(CASE WHEN side THEN cents END) AS DOUBLE)
               / sum(CASE WHEN side THEN 1 ELSE 0 END)
             - CAST(sum(CASE WHEN NOT side THEN cents END) AS DOUBLE)
               / sum(CASE WHEN NOT side THEN 1 ELSE 0 END) AS diff_b
        FROM pt_assign
        GROUP BY b
        HAVING sum(CASE WHEN side THEN 1 ELSE 0 END) > 0
           AND sum(CASE WHEN NOT side THEN 1 ELSE 0 END) > 0
    )
    SELECT o.obs_diff,
           CAST(count(*) AS BIGINT) AS n_replicates,
           CAST(sum(CASE WHEN abs(d.diff_b) >= abs(o.obs_diff)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           CAST(1 + sum(CASE WHEN abs(d.diff_b) >= abs(o.obs_diff)
                             THEN 1 ELSE 0 END) AS DOUBLE)
               / (1 + count(*)) AS p_value
    FROM pt_diff d CROSS JOIN pt_obs o
    GROUP BY o.obs_diff
    """.replace("{u01}", C.u01_oracle_expr(_PT_KEY_SQL, salt=13)),
)
def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization (approximate permutation) test for the view-vs-
    click mean value difference: 200 deterministic md5 label
    reshuffles build the null distribution, p = (1 + #extreme)/(B+1)
    — the distribution-free SIGNIFICANCE companion to q_bootstrap_ci's
    interval (same replicate fan-out pattern, Poisson weights swapped
    for coin-flip sides). Every replicate diff is one division of
    exact BIGINT cents sums — no float accumulation anywhere.
    Scale shape: the rows x 200 fan-out is map-side after a
    repartition (the bootstrap lesson); per-replicate sums combine
    map-side into a 200-row relation."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    rows = ev.select(
        "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        (F.col("event_type") == "view").alias("is_a"),
    )
    obs = rows.agg(
        (
            F.sum(F.when(F.col("is_a"), F.col("cents"))).cast("double")
            / F.sum(F.when(F.col("is_a"), 1).otherwise(0))
            - F.sum(F.when(~F.col("is_a"), F.col("cents"))).cast("double")
            / F.sum(F.when(~F.col("is_a"), 1).otherwise(0))
        ).alias("obs_diff")
    )
    reps = spark.range(0, _PT_B).select(F.col("id").alias("b"))
    u = C.u01(
        F.concat_ws(
            "#", F.col("event_id").cast("string"), F.col("b").cast("string")
        ),
        salt=13,
    )
    par = ev.sparkSession.sparkContext.defaultParallelism
    assign = (
        rows.repartition(par)  # single-split input before the 200x map
        .crossJoin(F.broadcast(reps))
        .select("b", "cents", (u < 0.5).alias("side"))
    )
    diffs = (
        assign.groupBy("b")
        .agg(
            F.sum(F.when(F.col("side"), F.col("cents"))).cast("double").alias("sa"),
            F.sum(F.when(F.col("side"), 1).otherwise(0)).alias("na"),
            F.sum(F.when(~F.col("side"), F.col("cents"))).cast("double").alias("sb"),
            F.sum(F.when(~F.col("side"), 1).otherwise(0)).alias("nb"),
        )
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "b",
            (F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")).alias(
                "diff_b"
            ),
        )
    )
    extreme = (
        F.abs(F.col("diff_b")) >= F.abs(F.col("obs_diff"))
    ).cast("long")
    return (
        diffs.crossJoin(F.broadcast(obs))
        .groupBy("obs_diff")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
            F.sum(extreme).cast("long").alias("n_extreme"),
            (
                (1 + F.sum(extreme)).cast("double")
                / (1 + F.count(F.lit(1)))
            ).alias("p_value"),
        )
        .select("obs_diff", "n_replicates", "n_extreme", "p_value")
    )


@query(
    "q_mixture_em",
    oracle=stats_ops.gaussian_mixture_oracle_sql(
        "orders", "floor(o_totalprice * 100)", rounds=2
    ),
)
def q_mixture_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component Gaussian mixture over order-value cents via EM
    (2 rounds, parameters rounded and re-synced per round) — the
    soft-clustering / latent-population primitive beside q_kmeans'
    hard assignments: is revenue bimodal, and what are the regimes?
    Underflow-safe odds-form E-step (tails give r->0/1, never NaN);
    one weighted-moment aggregate per round
    (operators/stats.gaussian_mixture_em_1d)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.gaussian_mixture_em_1d(
        orders, F.floor(F.col("o_totalprice") * 100), rounds=2
    )


@query(
    "q_capture_recapture",
    oracle=stats_ops.capture_recapture_oracle_sql("events", "ts", "user_id"),
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the TRUE user population
    from two observation windows (event span split at its midpoint) —
    the under-coverage estimator: how many users exist, including the
    never-seen (no other operator on the desk extrapolates beyond the
    observed). Exact per-user flag aggregate, one exact division,
    6dp CI (operators/stats.capture_recapture)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.capture_recapture(ev, "ts", "user_id")


@query("q_price_index", oracle=stats_ops.price_index_oracle_sql())
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher price indices between the first and
    last order year over parts traded in both — is revenue growth
    price or volume? (the economics companion to
    q_revenue_wow_growth's nominal deltas). Exact-cents unit prices,
    one parts-keyed join, 6dp indices (operators/stats.price_index)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.price_index(li, orders)


@query(
    "q_periodogram",
    oracle=stats_ops.periodogram_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)"
    ),
)
def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-centered periodogram of daily order volume at candidate
    cycle lengths 2..14 days — WHICH cycle dominates the ordering
    series (the frequency-domain scan beside q_seasonal_strength's
    weekly-grid variance split). The trig table is built ONCE in
    Python and injected into both engines as literals, so the DFT
    sums are exact BIGINTs end-to-end; amp rounds 6dp at the single
    sqrt (operators/stats.periodogram)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.periodogram(
        orders.select(F.col("o_orderdate").cast("date").alias("day")), "day"
    )


@query(
    "q_durbin_watson",
    oracle=stats_ops.durbin_watson_oracle_sql(
        "orders",
        "CAST(o_orderdate AS DATE)",
        "floor(o_totalprice * 100)",
    ),
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson autocorrelation diagnostic of daily-revenue
    residuals around the OLS trend — is the linear trend an adequate
    model, or do shocks persist day-over-day? Both quadratic forms
    expand in exact-BIGINT moments over the calendar-filled series
    (hundred-dollar grain, documented bound) — no per-row residual
    exists anywhere (operators/stats.durbin_watson)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.durbin_watson(
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "day",
        F.col("cents"),
    )


@query(
    "q_rmst",
    oracle=stats_ops.rmst_oracle_sql(
        """SELECT date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS t
           FROM events GROUP BY user_id"""
    ),
)
def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time of user lifetimes: the area
    under q_survival_curve's KM step curve up to the longest observed
    lifetime — expected active days per user in ONE number. The
    6dp survival values are recovered as exact micro-unit BIGINTs, so
    the area accumulates integer and divides once
    (operators/stats.rmst)."""
    ev = load_table(spark, sf_dir, "events")
    durs = ev.groupBy("user_id").agg(
        F.datediff(
            F.max(F.col("ts")).cast("date"), F.min(F.col("ts")).cast("date")
        ).alias("t")
    )
    return stats_ops.rmst(durs, "t")


@query(
    "q_atkinson_index",
    oracle=stats_ops.atkinson_oracle_sql(
        """(SELECT o_custkey, CAST(sum(floor(o_totalprice * 100)) AS BIGINT)
               AS cents
            FROM orders GROUP BY 1)""",
        "cents",
    ),
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (eps = 1) of per-customer total
    spend: what fraction of total revenue could be discarded if spend
    were equal under log utility — the welfare-weighted companion to
    q_gini_coefficient. Money values are distinct-per-row, so the
    geometric mean runs at HISTOGRAM GRAIN: 1024 equal-width buckets,
    ln of each bucket's exact mean quantized to micro-units, exact
    BIGINT mass sums, one exp rounded 6dp
    (operators/stats.atkinson_index)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    return stats_ops.atkinson_index(spend, "cents")


@query(
    "q_cronbach_alpha",
    oracle=stats_ops.cronbach_oracle_sql(
        """SELECT o_custkey,
                  CAST(count(*) AS BIGINT) AS x0,
                  CAST(floor(sum(floor(o_totalprice * 100)) / 100000.0)
                       AS BIGINT) AS x1,
                  CAST(count(DISTINCT CAST(date_trunc('month',
                       CAST(o_orderdate AS DATE)) AS DATE)) AS BIGINT) AS x2
           FROM orders GROUP BY 1""",
        ("x0", "x1", "x2"),
    ),
)
def q_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's alpha over three per-customer engagement items
    (order count, spend in k$, active months): do they measure ONE
    underlying loyalty trait — the reliability gate in front of any
    composite engagement score (q_rfm_segments composes exactly these
    axes). Exact BIGINT item moments, one fixed double tree, 6dp
    (operators/stats.cronbach_alpha)."""
    orders = load_table(spark, sf_dir, "orders")
    subj = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("x0"),
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100)) / F.lit(100000.0)
        )
        .cast("long")
        .alias("x1"),
        F.countDistinct(
            F.trunc(F.col("o_orderdate").cast("date"), "month")
        )
        .cast("long")
        .alias("x2"),
    )
    return stats_ops.cronbach_alpha(subj, ("x0", "x1", "x2"))


@query(
    "q_fleiss_kappa",
    oracle=stats_ops.fleiss_oracle_sql(
        """SELECT o.o_orderkey,
                  CASE WHEN o.o_totalprice < 150000 THEN 0
                       WHEN o.o_totalprice < 300000 THEN 1 ELSE 2 END AS c0,
                  CASE WHEN q.qty < 60 THEN 0
                       WHEN q.qty < 120 THEN 1 ELSE 2 END AS c1,
                  CASE WHEN q.ln <= 2 THEN 0
                       WHEN q.ln <= 4 THEN 1 ELSE 2 END AS c2
           FROM orders o
           JOIN (SELECT l_orderkey,
                        CAST(sum(l_quantity) AS BIGINT) AS qty,
                        CAST(count(*) AS BIGINT) AS ln
                 FROM lineitem GROUP BY 1) q
             ON q.l_orderkey = o.o_orderkey""",
        ("c0", "c1", "c2"),
        n_categories=3,
    ),
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa agreement of three rule-based order-size
    labelers (price bands / total-quantity bands / line-count bands)
    — the multi-rater generalization of q_cohens_kappa: do
    independent sizing heuristics agree beyond chance? In-row vote
    flags (no rater fan-out), all-integer moments, exact divisions,
    6dp kappa (operators/stats.fleiss_kappa)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").cast("long").alias("qty"),
        F.count(F.lit(1)).cast("long").alias("ln"),
    )
    subj = orders.join(per_order, "o_orderkey").select(
        F.when(F.col("o_totalprice") < 150000, 0)
        .when(F.col("o_totalprice") < 300000, 1)
        .otherwise(2)
        .alias("c0"),
        F.when(F.col("qty") < 60, 0)
        .when(F.col("qty") < 120, 1)
        .otherwise(2)
        .alias("c1"),
        F.when(F.col("ln") <= 2, 0)
        .when(F.col("ln") <= 4, 1)
        .otherwise(2)
        .alias("c2"),
    )
    return stats_ops.fleiss_kappa(subj, ("c0", "c1", "c2"), n_categories=3)


@query(
    "q_chow_test",
    oracle=stats_ops.chow_oracle_sql(
        "orders",
        "CAST(o_orderdate AS DATE)",
        "floor(o_totalprice * 100)",
    ),
)
def q_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test for a structural break in the daily-revenue linear
    trend at the series midpoint — did the regime CHANGE, or is one
    line adequate (the regression sibling of CUSUM/Pettitt level
    shifts)? Exact per-segment BIGINT moments at k$ grain, pooled by
    integer addition, centered-SSE closed forms, 6dp F
    (operators/stats.chow_test)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.chow_test(
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "day",
        F.col("cents"),
    )


@query(
    "q_mood_median",
    oracle=stats_ops.mood_median_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity"
    ),
)
def q_mood_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do returned/accepted/neither lineitems
    share a common quantity median? The k-group median-location
    omnibus beside q_kruskal_wallis' rank test — maximally robust,
    counts only which side of the POOLED median each row falls on.
    Histogram median (never a row sort), cross-multiplied exact
    cells, micro-quantized term sum
    (operators/stats.mood_median_test)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.mood_median_test(li, "l_returnflag", "l_quantity")


@query(
    "q_grubbs_test",
    oracle=stats_ops.grubbs_oracle_sql(
        "orders", "floor(o_totalprice)"
    ),
)
def q_grubbs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' single-outlier test on order totals (dollar grain):
    is THE most extreme order suspicious under normality — the formal
    one-value verdict beside q_mad_outliers' bulk screen. Deviations
    multiply through by n so the extreme stays exact BIGINT; one
    fixed double tree, 6dp (operators/stats.grubbs_test)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.grubbs_test(
        orders.select(
            F.floor(F.col("o_totalprice")).cast("long").alias("dollars")
        ),
        "dollars",
    )


@query(
    "q_horvitz_thompson",
    oracle=stats_ops.horvitz_thompson_oracle_sql(
        "orders",
        "o_orderkey",
        "CAST(floor(o_totalprice * 100) AS BIGINT)",
        hi_cents=40_000_000,
        mid_cents=20_000_000,
    ),
)
def q_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson estimate of total revenue from a
    size-stratified md5 sample (big orders always in, mid at 1/5,
    small at 1/20): the unbiased read of a BIASED sampling design —
    the telemetry-pipeline estimator beside q_uniform_sample's
    equal-probability draw. Integer 1/pi reweights keep the estimate
    an exact BIGINT cents sum; ht_ratio is one exact division
    (operators/stats.horvitz_thompson)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return stats_ops.horvitz_thompson(
        orders,
        "o_orderkey",
        "cents",
        hi_cents=40_000_000,
        mid_cents=20_000_000,
    )


@query(
    "q_pacf",
    oracle=stats_ops.pacf_oracle_sql("orders", "CAST(o_orderdate AS DATE)"),
)
def q_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF + partial autocorrelation (lags 1-3, Durbin-Levinson) of
    daily order volume — WHICH AR order generates the memory, the
    model-identification readout beside q_autocorrelation (single
    lag) and q_ljung_box (omnibus whiteness). Exact BIGINT lag
    moments over the calendar-filled grid; ACF rounds 6dp BEFORE the
    recursion so both engines recur on identical operands
    (operators/stats.pacf_3)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.pacf_3(
        orders.select(F.col("o_orderdate").cast("date").alias("day")), "day"
    )


@query(
    "q_stratified_att",
    oracle=stats_ops.stratified_att_oracle_sql(
        """SELECT c.c_nationkey AS s0,
                  CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                      AS tr,
                  COALESCE(o.cents, 0) AS cents
           FROM customer c
           LEFT JOIN (SELECT o_custkey,
                             CAST(sum(floor(o_totalprice * 100)) AS BIGINT)
                                 AS cents
                      FROM orders GROUP BY 1) o
             ON o.o_custkey = c.c_custkey""",
        "s0",
        "tr",
        "cents",
    ),
)
def q_stratified_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-stratified treatment-effect estimate: does the
    AUTOMOBILE market segment spend more, once nation-level
    confounding is blocked out? Per-stratum treated/control gaps
    weighted by treated mass, reported beside the naive unadjusted
    gap (the confounding readout) — the cross-sectional companion to
    q_did_estimator. Exact BIGINT stratum moments; terms
    micro-quantized so the cross-stratum sum is exact
    (operators/stats.stratified_att)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    subj = c.join(spend, c["c_custkey"] == spend["o_custkey"], "left").select(
        F.col("c_nationkey").alias("s0"),
        F.when(F.col("c_mktsegment") == "AUTOMOBILE", 1)
        .otherwise(0)
        .alias("tr"),
        F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
    )
    return stats_ops.stratified_att(subj, "s0", "tr", "cents")


@query(
    "q_cohens_h",
    oracle=stats_ops.cohens_h_oracle_sql(
        """(SELECT year(l_shipdate)
              - (SELECT min(year(l_shipdate)) FROM lineitem) AS yr,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
            FROM lineitem)""",
        "yr",
        "ret",
        "1",
        "2",
    ),
)
def q_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h effect size for the return-rate difference between
    the second and third ship years (derived from the data's own min
    year — robust to testdata regeneration) — the MAGNITUDE companion
    to the two-proportion significance desk (chi-square/Wilson/SRM):
    0.2 is small regardless of base rate, which a raw rate gap can't
    claim near 0 or 1. Exact counts, exact divisions, arcsine
    transforms rounded 6dp each (operators/stats.cohens_h)."""
    li = load_table(spark, sf_dir, "lineitem")
    y0 = li.agg(F.min(F.year("l_shipdate")).alias("y0"))
    rel = li.crossJoin(F.broadcast(y0)).select(
        (F.year(F.col("l_shipdate")) - F.col("y0")).cast("long").alias("yr"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    return stats_ops.cohens_h(rel, "yr", F.col("ret"), 1, 2)


@query(
    "q_seasonal_decompose",
    oracle=stats_ops.seasonal_decompose_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)"
    ),
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of daily order volume:
    centered 7-day moving-average trend, then day-of-week means of
    the detrended series — the seasonal PROFILE a forecaster
    subtracts, where q_seasonal_strength reports only the variance
    fraction and q_seasonality_index the raw per-DOW level. Exact MA
    divisions; detrended values micro-quantized so DOW means are
    exact BIGINT sums (operators/stats.seasonal_decompose)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.seasonal_decompose(
        orders.select(F.col("o_orderdate").cast("date").alias("day")), "day"
    )


@query(
    "q_vif",
    oracle=stats_ops.vif_oracle_sql(
        """SELECT o_custkey,
                  CAST(count(*) AS BIGINT) AS x0,
                  CAST(floor(sum(floor(o_totalprice * 100)) / 100000.0)
                       AS BIGINT) AS x1,
                  CAST(count(DISTINCT CAST(date_trunc('month',
                       CAST(o_orderdate AS DATE)) AS DATE)) AS BIGINT) AS x2
           FROM orders GROUP BY 1""",
        ("x0", "x1", "x2"),
    ),
)
def q_vif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance inflation factors for the three per-customer
    engagement items (order count, k$ spend, active months) — the
    collinearity diagnostic in front of multi-feature fits: are the
    coefficients individually meaningful or shared variance in
    disguise? (q_cronbach_alpha asks if the items agree; VIF asks if
    they are REDUNDANT as regressors.) Exact BIGINT moments;
    correlations round 6dp BEFORE the closed form
    (operators/stats.vif_3)."""
    orders = load_table(spark, sf_dir, "orders")
    subj = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("x0"),
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100)) / F.lit(100000.0)
        )
        .cast("long")
        .alias("x1"),
        F.countDistinct(
            F.trunc(F.col("o_orderdate").cast("date"), "month")
        )
        .cast("long")
        .alias("x2"),
    )
    return stats_ops.vif_3(subj, ("x0", "x1", "x2"))


@query(
    "q_mann_kendall",
    oracle=stats_ops.mann_kendall_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)"
    ),
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend verdict on daily order volume —
    the assumption-free IS-there-a-trend test beside the parametric
    OLS slope and the Theil-Sen robust slope. Exact BIGINT pairwise
    signs over the calendar-bounded day grid (never row pairs),
    exact tie correction from the daily-value histogram, 6dp z
    (operators/stats.mann_kendall)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.mann_kendall(
        orders.select(F.col("o_orderdate").cast("date").alias("day")), "day"
    )


@query(
    "q_poisson_2rate",
    oracle=stats_ops.poisson_two_rate_oracle_sql(
        "events", "event_type", "'click'", "'error'"
    ),
)
def q_poisson_2rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-rate Poisson comparison: do clicks arrive faster than
    errors over the same observation window? The count-data sibling
    of the two-proportion desk — conditional z plus the Wald
    log-scale rate-ratio CI. Exact counts, one exact division,
    sqrt/ln/exp rounded 6dp (operators/stats.poisson_two_rate)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.poisson_two_rate(ev, "event_type", "click", "error")


@query(
    "q_diversity_profile",
    oracle=stats_ops.diversity_oracle_sql(
        "customer", "CAST(c_nationkey AS BIGINT)", "c_mktsegment"
    ),
)
def q_diversity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation market-segment diversity profile: Simpson's
    concentration (two random customers match segments), Berger-
    Parker dominance (top segment's share), and richness — the
    concentration triad beside q_group_entropy's Shannon view. ALL
    exact: BIGINT cell counts, single IEEE divisions, zero rounding
    (operators/stats.diversity_profile)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.diversity_profile(
        c.select(
            F.col("c_nationkey").cast("long").alias("nat"), "c_mktsegment"
        ),
        "nat",
        "c_mktsegment",
    )


@query(
    "q_weighted_kappa",
    oracle=stats_ops.weighted_kappa_oracle_sql(
        """SELECT CASE WHEN o.o_totalprice < 150000 THEN 0
                       WHEN o.o_totalprice < 300000 THEN 1 ELSE 2 END AS c0,
                  CASE WHEN q.qty < 60 THEN 0
                       WHEN q.qty < 120 THEN 1 ELSE 2 END AS c1
           FROM orders o
           JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty
                 FROM lineitem GROUP BY 1) q
             ON q.l_orderkey = o.o_orderkey""",
        "c0",
        "c1",
        n_categories=3,
    ),
)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted kappa between the price-band and
    quantity-band order-size raters: adjacent-band disputes cost
    (1/4)^2 of an opposite-end call — the ORDINAL agreement grade
    beside q_cohens_kappa (nominal) and q_fleiss_kappa (multi-rater).
    The quadratic identity collapses the confusion matrix to ONE
    aggregate; kappa is a single exact integer division, zero
    rounding (operators/stats.weighted_kappa)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").cast("long").alias("qty")
    )
    subj = orders.join(per_order, "o_orderkey").select(
        F.when(F.col("o_totalprice") < 150000, 0)
        .when(F.col("o_totalprice") < 300000, 1)
        .otherwise(2)
        .alias("c0"),
        F.when(F.col("qty") < 60, 0)
        .when(F.col("qty") < 120, 1)
        .otherwise(2)
        .alias("c1"),
    )
    return stats_ops.weighted_kappa(subj, "c0", "c1", n_categories=3)


@query(
    "q_abc_analysis",
    oracle=stats_ops.abc_oracle_sql(
        """SELECT l_partkey AS k,
                  CAST(sum(floor(l_extendedprice * 100)) AS BIGINT) AS cents
           FROM lineitem GROUP BY 1"""
    ),
)
def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: class A
    carries the first 80% of revenue, B to 95%, C the tail — the
    assortment split q_lorenz_curve's concentration curve implies.
    VALUE-threshold semantics (ties share a class, no rank
    tiebreaker to drift); the strict-above sum runs via the
    two-stage bucket-offset prefix machinery, never a
    single-partition window over the part catalog
    (operators/stats.abc_analysis)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.abc_analysis(
        li.select(
            "l_partkey", F.floor(F.col("l_extendedprice") * 100).alias("c")
        ),
        "l_partkey",
        F.col("c"),
    )


@query(
    "q_cooks_distance",
    oracle=stats_ops.cooks_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)", "floor(o_totalprice * 100)"
    ),
)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most influential days of the daily-revenue trend by
    Cook's distance — which single days, if dropped, would move the
    fitted line most (the influence member of the regression-
    diagnostics desk beside q_durbin_watson and q_chow_test). Exact
    BIGINT moments, closed-form leverage, D rounded 6dp BEFORE the
    day-tiebroken heap-select (operators/stats.cooks_distance_top)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.cooks_distance_top(
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "day",
        F.col("cents"),
    )


@query(
    "q_price_elasticity",
    oracle=stats_ops.price_elasticity_oracle_sql(),
)
def q_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-brand log-log price elasticity of demand: OLS slope of
    ln(mean line quantity) on ln(mean unit price) across part brands
    — do cheaper brands move proportionally more units? ln touches
    ONLY the 25 brand means (micro-quantized), so the regression
    moments are exact BIGINTs (operators/stats.price_elasticity)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return stats_ops.price_elasticity(li, part)


@query(
    "q_order_gaps",
    oracle=stats_ops.order_gap_oracle_sql(
        "orders", "o_custkey", "CAST(o_orderdate AS DATE)", "o_orderkey"
    ),
)
def q_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-cadence distribution: days between a customer's
    consecutive orders, as exact p50/p90 off the gap histogram plus
    the mean — the replenishment-planning readout beside
    q_interevent_exponential's fitted model. Per-customer lag with
    the o_orderkey tiebreaker (total order); gap values are
    calendar-bounded so no row-sized window exists
    (operators/stats.order_gap_percentiles)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.order_gap_percentiles(
        orders.select(
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("day"),
            "o_orderkey",
        ),
        "o_custkey",
        "day",
        "o_orderkey",
    )


_SIZE_BANDS_SQL = """SELECT o.o_orderkey,
                  CASE WHEN o.o_totalprice < 150000 THEN 0
                       WHEN o.o_totalprice < 300000 THEN 1 ELSE 2 END AS c0,
                  CASE WHEN q.qty < 60 THEN 0
                       WHEN q.qty < 120 THEN 1 ELSE 2 END AS c1,
                  CASE WHEN q.ln <= 2 THEN 0
                       WHEN q.ln <= 4 THEN 1 ELSE 2 END AS c2
           FROM orders o
           JOIN (SELECT l_orderkey,
                        CAST(sum(l_quantity) AS BIGINT) AS qty,
                        CAST(count(*) AS BIGINT) AS ln
                 FROM lineitem GROUP BY 1) q
             ON q.l_orderkey = o.o_orderkey"""


def _size_band_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three ordinal order-size raters shared by the agreement
    desk (fleiss/weighted-kappa/kendall-w/stuart-maxwell)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").cast("long").alias("qty"),
        F.count(F.lit(1)).cast("long").alias("ln"),
    )
    return orders.join(per_order, "o_orderkey").select(
        F.when(F.col("o_totalprice") < 150000, 0)
        .when(F.col("o_totalprice") < 300000, 1)
        .otherwise(2)
        .alias("c0"),
        F.when(F.col("qty") < 60, 0)
        .when(F.col("qty") < 120, 1)
        .otherwise(2)
        .alias("c1"),
        F.when(F.col("ln") <= 2, 0)
        .when(F.col("ln") <= 4, 1)
        .otherwise(2)
        .alias("c2"),
    )


@query(
    "q_kendall_w",
    oracle=stats_ops.kendall_w_oracle_sql(
        _SIZE_BANDS_SQL, ("c0", "c1", "c2"), n_categories=3
    ),
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's W concordance of the three ordinal order-size
    raters — do price, quantity, and line-count bands RANK orders
    the same way overall? Completes the agreement desk (Cohen's /
    weighted / Fleiss / W). Tied micro-ranks off bounded category
    histograms keep the pairwise Spearman moments exact BIGINT at
    any scale (raw rank cross-moments are O(n^3) and overflow)
    (operators/stats.kendall_w)."""
    return stats_ops.kendall_w(
        _size_band_subjects(spark, sf_dir), ("c0", "c1", "c2"), 3
    )


@query(
    "q_stuart_maxwell",
    oracle=stats_ops.stuart_maxwell_oracle_sql(
        _SIZE_BANDS_SQL, "c0", "c1"
    ),
)
def q_stuart_maxwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stuart-Maxwell marginal-homogeneity test between the price
    and quantity order-size raters: do the two labelers use the
    small/mid/large bands at the same overall rates — the 3-category
    generalization of q_mcnemar. Exact BIGINT cells, closed-form 2x2
    inverse, chi2 as ONE exact division
    (operators/stats.stuart_maxwell)."""
    return stats_ops.stuart_maxwell(
        _size_band_subjects(spark, sf_dir), "c0", "c1"
    )


@query(
    "q_indirect_standardization",
    oracle=stats_ops.indirect_standardization_oracle_sql(
        """(SELECT s.s_nationkey AS nat,
                   year(l.l_shipdate) AS yr,
                   CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
            FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey)""",
        "nat",
        "yr",
        "ret",
    ),
)
def q_indirect_standardization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indirectly standardized return ratios per supplier nation
    (SMR): observed returns vs the returns expected if the GLOBAL
    per-ship-year return rates applied to each nation's shipment mix
    — is a nation's return rate high, or is its year mix just
    different? Exact cell counts, exact global rates, micro-quantized
    expected mass (operators/stats.indirect_standardization)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    base = li.join(sup, li["l_suppkey"] == sup["s_suppkey"]).select(
        F.col("s_nationkey").alias("nat"),
        F.year("l_shipdate").alias("yr"),
        (F.col("l_returnflag") == "R").cast("long").alias("ret"),
    )
    return stats_ops.indirect_standardization(base, "nat", "yr", F.col("ret"))


@query(
    "q_fisher_z_corr",
    oracle=stats_ops.fisher_z_oracle_sql(
        """(SELECT year(l_shipdate)
              - (SELECT min(year(l_shipdate)) FROM lineitem) AS yr,
                  CAST(l_quantity AS BIGINT) AS x,
                  CAST(floor(l_extendedprice) AS BIGINT) AS y
            FROM lineitem)""",
        "yr",
        "x",
        "y",
        "1",
        "2",
    ),
)
def q_fisher_z_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher z-test: did the quantity-price correlation CHANGE
    between the second and third ship years (data-relative years,
    regeneration-robust)? The second-order question the correlation
    matrix can't answer. Exact per-group moments (dollar-grain
    price); r and atanh round 6dp before the comparison
    (operators/stats.fisher_z_corr)."""
    li = load_table(spark, sf_dir, "lineitem")
    y0 = li.agg(F.min(F.year("l_shipdate")).alias("y0"))
    base = li.crossJoin(F.broadcast(y0)).select(
        (F.year(F.col("l_shipdate")) - F.col("y0")).cast("long").alias("yr"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice")).cast("long").alias("y"),
    )
    return stats_ops.fisher_z_corr(base, "yr", "x", "y", 1, 2)


@query(
    "q_variance_ratio",
    oracle=stats_ops.variance_ratio_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)", "floor(o_totalprice * 100)"
    ),
)
def q_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo-MacKinlay variance ratios VR(2/5/10) of daily revenue —
    the random-walk diagnostic (VR ~ 1 random walk, < 1 mean
    reversion, > 1 trending) beside the correlation view of
    q_autocorrelation/q_pacf. Exact BIGINT lag-difference moments
    over the calendar-filled grid, k$ grain, 6dp ratios
    (operators/stats.variance_ratio)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.variance_ratio(
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "day",
        F.col("cents"),
    )


@query(
    "q_hurst_rs",
    oracle=stats_ops.hurst_oracle_sql("orders", "CAST(o_orderdate AS DATE)"),
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of daily order volume by rescaled-range
    analysis over 8/16/32/64-day blocks — the LONG-memory diagnostic
    (H ~ 0.5 random, > 0.5 persistent) beside the short-lag
    ACF/PACF/variance-ratio views. Exact micro-quantized block walks;
    ln(s) grid built once in Python (operators/stats.hurst_rs)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.hurst_rs(
        orders.select(F.col("o_orderdate").cast("date").alias("day")), "day"
    )


@query(
    "q_logistic_growth",
    oracle=stats_ops.logistic_growth_oracle_sql(
        "orders", "o_custkey", "CAST(o_orderdate AS DATE)"
    ),
)
def q_logistic_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic S-curve fit of cumulative customer adoption (first
    orders): growth rate r and saturation midpoint t0 from the
    linearized logit regression, cap m = 1.05 * observed max — WHEN
    does acquisition saturate, the forecast companion to
    q_user_growth's raw curve. Exact adopter grid; micro-quantized
    logit; exact OLS moments (operators/stats.logistic_growth)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.logistic_growth(
        orders.select(
            "o_custkey", F.col("o_orderdate").cast("date").alias("day")
        ),
        "day",
        "o_custkey",
    )


@query(
    "q_growth_accounting",
    oracle=stats_ops.growth_accounting_oracle_sql(
        "orders", "o_custkey", "CAST(o_orderdate AS DATE)"
    ),
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly customer growth accounting: every active month
    decomposes into new / retained / resurrected, with churn
    attributed to the month after the lapse — WHY the active-customer
    curve moved (q_user_growth shows only that it did). All exact
    counts over the deduped (customer, month) relation; entity-
    partitioned windows (operators/stats.growth_accounting)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.growth_accounting(
        orders.select(
            "o_custkey", F.col("o_orderdate").cast("date").alias("day")
        ),
        "o_custkey",
        "day",
    )


@query(
    "q_jonckheere",
    oracle=stats_ops.jonckheere_oracle_sql(
        """(SELECT o.o_orderkey,
                   CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS pri,
                   q.qty
            FROM orders o
            JOIN (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS qty
                  FROM lineitem GROUP BY 1) q
              ON q.l_orderkey = o.o_orderkey)""",
        "pri",
        "qty",
    ),
)
def q_jonckheere(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere-Terpstra ordered-alternative test: does total
    order quantity shift monotonically with order PRIORITY (the
    a-priori 1-URGENT..5-LOW order)? The directional power upgrade
    over q_kruskal_wallis when the group order is real. Doubled
    exact-integer pairwise U's over the bounded (priority x quantity)
    grid (operators/stats.jonckheere_terpstra)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").cast("long").alias("qty")
    )
    # Broadcast the slim (orderkey, priority) projection: the per-order
    # aggregate then streams straight from its own exchange into the
    # BHJ — the former SortMergeJoin re-exchanged BOTH order-count-sized
    # sides just to attach one small column (r14, guide §3.1).
    pri = F.broadcast(
        orders.select(
            "o_orderkey",
            F.substring("o_orderpriority", 1, 1).cast("long").alias("pri"),
        )
    )
    subj = per.join(pri, "o_orderkey").select("pri", "qty")
    return stats_ops.jonckheere_terpstra(subj, "pri", "qty")


@query(
    "q_dunn_test",
    oracle=stats_ops.dunn_oracle_sql(
        "lineitem", "l_returnflag", "l_quantity"
    ),
)
def q_dunn_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc pairwise rank comparisons of quantity between
    the three return-flag groups — WHICH pairs differ, after
    q_kruskal_wallis' omnibus. Pooled doubled avg-ranks off the value
    histogram, exact tie correction, 6dp z per pair
    (operators/stats.dunn_test)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.dunn_test(li, "l_returnflag", "l_quantity")


@query(
    "q_partial_correlation",
    oracle=stats_ops.partial_corr_oracle_sql(
        """SELECT o_custkey,
                  CAST(count(*) AS BIGINT) AS x0,
                  CAST(floor(sum(floor(o_totalprice * 100)) / 100000.0)
                       AS BIGINT) AS x1,
                  CAST(count(DISTINCT CAST(date_trunc('month',
                       CAST(o_orderdate AS DATE)) AS DATE)) AS BIGINT) AS x2
           FROM orders GROUP BY 1""",
        ("x0", "x1", "x2"),
    ),
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order partial correlations among the per-customer
    engagement items (order count, k$ spend, active months): does
    the count-spend link survive once tenure is held fixed — the
    confounder-controlled reading beside q_vif's redundancy view.
    Exact moments; pairwise r's round 6dp before the closed form
    (operators/stats.partial_correlation)."""
    orders = load_table(spark, sf_dir, "orders")
    subj = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("x0"),
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100)) / F.lit(100000.0)
        )
        .cast("long")
        .alias("x1"),
        F.countDistinct(
            F.trunc(F.col("o_orderdate").cast("date"), "month")
        )
        .cast("long")
        .alias("x2"),
    )
    return stats_ops.partial_correlation(subj, ("x0", "x1", "x2"))


@query(
    "q_iqr_outliers",
    oracle=stats_ops.iqr_oracle_sql("orders", "floor(o_totalprice)"),
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey boxplot fences on order totals (dollar grain): how many
    orders sit outside [Q1 - 1.5 IQR, Q3 + 1.5 IQR] — THE standard
    distribution-free screen beside q_mad_outliers (median) and
    q_grubbs_test (normal). Quantiles ride the two-stage
    bucket-offset machinery (money values are row-sized histograms);
    fences double through so 1.5x stays exact integer
    (operators/stats.iqr_outliers)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.iqr_outliers(
        orders.select(F.floor("o_totalprice").cast("long").alias("dollars")),
        "dollars",
    )


_PAIRED_ARGS = dict(
    table="orders",
    unit_sql="o_custkey",
    key_sql="CAST(date_diff('day', DATE '1970-01-01',"
    " CAST(o_orderdate AS DATE)) AS BIGINT) * 10000000000 + o_orderkey",
    units_sql="floor(o_totalprice)",
)


def _paired_spark_inputs(spark: SparkSession, sf_dir: str):
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_custkey",
            (
                F.datediff(
                    F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
                ).cast("long")
                * 10_000_000_000
                + F.col("o_orderkey")
            ).alias("ok"),
            F.floor("o_totalprice").cast("long").alias("dollars"),
        ),
        "o_custkey",
        F.col("ok"),
        F.col("dollars"),
    )


@query(
    "q_paired_t",
    oracle=stats_ops.paired_t_oracle_sql(**_PAIRED_ARGS),
)
def q_paired_t(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired t-test: did the SAME customers' order values move
    between their first and last orders — the within-subject design
    the unpaired Welch/TOST desk can't give (each customer is their
    own control). Dollar-grain exact differences via min_by/max_by on
    a unique composite key (no window, no self-join)
    (operators/stats.paired_t_test)."""
    df, u, k, v = _paired_spark_inputs(spark, sf_dir)
    return stats_ops.paired_t_test(df, u, k, v)


@query(
    "q_sign_test",
    oracle=stats_ops.sign_test_oracle_sql(**_PAIRED_ARGS),
)
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test on first-vs-last order values: upward vs
    downward movers, zeros dropped — the assumption-free floor of
    the paired desk. All-exact counts, one 6dp z
    (operators/stats.sign_test)."""
    df, u, k, v = _paired_spark_inputs(spark, sf_dir)
    return stats_ops.sign_test(df, u, k, v)


@query(
    "q_wilcoxon",
    oracle=stats_ops.wilcoxon_oracle_sql(**_PAIRED_ARGS),
)
def q_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on first-vs-last order values —
    the magnitude-aware middle of the paired desk (sign test ignores
    size; paired t assumes normality). Doubled |d| ranks via the
    bucket-offset machinery (money differences are row-sized
    histograms); exact BIGINT W+
    (operators/stats.wilcoxon_signed_rank)."""
    df, u, k, v = _paired_spark_inputs(spark, sf_dir)
    return stats_ops.wilcoxon_signed_rank(df, u, k, v)


@query(
    "q_hash_uniformity",
    oracle=stats_ops.hash_uniformity_oracle_sql("orders", "o_orderkey"),
)
def q_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniformity QA of the engine's own md5 sampling variate over
    256 buckets: ALL-EXACT chi-square and KS-D against uniform — the
    self-audit in front of every md5-driven operator (samplers,
    permutation test, bootstrap, DP noise): a biased variate silently
    biases them all (operators/stats.hash_uniformity)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.hash_uniformity(orders, "o_orderkey")


@query(
    "q_benford_second",
    oracle=stats_ops.benford_second_oracle_sql("orders", "o_totalprice"),
)
def q_benford_second(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-significant-digit Benford audit of order totals — the
    forensic escalation of q_benford_audit: first digits survive
    naive fabrication, second digits rarely do, and price-point
    policies surface here first. Expected shares are Python-built
    micro literals shared by both engines
    (operators/stats.benford_second_digit)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.benford_second_digit(orders, "o_totalprice")


@query(
    "q_price_endings",
    oracle=stats_ops.price_endings_oracle_sql(
        "orders", "CAST(floor(o_totalprice * 100) AS BIGINT)"
    ),
)
def q_price_endings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-ending audit: the top-10 cents-mod-100 endings of order
    totals plus the ALL-EXACT uniform chi-square — real pricing
    policy concentrates on .99/.00/.50; uniform endings flag
    generated values (operators/stats.price_endings)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.price_endings(
        orders.select(
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents")
        ),
        "cents",
    )


@query(
    "q_top_share",
    oracle=stats_ops.top_share_oracle_sql(
        """SELECT o_custkey, CAST(sum(floor(o_totalprice * 100)) AS BIGINT)
               AS cents
           FROM orders GROUP BY 1""",
        pct=80,
    ),
)
def q_top_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 KPI: revenue share of customers above the 80th spend
    percentile — the one number the Lorenz/Gini/ABC machinery feeds
    executives. Value-threshold semantics (threshold ties count as
    top, no rank drift); the percentile rides the bucket-offset
    machinery (operators/stats.top_share)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")
    )
    return stats_ops.top_share(spend, "cents", pct=80)


@query(
    "q_activity_heatmap",
    oracle=stats_ops.activity_heatmap_oracle_sql("events", "ts"),
)
def q_activity_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week x hour event-activity heatmap: counts and exact
    shares over the fixed 168-cell grid — when load actually
    arrives, the capacity-planning readout behind every ops
    dashboard (operators/stats.activity_heatmap)."""
    ev = load_table(spark, sf_dir, "events")
    return stats_ops.activity_heatmap(ev, "ts")


@query(
    "q_woe_iv",
    oracle=stats_ops.woe_iv_oracle_sql(
        "(SELECT * FROM events WHERE event_type IN ('purchase', 'view'))",
        "value",
        "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END",
        denom_cents=50000,
        n_bins=10,
    ),
)
def q_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence + information value of the event-value
    feature against is-purchase — THE credit-risk feature screen (IV
    < 0.02 useless, > 0.3 strong), sharing the fixed binning
    machinery of q_psi_drift and q_calibration_bins. Exact-integer
    WoE ratios through ln, micro-quantized IV mass
    (operators/stats.woe_iv)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin(["purchase", "view"])
    )
    return stats_ops.woe_iv(
        ev.select(
            "value",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("label"),
        ),
        "value",
        "label",
        denom_cents=50000,
        n_bins=10,
    )


@query(
    "q_oaxaca",
    oracle=stats_ops.oaxaca_oracle_sql(
        """SELECT c.c_mktsegment AS seg,
                  COALESCE(o.cnt, 0) AS x,
                  COALESCE(o.kd, 0) AS y
           FROM customer c
           LEFT JOIN (SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
                             CAST(floor(sum(floor(o_totalprice * 100))
                                        / 100000.0) AS BIGINT) AS kd
                      FROM orders GROUP BY 1) o
             ON o.o_custkey = c.c_custkey""",
        "seg",
        "x",
        "y",
        "'AUTOMOBILE'",
    ),
)
def q_oaxaca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oaxaca-Blinder decomposition of the AUTOMOBILE-vs-rest spend
    gap: endowment (they simply order more) vs coefficient (the same
    order count converts to spend differently) — the
    explains-the-gap economics reading beside q_stratified_att's
    blocked estimate. Exact conditional moments; reference slope
    rounds 6dp before the split (operators/stats.oaxaca_blinder)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.floor(
            F.sum(F.floor(F.col("o_totalprice") * 100)) / F.lit(100000.0)
        )
        .cast("long")
        .alias("kd"),
    )
    subj = c.join(per, c["c_custkey"] == per["o_custkey"], "left").select(
        F.col("c_mktsegment").alias("seg"),
        F.coalesce("cnt", F.lit(0)).alias("x"),
        F.coalesce("kd", F.lit(0)).alias("y"),
    )
    return stats_ops.oaxaca_blinder(subj, "seg", "x", "y", "AUTOMOBILE")


@query(
    "q_user_mtbf",
    oracle=stats_ops.user_mtbf_oracle_sql(
        "(SELECT * FROM events WHERE event_type = 'error')",
        "user_id",
        "ts",
        "event_id",
    ),
)
def q_user_mtbf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user mean/median time between error events — the
    reliability desk's MTBF readout (median far below the mean =
    heavy-tailed failure bursts). Entity-partitioned gaps with the
    event_id tiebreaker, quantized to minutes so the median reads
    off a span-bounded histogram (operators/stats.user_mtbf)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "error"
    )
    return stats_ops.user_mtbf(ev, "user_id", "ts", "event_id")


@query(
    "q_tukey_biweight",
    oracle=stats_ops.tukey_biweight_oracle_sql(
        "orders", "floor(o_totalprice)"
    ),
)
def q_tukey_biweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey biweight robust mean of order totals (dollar grain, 2
    reweighting rounds): every order votes with weight (1-u^2)^2
    fading to zero at 4.685 sigma — the smooth member of the robust-
    location desk beside trimmed/winsorized cuts and MAD flags.
    Micro-quantized weights keep each round's sums exact BIGINT; the
    center re-rounds 6dp per round so both engines iterate on
    identical operands (operators/stats.tukey_biweight)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.tukey_biweight(
        orders.select(F.floor("o_totalprice").cast("long").alias("dollars")),
        "dollars",
    )


@query(
    "q_control_chart",
    oracle=stats_ops.control_chart_oracle_sql(
        "orders", "CAST(o_orderdate AS DATE)", "floor(o_totalprice * 100)"
    ),
)
def q_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals) control chart of daily revenue: center
    line, average moving range, 2.66*MR limits, and the
    out-of-control day counts — the SPC monitoring readout beside
    the changepoint family (CUSUM/Pettitt locate a shift; the chart
    names WHICH days escape common-cause noise). Exact k$-grain
    values and integer moving ranges
    (operators/stats.control_chart_xmr)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.control_chart_xmr(
        orders.select(
            F.col("o_orderdate").cast("date").alias("day"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "day",
        F.col("cents"),
    )


@query(
    "q_chi_residuals",
    oracle=stats_ops.chi_residuals_oracle_sql(
        "customer", "CAST(c_nationkey AS BIGINT)", "c_mktsegment"
    ),
)
def q_chi_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized residuals of the nation x market-segment
    contingency table: WHICH cells drive the dependence q_chi_square
    only declares (|r| > 2 marks the drivers). Exact cells and
    marginals; one sqrt, 6dp (operators/stats.chi_residuals)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.chi_residuals(
        c.select(
            F.col("c_nationkey").cast("long").alias("nat"), "c_mktsegment"
        ),
        "nat",
        "c_mktsegment",
    )


# --- r13 series desk: shared daily-revenue series (k$ grain) -------------

_DAILY_KUSD_SQL = """SELECT CAST(o_orderdate AS DATE) AS day,
       CAST(CAST(sum(floor(o_totalprice * 100)) AS BIGINT) // 100000
            AS BIGINT) AS v
FROM orders GROUP BY 1"""


def _daily_kusd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily revenue at k$ grain: exact cents sum per day, then one
    integer division — BIGINT on both engines. k$ keeps every
    second-moment sum these desks take inside int64 to ~1e6 days x
    1e6 k$/day (the r9 micro-grain overflow lesson)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long").alias("cents")
        )
        .select("day", F.expr("CAST(cents DIV 100000 AS BIGINT)").alias("v"))
    )


@query(
    "q_von_neumann",
    oracle=stats_ops.von_neumann_oracle_sql(_DAILY_KUSD_SQL),
)
def q_von_neumann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """von Neumann ratio of daily revenue: is tomorrow's revenue
    independent of today's (eta ~ 2) or momentum-driven (eta < 2)?
    The raw-series ancestor of q_durbin_watson and the numeric
    sibling of q_runs_test — exact integer sums, one division
    (operators/stats.von_neumann_ratio)."""
    return stats_ops.von_neumann_ratio(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_snht",
    oracle=stats_ops.snht_oracle_sql(_DAILY_KUSD_SQL),
)
def q_snht(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard Normal Homogeneity Test over daily revenue: locate
    the most likely level shift, with the edge sensitivity Pettitt's
    rank statistic lacks (q_pettitt_changepoint pairs with this).
    Rounded z-units per split, argmax on the rounded statistic with
    day tiebreak (operators/stats.snht_test)."""
    return stats_ops.snht_test(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_buishand_range",
    oracle=stats_ops.buishand_oracle_sql(_DAILY_KUSD_SQL),
)
def q_buishand_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buishand rescaled-range statistic over daily revenue: the
    cumulative-deviation excursion envelope, the third member of the
    homogeneity desk (SNHT z-scores a split, Pettitt ranks it, this
    reads the whole partial-sum range)
    (operators/stats.buishand_range)."""
    return stats_ops.buishand_range(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_permutation_entropy",
    oracle=stats_ops.permutation_entropy_oracle_sql(_DAILY_KUSD_SQL),
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation entropy (order-3 ordinal patterns) of daily
    revenue: the model-free complexity gauge — monotone-rescale-
    invariant where q_periodogram and q_pacf read linear structure.
    27 exact tie-aware pattern classes, vocabulary-bounded p*ln(p)
    (operators/stats.permutation_entropy)."""
    return stats_ops.permutation_entropy(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_huber_m",
    oracle=stats_ops.huber_m_oracle_sql("orders", "floor(o_totalprice)"),
)
def q_huber_m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the typical order total (k = 1.345, 2
    IRLS rounds): the bounded-influence middle ground of the robust-
    location desk — q_trimmed_mean hard-cuts the tails,
    q_tukey_biweight redescends to zero, Huber keeps outlier votes
    alive at 1/|u| weight. Dollar grain, micro-quantized weights,
    exact BIGINT sums per round (operators/stats.huber_m_location)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.huber_m_location(
        orders.select(F.floor("o_totalprice").cast("long").alias("dollars")),
        "dollars",
    )


@query(
    "q_deming_regression",
    oracle=stats_ops.deming_oracle_sql(
        "lineitem",
        "CAST(l_quantity AS BIGINT)",
        "CAST(floor(l_extendedprice / 1000) AS BIGINT)",
    ),
)
def q_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (errors-in-variables) fit of line price (k$) on
    quantity: both sides of a procurement record carry measurement
    noise, so the symmetric perpendicular-distance slope is the
    honest one — OLS (q_grouped_ols_trend) would bias it toward
    zero. Quantity <= 50 and k$ <= ~110 keep every moment sum inside
    int64 past sf100 (operators/stats.deming_regression)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.deming_regression(
        li.select(
            F.col("l_quantity").cast("long").alias("x"),
            F.floor(F.col("l_extendedprice") / 1000).cast("long").alias("y"),
        ),
        "x",
        "y",
    )


@query(
    "q_ansari_bradley",
    oracle=stats_ops.ansari_bradley_oracle_sql(
        """SELECT CAST(floor(c_acctbal) AS BIGINT) AS v,
                  CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
                      AS flag
           FROM customer
           WHERE c_mktsegment IN ('AUTOMOBILE', 'HOUSEHOLD')"""
    ),
)
def q_ansari_bradley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ansari-Bradley scale test: are AUTOMOBILE account balances
    more DISPERSED than HOUSEHOLD ones? The rank-based member of the
    variance-comparison desk (Bartlett/Brown-Forsythe compare
    centered moments; edge-weighted ranks need no normality).
    Doubled-midrank integer algebra on the dollar-value histogram
    (operators/stats.ansari_bradley)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.ansari_bradley(
        c.filter(F.col("c_mktsegment").isin("AUTOMOBILE", "HOUSEHOLD")).select(
            F.floor("c_acctbal").cast("long").alias("v"),
            (F.col("c_mktsegment") == "AUTOMOBILE").cast("long").alias("flag"),
        ),
        "flag",
        "v",
    )


_QUADE_CELLS_SQL = """SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate)
            AS BIGINT) AS blk,
       o_orderpriority AS trt,
       CAST(sum(floor(o_totalprice * 100)) AS BIGINT) AS val
FROM orders GROUP BY 1, 2"""


@query("q_quade_test", oracle=stats_ops.quade_oracle_sql(_QUADE_CELLS_SQL))
def q_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test of order-priority revenue across month blocks:
    Friedman's within-block ranking, but months with a WIDER
    priority spread vote with proportionally larger weight — the
    right default when block effects differ in magnitude. Exact
    doubled-midrank integers at both rank levels; the x16 scale
    cancels in the F ratio (operators/stats.quade_test)."""
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.select(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
        .cast("long")
        .alias("blk"),
        F.col("o_orderpriority").alias("trt"),
        F.floor(F.col("o_totalprice") * 100).alias("cents"),
    )
    return stats_ops.quade_test(cells, "blk", "trt", "cents")


@query(
    "q_gamma_fit",
    oracle=stats_ops.gamma_fit_oracle_sql(
        "orders", "o_orderpriority", "CAST(floor(o_totalprice) AS BIGINT)"
    ),
)
def q_gamma_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma method-of-moments fit of order totals per priority:
    the positive-skew body model of the distribution-fitting desk
    (q_negbin_fit covers counts, q_gumbel_maxima the extremes).
    Dollar grain keeps sum(v^2) inside int64 past sf100
    (operators/stats.gamma_moments_fit)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.gamma_moments_fit(
        orders.select(
            "o_orderpriority",
            F.floor("o_totalprice").cast("long").alias("dollars"),
        ),
        "o_orderpriority",
        "dollars",
    )


@query(
    "q_lognormal_fit",
    oracle=stats_ops.lognormal_fit_oracle_sql(
        "lineitem", "CAST(l_quantity AS BIGINT)"
    ),
)
def q_lognormal_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of line quantities: mu/sigma of the log — the
    multiplicative-process model, fitted entirely on the ~50-value
    quantity histogram (vocabulary-bounded log sums)
    (operators/stats.lognormal_fit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.lognormal_fit(
        li.select(F.col("l_quantity").cast("long").alias("qty")), "qty"
    )


@query(
    "q_beta_fit",
    oracle=stats_ops.beta_fit_oracle_sql(
        "lineitem", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"
    ),
)
def q_beta_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta method-of-moments fit of the discount fraction: the
    bounded-[0,1] member of the fitting desk — normal summaries
    misstate mass near the walls where discounts live. Integer
    percent grain in, exact rescaled moments out
    (operators/stats.beta_moments_fit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.beta_moments_fit(
        li.select(
            F.floor(F.col("l_discount") * 100 + 0.5).cast("long").alias("pct")
        ),
        "pct",
    )


@query(
    "q_weibull_fit",
    oracle=stats_ops.weibull_fit_oracle_sql(
        "lineitem", "CAST(l_quantity AS BIGINT)"
    ),
)
def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull probability-plot fit of line quantities: shape from
    the linearized EDF over the bounded quantity vocabulary — the
    duration/reliability member of the fitting desk (monotone-hazard
    families the gamma/lognormal fits can't express). ln_scale is
    emitted un-exponentiated (cross-engine exp drift)
    (operators/stats.weibull_edf_fit)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.weibull_edf_fit(
        li.select(F.col("l_quantity").cast("long").alias("qty")), "qty"
    )


@query(
    "q_palma_hoover",
    oracle=stats_ops.palma_hoover_oracle_sql(
        """SELECT CAST(sum(floor(o_totalprice)) AS BIGINT) AS v
           FROM orders GROUP BY o_custkey"""
    ),
)
def q_palma_hoover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio + Hoover index of per-customer spend: the
    tail-vs-base and mass-transfer inequality readouts beside
    q_gini_coefficient / q_atkinson_index / q_theil_index —
    value-threshold deciles off the spend histogram, exact-integer
    Hoover numerator (operators/stats.palma_hoover)."""
    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor("o_totalprice")).cast("long").alias("v")
    )
    return stats_ops.palma_hoover(spend, "v")


@query(
    "q_log_cagr",
    oracle=stats_ops.log_cagr_oracle_sql(
        "orders",
        "o_orderpriority",
        "year(o_orderdate)",
        "floor(o_totalprice * 100)",
    ),
)
def q_log_cagr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority revenue log-CAGR between the first and last
    active year: one compound growth rate per segment, in log units
    (the growth desk's single-number compression of
    q_revenue_wow_growth's weekly series)
    (operators/stats.log_cagr)."""
    orders = load_table(spark, sf_dir, "orders")
    return stats_ops.log_cagr(
        orders.select(
            "o_orderpriority",
            F.year("o_orderdate").cast("long").alias("y"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        ),
        "o_orderpriority",
        "y",
        "cents",
    )


@query(
    "q_neyman_allocation",
    oracle=stats_ops.neyman_oracle_sql(
        "customer", "c_mktsegment", "CAST(floor(c_acctbal) AS BIGINT)"
    ),
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-unit audit sample across
    market segments by balance dispersion: the survey-DESIGN
    complement of the sampling desk — variance-heavy strata earn
    proportionally more of the budget
    (operators/stats.neyman_allocation)."""
    c = load_table(spark, sf_dir, "customer")
    return stats_ops.neyman_allocation(
        c.select(
            "c_mktsegment", F.floor("c_acctbal").cast("long").alias("dollars")
        ),
        "c_mktsegment",
        "dollars",
    )


_RATERS_SQL = """SELECT o.o_orderkey,
       CASE WHEN o.o_totalprice < 150000 THEN 0
            WHEN o.o_totalprice < 300000 THEN 1 ELSE 2 END AS c0,
       CASE WHEN q.qty < 60 THEN 0
            WHEN q.qty < 120 THEN 1 ELSE 2 END AS c1,
       CASE WHEN q.ln <= 2 THEN 0
            WHEN q.ln <= 4 THEN 1 ELSE 2 END AS c2
FROM orders o
JOIN (SELECT l_orderkey,
             CAST(sum(l_quantity) AS BIGINT) AS qty,
             CAST(count(*) AS BIGINT) AS ln
      FROM lineitem GROUP BY 1) q
  ON q.l_orderkey = o.o_orderkey"""


def _rater_subjects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three rule-based order-size labelers shared by the
    agreement desk (fleiss/ICC/Krippendorff): price bands, total-
    quantity bands, line-count bands, each rating 0/1/2."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum("l_quantity").cast("long").alias("qty"),
        F.count(F.lit(1)).cast("long").alias("ln"),
    )
    return orders.join(per_order, "o_orderkey").select(
        F.when(F.col("o_totalprice") < 150000, 0)
        .when(F.col("o_totalprice") < 300000, 1)
        .otherwise(2)
        .alias("c0"),
        F.when(F.col("qty") < 60, 0)
        .when(F.col("qty") < 120, 1)
        .otherwise(2)
        .alias("c1"),
        F.when(F.col("ln") <= 2, 0)
        .when(F.col("ln") <= 4, 1)
        .otherwise(2)
        .alias("c2"),
    )


@query(
    "q_icc_agreement",
    oracle=stats_ops.icc_oracle_sql(_RATERS_SQL, ("c0", "c1", "c2")),
)
def q_icc_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(2,1) of the three order-size labelers treated as NUMERIC
    ratings: the variance-component reliability readout beside
    q_fleiss_kappa's nominal one — rater bias (MSC) surfaces as its
    own row instead of vanishing into disagreement. In-row integer
    sums, exact ANOVA algebra (operators/stats.icc_two_way)."""
    return stats_ops.icc_two_way(
        _rater_subjects(spark, sf_dir), ("c0", "c1", "c2")
    )


@query(
    "q_krippendorff_alpha",
    oracle=stats_ops.krippendorff_oracle_sql(
        _RATERS_SQL, ("c0", "c1", "c2"), n_categories=3
    ),
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha of the three order-size labelers:
    pooled-distribution chance correction (without replacement) —
    the reliability coefficient comparable across rater counts,
    completing the kappa family. In-row vote flags, exact integer
    moments (operators/stats.krippendorff_alpha)."""
    return stats_ops.krippendorff_alpha(
        _rater_subjects(spark, sf_dir), ("c0", "c1", "c2"), n_categories=3
    )


@query(
    "q_bland_altman",
    oracle=stats_ops.bland_altman_oracle_sql(
        """SELECT CAST(floor(o.o_totalprice) AS BIGINT) AS x,
                  g.y AS y
           FROM orders o
           JOIN (SELECT l_orderkey,
                        CAST(sum(floor(l_extendedprice)) AS BIGINT) AS y
                 FROM lineitem GROUP BY 1) g
             ON g.l_orderkey = o.o_orderkey"""
    ),
)
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between two order-value measurements:
    the billed total (tax/discount in) vs the summed gross line
    prices — bias, limits of agreement, and the escape count; the
    method-comparison readout q_correlation_matrix can't provide.
    Dollar-grain integer differences (sum(d^2) inside int64 past
    sf10, documented) (operators/stats.bland_altman)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    gross = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(F.floor("l_extendedprice")).cast("long").alias("y")
    )
    pairs = orders.join(gross, "o_orderkey").select(
        F.floor("o_totalprice").cast("long").alias("x"), "y"
    )
    return stats_ops.bland_altman(pairs, "x", "y")


@query(
    "q_dagostino_k2",
    oracle=stats_ops.dagostino_oracle_sql("lineitem", "l_quantity"),
)
def q_dagostino_k2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality battery over order
    quantities: the finite-sample-corrected z-transforms of skewness
    and kurtosis and their sum of squares — the desk that says WHICH
    moment breaks normality where q_jarque_bera only says whether
    (and q_ks_test only that shapes differ). Quantity grain keeps
    sum(v^4) inside int64 to ~sf1000; every derived scalar parses
    from the same expression text on both engines
    (operators/stats.dagostino_k2)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.dagostino_k2(li, "l_quantity")


@query(
    "q_levene_mean",
    oracle=stats_ops.levene_oracle_sql("lineitem", "l_returnflag", "l_quantity"),
)
def q_levene_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levene's variance-homogeneity test (mean-centered, the 1960
    original) across return-flag groups of order quantity: the
    power-optimal member of the spread-equality desk — beside
    q_brown_forsythe (median-centered, robust) and q_bartlett_test
    (normal-theory). Group means round 3dp once; milli-quantized
    deviations keep sum(z^2) inside int64 to ~1e9 rows
    (operators/stats.levene_mean_centered)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.levene_mean_centered(li, "l_returnflag", "l_quantity")


@query(
    "q_welch_anova",
    oracle=stats_ops.welch_anova_oracle_sql(
        "orders", "o_orderpriority", "CAST(floor(o_totalprice) AS BIGINT)"
    ),
)
def q_welch_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA across the five order
    priorities on dollar-grain order totals: does priority move mean
    spend WITHOUT assuming equal variances — the k-group
    generalization of q_ab_test_welch, and the test to reach for
    when q_bartlett_test/q_levene_mean reject what q_anova assumes.
    Dollar grain keeps per-group sum(v^2) inside int64 past sf10
    (documented bound) (operators/stats.welch_anova)."""
    orders = load_table(spark, sf_dir, "orders")
    priced = orders.select(
        "o_orderpriority", F.floor("o_totalprice").cast("long").alias("usd")
    )
    return stats_ops.welch_anova(priced, "o_orderpriority", "usd")


@query(
    "q_robust_moments",
    oracle=stats_ops.robust_moments_oracle_sql(
        "SELECT CAST(floor(o_totalprice) AS BIGINT) AS v FROM orders"
    ),
)
def q_robust_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based robust shape moments of order totals: Bowley
    skewness, Moors kurtosis, and the quartile coefficient of
    dispersion — the outlier-immune counterparts of the moment
    skew/kurt q_dagostino_k2 tests (one billion-dollar order moves
    g1/g2 arbitrarily; it cannot move an octile). Money values are
    distinct-per-row, so the octile thresholds ride the two-stage
    bucket-offset prefix sum, never an unpartitioned window
    (operators/stats.robust_quantile_moments)."""
    orders = load_table(spark, sf_dir, "orders")
    units = orders.select(F.floor("o_totalprice").cast("long").alias("v"))
    return stats_ops.robust_quantile_moments(units, "v")


@query(
    "q_dickey_fuller",
    oracle=stats_ops.dickey_fuller_oracle_sql(_DAILY_KUSD_SQL),
)
def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root regression on daily k$ revenue:
    Delta v_t = alpha + beta * v_(t-1), t-stat on beta — the
    stationarity screen that says whether trend fits
    (q_grouped_ols_trend, q_mann_kendall) or differencing
    (q_von_neumann's ratio) is the right model for the series desk.
    Exact BIGINT regression sums off the bounded daily grain; k$
    keeps sum(x^2) inside int64 to ~sf100
    (operators/stats.dickey_fuller)."""
    return stats_ops.dickey_fuller(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_kpss",
    oracle=stats_ops.kpss_oracle_sql(_DAILY_KUSD_SQL),
)
def q_kpss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity statistic of daily k$ revenue: the
    null-reversed complement of q_dickey_fuller (DF's null is a unit
    root, KPSS's null is stationarity) — together they classify the
    series as stationary / unit-root / inconclusive, the standard
    pre-model screen of the series desk. Exact BIGINT scaled partial
    sums off the bounded daily grain
    (operators/stats.kpss_level)."""
    return stats_ops.kpss_level(_daily_kusd(spark, sf_dir), "day", "v")


@query(
    "q_breusch_pagan",
    oracle=stats_ops.breusch_pagan_oracle_sql(_DAILY_KUSD_SQL),
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch-Pagan heteroscedasticity screen on the daily-revenue
    trend residuals: does the VARIANCE trend with time even where the
    level fit looks fine — the check that decides between plain OLS
    bands (q_grouped_ols_trend) and a variance-stabilizing transform.
    Unit-quantized squared residuals, exact auxiliary sums
    (operators/stats.breusch_pagan)."""
    return stats_ops.breusch_pagan(_daily_kusd(spark, sf_dir), "day", "v")


_SEG_KUSD_SQL = """SELECT CAST(o_orderdate AS DATE) AS day,
       CAST(CAST(sum(floor(o_totalprice * 100)) AS BIGINT) // 100000
            AS BIGINT) AS v
FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
WHERE c.c_mktsegment = '{seg}' GROUP BY 1"""


@query(
    "q_engle_granger",
    oracle=stats_ops.dickey_fuller_oracle_sql(
        stats_ops.engle_granger_series_sql(
            _SEG_KUSD_SQL.format(seg="BUILDING"),
            _SEG_KUSD_SQL.format(seg="MACHINERY"),
        )
    ),
)
def q_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration screen between the BUILDING and
    MACHINERY segments' daily k$ revenue: OLS y ~ x on the aligned
    days, then the Dickey-Fuller regression on the unit-quantized
    residuals — a strongly negative df_stat says the two segments
    share one stochastic trend (co-move) even if each alone walks.
    The pair-level generalization of q_dickey_fuller, reusing its
    exact-BIGINT step-2 machinery verbatim
    (operators/stats.engle_granger_residuals)."""
    # both segment series build in ONE orders pass (conditional sums
    # pivot the segment; sum() skips the other segment's NULLs, so a
    # NULL total means "no rows that day" and the non-null filter
    # reproduces exactly the old bx⋈my inner join's day set — same
    # BIGINT cents, same DIV-100000 grain)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    seg = cust.filter(
        F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
    ).select("c_custkey", "c_mktsegment")
    cents = F.floor(F.col("o_totalprice") * 100)
    xy = (
        orders.join(
            F.broadcast(seg), orders.o_custkey == F.col("c_custkey")
        )
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(F.when(F.col("c_mktsegment") == "BUILDING", cents))
            .cast("long")
            .alias("cb"),
            F.sum(F.when(F.col("c_mktsegment") == "MACHINERY", cents))
            .cast("long")
            .alias("cm"),
        )
        .filter(F.col("cb").isNotNull() & F.col("cm").isNotNull())
        .select(
            "day",
            F.expr("CAST(cb DIV 100000 AS BIGINT)").alias("x"),
            F.expr("CAST(cm DIV 100000 AS BIGINT)").alias("y"),
        )
    )
    res = stats_ops.engle_granger_residuals(xy, "day", "x", "y")
    return stats_ops.dickey_fuller(res, "day", "v")


@query(
    "q_lilliefors",
    oracle=stats_ops.lilliefors_oracle_sql("lineitem", "l_quantity"),
)
def q_lilliefors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lilliefors composite-normality statistic over order quantities:
    KS distance between the empirical CDF and the normal FITTED to
    the same sample — the EDF leg of the normality desk beside
    q_dagostino_k2's moment battery (that names WHICH moment breaks;
    this measures how far the whole CDF sits from the best normal).
    Bounded value histogram, shared Abramowitz-Stegun erf template
    (operators/stats.lilliefors)."""
    li = load_table(spark, sf_dir, "lineitem")
    return stats_ops.lilliefors(li, "l_quantity")


@query(
    "q_theil_u2",
    oracle=stats_ops.theil_u2_oracle_sql(_DAILY_KUSD_SQL, season=7),
)
def q_theil_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 of the weekly seasonal-naive forecast vs the naive
    random walk on daily k$ revenue: does the weekly cycle genuinely
    forecast (U2 < 1) or does yesterday already beat it — the
    one-number adjudication of q_seasonality_index's pattern and
    q_forecast_backtest's error table. Exact BIGINT SSEs over the
    bounded day grain, one sqrt (operators/stats.theil_u2)."""
    return stats_ops.theil_u2(_daily_kusd(spark, sf_dir), "day", "v", season=7)
