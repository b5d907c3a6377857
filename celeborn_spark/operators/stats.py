"""Statistical toolkit: correlation matrix, Welch's t-test, and a
logistic-regression quality scorer trained in-engine.

The measurement layer of a curation pipeline: correlation screens
redundant features before model-based filtering, the two-sample test
quantifies whether an experiment/cohort moved a metric, and the
logistic fit IS the classic fastText-style quality-classifier step
(train a tiny linear model on labeled docs, score the corpus).
Reference analogue: Celeborn ships no statistics; these extend the
§2C diagnostics surface (queries/advanced.py: profile, drift, MI,
sketch-bound) with model-fitting machinery built on the same
single-exchange aggregate discipline.

Engine-parity rules (the kmeans/pagerank lesson): every iterative
update is rounded to 6 dp before it feeds the next round, so
accumulation-order noise (~1e-13 on O(1) sums) can never compound
across rounds; the oracle unrolls the identical arithmetic as chained
DuckDB CTEs.

Scale shapes:
- `corr_matrix`: ONE full-scan aggregate producing all sums/products
  (map-side partials do the heavy lifting); the k*(k-1)/2 pair rows are
  assembled from that single scalar row — never a per-pair scan.
- `welch_t`: one group-keyed aggregate + a broadcast of the 1-row
  baseline scalars.
- `logreg_fit`: per round ONE full-scan gradient aggregate (k+1 sums);
  the weight vector is a 1-row relation crossJoin-broadcast back, so
  no per-round driver action and nothing node-sized ever shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators import hold


def corr_matrix(df: DataFrame, cols: list[str], dp: int = 6) -> DataFrame:
    """(col_x, col_y, corr) for every unordered column pair (x < y by
    list position). Pearson r assembled from one aggregate of sums,
    squares and cross-products:
    r = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))."""
    if len(cols) < 2:
        raise ValueError("corr_matrix needs at least 2 columns")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for c in cols:
        aggs.append(F.sum(F.col(c)).alias(f"s_{c}"))
        aggs.append(F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"sp_{a}_{b}"))
    stats = df.agg(*aggs)

    pair_rows = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            num = F.col("n") * F.col(f"sp_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            den = F.sqrt(
                (F.col("n") * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * (F.col("n") * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
            )
            pair_rows.append(
                F.struct(
                    F.lit(a).alias("col_x"),
                    F.lit(b).alias("col_y"),
                    # constant column -> zero variance -> r undefined:
                    # NULL, never an ANSI DIVIDE_BY_ZERO
                    F.round(F.when(den != 0, num / den), dp).alias("corr"),
                )
            )
    return stats.select(F.explode(F.array(*pair_rows)).alias("p")).select("p.*")


def corr_matrix_oracle_sql(table: str, cols: list[str], dp: int = 6) -> str:
    """DuckDB mirror: identical sums formula, one aggregate CTE, one
    SELECT per pair unioned."""
    sel = ["CAST(count(*) AS DOUBLE) AS n"]
    for c in cols:
        sel.append(f"sum({c}) AS s_{c}")
        sel.append(f"sum({c} * {c}) AS ss_{c}")
    pairs = [(a, b) for i, a in enumerate(cols) for b in cols[i + 1 :]]
    for a, b in pairs:
        sel.append(f"sum({a} * {b}) AS sp_{a}_{b}")
    unions = []
    for a, b in pairs:
        unions.append(
            f"""SELECT '{a}' AS col_x, '{b}' AS col_y,
               round(CASE WHEN sqrt((n * ss_{a} - s_{a} * s_{a})
                          * (n * ss_{b} - s_{b} * s_{b})) <> 0 THEN
               (n * sp_{a}_{b} - s_{a} * s_{b})
                     / sqrt((n * ss_{a} - s_{a} * s_{a})
                          * (n * ss_{b} - s_{b} * s_{b})) END, {dp}) AS corr
            FROM stats"""
        )
    return (
        f"WITH stats AS (SELECT {', '.join(sel)} FROM {table})\n    "
        + "\n    UNION ALL ".join(unions)
    )


def welch_t(
    df: DataFrame,
    group_col: str,
    value_col: str,
    baseline: str,
    dp: int = 6,
) -> DataFrame:
    """(group, t_stat, dof) — Welch's unequal-variance t statistic of
    every non-baseline group against the baseline group, with the
    Welch–Satterthwaite degrees of freedom. Sample variance uses the
    sums form var = (Sxx - Sx^2/n) / (n-1) identically in both engines.
    One group-keyed aggregate; the baseline's 1-row scalars broadcast."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(value_col).alias("s"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("ss"),
    )
    base = g.filter(F.col("grp") == baseline).select(
        F.col("n").alias("bn"), F.col("s").alias("bs"), F.col("ss").alias("bss")
    )
    j = g.filter(F.col("grp") != baseline).crossJoin(F.broadcast(base))
    mean, bmean = F.col("s") / F.col("n"), F.col("bs") / F.col("bn")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)
    bvar = (F.col("bss") - F.col("bs") * F.col("bs") / F.col("bn")) / (F.col("bn") - 1)
    se2a, se2b = var / F.col("n"), bvar / F.col("bn")
    # Degenerate guards (NULL, not an ANSI DIVIDE_BY_ZERO crash):
    # single-row groups make var 0/0; zero variance BOTH sides makes
    # the se sum (t denominator) and the dof denominator 0.
    ok = (F.col("n") > 1) & (F.col("bn") > 1) & ((se2a + se2b) != 0)
    t = F.when(ok, (mean - bmean) / F.sqrt(se2a + se2b))
    dof = F.when(
        ok,
        (se2a + se2b) * (se2a + se2b) / (
            se2a * se2a / (F.col("n") - 1) + se2b * se2b / (F.col("bn") - 1)
        ),
    )
    return j.select(
        F.col("grp").alias("grp"),
        F.round(t, dp).alias("t_stat"),
        F.round(dof, dp).alias("dof"),
    )


def welch_t_oracle_sql(
    table: str, group_col: str, value_col: str, baseline: str, dp: int = 6
) -> str:
    return f"""
    WITH g AS (
        SELECT {group_col} AS grp,
               CAST(count(*) AS DOUBLE) AS n,
               sum({value_col}) AS s,
               sum({value_col} * {value_col}) AS ss
        FROM {table} GROUP BY 1
    ),
    b AS (SELECT n AS bn, s AS bs, ss AS bss FROM g WHERE grp = '{baseline}'),
    se AS (
        SELECT grp, n, s, bn, bs,
               ((ss - s * s / n) / (n - 1)) / n AS se2a,
               ((bss - bs * bs / bn) / (bn - 1)) / bn AS se2b
        FROM g CROSS JOIN b
        WHERE grp <> '{baseline}'
    )
    SELECT grp,
           round(CASE WHEN n > 1 AND bn > 1 AND (se2a + se2b) <> 0 THEN
                 ((s / n) - (bs / bn)) / sqrt(se2a + se2b) END, {dp}) AS t_stat,
           round(CASE WHEN n > 1 AND bn > 1 AND (se2a + se2b) <> 0 THEN
                 pow(se2a + se2b, 2)
                 / (pow(se2a, 2) / (n - 1) + pow(se2b, 2) / (bn - 1)) END,
                 {dp}) AS dof
    FROM se
    """


def logreg_fit(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 0.5,
    dp: int = 6,
) -> DataFrame:
    """(feature, weight) — logistic regression fit by full-batch
    gradient descent from a zero init: w_j <- round(w_j - lr * mean(
    (sigmoid(w.x) - y) * x_j), dp) per round. Features should be O(1)-
    bounded (scale before calling); a bias is NOT added implicitly —
    pass a literal 1.0 column for an intercept.

    This is the quality-classifier step of an LLM data pipeline
    (fastText-style linear scorer) expressed as pure aggregates: each
    round costs one full-scan gradient aggregate (k sums with map-side
    partials) and the k-sized weight row crossJoin-broadcasts back —
    no per-round driver action, no node-sized shuffle. The per-round
    6-dp rounding pins engine parity exactly as in operators/kmeans.py.
    """
    if iters < 0:
        raise ValueError(f"iters must be >= 0, got {iters}")
    k = len(feature_cols)
    if k == 0:
        raise ValueError("logreg_fit needs at least 1 feature column")
    rows = df.select(
        *[F.col(c).cast("double").alias(f"x{j}") for j, c in enumerate(feature_cols)],
        F.col(label_col).cast("double").alias("y"),
    )
    w = rows.sparkSession.range(1).select(
        *[F.lit(0.0).alias(f"w{j}") for j in range(k)]
    )
    for _ in range(iters):
        j = rows.crossJoin(F.broadcast(w))
        z = sum((F.col(f"w{i}") * F.col(f"x{i}") for i in range(1, k)),
                F.col("w0") * F.col("x0"))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        w = j.agg(
            *[
                F.round(
                    F.first(F.col(f"w{i}"))
                    - F.lit(lr) * F.avg((p - F.col("y")) * F.col(f"x{i}")),
                    dp,
                ).alias(f"w{i}")
                for i in range(k)
            ]
        )
    names = F.array(*[F.lit(c) for c in feature_cols])
    vals = F.array(*[F.col(f"w{j}") for j in range(k)])
    return w.select(
        F.explode(F.arrays_zip(names.alias("feature"), vals.alias("weight"))).alias("p")
    ).select(F.col("p.feature").alias("feature"), F.col("p.weight").alias("weight"))


def logreg_oracle_sql(
    from_clause: str,
    feature_exprs: list[tuple[str, str]],
    label_expr: str,
    iters: int = 3,
    lr: float = 0.5,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `logreg_fit`: the same rounds unrolled as
    chained scalar CTEs. ``feature_exprs`` is [(name, sql_expr)];
    ``from_clause`` e.g. "documents"."""
    k = len(feature_exprs)
    feats = ", ".join(
        f"CAST({e} AS DOUBLE) AS x{j}" for j, (_, e) in enumerate(feature_exprs)
    )
    ctes = [
        f"rows_ AS (SELECT {feats}, CAST({label_expr} AS DOUBLE) AS y FROM {from_clause})",
        "w0_ AS (SELECT "
        + ", ".join(f"0.0 AS w{j}" for j in range(k))
        + ")",
    ]
    for r in range(iters):
        z = " + ".join(f"w.w{j} * r.x{j}" for j in range(k))
        grads = ", ".join(
            f"round(first(w.w{j}) - {lr} * avg((1.0 / (1.0 + exp(-({z}))) - r.y) * r.x{j}), {dp}) AS w{j}"
            for j in range(k)
        )
        ctes.append(
            f"w{r + 1}_ AS (SELECT {grads} FROM rows_ r CROSS JOIN w{r}_ w)"
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS feature, w{j} AS weight FROM w{iters}_"
        for j, (name, _) in enumerate(feature_exprs)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


def rolling_anomaly(
    df: DataFrame,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    lookback: int = 16,
    k: int = 3,
    min_n: int = 8,
) -> DataFrame:
    """Per-group streaming anomaly screen: flag a point whose deviation
    from its OWN trailing window exceeds k sigma — the per-entity drift
    monitor (a global z-score would wash out per-user baselines).

    Engine-parity design: the value is floored to integer cents, so
    every trailing sum is BIGINT-exact no matter how an engine
    evaluates its sliding frames (DuckDB uses segment trees, Spark
    re-accumulates — floating sums would differ in the last bits).
    The k-sigma test is cleared of division entirely:
        (x - s/n)^2 > k^2 * (ssq/n - (s/n)^2)
    multiplied through by n^2 becomes the ALL-INTEGER predicate
        (n*x - s)^2 > k^2 * (n*ssq - s^2)
    Bounds: |cents| < ~1e6 keeps every term far below 2^63 at the
    default lookback (documented input-domain contract).

    One window exchange keyed on the group; output is group-sized."""
    from pyspark.sql import Window as W

    x = F.floor(F.col(value_col) * 100).cast("long")
    w = (
        W.partitionBy(group_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(-lookback, -1)
    )
    d = df.select(F.col(group_col), *order_cols, x.alias("_x"))
    d = d.select(
        group_col,
        "_x",
        F.sum("_x").over(w).alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).over(w).alias("_ssq"),
        F.count("_x").over(w).alias("_n"),
    )
    scored = F.col("_n") >= min_n
    lhs = (F.col("_n") * F.col("_x") - F.col("_s")) * (
        F.col("_n") * F.col("_x") - F.col("_s")
    )
    rhs = F.lit(k * k) * (
        F.col("_n") * F.col("_ssq") - F.col("_s") * F.col("_s")
    )
    return d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(scored, 1).otherwise(0)).cast("long").alias("n_scored"),
        F.sum(F.when(scored & (lhs > rhs), 1).otherwise(0))
        .cast("long")
        .alias("n_anomalies"),
    )


def rolling_anomaly_oracle_sql(
    table: str,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    lookback: int = 16,
    k: int = 3,
    min_n: int = 8,
) -> str:
    """DuckDB mirror of `rolling_anomaly`: identical integer frame sums
    and the identical division-free k-sigma predicate."""
    ob = ", ".join(order_cols)
    return f"""
    WITH d AS (
        SELECT {group_col} AS grp,
               CAST(floor({value_col} * 100) AS BIGINT) AS x,
               sum(CAST(floor({value_col} * 100) AS BIGINT)) OVER w AS s,
               sum(CAST(floor({value_col} * 100) AS BIGINT)
                   * CAST(floor({value_col} * 100) AS BIGINT)) OVER w AS ssq,
               count(*) OVER w AS n
        FROM {table}
        WINDOW w AS (PARTITION BY {group_col} ORDER BY {ob}
                     ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
    )
    SELECT grp AS {group_col},
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN n >= {min_n} THEN 1 ELSE 0 END) AS BIGINT) AS n_scored,
           CAST(sum(CASE WHEN n >= {min_n}
                          AND (n * x - s) * (n * x - s)
                              > {k * k} * (n * ssq - s * s)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM d
    GROUP BY grp
    """


def ewma_trend(
    df: DataFrame,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    span: int = 8,
) -> DataFrame:
    """Per-group exponentially-weighted moving average (alpha = 1/2,
    window truncated at `span` points) reported at each group's LAST
    observation — the trend readout of a metrics pipeline.

    Exactness without rounding: weights 2^-(j+1) are dyadic, inputs
    are integer cents, so every product and the windowed sum are
    EXACTLY representable doubles; the final normalizer division
    (by 1 - 2^-n, also dyadic) is one correctly-rounded IEEE op.
    Identical bits on every engine — the raw doubles ship unrounded.

    One window exchange on the group key; lag-based terms read the
    same sorted partition (no extra shuffle); output is group-sized."""
    from pyspark.sql import Window as W

    x = F.floor(F.col(value_col) * 100).cast("long")
    w = W.partitionBy(group_col).orderBy(*[F.col(c) for c in order_cols])
    d = df.select(F.col(group_col), *order_cols, x.alias("_x"))
    num = None
    for j in range(span):
        term = F.coalesce(
            F.lag("_x", j).over(w).cast("double") * F.lit(0.5 ** (j + 1)),
            F.lit(0.0),
        )
        num = term if num is None else num + term
    n_terms = F.least(F.row_number().over(w), F.lit(span))
    # exact dyadic normalizer per term count — a CASE lookup instead of
    # pow(), whose last-bit rounding libms do not all agree on
    denom = F.lit(1.0 - 0.5**span)
    for m in range(span - 1, 0, -1):
        denom = F.when(n_terms == m, F.lit(1.0 - 0.5**m)).otherwise(denom)
    d = d.select(
        group_col,
        *order_cols,
        (num / denom / F.lit(100.0)).alias("ewma"),
        F.row_number()
        .over(W.partitionBy(group_col).orderBy(*[F.col(c).desc() for c in order_cols]))
        .alias("_rev"),
        F.count(F.lit(1)).over(W.partitionBy(group_col)).alias("n_events"),
    )
    return (
        d.filter(F.col("_rev") == 1)
        .select(group_col, F.col("n_events").cast("long").alias("n_events"), "ewma")
    )


def ewma_oracle_sql(
    table: str,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    span: int = 8,
) -> str:
    """DuckDB mirror of `ewma_trend`: identical dyadic-weight lag sum."""
    ob = ", ".join(order_cols)
    ob_desc = ", ".join(f"{c} DESC" for c in order_cols)
    terms = " + ".join(
        f"COALESCE(CAST(lag(x, {j}) OVER w AS DOUBLE) * {0.5 ** (j + 1)!r}, 0.0)"
        for j in range(span)
    )
    denom_cases = " ".join(
        f"WHEN {m} THEN {1.0 - 0.5**m!r}" for m in range(1, span)
    )
    return f"""
    WITH d AS (
        SELECT {group_col} AS grp,
               {ob},
               CAST(floor({value_col} * 100) AS BIGINT) AS x
        FROM {table}
    ),
    e AS (
        SELECT grp, {ob},
               ({terms}) AS num,
               least(row_number() OVER w, {span}) AS n_terms,
               row_number() OVER (PARTITION BY grp ORDER BY {ob_desc}) AS rev,
               count(*) OVER (PARTITION BY grp) AS n_events
        FROM d
        WINDOW w AS (PARTITION BY grp ORDER BY {ob})
    )
    SELECT grp AS {group_col},
           CAST(n_events AS BIGINT) AS n_events,
           num / (CASE n_terms {denom_cases} ELSE {1.0 - 0.5**span!r} END) / 100.0 AS ewma
    FROM e
    WHERE rev = 1
    """


def cusum_changepoint(
    df: DataFrame,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
) -> DataFrame:
    """Per-group CUSUM change-point detection: the order position where
    the cumulative deviation from the group mean peaks — the
    level-shift locator (metric regime changes, pipeline-output drift
    onset) that a global mean test cannot place in time.

    Engine-parity design: values floor to integer cents; the running
    deviation is computed WITHOUT the mean division — cusum_t of
    (n*x_i - S) over the first t points (n = group count, S = group
    sum) equals n * classic-CUSUM_t, so the argmax is identical and
    every term is BIGINT-exact. The change point is the earliest
    position of the maximum |cusum| (argmax via an all-integer struct
    max: (|c|, -order)). Bounds: |cents| < ~1e6 and n < ~1e6 keep
    n*x and the running sum far below 2^63.

    One window exchange keyed on the group + one group aggregate —
    group-sized output.

    CONTRACT: the LAST order column (the reported change-point key)
    must be an INTEGRAL column — the earliest-peak tiebreak negates it
    through cast('long'), which would yield NULLs (and a silently
    wrong cp_key) on a string or timestamp key (ADVICE r7). Enforced
    below; pass the epoch/id form of a temporal key instead."""
    from pyspark.sql import Window as W

    key_dtype = dict(df.dtypes).get(order_cols[-1])
    if key_dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"cusum_changepoint: last order column {order_cols[-1]!r} must "
            f"be integral (tiebreak negates it as long), got {key_dtype}"
        )

    x = F.floor(F.col(value_col) * 100).cast("long")
    ocols = [F.col(c) for c in order_cols]
    wg = W.partitionBy(group_col)
    wrun = wg.orderBy(*ocols).rowsBetween(W.unboundedPreceding, W.currentRow)
    d = df.select(F.col(group_col), *order_cols, x.alias("_x"))
    d = (
        d.withColumn("_n", F.count("_x").over(wg))
        .withColumn("_s", F.sum("_x").over(wg))
        .withColumn(
            "_c",
            F.sum(F.col("_n") * F.col("_x") - F.col("_s")).over(wrun),
        )
    )
    # earliest peak: max over (|c|, -order_key) picks the largest
    # deviation, ties resolved to the smallest order key
    pick = F.struct(
        F.abs(F.col("_c")).alias("m"),
        (-F.col(order_cols[-1]).cast("long")).alias("negk"),
    )
    return d.groupBy(group_col).agg(
        F.max(pick)["m"].alias("max_dev"),
        (-F.max(pick)["negk"]).alias("cp_key"),
        F.count(F.lit(1)).cast("long").alias("n_points"),
    )


def cusum_oracle_sql(
    table: str,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
) -> str:
    """DuckDB mirror of `cusum_changepoint` — identical integer
    arithmetic; the argmax re-expressed as ORDER BY (|c| DESC, key ASC)
    LIMIT 1 per group via row_number. The LAST order column is the
    reported change-point key, matching the Spark side's tiebreak."""
    ob = ", ".join(order_cols)
    key_col = order_cols[-1]
    return f"""
    WITH d AS (
        SELECT {group_col}, {ob},
               CAST(floor({value_col} * 100) AS BIGINT) AS x
        FROM {table}
    ),
    g AS (
        SELECT {group_col}, {ob}, x,
               count(*) OVER (PARTITION BY {group_col}) AS n,
               sum(x) OVER (PARTITION BY {group_col}) AS s
        FROM d
    ),
    c AS (
        SELECT {group_col}, {key_col} AS k, n,
               sum(n * x - s) OVER (
                   PARTITION BY {group_col} ORDER BY {ob}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS c
        FROM g
    ),
    r AS (
        SELECT {group_col}, CAST(abs(c) AS BIGINT) AS max_dev, k AS cp_key, n,
               row_number() OVER (
                   PARTITION BY {group_col} ORDER BY abs(c) DESC, k ASC
               ) AS rn
        FROM c
    )
    SELECT {group_col}, max_dev, CAST(cp_key AS BIGINT) AS cp_key,
           CAST(n AS BIGINT) AS n_points
    FROM r WHERE rn = 1
    """


def key_skew_profile(df: DataFrame, key_col: str) -> DataFrame:
    """One-row key-distribution skew audit: n_keys, total_rows,
    max_count, top_share (heaviest key's row fraction), and the exact
    Gini coefficient of per-key row counts — the shuffle-health
    diagnostic behind every salting/AQE-skew decision (operators/skew,
    A16): gini ~ 0 means uniform keys, ~1 means one hot key owns the
    table.

    Exact Gini needs ranks over keys SORTED by count — a key-sized
    global sort at 100 TB. This implementation never ranks keys:
    equal-count keys contribute a closed-form block sum
    (v * (m*a + m(m+1)/2) for a block of m keys at offset a), so the
    rank sum reduces to a running sum over the COUNT-OF-COUNTS
    histogram — a window over distinct count values, cardinality-
    bounded (the operators/curriculum.quantile_bins discipline), tiny
    even when keys are billions. All terms integer; the two final
    divisions are emitted raw (single IEEE ops, bit-identical)."""
    from pyspark.sql import Window as W

    counts = df.groupBy(F.col(key_col).alias("_k")).agg(
        F.count(F.lit(1)).alias("v")
    )
    hist = counts.groupBy("v").agg(F.count(F.lit(1)).alias("m"))
    run = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    hist = hist.withColumn("a", F.coalesce(F.sum("m").over(run), F.lit(0)))
    # sum over sorted keys of rank*count, blockwise:
    #   v * (m*a + m*(m+1)/2)  with ranks 1..n ascending by count
    ranksum = hist.select(
        F.sum(F.expr("v * (m * a + m * (m + 1) div 2)"))
        .cast("long")
        .alias("rs"),
        F.sum(F.col("m")).alias("n_keys"),
        F.sum(F.col("v") * F.col("m")).alias("total_rows"),
        F.max(F.col("v")).alias("max_count"),
    )
    return ranksum.select(
        F.col("n_keys").cast("long").alias("n_keys"),
        F.col("total_rows").cast("long").alias("total_rows"),
        F.col("max_count").cast("long").alias("max_count"),
        (F.col("max_count").cast("double") / F.col("total_rows")).alias(
            "top_share"
        ),
        (
            (2 * F.col("rs") - (F.col("n_keys") + 1) * F.col("total_rows"))
            .cast("double")
            / (F.col("n_keys").cast("double") * F.col("total_rows"))
        ).alias("gini"),
    )


def key_skew_oracle_sql(table: str, key_sql: str) -> str:
    """DuckDB mirror of `key_skew_profile` — same histogram block sums,
    same two raw divisions."""
    return f"""
    WITH counts AS (
        SELECT {key_sql} AS k, count(*) AS v FROM {table} GROUP BY 1
    ),
    hist AS (SELECT v, count(*) AS m FROM counts GROUP BY v),
    hr AS (
        SELECT v, m,
               coalesce(sum(m) OVER (
                   ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS a
        FROM hist
    ),
    agg AS (
        SELECT CAST(sum(v * (m * a + m * (m + 1) // 2)) AS BIGINT) AS rs,
               CAST(sum(m) AS BIGINT) AS n_keys,
               CAST(sum(v * m) AS BIGINT) AS total_rows,
               CAST(max(v) AS BIGINT) AS max_count
        FROM hr
    )
    SELECT n_keys, total_rows, max_count,
           CAST(max_count AS DOUBLE) / total_rows AS top_share,
           CAST(2 * rs - (n_keys + 1) * total_rows AS DOUBLE)
               / (CAST(n_keys AS DOUBLE) * total_rows) AS gini
    FROM agg
    """


def grouped_ols_trend(
    df: DataFrame,
    group_col: str,
    x_col_days: str,
    value_col: str,
    min_n: int = 3,
) -> DataFrame:
    """Per-group ordinary-least-squares trend of value (integer cents)
    over time (integer days) — the per-entity drift detector (is this
    supplier's price CLIMBING?) where a global regression washes out
    per-group baselines and CUSUM only localizes a single shift.

    Engine parity: x = days since epoch, y = floored cents — all four
    OLS sums (n, Sx, Sy, Sxy, Sxx) are BIGINT-exact, so
        slope = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)
    is ONE division of exact integers, bit-identical cross-engine (no
    rounding anywhere). Groups with n < min_n or zero x-variance are
    dropped (their slope is undefined). Bounds: |days| < ~30k and
    |cents| < ~1e7 keep n*Sxy below 2^63 for n up to ~1e4 per group
    (documented input-domain contract).

    ONE map-combined group aggregate — the cheapest possible plan."""
    x = F.datediff(F.col(x_col_days), F.lit("1970-01-01")).cast("long")
    y = F.floor(F.col(value_col) * 100).cast("long")
    agg = (
        df.select(F.col(group_col), x.alias("x"), y.alias("y"))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        agg.filter((F.col("n") >= min_n) & (den != 0))
        .select(
            group_col,
            F.col("n").cast("long").alias("n"),
            num.alias("slope_num"),
            den.alias("slope_den"),
            (num.cast("double") / den).alias("slope_cents_per_day"),
        )
    )


def grouped_ols_oracle_sql(
    table: str,
    group_col: str,
    x_col_days: str,
    value_col: str,
    min_n: int = 3,
) -> str:
    """DuckDB mirror of `grouped_ols_trend` — identical integer sums
    and the single slope division."""
    return f"""
    WITH d AS (
        SELECT {group_col},
               CAST(date_diff('day', DATE '1970-01-01', {x_col_days}) AS BIGINT) AS x,
               CAST(floor({value_col} * 100) AS BIGINT) AS y
        FROM {table}
    ),
    agg AS (
        SELECT {group_col}, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(x * x) AS BIGINT) AS sxx
        FROM d GROUP BY {group_col}
    )
    SELECT {group_col}, n,
           n * sxy - sx * sy AS slope_num,
           n * sxx - sx * sx AS slope_den,
           CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
               AS slope_cents_per_day
    FROM agg
    WHERE n >= {min_n} AND n * sxx - sx * sx != 0
    """


BENFORD_EXPECTED = {d: __import__("math").log10(1 + 1 / d) for d in range(1, 10)}


def benford_audit(df: DataFrame, value_col: str) -> DataFrame:
    """First-significant-digit distribution of a positive value column
    vs Benford's law — the classic fabricated-numbers screen for
    ingested financial/metric feeds (organic multiplicative data
    follows log10(1+1/d); invented numbers don't). Output per digit
    1..9: observed count, observed share (one exact-integer division),
    expected Benford share, and the absolute deviation.

    The first digit comes from string form (regexp first nonzero
    digit) — identical in both engines for positive doubles rendered
    via a fixed format; to dodge engine float-formatting differences
    entirely, the digit is taken from the INTEGER cents value.
    One map-combined aggregate over 9 groups."""
    cents = F.floor(F.col(value_col) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    base = df.filter(cents > 0).select(digit.alias("digit"))
    total = base.groupBy().agg(F.count(F.lit(1)).alias("total"))
    exp_expr = F.element_at(
        F.create_map(
            *[
                x
                for d in range(1, 10)
                for x in (F.lit(d), F.lit(round(BENFORD_EXPECTED[d], 6)))
            ]
        ),
        F.col("digit"),
    )
    return (
        base.groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("observed"),
            exp_expr.alias("expected"),
            F.abs(
                F.col("n").cast("double") / F.col("total") - exp_expr
            ).alias("abs_dev"),
        )
    )


def benford_oracle_sql(table: str, value_col: str) -> str:
    """DuckDB mirror of `benford_audit`: same integer-cents first
    digit, same 6dp expected constants, same divisions."""
    cases = " ".join(
        f"WHEN {d} THEN {round(BENFORD_EXPECTED[d], 6)!r}" for d in range(1, 10)
    )
    return f"""
    WITH base AS (
        SELECT CAST(substr(CAST(CAST(floor({value_col} * 100) AS BIGINT)
                                AS VARCHAR), 1, 1) AS INT) AS digit
        FROM {table}
        WHERE CAST(floor({value_col} * 100) AS BIGINT) > 0
    ),
    t AS (SELECT count(*) AS total FROM base)
    SELECT digit, CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) AS DOUBLE) / t.total AS observed,
           CAST(CASE digit {cases} END AS DOUBLE) AS expected,
           abs(CAST(count(*) AS DOUBLE) / t.total
               - CAST(CASE digit {cases} END AS DOUBLE)) AS abs_dev
    FROM base CROSS JOIN t
    GROUP BY digit, t.total
    """


def lag1_autocorr(
    df: DataFrame,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    min_n: int = 3,
) -> DataFrame:
    """Per-group lag-1 autocorrelation of integer-cents values — the
    is-this-series-trending/mean-reverting diagnostic (white noise ~ 0,
    drifting metrics ~ +1): the companion readout to
    `cusum_changepoint` (which locates a shift this statistic only
    detects).

    Division-free core (the rolling_anomaly discipline): with
    d_t = n*x_t - S (exact BIGINT),
        acf1 = sum(d_t * d_{t-1}) / sum(d_t^2)
    — the n^2 factors cancel, so the statistic equals the classic
    anchored ACF with ONE final division of exact integers,
    bit-identical cross-engine. Groups with n < min_n or zero variance
    are dropped. Bounds: n * |cents deviation| < ~3e9 keeps every
    summed square below 2^63 (documented input-domain contract).

    One group-keyed window exchange + one group aggregate."""
    from pyspark.sql import Window as W

    x = F.floor(F.col(value_col) * 100).cast("long")
    ocols = [F.col(c) for c in order_cols]
    wg = W.partitionBy(group_col)
    wlag = wg.orderBy(*ocols)
    d = df.select(F.col(group_col), *order_cols, x.alias("_x"))
    d = (
        d.withColumn("_n", F.count("_x").over(wg))
        .withColumn("_s", F.sum("_x").over(wg))
        .withColumn("_d", F.col("_n") * F.col("_x") - F.col("_s"))
        .withColumn("_dp", F.lag("_d").over(wlag))
    )
    agg = d.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("_d") * F.col("_dp")).alias("num"),
        F.sum(F.col("_d") * F.col("_d")).alias("den"),
    )
    return agg.filter((F.col("n") >= min_n) & (F.col("den") != 0)).select(
        group_col,
        "n",
        F.col("num").alias("acf_num"),
        F.col("den").alias("acf_den"),
        (F.col("num").cast("double") / F.col("den")).alias("acf1"),
    )


def lag1_autocorr_oracle_sql(
    table: str,
    group_col: str,
    order_cols: tuple[str, ...],
    value_col: str,
    min_n: int = 3,
) -> str:
    """DuckDB mirror of `lag1_autocorr` — identical integer lag
    products and the single division."""
    ob = ", ".join(order_cols)
    return f"""
    WITH d AS (
        SELECT {group_col}, {ob},
               CAST(floor({value_col} * 100) AS BIGINT) AS x
        FROM {table}
    ),
    g AS (
        SELECT {group_col}, {ob}, x,
               count(*) OVER (PARTITION BY {group_col}) AS n,
               sum(x) OVER (PARTITION BY {group_col}) AS s
        FROM d
    ),
    l AS (
        SELECT {group_col}, n, n * x - s AS dd,
               lag(n * x - s) OVER (PARTITION BY {group_col} ORDER BY {ob}) AS dp
        FROM g
    ),
    agg AS (
        SELECT {group_col}, CAST(max(n) AS BIGINT) AS n,
               CAST(sum(dd * dp) AS BIGINT) AS num,
               CAST(sum(dd * dd) AS BIGINT) AS den
        FROM l GROUP BY {group_col}
    )
    SELECT {group_col}, n, num AS acf_num, den AS acf_den,
           CAST(num AS DOUBLE) / den AS acf1
    FROM agg WHERE n >= {min_n} AND den != 0
    """


# ---------------------------------------------------------------------------
# round-8 additions: corpus-comparison + inference statistics
# ---------------------------------------------------------------------------


def kl_divergence(
    df: DataFrame,
    group_col: str,
    token_col: str,
    ref_value: str,
    dp: int = 6,
) -> DataFrame:
    """Per-group KL divergence D(p_g || p_ref) between Laplace-smoothed
    unigram distributions — the corpus-drift / slice-divergence readout
    (which language/source slice departs most from the reference mix,
    did this week's crawl shift vocabulary). ``df`` is an exploded
    (group, token) occurrence relation; ``ref_value`` names the
    reference group.

    Engine parity: with V = |union vocabulary| and n_g = group token
    total, p_g(w) = (c_gw + 1)/(n_g + V). The summand is written as
    p * ln(ratio) where ratio = ((c_g+1) * (n_ref+V)) /
    ((n_g+V) * (c_ref+1)) — both products are exact integers far below
    2^53, so the ratio is ONE correctly-rounded IEEE division and the
    oracle reproduces every term bit-for-bit; the vocabulary-sized sum
    rounds ``dp`` at the end (the q_group_entropy ln discipline).
    Absent words contribute the c_g = 0 term — the full vocab x group
    grid is materialized, which is VOCABULARY x groups sized, never
    corpus sized.

    Scale shape: one (group, token) count exchange, one vocab-sized
    grid join, one group-keyed sum. The token mass is touched once."""
    occ = df.select(F.col(group_col).alias("g"), F.col(token_col).alias("w"))
    # counts feeds vocab + totals + ref + the grid join in one lazy
    # plan (4 references re-ran the token-mass count exchange each —
    # r13 reference-count rule); it is vocab x groups BOUNDED, so
    # materialize once
    counts = (
        occ.groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(hold)
    )
    vocab = counts.select("w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    totals = counts.groupBy("g").agg(F.sum("c").alias("n"))
    ref = counts.filter(F.col("g") == ref_value).select(
        "w", F.col("c").alias("c_ref")
    )
    ref_n = totals.filter(F.col("g") == ref_value).select(
        F.col("n").alias("n_ref")
    )
    grid = (
        vocab.crossJoin(totals.filter(F.col("g") != ref_value))
        .join(counts, ["g", "w"], "left")
        .join(F.broadcast(ref), "w", "left")
        .crossJoin(F.broadcast(ref_n))
        .crossJoin(F.broadcast(vsize))
    )
    cg = F.coalesce(F.col("c"), F.lit(0)) + F.lit(1)
    cr = F.coalesce(F.col("c_ref"), F.lit(0)) + F.lit(1)
    p = cg / (F.col("n") + F.col("v"))
    ratio = (cg * (F.col("n_ref") + F.col("v"))) / (
        (F.col("n") + F.col("v")) * cr
    )
    return (
        grid.select("g", (p * F.log(ratio)).alias("term"))
        .groupBy("g")
        .agg(F.round(F.sum("term"), dp).alias("kl"))
        .select(F.col("g").alias(group_col), "kl")
    )


def kl_divergence_oracle_sql(
    occ_sql: str, ref_value: str, group_alias: str = "g", dp: int = 6
) -> str:
    """DuckDB mirror of `kl_divergence` over ``occ_sql`` (a relation
    with (g, w) columns): identical smoothed counts, single-division
    ratio, and dp-rounded vocabulary sum."""
    return f"""
    WITH occ AS ({occ_sql}),
    counts AS (SELECT g, w, count(*) AS c FROM occ GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT w FROM counts),
    vsize AS (SELECT count(*) AS v FROM vocab),
    totals AS (SELECT g, sum(c) AS n FROM counts GROUP BY 1),
    ref AS (SELECT w, c AS c_ref FROM counts WHERE g = '{ref_value}'),
    refn AS (SELECT n AS n_ref FROM totals WHERE g = '{ref_value}'),
    grid AS (
        SELECT t.g, vo.w,
               coalesce(c.c, 0) + 1 AS cg,
               coalesce(r.c_ref, 0) + 1 AS cr,
               t.n, rn.n_ref, vs.v
        FROM vocab vo
        CROSS JOIN (SELECT * FROM totals WHERE g <> '{ref_value}') t
        LEFT JOIN counts c ON c.g = t.g AND c.w = vo.w
        LEFT JOIN ref r ON r.w = vo.w
        CROSS JOIN refn rn CROSS JOIN vsize vs
    )
    SELECT g AS {group_alias}, round(sum(
               (CAST(cg AS DOUBLE) / (n + v))
               * ln((CAST(cg AS DOUBLE) * (n_ref + v)) / (CAST(n + v AS DOUBLE) * cr))
           ), {dp}) AS kl
    FROM grid GROUP BY g
    """


def _contingency(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """The (row_col x col_col) contingency table, one row per observed
    cell with its marginals: (c, r, o, rt, ct, n, nr, nc) — o the cell
    count, rt/ct the row/column totals, n the grand total, nr/nc the
    distinct row/column levels. Shared by the chi-square, Cramér's V
    and the G-test.

    Scale shape: ONE map-combined count aggregate over the data; the
    marginals and the broadcast joins run over the CELL relation
    (|rows| x |cols| sized), never the row mass."""
    # the contingency table is referenced four times (both marginals +
    # the scalar totals + the term join) — checkpoint the corpus-wide
    # count aggregate once (the localCheckpoint-inputs rule; lazy
    # evaluation re-scanned the row mass per reference)
    cells = (
        df.select(F.col(row_col).alias("r"), F.col(col_col).alias("c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
        .transform(hold)
    )
    rows = cells.groupBy("r").agg(F.sum("o").alias("rt"))
    colsm = cells.groupBy("c").agg(F.sum("o").alias("ct"))
    n = cells.agg(
        F.sum("o").alias("n"),
        F.count_distinct("r").alias("nr"),
        F.count_distinct("c").alias("nc"),
    )
    return (
        cells.join(F.broadcast(rows), "r")
        .join(F.broadcast(colsm), "c")
        .crossJoin(F.broadcast(n))
    )


def chi_square_independence(
    df: DataFrame, row_col: str, col_col: str, dp: int = 4
) -> DataFrame:
    """Chi-square test of independence over the (row_col x col_col)
    contingency table: one output row (chi2, dof, n) — the categorical
    association screen next to Welch (means) and facet MI (strength in
    bits). Did source mix shift by language? Is event type independent
    of user cohort?

    Engine parity: per-cell term = d*d / (n*r*c) with d = o*n - r*c
    computed in DOUBLE (o, n, r, c are exact integer counts; their
    products stay exactly representable below 2^53 — documented bound
    n < ~3e6 rows at the default dp). The cell-count-bounded sum
    rounds ``dp``; cell terms are rationals with large distinct
    denominators, so half-way collisions are out of reach (the
    q_market_hhi large-denominator argument).

    Scale shape: ONE map-combined count aggregate over the data; the
    marginals and the chi2 sum run over the CELL relation (|rows| x
    |cols| sized), never the row mass."""
    d = (
        F.col("o").cast("double") * F.col("n")
        - F.col("rt").cast("double") * F.col("ct")
    )
    term = d * d / (
        F.col("n").cast("double") * F.col("rt") * F.col("ct")
    )
    return (
        _contingency(df, row_col, col_col)
        .agg(
            F.round(F.sum(term), dp).alias("chi2"),
            ((F.max("nr") - 1) * (F.max("nc") - 1))
            .cast("long")
            .alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


def chi_square_oracle_sql(
    table: str, row_sql: str, col_sql: str, dp: int = 4
) -> str:
    """DuckDB mirror of `chi_square_independence`: identical
    double-space cell terms and dp-rounded sum."""
    return f"""
    WITH cells AS (
        SELECT {row_sql} AS r, {col_sql} AS c, CAST(count(*) AS BIGINT) AS o
        FROM {table} GROUP BY 1, 2
    ),
    rows_ AS (SELECT r, sum(o) AS rt FROM cells GROUP BY 1),
    cols_ AS (SELECT c, sum(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n, count(DISTINCT r) AS nr,
                   count(DISTINCT c) AS nc
            FROM cells)
    SELECT round(sum(
               (CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
               * (CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
               / (CAST(n AS DOUBLE) * rt * ct)
           ), {dp}) AS chi2,
           CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n
    FROM cells JOIN rows_ USING (r) JOIN cols_ USING (c) CROSS JOIN tot
    """


def wilson_interval(
    df: DataFrame,
    group_col: str,
    success_col,
    z: float = 1.96,
    dp: int = 6,
) -> DataFrame:
    """Per-group Wilson score interval for a binomial proportion —
    the small-n-honest conversion-rate readout (the normal-approx
    interval lies badly at p near 0/1 or small n; Wilson is the
    standard fix). ``success_col`` is a boolean/0-1 column or
    expression counted per group.

    Engine parity: p = s/n is one division of exact integers; the
    bound is grouped as (center_num ± half_num) / denom — numerator
    first, ONE division by denom — matching the oracle's IEEE grouping
    exactly (computing center_num/denom ± half_num/denom instead can
    differ in the last ulp before the dp round); sqrt keeps the values
    irrational so the dp rounds are tie-safe. One map-combined
    aggregate; group-sized output."""
    s = F.sum(F.when(F.col(success_col) if isinstance(success_col, str) else success_col, 1).otherwise(0)).cast("long")
    agg = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("long").alias("n"), s.alias("s")
    )
    zz = z * z
    p = F.col("s") / F.col("n")
    denom = 1 + F.lit(zz) / F.col("n")
    center_num = p + F.lit(zz) / (2 * F.col("n"))
    half_num = F.lit(z) * F.sqrt(
        p * (1 - p) / F.col("n")
        + F.lit(zz) / (4 * F.col("n") * F.col("n"))
    )
    return agg.select(
        group_col,
        "n",
        "s",
        F.round((center_num - half_num) / denom, dp).alias("ci_lo"),
        F.round((center_num + half_num) / denom, dp).alias("ci_hi"),
    )


def wilson_oracle_sql(
    table: str,
    group_sql: str,
    group_alias: str,
    success_sql: str,
    z: float = 1.96,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `wilson_interval` — identical formula text."""
    zz = z * z
    return f"""
    WITH agg AS (
        SELECT {group_sql} AS {group_alias},
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN {success_sql} THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM {table} GROUP BY 1
    )
    SELECT {group_alias}, n, s,
           round(((CAST(s AS DOUBLE) / n + {zz} / (2 * n))
                  - {z} * sqrt((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                               + {zz} / (4.0 * n * n)))
                 / (1 + {zz} / n), {dp}) AS ci_lo,
           round(((CAST(s AS DOUBLE) / n + {zz} / (2 * n))
                  + {z} * sqrt((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                               + {zz} / (4.0 * n * n)))
                 / (1 + {zz} / n), {dp}) AS ci_hi
    FROM agg
    """


def km_survival(
    df: DataFrame, duration_col: str, dp: int = 6
) -> DataFrame:
    """Kaplan-Meier-style survival curve over integer durations (no
    censoring: every subject's terminal duration is observed) —
    the retention/lifetime readout: what fraction of users is still
    active t days after first touch. Output one row per distinct
    duration t: (t, n_at_risk, d_events, survival).

    S(t) = prod_{u <= t} (n_u - d_u)/n_u, computed as
    exp(sum ln(...)) over the DISTINCT-DURATION prefix (Spark has no
    product aggregate; the ln terms are single divisions of exact
    integers, the q_group_entropy parity discipline, rounded dp at the
    end). The final duration has n = d, whose factor is 0: a prefix
    max flag pins survival to exactly 0.0 there instead of ln(0).

    Scale shape: one duration-count aggregate; the curve windows run
    over DISTINCT durations (calendar-bounded, like q_user_growth),
    never subjects."""
    from pyspark.sql import Window as W

    durs = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    total = durs.agg(F.sum("d").alias("total"))
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    cur = (
        durs.crossJoin(F.broadcast(total))
        .withColumn("n_at_risk", F.col("total") - F.sum("d").over(w) + F.col("d"))
        .withColumn(
            "lnterm",
            F.when(
                F.col("n_at_risk") > F.col("d"),
                F.log((F.col("n_at_risk") - F.col("d")) / F.col("n_at_risk")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("zeroed", F.max((F.col("n_at_risk") == F.col("d")).cast("int")).over(w))
        .withColumn("lnsum", F.sum("lnterm").over(w))
    )
    return cur.select(
        "t",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.when(F.col("zeroed") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("lnsum"), dp))
        .alias("survival"),
    )


def km_survival_oracle_sql(durations_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `km_survival` over ``durations_sql`` (one
    column t per subject): identical distinct-duration prefix algebra."""
    return f"""
    WITH subj AS ({durations_sql}),
    durs AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM subj GROUP BY 1),
    tot AS (SELECT sum(d) AS total FROM durs),
    cur AS (
        SELECT t, d,
               total - sum(d) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + d
                   AS n_at_risk
        FROM durs CROSS JOIN tot
    ),
    terms AS (
        SELECT t, d, n_at_risk,
               CASE WHEN n_at_risk > d
                    THEN ln((CAST(n_at_risk AS DOUBLE) - d) / n_at_risk)
                    ELSE 0.0 END AS lnterm,
               CASE WHEN n_at_risk = d THEN 1 ELSE 0 END AS iszero
        FROM cur
    )
    SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS d_events,
           CASE WHEN max(iszero) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
                THEN 0.0
                ELSE round(exp(sum(lnterm) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), {dp})
           END AS survival
    FROM terms
    """


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    dp: int = 6,
) -> DataFrame:
    """Mann-Whitney U rank-sum test (normal approximation with tie
    correction) comparing ``value_col`` between two groups — the
    nonparametric sibling of `welch_t` (Welch compares means and
    assumes rough normality; rank-sum asks whether one group's values
    stochastically dominate, robust to outliers and skew — the right
    test for latency-like metrics). Output one row
    (n_a, n_b, u_stat, z).

    NO row sort: ranks come from the VALUE HISTOGRAM. avg rank of a
    tied value block = cum_before + (t+1)/2, computed over distinct
    values (the quantile_bins unpartitioned-window discipline — the
    window input is a histogram, bounded by |distinct values|, 50 for
    l_quantity). Rank sums therefore cost one count aggregate + one
    histogram window, never a corpus-wide sort.

    Engine parity: avg_rank = (2*cum_before + t + 1)/2 — halves are
    exact in IEEE doubles, so rank sums, U and mu are EXACT and emitted
    unrounded; z passes through sqrt (irrational) and rounds ``dp``
    tie-safe. The identical formula text runs in the oracle."""
    from pyspark.sql import Window as W

    g = F.col(group_col)
    hist = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("cb"),
        )
    )
    w = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    t = F.col("ca") + F.col("cb")
    ranked = hist.withColumn(
        "cum_before", F.coalesce(F.sum(F.col("ca") + F.col("cb")).over(w), F.lit(0))
    ).withColumn("avg_rank", (2 * F.col("cum_before") + t + 1) / F.lit(2.0))
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("ra"),
        F.sum(t * t * t - t).cast("long").alias("ties"),
    )
    na, nb = F.col("n_a"), F.col("n_b")
    n = na + nb
    u = F.col("ra") - na * (na + 1) / F.lit(2.0)
    mu = na * nb / F.lit(2.0)
    sigma2 = (
        (na * nb).cast("double")
        / F.lit(12.0)
        * ((n + 1) - F.col("ties").cast("double") / (n * (n - 1)))
    )
    # Degenerate guards (NULL, not an ANSI DIVIDE_BY_ZERO crash): an
    # empty group, n < 2, or an all-tied sample make sigma2 = 0.
    z = F.when(
        (na > 0) & (nb > 0) & (n > 1) & (sigma2 != 0),
        (u - mu) / F.sqrt(sigma2),
    )
    return agg.select(
        "n_a",
        "n_b",
        u.alias("u_stat"),
        F.round(z, dp).alias("z"),
    )


def mann_whitney_oracle_sql(
    table: str,
    group_sql: str,
    value_sql: str,
    group_a_lit: str,
    group_b_lit: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `mann_whitney_u`: identical histogram ranks,
    exact U, dp-rounded z. Group literals are SQL literals (quoted)."""
    return f"""
    WITH hist AS (
        SELECT {value_sql} AS v,
               CAST(sum(CASE WHEN {group_sql} = {group_a_lit} THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {group_b_lit} THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM {table}
        WHERE {group_sql} IN ({group_a_lit}, {group_b_lit})
        GROUP BY 1
    ),
    ranked AS (
        SELECT ca, cb,
               coalesce(sum(ca + cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before,
               ca + cb AS t
        FROM hist
    ),
    agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               sum(ca * ((2 * cum_before + t + 1) / 2.0)) AS ra,
               CAST(sum(t * t * t - t) AS BIGINT) AS ties
        FROM ranked
    )
    SELECT n_a, n_b,
           ra - n_a * (n_a + 1) / 2.0 AS u_stat,
           round(CASE WHEN n_a > 0 AND n_b > 0 AND n_a + n_b > 1
                       AND CAST(n_a * n_b AS DOUBLE) / 12.0
                           * ((n_a + n_b + 1)
                              - CAST(ties AS DOUBLE)
                                / ((n_a + n_b) * (n_a + n_b - 1))) <> 0 THEN
           (ra - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
                 / sqrt(CAST(n_a * n_b AS DOUBLE) / 12.0
                        * ((n_a + n_b + 1)
                           - CAST(ties AS DOUBLE)
                             / ((n_a + n_b) * (n_a + n_b - 1)))) END, {dp}) AS z
    FROM agg
    """


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str, dp: int = 4
) -> DataFrame:
    """One-way ANOVA F-test across ALL groups at once — the k-sample
    generalization of `welch_t` (which compares each group to one
    baseline): did event type / source / cohort move the metric at
    all, before pairwise drill-down? One output row
    (f_stat, eta_sq, dof1, dof2, n).

    Sums form (written identically in the oracle):
      SSB = sum_i s_i^2/n_i - S^2/N,  SSW = sum_i ss_i - sum_i s_i^2/n_i
      F = (SSB/(k-1)) / (SSW/(N-k)),  eta^2 = SSB/(SSB+SSW).

    Engine parity: the group sums are doubles, so accumulation order
    differs cross-engine by ~1e-13 relative; F and eta^2 are O(1)-to-
    O(1e3) ratios rounded dp=4/6 — far above the noise, far below any
    half-way tie (the welch_t discipline). Do NOT emit the raw sums.

    Scale shape: ONE map-combined group aggregate (3 sums per group),
    then all statistics assemble on the k-row relation. The row mass
    is touched once."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(value_col).alias("s"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("ss"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("nn"),
        F.sum("s").alias("stot"),
        F.sum(F.col("s") * F.col("s") / F.col("n")).alias("sqn"),
        F.sum("ss").alias("sstot"),
    )
    ssb = F.col("sqn") - F.col("stot") * F.col("stot") / F.col("nn")
    ssw = F.col("sstot") - F.col("sqn")
    # Degenerate-input guards (NULL, not a crash): Spark's ANSI mode
    # raises DIVIDE_BY_ZERO even for double division, where DuckDB
    # yields inf — a hypothesis differential found the k=1 / SSW=0
    # edges. The oracle mirrors the same CASEs.
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("nn") > F.col("k")) & (ssw != 0),
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("nn") - F.col("k"))),
    )
    eta = F.when((ssb + ssw) != 0, ssb / (ssb + ssw))
    return tot.select(
        F.round(f_stat, dp).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
        (F.col("k") - 1).cast("long").alias("dof1"),
        (F.col("nn") - F.col("k")).cast("long").alias("dof2"),
        F.col("nn").cast("long").alias("n"),
    )


def anova_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 4
) -> str:
    """DuckDB mirror of `anova_oneway`: identical sums form."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS DOUBLE) AS n,
               sum({value_sql}) AS s,
               sum({value_sql} * {value_sql}) AS ss
        FROM {table} GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS DOUBLE) AS k, sum(n) AS nn,
               sum(s) AS stot, sum(s * s / n) AS sqn, sum(ss) AS sstot
        FROM g
    )
    SELECT round(CASE WHEN k > 1 AND nn > k AND (sstot - sqn) <> 0
                 THEN ((sqn - stot * stot / nn) / (k - 1))
                      / ((sstot - sqn) / (nn - k)) END, {dp}) AS f_stat,
           round(CASE WHEN ((sqn - stot * stot / nn) + (sstot - sqn)) <> 0
                 THEN (sqn - stot * stot / nn)
                      / ((sqn - stot * stot / nn) + (sstot - sqn)) END, 6)
               AS eta_sq,
           CAST(k - 1 AS BIGINT) AS dof1,
           CAST(nn - k AS BIGINT) AS dof2,
           CAST(nn AS BIGINT) AS n
    FROM tot
    """


def ks_two_sample(
    df: DataFrame, group_col: str, value_col: str, a: str, b: str
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic between groups ``a``
    and ``b`` of ``value_col`` — the distribution-equality screen that
    sees SHAPE differences Welch (means) and Mann-Whitney (shift)
    miss. One output row (n_a, n_b, ks_num, ks_d).

    Everything is exact-integer until the last division: the CDFs come
    from the VALUE HISTOGRAM (cum_a, cum_b running counts), and
    D's numerator max|cum_a*n_b - cum_b*n_a| is a BIGINT (documented
    bound: cum*n < 2^63, i.e. ~3e9 rows per side). ks_d =
    ks_num/(n_a*n_b) is ONE IEEE division of exact integers —
    bit-identical cross-engine, emitted RAW (the CLAUDE.md no-round
    rule; rounding is what diverges at ties, division never does).

    Scale shape: one map-combined histogram aggregate; the running
    CDFs run on the DISTINCT-VALUE relation under a single-partition
    window — fine for bounded-cardinality metrics (quantities, scores,
    prices-to-the-cent); for truly continuous columns bucket first."""
    hist = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(F.when(F.col(group_col) == a, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(F.col(group_col) == b, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        F.sum("ca").over(w).alias("cum_a"), F.sum("cb").over(w).alias("cum_b")
    )
    tot = hist.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
            F.max(
                F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
            )
            .cast("long")
            .alias("ks_num"),
        )
        .select(
            "n_a",
            "n_b",
            "ks_num",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.col("ks_num") / (F.col("n_a") * F.col("n_b")),
            ).alias("ks_d"),
        )
    )


def ks_oracle_sql(
    table: str, group_sql: str, value_sql: str, a_lit: str, b_lit: str
) -> str:
    """DuckDB mirror of `ks_two_sample`: integer CDF numerators, one
    final division."""
    return f"""
    WITH hist AS (
        SELECT {value_sql} AS v,
               CAST(sum(CASE WHEN {group_sql} = {a_lit} THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {b_lit} THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM {table}
        WHERE {group_sql} IN ({a_lit}, {b_lit})
        GROUP BY 1
    ),
    cum AS (
        SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
               sum(cb) OVER (ORDER BY v) AS cum_b
        FROM hist
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b
            FROM hist)
    SELECT n_a, n_b,
           CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN CAST(max(abs(cum_a * n_b - cum_b * n_a)) AS DOUBLE)
                     / (n_a * n_b) END AS ks_d
    FROM cum CROSS JOIN tot
    GROUP BY n_a, n_b
    """


def cramers_v(
    df: DataFrame, row_col: str, col_col: str, dp: int = 6
) -> DataFrame:
    """Cramér's V effect size for the (row_col x col_col) association —
    the 0..1 companion to `chi_square_independence` (chi2 grows with n,
    so it cannot compare association STRENGTH across differently-sized
    slices; V = sqrt(chi2 / (n * min(r-1, c-1))) can). One output row
    (v, dof, n).

    Engine parity: same exact-integer cell terms as the chi-square
    (documented bound n < ~3e6 rows for exact double products); the
    final sqrt makes V irrational, so the dp round is tie-safe.

    Scale shape: identical to the chi-square — one map-combined count
    aggregate; everything downstream is cell-relation sized."""
    d = (
        F.col("o").cast("double") * F.col("n")
        - F.col("rt").cast("double") * F.col("ct")
    )
    term = d * d / (F.col("n").cast("double") * F.col("rt") * F.col("ct"))
    return (
        _contingency(df, row_col, col_col)
        .agg(
            F.sum(term).alias("chi2"),
            F.max("n").alias("nn"),
            F.least(F.max("nr") - 1, F.max("nc") - 1).alias("md"),
        )
        .select(
            F.round(
                F.sqrt(F.col("chi2") / (F.col("nn") * F.col("md"))), dp
            ).alias("v"),
            F.col("md").cast("long").alias("dof"),
            F.col("nn").cast("long").alias("n"),
        )
    )


def cramers_v_oracle_sql(
    table: str, row_sql: str, col_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `cramers_v` — the chi-square cell terms plus
    the sqrt normalization."""
    return f"""
    WITH cells AS (
        SELECT {row_sql} AS r, {col_sql} AS c, CAST(count(*) AS BIGINT) AS o
        FROM {table} GROUP BY 1, 2
    ),
    rows_ AS (SELECT r, sum(o) AS rt FROM cells GROUP BY 1),
    cols_ AS (SELECT c, sum(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n, count(DISTINCT r) AS nr,
                   count(DISTINCT c) AS nc
            FROM cells),
    agg AS (
        SELECT sum((CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
                   * (CAST(o AS DOUBLE) * n - CAST(rt AS DOUBLE) * ct)
                   / (CAST(n AS DOUBLE) * rt * ct)) AS chi2,
               max(n) AS nn,
               least(max(nr) - 1, max(nc) - 1) AS md
        FROM cells JOIN rows_ USING (r) JOIN cols_ USING (c) CROSS JOIN tot
    )
    SELECT round(sqrt(chi2 / (nn * md)), {dp}) AS v,
           CAST(md AS BIGINT) AS dof,
           CAST(nn AS BIGINT) AS n
    FROM agg
    """


def js_divergence(
    df: DataFrame,
    group_col: str,
    token_col: str,
    ref_value: str,
    dp: int = 6,
) -> DataFrame:
    """Per-group Jensen-Shannon divergence JS(p_g || p_ref) between
    Laplace-smoothed unigram distributions — the SYMMETRIC, bounded
    (0..ln 2) sibling of `kl_divergence` (KL is infinite-tailed and
    direction-dependent; JS is the standard corpus-similarity metric
    when neither slice is the canonical reference).

    Engine parity (the kl_divergence single-division discipline): with
    a = (c_g+1)*(n_ref+V) and b = (c_ref+1)*(n_g+V) — both exact
    integers below 2^53 — and d = (n_g+V)*(n_ref+V):
      term = (a*ln(2a/(a+b)) + b*ln(2b/(a+b))) / (2d)
    Every ratio is ONE correctly-rounded IEEE division, ln makes the
    summand irrational, and the vocabulary-sized sum rounds ``dp``.

    Scale shape: identical to kl_divergence — one (group, token) count
    exchange, one vocab x group grid, one group-keyed sum."""
    occ = df.select(F.col(group_col).alias("g"), F.col(token_col).alias("w"))
    # counts feeds vocab + totals + ref + the grid join in one lazy
    # plan (4 references re-ran the token-mass count exchange each —
    # r13 reference-count rule); it is vocab x groups BOUNDED, so
    # materialize once
    counts = (
        occ.groupBy("g", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(hold)
    )
    vocab = counts.select("w").distinct()
    vsize = vocab.agg(F.count(F.lit(1)).alias("v"))
    totals = counts.groupBy("g").agg(F.sum("c").alias("n"))
    ref = counts.filter(F.col("g") == ref_value).select(
        "w", F.col("c").alias("c_ref")
    )
    ref_n = totals.filter(F.col("g") == ref_value).select(
        F.col("n").alias("n_ref")
    )
    grid = (
        vocab.crossJoin(totals.filter(F.col("g") != ref_value))
        .join(counts, ["g", "w"], "left")
        .join(F.broadcast(ref), "w", "left")
        .crossJoin(F.broadcast(ref_n))
        .crossJoin(F.broadcast(vsize))
    )
    a = (
        (F.coalesce(F.col("c"), F.lit(0)) + 1) * (F.col("n_ref") + F.col("v"))
    ).cast("double")
    b = (
        (F.coalesce(F.col("c_ref"), F.lit(0)) + 1) * (F.col("n") + F.col("v"))
    ).cast("double")
    dd = ((F.col("n") + F.col("v")) * (F.col("n_ref") + F.col("v"))).cast(
        "double"
    )
    term = (
        a * F.log(2 * a / (a + b)) + b * F.log(2 * b / (a + b))
    ) / (2 * dd)
    return (
        grid.select("g", term.alias("term"))
        .groupBy("g")
        .agg(F.round(F.sum("term"), dp).alias("js"))
        .select(F.col("g").alias(group_col), "js")
    )


def js_divergence_oracle_sql(
    occ_sql: str, ref_value: str, group_alias: str = "g", dp: int = 6
) -> str:
    """DuckDB mirror of `js_divergence` over ``occ_sql`` (a relation
    with (g, w) columns)."""
    return f"""
    WITH occ AS ({occ_sql}),
    counts AS (SELECT g, w, count(*) AS c FROM occ GROUP BY 1, 2),
    vocab AS (SELECT DISTINCT w FROM counts),
    vsize AS (SELECT count(*) AS v FROM vocab),
    totals AS (SELECT g, sum(c) AS n FROM counts GROUP BY 1),
    ref AS (SELECT w, c AS c_ref FROM counts WHERE g = '{ref_value}'),
    refn AS (SELECT n AS n_ref FROM totals WHERE g = '{ref_value}'),
    grid AS (
        SELECT t.g,
               CAST((coalesce(c.c, 0) + 1) * (n_ref + v) AS DOUBLE) AS a,
               CAST((coalesce(r.c_ref, 0) + 1) * (t.n + v) AS DOUBLE) AS b,
               CAST((t.n + v) * (n_ref + v) AS DOUBLE) AS d
        FROM vocab
        CROSS JOIN (SELECT * FROM totals WHERE g <> '{ref_value}') t
        LEFT JOIN counts c ON c.g = t.g AND c.w = vocab.w
        LEFT JOIN ref r ON r.w = vocab.w
        CROSS JOIN refn CROSS JOIN vsize
    )
    SELECT g AS {group_alias},
           round(sum((a * ln(2 * a / (a + b)) + b * ln(2 * b / (a + b)))
                     / (2 * d)), {dp}) AS js
    FROM grid GROUP BY 1
    """


def theil_sen(
    df: DataFrame, group_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Per-group Theil-Sen robust slope: the MEDIAN of all pairwise
    slopes (y_j - y_i)/(x_j - x_i), x_i < x_j — the outlier-immune
    trend estimator next to `grouped_ols_trend` (one wild day moves an
    OLS slope arbitrarily; Theil-Sen tolerates ~29% corruption).
    Output (group, n_points, n_pairs, sen_slope).

    ``df`` must be pre-aggregated to ONE EXACT-INTEGER y per (group,
    x): every pairwise slope is then one IEEE division of exact
    integers and the median (both engines average the two middle
    values on even counts) is bit-identical cross-engine — sen_slope
    is emitted RAW, unrounded (the CLAUDE.md no-round rule).

    Scale shape: the self-join is pairwise in the NUMBER OF DISTINCT
    x VALUES per group (calendar days, hour buckets) — bounded by the
    time window, never by row mass; the row mass was already reduced
    by the caller's aggregate."""
    pts = df.select(
        F.col(group_col).alias("grp"),
        F.col(x_col).alias("x"),
        F.col(y_col).alias("y"),
    )
    pairs = (
        pts.alias("i")
        .join(pts.alias("j"), "grp")
        .filter(F.col("i.x") < F.col("j.x"))
        .select(
            "grp",
            (
                (F.col("j.y") - F.col("i.y"))
                / (F.col("j.x") - F.col("i.x"))
            ).alias("slope"),
        )
    )
    npts = pts.groupBy("grp").agg(F.count(F.lit(1)).cast("long").alias("n_points"))
    agg = pairs.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.median("slope").alias("sen_slope"),
    )
    return (
        npts.join(agg, "grp")
        .select(
            F.col("grp").alias(group_col), "n_points", "n_pairs", "sen_slope"
        )
    )


def theil_sen_oracle_sql(pts_sql: str, group_alias: str = "g") -> str:
    """DuckDB mirror of `theil_sen` over ``pts_sql`` (a relation with
    (g, x, y) columns, one exact-integer y per (g, x))."""
    return f"""
    WITH pts AS ({pts_sql}),
    pairs AS (
        SELECT i.g,
               CAST(j.y - i.y AS DOUBLE) / (j.x - i.x) AS slope
        FROM pts i JOIN pts j ON i.g = j.g AND i.x < j.x
    ),
    npts AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points
             FROM pts GROUP BY 1),
    agg AS (
        SELECT g, CAST(count(*) AS BIGINT) AS n_pairs,
               median(slope) AS sen_slope
        FROM pairs GROUP BY 1
    )
    SELECT npts.g AS {group_alias}, n_points, n_pairs, sen_slope
    FROM npts JOIN agg ON npts.g = agg.g
    """


def g_test(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence for the
    (row_col x col_col) contingency table — the ln-based sibling of
    `chi_square_independence` (better calibrated when expected counts
    are small; additive across partitions of the table). One output
    row (g_stat, dof, n).

    Engine parity: each observed cell contributes
    2 * o * ln(o * n / (rt * ct)) — o*n and rt*ct are exact integers
    below 2^63, so the ratio is ONE correctly-rounded IEEE division
    through ln (bit-identical per term, the kl_divergence discipline);
    zero cells contribute exactly 0 and are never materialized. The
    cell-relation sum rounds 6dp.

    Scale shape: identical to the chi-square — one map-combined count
    aggregate; everything downstream is cell-relation sized."""
    term = 2.0 * F.col("o") * F.log(
        (F.col("o") * F.col("n")).cast("double") / (F.col("rt") * F.col("ct"))
    )
    return (
        _contingency(df, row_col, col_col)
        .agg(
            F.round(F.sum(term), 6).alias("g_stat"),
            ((F.max("nr") - 1) * (F.max("nc") - 1)).cast("long").alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


def g_test_oracle_sql(table: str, row_sql: str, col_sql: str) -> str:
    """DuckDB mirror of `g_test` — identical cell terms."""
    return f"""
    WITH cells AS (
        SELECT {row_sql} AS r, {col_sql} AS c, CAST(count(*) AS BIGINT) AS o
        FROM {table} GROUP BY 1, 2
    ),
    rows_ AS (SELECT r, sum(o) AS rt FROM cells GROUP BY 1),
    cols_ AS (SELECT c, sum(o) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT sum(o) AS n, count(DISTINCT r) AS nr,
                   count(DISTINCT c) AS nc
            FROM cells)
    SELECT round(sum(2.0 * o * ln(CAST(o * n AS DOUBLE) / (rt * ct))), 6)
               AS g_stat,
           CAST((max(nr) - 1) * (max(nc) - 1) AS BIGINT) AS dof,
           CAST(max(n) AS BIGINT) AS n
    FROM cells JOIN rows_ USING (r) JOIN cols_ USING (c) CROSS JOIN tot
    """


def cohens_d_int(
    df: DataFrame, group_col: str, value_col: str, a: str, b: str
) -> DataFrame:
    """Cohen's d standardized mean difference between groups ``a`` and
    ``b`` of an INTEGER-VALUED metric — the effect-size companion to
    the Welch/Mann-Whitney significance tests (a p-value says the
    difference is real; d says whether it is big enough to matter).
    One output row (n_a, n_b, d).

    Engine parity (the integer-sums discipline): ``value_col`` must be
    integer-valued (quantities, counts, cents) — the (n, sum, sum-sq)
    accumulators are then EXACT BIGINTs, every downstream expression is
    the identical IEEE sequence from identical integers, and d is
    emitted raw (documented bound: sum of squares < 2^63).

    Scale shape: one map-combined aggregate; constant-size output."""
    g = (
        df.filter(F.col(group_col).isin(a, b))
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col(value_col).cast("long")).alias("s"),
            F.sum(
                F.col(value_col).cast("long") * F.col(value_col).cast("long")
            ).alias("ss"),
        )
    )
    wide = g.agg(
        F.max(F.when(F.col("grp") == a, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("grp") == a, F.col("s"))).alias("s_a"),
        F.max(F.when(F.col("grp") == a, F.col("ss"))).alias("ss_a"),
        F.max(F.when(F.col("grp") == b, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("grp") == b, F.col("s"))).alias("s_b"),
        F.max(F.when(F.col("grp") == b, F.col("ss"))).alias("ss_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    va = (F.col("ss_a") - F.col("s_a").cast("double") * F.col("s_a") / na) / (na - 1)
    vb = (F.col("ss_b") - F.col("s_b").cast("double") * F.col("s_b") / nb) / (nb - 1)
    pooled = F.sqrt(((na - 1) * va + (nb - 1) * vb) / (na + nb - 2))
    d = F.when(
        (na > 1) & (nb > 1) & (pooled != 0),
        (F.col("s_a") / na - F.col("s_b") / nb) / pooled,
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        d.alias("d"),
    )


def cohens_d_oracle_sql(
    table: str, group_sql: str, value_sql: str, a_lit: str, b_lit: str
) -> str:
    """DuckDB mirror of `cohens_d_int`: identical integer sums and
    IEEE assembly."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST({value_sql} AS BIGINT)) AS s,
               sum(CAST({value_sql} AS BIGINT) * CAST({value_sql} AS BIGINT)) AS ss
        FROM {table}
        WHERE {group_sql} IN ({a_lit}, {b_lit})
        GROUP BY 1
    ),
    wide AS (
        SELECT max(CASE WHEN grp = {a_lit} THEN n END) AS n_a,
               max(CASE WHEN grp = {a_lit} THEN s END) AS s_a,
               max(CASE WHEN grp = {a_lit} THEN ss END) AS ss_a,
               max(CASE WHEN grp = {b_lit} THEN n END) AS n_b,
               max(CASE WHEN grp = {b_lit} THEN s END) AS s_b,
               max(CASE WHEN grp = {b_lit} THEN ss END) AS ss_b
        FROM g
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CASE WHEN n_a > 1 AND n_b > 1
                AND sqrt(((CAST(n_a AS DOUBLE) - 1)
                       * ((ss_a - CAST(s_a AS DOUBLE) * s_a / CAST(n_a AS DOUBLE))
                          / (CAST(n_a AS DOUBLE) - 1))
                   + (CAST(n_b AS DOUBLE) - 1)
                       * ((ss_b - CAST(s_b AS DOUBLE) * s_b / CAST(n_b AS DOUBLE))
                          / (CAST(n_b AS DOUBLE) - 1)))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)) <> 0 THEN
           (s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))
           / sqrt(((CAST(n_a AS DOUBLE) - 1)
                       * ((ss_a - CAST(s_a AS DOUBLE) * s_a / CAST(n_a AS DOUBLE))
                          / (CAST(n_a AS DOUBLE) - 1))
                   + (CAST(n_b AS DOUBLE) - 1)
                       * ((ss_b - CAST(s_b AS DOUBLE) * s_b / CAST(n_b AS DOUBLE))
                          / (CAST(n_b AS DOUBLE) - 1)))
                  / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2)) END AS d
    FROM wide
    """


def spearman_rho_int(
    df: DataFrame, group_col: str, x_col, y_col
) -> DataFrame:
    """Per-group Spearman rank correlation between two INTEGER-VALUED
    (or integer-expressible) columns — the monotone-association screen
    that Pearson misses on nonlinear-but-ordered relationships
    (quantity vs discount tier, score vs bucket). Output
    (group, n, rho).

    Everything is exact-integer until the final assembly: average
    ranks come from the per-group VALUE HISTOGRAMS as DOUBLED ranks
    dr(v) = 2*cum_before + cnt + 1 (exact BIGINTs — ties included),
    the Pearson sums over rows reduce to joint-histogram sums
    Sxy = sum_cells n_xy * dr_x * dr_y, and
    rho = (n*Sxy - Sx*Sy) / sqrt((n*Sxx - Sx^2) * (n*Syy - Sy^2))
    is assembled in DOUBLE from identical integers with identical IEEE
    ops — bit-identical cross-engine, emitted raw. Documented bound:
    sums need 4n^3 < 2^63, i.e. ~1.3M rows per group on the exact
    path (beyond that, bucket values first).

    Scale shape: ONE (group, x, y) count exchange; ranks and sums run
    on the joint-cell relation (value-space sized, never row-sized)
    under group-partitioned windows."""
    from pyspark.sql import Window as W

    xe = F.col(x_col) if isinstance(x_col, str) else x_col
    ye = F.col(y_col) if isinstance(y_col, str) else y_col
    # The joint histogram is referenced three times (cells + both
    # marginals) — checkpoint the corpus-wide count aggregate once so
    # the row mass really is touched once (the localCheckpoint-inputs
    # rule; lazy evaluation would re-scan the table per reference).
    cells = df.groupBy(
        F.col(group_col).alias("grp"),
        xe.cast("long").alias("x"),
        ye.cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_xy")).localCheckpoint(eager=False)
    wx = W.partitionBy("grp").orderBy("x").rowsBetween(
        W.unboundedPreceding, -1
    )
    xmarg = (
        cells.groupBy("grp", "x")
        .agg(F.sum("n_xy").alias("cx"))
        .select(
            "grp",
            "x",
            (2 * F.coalesce(F.sum("cx").over(wx), F.lit(0)) + F.col("cx") + 1)
            .cast("long")
            .alias("drx"),
        )
    )
    wy = W.partitionBy("grp").orderBy("y").rowsBetween(
        W.unboundedPreceding, -1
    )
    ymarg = (
        cells.groupBy("grp", "y")
        .agg(F.sum("n_xy").alias("cy"))
        .select(
            "grp",
            "y",
            (2 * F.coalesce(F.sum("cy").over(wy), F.lit(0)) + F.col("cy") + 1)
            .cast("long")
            .alias("dry"),
        )
    )
    j = cells.join(xmarg, ["grp", "x"]).join(ymarg, ["grp", "y"])
    s = j.groupBy("grp").agg(
        F.sum("n_xy").alias("n"),
        F.sum(F.col("n_xy") * F.col("drx")).alias("sx"),
        F.sum(F.col("n_xy") * F.col("dry")).alias("sy"),
        F.sum(F.col("n_xy") * F.col("drx") * F.col("drx")).alias("sxx"),
        F.sum(F.col("n_xy") * F.col("dry") * F.col("dry")).alias("syy"),
        F.sum(F.col("n_xy") * F.col("drx") * F.col("dry")).alias("sxy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("n").cast("double") * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("n").cast("double") * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return s.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.when(den != 0, num / den).alias("rho"),
    )


def spearman_oracle_sql(
    table: str, group_sql: str, x_sql: str, y_sql: str, group_alias: str = "g"
) -> str:
    """DuckDB mirror of `spearman_rho_int`: identical doubled-rank
    histograms and integer sums."""
    return f"""
    WITH cells AS (
        SELECT {group_sql} AS grp, CAST({x_sql} AS BIGINT) AS x,
               CAST({y_sql} AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS n_xy
        FROM {table} GROUP BY 1, 2, 3
    ),
    xmarg AS (
        SELECT grp, x,
               CAST(2 * coalesce(sum(cx) OVER (PARTITION BY grp ORDER BY x
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + cx + 1 AS BIGINT) AS drx
        FROM (SELECT grp, x, sum(n_xy) AS cx FROM cells GROUP BY 1, 2)
    ),
    ymarg AS (
        SELECT grp, y,
               CAST(2 * coalesce(sum(cy) OVER (PARTITION BY grp ORDER BY y
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    + cy + 1 AS BIGINT) AS dry
        FROM (SELECT grp, y, sum(n_xy) AS cy FROM cells GROUP BY 1, 2)
    ),
    s AS (
        SELECT grp, sum(n_xy) AS n,
               sum(n_xy * drx) AS sx, sum(n_xy * dry) AS sy,
               sum(n_xy * drx * drx) AS sxx, sum(n_xy * dry * dry) AS syy,
               sum(n_xy * drx * dry) AS sxy
        FROM cells JOIN xmarg USING (grp, x) JOIN ymarg USING (grp, y)
        GROUP BY grp
    )
    SELECT grp AS {group_alias}, CAST(n AS BIGINT) AS n,
           CASE WHEN sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                          * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                     <> 0 THEN
           (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                  * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) END AS rho
    FROM s
    """


def kendall_tau_b(df: DataFrame, x_col, y_col) -> DataFrame:
    """Kendall tau-b rank correlation between two bounded-cardinality
    integer-valued columns — the concordance-probability association
    measure (more robust than Spearman to a few extreme ranks; its
    value reads directly as P(concordant) - P(discordant)). One output
    row (n, concordant, discordant, tau_b).

    Everything is exact-integer until the last division: pair counts
    come from the JOINT VALUE HISTOGRAM's self-join — for cell pairs
    strictly increasing in both dims, concordant += n_a * n_b; for
    pairs increasing in x and decreasing in y, discordant += n_a * n_b
    — and the tie terms n1/n2 from the marginals. tau_b =
    (C - D) / sqrt((n0-n1) * (n0-n2)) casts the exact BIGINTs to
    DOUBLE for the one product+sqrt+division — identical IEEE sequence
    cross-engine, emitted raw.

    Scale shape: the self-join is CELL x CELL (value-space squared:
    50 quantity x 11 discount values = 550 cells here), never
    row-squared; the row mass is touched once by the count
    aggregate."""
    xe = F.col(x_col) if isinstance(x_col, str) else x_col
    ye = F.col(y_col) if isinstance(y_col, str) else y_col
    # Referenced five times (both self-join sides + two tie marginals
    # + total) — checkpoint the corpus-wide count aggregate once
    # (550 cells here; the localCheckpoint-inputs rule).
    cells = df.groupBy(
        xe.cast("long").alias("x"),
        ye.cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_xy")).localCheckpoint(eager=False)
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        F.broadcast(b), F.col("a.x") < F.col("b.x")
    ).select(
        (F.col("a.n_xy") * F.col("b.n_xy")).alias("np"),
        F.when(F.col("a.y") < F.col("b.y"), F.lit(1))
        .when(F.col("a.y") > F.col("b.y"), F.lit(-1))
        .otherwise(F.lit(0))
        .alias("sign"),
    )
    cd = pairs.agg(
        F.sum(F.when(F.col("sign") == 1, F.col("np")).otherwise(F.lit(0)))
        .cast("long")
        .alias("concordant"),
        F.sum(F.when(F.col("sign") == -1, F.col("np")).otherwise(F.lit(0)))
        .cast("long")
        .alias("discordant"),
    )
    xt = (
        cells.groupBy("x")
        .agg(F.sum("n_xy").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("n1"))
    )
    yt = (
        cells.groupBy("y")
        .agg(F.sum("n_xy").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2).cast("long").alias("n2"))
    )
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    n0 = (F.col("n") * (F.col("n") - 1) / 2).cast("long")
    return (
        cd.crossJoin(F.broadcast(xt))
        .crossJoin(F.broadcast(yt))
        .crossJoin(F.broadcast(tot))
        .select(
            "n",
            "concordant",
            "discordant",
            F.when(
                (n0 > F.col("n1")) & (n0 > F.col("n2")),
                (F.col("concordant") - F.col("discordant")).cast("double")
                / F.sqrt(
                    (n0 - F.col("n1")).cast("double")
                    * (n0 - F.col("n2")).cast("double")
                ),
            ).alias("tau_b"),
        )
    )


def kendall_oracle_sql(table: str, x_sql: str, y_sql: str) -> str:
    """DuckDB mirror of `kendall_tau_b`: identical joint-histogram
    pair counts and tie terms."""
    return f"""
    WITH cells AS (
        SELECT CAST({x_sql} AS BIGINT) AS x, CAST({y_sql} AS BIGINT) AS y,
               CAST(count(*) AS BIGINT) AS n_xy
        FROM {table} GROUP BY 1, 2
    ),
    cd AS (
        SELECT CAST(sum(CASE WHEN a.y < b.y THEN a.n_xy * b.n_xy ELSE 0 END)
                    AS BIGINT) AS concordant,
               CAST(sum(CASE WHEN a.y > b.y THEN a.n_xy * b.n_xy ELSE 0 END)
                    AS BIGINT) AS discordant
        FROM cells a JOIN cells b ON a.x < b.x
    ),
    xt AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n1
           FROM (SELECT sum(n_xy) AS t FROM cells GROUP BY x)),
    yt AS (SELECT CAST(sum(t * (t - 1) / 2) AS BIGINT) AS n2
           FROM (SELECT sum(n_xy) AS t FROM cells GROUP BY y)),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells)
    SELECT n, concordant, discordant,
           CASE WHEN CAST(n * (n - 1) / 2 AS BIGINT) > n1
                 AND CAST(n * (n - 1) / 2 AS BIGINT) > n2 THEN
           CAST(concordant - discordant AS DOUBLE)
           / sqrt(CAST(CAST(n * (n - 1) / 2 AS BIGINT) - n1 AS DOUBLE)
                  * CAST(CAST(n * (n - 1) / 2 AS BIGINT) - n2 AS DOUBLE)) END AS tau_b
    FROM cd CROSS JOIN xt CROSS JOIN yt CROSS JOIN tot
    """


def jarque_bera_int(df: DataFrame, group_col: str, value_col) -> DataFrame:
    """Per-group Jarque-Bera normality test from explicit moment sums
    of an INTEGER-VALUED metric — the distribution-shape gate before
    parametric tests (Welch/ANOVA assume roughly normal groups; JB
    reads skewness+kurtosis departure in one number). Output
    (group, n, skewness, ex_kurtosis, jb).

    Spark's built-in skewness/kurtosis can NEVER hash-match DuckDB's
    (population vs bias-corrected estimators — the q_regression_agg
    note); this operator instead accumulates the raw power sums
    s1..s4 as EXACT BIGINTs (documented bound: sum(v^4) < 2^63) and
    assembles the POPULATION moments m_k = s_k/n - ... with identical
    IEEE expression text in both engines. skewness = m3/m2^1.5,
    ex_kurtosis = m4/m2^2 - 3, jb = n/6 * (S^2 + K^2/4); S/K/jb round
    6dp (the values pass through non-integer powers).

    Scale shape: one map-combined aggregate; group-sized output."""
    v = F.col(value_col).cast("long") if isinstance(value_col, str) else value_col.cast("long")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v * v).alias("s2"),
        F.sum(v * v * v).alias("s3"),
        F.sum(v * v * v * v).alias("s4"),
    )
    n = F.col("n").cast("double")
    mu = F.col("s1") / n
    m2 = F.col("s2") / n - mu * mu
    m3 = F.col("s3") / n - 3 * mu * (F.col("s2") / n) + 2 * mu * mu * mu
    m4 = (
        F.col("s4") / n
        - 4 * mu * (F.col("s3") / n)
        + 6 * mu * mu * (F.col("s2") / n)
        - 3 * mu * mu * mu * mu
    )
    skew = F.when(m2 != 0, m3 / F.pow(m2, F.lit(1.5)))
    exk = F.when(m2 != 0, m4 / (m2 * m2) - 3)
    jb = n / 6 * (skew * skew + exk * exk / 4)
    return g.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("ex_kurtosis"),
        F.round(jb, 6).alias("jb"),
    )


def jarque_bera_oracle_sql(
    table: str, group_sql: str, value_sql: str, group_alias: str = "g"
) -> str:
    """DuckDB mirror of `jarque_bera_int`: identical integer power
    sums and moment assembly."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST({value_sql} AS BIGINT)) AS s1,
               sum(CAST({value_sql} AS BIGINT) * CAST({value_sql} AS BIGINT)) AS s2,
               sum(CAST({value_sql} AS BIGINT) * CAST({value_sql} AS BIGINT)
                   * CAST({value_sql} AS BIGINT)) AS s3,
               sum(CAST({value_sql} AS BIGINT) * CAST({value_sql} AS BIGINT)
                   * CAST({value_sql} AS BIGINT) * CAST({value_sql} AS BIGINT)) AS s4
        FROM {table} GROUP BY 1
    ),
    m AS (
        SELECT grp, n,
               s1 / CAST(n AS DOUBLE) AS mu,
               s2 / CAST(n AS DOUBLE) AS r2,
               s3 / CAST(n AS DOUBLE) AS r3,
               s4 / CAST(n AS DOUBLE) AS r4
        FROM g
    ),
    c AS (
        SELECT grp, n,
               r2 - mu * mu AS m2,
               r3 - 3 * mu * r2 + 2 * mu * mu * mu AS m3,
               r4 - 4 * mu * r3 + 6 * mu * mu * r2
                  - 3 * mu * mu * mu * mu AS m4
        FROM m
    ),
    sk AS (
        SELECT grp, n,
               CASE WHEN m2 <> 0 THEN m3 / pow(m2, 1.5) END AS skew,
               CASE WHEN m2 <> 0 THEN m4 / (m2 * m2) - 3 END AS exk
        FROM c
    )
    SELECT grp AS {group_alias}, CAST(n AS BIGINT) AS n,
           round(skew, 6) AS skewness,
           round(exk, 6) AS ex_kurtosis,
           round(CAST(n AS DOUBLE) / 6 * (skew * skew + exk * exk / 4), 6) AS jb
    FROM sk
    """


def pca_2d_int(
    df: DataFrame, group_col: str, x_col, y_col
) -> DataFrame:
    """Per-group closed-form 2D PCA over two INTEGER-VALUED metrics:
    eigenvalues of the 2x2 covariance matrix and the principal-axis
    angle — the correlation-structure readout next to q_corr_matrix
    (which gives the normalized off-diagonal; PCA gives the variance
    split and direction a whitening/projection step needs). Output
    (group, n, var_explained, theta).

    Engine parity: the (n, sx, sy, sxx, syy, sxy) accumulators are
    EXACT BIGINTs; the sample covariances and the closed form
    lam = ((vx+vy) ± sqrt((vx-vy)^2 + 4*cxy^2)) / 2,
    theta = atan2(2*cxy, vx-vy) / 2 are the identical IEEE sequence in
    both engines; var_explained = lam1/(lam1+lam2) and theta round 6dp
    (sqrt/atan2 keep them off half-way ties).

    Scale shape: one map-combined aggregate; group-sized output — the
    2x2 eigen problem needs no iteration and no driver math."""
    x = F.col(x_col).cast("long") if isinstance(x_col, str) else x_col.cast("long")
    y = F.col(y_col).cast("long") if isinstance(y_col, str) else y_col.cast("long")
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    n = F.col("n").cast("double")
    vx = (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / n) / (n - 1)
    disc = F.sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)
    lam1 = (vx + vy + disc) / 2
    lam2 = (vx + vy - disc) / 2
    return g.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(
            F.when((F.col("n") > 1) & ((lam1 + lam2) != 0), lam1 / (lam1 + lam2)),
            6,
        ).alias("var_explained"),
        F.round(
            F.when(F.col("n") > 1, F.atan2(2 * cxy, vx - vy) / 2), 6
        ).alias("theta"),
    )


def pca_2d_oracle_sql(
    table: str, group_sql: str, x_sql: str, y_sql: str, group_alias: str = "g"
) -> str:
    """DuckDB mirror of `pca_2d_int`: identical integer sums and
    closed-form eigen assembly."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               sum(CAST({x_sql} AS BIGINT)) AS sx,
               sum(CAST({y_sql} AS BIGINT)) AS sy,
               sum(CAST({x_sql} AS BIGINT) * CAST({x_sql} AS BIGINT)) AS sxx,
               sum(CAST({y_sql} AS BIGINT) * CAST({y_sql} AS BIGINT)) AS syy,
               sum(CAST({x_sql} AS BIGINT) * CAST({y_sql} AS BIGINT)) AS sxy
        FROM {table} GROUP BY 1
    ),
    v AS (
        SELECT grp, n,
               (sxx - CAST(sx AS DOUBLE) * sx / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS vx,
               (syy - CAST(sy AS DOUBLE) * sy / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS vy,
               (sxy - CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS cxy
        FROM g
    ),
    e AS (
        SELECT grp, n, vx, vy, cxy,
               sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy) AS disc
        FROM v
    )
    SELECT grp AS {group_alias}, CAST(n AS BIGINT) AS n,
           round(CASE WHEN n > 1
                       AND (((vx + vy + disc) / 2) + ((vx + vy - disc) / 2)) <> 0
                 THEN ((vx + vy + disc) / 2)
                      / (((vx + vy + disc) / 2) + ((vx + vy - disc) / 2)) END, 6)
               AS var_explained,
           round(CASE WHEN n > 1 THEN atan2(2 * cxy, vx - vy) / 2 END, 6) AS theta
    FROM e
    """


def log_rank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    group_a,
    group_b,
    dp: int = 6,
) -> DataFrame:
    """Log-rank test comparing the survival curves of two cohorts —
    "do purchasers stay active longer?" next to `km_survival`'s single
    curve. Input: one row per subject with a group label and an
    integer terminal duration (uncensored, the km_survival contract).
    Output ONE row: (n_a, n_b, o_a, e_a, v_stat, chi2).

    At each distinct duration t the at-risk counts n1/n2 come from the
    DURATION HISTOGRAM prefix (never a subject sort): n1 = N1 -
    cum(d1) + d1. The expected-events term d*n1/n and the variance
    term (d*n1/n)*(n2/n)*((n-d)/(n-1)) are identical-text double
    chains of exact BIGINTs, accumulated over the ORDERED duration
    window (sequential, engine-order-free — the km/pettitt walk
    discipline); chi2 = (O1-E1)^2/V rounds dp, NULL when V = 0 (all
    events tied in one duration or a single subject).

    Scale shape: one duration-count aggregate; every window runs over
    DISTINCT durations (calendar-bounded), totals ride 1-row
    broadcasts. Reference analogue: differential result-map checks
    (tests/spark-it/.../SparkTestBase.scala:111-150)."""
    from pyspark.sql import Window as W

    g = F.col(group_col)
    # durs feeds the totals aggregate AND the window chain — checkpoint
    # the duration histogram so subject mass scans once (the
    # localCheckpoint-inputs rule)
    durs = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("d2"),
    ).localCheckpoint(eager=False)
    tot = durs.agg(
        F.sum("d1").cast("long").alias("n1_tot"),
        F.sum("d2").cast("long").alias("n2_tot"),
        F.max("t").alias("t_max"),
    )
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    cur = (
        durs.crossJoin(F.broadcast(tot))
        .withColumn("n1", F.col("n1_tot") - F.sum("d1").over(w) + F.col("d1"))
        .withColumn("n2", F.col("n2_tot") - F.sum("d2").over(w) + F.col("d2"))
        .withColumn("n", F.col("n1") + F.col("n2"))
        .withColumn("d", F.col("d1") + F.col("d2"))
        .withColumn(
            "e1_term",
            F.expr("CAST(d * n1 AS DOUBLE) / n"),
        )
        .withColumn(
            "v_term",
            F.expr(
                "CASE WHEN n > 1 THEN (CAST(d * n1 AS DOUBLE) / n)"
                " * (CAST(n2 AS DOUBLE) / n)"
                " * (CAST(n - d AS DOUBLE) / (n - 1)) ELSE 0.0 END"
            ),
        )
        .withColumn("o1_cum", F.sum("d1").over(w))
        .withColumn("e1_cum", F.sum("e1_term").over(w))
        .withColumn("v_cum", F.sum("v_term").over(w))
    )
    return cur.filter(F.col("t") == F.col("t_max")).select(
        F.col("n1_tot").alias("n_a"),
        F.col("n2_tot").alias("n_b"),
        F.col("o1_cum").cast("long").alias("o_a"),
        F.round("e1_cum", dp).alias("e_a"),
        F.round("v_cum", dp).alias("v_stat"),
        F.when(
            F.col("v_cum") > 0,
            F.round(
                (F.col("o1_cum") - F.col("e1_cum"))
                * (F.col("o1_cum") - F.col("e1_cum"))
                / F.col("v_cum"),
                dp,
            ),
        ).alias("chi2"),
    )


def log_rank_oracle_sql(subjects_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `log_rank_test` over ``subjects_sql`` yielding
    (g, t) with g in (1, 2) group tags: identical histogram-prefix
    algebra and formula text."""
    return f"""
    WITH subj AS ({subjects_sql}),
    durs AS (
        SELECT t,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
        FROM subj GROUP BY 1
    ),
    tot AS (
        SELECT sum(d1) AS n1_tot, sum(d2) AS n2_tot, max(t) AS t_max
        FROM durs
    ),
    cur AS (
        SELECT t, d1, d2, n1_tot, n2_tot, t_max,
               n1_tot - sum(d1) OVER w + d1 AS n1,
               n2_tot - sum(d2) OVER w + d2 AS n2
        FROM durs CROSS JOIN tot
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    terms AS (
        SELECT t, d1, n1_tot, n2_tot, t_max,
               CAST((d1 + d2) * n1 AS DOUBLE) / (n1 + n2) AS e1_term,
               CASE WHEN (n1 + n2) > 1
                    THEN (CAST((d1 + d2) * n1 AS DOUBLE) / (n1 + n2))
                         * (CAST(n2 AS DOUBLE) / (n1 + n2))
                         * (CAST((n1 + n2) - (d1 + d2) AS DOUBLE)
                            / ((n1 + n2) - 1))
                    ELSE 0.0 END AS v_term
        FROM cur
    ),
    walked AS (
        SELECT t, n1_tot, n2_tot, t_max,
               sum(d1) OVER w AS o1_cum,
               sum(e1_term) OVER w AS e1_cum,
               sum(v_term) OVER w AS v_cum
        FROM terms
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(n1_tot AS BIGINT) AS n_a, CAST(n2_tot AS BIGINT) AS n_b,
           CAST(o1_cum AS BIGINT) AS o_a,
           round(e1_cum, {dp}) AS e_a,
           round(v_cum, {dp}) AS v_stat,
           CASE WHEN v_cum > 0
                THEN round((o1_cum - e1_cum) * (o1_cum - e1_cum) / v_cum,
                           {dp}) END AS chi2
    FROM walked WHERE t = t_max
    """


def nelson_aalen(df: DataFrame, duration_col: str, dp: int = 6) -> DataFrame:
    """Nelson-Aalen cumulative-hazard curve over integer durations —
    the hazard-space twin of `km_survival` (H(t) = sum d_u/n_u for
    u <= t; survival ~= exp(-H)). Output one row per distinct duration
    (t, n_at_risk, d_events, cum_hazard).

    Each hazard increment is a single division of exact BIGINTs and
    the curve accumulates over the ORDERED duration window (sequential
    in both engines), rounded dp at the end. Same scale shape as
    km_survival: one duration-count aggregate, distinct-duration
    windows only."""
    from pyspark.sql import Window as W

    # the duration histogram feeds the total AND the walk — checkpoint
    durs = df.groupBy(F.col(duration_col).alias("t")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    ).localCheckpoint(eager=False)
    total = durs.agg(F.sum("d").alias("total"))
    w = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    cur = (
        durs.crossJoin(F.broadcast(total))
        .withColumn("n_at_risk", F.col("total") - F.sum("d").over(w) + F.col("d"))
        .withColumn("hterm", F.expr("CAST(d AS DOUBLE) / n_at_risk"))
        .withColumn("hsum", F.sum("hterm").over(w))
    )
    return cur.select(
        "t",
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("d").alias("d_events"),
        F.round("hsum", dp).alias("cum_hazard"),
    )


def nelson_aalen_oracle_sql(durations_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `nelson_aalen` over ``durations_sql`` (one
    column t per subject)."""
    return f"""
    WITH subj AS ({durations_sql}),
    durs AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM subj GROUP BY 1),
    tot AS (SELECT sum(d) AS total FROM durs),
    cur AS (
        SELECT t, d,
               total - sum(d) OVER w + d AS n_at_risk
        FROM durs CROSS JOIN tot
        WINDOW w AS (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT t, CAST(n_at_risk AS BIGINT) AS n_at_risk, d AS d_events,
           round(sum(CAST(d AS DOUBLE) / n_at_risk) OVER (ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 {dp}) AS cum_hazard
    FROM cur
    """


def mcnemar_test(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """McNemar's paired-proportion test (continuity-corrected) over
    per-subject binary before/after outcomes — "did the same users'
    behavior CHANGE between periods?", the paired complement of the
    two-sample tests (welch/mann-whitney compare independent groups;
    McNemar conditions on the discordant pairs of the SAME subjects).
    Output ONE row: (b_disc, c_disc, chi2) where b = x=1,y=0 subjects,
    c = x=0,y=1, chi2 = (|b-c|-1)^2/(b+c).

    b and c are exact BIGINT counts from one map-combined aggregate;
    chi2 is a single division — bit-identical cross-engine, raw. NULL
    when b+c = 0 (no discordant pairs: the statistic is undefined)."""
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    agg = df.agg(
        F.sum(x * (1 - y)).cast("long").alias("b_disc"),
        F.sum((1 - x) * y).cast("long").alias("c_disc"),
    )
    return agg.select(
        "b_disc",
        "c_disc",
        F.when(
            F.col("b_disc") + F.col("c_disc") > 0,
            F.expr(
                "CAST((abs(b_disc - c_disc) - 1) * (abs(b_disc - c_disc) - 1)"
                " AS DOUBLE) / (b_disc + c_disc)"
            ),
        ).alias("chi2"),
    )


def mcnemar_oracle_sql(pairs_sql: str) -> str:
    """DuckDB mirror of `mcnemar_test` over ``pairs_sql`` yielding
    (x, y) binary columns per subject."""
    return f"""
    WITH pairs AS ({pairs_sql}),
    agg AS (
        SELECT CAST(sum(x * (1 - y)) AS BIGINT) AS b_disc,
               CAST(sum((1 - x) * y) AS BIGINT) AS c_disc
        FROM pairs
    )
    SELECT b_disc, c_disc,
           CASE WHEN b_disc + c_disc > 0
                THEN CAST((abs(b_disc - c_disc) - 1)
                          * (abs(b_disc - c_disc) - 1) AS DOUBLE)
                     / (b_disc + c_disc) END AS chi2
    FROM agg
    """


def cohens_kappa(df: DataFrame, r1_col: str, r2_col: str) -> DataFrame:
    """Cohen's kappa chance-corrected agreement between two binary
    raters over the same items — "do these two labeling rules agree
    beyond what their marginals force?", the inter-annotator/-heuristic
    QA gate for labeled training data. Output ONE row:
    (n, both_pos, r1_only, r2_only, both_neg, kappa).

    All-integer algebra: with confusion counts a,b,c,d,
        kappa = (N*(a+d) - [(a+b)*(a+c) + (c+d)*(b+d)])
              / (N*N     - [(a+b)*(a+c) + (c+d)*(b+d)])
    — the po/pe form cleared of denominators, so kappa is a SINGLE
    division of exact BIGINTs (raw, bit-identical). NULL when the
    denominator is 0 (a degenerate rater with no variation makes
    chance agreement total)."""
    r1 = F.col(r1_col).cast("long")
    r2 = F.col(r2_col).cast("long")
    agg = df.agg(
        F.sum(r1 * r2).cast("long").alias("a"),
        F.sum(r1 * (1 - r2)).cast("long").alias("b"),
        F.sum((1 - r1) * r2).cast("long").alias("c"),
        F.sum((1 - r1) * (1 - r2)).cast("long").alias("d"),
    )
    return agg.select(
        F.expr("a + b + c + d").alias("n"),
        F.col("a").alias("both_pos"),
        F.col("b").alias("r1_only"),
        F.col("c").alias("r2_only"),
        F.col("d").alias("both_neg"),
        F.expr(
            "CASE WHEN (a + b + c + d) * (a + b + c + d)"
            " - ((a + b) * (a + c) + (c + d) * (b + d)) <> 0"
            " THEN CAST((a + b + c + d) * (a + d)"
            "   - ((a + b) * (a + c) + (c + d) * (b + d)) AS DOUBLE)"
            " / ((a + b + c + d) * (a + b + c + d)"
            "   - ((a + b) * (a + c) + (c + d) * (b + d))) END"
        ).alias("kappa"),
    )


def cohens_kappa_oracle_sql(pairs_sql: str) -> str:
    """DuckDB mirror of `cohens_kappa` over ``pairs_sql`` yielding
    binary (r1, r2) per item — identical cleared-denominator text."""
    return f"""
    WITH pairs AS ({pairs_sql}),
    agg AS (
        SELECT CAST(sum(r1 * r2) AS BIGINT) AS a,
               CAST(sum(r1 * (1 - r2)) AS BIGINT) AS b,
               CAST(sum((1 - r1) * r2) AS BIGINT) AS c,
               CAST(sum((1 - r1) * (1 - r2)) AS BIGINT) AS d
        FROM pairs
    )
    SELECT a + b + c + d AS n,
           a AS both_pos, b AS r1_only, c AS r2_only, d AS both_neg,
           CASE WHEN (a + b + c + d) * (a + b + c + d)
                     - ((a + b) * (a + c) + (c + d) * (b + d)) <> 0
                THEN CAST((a + b + c + d) * (a + d)
                          - ((a + b) * (a + c) + (c + d) * (b + d))
                          AS DOUBLE)
                     / ((a + b + c + d) * (a + b + c + d)
                        - ((a + b) * (a + c) + (c + d) * (b + d))) END
               AS kappa
    FROM agg
    """


def runs_test(df: DataFrame, day_col: str, metric_col: str, dp: int = 6) -> DataFrame:
    """Wald-Wolfowitz runs test for randomness of a daily metric's
    above/below-median sign sequence — "is daily revenue drifting or
    oscillating rather than fluctuating randomly?", the
    no-parametric-model randomness gate next to the change-point
    detectors (CUSUM finds WHERE it broke; the runs test asks IF the
    sequence is exchangeable at all). Output ONE row:
    (n_above, n_below, n_runs, z).

    The median is the lower median of the DAY-METRIC HISTOGRAM
    (exact-integer cumulative counts, the weighted_median rule);
    median-equal days are excluded (standard). Runs count via one
    lag() over the day order; z's mu/sigma are the textbook exact
    forms evaluated as one identical-text chain, rounded dp. NULL z
    when either side is empty or fewer than 2 days remain.

    Scale shape: one day-grid aggregate; every window runs on the
    calendar-bounded day relation."""
    from pyspark.sql import Window as W

    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(F.col(metric_col)).cast("long").alias("m"))
        .transform(hold)  # feeds the median histogram AND the walk
    )
    hist = daily.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = W.orderBy("m").rowsBetween(W.unboundedPreceding, 0)
    med = (
        hist.select(
            "m",
            F.sum("c").over(wcum).alias("cw"),
            F.sum("c").over(W.partitionBy()).alias("tw"),
        )
        .groupBy()
        .agg(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("m"))).alias(
                "med"
            )
        )
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("m") != F.col("med"))
        .select(
            "day", (F.col("m") > F.col("med")).cast("long").alias("sgn")
        )
    )
    # calendar-bounded: signs has one row per DAY (daily grid)
    wday = W.orderBy("day")
    runs = signs.withColumn("prev", F.lag("sgn").over(wday)).agg(
        F.sum("sgn").cast("long").alias("n1"),
        F.sum(1 - F.col("sgn")).cast("long").alias("n2"),
        (
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("prev") != F.col("sgn")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    return runs.select(
        F.col("n1").alias("n_above"),
        F.col("n2").alias("n_below"),
        F.col("r").alias("n_runs"),
        F.when(
            (F.col("n1") > 0) & (F.col("n2") > 0) & (F.col("n1") + F.col("n2") > 1),
            F.round(
                F.expr(
                    "(r - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1))"
                    " / sqrt(CAST(2 * n1 * n2 AS DOUBLE)"
                    "        * (2 * n1 * n2 - n1 - n2)"
                    "        / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)"
                    "           * (n1 + n2 - 1)))"
                ),
                dp,
            ),
        ).alias("z"),
    )


def runs_test_oracle_sql(daily_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `runs_test`. ``daily_sql`` yields (day, m)."""
    return f"""
    WITH daily AS ({daily_sql}),
    hist AS (SELECT m, CAST(count(*) AS BIGINT) AS c FROM daily GROUP BY 1),
    cum AS (
        SELECT m,
               sum(c) OVER (ORDER BY m ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               sum(c) OVER () AS tw
        FROM hist
    ),
    med AS (SELECT min(CASE WHEN 2 * cw >= tw THEN m END) AS med FROM cum),
    signs AS (
        SELECT day, CASE WHEN m > med THEN 1 ELSE 0 END AS sgn
        FROM daily CROSS JOIN med
        WHERE m <> med
    ),
    lagged AS (
        SELECT sgn, lag(sgn) OVER (ORDER BY day) AS prev FROM signs
    ),
    agg AS (
        SELECT CAST(sum(sgn) AS BIGINT) AS n1,
               CAST(sum(1 - sgn) AS BIGINT) AS n2,
               CAST(sum(CASE WHEN prev IS NULL OR prev <> sgn
                             THEN 1 ELSE 0 END) AS BIGINT) AS r
        FROM lagged
    )
    SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
           CASE WHEN n1 > 0 AND n2 > 0 AND n1 + n2 > 1
                THEN round(
                    (r - (CAST(2 * n1 * n2 AS DOUBLE) / (n1 + n2) + 1))
                    / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                           * (2 * n1 * n2 - n1 - n2)
                           / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2)
                              * (n1 + n2 - 1))), {dp}) END AS z
    FROM agg
    """


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str, dp: int = 6
) -> DataFrame:
    """Brown-Forsythe variance-equality test (Levene with group
    MEDIANS): are the groups' spreads equal? — the assumption check
    BEFORE reaching for mean-comparison tests (welch relaxes equal
    variance; this measures whether variances differ at all, robustly
    via |x - median|). Requires an integer-valued value column so the
    absolute deviations stay exact. Output ONE row:
    (k_groups, n, f_stat).

    Group medians are lower medians of per-group VALUE HISTOGRAMS
    (exact-integer cumulative counts); deviations z = |v - med| are
    exact BIGINTs, so the sums of squares reduce to single divisions
    of exact integers accumulated over the ORDERED group window
    (k-bounded):
        SSB = sum_i S_i^2/n_i - S^2/N,  SSW = sum z^2 - sum_i S_i^2/n_i
        F = (SSB / (k-1)) / (SSW / (N-k))
    rounded dp; NULL when k < 2 or SSW = 0 (all deviations constant
    within groups).

    Scale shape: one (group, value) histogram aggregate; medians and
    walks run on histogram-bounded relations; the deviation aggregate
    map-combines."""
    from pyspark.sql import Window as W

    hist = df.groupBy(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("long").alias("v"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).transform(hold)
    wcum = W.partitionBy("g").orderBy("v").rowsBetween(
        W.unboundedPreceding, 0
    )
    meds = (
        hist.select(
            "g",
            "v",
            F.sum("c").over(wcum).alias("cw"),
            F.sum("c").over(W.partitionBy("g")).alias("tw"),
        )
        .groupBy("g")
        .agg(
            F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("v"))).alias(
                "med"
            )
        )
    )
    devs = (
        hist.join(meds, "g")
        .select("g", F.abs(F.col("v") - F.col("med")).alias("z"), "c")
        .groupBy("g")
        .agg(
            F.sum(F.col("z") * F.col("c")).cast("long").alias("s"),
            F.sum(F.col("z") * F.col("z") * F.col("c"))
            .cast("long")
            .alias("q"),
            F.sum("c").cast("long").alias("n_g"),
        )
    )
    wg = W.orderBy("g").rowsBetween(W.unboundedPreceding, 0)
    walked = (
        devs.withColumn(
            "cum_sb", F.sum(F.expr("CAST(s * s AS DOUBLE) / n_g")).over(wg)
        )
        .withColumn("cum_s", F.sum("s").over(wg))
        .withColumn("cum_q", F.sum("q").over(wg))
        .withColumn("cum_n", F.sum("n_g").over(wg))
        .withColumn("k", F.count(F.lit(1)).over(wg))
        .withColumn("k_tot", F.count(F.lit(1)).over(W.partitionBy()))
    )
    return walked.filter(F.col("k") == F.col("k_tot")).select(
        F.col("k_tot").cast("long").alias("k_groups"),
        F.col("cum_n").cast("long").alias("n"),
        F.when(
            (F.col("k_tot") > 1)
            & (
                F.expr("cum_q - cum_sb")
                > 0
            ),
            F.round(
                F.expr(
                    "((cum_sb - CAST(cum_s * cum_s AS DOUBLE) / cum_n)"
                    " / (k_tot - 1))"
                    " / ((cum_q - cum_sb) / (cum_n - k_tot))"
                ),
                dp,
            ),
        ).alias("f_stat"),
    )


def brown_forsythe_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `brown_forsythe`: identical histogram medians,
    exact deviation sums, and ordered-group walk."""
    return f"""
    WITH hist AS (
        SELECT {group_sql} AS g, CAST({value_sql} AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    cum AS (
        SELECT g, v, c,
               sum(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
               sum(c) OVER (PARTITION BY g) AS tw
        FROM hist
    ),
    meds AS (
        SELECT g, min(CASE WHEN 2 * cw >= tw THEN v END) AS med
        FROM cum GROUP BY g
    ),
    devs AS (
        SELECT h.g,
               CAST(sum(abs(h.v - m.med) * h.c) AS BIGINT) AS s,
               CAST(sum(abs(h.v - m.med) * abs(h.v - m.med) * h.c)
                    AS BIGINT) AS q,
               CAST(sum(h.c) AS BIGINT) AS n_g
        FROM hist h JOIN meds m ON h.g = m.g
        GROUP BY h.g
    ),
    walked AS (
        SELECT g,
               sum(CAST(s * s AS DOUBLE) / n_g) OVER w AS cum_sb,
               sum(s) OVER w AS cum_s,
               sum(q) OVER w AS cum_q,
               sum(n_g) OVER w AS cum_n,
               count(*) OVER w AS k,
               count(*) OVER () AS k_tot
        FROM devs
        WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(k_tot AS BIGINT) AS k_groups,
           CAST(cum_n AS BIGINT) AS n,
           CASE WHEN k_tot > 1 AND cum_q - cum_sb > 0
                THEN round(
                    ((cum_sb - CAST(cum_s * cum_s AS DOUBLE) / cum_n)
                     / (k_tot - 1))
                    / ((cum_q - cum_sb) / (cum_n - k_tot)), {dp}) END
               AS f_stat
    FROM walked WHERE k = k_tot
    """


def interevent_exponential(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    dp: int = 6,
) -> DataFrame:
    """Exponential fit + memorylessness diagnostics of inter-event
    gaps: MLE rate lambda = n/sum(gaps), the coefficient of variation
    (exactly 1 for a Poisson process; > 1 bursty, < 1 regular — the
    corpus-level twin of q_fano_burstiness's per-hour counts), and
    median/mean (ln 2 ~ 0.693 under exponentiality). Output ONE row:
    (n_gaps, mean_gap_s, lambda_per_s, cv, median_over_mean).

    Gaps are exact BIGINT SECONDS (floor of the microsecond lag —
    micro-grain second moments would overflow int64, which DuckDB
    silently promotes to INT128 while Spark's ANSI mode raises; the
    second grain keeps both engines in exact BIGINT with the
    documented bound sum(gap_s)*max(gap_s) < 2^63, the Jarque-Bera /
    W1 power-sum discipline) from ONE lag() over (user, ts, id) — the
    session-paths deterministic-order rule. lambda, mean and
    median/mean are single divisions of exact integers (raw); cv
    routes through sqrt of a power-sum chain, rounded dp. The median
    is the lower median of the GAP HISTOGRAM.

    Scale shape: one user-keyed window pass over the event mass, then
    a histogram aggregate; nothing row-sorts globally."""
    from pyspark.sql import Window as W

    gaps = (
        df.select(
            F.col(user_col),
            F.col(id_col),
            F.unix_micros(F.col(ts_col)).alias("us"),
        )
        .withColumn("prev", F.lag("us").over(
            W.partitionBy(user_col).orderBy(F.col("us"), F.col(id_col))
        ))
        .filter(F.col("prev").isNotNull())
        .select(F.expr("(us - prev) div 1000000").alias("gap"))
        .transform(hold)  # feeds the moment aggregate AND the histogram
    )
    mom = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("gap").cast("long").alias("sx"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("sxx"),
    )
    hist = gaps.groupBy("gap").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wcum = W.orderBy("gap").rowsBetween(W.unboundedPreceding, 0)
    med = (
        hist.select(
            "gap",
            F.sum("c").over(wcum).alias("cw"),
            F.sum("c").over(W.partitionBy()).alias("tw"),
        )
        .groupBy()
        .agg(
            F.min(
                F.when(2 * F.col("cw") >= F.col("tw"), F.col("gap"))
            ).alias("med_s")
        )
    )
    return mom.crossJoin(F.broadcast(med)).select(
        F.col("n").alias("n_gaps"),
        F.expr("CAST(sx AS DOUBLE) / n").alias("mean_gap_s"),
        F.expr("CAST(n AS DOUBLE) / sx").alias("lambda_per_s"),
        F.when(
            F.col("n") > 1,
            F.round(
                F.expr(
                    "sqrt((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))"
                    " / (CAST(sx AS DOUBLE) / n)"
                ),
                dp,
            ),
        ).alias("cv"),
        F.expr("CAST(med_s * n AS DOUBLE) / sx").alias("median_over_mean"),
    )


def interevent_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `interevent_exponential` over the events
    table: identical lag, moments, histogram median, and formula
    text."""
    return f"""
    WITH gaps AS (
        SELECT (us - prev) // 1000000 AS gap FROM (
            SELECT epoch_us(ts) AS us,
                   lag(epoch_us(ts)) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS prev
            FROM events
        ) WHERE prev IS NOT NULL
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(gap) AS BIGINT) AS sx,
               CAST(sum(gap * gap) AS BIGINT) AS sxx
        FROM gaps
    ),
    hist AS (SELECT gap, CAST(count(*) AS BIGINT) AS c FROM gaps GROUP BY 1),
    cum AS (
        SELECT gap,
               sum(c) OVER (ORDER BY gap ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cw,
               sum(c) OVER () AS tw
        FROM hist
    ),
    med AS (
        SELECT min(CASE WHEN 2 * cw >= tw THEN gap END) AS med_s FROM cum
    )
    SELECT n AS n_gaps,
           CAST(sx AS DOUBLE) / n AS mean_gap_s,
           CAST(n AS DOUBLE) / sx AS lambda_per_s,
           CASE WHEN n > 1
                THEN round(sqrt((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))
                           / (CAST(sx AS DOUBLE) / n), {dp}) END AS cv,
           CAST(med_s * n AS DOUBLE) / sx AS median_over_mean
    FROM mom CROSS JOIN med
    """


def seasonal_strength(
    df: DataFrame, day_col: str, metric_col: str, dp: int = 6
) -> DataFrame:
    """Seasonal strength of a daily metric: the fraction of day-level
    variance explained by day-of-week means, 1 - SSW/SST — "is the
    weekly cycle real signal or noise?", the variance-decomposition
    companion to q_seasonality_index (which reports the per-DOW
    indices themselves). Output ONE row: (n_days, strength).

    SST and SSW reduce to exact-BIGINT power sums: per-DOW S_g, Q_g,
    n_g, so SSB = sum_g S_g^2/n_g - S^2/N with the 7-term sum
    accumulated over the ORDERED day-of-week window (sequential in
    both engines) and strength = SSB/SST one division chain, rounded
    dp. NULL when SST = 0 (constant series).

    Scale shape: row mass reduces to the day grid in one aggregate;
    everything after runs on <= 7 rows + broadcast totals."""
    from pyspark.sql import Window as W

    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(F.col(metric_col)).cast("long").alias("m"))
        .select("day", "m", F.dayofweek("day").cast("long").alias("dow"))
        .transform(hold)  # feeds the DOW groups AND the global moments
    )
    per_dow = daily.groupBy("dow").agg(
        F.sum("m").cast("long").alias("s_g"),
        F.count(F.lit(1)).cast("long").alias("n_g"),
    )
    glob = daily.agg(
        F.sum("m").cast("long").alias("s"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("q"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    wd = W.orderBy("dow").rowsBetween(W.unboundedPreceding, 0)
    walked = (
        per_dow.withColumn(
            "cum_sb", F.sum(F.expr("CAST(s_g * s_g AS DOUBLE) / n_g")).over(wd)
        )
        .withColumn("rn", F.count(F.lit(1)).over(wd))
        .withColumn("k", F.count(F.lit(1)).over(W.partitionBy()))
    )
    return (
        walked.filter(F.col("rn") == F.col("k"))
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("n").alias("n_days"),
            F.when(
                F.expr("q - CAST(s AS DOUBLE) * s / n") > 0,
                F.round(
                    F.expr(
                        "(cum_sb - CAST(s AS DOUBLE) * s / n)"
                        " / (q - CAST(s AS DOUBLE) * s / n)"
                    ),
                    dp,
                ),
            ).alias("strength"),
        )
    )


def seasonal_strength_oracle_sql(daily_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `seasonal_strength`. ``daily_sql`` yields
    (day, m) with m BIGINT; DOW uses the ISO dayofweek+1 convention
    matched to Spark's dayofweek (1 = Sunday)."""
    return f"""
    WITH daily0 AS ({daily_sql}),
    daily AS (
        SELECT day, m,
               CAST(dayofweek(day) + 1 AS BIGINT) AS dow
        FROM daily0
    ),
    per_dow AS (
        SELECT dow, CAST(sum(m) AS BIGINT) AS s_g,
               CAST(count(*) AS BIGINT) AS n_g
        FROM daily GROUP BY 1
    ),
    gmom AS (
        SELECT CAST(sum(m) AS BIGINT) AS s,
               CAST(sum(m * m) AS BIGINT) AS q,
               CAST(count(*) AS BIGINT) AS n
        FROM daily
    ),
    walked AS (
        SELECT sum(CAST(s_g * s_g AS DOUBLE) / n_g) OVER w AS cum_sb,
               count(*) OVER w AS rn,
               count(*) OVER () AS k
        FROM per_dow
        WINDOW w AS (ORDER BY dow ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT n AS n_days,
           CASE WHEN q - CAST(s AS DOUBLE) * s / n > 0
                THEN round((cum_sb - CAST(s AS DOUBLE) * s / n)
                           / (q - CAST(s AS DOUBLE) * s / n), {dp}) END
               AS strength
    FROM walked CROSS JOIN gmom WHERE rn = k
    """


# z constants for the power planner, repr'd so Spark and DuckDB compare
# bit-identical literals (the Poisson-CDF / Wilson discipline).
_Z_ALPHA_025 = 1.959963984540054  # two-sided alpha = 0.05
_Z_POWER_080 = 0.8416212335729143  # power = 0.8


def ab_power_plan(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control,
    mde_frac: float = 0.05,
    dp: int = 6,
) -> DataFrame:
    """A/B sample-size planner: units per arm to detect an
    ``mde_frac`` relative lift over the control mean at two-sided
    alpha 0.05 and power 0.8, using the control group's MEASURED
    variance — the front end of the experiment family (welch/CUPED
    test what ran; this sizes the next one):
        n = ceil(2 * sigma^2 * (z_a + z_b)^2 / delta^2),
        delta = mde_frac * mean.
    Output ONE row: (n_control, mean_control, sd_control, delta_abs,
    n_per_arm).

    Mean is a single division of exact cents BIGINTs; sd routes
    through the sample-variance power-sum chain (identical text,
    rounded dp for the output column but used raw inside n); the z
    constants are repr'd literals. NULL plan when the control mean or
    variance is 0 (no detectable effect / nothing to size).

    Scale shape: ONE map-combined aggregate over the control rows."""
    cents = F.floor(F.col(value_col) * 100).cast("long")
    agg = df.filter(F.col(group_col) == control).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents).cast("long").alias("sx"),
        F.sum(cents * cents).cast("long").alias("sxx"),
    )
    zz = f"({_Z_ALPHA_025!r} + {_Z_POWER_080!r})"
    var = "((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))"
    mean = "(CAST(sx AS DOUBLE) / n)"
    delta = f"({mde_frac!r} * {mean})"
    return agg.select(
        F.col("n").alias("n_control"),
        F.expr(f"{mean} / 100.0").alias("mean_control"),
        F.when(
            F.col("n") > 1, F.round(F.expr(f"sqrt({var}) / 100.0"), dp)
        ).alias("sd_control"),
        F.expr(f"{delta} / 100.0").alias("delta_abs"),
        F.when(
            (F.col("n") > 1) & (F.col("sx") > 0),
            F.expr(
                f"CAST(ceil(2 * {var} * {zz} * {zz}"
                f" / ({delta} * {delta})) AS BIGINT)"
            ),
        ).alias("n_per_arm"),
    )


def ab_power_oracle_sql(
    table: str,
    group_sql: str,
    value_sql: str,
    control_sql: str,
    mde_frac: float = 0.05,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `ab_power_plan`: identical literals and
    formula text."""
    zz = f"({_Z_ALPHA_025!r} + {_Z_POWER_080!r})"
    var = "((sxx - CAST(sx AS DOUBLE) * sx / n) / (n - 1))"
    mean = "(CAST(sx AS DOUBLE) / n)"
    delta = f"({mde_frac!r} * {mean})"
    return f"""
    WITH agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(floor(({value_sql}) * 100) AS BIGINT))
                    AS BIGINT) AS sx,
               CAST(sum(CAST(floor(({value_sql}) * 100) AS BIGINT)
                        * CAST(floor(({value_sql}) * 100) AS BIGINT))
                    AS BIGINT) AS sxx
        FROM {table} WHERE {group_sql} = {control_sql}
    )
    SELECT n AS n_control,
           {mean} / 100.0 AS mean_control,
           CASE WHEN n > 1 THEN round(sqrt({var}) / 100.0, {dp}) END
               AS sd_control,
           {delta} / 100.0 AS delta_abs,
           CASE WHEN n > 1 AND sx > 0
                THEN CAST(ceil(2 * {var} * {zz} * {zz}
                               / ({delta} * {delta})) AS BIGINT) END
               AS n_per_arm
    FROM agg
    """


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_band,
    dp: int = 6,
) -> DataFrame:
    """t-closeness audit: for each quasi-identifier group, the ordinal
    earth-mover distance between the group's SENSITIVE-attribute
    distribution and the global one (normalized cumulative-gap sum
    over the ordered band grid, the standard ordinal-EMD form) —
    completes the release-privacy triad (q_k_anonymity: group size;
    q_l_diversity: value variety; this: value DISTRIBUTION — a group
    can be k-anonymous and l-diverse yet still leak by skew). Output
    one row per group: (*quasi_cols, n, t_close).

    ``sensitive_band`` is a Column of ordered integer bands. Every
    cumulative gap is |cum_g * N - cum * n_g| — an exact BIGINT
    numerator over a single division — and the per-group gap sum
    accumulates over the ORDERED band window partitioned by group
    (sequential in both engines), divided by (m - 1) bands, rounded
    dp. Groups with m = 1 global band report 0 (identical trivially).

    Scale shape: one (group, band) count aggregate; the dense
    group x band grid (privacy audits run on low-cardinality quasi
    tuples by construction) hosts every window."""
    from pyspark.sql import Window as W

    cells = (
        df.select(*quasi_cols, sensitive_band.cast("long").alias("band"))
        .groupBy(*quasi_cols, "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds the global hist AND the grid
    )
    gband = cells.groupBy("band").agg(
        F.sum("c").cast("long").alias("gc")
    )
    groups = cells.groupBy(*quasi_cols).agg(
        F.sum("c").cast("long").alias("n_g")
    )
    grid = (
        groups.crossJoin(F.broadcast(gband))
        .join(cells, [*quasi_cols, "band"], "left")
        .select(
            *quasi_cols,
            "band",
            "n_g",
            "gc",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    wb = (
        W.partitionBy(*quasi_cols)
        .orderBy("band")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    tot = gband.agg(
        F.sum("gc").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("m_bands"),
    )
    walked = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn("cum_g", F.sum("c").over(wb))
        .withColumn("cum", F.sum("gc").over(wb))
        .withColumn("rn", F.count(F.lit(1)).over(wb))
        # the LAST band's gap is always 0 (both CDFs hit 1) — include
        # all m rows, gap text identical in both engines
        .withColumn(
            "gap",
            F.expr(
                "CAST(abs(cum_g * n_tot - cum * n_g) AS DOUBLE)"
                " / (CAST(n_g AS DOUBLE) * n_tot)"
            ),
        )
        .withColumn("cum_gap", F.sum("gap").over(wb))
    )
    return walked.filter(F.col("rn") == F.col("m_bands")).select(
        *quasi_cols,
        F.col("n_g").alias("n"),
        F.when(F.col("m_bands") > 1, F.round(
            F.expr("cum_gap / (m_bands - 1)"), dp
        )).otherwise(F.lit(0.0)).alias("t_close"),
    )


def t_closeness_oracle_sql(
    table: str,
    quasi_sql: list[str],
    band_sql: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `t_closeness`: identical grid, walk, and gap
    text."""
    q = ", ".join(quasi_sql)
    return f"""
    WITH cells AS (
        SELECT {q}, CAST({band_sql} AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY ALL
    ),
    gband AS (SELECT band, CAST(sum(c) AS BIGINT) AS gc
              FROM cells GROUP BY 1),
    groups AS (SELECT {q}, CAST(sum(c) AS BIGINT) AS n_g
               FROM cells GROUP BY ALL),
    tot AS (SELECT CAST(sum(gc) AS BIGINT) AS n_tot,
                   CAST(count(*) AS BIGINT) AS m_bands FROM gband),
    grid AS (
        SELECT g.*, b.band, b.gc, CAST(coalesce(c.c, 0) AS BIGINT) AS c
        FROM groups g CROSS JOIN gband b
        LEFT JOIN cells c ON c.band = b.band
            AND ({" AND ".join(f"c.{x} = g.{x}" for x in quasi_sql)})
    ),
    cums AS (
        SELECT {q}, band, n_g, n_tot, m_bands,
               sum(c) OVER w AS cum_g,
               sum(gc) OVER w AS cum,
               count(*) OVER w AS rn
        FROM grid CROSS JOIN tot
        WINDOW w AS (PARTITION BY {q} ORDER BY band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    walked AS (
        SELECT {q}, n_g, m_bands, rn,
               sum(CAST(abs(cum_g * n_tot - cum * n_g) AS DOUBLE)
                   / (CAST(n_g AS DOUBLE) * n_tot)) OVER w AS cum_gap
        FROM cums
        WINDOW w AS (PARTITION BY {q} ORDER BY band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT {q}, n_g AS n,
           CASE WHEN m_bands > 1 THEN round(cum_gap / (m_bands - 1), {dp})
                ELSE 0.0 END AS t_close
    FROM walked WHERE rn = m_bands
    """


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    label_col: str,
    dp: int = 6,
) -> DataFrame:
    """Cochran-Armitage trend test: does a binary outcome's rate trend
    MONOTONICALLY across ordered integer-scored groups? — the ordinal
    complement of q_chi_square (which only detects SOME association)
    and the categorical sibling of q_grouped_ols_trend. Output ONE
    row: (n, k_groups, z).

    Integer-cleared: with per-group scores s, sizes n_i, positives
    r_i, total N/R:
        Tn = N * sum(s*r) - R * sum(s*n)          (exact BIGINT)
        z  = Tn * sqrt(N) / sqrt(R*(N-R) * (N*sum(s^2*n) - sum(s*n)^2))
    — each sqrt argument is an exact BIGINT product cast to DOUBLE
    before multiplying (keeps everything under 2^63), identical text,
    rounded dp. NULL when the outcome or the scores are constant.

    Scale shape: ONE map-combined (score)-group aggregate; the trend
    algebra runs on the k-row relation via an order-free integer
    aggregate (sums of products commute exactly)."""
    g = df.groupBy(F.col(score_col).cast("long").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_i"),
        F.sum(F.col(label_col).cast("long")).cast("long").alias("r_i"),
    )
    agg = g.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("s") * F.col("r_i")).cast("long").alias("sr"),
        F.sum(F.col("s") * F.col("n_i")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_i"))
        .cast("long")
        .alias("s2n"),
    )
    return agg.select(
        F.col("n"),
        F.col("k").alias("k_groups"),
        F.when(
            (F.col("r") > 0)
            & (F.col("r") < F.col("n"))
            & (F.expr("n * s2n - sn * sn") > 0),
            F.round(
                F.expr(
                    "(n * sr - r * sn) * sqrt(CAST(n AS DOUBLE))"
                    " / sqrt(CAST(r * (n - r) AS DOUBLE)"
                    "        * (n * s2n - sn * sn))"
                ),
                dp,
            ),
        ).alias("z"),
    )


def cochran_armitage_oracle_sql(
    table: str, score_sql: str, label_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `cochran_armitage`: identical cleared-integer
    trend algebra."""
    return f"""
    WITH g AS (
        SELECT CAST({score_sql} AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_i,
               CAST(sum(CAST({label_sql} AS BIGINT)) AS BIGINT) AS r_i
        FROM {table} GROUP BY 1
    ),
    agg AS (
        SELECT CAST(sum(n_i) AS BIGINT) AS n,
               CAST(sum(r_i) AS BIGINT) AS r,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(s * r_i) AS BIGINT) AS sr,
               CAST(sum(s * n_i) AS BIGINT) AS sn,
               CAST(sum(s * s * n_i) AS BIGINT) AS s2n
        FROM g
    )
    SELECT n, k AS k_groups,
           CASE WHEN r > 0 AND r < n AND n * s2n - sn * sn > 0
                THEN round((n * sr - r * sn) * sqrt(CAST(n AS DOUBLE))
                           / sqrt(CAST(r * (n - r) AS DOUBLE)
                                  * (n * s2n - sn * sn)), {dp}) END AS z
    FROM agg
    """


def theil_index(
    df: DataFrame, unit_col: str, metric_col: str, dp: int = 6
) -> DataFrame:
    """Theil T inequality index of a metric across units (days,
    sources, tenants): T = (1/N) sum (x_i/mu) ln(x_i/mu) — 0 when
    every unit earns the same, ln(N) at total concentration. The
    entropy-based member of the inequality family (q_lorenz_curve:
    the curve; q_market_hhi: sum of squared shares; Theil decomposes
    additively across subgroups, which they don't). Output ONE row:
    (n_units, theil).

    Each term is (x*N/S) ln(x*N/S) — exact BIGINT ratios through one
    division (raw) and one ln; zero-metric units contribute the
    x -> 0 limit 0 exactly. The unit-bounded term sum accumulates
    over the ORDERED unit window, divided by N, rounded dp.

    Scale shape: row mass reduces to the unit grid in one aggregate;
    the walk runs on the unit-bounded relation."""
    from pyspark.sql import Window as W

    units = (
        df.groupBy(F.col(unit_col).alias("unit"))
        .agg(F.sum(F.col(metric_col)).cast("long").alias("m"))
        .transform(hold)  # feeds the totals AND the walk
    )
    tot = units.agg(
        F.sum("m").cast("long").alias("s_tot"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    w = W.orderBy("unit").rowsBetween(W.unboundedPreceding, 0)
    walked = (
        units.crossJoin(F.broadcast(tot))
        .withColumn(
            "term",
            F.when(
                F.col("m") > 0,
                F.expr(
                    "(CAST(m * n AS DOUBLE) / s_tot)"
                    " * ln(CAST(m * n AS DOUBLE) / s_tot)"
                ),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("cum", F.sum("term").over(w))
        .withColumn("rn", F.count(F.lit(1)).over(w))
    )
    return walked.filter(F.col("rn") == F.col("n")).select(
        F.col("n").alias("n_units"),
        F.when(
            F.col("s_tot") > 0, F.round(F.expr("cum / n"), dp)
        ).alias("theil"),
    )


def theil_oracle_sql(units_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `theil_index`. ``units_sql`` yields (unit, m)
    with m BIGINT."""
    return f"""
    WITH units AS ({units_sql}),
    tot AS (SELECT CAST(sum(m) AS BIGINT) AS s_tot,
                   CAST(count(*) AS BIGINT) AS n FROM units),
    walked AS (
        SELECT sum(CASE WHEN m > 0
                        THEN (CAST(m * n AS DOUBLE) / s_tot)
                             * ln(CAST(m * n AS DOUBLE) / s_tot)
                        ELSE 0.0 END) OVER w AS cum,
               count(*) OVER w AS rn,
               n, s_tot
        FROM units CROSS JOIN tot
        WINDOW w AS (ORDER BY unit ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT n AS n_units,
           CASE WHEN s_tot > 0 THEN round(cum / n, {dp}) END AS theil
    FROM walked WHERE rn = n
    """


def ks_bh_screen(
    df: DataFrame,
    group_col: str,
    band_col,
    q: float = 0.10,
    dp: int = 6,
) -> DataFrame:
    """Multiple-testing drift screen: a two-sample KS test of EVERY
    group against the rest of the population (banded CDFs), Kolmogorov
    p approximations, and Benjamini-Hochberg FDR control at level
    ``q`` — "which segments' value distributions genuinely differ,
    after correcting for testing all of them at once?". The
    multiple-comparisons closer the per-test family (welch, KS,
    chi-square) needs before anyone loops it over segments. Output one
    row per group: (group, n_g, ks_d, p_approx, bh_rank, significant).

    Engine-parity: D numerators are exact BIGINTs over the dense
    group x band grid (|cum_g * n_rest - cum_rest * n_g|, the
    ks_two_sample discipline); p = 2(e^{-2L^2} - e^{-8L^2} + e^{-18L^2})
    with L = d*sqrt(n_g*n_rest/n) is an identical-text exp chain
    clamped to [0,1] and rounded dp BEFORE the BH comparison, so the
    rank decisions compare identical doubles. BH runs on the k-row
    p-ordered walk: significant = rank <= max{i : p_(i) <= i*q/m}.

    Scale shape: one (group, band) aggregate; the dense grid and
    every walk are (groups x bands)-bounded."""
    from pyspark.sql import Window as W

    cells = (
        df.select(
            F.col(group_col).alias("g"), band_col.cast("long").alias("band")
        )
        .groupBy("g", "band")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds the global hist AND the grid
    )
    gband = cells.groupBy("band").agg(F.sum("c").cast("long").alias("gc"))
    groups = cells.groupBy("g").agg(F.sum("c").cast("long").alias("n_g"))
    tot = gband.agg(F.sum("gc").cast("long").alias("n_tot"))
    grid = (
        groups.crossJoin(F.broadcast(gband))
        .join(cells, ["g", "band"], "left")
        .select(
            "g",
            "band",
            "n_g",
            "gc",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    wb = W.partitionBy("g").orderBy("band").rowsBetween(
        W.unboundedPreceding, 0
    )
    stats = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn("cum_g", F.sum("c").over(wb))
        .withColumn("cum_all", F.sum("gc").over(wb))
        .withColumn("n_rest", F.col("n_tot") - F.col("n_g"))
        .withColumn(
            "num",
            F.abs(
                F.col("cum_g") * F.col("n_rest")
                - (F.col("cum_all") - F.col("cum_g")) * F.col("n_g")
            ),
        )
        .groupBy("g", "n_g", "n_rest")
        .agg(F.max("num").cast("long").alias("ks_num"))
        .withColumn(
            "ks_d",
            F.expr("CAST(ks_num AS DOUBLE) / (CAST(n_g AS DOUBLE) * n_rest)"),
        )
        .withColumn(
            "lam",
            F.expr(
                "ks_num / (CAST(n_g AS DOUBLE) * n_rest)"
                " * sqrt(CAST(n_g AS DOUBLE) * n_rest / (n_g + n_rest))"
            ),
        )
        # lam*lam, not pow(lam, 2): pow is not correctly-rounded
        # across JVM Math.pow and C libm; multiply is IEEE-exact
        .withColumn(
            "p_approx",
            F.round(
                F.expr(
                    "least(1.0, greatest(0.0,"
                    " 2 * (exp(-2 * (lam * lam)) - exp(-8 * (lam * lam))"
                    " + exp(-18 * (lam * lam)))))"
                ),
                dp,
            ),
        )
        .drop("lam")
    )
    # group-bounded: stats has one row per GROUP (the BH rank runs
    # over the tested-hypothesis count, never rows)
    wp = W.orderBy("p_approx", "g")
    wall = W.partitionBy()
    ranked = (
        stats.withColumn("bh_rank", F.row_number().over(wp).cast("long"))
        .withColumn("m", F.count(F.lit(1)).over(wall))
        .withColumn(
            "passes",
            (
                F.col("p_approx")
                <= F.col("bh_rank") * F.lit(q) / F.col("m")
            ).cast("long"),
        )
        .withColumn(
            "max_pass_rank",
            F.max(F.when(F.col("passes") == 1, F.col("bh_rank"))).over(wall),
        )
    )
    return ranked.select(
        F.col("g").alias("group"),
        "n_g",
        "ks_d",
        "p_approx",
        "bh_rank",
        F.when(
            F.col("bh_rank") <= F.coalesce(F.col("max_pass_rank"), F.lit(0)),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("significant"),
    )


def ks_bh_oracle_sql(
    table: str, group_sql: str, band_sql: str, q: float = 0.10, dp: int = 6
) -> str:
    """DuckDB mirror of `ks_bh_screen`: identical grid, D numerators,
    exp chain, and BH walk."""
    lam = (
        "ks_num / (CAST(n_g AS DOUBLE) * n_rest)"
        " * sqrt(CAST(n_g AS DOUBLE) * n_rest / (n_g + n_rest))"
    )
    return f"""
    WITH cells AS (
        SELECT {group_sql} AS g, CAST({band_sql} AS BIGINT) AS band,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    gband AS (SELECT band, CAST(sum(c) AS BIGINT) AS gc
              FROM cells GROUP BY 1),
    groups AS (SELECT g, CAST(sum(c) AS BIGINT) AS n_g
               FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(gc) AS BIGINT) AS n_tot FROM gband),
    grid AS (
        SELECT gr.g, b.band, gr.n_g, b.gc,
               CAST(coalesce(c.c, 0) AS BIGINT) AS c
        FROM groups gr CROSS JOIN gband b
        LEFT JOIN cells c ON c.g = gr.g AND c.band = b.band
    ),
    cums AS (
        SELECT g, n_g, n_tot - n_g AS n_rest,
               abs(sum(c) OVER w * (n_tot - n_g)
                   - (sum(gc) OVER w - sum(c) OVER w) * n_g) AS num
        FROM grid CROSS JOIN tot
        WINDOW w AS (PARTITION BY g ORDER BY band
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stats AS (
        SELECT g, n_g, n_rest, CAST(max(num) AS BIGINT) AS ks_num
        FROM cums GROUP BY 1, 2, 3
    ),
    lammed AS (
        SELECT g, n_g,
               CAST(ks_num AS DOUBLE) / (CAST(n_g AS DOUBLE) * n_rest)
                   AS ks_d,
               {lam} AS lam
        FROM stats
    ),
    scored AS (
        SELECT g, n_g, ks_d,
               round(least(1.0, greatest(0.0,
                   2 * (exp(-2 * (lam * lam)) - exp(-8 * (lam * lam))
                        + exp(-18 * (lam * lam))))), {dp}) AS p_approx
        FROM lammed
    ),
    ranked AS (
        SELECT g, n_g, ks_d, p_approx,
               CAST(row_number() OVER (ORDER BY p_approx, g) AS BIGINT)
                   AS bh_rank,
               count(*) OVER () AS m
        FROM scored
    ),
    flagged AS (
        SELECT *, CASE WHEN p_approx <= bh_rank * {q!r} / m
                       THEN bh_rank END AS pass_rank
        FROM ranked
    )
    SELECT g AS "group", n_g, ks_d, p_approx, bh_rank,
           CAST(CASE WHEN bh_rank <= coalesce(
                    max(pass_rank) OVER (), 0) THEN 1 ELSE 0 END AS INT)
               AS significant
    FROM flagged
    """


def kruskal_wallis(
    df: DataFrame, group_col: str, value_col: str, dp: int = 6
) -> DataFrame:
    """Kruskal-Wallis H test: do k groups' value distributions differ,
    by ranks? — the k-group extension of `mann_whitney_u` and the
    rank-based (outlier-robust) sibling of `anova_oneway`. Output ONE
    row: (k_groups, n, h_stat) with the tie-corrected H.

    NO row sort: average ranks come from the VALUE HISTOGRAM (avg
    rank of a tied block = cum_before + (t+1)/2, halves exact); each
    group's rank sum is an exact sum of count x half-exact doubles
    accumulated per group over the ordered value window; H's
    tie-correction divisor 1 - sum(t^3 - t)/(N^3 - N) is exact-BIGINT
    rationals. H = [12/(N(N+1)) * sum R_g^2/n_g - 3(N+1)] / C rounds
    dp. NULL when every value ties (C = 0) or k < 2.

    Scale shape: one (group, value) histogram aggregate; every window
    is histogram- or k-bounded."""
    from pyspark.sql import Window as W

    hist = (
        df.groupBy(
            F.col(group_col).alias("g"),
            F.col(value_col).cast("long").alias("v"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds the value histogram AND group sums
    )
    vhist = hist.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    ranks = vhist.withColumn(
        "cum_before", F.coalesce(F.sum("t").over(wv), F.lit(0))
    ).select(
        "v",
        "t",
        ((2 * F.col("cum_before") + F.col("t") + 1) / F.lit(2.0)).alias(
            "avg_rank"
        ),
    )
    gsum = (
        hist.join(ranks.select("v", "avg_rank"), "v")
        .groupBy("g")
        .agg(
            F.sum(F.col("c") * F.col("avg_rank")).alias("r_g"),
            F.sum("c").cast("long").alias("n_g"),
        )
    )
    ties = vhist.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_num"),
        F.sum("t").cast("long").alias("n"),
    )
    wg = W.orderBy("g").rowsBetween(W.unboundedPreceding, 0)
    walked = (
        gsum.withColumn(
            "cum_r2n", F.sum(F.expr("r_g * r_g / n_g")).over(wg)
        )
        .withColumn("rn", F.count(F.lit(1)).over(wg))
        .withColumn("k", F.count(F.lit(1)).over(W.partitionBy()))
    )
    return (
        walked.filter(F.col("rn") == F.col("k"))
        .crossJoin(F.broadcast(ties))
        .select(
            F.col("k").cast("long").alias("k_groups"),
            F.col("n"),
            F.when(
                (F.col("k") > 1)
                & (
                    F.expr(
                        "1.0 - CAST(tie_num AS DOUBLE) / (n * n * n - n)"
                    )
                    > 0
                ),
                F.round(
                    F.expr(
                        "(12.0 / (CAST(n AS DOUBLE) * (n + 1)) * cum_r2n"
                        " - 3.0 * (n + 1))"
                        " / (1.0 - CAST(tie_num AS DOUBLE)"
                        "          / (n * n * n - n))"
                    ),
                    dp,
                ),
            ).alias("h_stat"),
        )
    )


def kruskal_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `kruskal_wallis`: identical histogram ranks,
    group walk, and tie-corrected H text."""
    return f"""
    WITH hist AS (
        SELECT {group_sql} AS g, CAST({value_sql} AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    vhist AS (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM hist GROUP BY 1),
    ranks AS (
        SELECT v, t,
               (2 * coalesce(sum(t) OVER (ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + t + 1) / 2.0 AS avg_rank
        FROM vhist
    ),
    gsum AS (
        SELECT h.g, sum(h.c * r.avg_rank) AS r_g,
               CAST(sum(h.c) AS BIGINT) AS n_g
        FROM hist h JOIN ranks r ON h.v = r.v
        GROUP BY h.g
    ),
    ties AS (
        SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_num,
               CAST(sum(t) AS BIGINT) AS n
        FROM vhist
    ),
    walked AS (
        SELECT sum(r_g * r_g / n_g) OVER w AS cum_r2n,
               count(*) OVER w AS rn,
               count(*) OVER () AS k
        FROM gsum
        WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(k AS BIGINT) AS k_groups, n,
           CASE WHEN k > 1
                 AND 1.0 - CAST(tie_num AS DOUBLE) / (n * n * n - n) > 0
                THEN round(
                    (12.0 / (CAST(n AS DOUBLE) * (n + 1)) * cum_r2n
                     - 3.0 * (n + 1))
                    / (1.0 - CAST(tie_num AS DOUBLE) / (n * n * n - n)),
                    {dp}) END AS h_stat
    FROM walked CROSS JOIN ties WHERE rn = k
    """


def granger_leadlag(
    df: DataFrame,
    day_col: str,
    x_col,
    y_col,
    dp: int = 6,
) -> DataFrame:
    """Granger-style lead-lag readout: regress today's y on
    (yesterday's y, yesterday's x) in closed form and report how much
    of y's residual variance yesterday's x explains BEYOND y's own
    autoregression — "does click spend lead purchase revenue, or just
    co-move?", the causal-direction sharpening of
    q_cross_correlation's symmetric lags. Output ONE row:
    (n_days, beta_x, r2_restricted, r2_full, granger_f).

    The day grid reduces both metrics to exact cents; all five
    second-moment sums are exact BIGINTs over the lag-joined grid, so
    the 2-predictor OLS normal equations solve in one identical-text
    determinant chain (single divisions of exact integers at the
    leaves), rounded dp; F = (RSS_r - RSS_f)/(RSS_f/(n-3)). NULL when
    the determinant vanishes (collinear predictors) or n < 4.

    Scale shape: one day-grid aggregate + a self-join on day-1;
    everything after is a 1-row moment relation."""
    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(
            F.sum(x_col).cast("long").alias("x"),
            F.sum(y_col).cast("long").alias("y"),
        )
        .transform(hold)  # feeds both sides of the lag join
    )
    lagged = (
        daily.alias("cur")
        .join(
            daily.alias("prev"),
            F.col("cur.day") == F.date_add(F.col("prev.day"), 1),
        )
        .select(
            F.col("cur.y").alias("yt"),
            F.col("prev.y").alias("y1"),
            F.col("prev.x").alias("x1"),
        )
    )
    mom = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("yt").cast("long").alias("syt"),
        F.sum("y1").cast("long").alias("sy1"),
        F.sum("x1").cast("long").alias("sx1"),
        F.sum(F.col("y1") * F.col("y1")).cast("long").alias("sy1y1"),
        F.sum(F.col("x1") * F.col("x1")).cast("long").alias("sx1x1"),
        F.sum(F.col("y1") * F.col("x1")).cast("long").alias("sy1x1"),
        F.sum(F.col("yt") * F.col("y1")).cast("long").alias("syty1"),
        F.sum(F.col("yt") * F.col("x1")).cast("long").alias("sytx1"),
        F.sum(F.col("yt") * F.col("yt")).cast("long").alias("sytyt"),
    )
    # centered moments (identical text both sides)
    c = {
        "a11": "(sy1y1 - CAST(sy1 AS DOUBLE) * sy1 / n)",
        "a22": "(sx1x1 - CAST(sx1 AS DOUBLE) * sx1 / n)",
        "a12": "(sy1x1 - CAST(sy1 AS DOUBLE) * sx1 / n)",
        "b1": "(syty1 - CAST(syt AS DOUBLE) * sy1 / n)",
        "b2": "(sytx1 - CAST(syt AS DOUBLE) * sx1 / n)",
        "syy": "(sytyt - CAST(syt AS DOUBLE) * syt / n)",
    }
    det = f"({c['a11']} * {c['a22']} - {c['a12']} * {c['a12']})"
    beta_y = f"(({c['b1']} * {c['a22']} - {c['b2']} * {c['a12']}) / {det})"
    beta_x = f"(({c['b2']} * {c['a11']} - {c['b1']} * {c['a12']}) / {det})"
    rss_f = (
        f"({c['syy']} - ({beta_y}) * {c['b1']} - ({beta_x}) * {c['b2']})"
    )
    rss_r = f"({c['syy']} - {c['b1']} * {c['b1']} / {c['a11']})"
    guard = (
        f"(n > 3) AND ({det} <> 0) AND ({c['a11']} > 0)"
        f" AND ({c['syy']} > 0) AND ({rss_f} > 0)"
    )
    return mom.select(
        F.col("n").alias("n_days"),
        F.when(F.expr(guard), F.round(F.expr(beta_x), dp)).alias("beta_x"),
        F.when(
            F.expr(guard),
            F.round(F.expr(f"1.0 - {rss_r} / {c['syy']}"), dp),
        ).alias("r2_restricted"),
        F.when(
            F.expr(guard),
            F.round(F.expr(f"1.0 - {rss_f} / {c['syy']}"), dp),
        ).alias("r2_full"),
        F.when(
            F.expr(guard),
            F.round(
                F.expr(f"({rss_r} - {rss_f}) / ({rss_f} / (n - 3))"), dp
            ),
        ).alias("granger_f"),
    )


def granger_oracle_sql(daily_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `granger_leadlag`. ``daily_sql`` yields
    (day, x, y) BIGINT cents on the day grid."""
    c = {
        "a11": "(sy1y1 - CAST(sy1 AS DOUBLE) * sy1 / n)",
        "a22": "(sx1x1 - CAST(sx1 AS DOUBLE) * sx1 / n)",
        "a12": "(sy1x1 - CAST(sy1 AS DOUBLE) * sx1 / n)",
        "b1": "(syty1 - CAST(syt AS DOUBLE) * sy1 / n)",
        "b2": "(sytx1 - CAST(syt AS DOUBLE) * sx1 / n)",
        "syy": "(sytyt - CAST(syt AS DOUBLE) * syt / n)",
    }
    det = f"({c['a11']} * {c['a22']} - {c['a12']} * {c['a12']})"
    beta_y = f"(({c['b1']} * {c['a22']} - {c['b2']} * {c['a12']}) / {det})"
    beta_x = f"(({c['b2']} * {c['a11']} - {c['b1']} * {c['a12']}) / {det})"
    rss_f = (
        f"({c['syy']} - ({beta_y}) * {c['b1']} - ({beta_x}) * {c['b2']})"
    )
    rss_r = f"({c['syy']} - {c['b1']} * {c['b1']} / {c['a11']})"
    guard = (
        f"n > 3 AND {det} <> 0 AND {c['a11']} > 0"
        f" AND {c['syy']} > 0 AND {rss_f} > 0"
    )
    return f"""
    WITH daily AS ({daily_sql}),
    lagged AS (
        SELECT cur.y AS yt, prev.y AS y1, prev.x AS x1
        FROM daily cur JOIN daily prev ON cur.day = prev.day + 1
    ),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(yt) AS BIGINT) AS syt,
               CAST(sum(y1) AS BIGINT) AS sy1,
               CAST(sum(x1) AS BIGINT) AS sx1,
               CAST(sum(y1 * y1) AS BIGINT) AS sy1y1,
               CAST(sum(x1 * x1) AS BIGINT) AS sx1x1,
               CAST(sum(y1 * x1) AS BIGINT) AS sy1x1,
               CAST(sum(yt * y1) AS BIGINT) AS syty1,
               CAST(sum(yt * x1) AS BIGINT) AS sytx1,
               CAST(sum(yt * yt) AS BIGINT) AS sytyt
        FROM lagged
    )
    SELECT n AS n_days,
           CASE WHEN {guard} THEN round({beta_x}, {dp}) END AS beta_x,
           CASE WHEN {guard}
                THEN round(1.0 - {rss_r} / {c['syy']}, {dp}) END
               AS r2_restricted,
           CASE WHEN {guard}
                THEN round(1.0 - {rss_f} / {c['syy']}, {dp}) END AS r2_full,
           CASE WHEN {guard}
                THEN round(({rss_r} - {rss_f}) / ({rss_f} / (n - 3)), {dp})
                END AS granger_f
    FROM mom
    """


def pairwise_welch(
    df: DataFrame, group_col: str, value_col, dp: int = 6
) -> DataFrame:
    """All-pairs Welch t statistics between groups — the POST-HOC step
    after an omnibus test fires (`anova_oneway` / `kruskal_wallis` say
    "the groups differ"; this says WHICH pairs, with n_pairs emitted
    so the caller applies Bonferroni/BH at their alpha). Output one
    row per unordered pair: (group_a, group_b, n_a, n_b, t_stat, dof,
    n_pairs).

    One group-moment aggregate (exact-integer power sums of the cents
    value), then a k x k self-join on the K-ROW relation — never on
    row mass. The t/dof chains are identical text in both engines
    (the welch_t discipline), rounded dp; NULL t when either side has
    n < 2 or both variances vanish.

    Scale shape: row mass reduces once; everything pairwise happens
    on k rows."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(value_col).cast("long").alias("s"),
        F.sum(value_col * value_col).cast("long").alias("ss"),
    ).transform(hold)  # feeds both sides of the pair join AND n_pairs
    pairs = (
        g.alias("a")
        .crossJoin(g.alias("b"))
        .filter(F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("group_a"),
            F.col("b.grp").alias("group_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.col("a.s").alias("s_a"),
            F.col("b.s").alias("s_b"),
            F.col("a.ss").alias("ss_a"),
            F.col("b.ss").alias("ss_b"),
        )
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    va = "((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / n_a)"
    vb = "((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / n_b)"
    t = (
        f"(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
        f" / sqrt({va} + {vb})"
    )
    dof = (
        f"(({va} + {vb}) * ({va} + {vb}))"
        f" / ({va} * {va} / (n_a - 1) + {vb} * {vb} / (n_b - 1))"
    )
    guard = f"n_a > 1 AND n_b > 1 AND {va} + {vb} > 0"
    return pairs.crossJoin(F.broadcast(tot)).select(
        "group_a",
        "group_b",
        "n_a",
        "n_b",
        F.when(F.expr(guard), F.round(F.expr(t), dp)).alias("t_stat"),
        F.when(F.expr(guard), F.round(F.expr(dof), dp)).alias("dof"),
        "n_pairs",
    )


def pairwise_welch_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `pairwise_welch`: identical moments, pair
    join, and t/dof text."""
    va = "((ss_a - CAST(s_a AS DOUBLE) * s_a / n_a) / (n_a - 1) / n_a)"
    vb = "((ss_b - CAST(s_b AS DOUBLE) * s_b / n_b) / (n_b - 1) / n_b)"
    t = (
        f"(CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b)"
        f" / sqrt({va} + {vb})"
    )
    dof = (
        f"(({va} + {vb}) * ({va} + {vb}))"
        f" / ({va} * {va} / (n_a - 1) + {vb} * {vb} / (n_b - 1))"
    )
    guard = f"n_a > 1 AND n_b > 1 AND {va} + {vb} > 0"
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum({value_sql}) AS BIGINT) AS s,
               CAST(sum(({value_sql}) * ({value_sql})) AS BIGINT) AS ss
        FROM {table} GROUP BY 1
    ),
    pairs AS (
        SELECT a.grp AS group_a, b.grp AS group_b,
               a.n AS n_a, b.n AS n_b, a.s AS s_a, b.s AS s_b,
               a.ss AS ss_a, b.ss AS ss_b
        FROM g a CROSS JOIN g b WHERE a.grp < b.grp
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT group_a, group_b, n_a, n_b,
           CASE WHEN {guard} THEN round({t}, {dp}) END AS t_stat,
           CASE WHEN {guard} THEN round({dof}, {dp}) END AS dof,
           n_pairs
    FROM pairs CROSS JOIN tot
    """


def eb_shrunk_rates(
    df: DataFrame,
    group_col: str,
    success_col: str,
    strength: int = 20,
) -> DataFrame:
    """Empirical-Bayes rate shrinkage: per-group success rates pulled
    toward the GLOBAL rate by a fixed pseudo-count ``strength`` —
    shrunk = (pos + m*p0)/(n + m), the small-sample stabilizer every
    per-segment dashboard needs (a 2/3 segment shouldn't outrank a
    4900/10000 one). The fixed-m form keeps the estimator a single
    identical-text chain (a method-of-moments m would divide two
    near-zero variance estimates — cross-engine poison); m is the
    documented knob. Output per group:
    (group, n, pos, raw_rate, shrunk_rate).

    Both rates are deterministic chains of exact BIGINTs and the
    global p0 double, raw. One map-combined aggregate; the global
    scalar broadcasts."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(success_col).cast("long")).cast("long").alias("pos"),
    ).transform(hold)  # feeds the global scalar AND the output rows
    tot = g.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("p_tot"),
    )
    m = strength
    return g.crossJoin(F.broadcast(tot)).select(
        F.col("grp").alias("group"),
        "n",
        "pos",
        F.expr("CAST(pos AS DOUBLE) / n").alias("raw_rate"),
        F.expr(
            f"(pos + {m} * (CAST(p_tot AS DOUBLE) / n_tot)) / (n + {m})"
        ).alias("shrunk_rate"),
    )


def eb_shrinkage_oracle_sql(
    table: str, group_sql: str, success_sql: str, strength: int = 20
) -> str:
    """DuckDB mirror of `eb_shrunk_rates`: identical chain text."""
    m = strength
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST({success_sql} AS BIGINT)) AS BIGINT) AS pos
        FROM {table} GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                   CAST(sum(pos) AS BIGINT) AS p_tot FROM g)
    SELECT grp AS "group", n, pos,
           CAST(pos AS DOUBLE) / n AS raw_rate,
           (pos + {m} * (CAST(p_tot AS DOUBLE) / n_tot)) / (n + {m})
               AS shrunk_rate
    FROM g CROSS JOIN tot
    """


def bradley_terry(
    lineitem: DataFrame, n_teams: int = 16, rounds: int = 2
) -> DataFrame:
    """Bradley–Terry preference-strength fit via Hunter's MM updates —
    THE model behind pairwise-preference ranking (RLHF comparison
    data, match outcomes, A/B taste tests): P(i beats j) =
    s_i/(s_i+s_j), solved by  s_i <- W_i / sum_j n_ij/(s_i+s_j),
    strengths renormalized to mean 1 and rounded 6 dp after EVERY
    round so float drift cannot compound (the q_geometric_median
    discipline). ``rounds`` is fixed and small — MM converges
    geometrically and the oracle unrolls the same two rounds.

    Matches: consecutive line numbers within an order, team =
    suppkey % n_teams, winner = higher extended price (price tie ->
    lower team id; deterministic). Scale shape: ONE equi-join on
    (orderkey, linenumber) builds matches, one map-combined aggregate
    reduces them to the <= C(n_teams,2) pair table, and the MM rounds
    run on that BOUNDED relation (checkpointed once — it feeds the
    directed view, the wins view, and every round). Nothing
    row-scaling is ever iterated. Output per team:
    (team, strength, wins, matches)."""
    li = lineitem.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_suppkey") % n_teams).alias("team"),
        "l_extendedprice",
    )
    # rename BOTH join keys on the right side: li and nxt share lineage,
    # and same-name column equality on a self-join resolves through
    # Spark's ambiguity special-case (warns "trivially true predicate")
    # NOTE (r13): a lead()-window match build was tried and REVERTED —
    # the testdata carries duplicate (orderkey, linenumber) rows, whose
    # cross-product matches the join semantics require and a
    # next-row window cannot reproduce (1867 vs 3150 matches at sf0.01).
    nxt = li.select(
        F.col("l_orderkey").alias("ok_b"),
        (F.col("l_linenumber") - 1).alias("ln_prev"),
        F.col("team").alias("team_b"),
        F.col("l_extendedprice").alias("price_b"),
    )
    m = (
        li.join(
            nxt,
            (F.col("l_orderkey") == F.col("ok_b"))
            & (F.col("l_linenumber") == F.col("ln_prev")),
        )
        .filter(F.col("team") != F.col("team_b"))
        .select(
            F.least("team", "team_b").alias("i"),
            F.greatest("team", "team_b").alias("j"),
            F.when(
                F.col("l_extendedprice") > F.col("price_b"), F.col("team")
            )
            .when(F.col("l_extendedprice") < F.col("price_b"), F.col("team_b"))
            .otherwise(F.least("team", "team_b"))
            .alias("winner"),
        )
        .select(
            "i",
            "j",
            (F.col("winner") == F.col("i")).cast("long").alias("wi"),
        )
    )
    pairs = (
        m.groupBy("i", "j")
        .agg(
            F.sum("wi").cast("long").alias("w_i"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
        # bounded (<= C(n_teams,2) rows) and referenced by the directed
        # view, the wins view, and every MM round — materialize the
        # INPUT of the iteration once (CLAUDE.md iterative-op rule)
        .transform(hold)
    )
    directed = pairs.select(
        F.col("i").alias("t"), F.col("j").alias("o"), "n"
    ).unionAll(pairs.select(F.col("j").alias("t"), F.col("i").alias("o"), "n"))
    wins = (
        pairs.select(F.col("i").alias("t"), F.col("w_i").alias("w"))
        .unionAll(
            pairs.select(
                F.col("j").alias("t"), (F.col("n") - F.col("w_i")).alias("w")
            )
        )
        .groupBy("t")
        .agg(F.sum("w").cast("long").alias("wins"))
    )
    matches = directed.groupBy("t").agg(
        F.sum("n").cast("long").alias("matches")
    )
    s = directed.select("t").distinct().withColumn("s", F.lit(1.0))
    for _ in range(rounds):
        so = s.select(F.col("t").alias("o"), F.col("s").alias("s_o"))
        denom = (
            directed.join(s, "t")
            .join(so, "o")
            .groupBy("t")
            .agg(F.sum(F.col("n") / (F.col("s") + F.col("s_o"))).alias("d"))
        )
        raw = wins.join(denom, "t").select(
            "t", (F.col("wins") / F.col("d")).alias("s_raw")
        )
        tot = raw.agg(
            F.sum("s_raw").alias("s_tot"),
            F.count(F.lit(1)).cast("long").alias("k"),
        )
        s = raw.crossJoin(F.broadcast(tot)).select(
            "t",
            F.round(
                F.col("s_raw") * F.col("k") / F.col("s_tot"), 6
            ).alias("s"),
        # Each round references s TWICE (s + so) and raw twice (s_raw +
        # the normalizer subquery) — the r7 HITS plan-doubling shape.
        # Left lazy, the MM tail's physical plan measured 136 Exchange
        # nodes at rounds=2 (128 KB plan string) even though every
        # relation is <= C(n_teams,2) rows; an eager checkpoint of the
        # <= n_teams-row normalized strengths per round truncates the
        # doubling (r13 optimization, guide §3.3 "materialise an
        # intermediate to truncate enormous plans").
        ).localCheckpoint(eager=False)
    return (
        s.join(wins, "t")
        .join(matches, "t")
        .select(
            F.col("t").cast("long").alias("team"),
            F.col("s").alias("strength"),
            "wins",
            "matches",
        )
    )


def bradley_terry_oracle_sql(n_teams: int = 16, rounds: int = 2) -> str:
    """DuckDB mirror of `bradley_terry`: identical match derivation,
    identical per-round expression text, rounds unrolled. Round
    relations are referenced twice per round (s_t and s_o joins), so
    every round CTE is AS MATERIALIZED (the r7 MMR lesson — DuckDB
    inlines multiply-referenced CTEs otherwise)."""
    prev = "s0"
    round_ctes = []
    for r in range(1, rounds + 1):
        round_ctes.append(f"""
    bt_r{r}raw AS MATERIALIZED (
        SELECT d.t, w.wins / sum(d.n / (s1.s + s2.s)) AS s_raw
        FROM bt_directed d
        JOIN {prev} s1 ON d.t = s1.t
        JOIN {prev} s2 ON d.o = s2.t
        JOIN bt_wins w ON w.t = d.t
        GROUP BY d.t, w.wins
    ),
    bt_r{r} AS MATERIALIZED (
        SELECT t,
               round(s_raw * (SELECT count(*) FROM bt_r{r}raw)
                           / (SELECT sum(s_raw) FROM bt_r{r}raw), 6) AS s
        FROM bt_r{r}raw
    )""")
        prev = f"bt_r{r}"
    return f"""
    WITH bt_m AS MATERIALIZED (
        SELECT least(a, b) AS i, greatest(a, b) AS j,
               CASE WHEN winner = least(a, b) THEN 1 ELSE 0 END AS wi
        FROM (
            SELECT l1.l_suppkey % {n_teams} AS a,
                   l2.l_suppkey % {n_teams} AS b,
                   CASE WHEN l1.l_extendedprice > l2.l_extendedprice
                            THEN l1.l_suppkey % {n_teams}
                        WHEN l1.l_extendedprice < l2.l_extendedprice
                            THEN l2.l_suppkey % {n_teams}
                        ELSE least(l1.l_suppkey % {n_teams},
                                   l2.l_suppkey % {n_teams})
                   END AS winner
            FROM lineitem l1
            JOIN lineitem l2
              ON l1.l_orderkey = l2.l_orderkey
             AND l2.l_linenumber = l1.l_linenumber + 1
            WHERE l1.l_suppkey % {n_teams} <> l2.l_suppkey % {n_teams}
        )
    ),
    bt_pairs AS MATERIALIZED (
        SELECT i, j,
               CAST(sum(wi) AS BIGINT)  AS w_i,
               CAST(count(*) AS BIGINT) AS n
        FROM bt_m GROUP BY i, j
    ),
    bt_directed AS MATERIALIZED (
        SELECT i AS t, j AS o, n FROM bt_pairs
        UNION ALL
        SELECT j AS t, i AS o, n FROM bt_pairs
    ),
    bt_wins AS MATERIALIZED (
        SELECT t, CAST(sum(w) AS BIGINT) AS wins FROM (
            SELECT i AS t, w_i AS w FROM bt_pairs
            UNION ALL
            SELECT j AS t, n - w_i AS w FROM bt_pairs
        ) GROUP BY t
    ),
    bt_matches AS (
        SELECT t, CAST(sum(n) AS BIGINT) AS matches
        FROM bt_directed GROUP BY t
    ),
    s0 AS (SELECT DISTINCT t, 1.0 AS s FROM bt_directed),
    {",".join(round_ctes)}
    SELECT CAST(f.t AS BIGINT) AS team, f.s AS strength,
           w.wins, m.matches
    FROM {prev} f
    JOIN bt_wins w ON w.t = f.t
    JOIN bt_matches m ON m.t = f.t
    """


def odds_ratio_2x2(
    df: DataFrame, exposure: Column, outcome: Column, dp: int = 6
) -> DataFrame:
    """2x2 odds ratio + relative risk with Woolf log-CI — the
    epidemiology/risk readout (is the outcome associated with the
    exposure, with uncertainty?) that chi-square (q_chi_square) and
    Cramer's V (q_cramers_v) summarize without direction. One
    conditional aggregate produces the exact BIGINT cells; OR and RR
    are short exact-int IEEE chains emitted raw; ln/exp/sqrt are the
    only irrational steps, rounded {dp} dp on both sides (the repo's
    libm-parity rule). Zero cells -> NULL (CASE-guarded; Spark ANSI
    would raise where DuckDB yields inf). Output one row:
    (a, b, c, d, odds_ratio, rel_risk, ln_or, or_ci_lo, or_ci_hi)."""
    e = exposure.cast("long")
    o = outcome.cast("long")
    cells = df.agg(
        F.sum(e * o).cast("long").alias("a"),
        F.sum(e * (1 - o)).cast("long").alias("b"),
        F.sum((1 - e) * o).cast("long").alias("c"),
        F.sum((1 - e) * (1 - o)).cast("long").alias("d"),
    )
    a, b, c, d = (F.col(x).cast("double") for x in "abcd")
    ok = (F.col("a") > 0) & (F.col("b") > 0) & (F.col("c") > 0) & (F.col("d") > 0)
    orr = (a * d) / (b * c)
    rr = (a / (a + b)) / (c / (c + d))
    ln_or = F.round(F.log(orr), dp)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    return cells.select(
        "a", "b", "c", "d",
        F.when(ok, orr).alias("odds_ratio"),
        F.when(ok, rr).alias("rel_risk"),
        F.when(ok, ln_or).alias("ln_or"),
        F.when(ok, F.round(F.log(orr) - 1.96 * se, dp)).alias("lo_ln"),
        F.when(ok, F.round(F.log(orr) + 1.96 * se, dp)).alias("hi_ln"),
    )


def odds_ratio_oracle_sql(
    table: str, exposure_sql: str, outcome_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `odds_ratio_2x2` (identical chains)."""
    return f"""
    WITH cells AS (
        SELECT CAST(sum(e * o) AS BIGINT)             AS a,
               CAST(sum(e * (1 - o)) AS BIGINT)       AS b,
               CAST(sum((1 - e) * o) AS BIGINT)       AS c,
               CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d
        FROM (SELECT CAST({exposure_sql} AS BIGINT) AS e,
                     CAST({outcome_sql} AS BIGINT)  AS o
              FROM {table})
    )
    SELECT a, b, c, d,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                 / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)) END AS odds_ratio,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             (CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))
                 / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE)
                                         + CAST(d AS DOUBLE))) END AS rel_risk,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(ln((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))), {dp})
           END AS ln_or,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(ln((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                   - 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                                 + 1.0 / CAST(b AS DOUBLE)
                                 + 1.0 / CAST(c AS DOUBLE)
                                 + 1.0 / CAST(d AS DOUBLE)), {dp})
           END AS lo_ln,
           CASE WHEN a > 0 AND b > 0 AND c > 0 AND d > 0 THEN
             round(ln((CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
                      / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))
                   + 1.96 * sqrt(1.0 / CAST(a AS DOUBLE)
                                 + 1.0 / CAST(b AS DOUBLE)
                                 + 1.0 / CAST(c AS DOUBLE)
                                 + 1.0 / CAST(d AS DOUBLE)), {dp})
           END AS hi_ln
    FROM cells
    """


def bartlett_test(
    df: DataFrame, group_col: str, cents_col: Column, dp: int = 4
) -> DataFrame:
    """Bartlett's test of variance homogeneity across k groups — the
    are-the-variances-even-comparable gate in front of ANOVA
    (q_anova assumes equal variances; Brown-Forsythe is the robust
    sibling). ``cents_col`` must be an exact integer-quantized value
    (the repo's cents idiom) so the per-group (n, sum, sum-sq) triple
    is exact BIGINT arithmetic; sum-sq bounds int64 up to ~sf100 for
    acctbal cents (|cents| <= ~1.1e6, squares <= 1.3e12, 7e18 at 5M
    rows/group) — quantize coarser beyond that, same bound discipline
    as the micro-grain second moments (CLAUDE.md r9). Variances and
    the statistic assemble on the k-row relation; ln is the only
    irrational step and T is rounded {dp} dp (the anova_oneway
    cross-engine discipline: sums are doubles with ~1e-13 relative
    accumulation noise, the rounded O(1) statistic is far above it).
    Output (bartlett_t, dof, k, n)."""
    g = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(cents_col.cast("long")).cast("long").alias("s"),
        F.sum(
            cents_col.cast("long") * cents_col.cast("long")
        ).cast("long").alias("ss"),
    )
    # per-group variance: double from exact ints (s*s would overflow
    # int64 — the cast rounding is deterministic and identical x-engine)
    s2 = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    # s2 == 0 (a constant group) would hit ln(0): Spark yields NULL,
    # DuckDB -inf — drop such groups identically on both sides
    per = (
        g.filter(F.col("n") > 1)
        .select("n", s2.alias("s2"))
        .filter(F.col("s2") > 0)
    )
    tot = per.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("sw"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("sln"),
        F.sum(1.0 / (F.col("n") - 1)).alias("sinv"),
    )
    nk = (F.col("nn") - F.col("k")).cast("double")
    sp2 = F.col("sw") / nk
    t_num = nk * F.log(sp2) - F.col("sln")
    c_corr = 1.0 + (F.col("sinv") - 1.0 / nk) / (3.0 * (F.col("k") - 1))
    return tot.select(
        F.when(F.col("k") > 1, F.round(t_num / c_corr, dp)).alias(
            "bartlett_t"
        ),
        (F.col("k") - 1).cast("long").alias("dof"),
        F.col("k").cast("long").alias("k"),
        F.col("nn").cast("long").alias("n"),
    )


def bartlett_oracle_sql(
    table: str, group_sql: str, cents_sql: str, dp: int = 4
) -> str:
    """DuckDB mirror of `bartlett_test` (identical sums form)."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST({cents_sql} AS BIGINT)) AS BIGINT) AS s,
               CAST(sum(CAST({cents_sql} AS BIGINT)
                        * CAST({cents_sql} AS BIGINT)) AS BIGINT) AS ss
        FROM {table} GROUP BY 1
    ),
    per AS (
        SELECT n, s2 FROM (
            SELECT n,
                   (CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
                       / (n - 1) AS s2
            FROM g WHERE n > 1
        ) WHERE s2 > 0
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT)   AS nn,
               sum((n - 1) * s2)        AS sw,
               sum((n - 1) * ln(s2))    AS sln,
               sum(1.0 / (n - 1))       AS sinv
        FROM per
    )
    SELECT CASE WHEN k > 1 THEN
             round((CAST(nn - k AS DOUBLE) * ln(sw / CAST(nn - k AS DOUBLE))
                    - sln)
                   / (1.0 + (sinv - 1.0 / CAST(nn - k AS DOUBLE))
                            / (3.0 * (k - 1))), {dp})
           END AS bartlett_t,
           CAST(k - 1 AS BIGINT) AS dof, k, nn AS n
    FROM tot
    """


def friedman_test(
    df: DataFrame, block_col: str, treat_col: str
) -> DataFrame:
    """Friedman test: the WITHIN-subject nonparametric omnibus (do the
    k treatments differ, controlling for per-block level?) — the
    repeated-measures sibling of q_kruskal_wallis (independent groups)
    and the k-treatment generalization of sign-test logic. Blocks =
    distinct ``block_col`` values, treatment value = the block's COUNT
    of each ``treat_col`` catalog value (0-filled), ranks with
    average-rank ties.

    Everything is EXACT integer arithmetic: ranks are half-integers
    stored doubled (rank2 = 2 + 2*#less + #equal-others), so rank sums
    and their squares are BIGINTs; with R_j = R2_j/2,
      chi2_F = 3*sum R2_j^2/(n k (k+1)) - 3 n (k+1),
    and the tie correction sums (t^3 - t) per tie group via
    sum_j (t_j^2 - 1) — also exact. The statistic is a deterministic
    chain over those ints, emitted raw; C == 0 (every block fully
    tied) CASE-guards to NULL.

    Scale shape: one count aggregate, a k-fan 0-fill (catalog k
    broadcasts), a per-block kxk self-join (k bounded -> linear), and
    two shrinking aggregates. Output one row:
    (friedman_chi2, chi2_tie_corrected, k, n_blocks, tie_sum)."""
    counts = df.groupBy(
        F.col(block_col).alias("blk"), F.col(treat_col).alias("trt")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    treats = df.select(F.col(treat_col).alias("trt")).distinct()
    blocks = df.select(F.col(block_col).alias("blk")).distinct()
    full = (
        blocks.crossJoin(F.broadcast(treats))
        .join(counts, ["blk", "trt"], "left")
        .select("blk", "trt", F.coalesce("v", F.lit(0)).alias("v"))
        # referenced by both sides of the rank self-join
        .transform(hold)
    )
    o = full.select(
        F.col("blk").alias("blk_o"),
        F.col("trt").alias("trt_o"),
        F.col("v").alias("v_o"),
    )
    ranked = (
        full.join(o, full["blk"] == o["blk_o"])
        .groupBy("blk", "trt")
        .agg(
            (
                2
                + 2 * F.sum((F.col("v_o") < F.col("v")).cast("long"))
                + F.sum(
                    (
                        (F.col("v_o") == F.col("v"))
                        & (F.col("trt_o") != F.col("trt"))
                    ).cast("long")
                )
            ).cast("long").alias("rank2"),
            # t_j = ties including self; sum_j (t_j^2 - 1) over a tie
            # group of size t is exactly t^3 - t
            F.sum((F.col("v_o") == F.col("v")).cast("long"))
            .cast("long")
            .alias("tj"),
        )
    )
    per_treat = ranked.groupBy("trt").agg(
        F.sum("rank2").cast("long").alias("r2sum")
    )
    ties = ranked.agg(
        F.sum(F.col("tj") * F.col("tj") - 1).cast("long").alias("tie_sum")
    )
    tot = per_treat.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.col("r2sum") * F.col("r2sum")).cast("long").alias("ssum"),
    )
    nb = blocks.agg(F.count(F.lit(1)).cast("long").alias("n"))
    j = tot.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(ties))
    n, k = F.col("n").cast("double"), F.col("k").cast("double")
    chi2 = 3.0 * F.col("ssum") / (n * k * (k + 1)) - 3.0 * n * (k + 1)
    c_corr = 1.0 - F.col("tie_sum") / (n * k * (k * k - 1))
    return j.select(
        chi2.alias("friedman_chi2"),
        F.when(c_corr > 0, chi2 / c_corr).alias("chi2_tie_corrected"),
        F.col("k").cast("long").alias("k"),
        F.col("n").cast("long").alias("n_blocks"),
        "tie_sum",
    )


def friedman_oracle_sql(table: str, block_sql: str, treat_sql: str) -> str:
    """DuckDB mirror of `friedman_test` (identical integer identities)."""
    return f"""
    WITH fr_counts AS (
        SELECT {block_sql} AS blk, {treat_sql} AS trt,
               CAST(count(*) AS BIGINT) AS v
        FROM {table} GROUP BY 1, 2
    ),
    fr_treats AS (SELECT DISTINCT {treat_sql} AS trt FROM {table}),
    fr_blocks AS (SELECT DISTINCT {block_sql} AS blk FROM {table}),
    fr_full AS MATERIALIZED (
        SELECT b.blk, t.trt, coalesce(c.v, 0) AS v
        FROM fr_blocks b CROSS JOIN fr_treats t
        LEFT JOIN fr_counts c ON c.blk = b.blk AND c.trt = t.trt
    ),
    fr_ranked AS MATERIALIZED (
        SELECT a.blk, a.trt,
               CAST(2 + 2 * sum(CASE WHEN o.v < a.v THEN 1 ELSE 0 END)
                    + sum(CASE WHEN o.v = a.v AND o.trt <> a.trt
                               THEN 1 ELSE 0 END) AS BIGINT) AS rank2,
               CAST(sum(CASE WHEN o.v = a.v THEN 1 ELSE 0 END)
                    AS BIGINT) AS tj
        FROM fr_full a JOIN fr_full o ON o.blk = a.blk
        GROUP BY a.blk, a.trt
    ),
    fr_per_treat AS (
        SELECT trt, CAST(sum(rank2) AS BIGINT) AS r2sum
        FROM fr_ranked GROUP BY trt
    ),
    fr_ties AS (
        SELECT CAST(sum(tj * tj - 1) AS BIGINT) AS tie_sum FROM fr_ranked
    ),
    fr_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(r2sum * r2sum) AS BIGINT) AS ssum
        FROM fr_per_treat
    ),
    fr_nb AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fr_blocks)
    SELECT 3.0 * ssum / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                         * (CAST(k AS DOUBLE) + 1))
               - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1)
               AS friedman_chi2,
           CASE WHEN 1.0 - tie_sum / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                                      * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                                         - 1)) > 0 THEN
             (3.0 * ssum / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                            * (CAST(k AS DOUBLE) + 1))
              - 3.0 * CAST(n AS DOUBLE) * (CAST(k AS DOUBLE) + 1))
             / (1.0 - tie_sum / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)
                                 * (CAST(k AS DOUBLE) * CAST(k AS DOUBLE)
                                    - 1)))
           END AS chi2_tie_corrected,
           k, n AS n_blocks, tie_sum
    FROM fr_tot CROSS JOIN fr_nb CROSS JOIN fr_ties
    """


def ljung_box(
    df: DataFrame,
    date_col: str,
    cents_col: Column,
    max_lag: int = 7,
    dp: int = 6,
) -> DataFrame:
    """Ljung–Box portmanteau test on the DAILY total series: are the
    first ``max_lag`` autocorrelations jointly zero (is the series
    white noise)? The multi-lag companion of q_autocorrelation (lag-1)
    and the residual-whiteness check behind q_forecast_backtest.
    Q(m) = n(n+2) sum_{k<=m} rho_k^2/(n-k), cumulative per lag.

    Engine parity: rho_k numerator/denominator are double sums over
    the CALENDAR-BOUNDED day series (accumulation noise ~1e-13), so
    each rho rounds ``dp`` dp FIRST and Q is then a deterministic
    prefix chain over the rounded values (ordered by lag — a total
    order). Output per lag: (lag, rho, q_lb).

    Scale shape: one map-combined day aggregate reduces row mass to
    the calendar; the lag windows and the m-row prefix sum run on
    bounded relations only."""
    from pyspark.sql import Window as W

    daily = df.groupBy(
        F.to_date(F.col(date_col)).alias("d")
    ).agg(F.sum(cents_col.cast("long")).cast("long").alias("x"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    # calendar-bounded: one row per DAY, so the partition-less lag
    # windows serialize only the day grid
    w = W.orderBy("d")
    m = F.col("s").cast("double") / F.col("n")
    dd = daily.crossJoin(F.broadcast(tot))
    lag_cols = [
        F.lag("x", k).over(w).alias(f"x_{k}") for k in range(1, max_lag + 1)
    ]
    dd = dd.select("d", "x", "n", "s", *lag_cols)
    aggs = [
        F.sum((F.col("x") - m) * (F.col("x") - m)).alias("den"),
        F.max("n").alias("n"),
    ]
    for k in range(1, max_lag + 1):
        aggs.append(
            F.sum(
                (F.col("x") - m) * (F.col(f"x_{k}") - m)
            ).alias(f"num_{k}")
        )
    a = dd.agg(*aggs)
    rho_exprs = ", ".join(
        f"{k}L, CASE WHEN den > 0 THEN round(num_{k} / den, {dp}) END"
        for k in range(1, max_lag + 1)
    )
    rows = a.select(
        "n",
        F.expr(f"stack({max_lag}, {rho_exprs}) AS (lag, rho)"),
    )
    # bounded: exactly max_lag rows feed this prefix window
    wq = W.orderBy("lag").rowsBetween(W.unboundedPreceding, W.currentRow)
    return rows.select(
        F.col("lag").cast("long").alias("lag"),
        "rho",
        F.round(
            F.col("n")
            * (F.col("n") + 2.0)
            * F.sum(
                F.col("rho") * F.col("rho") / (F.col("n") - F.col("lag"))
            ).over(wq),
            dp,
        ).alias("q_lb"),
    )


def ljung_box_oracle_sql(
    table: str, date_sql: str, cents_sql: str, max_lag: int = 7, dp: int = 6
) -> str:
    """DuckDB mirror of `ljung_box` (same rounded-rho prefix chain)."""
    lag_defs = ",\n               ".join(
        f"lag(x, {k}) OVER (ORDER BY d) AS x_{k}"
        for k in range(1, max_lag + 1)
    )
    num_defs = ",\n               ".join(
        f"sum((x - m) * (x_{k} - m)) AS num_{k}"
        for k in range(1, max_lag + 1)
    )
    rho_rows = "\n        UNION ALL\n".join(
        f"        SELECT CAST({k} AS BIGINT) AS lag,"
        f" CASE WHEN den > 0 THEN round(num_{k} / den, {dp}) END AS rho,"
        f" n FROM lb_agg"
        for k in range(1, max_lag + 1)
    )
    return f"""
    WITH lb_daily AS (
        SELECT CAST({date_sql} AS DATE) AS d,
               CAST(sum(CAST({cents_sql} AS BIGINT)) AS BIGINT) AS x
        FROM {table} GROUP BY 1
    ),
    lb_tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS s FROM lb_daily),
    lb_lagged AS (
        SELECT d, x, n, CAST(s AS DOUBLE) / n AS m,
               {lag_defs}
        FROM lb_daily CROSS JOIN lb_tot
    ),
    lb_agg AS (
        SELECT max(n) AS n,
               sum((x - m) * (x - m)) AS den,
               {num_defs}
        FROM lb_lagged
    ),
    lb_rows AS (
{rho_rows}
    )
    SELECT lag, rho,
           round(n * (n + 2.0)
                 * sum(rho * rho / (n - lag))
                       OVER (ORDER BY lag
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW), {dp}) AS q_lb
    FROM lb_rows
    """


def mantel_haenszel(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
    dp: int = 6,
) -> DataFrame:
    """Mantel–Haenszel common odds ratio across strata — the
    confounder-adjusted version of `odds_ratio_2x2`: pool the 2x2
    association over strata so a lurking stratum variable (Simpson's
    paradox) cannot fake or hide the effect.
    OR_MH = sum_i(a_i d_i/n_i) / sum_i(b_i c_i/n_i).

    One conditional aggregate per stratum produces exact BIGINT cells;
    the two cross-stratum sums are doubles over the BOUNDED stratum
    catalog (k rows), so OR_MH rounds ``dp`` dp (the anova noise
    discipline); the crude (pooled-cells) OR is emitted alongside —
    the crude-vs-adjusted gap IS the confounding readout. Output one
    row: (or_mh, or_crude, k_strata, n)."""
    e = exposure.cast("long")
    o = outcome.cast("long")
    cells = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.sum(e * o).cast("long").alias("a"),
        F.sum(e * (1 - o)).cast("long").alias("b"),
        F.sum((1 - e) * o).cast("long").alias("c"),
        F.sum((1 - e) * (1 - o)).cast("long").alias("d"),
    )
    n_i = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k_strata"),
        F.sum(F.col("a") * F.col("d") / n_i).alias("num"),
        F.sum(F.col("b") * F.col("c") / n_i).alias("den"),
        F.sum("a").cast("long").alias("at"),
        F.sum("b").cast("long").alias("bt"),
        F.sum("c").cast("long").alias("ct"),
        F.sum("d").cast("long").alias("dt"),
        F.sum(F.col("a") + F.col("b") + F.col("c") + F.col("d"))
        .cast("long")
        .alias("n"),
    )
    crude_ok = (F.col("bt") > 0) & (F.col("ct") > 0)
    return tot.select(
        F.when(F.col("den") > 0, F.round(F.col("num") / F.col("den"), dp))
        .alias("or_mh"),
        F.when(
            crude_ok,
            F.round(
                (F.col("at").cast("double") * F.col("dt"))
                / (F.col("bt").cast("double") * F.col("ct")),
                dp,
            ),
        ).alias("or_crude"),
        "k_strata",
        "n",
    )


def mantel_haenszel_oracle_sql(
    table: str,
    stratum_sql: str,
    exposure_sql: str,
    outcome_sql: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `mantel_haenszel` (identical chains)."""
    return f"""
    WITH mh_rows AS (
        SELECT {stratum_sql} AS stratum,
               CAST({exposure_sql} AS BIGINT) AS e,
               CAST({outcome_sql} AS BIGINT)  AS o
        FROM {table}
    ),
    mh_cells AS (
        SELECT stratum,
               CAST(sum(e * o) AS BIGINT)             AS a,
               CAST(sum(e * (1 - o)) AS BIGINT)       AS b,
               CAST(sum((1 - e) * o) AS BIGINT)       AS c,
               CAST(sum((1 - e) * (1 - o)) AS BIGINT) AS d
        FROM mh_rows GROUP BY stratum
    ),
    mh_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k_strata,
               sum(a * d / CAST(a + b + c + d AS DOUBLE)) AS num,
               sum(b * c / CAST(a + b + c + d AS DOUBLE)) AS den,
               CAST(sum(a) AS BIGINT) AS at, CAST(sum(b) AS BIGINT) AS bt,
               CAST(sum(c) AS BIGINT) AS ct, CAST(sum(d) AS BIGINT) AS dt,
               CAST(sum(a + b + c + d) AS BIGINT) AS n
        FROM mh_cells
    )
    SELECT CASE WHEN den > 0 THEN round(num / den, {dp}) END AS or_mh,
           CASE WHEN bt > 0 AND ct > 0 THEN
             round((CAST(at AS DOUBLE) * dt) / (CAST(bt AS DOUBLE) * ct), {dp})
           END AS or_crude,
           k_strata, n
    FROM mh_tot
    """


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a: str,
    group_b: str,
    rel_margin: float = 0.05,
    dp: int = 6,
) -> DataFrame:
    """TOST equivalence test (two one-sided Welch t's): is group A's
    mean PROVABLY WITHIN ±margin of group B's — the reversed burden of
    proof q_ab_test_welch cannot give (failing to reject "different"
    is not evidence of "same"; launch gates and A/A checks need this
    direction). Margin = rel_margin * |mean_B| (data-derived,
    deterministic).

    Same sums-form variance machinery as `welch_t`; t_lo/t_hi round
    ``dp`` dp and the equivalence verdict compares the ROUNDED t's to
    the z=1.645 one-sided 5% critical value (dof is in the thousands
    here; the z approximation is documented, not hidden). Output one
    row: (mean_diff, margin, se, t_lo, t_hi, dof, equivalent)."""
    g = df.filter(F.col(group_col).isin(group_a, group_b)).groupBy(
        F.col(group_col).alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(value_col).alias("s"),
        F.sum(F.col(value_col) * F.col(value_col)).alias("ss"),
    )
    a = g.filter(F.col("grp") == group_a).select(
        F.col("n").alias("na"), F.col("s").alias("sa"), F.col("ss").alias("ssa")
    )
    b = g.filter(F.col("grp") == group_b).select(
        F.col("n").alias("nb"), F.col("s").alias("sb"), F.col("ss").alias("ssb")
    )
    j = a.crossJoin(F.broadcast(b))
    ma, mb = F.col("sa") / F.col("na"), F.col("sb") / F.col("nb")
    va = (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("ssb") - F.col("sb") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    se2a, se2b = va / F.col("na"), vb / F.col("nb")
    se = F.sqrt(se2a + se2b)
    diff = ma - mb
    margin = F.lit(rel_margin) * F.abs(mb)
    ok = (F.col("na") > 1) & (F.col("nb") > 1) & ((se2a + se2b) != 0)
    t_lo = F.round((diff + margin) / se, dp)
    t_hi = F.round((diff - margin) / se, dp)
    dof = (se2a + se2b) * (se2a + se2b) / (
        se2a * se2a / (F.col("na") - 1) + se2b * se2b / (F.col("nb") - 1)
    )
    return j.select(
        F.round(diff, dp).alias("mean_diff"),
        F.round(margin, dp).alias("margin"),
        F.when(ok, F.round(se, dp)).alias("se"),
        F.when(ok, t_lo).alias("t_lo"),
        F.when(ok, t_hi).alias("t_hi"),
        F.when(ok, F.round(dof, 2)).alias("dof"),
        F.when(ok, (t_lo > 1.645) & (t_hi < -1.645))
        .otherwise(F.lit(False))
        .alias("equivalent"),
    )


def tost_oracle_sql(
    table: str,
    group_sql: str,
    value_sql: str,
    group_a: str,
    group_b: str,
    rel_margin: float = 0.05,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `tost_equivalence` (identical chains)."""
    return f"""
    WITH g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS DOUBLE) AS n,
               sum({value_sql}) AS s,
               sum({value_sql} * {value_sql}) AS ss
        FROM {table}
        WHERE {group_sql} IN ('{group_a}', '{group_b}')
        GROUP BY 1
    ),
    a AS (SELECT n AS na, s AS sa, ss AS ssa FROM g WHERE grp = '{group_a}'),
    b AS (SELECT n AS nb, s AS sb, ss AS ssb FROM g WHERE grp = '{group_b}'),
    c AS (
        SELECT na, sa, ssa, nb, sb, ssb,
               sa / na - sb / nb AS diff,
               {rel_margin} * abs(sb / nb) AS margin,
               ((ssa - sa * sa / na) / (na - 1)) / na AS se2a,
               ((ssb - sb * sb / nb) / (nb - 1)) / nb AS se2b
        FROM a CROSS JOIN b
    )
    SELECT round(diff, {dp}) AS mean_diff,
           round(margin, {dp}) AS margin,
           CASE WHEN na > 1 AND nb > 1 AND se2a + se2b <> 0 THEN
             round(sqrt(se2a + se2b), {dp}) END AS se,
           CASE WHEN na > 1 AND nb > 1 AND se2a + se2b <> 0 THEN
             round((diff + margin) / sqrt(se2a + se2b), {dp}) END AS t_lo,
           CASE WHEN na > 1 AND nb > 1 AND se2a + se2b <> 0 THEN
             round((diff - margin) / sqrt(se2a + se2b), {dp}) END AS t_hi,
           CASE WHEN na > 1 AND nb > 1 AND se2a + se2b <> 0 THEN
             round((se2a + se2b) * (se2a + se2b)
                   / (se2a * se2a / (na - 1) + se2b * se2b / (nb - 1)), 2)
           END AS dof,
           CASE WHEN na > 1 AND nb > 1 AND se2a + se2b <> 0 THEN
             round((diff + margin) / sqrt(se2a + se2b), {dp}) > 1.645
             AND round((diff - margin) / sqrt(se2a + se2b), {dp}) < -1.645
           ELSE FALSE END AS equivalent
    FROM c
    """


def negative_binomial_fit(
    df: DataFrame, group_col: str, unit_col: str
) -> DataFrame:
    """Method-of-moments negative-binomial fit of per-unit event
    counts, per group — the overdispersion diagnostic (is variance >
    mean, i.e. is a Poisson rate model wrong?) beside
    q_fano_burstiness (time-axis) and q_interevent_exponential
    (gap-axis): r = m^2/(v - m), p = m/v. Units with zero events of a
    type COUNT (0-filled via the bounded group-catalog fan-out), or
    the fit is censored.

    All moments come from exact BIGINT (n, sum, sum-sq); m and v are
    deterministic chains (emitted raw); v <= m censors r/p to NULL
    via CASE. One count aggregate + k-fan 0-fill + one moment
    aggregate per group. Output per group:
    (group, n_units, mean_count, var_count, nb_r, nb_p,
    overdispersed)."""
    counts = df.groupBy(
        F.col(unit_col).alias("unit"), F.col(group_col).alias("grp")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    groups = df.select(F.col(group_col).alias("grp")).distinct()
    units = df.select(F.col(unit_col).alias("unit")).distinct()
    full = (
        units.crossJoin(F.broadcast(groups))
        .join(counts, ["unit", "grp"], "left")
        .select("unit", "grp", F.coalesce("y", F.lit(0)).alias("y"))
    )
    g = full.groupBy(F.col("grp").alias("group")).agg(
        F.count(F.lit(1)).cast("long").alias("n_units"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("ss"),
    )
    m = F.col("s").cast("double") / F.col("n_units")
    v = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double")
        / F.col("n_units")
    ) / (F.col("n_units") - 1)
    return g.filter(F.col("n_units") > 1).select(
        "group",
        "n_units",
        m.alias("mean_count"),
        v.alias("var_count"),
        F.when(v > m, m * m / (v - m)).alias("nb_r"),
        F.when(v > 0, m / v).alias("nb_p"),
        (v > m).alias("overdispersed"),
    )


def negative_binomial_oracle_sql(
    table: str, group_sql: str, unit_sql: str
) -> str:
    """DuckDB mirror of `negative_binomial_fit` (identical chains)."""
    return f"""
    WITH nb_counts AS (
        SELECT {unit_sql} AS unit, {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS y
        FROM {table} GROUP BY 1, 2
    ),
    nb_groups AS (SELECT DISTINCT {group_sql} AS grp FROM {table}),
    nb_units AS (SELECT DISTINCT {unit_sql} AS unit FROM {table}),
    nb_full AS (
        SELECT u.unit, g.grp, coalesce(c.y, 0) AS y
        FROM nb_units u CROSS JOIN nb_groups g
        LEFT JOIN nb_counts c ON c.unit = u.unit AND c.grp = g.grp
    ),
    nb_g AS (
        SELECT grp AS "group",
               CAST(count(*) AS BIGINT) AS n_units,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS ss
        FROM nb_full GROUP BY 1
    )
    SELECT "group", n_units,
           CAST(s AS DOUBLE) / n_units AS mean_count,
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / n_units) / (n_units - 1) AS var_count,
           CASE WHEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                      * CAST(s AS DOUBLE) / n_units) / (n_units - 1)
                     > CAST(s AS DOUBLE) / n_units THEN
             (CAST(s AS DOUBLE) / n_units) * (CAST(s AS DOUBLE) / n_units)
             / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                      / n_units) / (n_units - 1)
                - CAST(s AS DOUBLE) / n_units)
           END AS nb_r,
           CASE WHEN (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE)
                      * CAST(s AS DOUBLE) / n_units) / (n_units - 1) > 0 THEN
             (CAST(s AS DOUBLE) / n_units)
             / ((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                      / n_units) / (n_units - 1))
           END AS nb_p,
           (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                 / n_units) / (n_units - 1)
               > CAST(s AS DOUBLE) / n_units AS overdispersed
    FROM nb_g WHERE n_units > 1
    """


def page_hinkley(
    df: DataFrame,
    date_col: str,
    cents_col: Column,
    lam_cents: int = 0,
) -> DataFrame:
    """Page–Hinkley drift detector on the daily total series — the
    STREAMING-monitoring change detector (ML-drift dashboards) beside
    q_cusum_changepoint (known target mean) and q_pettitt_changepoint
    (retrospective rank test): m_t = sum_{i<=t}(x_i - xbar_i), with
    xbar_i the RUNNING prefix mean, and PH_t = m_t - min_{s<=t} m_s;
    drift when PH_t exceeds a threshold.

    Engine parity: the per-day deviation x_i - S_i/i is a
    deterministic chain over exact BIGINTs (prefix count/sum over the
    unique-day total order), but a prefix FLOAT sum is NOT cross-engine
    stable (DuckDB windows aggregate via a segment tree — pairwise
    addition order — where Spark adds sequentially), so the deviation
    is quantized to integer CENTS (floor, deterministic) and every
    prefix sum/min downstream is exact BIGINT arithmetic, order-free.
    PH resolution is therefore 1 cent; |dev| <= ~1e8 cents/day over a
    bounded calendar keeps the running sum far inside int64 (~2.4e13
    at sf100). Output per day: (d, x_cents, ph_cents).

    Scale shape: row mass reduces to the calendar-bounded day series
    before the three prefix windows (all ordered by the unique day)."""
    from pyspark.sql import Window as W

    daily = df.groupBy(
        F.to_date(F.col(date_col)).alias("d")
    ).agg(F.sum(cents_col.cast("long")).cast("long").alias("x"))
    # calendar-bounded: one row per DAY feeds every prefix window
    w = W.orderBy("d").rowsBetween(W.unboundedPreceding, W.currentRow)
    d1 = daily.select(
        "d",
        "x",
        F.sum("x").over(w).cast("long").alias("s_t"),
        F.count(F.lit(1)).over(w).cast("long").alias("t"),
    )
    d2 = d1.select(
        "d",
        "x",
        F.floor(
            F.col("x").cast("double")
            - F.col("s_t").cast("double") / F.col("t")
        ).cast("long").alias("dev_c"),
    )
    # calendar-bounded day series again: running sum then running min
    d3 = d2.select(
        "d", "x", F.sum("dev_c").over(w).cast("long").alias("m_t")
    )
    d4 = d3.select(
        "d",
        "x",
        "m_t",
        F.min("m_t").over(w).cast("long").alias("m_min"),
    )
    return d4.select(
        F.col("d").cast("string").alias("d"),
        F.col("x").alias("x_cents"),
        (F.col("m_t") - F.col("m_min") - F.lit(lam_cents))
        .cast("long")
        .alias("ph_cents"),
    )


def page_hinkley_oracle_sql(
    table: str, date_sql: str, cents_sql: str, lam_cents: int = 0
) -> str:
    """DuckDB mirror of `page_hinkley` (same prefix chains, same total
    order)."""
    return f"""
    WITH ph_daily AS (
        SELECT CAST({date_sql} AS DATE) AS d,
               CAST(sum(CAST({cents_sql} AS BIGINT)) AS BIGINT) AS x
        FROM {table} GROUP BY 1
    ),
    ph_d1 AS (
        SELECT d, x,
               CAST(sum(x) OVER w AS BIGINT) AS s_t,
               CAST(count(*) OVER w AS BIGINT) AS t
        FROM ph_daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    ph_d2 AS (
        SELECT d, x,
               CAST(floor(CAST(x AS DOUBLE) - CAST(s_t AS DOUBLE) / t)
                    AS BIGINT) AS dev_c
        FROM ph_d1
    ),
    ph_d3 AS (
        SELECT d, x, CAST(sum(dev_c) OVER w AS BIGINT) AS m_t
        FROM ph_d2
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    ),
    ph_d4 AS (
        SELECT d, x, m_t, CAST(min(m_t) OVER w AS BIGINT) AS m_min
        FROM ph_d3
        WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW)
    )
    SELECT CAST(d AS VARCHAR) AS d, x AS x_cents,
           CAST(m_t - m_min - {lam_cents} AS BIGINT) AS ph_cents
    FROM ph_d4
    """


def gaussian_mixture_em_1d(
    df: DataFrame, cents_col: Column, rounds: int = 2
) -> DataFrame:
    """Two-component 1D Gaussian mixture via EM (``rounds`` fixed
    iterations) — the soft-clustering / latent-population primitive
    (bimodal revenue? two latency regimes?) beside k-means' hard
    assignments. Deterministic moment-based init (mu = mean -/+ sd,
    equal weights), then per round: E-step responsibilities, M-step
    weighted moments, parameters ROUNDED and re-synced (mu/sigma 2dp
    cents — their ~1e-13 relative accumulation noise is ~1e-6 absolute
    at 1e7-cent scale, far under the 0.005 half-step; weight 6dp) so
    float drift cannot compound across rounds (the geometric-median
    discipline).

    The E-step uses the odds form r1 = 1/(1 + exp(e2 - e1) * w2/w1)
    with e_i = -(x-mu_i)^2/(2 s_i^2) - ln(s_i): exp overflow gives
    r1 -> 0 and underflow r1 -> 1 GRACEFULLY, so no NaN appears at
    distribution tails (the naive N1/(N1+N2) form is 0/0 there).
    Component death (sum r -> 0) CASE-guards to NULL on both sides.

    Scale shape: one exact-integer moment aggregate for init, then one
    map-combined weighted-moment aggregate per round over the cents
    projection; parameters ride 1-row broadcast relations. Output one
    row: (w1, mu1_cents, s1_cents, mu2_cents, s2_cents, n)."""
    x = df.select(cents_col.cast("long").alias("x")).transform(hold)
    m0 = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x").cast("double") * F.col("x")).alias("ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("s").cast("double") / n
    var = (F.col("ss") - F.col("s").cast("double") * F.col("s") / n) / (n - 1)
    sd = F.sqrt(var)
    params = m0.select(
        "n",
        F.lit(0.5).alias("w1"),
        F.round(mean - sd, 2).alias("mu1"),
        F.round(sd, 2).alias("s1"),
        F.round(mean + sd, 2).alias("mu2"),
        F.round(sd, 2).alias("s2"),
    )
    for _ in range(rounds):
        j = x.crossJoin(F.broadcast(params))
        e1 = (
            -(F.col("x") - F.col("mu1")) * (F.col("x") - F.col("mu1"))
            / (2.0 * F.col("s1") * F.col("s1"))
            - F.log("s1")
        )
        e2 = (
            -(F.col("x") - F.col("mu2")) * (F.col("x") - F.col("mu2"))
            / (2.0 * F.col("s2") * F.col("s2"))
            - F.log("s2")
        )
        r1 = 1.0 / (
            1.0
            + F.exp(e2 - e1) * (1.0 - F.col("w1")) / F.col("w1")
        )
        est = j.select("n", r1.alias("r1"), F.col("x").cast("double").alias("xd"))
        mstep = est.groupBy("n").agg(
            F.sum("r1").alias("sr1"),
            F.sum(F.col("r1") * F.col("xd")).alias("sx1"),
            F.sum(F.col("r1") * F.col("xd") * F.col("xd")).alias("sxx1"),
            F.sum(1.0 - F.col("r1")).alias("sr2"),
            F.sum((1.0 - F.col("r1")) * F.col("xd")).alias("sx2"),
            F.sum((1.0 - F.col("r1")) * F.col("xd") * F.col("xd")).alias(
                "sxx2"
            ),
        )
        nd = F.col("n").cast("double")
        mu1n = F.col("sx1") / F.col("sr1")
        mu2n = F.col("sx2") / F.col("sr2")
        params = mstep.select(
            "n",
            F.when(
                (F.col("sr1") > 0) & (F.col("sr2") > 0),
                F.round(F.col("sr1") / nd, 6),
            ).alias("w1"),
            F.when(F.col("sr1") > 0, F.round(mu1n, 2)).alias("mu1"),
            F.when(
                F.col("sr1") > 0,
                F.round(
                    F.sqrt(F.col("sxx1") / F.col("sr1") - mu1n * mu1n), 2
                ),
            ).alias("s1"),
            F.when(F.col("sr2") > 0, F.round(mu2n, 2)).alias("mu2"),
            F.when(
                F.col("sr2") > 0,
                F.round(
                    F.sqrt(F.col("sxx2") / F.col("sr2") - mu2n * mu2n), 2
                ),
            ).alias("s2"),
        )
    return params.select(
        "w1",
        F.col("mu1").alias("mu1_cents"),
        F.col("s1").alias("s1_cents"),
        F.col("mu2").alias("mu2_cents"),
        F.col("s2").alias("s2_cents"),
        "n",
    )


def gaussian_mixture_oracle_sql(
    table: str, cents_sql: str, rounds: int = 2
) -> str:
    """DuckDB mirror of `gaussian_mixture_em_1d`: identical init,
    identical odds-form E-step, rounds unrolled (round relations
    AS MATERIALIZED — each is referenced by every E-step row)."""
    ctes = [
        f"""gm_x AS MATERIALIZED (
        SELECT CAST({cents_sql} AS BIGINT) AS x FROM {table}
    )""",
        """gm_m0 AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s,
               sum(CAST(x AS DOUBLE) * x) AS ss
        FROM gm_x
    )""",
        """gm_p0 AS MATERIALIZED (
        SELECT n, 0.5 AS w1,
               round(CAST(s AS DOUBLE) / n
                     - sqrt((ss - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1)), 2) AS mu1,
               round(sqrt((ss - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1)), 2) AS s1,
               round(CAST(s AS DOUBLE) / n
                     + sqrt((ss - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1)), 2) AS mu2,
               round(sqrt((ss - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1)), 2) AS s2
        FROM gm_m0
    )""",
    ]
    prev = "gm_p0"
    for r in range(1, rounds + 1):
        ctes.append(f"""gm_e{r} AS (
        SELECT p.n,
               1.0 / (1.0 + exp(
                   (-(x.x - p.mu2) * (x.x - p.mu2) / (2.0 * p.s2 * p.s2)
                    - ln(p.s2))
                 - (-(x.x - p.mu1) * (x.x - p.mu1) / (2.0 * p.s1 * p.s1)
                    - ln(p.s1))
               ) * (1.0 - p.w1) / p.w1) AS r1,
               CAST(x.x AS DOUBLE) AS xd
        FROM gm_x x CROSS JOIN {prev} p
    )""")
        ctes.append(f"""gm_m{r} AS (
        SELECT n, sum(r1) AS sr1, sum(r1 * xd) AS sx1,
               sum(r1 * xd * xd) AS sxx1,
               sum(1.0 - r1) AS sr2, sum((1.0 - r1) * xd) AS sx2,
               sum((1.0 - r1) * xd * xd) AS sxx2
        FROM gm_e{r} GROUP BY n
    )""")
        ctes.append(f"""gm_p{r} AS MATERIALIZED (
        SELECT n,
               CASE WHEN sr1 > 0 AND sr2 > 0
                    THEN round(sr1 / CAST(n AS DOUBLE), 6) END AS w1,
               CASE WHEN sr1 > 0 THEN round(sx1 / sr1, 2) END AS mu1,
               CASE WHEN sr1 > 0 THEN
                 round(sqrt(sxx1 / sr1 - (sx1 / sr1) * (sx1 / sr1)), 2)
               END AS s1,
               CASE WHEN sr2 > 0 THEN round(sx2 / sr2, 2) END AS mu2,
               CASE WHEN sr2 > 0 THEN
                 round(sqrt(sxx2 / sr2 - (sx2 / sr2) * (sx2 / sr2)), 2)
               END AS s2
        FROM gm_m{r}
    )""")
        prev = f"gm_p{r}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT w1, mu1 AS mu1_cents, s1 AS s1_cents,
           mu2 AS mu2_cents, s2 AS s2_cents, n
    FROM {prev}"""
    )


def capture_recapture(df: DataFrame, ts_col: str, unit_col: str) -> DataFrame:
    """Chapman capture–recapture population estimate from two
    observation windows (the event span split at its midpoint): how
    many units EXIST, including the never-observed — the
    under-coverage estimator (true user base, total defect count)
    nothing else on the stats desk gives.
      N_hat = (n1+1)(n2+1)/(m+1) - 1,
      var   = (n1+1)(n2+1)(n1-m)(n2-m) / ((m+1)^2 (m+2)).

    The window split is data-derived ((min+max) DIV 2 of the exact
    epoch-micros span); n1/n2/m come from one per-unit flag aggregate
    (seen-before / seen-after as max of booleans) + one sum — all
    exact BIGINTs, N_hat is one exact division emitted raw, the CI is
    the only sqrt and rounds 6dp. Output one row:
    (n1, n2, m, n_hat, ci_lo, ci_hi)."""
    mid = df.agg(
        (
            (F.min(F.unix_micros(F.col(ts_col)))
             + F.max(F.unix_micros(F.col(ts_col)))) / F.lit(2)
        ).cast("long").alias("mid_us")
    )
    flags = (
        df.crossJoin(F.broadcast(mid))
        .groupBy(F.col(unit_col).alias("unit"))
        .agg(
            F.max(
                (F.unix_micros(F.col(ts_col)) < F.col("mid_us")).cast("long")
            ).alias("in1"),
            F.max(
                (F.unix_micros(F.col(ts_col)) >= F.col("mid_us")).cast("long")
            ).alias("in2"),
        )
    )
    tot = flags.agg(
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.col("in1") * F.col("in2")).cast("long").alias("m"),
    )
    n1, n2, m = (F.col(c).cast("double") for c in ("n1", "n2", "m"))
    n_hat = (n1 + 1) * (n2 + 1) / (m + 1) - 1
    var = (
        (n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    return tot.select(
        "n1", "n2", "m",
        n_hat.alias("n_hat"),
        F.round(n_hat - 1.96 * F.sqrt(var), 6).alias("ci_lo"),
        F.round(n_hat + 1.96 * F.sqrt(var), 6).alias("ci_hi"),
    )


def capture_recapture_oracle_sql(
    table: str, ts_sql: str, unit_sql: str
) -> str:
    """DuckDB mirror of `capture_recapture` (identical chains)."""
    return f"""
    WITH cr2_mid AS (
        SELECT CAST((min(epoch_us({ts_sql})) + max(epoch_us({ts_sql})))
                    / 2 AS BIGINT) AS mid_us
        FROM {table}
    ),
    cr2_flags AS (
        SELECT {unit_sql} AS unit,
               max(CASE WHEN epoch_us({ts_sql}) < mid_us
                        THEN 1 ELSE 0 END) AS in1,
               max(CASE WHEN epoch_us({ts_sql}) >= mid_us
                        THEN 1 ELSE 0 END) AS in2
        FROM {table} CROSS JOIN cr2_mid
        GROUP BY 1
    ),
    cr2_tot AS (
        SELECT CAST(sum(in1) AS BIGINT) AS n1,
               CAST(sum(in2) AS BIGINT) AS n2,
               CAST(sum(in1 * in2) AS BIGINT) AS m
        FROM cr2_flags
    )
    SELECT n1, n2, m,
           (CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
               / (CAST(m AS DOUBLE) + 1) - 1 AS n_hat,
           round((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                     / (CAST(m AS DOUBLE) + 1) - 1
                 - 1.96 * sqrt((CAST(n1 AS DOUBLE) + 1)
                               * (CAST(n2 AS DOUBLE) + 1)
                               * (CAST(n1 AS DOUBLE) - m)
                               * (CAST(n2 AS DOUBLE) - m)
                               / ((CAST(m AS DOUBLE) + 1)
                                  * (CAST(m AS DOUBLE) + 1)
                                  * (CAST(m AS DOUBLE) + 2))), 6) AS ci_lo,
           round((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                     / (CAST(m AS DOUBLE) + 1) - 1
                 + 1.96 * sqrt((CAST(n1 AS DOUBLE) + 1)
                               * (CAST(n2 AS DOUBLE) + 1)
                               * (CAST(n1 AS DOUBLE) - m)
                               * (CAST(n2 AS DOUBLE) - m)
                               / ((CAST(m AS DOUBLE) + 1)
                                  * (CAST(m AS DOUBLE) + 1)
                                  * (CAST(m AS DOUBLE) + 2))), 6) AS ci_hi
    FROM cr2_tot
    """


def price_index(
    lineitem: DataFrame, orders: DataFrame, dp: int = 6
) -> DataFrame:
    """Laspeyres / Paasche / Fisher price indices between the FIRST and
    LAST order year, over parts traded in both — the inflation /
    price-drift readout (is revenue growth price or volume?) beside
    q_revenue_wow_growth's nominal deltas. Per (year, part) the unit
    price is an exact-cents / exact-quantity division; the four
    cross-period sums p_t * q_b ride one bounded parts-keyed join.

      L = sum(p1 q0)/sum(p0 q0),  P = sum(p1 q1)/sum(p0 q1),
      F = sqrt(L * P).

    The part-level sums are doubles (~1e-13 accumulation noise on
    O(1) index ratios), so all three indices round ``dp`` dp (the
    anova discipline). Output one row:
    (base_year, curr_year, n_parts, laspeyres, paasche, fisher)."""
    li = lineitem.join(
        orders.select(
            "o_orderkey", F.year("o_orderdate").alias("yr")
        ),
        lineitem["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "yr",
        F.col("l_partkey").alias("part"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    # aggregate to the bounded (part, year) grid FIRST and materialize
    # once: the lazy year-bounds broadcast + base/curr slices referenced
    # the row-mass join 4x (r13 reference-count rule — 8 scans); the
    # per-group BIGINT sums are identical whether the first/last-year
    # filter runs before or after the aggregate
    per_all = (
        li.groupBy("part", "yr")
        .agg(
            F.sum("cents").cast("long").alias("c"),
            F.sum("qty").cast("long").alias("q"),
        )
        .transform(hold)
    )
    yrs = per_all.agg(
        F.min("yr").alias("y0"), F.max("yr").alias("y1")
    )
    per = per_all.crossJoin(F.broadcast(yrs)).filter(
        (F.col("yr") == F.col("y0")) | (F.col("yr") == F.col("y1"))
    )
    base = per.filter(F.col("yr") == F.col("y0")).select(
        "part", "y0", "y1",
        (F.col("c").cast("double") / F.col("q")).alias("p0"),
        F.col("q").alias("q0"),
    )
    curr = per.filter(F.col("yr") == F.col("y1")).select(
        F.col("part").alias("part_c"),
        (F.col("c").cast("double") / F.col("q")).alias("p1"),
        F.col("q").alias("q1"),
    )
    j = base.join(curr, base["part"] == curr["part_c"])
    agg = j.groupBy("y0", "y1").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum(F.col("p1") * F.col("q0")).alias("l_num"),
        F.sum(F.col("p0") * F.col("q0")).alias("l_den"),
        F.sum(F.col("p1") * F.col("q1")).alias("p_num"),
        F.sum(F.col("p0") * F.col("q1")).alias("p_den"),
    )
    lasp = F.col("l_num") / F.col("l_den")
    paas = F.col("p_num") / F.col("p_den")
    return agg.select(
        F.col("y0").cast("long").alias("base_year"),
        F.col("y1").cast("long").alias("curr_year"),
        "n_parts",
        F.round(lasp, dp).alias("laspeyres"),
        F.round(paas, dp).alias("paasche"),
        F.round(F.sqrt(lasp * paas), dp).alias("fisher"),
    )


def price_index_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `price_index` (identical chains)."""
    return f"""
    WITH pi_li AS (
        SELECT year(o.o_orderdate) AS yr, l.l_partkey AS part,
               CAST(floor(l.l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(l.l_quantity AS BIGINT) AS qty
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    pi_yrs AS (SELECT min(yr) AS y0, max(yr) AS y1 FROM pi_li),
    pi_per AS (
        SELECT part, yr, y0, y1,
               CAST(sum(cents) AS BIGINT) AS c,
               CAST(sum(qty) AS BIGINT) AS q
        FROM pi_li CROSS JOIN pi_yrs
        WHERE yr = y0 OR yr = y1
        GROUP BY part, yr, y0, y1
    ),
    pi_base AS (
        SELECT part, y0, y1, CAST(c AS DOUBLE) / q AS p0, q AS q0
        FROM pi_per WHERE yr = y0
    ),
    pi_curr AS (
        SELECT part AS part_c, CAST(c AS DOUBLE) / q AS p1, q AS q1
        FROM pi_per WHERE yr = y1
    ),
    pi_agg AS (
        SELECT y0, y1,
               CAST(count(*) AS BIGINT) AS n_parts,
               sum(p1 * q0) AS l_num, sum(p0 * q0) AS l_den,
               sum(p1 * q1) AS p_num, sum(p0 * q1) AS p_den
        FROM pi_base b JOIN pi_curr c ON b.part = c.part_c
        GROUP BY y0, y1
    )
    SELECT CAST(y0 AS BIGINT) AS base_year,
           CAST(y1 AS BIGINT) AS curr_year,
           n_parts,
           round(l_num / l_den, {dp}) AS laspeyres,
           round(p_num / p_den, {dp}) AS paasche,
           round(sqrt((l_num / l_den) * (p_num / p_den)), {dp}) AS fisher
    FROM pi_agg
    """


# --------------------------------------------------------------------------
# Periodogram cycle scan (fixed trig table, exact-integer DFT sums)
# --------------------------------------------------------------------------


def _trig_table(periods: tuple[int, ...]) -> list[tuple[int, int, int, int]]:
    """(p, k, c6, s6) rows for every phase k < p: cos/sin of 2*pi*k/p
    quantized to 1e-6 via floor(x*1e6 + 0.5) — computed ONCE in
    Python, so neither engine evaluates trig at all (the angle grid is
    data-independent; injecting one shared literal table removes the
    JVM-vs-libm 1-ulp parity question entirely)."""
    import math

    rows = []
    for p in periods:
        for k in range(p):
            th = 2.0 * math.pi * k / p
            rows.append(
                (
                    p,
                    k,
                    int(math.floor(math.cos(th) * 1_000_000 + 0.5)),
                    int(math.floor(math.sin(th) * 1_000_000 + 0.5)),
                )
            )
    return rows


def periodogram(
    df: DataFrame,
    day_col: str,
    periods: tuple[int, ...] = tuple(range(2, 15)),
    dp: int = 6,
) -> DataFrame:
    """Mean-centered periodogram of the daily row-count series at
    candidate cycle lengths ``periods`` (days): amplitude of the
    DFT component at each period — WHICH cycle dominates, the
    frequency-domain companion to q_seasonal_strength (that one
    assumes the weekly grid; this one scans for it). Output one row
    per period: (p, n_days, amp), amp in rows/day.

    Exact-integer throughout: daily counts m_t (BIGINT) join the
    shared Python-built trig table on (p, t mod p); mean-centering
    multiplies through by N so every product stays integer:
        scs = sum_t (N*m_t - S) * c6(t mod p, p)   (BIGINT, exact)
    and amp = sqrt(scs^2 + sss^2) / (1e6 * N^2) rounds ``dp`` at the
    single irrational step. |scs| <= 1e6 * N * sum|m - mean| — safe to
    ~1e5 days x 1e6 rows/day; beyond that quantize m to a coarser
    grain (the micro-grain second-moment bound discipline).

    Scale shape (100 TB): row mass reduces once to the calendar-
    bounded daily histogram (map-combined count); the |periods| x 365
    trig join and the per-period aggregate run on the day grid."""
    spark = df.sparkSession
    from celeborn_spark.operators import values_table

    trig = values_table(
        spark, _trig_table(periods), "p long, k long, c6 long, s6 long"
    )
    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    span = daily0.agg(
        F.min("day").alias("d0"),
        F.sum("m").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    dd = (
        daily0.crossJoin(F.broadcast(span))
        .select(
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
            (F.col("n") * F.col("m") - F.col("s")).alias("mc"),
            "n",
        )
    )
    terms = dd.join(
        F.broadcast(trig), (F.col("t") % F.col("p")) == F.col("k"), "inner"
    )
    per = terms.groupBy("p", "n").agg(
        F.sum(F.col("mc") * F.col("c6")).cast("long").alias("scs"),
        F.sum(F.col("mc") * F.col("s6")).cast("long").alias("sss"),
    )
    amp = F.sqrt(
        F.col("scs").cast("double") * F.col("scs")
        + F.col("sss").cast("double") * F.col("sss")
    ) / (F.lit(1_000_000.0) * F.col("n") * F.col("n"))
    return per.select(
        "p", F.col("n").alias("n_days"), F.round(amp, dp).alias("amp")
    )


def periodogram_oracle_sql(
    table: str,
    day_sql: str,
    periods: tuple[int, ...] = tuple(range(2, 15)),
    dp: int = 6,
) -> str:
    """DuckDB mirror of `periodogram`: the SAME Python-built trig
    literals ride in as a VALUES table; identical integer chains."""
    vals = ", ".join(
        f"({p}, {k}, {c6}, {s6})" for p, k, c6, s6 in _trig_table(periods)
    )
    return f"""
    WITH pg_trig(p, k, c6, s6) AS (VALUES {vals}),
    pg_daily AS (
        SELECT {day_sql} AS day, CAST(count(*) AS BIGINT) AS m
        FROM {table} GROUP BY 1
    ),
    pg_span AS (
        SELECT min(day) AS d0, CAST(sum(m) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM pg_daily
    ),
    pg_dd AS (
        SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t,
               n * m - s AS mc, n
        FROM pg_daily CROSS JOIN pg_span
    ),
    pg_per AS (
        SELECT p, n,
               CAST(sum(mc * c6) AS BIGINT) AS scs,
               CAST(sum(mc * s6) AS BIGINT) AS sss
        FROM pg_dd JOIN pg_trig ON (t % p) = k
        GROUP BY 1, 2
    )
    SELECT p, n AS n_days,
           round(sqrt(CAST(scs AS DOUBLE) * scs + CAST(sss AS DOUBLE) * sss)
                 / (1000000.0 * n * n), {dp}) AS amp
    FROM pg_per
    """


# --------------------------------------------------------------------------
# Durbin-Watson residual autocorrelation (all-moment closed form)
# --------------------------------------------------------------------------


def durbin_watson(
    df: DataFrame, day_col: str, cents_col, dp: int = 6
) -> DataFrame:
    """Durbin-Watson statistic of the residuals of a daily linear
    trend — IS the OLS trend model adequate, or do residuals trail
    each other (positive autocorrelation, dw << 2)? The model-
    diagnostics companion to q_grouped_ols_trend (which reports the
    slope) and q_autocorrelation (raw series lag-1; this one asks it
    of the DETRENDED series). Output ONE row:
    (n_days, slope, dw, rho) with rho = 1 - dw/2.

    NO per-row residual is ever materialized: both quadratic forms
    expand in exact-BIGINT moments over the CALENDAR-FILLED daily
    series y_t (value grain: hundred-dollar units, floor(cents/1e4) —
    keeps sum(y^2) inside int64 to ~1e5 days x ~1e9 $/day; coarser
    grain beyond, the documented-bound discipline):
        sum e^2      = Syy + n a^2 + b^2 Stt - 2a Sy - 2b Sty + 2ab St
        sum (de)^2   = Sdd - 2b Sd + (n-1) b^2
    (consecutive-day differences d_t = y_t - y_{t-1} exist because the
    calendar fill makes t consecutive). a, b and both forms are fixed
    double expression TREES over exact moments — deterministic
    cross-engine; dw rounds ``dp``.

    Scale shape (100 TB): one map-combined day aggregate; the moment
    pass and the lag window run on the calendar-bounded day grid."""
    from pyspark.sql import Window as W

    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.sum(cents_col).cast("long").alias("cents")
    )
    span = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day"),
        "d0",
    )
    daily = (
        cal.join(daily0, "day", "left")
        .select(
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
            F.floor(F.coalesce(F.col("cents"), F.lit(0)) / F.lit(10000.0))
            .cast("long")
            .alias("y"),
            "day",
        )
        .transform(hold)  # feeds the moment pass AND the lag window
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
    )
    wlag = W.orderBy("day")  # day unique: one row per calendar day
    d = (F.col("y") - F.lag("y").over(wlag)).alias("d")
    difmom = (
        daily.select(d)
        .filter(F.col("d").isNotNull())
        .agg(
            F.sum("d").cast("long").alias("sd"),
            F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        )
    )
    formula = """
        CASE WHEN sse > 0 THEN round(ssd / sse, {dp}) END
    """
    out = (
        mom.crossJoin(F.broadcast(difmom))
        .withColumn(
            "b",
            F.expr(
                "(CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
            ),
        )
        .withColumn("a", F.expr("(sy - b * st) / n"))
        .withColumn(
            "sse",
            F.expr(
                "syy + n * a * a + b * b * stt"
                " - 2 * a * sy - 2 * b * sty + 2 * a * b * st"
            ),
        )
        .withColumn("ssd", F.expr("sdd - 2 * b * sd + (n - 1) * b * b"))
    )
    return out.select(
        F.col("n").alias("n_days"),
        F.round(F.col("b"), dp).alias("slope"),
        F.expr(formula.format(dp=dp)).alias("dw"),
        F.expr(
            f"CASE WHEN sse > 0 THEN round(1 - round(ssd / sse, {dp}) / 2,"
            f" {dp}) END"
        ).alias("rho"),
    )


def durbin_watson_oracle_sql(
    table: str, day_sql: str, cents_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `durbin_watson`: identical calendar fill,
    moment expansion, and formula text."""
    return f"""
    WITH dw_daily0 AS (
        SELECT {day_sql} AS day, CAST(sum({cents_sql}) AS BIGINT) AS cents
        FROM {table} GROUP BY 1
    ),
    dw_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM dw_daily0),
    dw_cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day, d0
        FROM dw_span
    ),
    dw_daily AS (
        SELECT CAST(date_diff('day', c.d0, c.day) AS BIGINT) AS t,
               CAST(floor(COALESCE(d.cents, 0) / 10000.0) AS BIGINT) AS y,
               c.day
        FROM dw_cal c LEFT JOIN dw_daily0 d ON c.day = d.day
    ),
    dw_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * y) AS BIGINT) AS sty
        FROM dw_daily
    ),
    dw_lag AS (
        SELECT y - lag(y) OVER (ORDER BY day) AS d
        FROM dw_daily
    ),
    dw_dif AS (
        SELECT CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(d * d) AS BIGINT) AS sdd
        FROM dw_lag WHERE d IS NOT NULL
    ),
    dw_ab AS (
        SELECT *,
               (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b
        FROM dw_mom CROSS JOIN dw_dif
    ),
    dw_a AS (SELECT *, (sy - b * st) / n AS a FROM dw_ab),
    dw_forms AS (
        SELECT *,
               syy + n * a * a + b * b * stt
                   - 2 * a * sy - 2 * b * sty + 2 * a * b * st AS sse,
               sdd - 2 * b * sd + (n - 1) * b * b AS ssd
        FROM dw_a
    )
    SELECT n AS n_days, round(b, {dp}) AS slope,
           CASE WHEN sse > 0 THEN round(ssd / sse, {dp}) END AS dw,
           CASE WHEN sse > 0
                THEN round(1 - round(ssd / sse, {dp}) / 2, {dp}) END AS rho
    FROM dw_forms
    """


# --------------------------------------------------------------------------
# Restricted mean survival time (integral of the KM curve)
# --------------------------------------------------------------------------


def rmst(df: DataFrame, duration_col: str, dp: int = 6) -> DataFrame:
    """Restricted mean survival time over the observed span: the area
    under `km_survival`'s step curve up to tau = the longest observed
    duration — the ONE-NUMBER summary of the whole survival curve
    (expected active days per user within the window; the curve
    family's q_trimmed_mean analogue). Output ONE row:
    (tau_days, n_steps, rmst_days).

      rmst = t_1 * 1  +  sum_i S(t_i) * (t_{i+1} - t_i)
    (the head segment rides at S = 1 until the first event time).
    S is km_survival's 6dp-rounded value, recovered as an exact
    micro-unit BIGINT (floor(S*1e6 + 0.5) of a 6dp double is exact),
    so the area accumulates as BIGINT micro-day products and divides
    ONCE — bit-identical cross-engine, no double accumulation.

    Scale shape (100 TB): inherits km_survival's one duration-count
    aggregate; the lead/area pass runs on DISTINCT durations
    (calendar-bounded)."""
    from pyspark.sql import Window as W

    km = km_survival(df, duration_col, dp=dp)
    wl = W.orderBy("t")  # t: one row per DISTINCT duration
    stepped = km.select(
        "t",
        "d_events",
        F.floor(F.col("survival") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("s6"),
        F.lead("t").over(wl).alias("t_next"),
        F.min("t").over(W.partitionBy()).alias("t_first"),
    )
    return stepped.agg(
        F.max("t").cast("long").alias("tau_days"),
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        (
            (
                F.max("t_first") * F.lit(1_000_000)
                + F.sum(
                    F.when(
                        F.col("t_next").isNotNull(),
                        F.col("s6") * (F.col("t_next") - F.col("t")),
                    ).otherwise(F.lit(0))
                )
            ).cast("long")
            / F.lit(1_000_000.0)
        ).alias("rmst_days"),
    )


def rmst_oracle_sql(durations_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `rmst`: km_survival's oracle embedded as a
    CTE (its own WITH nests inside), identical micro-unit area walk."""
    km_sql = km_survival_oracle_sql(durations_sql, dp=dp)
    return f"""
    WITH rmst_km AS ({km_sql}),
    rmst_step AS (
        SELECT t,
               CAST(floor(survival * 1000000 + 0.5) AS BIGINT) AS s6,
               lead(t) OVER (ORDER BY t) AS t_next,
               min(t) OVER () AS t_first
        FROM rmst_km
    )
    SELECT CAST(max(t) AS BIGINT) AS tau_days,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(max(t_first) * 1000000
                + sum(CASE WHEN t_next IS NOT NULL
                           THEN s6 * (t_next - t) ELSE 0 END) AS DOUBLE)
               / 1000000.0 AS rmst_days
    FROM rmst_step
    """


# --------------------------------------------------------------------------
# Atkinson inequality index (histogram-grain, ln on buckets only)
# --------------------------------------------------------------------------


def atkinson_index(
    df: DataFrame, cents_col: str, n_buckets: int = 1024, dp: int = 6
) -> DataFrame:
    """Atkinson inequality index (inequality-aversion eps = 1) of a
    positive money-like value: A = 1 - geomean/mean — the WELFARE-
    weighted inequality readout beside q_gini_coefficient (Gini counts
    rank swaps; Atkinson says what fraction of total income society
    could discard and be equally well off under log utility). Output
    ONE row: (n_units, mean_cents, atkinson).

    Money-like values are distinct-per-row, so the geometric mean is
    computed at HISTOGRAM GRAIN (the DP-quantile 256-grid discipline):
    values bucket into ``n_buckets`` equal-width cells, each cell's
    exact mean (BIGINT sum / BIGINT count) passes through ln ONCE, and
    the ln quantizes to micro-units via floor(x*1e6 + 0.5) — a <=
    ``n_buckets``-row irrational surface (never per row), accumulated
    as exact BIGINT mass-weighted sums. The single exp rounds ``dp``.

    Scale shape (100 TB): one map-combined histogram aggregate over
    row mass; everything after runs on the bucket relation."""
    lohi = df.agg(
        F.min(F.col(cents_col)).cast("long").alias("lo"),
        F.max(F.col(cents_col)).cast("long").alias("hi"),
    )
    b = F.least(
        F.lit(n_buckets - 1),
        F.floor(
            F.lit(n_buckets)
            * (F.col(cents_col) - F.col("lo"))
            / (F.col("hi") - F.col("lo") + 1)
        ).cast("long"),
    )
    hist = (
        df.crossJoin(F.broadcast(lohi))
        .groupBy(b.alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum(F.col(cents_col)).cast("long").alias("s_b"),
        )
    )
    l6 = F.floor(
        F.log(F.col("s_b").cast("double") / F.col("n_b")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    tot = hist.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("s_b").cast("long").alias("s"),
        F.sum(F.col("n_b") * l6).cast("long").alias("lmass"),
    )
    return tot.select(
        F.col("n").alias("n_units"),
        (F.col("s").cast("double") / F.col("n")).alias("mean_cents"),
        F.round(
            F.lit(1.0)
            - F.exp(
                F.col("lmass").cast("double") / F.col("n") / F.lit(1_000_000.0)
            )
            / (F.col("s").cast("double") / F.col("n")),
            dp,
        ).alias("atkinson"),
    )


def atkinson_oracle_sql(
    table_sql: str, cents_sql: str, n_buckets: int = 1024, dp: int = 6
) -> str:
    """DuckDB mirror of `atkinson_index`: identical bucket cut,
    micro-quantized ln, and mass-weighted BIGINT chains."""
    return f"""
    WITH atk_vals AS (SELECT {cents_sql} AS c FROM {table_sql}),
    atk_lohi AS (
        SELECT CAST(min(c) AS BIGINT) AS lo, CAST(max(c) AS BIGINT) AS hi
        FROM atk_vals
    ),
    atk_hist AS (
        SELECT least({n_buckets - 1},
                     CAST(floor({n_buckets} * (c - lo)
                                / (hi - lo + 1)) AS BIGINT)) AS bucket,
               CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(c) AS BIGINT) AS s_b
        FROM atk_vals CROSS JOIN atk_lohi
        GROUP BY 1
    ),
    atk_tot AS (
        SELECT CAST(sum(n_b) AS BIGINT) AS n,
               CAST(sum(s_b) AS BIGINT) AS s,
               CAST(sum(n_b * CAST(floor(ln(CAST(s_b AS DOUBLE) / n_b)
                                         * 1000000 + 0.5) AS BIGINT))
                    AS BIGINT) AS lmass
        FROM atk_hist
    )
    SELECT n AS n_units,
           CAST(s AS DOUBLE) / n AS mean_cents,
           round(1.0 - exp(CAST(lmass AS DOUBLE) / n / 1000000.0)
                     / (CAST(s AS DOUBLE) / n), {dp}) AS atkinson
    FROM atk_tot
    """


# --------------------------------------------------------------------------
# Cronbach's alpha (internal consistency, exact item moments)
# --------------------------------------------------------------------------


def cronbach_alpha(
    df: DataFrame, item_cols: tuple[str, ...], dp: int = 6
) -> DataFrame:
    """Cronbach's alpha over k integer item scores per subject — do
    the items measure ONE underlying trait (a composite "engagement
    score" is only honest if its components covary)? The reliability
    gate in front of any composite metric the curriculum/quality desks
    build. Output ONE row: (n_subjects, k_items, alpha).

        alpha = k/(k-1) * (1 - sum_i SS_i / SS_total),
        SS = n*sum(x^2) - sum(x)^2  (unnormalized variance: the 1/n^2
    factors cancel in the ratio), with every moment an exact BIGINT
    and the combination a fixed double tree — bit-identical
    cross-engine, rounded ``dp`` once. Item values must keep
    n * sum(x^2) inside int64 (quantize money items to k$ grain — the
    documented-bound discipline).

    Scale shape (100 TB): ONE map-combined aggregate over subjects;
    the formula runs on a 1-row relation."""
    k = len(item_cols)
    total = None
    for c in item_cols:
        total = F.col(c) if total is None else total + F.col(c)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for idx, c in enumerate(item_cols):
        aggs.append(F.sum(F.col(c)).cast("long").alias(f"s{idx}"))
        aggs.append(
            F.sum(F.col(c) * F.col(c)).cast("long").alias(f"q{idx}")
        )
    base = df.withColumn("tt", total)
    aggs.append(F.sum("tt").cast("long").alias("st"))
    aggs.append(F.sum(F.col("tt") * F.col("tt")).cast("long").alias("qt"))
    mom = base.agg(*aggs)
    ss_items = " + ".join(
        f"(CAST(n AS DOUBLE) * q{i} - CAST(s{i} AS DOUBLE) * s{i})"
        for i in range(k)
    )
    return mom.select(
        F.col("n").alias("n_subjects"),
        F.lit(k).cast("long").alias("k_items"),
        F.round(
            F.expr(
                f"{k} / ({k} - 1.0) * (1 - ({ss_items})"
                " / (CAST(n AS DOUBLE) * qt - CAST(st AS DOUBLE) * st))"
            ),
            dp,
        ).alias("alpha"),
    )


def cronbach_oracle_sql(
    subjects_sql: str, item_sqls: tuple[str, ...], dp: int = 6
) -> str:
    """DuckDB mirror of `cronbach_alpha`. ``subjects_sql`` yields one
    row per subject with the item columns; identical moment algebra."""
    k = len(item_sqls)
    total = " + ".join(f"({s})" for s in item_sqls)
    moment_cols = ", ".join(
        f"CAST(sum({s}) AS BIGINT) AS s{i}, "
        f"CAST(sum(({s}) * ({s})) AS BIGINT) AS q{i}"
        for i, s in enumerate(item_sqls)
    )
    ss_items = " + ".join(
        f"(CAST(n AS DOUBLE) * q{i} - CAST(s{i} AS DOUBLE) * s{i})"
        for i in range(k)
    )
    return f"""
    WITH cba_subj AS ({subjects_sql}),
    cba_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n, {moment_cols},
               CAST(sum({total}) AS BIGINT) AS st,
               CAST(sum(({total}) * ({total})) AS BIGINT) AS qt
        FROM cba_subj
    )
    SELECT n AS n_subjects, CAST({k} AS BIGINT) AS k_items,
           round({k} / ({k} - 1.0) * (1 - ({ss_items})
                 / (CAST(n AS DOUBLE) * qt - CAST(st AS DOUBLE) * st)),
                 {dp}) AS alpha
    FROM cba_mom
    """


# --------------------------------------------------------------------------
# Fleiss' kappa (multi-rater agreement, all-integer)
# --------------------------------------------------------------------------


def fleiss_kappa(
    df: DataFrame, cat_cols: tuple[str, ...], n_categories: int, dp: int = 6
) -> DataFrame:
    """Fleiss' kappa: chance-corrected agreement of r raters
    assigning each subject one of k categories — Cohen's kappa
    (q_cohens_kappa) handles exactly TWO raters; this is the
    multi-rater generalization (rule-based labeler ensembles, n-way
    annotation QA). ``cat_cols`` hold each rater's category per
    subject. Output ONE row:
    (n_subjects, n_raters, k_categories, p_bar, p_e, kappa).

    All-integer: n_ij (votes for category j on subject i) is a sum of
    equality flags computed IN-ROW (no rater fan-out, no explode);
        A   = sum_i (sum_j n_ij^2 - r)        (BIGINT)
        C_j = sum_i n_ij                      (BIGINT)
        p_bar = A / (N r (r-1)),  p_e = sum_j C_j^2 / (N r)^2
    and kappa = (p_bar - p_e)/(1 - p_e) — exact divisions of exact
    integers, kappa rounds ``dp``. sum C_j^2 needs (N*r)^2 inside
    int64: fine to ~3e9 rated subjects x 3 raters.

    Scale shape (100 TB): ONE map-combined aggregate over subjects;
    no join, no window, no row fan-out."""
    r = len(cat_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    sum_sq = None
    for j in range(n_categories):
        nj = None
        for c in cat_cols:
            flag = (F.col(c) == j).cast("long")
            nj = flag if nj is None else nj + flag
        term = nj * nj
        sum_sq = term if sum_sq is None else sum_sq + term
        aggs.append(F.sum(nj).cast("long").alias(f"c{j}"))
    aggs.append(F.sum(sum_sq - F.lit(r)).cast("long").alias("a"))
    mom = df.agg(*aggs)
    ce = " + ".join(
        f"CAST(c{j} AS DOUBLE) * c{j}" for j in range(n_categories)
    )
    return mom.select(
        F.col("n").alias("n_subjects"),
        F.lit(r).cast("long").alias("n_raters"),
        F.lit(n_categories).cast("long").alias("k_categories"),
        F.expr(f"a / (CAST(n AS DOUBLE) * {r} * {r - 1})").alias("p_bar"),
        F.expr(
            f"({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r})"
        ).alias("p_e"),
        F.round(
            F.expr(
                f"(a / (CAST(n AS DOUBLE) * {r} * {r - 1})"
                f" - ({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r}))"
                f" / (1 - ({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r}))"
            ),
            dp,
        ).alias("kappa"),
    )


def fleiss_oracle_sql(
    subjects_sql: str,
    cat_sqls: tuple[str, ...],
    n_categories: int,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `fleiss_kappa`: identical in-row vote flags
    and integer moment algebra."""
    r = len(cat_sqls)
    nj_defs = []
    for j in range(n_categories):
        flags = " + ".join(
            f"(CASE WHEN ({c}) = {j} THEN 1 ELSE 0 END)" for c in cat_sqls
        )
        nj_defs.append(f"CAST({flags} AS BIGINT) AS n{j}")
    sum_sq = " + ".join(f"n{j} * n{j}" for j in range(n_categories))
    cj_aggs = ", ".join(
        f"CAST(sum(n{j}) AS BIGINT) AS c{j}" for j in range(n_categories)
    )
    ce = " + ".join(
        f"CAST(c{j} AS DOUBLE) * c{j}" for j in range(n_categories)
    )
    return f"""
    WITH flk_subj AS ({subjects_sql}),
    flk_votes AS (SELECT {", ".join(nj_defs)} FROM flk_subj),
    flk_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n, {cj_aggs},
               CAST(sum({sum_sq} - {r}) AS BIGINT) AS a
        FROM flk_votes
    )
    SELECT n AS n_subjects, CAST({r} AS BIGINT) AS n_raters,
           CAST({n_categories} AS BIGINT) AS k_categories,
           a / (CAST(n AS DOUBLE) * {r} * {r - 1}) AS p_bar,
           ({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r}) AS p_e,
           round((a / (CAST(n AS DOUBLE) * {r} * {r - 1})
                  - ({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r}))
                 / (1 - ({ce}) / (CAST(n AS DOUBLE) * {r} * n * {r})),
                 {dp}) AS kappa
    FROM flk_mom
    """


# --------------------------------------------------------------------------
# Chow structural-break test (per-segment centered-moment SSE)
# --------------------------------------------------------------------------


def chow_test(df: DataFrame, day_col: str, cents_col, dp: int = 6) -> DataFrame:
    """Chow test for a structural break in the daily linear trend at
    the series midpoint: did the data-generating regime CHANGE, or is
    one line adequate? The regression-flavored sibling of the
    change-point family (CUSUM/Pettitt/Page-Hinkley locate a shift in
    LEVEL; Chow tests whether slope+intercept themselves split).
    Output ONE row: (n_days, break_t, f_stat, sse_pooled, sse_split).

        F = ((SSE_p - SSE_1 - SSE_2)/2) / ((SSE_1 + SSE_2)/(n-4)),
    with every SSE in centered-moment closed form
        SSE = (Syy - Sy^2/n) - (Sty - St*Sy/n)^2 / (Stt - St^2/n)
    over exact-BIGINT per-segment moments (value grain: k$ units,
    floor(cents/1e5) — keeps sum(y^2) inside int64 to ~1e5 days x
    ~1e9 $/day; coarser beyond, the documented-bound discipline).
    Pooled moments are the exact integer sums of the two segments.
    The F combination is a fixed double tree, rounded ``dp``.

    Scale shape (100 TB): one map-combined day aggregate; the split
    and formulas run on a 2-row segment relation."""
    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.sum(cents_col).cast("long").alias("cents")
    )
    span = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    daily = daily0.crossJoin(F.broadcast(span)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        F.floor(F.col("cents") / F.lit(100000.0)).cast("long").alias("y"),
        F.datediff(F.col("d1"), F.col("d0")).cast("long").alias("tmax"),
    )
    seg = (F.col("t") > F.floor(F.col("tmax") / 2).cast("long")).cast("long")
    per = daily.withColumn("seg", seg).groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum("t").cast("long").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("sty"),
        F.max(F.floor(F.col("tmax") / 2).cast("long")).alias("tmid"),
    )
    # conditional 1-row pivot of the 2-segment relation
    one = per.agg(
        *[
            F.sum(F.when(F.col("seg") == s, F.col(c)).otherwise(0))
            .cast("long")
            .alias(f"{c}{s}")
            for s in (0, 1)
            for c in ("n", "sy", "syy", "st", "stt", "sty")
        ],
        F.max("tmid").alias("break_t"),
    )
    sse = (
        "((syy{s} - CAST(sy{s} AS DOUBLE) * sy{s} / n{s})"
        " - (sty{s} - CAST(st{s} AS DOUBLE) * sy{s} / n{s})"
        " * (sty{s} - CAST(st{s} AS DOUBLE) * sy{s} / n{s})"
        " / (stt{s} - CAST(st{s} AS DOUBLE) * st{s} / n{s}))"
    )
    pooled = (
        one.withColumn("n", F.col("n0") + F.col("n1"))
        .withColumn("sy", F.col("sy0") + F.col("sy1"))
        .withColumn("syy", F.col("syy0") + F.col("syy1"))
        .withColumn("st", F.col("st0") + F.col("st1"))
        .withColumn("stt", F.col("stt0") + F.col("stt1"))
        .withColumn("sty", F.col("sty0") + F.col("sty1"))
        .withColumn("ssep", F.expr(sse.format(s="")))
        .withColumn("sse1", F.expr(sse.format(s="0")))
        .withColumn("sse2", F.expr(sse.format(s="1")))
    )
    return pooled.select(
        F.col("n").alias("n_days"),
        F.col("break_t").cast("long").alias("break_t"),
        F.round(
            F.expr(
                "((ssep - sse1 - sse2) / 2)"
                " / ((sse1 + sse2) / (n - 4.0))"
            ),
            dp,
        ).alias("f_stat"),
        F.round(F.col("ssep"), dp).alias("sse_pooled"),
        F.round(F.col("sse1") + F.col("sse2"), dp).alias("sse_split"),
    )


def chow_oracle_sql(
    table: str, day_sql: str, cents_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `chow_test`: identical segment split, moment
    pivot, and centered-SSE formula text."""
    sse = (
        "((syy{s} - CAST(sy{s} AS DOUBLE) * sy{s} / n{s})"
        " - (sty{s} - CAST(st{s} AS DOUBLE) * sy{s} / n{s})"
        " * (sty{s} - CAST(st{s} AS DOUBLE) * sy{s} / n{s})"
        " / (stt{s} - CAST(st{s} AS DOUBLE) * st{s} / n{s}))"
    )
    piv = ", ".join(
        f"CAST(sum(CASE WHEN seg = {s} THEN {c} ELSE 0 END) AS BIGINT)"
        f" AS {c}{s}"
        for s in (0, 1)
        for c in ("n", "sy", "syy", "st", "stt", "sty")
    )
    return f"""
    WITH chw_daily0 AS (
        SELECT {day_sql} AS day, CAST(sum({cents_sql}) AS BIGINT) AS cents
        FROM {table} GROUP BY 1
    ),
    chw_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM chw_daily0),
    chw_daily AS (
        SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t,
               CAST(floor(cents / 100000.0) AS BIGINT) AS y,
               CAST(date_diff('day', d0, d1) AS BIGINT) AS tmax
        FROM chw_daily0 CROSS JOIN chw_span
    ),
    chw_per AS (
        SELECT CASE WHEN t > CAST(floor(tmax / 2) AS BIGINT)
                    THEN 1 ELSE 0 END AS seg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * y) AS BIGINT) AS sty,
               CAST(max(CAST(floor(tmax / 2) AS BIGINT)) AS BIGINT) AS tmid
        FROM chw_daily
        GROUP BY 1
    ),
    chw_one AS (
        SELECT {piv}, CAST(max(tmid) AS BIGINT) AS break_t
        FROM chw_per
    ),
    chw_pool AS (
        SELECT *,
               n0 + n1 AS n, sy0 + sy1 AS sy, syy0 + syy1 AS syy,
               st0 + st1 AS st, stt0 + stt1 AS stt, sty0 + sty1 AS sty
        FROM chw_one
    ),
    chw_sse AS (
        SELECT *,
               {sse.format(s="")} AS ssep,
               {sse.format(s="0")} AS sse1,
               {sse.format(s="1")} AS sse2
        FROM chw_pool
    )
    SELECT n AS n_days, break_t,
           round(((ssep - sse1 - sse2) / 2)
                 / ((sse1 + sse2) / (n - 4.0)), {dp}) AS f_stat,
           round(ssep, {dp}) AS sse_pooled,
           round(sse1 + sse2, {dp}) AS sse_split
    FROM chw_sse
    """


# --------------------------------------------------------------------------
# Mood's median test (pooled-median 2xk table, quantized term sum)
# --------------------------------------------------------------------------


def mood_median_test(
    df: DataFrame, group_col: str, value_col: str, dp: int = 6
) -> DataFrame:
    """Mood's median test: do the groups share a common median? Counts
    above/below the POOLED median per group and chi-squares the 2xk
    table — the k-group median-location omnibus beside Kruskal-Wallis
    (KW compares mean ranks and is sensitive to shape; Mood's only
    asks which side of the shared median each row falls on — maximally
    robust, minimally powered). Ties count as "below" (<= median, the
    documented convention). Output ONE row:
    (med, k_groups, n, a_total, chi2, dof).

    The pooled median comes from the VALUE HISTOGRAM (min value whose
    cumulative count reaches ceil(N/2) — never a row sort); per-group
    cell deviations stay exact BIGINT via cross-multiplication
    (d_a = N*a_g - n_g*A), each group's chi-square term is a fixed
    double tree quantized to micro-units (floor(t*1e6 + 0.5)) so the
    k-term sum accumulates as exact BIGINT — portable regardless of
    either engine's aggregation order/tree.

    Scale shape (100 TB): one value-histogram aggregate + one group
    aggregate over row mass; the window runs over DISTINCT values."""
    from pyspark.sql import Window as W

    # hist is value-bounded (distinct measurement values) and is read
    # by BOTH the total and the median fence; grp (k rows) is read by
    # BOTH gtot and the term build. Left lazy, each reference re-runs
    # the full input scan+aggregate inside one job (measured r13: the
    # one-row plan carried 34 exchanges and 4 input scans). Instead of
    # eager localCheckpoints (r13 first cut: 2 checkpoints = 2 extra
    # driver-sequential jobs + their AQE sub-jobs, 14 jobs total for a
    # 1-row KPI), the scalar totals ride the BOUNDED relations as
    # unpartitioned window columns — every folded sum is an exact
    # BIGINT (order-free), every relation is referenced exactly once,
    # and the whole KPI is ONE job with exactly two input passes.
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    med = (
        df.groupBy(F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .withColumn("cum", F.sum("c").over(wv))
        .withColumn("n", F.sum("c").over(wall).cast("long"))
        .filter(F.col("cum") >= F.ceil(F.col("n") / 2))
        .agg(F.min("v").alias("med"))
    )
    grp = (
        df.crossJoin(F.broadcast(med))
        .groupBy(F.col(group_col).alias("g"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum((F.col(value_col) > F.col("med")).cast("long"))
            .cast("long")
            .alias("a_g"),
            F.max("med").alias("med_g"),
        )
    )
    terms = grp.select(
        "*",
        F.sum("n_g").over(wall).cast("long").alias("n"),
        F.sum("a_g").over(wall).cast("long").alias("a"),
        F.count(F.lit(1)).over(wall).cast("long").alias("k"),
    ).select(
        "med_g",
        "n",
        "a",
        "k",
        F.expr(
            "CAST(floor(("
            "  CAST(n * a_g - n_g * a AS DOUBLE) * (n * a_g - n_g * a)"
            "    / (CAST(n AS DOUBLE) * n_g * a)"
            "  + CAST(n * (n_g - a_g) - n_g * (n - a) AS DOUBLE)"
            "    * (n * (n_g - a_g) - n_g * (n - a))"
            "    / (CAST(n AS DOUBLE) * n_g * (n - a))"
            ") * 1000000 + 0.5) AS BIGINT)"
        ).alias("t6"),
    )
    return terms.groupBy("med_g", "n", "a", "k").agg(
        (F.sum("t6").cast("long") / F.lit(1_000_000.0)).alias("chi2")
    ).select(
        F.col("med_g").alias("med"),
        F.col("k").alias("k_groups"),
        "n",
        F.col("a").alias("a_total"),
        "chi2",
        (F.col("k") - 1).cast("long").alias("dof"),
    )


def mood_median_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `mood_median_test`: identical histogram
    median, cross-multiplied cells, and micro-quantized term sum."""
    return f"""
    WITH mmt_hist AS (
        SELECT {value_sql} AS v, CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
    ),
    mmt_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM mmt_hist),
    mmt_med AS (
        SELECT min(v) AS med FROM (
            SELECT v, sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, n
            FROM mmt_hist CROSS JOIN mmt_tot
        ) WHERE cum >= ceil(n / 2)
    ),
    mmt_grp AS (
        SELECT {group_sql} AS g, CAST(count(*) AS BIGINT) AS n_g,
               CAST(sum(CASE WHEN {value_sql} > med THEN 1 ELSE 0 END)
                    AS BIGINT) AS a_g,
               max(med) AS med_g
        FROM {table} CROSS JOIN mmt_med
        GROUP BY 1
    ),
    mmt_gtot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(a_g) AS BIGINT) AS a,
               CAST(count(*) AS BIGINT) AS k
        FROM mmt_grp
    ),
    mmt_terms AS (
        SELECT med_g, n, a, k,
               CAST(floor((
                 CAST(n * a_g - n_g * a AS DOUBLE) * (n * a_g - n_g * a)
                   / (CAST(n AS DOUBLE) * n_g * a)
                 + CAST(n * (n_g - a_g) - n_g * (n - a) AS DOUBLE)
                   * (n * (n_g - a_g) - n_g * (n - a))
                   / (CAST(n AS DOUBLE) * n_g * (n - a))
               ) * 1000000 + 0.5) AS BIGINT) AS t6
        FROM mmt_grp CROSS JOIN mmt_gtot
    )
    SELECT med_g AS med, k AS k_groups, n, a AS a_total,
           CAST(sum(t6) AS DOUBLE) / 1000000.0 AS chi2,
           CAST(k - 1 AS BIGINT) AS dof
    FROM mmt_terms
    GROUP BY med_g, n, a, k
    """


# --------------------------------------------------------------------------
# Grubbs' outlier test (exact integer moments + extreme deviations)
# --------------------------------------------------------------------------


def grubbs_test(df: DataFrame, units_col: str, dp: int = 6) -> DataFrame:
    """Grubbs' test statistic for a single outlier:
    G = max|x - mean| / sd — IS the most extreme value suspicious,
    the formal one-value sibling of q_mad_outliers' per-row screen
    (MAD flags many; Grubbs grades THE extreme against the normal
    assumption). Output ONE row: (n, outlier_units, g_stat).

    Everything multiplies through by n so the extreme deviation is
    exact: max_dev_n = greatest(S - n*min, n*max - S) (BIGINT), the
    outlier value is whichever side wins (exact comparison), and
        G = max_dev_n / (n * sqrt((n*Q - S^2) / (n * (n-1))))
    is one fixed double tree over exact moments, rounded ``dp``.
    ``units_col`` must keep n * sum(x^2) inside int64 (quantize money
    to dollars — the documented-bound discipline).

    Scale shape (100 TB): ONE map-combined aggregate; the formula
    runs on a 1-row relation."""
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col(units_col)).cast("long").alias("s"),
        F.sum(F.col(units_col) * F.col(units_col)).cast("long").alias("q"),
        F.min(F.col(units_col)).cast("long").alias("mn"),
        F.max(F.col(units_col)).cast("long").alias("mx"),
    )
    return mom.select(
        "n",
        F.expr(
            "CAST(CASE WHEN (s - n * mn) > (n * mx - s) THEN mn ELSE mx END"
            " AS BIGINT)"
        ).alias("outlier_units"),
        F.round(
            F.expr(
                "greatest(CAST(s - n * mn AS DOUBLE), CAST(n * mx - s AS DOUBLE))"
                " / (n * sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)"
                "             / (CAST(n AS DOUBLE) * (n - 1))))"
            ),
            dp,
        ).alias("g_stat"),
    )


def grubbs_oracle_sql(table_sql: str, units_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `grubbs_test`: identical moment and extreme
    algebra."""
    return f"""
    WITH grb_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({units_sql}) AS BIGINT) AS s,
               CAST(sum(({units_sql}) * ({units_sql})) AS BIGINT) AS q,
               CAST(min({units_sql}) AS BIGINT) AS mn,
               CAST(max({units_sql}) AS BIGINT) AS mx
        FROM {table_sql}
    )
    SELECT n,
           CAST(CASE WHEN (s - n * mn) > (n * mx - s) THEN mn ELSE mx END
                AS BIGINT) AS outlier_units,
           round(greatest(CAST(s - n * mn AS DOUBLE),
                          CAST(n * mx - s AS DOUBLE))
                 / (n * sqrt((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
                             / (CAST(n AS DOUBLE) * (n - 1)))), {dp})
               AS g_stat
    FROM grb_mom
    """


# --------------------------------------------------------------------------
# Horvitz-Thompson estimator (size-banded md5 sample, exact reweights)
# --------------------------------------------------------------------------


def horvitz_thompson(
    df: DataFrame,
    key_col: str,
    cents_col: str,
    hi_cents: int,
    mid_cents: int,
    salt: int = 11,
) -> DataFrame:
    """Horvitz-Thompson total estimate from an unequal-probability
    sample: large units enter with pi = 1, mid with pi = 1/5, small
    with pi = 1/20 (deterministic md5-uniform inclusion), and the
    estimator reweights each sampled value by 1/pi — read the WHOLE
    corpus total off a fraction of it, with the size-biased design
    every telemetry pipeline actually runs (q_uniform_sample draws
    equal-probability rows; HT makes a BIASED design unbiased).
    Output ONE row:
    (n_pop, n_sample, true_cents, ht_cents, ht_ratio).

    The 1/pi weights are INTEGER (1, 5, 20), so the estimate is an
    exact BIGINT sum of cents * weight — no float reweighting at all;
    ht_ratio is one exact division. Inclusion uses the shared
    md5-uniform variate (curriculum.u01), identical in both engines.

    Scale shape (100 TB): one map-side band+hash filter, two
    map-combined aggregates; nothing shuffles but 1-row totals."""
    from celeborn_spark.operators.curriculum import u01

    c = F.col(cents_col)
    w = (
        F.when(c >= hi_cents, 1)
        .when(c >= mid_cents, 5)
        .otherwise(20)
        .cast("long")
    )
    pi = (
        F.when(c >= hi_cents, F.lit(1.0))
        .when(c >= mid_cents, F.lit(0.2))
        .otherwise(F.lit(0.05))
    )
    base = df.select(
        c.alias("cents"),
        w.alias("w"),
        (u01(F.col(key_col).cast("string"), salt) < pi).alias("take"),
    )
    return base.agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum(F.col("take").cast("long")).cast("long").alias("n_sample"),
        F.sum("cents").cast("long").alias("true_cents"),
        F.sum(F.when(F.col("take"), F.col("cents") * F.col("w")).otherwise(0))
        .cast("long")
        .alias("ht_cents"),
    ).withColumn(
        "ht_ratio",
        F.col("ht_cents").cast("double") / F.col("true_cents"),
    )


def horvitz_thompson_oracle_sql(
    table: str,
    key_sql: str,
    cents_sql: str,
    hi_cents: int,
    mid_cents: int,
    salt: int = 11,
) -> str:
    """DuckDB mirror of `horvitz_thompson`: identical bands, the
    shared md5-uniform inclusion variate, exact integer reweights."""
    from celeborn_spark.operators.curriculum import u01_oracle_expr

    u = u01_oracle_expr(f"CAST({key_sql} AS VARCHAR)", salt)
    return f"""
    WITH ht_base AS (
        SELECT {cents_sql} AS cents,
               CAST(CASE WHEN {cents_sql} >= {hi_cents} THEN 1
                         WHEN {cents_sql} >= {mid_cents} THEN 5
                         ELSE 20 END AS BIGINT) AS w,
               ({u}) < (CASE WHEN {cents_sql} >= {hi_cents} THEN 1.0
                             WHEN {cents_sql} >= {mid_cents} THEN 0.2
                             ELSE 0.05 END) AS take
        FROM {table}
    ),
    ht_agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_pop,
               CAST(sum(CASE WHEN take THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_sample,
               CAST(sum(cents) AS BIGINT) AS true_cents,
               CAST(sum(CASE WHEN take THEN cents * w ELSE 0 END) AS BIGINT)
                   AS ht_cents
        FROM ht_base
    )
    SELECT n_pop, n_sample, true_cents, ht_cents,
           CAST(ht_cents AS DOUBLE) / true_cents AS ht_ratio
    FROM ht_agg
    """


# --------------------------------------------------------------------------
# ACF/PACF lags 1-3 (exact lag moments + Durbin-Levinson closed form)
# --------------------------------------------------------------------------


def pacf_3(df: DataFrame, day_col: str, dp: int = 6) -> DataFrame:
    """Autocorrelation and PARTIAL autocorrelation of the daily
    row-count series at lags 1-3 (Durbin-Levinson closed form) — the
    model-identification readout beside q_autocorrelation's single
    lag and q_ljung_box's omnibus: ACF says WHETHER memory exists,
    PACF says which AR order generates it (phi22 ~ 0 means lag-2
    correlation is just propagated lag-1). Output ONE row:
    (n_days, r1, r2, r3, pacf1, pacf2, pacf3).

    Lag cross-moments are exact BIGINTs over the CALENDAR-FILLED
    series (lag-k adjacency requires consecutive t): C_k = sum y_t
    y_{t-k}, plus head/tail window sums; r_k assembles in one fixed
    double tree and rounds ``dp`` BEFORE Durbin-Levinson, so the
    recursion runs on identical 6dp operands in both engines.

    Scale shape (100 TB): one map-combined day aggregate; the three
    lag windows run on the calendar-bounded day grid."""
    from pyspark.sql import Window as W

    # daily0 is the double-referenced relation (span AND the calendar
    # left join) — checkpoint HERE, right after the only heavy
    # scan+aggregate, so neither reference re-runs the input scan; the
    # filled series and the one combined lag-window pass then chain
    # lazily off the day-bounded checkpoint in the final job (r14; the
    # old checkpoint sat one step later, paying TWO input scans inside
    # its own materialization).
    daily0 = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
        .transform(hold)
    )
    span = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    daily = cal.join(daily0, "day", "left").select(
        "day", F.coalesce("m", F.lit(0)).cast("long").alias("y")
    )
    wd = W.orderBy("day")  # one row per calendar day (filled grid)
    lagged = daily.select(
        "y",
        F.lag("y", 1).over(wd).alias("y1"),
        F.lag("y", 2).over(wd).alias("y2"),
        F.lag("y", 3).over(wd).alias("y3"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("q"),
    ]
    for k in (1, 2, 3):
        yk = F.col(f"y{k}")
        nn = yk.isNotNull()
        aggs += [
            F.sum(F.when(nn, F.col("y") * yk)).cast("long").alias(f"c{k}"),
            F.sum(F.when(nn, F.col("y"))).cast("long").alias(f"h{k}"),
            F.sum(F.when(nn, yk)).cast("long").alias(f"t{k}"),
            F.sum(nn.cast("long")).cast("long").alias(f"n{k}"),
        ]
    mom = lagged.agg(*aggs)
    r = {
        k: (
            f"round((c{k} - CAST(s AS DOUBLE) / n * h{k}"
            f" - CAST(s AS DOUBLE) / n * t{k}"
            f" + n{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
            f" / (q - CAST(s AS DOUBLE) * s / n), {dp})"
        )
        for k in (1, 2, 3)
    }
    out = (
        mom.withColumn("r1", F.expr(r[1]))
        .withColumn("r2", F.expr(r[2]))
        .withColumn("r3", F.expr(r[3]))
        .withColumn("p2", F.expr(f"round((r2 - r1 * r1) / (1 - r1 * r1), {dp})"))
        .withColumn("p21", F.expr("r1 - p2 * r1"))
        .withColumn(
            "p3",
            F.expr(
                f"round((r3 - p21 * r2 - p2 * r1)"
                f" / (1 - p21 * r1 - p2 * r2), {dp})"
            ),
        )
    )
    return out.select(
        F.col("n").alias("n_days"),
        "r1",
        "r2",
        "r3",
        F.col("r1").alias("pacf1"),
        F.col("p2").alias("pacf2"),
        F.col("p3").alias("pacf3"),
    )


def pacf_oracle_sql(table: str, day_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `pacf_3`: identical calendar fill, lag
    moments, rounded ACF, and Durbin-Levinson text."""
    lag_cols = []
    for k in (1, 2, 3):
        lag_cols += [
            f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN y * y{k} END)"
            f" AS BIGINT) AS c{k}",
            f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN y END)"
            f" AS BIGINT) AS h{k}",
            f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN y{k} END)"
            f" AS BIGINT) AS t{k}",
            f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n{k}",
        ]
    r = {
        k: (
            f"round((c{k} - CAST(s AS DOUBLE) / n * h{k}"
            f" - CAST(s AS DOUBLE) / n * t{k}"
            f" + n{k} * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))"
            f" / (q - CAST(s AS DOUBLE) * s / n), {dp})"
        )
        for k in (1, 2, 3)
    }
    return f"""
    WITH pcf_daily0 AS (
        SELECT {day_sql} AS day, CAST(count(*) AS BIGINT) AS m
        FROM {table} GROUP BY 1
    ),
    pcf_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM pcf_daily0),
    pcf_cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM pcf_span
    ),
    pcf_daily AS (
        SELECT c.day, CAST(COALESCE(d.m, 0) AS BIGINT) AS y
        FROM pcf_cal c LEFT JOIN pcf_daily0 d ON c.day = d.day
    ),
    pcf_lag AS (
        SELECT y,
               lag(y, 1) OVER (ORDER BY day) AS y1,
               lag(y, 2) OVER (ORDER BY day) AS y2,
               lag(y, 3) OVER (ORDER BY day) AS y3
        FROM pcf_daily
    ),
    pcf_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(y * y) AS BIGINT) AS q,
               {", ".join(lag_cols)}
        FROM pcf_lag
    ),
    pcf_r AS (
        SELECT n, {r[1]} AS r1, {r[2]} AS r2, {r[3]} AS r3 FROM pcf_mom
    ),
    pcf_p2 AS (
        SELECT *, round((r2 - r1 * r1) / (1 - r1 * r1), {dp}) AS p2
        FROM pcf_r
    ),
    pcf_p3 AS (
        SELECT *, r1 - p2 * r1 AS p21 FROM pcf_p2
    )
    SELECT n AS n_days, r1, r2, r3,
           r1 AS pacf1, p2 AS pacf2,
           round((r3 - p21 * r2 - p2 * r1)
                 / (1 - p21 * r1 - p2 * r2), {dp}) AS pacf3
    FROM pcf_p3
    """


# --------------------------------------------------------------------------
# Stratified ATT estimator (quantized stratum-term sum)
# --------------------------------------------------------------------------


def stratified_att(
    df: DataFrame,
    stratum_col: str,
    treated_col: str,
    cents_col: str,
) -> DataFrame:
    """Stratified average-treatment-effect-on-the-treated: within
    each stratum compare treated vs control means, then average the
    per-stratum gaps weighted by TREATED mass — the observational
    estimator that removes stratum-level confounding
    (q_did_estimator needs a before/after panel; this needs only a
    cross-section plus a blocking variable). Output ONE row:
    (n_strata, n_treated, n_control, naive_diff_cents, att_cents).

    Per-stratum sums/counts are exact BIGINTs; each stratum term
    st_s/NT - nt_s*sc_s/(NT*nc_s) is a fixed double tree quantized to
    micro-cents (floor(x*1e6 + 0.5)) so the cross-stratum sum
    accumulates as exact BIGINT (portable under any aggregation
    tree); strata missing either arm drop identically in both
    engines. naive_diff is the unadjusted gap — the confounding
    readout is naive vs ATT.

    Scale shape (100 TB): ONE group-keyed aggregate over row mass;
    everything after runs on the stratum catalog."""
    t = F.col(treated_col).cast("long")
    per = df.groupBy(F.col(stratum_col).alias("s")).agg(
        F.sum(t).cast("long").alias("nt"),
        F.sum(F.lit(1) - t).cast("long").alias("nc"),
        F.sum(F.when(t == 1, F.col(cents_col)).otherwise(0))
        .cast("long")
        .alias("st"),
        F.sum(F.when(t == 0, F.col(cents_col)).otherwise(0))
        .cast("long")
        .alias("sc"),
    )
    # The grand totals ride the BOUNDED stratum catalog as full-frame
    # window columns (r13): every folded sum is an exact BIGINT, so the
    # values are identical to the old tot aggregate, and the catalog is
    # referenced exactly once — no eager localCheckpoint (an extra
    # driver job), no crossJoin; the whole KPI is ONE job. Windows run
    # BEFORE the both-arms filter, exactly like the old tot aggregate.
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    per = per.select(
        "*",
        F.sum("nt").over(wall).cast("long").alias("ntt"),
        F.sum("nc").over(wall).cast("long").alias("nct"),
        F.sum("st").over(wall).cast("long").alias("stt"),
        F.sum("sc").over(wall).cast("long").alias("sct"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n_strata"),
    )
    terms = (
        per.filter((F.col("nt") > 0) & (F.col("nc") > 0))
        .select(
            "ntt",
            "nct",
            "stt",
            "sct",
            "n_strata",
            F.expr(
                "CAST(floor((CAST(st AS DOUBLE) / ntt"
                " - CAST(nt AS DOUBLE) * sc / (CAST(ntt AS DOUBLE) * nc))"
                " * 1000000 + 0.5) AS BIGINT)"
            ).alias("t6"),
        )
    )
    return terms.groupBy("ntt", "nct", "stt", "sct", "n_strata").agg(
        (F.sum("t6").cast("long") / F.lit(1_000_000.0)).alias("att_cents")
    ).select(
        "n_strata",
        F.col("ntt").alias("n_treated"),
        F.col("nct").alias("n_control"),
        F.expr(
            "CAST(stt AS DOUBLE) / ntt - CAST(sct AS DOUBLE) / nct"
        ).alias("naive_diff_cents"),
        "att_cents",
    )


def stratified_att_oracle_sql(
    subjects_sql: str, stratum_sql: str, treated_sql: str, cents_sql: str
) -> str:
    """DuckDB mirror of `stratified_att`: identical stratum moments,
    micro-quantized terms, and assembly."""
    return f"""
    WITH att_subj AS ({subjects_sql}),
    att_per AS (
        SELECT {stratum_sql} AS s,
               CAST(sum({treated_sql}) AS BIGINT) AS nt,
               CAST(sum(1 - ({treated_sql})) AS BIGINT) AS nc,
               CAST(sum(CASE WHEN ({treated_sql}) = 1 THEN {cents_sql}
                             ELSE 0 END) AS BIGINT) AS st,
               CAST(sum(CASE WHEN ({treated_sql}) = 0 THEN {cents_sql}
                             ELSE 0 END) AS BIGINT) AS sc
        FROM att_subj
        GROUP BY 1
    ),
    att_tot AS (
        SELECT CAST(sum(nt) AS BIGINT) AS ntt,
               CAST(sum(nc) AS BIGINT) AS nct,
               CAST(sum(st) AS BIGINT) AS stt,
               CAST(sum(sc) AS BIGINT) AS sct,
               CAST(count(*) AS BIGINT) AS n_strata
        FROM att_per
    ),
    att_terms AS (
        SELECT ntt, nct, stt, sct, n_strata,
               CAST(floor((CAST(st AS DOUBLE) / ntt
                           - CAST(nt AS DOUBLE) * sc
                             / (CAST(ntt AS DOUBLE) * nc))
                          * 1000000 + 0.5) AS BIGINT) AS t6
        FROM att_per CROSS JOIN att_tot
        WHERE nt > 0 AND nc > 0
    )
    SELECT n_strata, ntt AS n_treated, nct AS n_control,
           CAST(stt AS DOUBLE) / ntt - CAST(sct AS DOUBLE) / nct
               AS naive_diff_cents,
           CAST(sum(t6) AS DOUBLE) / 1000000.0 AS att_cents
    FROM att_terms
    GROUP BY ntt, nct, stt, sct, n_strata
    """


# --------------------------------------------------------------------------
# Cohen's h (arcsine effect size for two proportions)
# --------------------------------------------------------------------------


def cohens_h(
    df: DataFrame, group_col: str, success_col, group_a, group_b,
    dp: int = 6,
) -> DataFrame:
    """Cohen's h effect size for two proportions:
    h = 2*asin(sqrt(p1)) - 2*asin(sqrt(p2)) — the MAGNITUDE companion
    to the two-proportion significance tests (chi-square/Wilson/SRM
    say whether rates differ; h says by how much on a scale where
    0.2/0.5/0.8 mean small/medium/large regardless of base rate —
    the property a raw rate difference lacks near 0 or 1). Output ONE
    row: (n_a, pos_a, n_b, pos_b, phi_a, phi_b, h).

    Counts are exact BIGINTs, each p an exact division; each
    arcsine transform rounds ``dp`` separately, so h is an exact
    subtraction of two 6dp values.

    Scale shape (100 TB): ONE conditional aggregate; the formula
    runs on a 1-row relation."""
    g = F.col(group_col)
    s = success_col if not isinstance(success_col, str) else F.col(success_col)
    mom = df.filter(g.isin([group_a, group_b])).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(g == group_a, s.cast("long")).otherwise(0))
        .cast("long")
        .alias("pos_a"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(g == group_b, s.cast("long")).otherwise(0))
        .cast("long")
        .alias("pos_b"),
    )
    phi_a = F.round(
        2 * F.asin(F.sqrt(F.col("pos_a").cast("double") / F.col("n_a"))), dp
    )
    phi_b = F.round(
        2 * F.asin(F.sqrt(F.col("pos_b").cast("double") / F.col("n_b"))), dp
    )
    return mom.select(
        "n_a",
        "pos_a",
        "n_b",
        "pos_b",
        phi_a.alias("phi_a"),
        phi_b.alias("phi_b"),
        (phi_a - phi_b).alias("h"),
    )


def cohens_h_oracle_sql(
    table_sql: str, group_sql: str, success_sql: str, ga: str, gb: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `cohens_h`: identical counts and arcsine
    rounding."""
    return f"""
    WITH chh_mom AS (
        SELECT CAST(sum(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN {group_sql} = {ga} THEN {success_sql}
                             ELSE 0 END) AS BIGINT) AS pos_a,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN {success_sql}
                             ELSE 0 END) AS BIGINT) AS pos_b
        FROM {table_sql}
        WHERE {group_sql} IN ({ga}, {gb})
    )
    SELECT n_a, pos_a, n_b, pos_b,
           round(2 * asin(sqrt(CAST(pos_a AS DOUBLE) / n_a)), {dp}) AS phi_a,
           round(2 * asin(sqrt(CAST(pos_b AS DOUBLE) / n_b)), {dp}) AS phi_b,
           round(2 * asin(sqrt(CAST(pos_a AS DOUBLE) / n_a)), {dp})
           - round(2 * asin(sqrt(CAST(pos_b AS DOUBLE) / n_b)), {dp}) AS h
    FROM chh_mom
    """


# --------------------------------------------------------------------------
# Seasonal decomposition (7-day MA trend + DOW seasonal indices)
# --------------------------------------------------------------------------


def seasonal_decompose(df: DataFrame, day_col: str, dp: int = 6) -> DataFrame:
    """Classical additive seasonal decomposition of the daily
    row-count series: trend = centered 7-day moving average, seasonal
    = day-of-week mean of the detrended series — the DECOMPOSITION
    the seasonal-strength family only summarizes (q_seasonal_strength
    gives one variance fraction; this gives the seasonal PROFILE a
    forecaster subtracts). Output one row per day-of-week:
    (dow, n_days, seasonal).

    The trend MA is an exact division (BIGINT 7-day window sum / 7)
    on full windows only (edges dropped identically); the detrended
    value quantizes to micro-units (floor(x*1e6 + 0.5)) so per-DOW
    means are exact BIGINT sums with two exact divisions.

    Scale shape (100 TB): one map-combined day aggregate; the MA
    window and DOW grouping run on the calendar-bounded grid."""
    from pyspark.sql import Window as W

    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    span = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    daily = cal.join(daily0, "day", "left").select(
        "day", F.coalesce("m", F.lit(0)).cast("long").alias("y")
    )
    # calendar-bounded filled grid: one row per day
    wma = W.orderBy("day").rowsBetween(-3, 3)
    det = (
        daily.select(
            "day",
            "y",
            F.sum("y").over(wma).cast("long").alias("s7"),
            F.count(F.lit(1)).over(wma).cast("long").alias("c7"),
        )
        .filter(F.col("c7") == 7)
        .select(
            F.dayofweek("day").cast("long").alias("dow"),
            F.floor(
                (F.col("y") - F.col("s7") / F.lit(7.0)) * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("d6"),
        )
    )
    return det.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.round(
            F.sum("d6").cast("long") / F.count(F.lit(1)) / F.lit(1_000_000.0),
            dp,
        ).alias("seasonal"),
    )


def seasonal_decompose_oracle_sql(
    table: str, day_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `seasonal_decompose`: identical calendar
    fill, MA window, micro quantization, and DOW means (dayofweek
    matched to Spark's 1 = Sunday convention)."""
    return f"""
    WITH sdc_daily0 AS (
        SELECT {day_sql} AS day, CAST(count(*) AS BIGINT) AS m
        FROM {table} GROUP BY 1
    ),
    sdc_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM sdc_daily0),
    sdc_cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM sdc_span
    ),
    sdc_daily AS (
        SELECT c.day, CAST(COALESCE(d.m, 0) AS BIGINT) AS y
        FROM sdc_cal c LEFT JOIN sdc_daily0 d ON c.day = d.day
    ),
    sdc_ma AS (
        SELECT day, y,
               CAST(sum(y) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS s7,
               CAST(count(*) OVER (ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS BIGINT) AS c7
        FROM sdc_daily
    ),
    sdc_det AS (
        SELECT CAST(dayofweek(day) + 1 AS BIGINT) AS dow,
               CAST(floor((y - s7 / 7.0) * 1000000 + 0.5) AS BIGINT) AS d6
        FROM sdc_ma WHERE c7 = 7
    )
    SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
           round(CAST(sum(d6) AS BIGINT) / count(*) / 1000000.0, {dp})
               AS seasonal
    FROM sdc_det
    GROUP BY 1
    """


# --------------------------------------------------------------------------
# Variance inflation factors (3 regressors, closed form from 6dp r's)
# --------------------------------------------------------------------------


def vif_3(df: DataFrame, item_cols: tuple[str, str, str], dp: int = 6) -> DataFrame:
    """Variance inflation factors for three integer regressors via
    the closed form over pairwise correlations — the collinearity
    diagnostic in front of any multi-feature fit (q_logreg_quality /
    q_grouped_ols_trend report coefficients; VIF says whether they
    are individually meaningful or shared variance in disguise):
        R2_1 = (r12^2 + r13^2 - 2 r12 r13 r23) / (1 - r23^2),
        VIF_1 = 1 / (1 - R2_1)  (cyclic for 2, 3).
    Output ONE row: (n, r12, r13, r23, vif1, vif2, vif3).

    All moments (sums, squares, cross products) are exact BIGINTs;
    each correlation rounds ``dp`` BEFORE the closed form, so both
    engines evaluate identical operand trees; VIFs round ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate; the formula
    runs on a 1-row relation."""
    c0, c1, c2 = (F.col(c) for c in item_cols)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c0).cast("long").alias("s0"),
        F.sum(c1).cast("long").alias("s1"),
        F.sum(c2).cast("long").alias("s2"),
        F.sum(c0 * c0).cast("long").alias("q0"),
        F.sum(c1 * c1).cast("long").alias("q1"),
        F.sum(c2 * c2).cast("long").alias("q2"),
        F.sum(c0 * c1).cast("long").alias("s01"),
        F.sum(c0 * c2).cast("long").alias("s02"),
        F.sum(c1 * c2).cast("long").alias("s12"),
    )
    def corr(i: int, j: int) -> str:
        return (
            f"round((CAST(n AS DOUBLE) * s{'' if i * 10 + j in (1, 2, 12) else ''}"
            f"{i}{j} - CAST(s{i} AS DOUBLE) * s{j})"
            f" / sqrt((CAST(n AS DOUBLE) * q{i} - CAST(s{i} AS DOUBLE) * s{i})"
            f" * (CAST(n AS DOUBLE) * q{j} - CAST(s{j} AS DOUBLE) * s{j})),"
            f" {dp})"
        )

    r2 = "((r{a}{b} * r{a}{b} + r{a}{c} * r{a}{c}" \
         " - 2 * r{a}{b} * r{a}{c} * r{b}{c}) / (1 - r{b}{c} * r{b}{c}))"
    out = (
        mom.withColumn("r01", F.expr(corr(0, 1)))
        .withColumn("r02", F.expr(corr(0, 2)))
        .withColumn("r12", F.expr(corr(1, 2)))
    )
    vifs = {}
    for name, (a, b, c) in (
        ("vif1", (0, 1, 2)),
        ("vif2", (1, 0, 2)),
        ("vif3", (2, 0, 1)),
    ):
        def rr(x, y):
            return f"r{min(x, y)}{max(x, y)}"

        expr = (
            f"round(1 / (1 - (({rr(a,b)} * {rr(a,b)} + {rr(a,c)} * {rr(a,c)}"
            f" - 2 * {rr(a,b)} * {rr(a,c)} * {rr(b,c)})"
            f" / (1 - {rr(b,c)} * {rr(b,c)}))), {dp})"
        )
        vifs[name] = expr
    return out.select(
        "n",
        F.col("r01").alias("r12"),
        F.col("r02").alias("r13"),
        F.col("r12").alias("r23"),
        F.expr(vifs["vif1"]).alias("vif1"),
        F.expr(vifs["vif2"]).alias("vif2"),
        F.expr(vifs["vif3"]).alias("vif3"),
    )


def vif_oracle_sql(
    subjects_sql: str, item_sqls: tuple[str, str, str], dp: int = 6
) -> str:
    """DuckDB mirror of `vif_3`: identical moments, 6dp-rounded
    correlations, and closed-form text."""
    a, b, c = item_sqls
    def corr(qi, qj, si, sj, sij):
        return (
            f"round((CAST(n AS DOUBLE) * {sij} - CAST({si} AS DOUBLE) * {sj})"
            f" / sqrt((CAST(n AS DOUBLE) * {qi} - CAST({si} AS DOUBLE) * {si})"
            f" * (CAST(n AS DOUBLE) * {qj} - CAST({sj} AS DOUBLE) * {sj})),"
            f" {dp})"
        )

    def vif(ab, ac, bc):
        return (
            f"round(1 / (1 - (({ab} * {ab} + {ac} * {ac}"
            f" - 2 * {ab} * {ac} * {bc}) / (1 - {bc} * {bc}))), {dp})"
        )

    return f"""
    WITH vif_subj AS ({subjects_sql}),
    vif_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({a}) AS BIGINT) AS s0,
               CAST(sum({b}) AS BIGINT) AS s1,
               CAST(sum({c}) AS BIGINT) AS s2,
               CAST(sum(({a}) * ({a})) AS BIGINT) AS q0,
               CAST(sum(({b}) * ({b})) AS BIGINT) AS q1,
               CAST(sum(({c}) * ({c})) AS BIGINT) AS q2,
               CAST(sum(({a}) * ({b})) AS BIGINT) AS s01,
               CAST(sum(({a}) * ({c})) AS BIGINT) AS s02,
               CAST(sum(({b}) * ({c})) AS BIGINT) AS s12
        FROM vif_subj
    ),
    vif_r AS (
        SELECT n,
               {corr("q0", "q1", "s0", "s1", "s01")} AS r01,
               {corr("q0", "q2", "s0", "s2", "s02")} AS r02,
               {corr("q1", "q2", "s1", "s2", "s12")} AS r12x
        FROM vif_mom
    )
    SELECT n, r01 AS r12, r02 AS r13, r12x AS r23,
           {vif("r01", "r02", "r12x")} AS vif1,
           {vif("r01", "r12x", "r02")} AS vif2,
           {vif("r02", "r12x", "r01")} AS vif3
    FROM vif_r
    """


# --------------------------------------------------------------------------
# Mann-Kendall trend test (calendar-bounded pairwise signs)
# --------------------------------------------------------------------------


def mann_kendall(df: DataFrame, day_col: str, dp: int = 6) -> DataFrame:
    """Mann-Kendall monotone-trend test on the daily row-count
    series: S = sum of sign(y_j - y_i) over all day pairs i < j —
    the nonparametric IS-there-a-trend verdict beside the parametric
    OLS slope (q_grouped_ols_trend) and the robust slope estimate
    (q_theil_sen): no linearity or normality assumed, ties handled
    exactly. Output ONE row: (n_days, s_stat, var_s, z).

    S is an exact BIGINT over the CALENDAR-BOUNDED day-pair join
    (days^2 pairs — constant in row mass, the theta-join stays on the
    day grid, never rows). The tie-corrected variance
        Var = [n(n-1)(2n+5) - sum_t t(t-1)(2t+5)] / 18
    reads tie sizes off the daily-value histogram (exact BIGINTs, one
    division); z applies the continuity correction and rounds ``dp``.

    Scale shape (100 TB): one map-combined day aggregate; the pair
    join and histogram run on the bounded day grid."""
    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
        .transform(hold)  # day grid; feeds pair join, ties, moments
    )
    a = daily.select(F.col("day").alias("d1"), F.col("y").alias("y1"))
    b = daily.select(F.col("day").alias("d2"), F.col("y").alias("y2"))
    s = (
        a.join(b, F.col("d1") < F.col("d2"))
        .agg(
            F.sum(F.signum(F.col("y2") - F.col("y1")).cast("long"))
            .cast("long")
            .alias("s_stat")
        )
    )
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_sum"),
            F.sum("t").cast("long").alias("n"),
        )
    )
    out = s.crossJoin(F.broadcast(ties)).withColumn(
        "var_s",
        F.expr(
            "(CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_sum) / 18"
        ),
    )
    return out.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var_s",
        F.round(
            F.expr(
                "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)"
                " WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)"
                " ELSE 0.0 END"
            ),
            dp,
        ).alias("z"),
    )


def mann_kendall_oracle_sql(table: str, day_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `mann_kendall`: identical day grid, pairwise
    signs, tie correction, and continuity-corrected z."""
    return f"""
    WITH mk_daily AS (
        SELECT {day_sql} AS day, CAST(count(*) AS BIGINT) AS y
        FROM {table} GROUP BY 1
    ),
    mk_s AS (
        SELECT CAST(sum(sign(b.y - a.y)) AS BIGINT) AS s_stat
        FROM mk_daily a JOIN mk_daily b ON a.day < b.day
    ),
    mk_ties AS (
        SELECT CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_sum,
               CAST(sum(t) AS BIGINT) AS n
        FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM mk_daily GROUP BY y)
    ),
    mk_v AS (
        SELECT s_stat, n,
               (CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5) - tie_sum) / 18
                   AS var_s
        FROM mk_s CROSS JOIN mk_ties
    )
    SELECT n AS n_days, s_stat, var_s,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                      WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                      ELSE 0.0 END, {dp}) AS z
    FROM mk_v
    """


# --------------------------------------------------------------------------
# Two-rate Poisson comparison (exact counts, Wald log-ratio CI)
# --------------------------------------------------------------------------


def poisson_two_rate(
    df: DataFrame, group_col: str, group_a, group_b, dp: int = 6
) -> DataFrame:
    """Two-rate Poisson comparison under equal exposure: are events
    of kind A arriving faster than kind B? The count-data sibling of
    the two-proportion desk (rates, not shares): conditional z =
    (c1 - c2)/sqrt(c1 + c2), rate ratio with the Wald log CI
    exp(ln(c1/c2) +/- 1.96*sqrt(1/c1 + 1/c2)). Output ONE row:
    (c1, c2, rate_ratio, z, rr_lo, rr_hi).

    Counts are exact BIGINTs; rate_ratio is one exact division; z
    and the CI pass through sqrt/ln/exp and round ``dp``.

    Scale shape (100 TB): ONE conditional aggregate."""
    g = F.col(group_col)
    mom = df.filter(g.isin([group_a, group_b])).agg(
        F.sum(F.when(g == group_a, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(g == group_b, 1).otherwise(0)).cast("long").alias("c2"),
    )
    return mom.select(
        "c1",
        "c2",
        (F.col("c1").cast("double") / F.col("c2")).alias("rate_ratio"),
        F.round(
            F.expr("(c1 - c2) / sqrt(CAST(c1 AS DOUBLE) + c2)"), dp
        ).alias("z"),
        F.round(
            F.expr(
                "exp(ln(CAST(c1 AS DOUBLE) / c2)"
                " - 1.96 * sqrt(1.0 / c1 + 1.0 / c2))"
            ),
            dp,
        ).alias("rr_lo"),
        F.round(
            F.expr(
                "exp(ln(CAST(c1 AS DOUBLE) / c2)"
                " + 1.96 * sqrt(1.0 / c1 + 1.0 / c2))"
            ),
            dp,
        ).alias("rr_hi"),
    )


def poisson_two_rate_oracle_sql(
    table: str, group_sql: str, ga: str, gb: str, dp: int = 6
) -> str:
    """DuckDB mirror of `poisson_two_rate`: identical counts and
    formula text."""
    return f"""
    WITH p2r_mom AS (
        SELECT CAST(sum(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)
                    AS BIGINT) AS c1,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN 1 ELSE 0 END)
                    AS BIGINT) AS c2
        FROM {table}
        WHERE {group_sql} IN ({ga}, {gb})
    )
    SELECT c1, c2,
           CAST(c1 AS DOUBLE) / c2 AS rate_ratio,
           round((c1 - c2) / sqrt(CAST(c1 AS DOUBLE) + c2), {dp}) AS z,
           round(exp(ln(CAST(c1 AS DOUBLE) / c2)
                     - 1.96 * sqrt(1.0 / c1 + 1.0 / c2)), {dp}) AS rr_lo,
           round(exp(ln(CAST(c1 AS DOUBLE) / c2)
                     + 1.96 * sqrt(1.0 / c1 + 1.0 / c2)), {dp}) AS rr_hi
    FROM p2r_mom
    """


# --------------------------------------------------------------------------
# Diversity profile (Simpson / Berger-Parker / richness, all exact)
# --------------------------------------------------------------------------


def diversity_profile(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Ecological diversity profile of a categorical mix per group:
    Simpson's concentration lambda = sum n_j(n_j-1) / (N(N-1)) (the
    probability two draws match), Berger-Parker dominance max n_j/N,
    and richness — the concentration triad beside q_group_entropy's
    Shannon view (entropy weights rare classes; Simpson the common;
    BP only the top). Output one row per group:
    (g, n, richness, simpson, berger_parker).

    ALL exact: category counts are BIGINTs and both indices are
    single IEEE divisions of exact integers — no rounding anywhere.
    n_j(n_j-1) sums need N^2 inside int64 (fine to ~3e9 rows/group).

    Scale shape (100 TB): one two-key aggregate over row mass, one
    group-keyed reduce over the category catalog."""
    cells = df.groupBy(
        F.col(group_col).alias("g"), F.col(cat_col).alias("cat")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_j"))
    per = cells.groupBy("g").agg(
        F.sum("n_j").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("richness"),
        F.sum(F.col("n_j") * (F.col("n_j") - 1)).cast("long").alias("pp"),
        F.max("n_j").cast("long").alias("nmax"),
    )
    return per.select(
        "g",
        "n",
        "richness",
        F.expr("pp / (CAST(n AS DOUBLE) * (n - 1))").alias("simpson"),
        (F.col("nmax").cast("double") / F.col("n")).alias("berger_parker"),
    )


def diversity_oracle_sql(table: str, group_sql: str, cat_sql: str) -> str:
    """DuckDB mirror of `diversity_profile`: identical cell counts
    and exact index divisions."""
    return f"""
    WITH dvp_cells AS (
        SELECT {group_sql} AS g, {cat_sql} AS cat,
               CAST(count(*) AS BIGINT) AS n_j
        FROM {table} GROUP BY 1, 2
    ),
    dvp_per AS (
        SELECT g, CAST(sum(n_j) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS richness,
               CAST(sum(n_j * (n_j - 1)) AS BIGINT) AS pp,
               CAST(max(n_j) AS BIGINT) AS nmax
        FROM dvp_cells GROUP BY 1
    )
    SELECT g, n, richness,
           pp / (CAST(n AS DOUBLE) * (n - 1)) AS simpson,
           CAST(nmax AS DOUBLE) / n AS berger_parker
    FROM dvp_per
    """


# --------------------------------------------------------------------------
# Quadratic-weighted kappa (ONE exact integer division)
# --------------------------------------------------------------------------


def weighted_kappa(
    df: DataFrame, rater1_col: str, rater2_col: str, n_categories: int
) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between two ORDINAL raters:
    disagreement is charged (i-j)^2, so adjacent-band disputes cost
    little and opposite-end calls cost everything — the ordinal
    upgrade of q_cohens_kappa (nominal agreement) for graded labels
    (quality bands, size classes, star ratings). Output ONE row:
    (n, d_obs, d_exp_num, kappa_w).

    The quadratic identity collapses the whole confusion matrix:
        sum_ij (i-j)^2 O_ij  =  sum (r1 - r2)^2        (one aggregate)
        kappa_w = 1 - N * sum(r1-r2)^2 / sum_ij (i-j)^2 R_i C_j
    with marginals R_i, C_j from the same pass — every quantity an
    exact BIGINT, kappa ONE exact IEEE division, zero rounding.
    Needs N * sum(d^2) inside int64 (fine to ~1e9 subjects at k=3).

    Scale shape (100 TB): ONE map-combined aggregate; the marginal
    cross terms expand on a 1-row relation."""
    r1, r2 = F.col(rater1_col), F.col(rater2_col)
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((r1 - r2) * (r1 - r2)).cast("long").alias("d_obs"),
    ]
    for i in range(n_categories):
        aggs.append(F.sum((r1 == i).cast("long")).cast("long").alias(f"r{i}"))
        aggs.append(F.sum((r2 == i).cast("long")).cast("long").alias(f"c{i}"))
    mom = df.agg(*aggs)
    exp_terms = " + ".join(
        f"{(i - j) * (i - j)} * r{i} * c{j}"
        for i in range(n_categories)
        for j in range(n_categories)
        if i != j
    )
    return mom.select(
        "n",
        "d_obs",
        F.expr(f"CAST({exp_terms} AS BIGINT)").alias("d_exp_num"),
        F.expr(
            f"1 - CAST(n * d_obs AS DOUBLE) / ({exp_terms})"
        ).alias("kappa_w"),
    )


def weighted_kappa_oracle_sql(
    subjects_sql: str, r1_sql: str, r2_sql: str, n_categories: int
) -> str:
    """DuckDB mirror of `weighted_kappa`: identical collapsed
    quadratic identity and marginal cross terms."""
    marg = ", ".join(
        f"CAST(sum(CASE WHEN ({r1_sql}) = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS r{i}, "
        f"CAST(sum(CASE WHEN ({r2_sql}) = {i} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS c{i}"
        for i in range(n_categories)
    )
    exp_terms = " + ".join(
        f"{(i - j) * (i - j)} * r{i} * c{j}"
        for i in range(n_categories)
        for j in range(n_categories)
        if i != j
    )
    return f"""
    WITH wkp_subj AS ({subjects_sql}),
    wkp_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum((({r1_sql}) - ({r2_sql}))
                        * (({r1_sql}) - ({r2_sql}))) AS BIGINT) AS d_obs,
               {marg}
        FROM wkp_subj
    )
    SELECT n, d_obs,
           CAST({exp_terms} AS BIGINT) AS d_exp_num,
           1 - CAST(n * d_obs AS DOUBLE) / ({exp_terms}) AS kappa_w
    FROM wkp_mom
    """


# --------------------------------------------------------------------------
# ABC (Pareto) revenue classification — value-threshold semantics
# --------------------------------------------------------------------------


def abc_analysis(
    df: DataFrame,
    key_col: str,
    cents_col,
    a_pct: int = 80,
    b_pct: int = 95,
) -> DataFrame:
    """ABC / Pareto classification of revenue concentration: class A
    = the top items carrying the first ``a_pct``% of revenue, B the
    next tier to ``b_pct``%, C the tail — the assortment-management
    readout beside q_lorenz_curve (the curve shows concentration;
    ABC turns it into an actionable 3-way split). Output one row per
    class: (abc_class, n_items, cents, revenue_share).

    VALUE-threshold semantics: an item's class depends on the summed
    revenue of items with STRICTLY greater revenue, so ties share a
    class and no rank tiebreaker exists to drift (the r10 total-order
    lesson). The strict-above sum runs over the per-item revenue
    HISTOGRAM via the two-stage bucket-offset prefix sum
    (evaluation._bounded_cum_before, descending) — never a single-
    partition window over the item catalog; class cuts are exact
    integer comparisons (20*cum < (20-k)*tot forms).

    Scale shape (100 TB): one item aggregate + one value-histogram
    aggregate over row mass; the prefix machinery runs bucketed."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    per_item = df.groupBy(F.col(key_col).alias("k")).agg(
        F.sum(cents_col).cast("long").alias("cents")
    )
    hist = (
        per_item.groupBy(F.col("cents").alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum("cents").cast("long").alias("vtot"),
        )
        .transform(hold)  # value histogram; bounds + bucketing re-read it
    )
    cb = _bounded_cum_before(hist, F.col("vtot"), descending=True)
    tot = hist.agg(F.sum("vtot").cast("long").alias("tot"))
    classed = cb.crossJoin(F.broadcast(tot)).select(
        F.when(
            100 * F.col("cum_before") < F.lit(a_pct) * F.col("tot"), "A"
        )
        .when(100 * F.col("cum_before") < F.lit(b_pct) * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_items",
        "vtot",
        "tot",
    )
    return classed.groupBy("abc_class").agg(
        F.sum("n_items").cast("long").alias("n_items"),
        F.sum("vtot").cast("long").alias("cents"),
        (F.sum("vtot").cast("double") / F.max("tot")).alias("revenue_share"),
    )


def abc_oracle_sql(
    items_sql: str, a_pct: int = 80, b_pct: int = 95
) -> str:
    """DuckDB mirror of `abc_analysis`. ``items_sql`` yields one row
    per item with a BIGINT ``cents``; the strict-above sum is a plain
    descending window over the DISTINCT-value histogram (value
    identical to the bucketed Spark form)."""
    return f"""
    WITH abc_items AS ({items_sql}),
    abc_hist AS (
        SELECT cents AS v, CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(cents) AS BIGINT) AS vtot
        FROM abc_items GROUP BY 1
    ),
    abc_cum AS (
        SELECT v, n_items, vtot,
               CAST(COALESCE(sum(vtot) OVER (ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cum_before
        FROM abc_hist
    ),
    abc_tot AS (SELECT CAST(sum(vtot) AS BIGINT) AS tot FROM abc_hist)
    SELECT CASE WHEN 100 * cum_before < {a_pct} * tot THEN 'A'
                WHEN 100 * cum_before < {b_pct} * tot THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(sum(n_items) AS BIGINT) AS n_items,
           CAST(sum(vtot) AS BIGINT) AS cents,
           CAST(sum(vtot) AS DOUBLE) / max(tot) AS revenue_share
    FROM abc_cum CROSS JOIN abc_tot
    GROUP BY 1
    """


# --------------------------------------------------------------------------
# Cook's distance screen (closed-form leverage over the day grid)
# --------------------------------------------------------------------------


def cooks_distance_top(
    df: DataFrame, day_col: str, cents_col, top_k: int = 5, dp: int = 6
) -> DataFrame:
    """Top-``top_k`` most INFLUENTIAL days of the daily-revenue OLS
    trend by Cook's distance — which single days, if dropped, would
    move the fitted line most (the influence companion to
    q_durbin_watson's adequacy and q_chow_test's break verdict):
        D_t = e_t^2 h_t / (2 s^2 (1 - h_t)^2),
        h_t = 1/n + (t - St/n)^2 / (Stt - St^2/n).
    Output ``top_k`` rows: (day, d_stat), ranked (d_stat desc, day).

    The day grid is calendar-bounded, so per-day residuals are a
    bounded double surface: e_t, h_t, s^2 all assemble from exact
    BIGINT moments (k$ value grain) in fixed double trees; D rounds
    ``dp`` BEFORE the ranking and the day tiebreaks it (rank on
    rounded values with id tiebreakers — CLAUDE.md), cut by
    TakeOrderedAndProject.

    Scale shape (100 TB): one map-combined day aggregate; formulas
    and the heap-select run on the day grid."""
    from pyspark.sql import Window as W

    # The origin day and the six OLS moments ride the calendar-bounded
    # day grid as full-frame window columns (exact BIGINT sums, r13):
    # daily and dd are each referenced exactly once — no eager
    # localCheckpoint job, no d0/mom crossJoins; the whole query is
    # ONE job. Same longs, same double trees, same rounded ranking.
    wall = W.partitionBy()
    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(cents_col).cast("long").alias("cents"))
        .select(
            "day",
            F.floor(F.col("cents") / F.lit(100000.0)).cast("long").alias("y"),
        )
    )
    dd = daily.select(
        "day",
        "y",
        F.datediff(F.col("day"), F.min("day").over(wall))
        .cast("long")
        .alias("t"),
    )
    full = (
        dd.select(
            "*",
            F.count(F.lit(1)).over(wall).cast("long").alias("n"),
            F.sum("y").over(wall).cast("long").alias("sy"),
            F.sum(F.col("y") * F.col("y")).over(wall).cast("long").alias("syy"),
            F.sum("t").over(wall).cast("long").alias("st"),
            F.sum(F.col("t") * F.col("t")).over(wall).cast("long").alias("stt"),
            F.sum(F.col("t") * F.col("y")).over(wall).cast("long").alias("sty"),
        )
        .withColumn(
            "b",
            F.expr(
                "(CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
            ),
        )
        .withColumn("a", F.expr("(sy - b * st) / n"))
        .withColumn(
            "s2",
            F.expr(
                "((syy - CAST(sy AS DOUBLE) * sy / n)"
                " - (sty - CAST(st AS DOUBLE) * sy / n)"
                " * (sty - CAST(st AS DOUBLE) * sy / n)"
                " / (stt - CAST(st AS DOUBLE) * st / n)) / (n - 2)"
            ),
        )
        .withColumn("e", F.expr("y - a - b * t"))
        .withColumn(
            "h",
            F.expr(
                "1.0 / n + (t - CAST(st AS DOUBLE) / n)"
                " * (t - CAST(st AS DOUBLE) / n)"
                " / (stt - CAST(st AS DOUBLE) * st / n)"
            ),
        )
        .withColumn(
            "d_stat",
            F.round(
                F.expr("e * e * h / (2 * s2 * (1 - h) * (1 - h))"), dp
            ),
        )
    )
    return (
        full.select("day", "d_stat")
        .orderBy(F.col("d_stat").desc(), F.col("day"))
        .limit(top_k)
    )


def cooks_oracle_sql(
    table: str, day_sql: str, cents_sql: str, top_k: int = 5, dp: int = 6
) -> str:
    """DuckDB mirror of `cooks_distance_top`: identical moments,
    leverage/residual formula text, rounded ranking, day tiebreak."""
    return f"""
    WITH ckd_daily AS (
        SELECT {day_sql} AS day,
               CAST(floor(CAST(sum({cents_sql})
                    AS BIGINT) / 100000.0) AS BIGINT) AS y
        FROM {table} GROUP BY 1
    ),
    ckd_d0 AS (SELECT min(day) AS d0 FROM ckd_daily),
    ckd_dd AS (
        SELECT day, y, CAST(date_diff('day', d0, day) AS BIGINT) AS t
        FROM ckd_daily CROSS JOIN ckd_d0
    ),
    ckd_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * y) AS BIGINT) AS sty
        FROM ckd_dd
    ),
    ckd_b AS (
        SELECT *,
               (CAST(n AS DOUBLE) * sty - CAST(st AS DOUBLE) * sy)
                   / (CAST(n AS DOUBLE) * stt - CAST(st AS DOUBLE) * st) AS b
        FROM ckd_dd CROSS JOIN ckd_mom
    ),
    ckd_a AS (
        SELECT *, (sy - b * st) / n AS a,
               ((syy - CAST(sy AS DOUBLE) * sy / n)
                - (sty - CAST(st AS DOUBLE) * sy / n)
                * (sty - CAST(st AS DOUBLE) * sy / n)
                / (stt - CAST(st AS DOUBLE) * st / n)) / (n - 2) AS s2
        FROM ckd_b
    ),
    ckd_eh AS (
        SELECT day, y - a - b * t AS e,
               1.0 / n + (t - CAST(st AS DOUBLE) / n)
               * (t - CAST(st AS DOUBLE) / n)
               / (stt - CAST(st AS DOUBLE) * st / n) AS h,
               s2
        FROM ckd_a
    )
    SELECT day, round(e * e * h / (2 * s2 * (1 - h) * (1 - h)), {dp})
               AS d_stat
    FROM ckd_eh
    ORDER BY d_stat DESC, day
    LIMIT {top_k}
    """


# --------------------------------------------------------------------------
# Cross-group log-log price elasticity (ln only on group means)
# --------------------------------------------------------------------------


def price_elasticity(
    li: DataFrame, part: DataFrame, dp: int = 6
) -> DataFrame:
    """Cross-brand log-log price elasticity of demand: the OLS slope
    of ln(mean quantity per order-line) on ln(mean unit price) across
    part brands — do cheaper brands move proportionally more units
    (elasticity < -1 = elastic)? The economics companion to
    q_price_index (indices track price LEVELS over time; elasticity
    reads the demand RESPONSE across the assortment). Output ONE row:
    (n_groups, elasticity, mean_ln_price).

    ln touches ONLY the <= |brand| group means (exact cents/count
    divisions), quantized to micro-units — so the OLS moments over
    groups are exact BIGINTs and the slope is one fixed double tree,
    rounded ``dp``. No per-row irrational surface anywhere.

    Scale shape (100 TB): one brand-keyed join + aggregate over row
    mass; the regression runs on the brand catalog."""
    per = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.sum(F.floor(F.col("l_extendedprice") * 100 / F.col("l_quantity")))
            .cast("long")
            .alias("price_cents"),
            F.sum(F.col("l_quantity")).cast("long").alias("qty"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
    )
    lp = F.floor(
        F.log(F.col("price_cents").cast("double") / F.col("n_lines"))
        * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    lq = F.floor(
        F.log(F.col("qty").cast("double") / F.col("n_lines")) * 1_000_000
        + F.lit(0.5)
    ).cast("long")
    mom = per.select(lp.alias("x"), lq.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return mom.select(
        F.col("n").alias("n_groups"),
        F.round(
            F.expr(
                "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
                " / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
            ),
            dp,
        ).alias("elasticity"),
        F.round(
            F.expr("CAST(sx AS DOUBLE) / n / 1000000.0"), dp
        ).alias("mean_ln_price"),
    )


def price_elasticity_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `price_elasticity`: identical brand means,
    micro-quantized logs, and slope text."""
    return f"""
    WITH pel_per AS (
        SELECT p_brand,
               CAST(sum(floor(l_extendedprice * 100 / l_quantity))
                    AS BIGINT) AS price_cents,
               CAST(sum(l_quantity) AS BIGINT) AS qty,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    ),
    pel_xy AS (
        SELECT CAST(floor(ln(CAST(price_cents AS DOUBLE) / n_lines)
                          * 1000000 + 0.5) AS BIGINT) AS x,
               CAST(floor(ln(CAST(qty AS DOUBLE) / n_lines)
                          * 1000000 + 0.5) AS BIGINT) AS y
        FROM pel_per
    ),
    pel_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM pel_xy
    )
    SELECT n AS n_groups,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 {dp}) AS elasticity,
           round(CAST(sx AS DOUBLE) / n / 1000000.0, {dp}) AS mean_ln_price
    FROM pel_mom
    """


# --------------------------------------------------------------------------
# Reorder-gap percentiles (exact, from the gap histogram)
# --------------------------------------------------------------------------


def order_gap_percentiles(
    df: DataFrame, unit_col: str, day_col: str, key_col: str
) -> DataFrame:
    """Reorder-cadence distribution: days between a unit's
    consecutive orders, summarized as exact p50/p90 plus the mean —
    the purchase-rhythm readout beside q_interevent_exponential
    (that one fits a model to event gaps; this reads the raw order
    quantiles a replenishment planner acts on). Output ONE row:
    (n_gaps, p50_days, p90_days, mean_days).

    Gaps come from a per-unit lag over (day, key) — key makes the
    order total (the r10 tie lesson); percentiles are
    percentile_disc-style reads off the GAP HISTOGRAM (min gap whose
    cumulative count reaches ceil(q*N)) — gap values are calendar-
    bounded, so no row-sized window exists; the mean is one exact
    division.

    Scale shape (100 TB): one unit-keyed window over row mass (the
    natural per-entity partition), then histogram-sized reads."""
    from pyspark.sql import Window as W

    wu = W.partitionBy(unit_col).orderBy(F.col(day_col), F.col(key_col))
    gaps = (
        df.select(
            F.col(unit_col).alias("u"),
            F.datediff(
                F.col(day_col), F.lag(F.col(day_col)).over(wu)
            ).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
        .groupBy("gap")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # the totals ride the calendar-bounded gap histogram as full-frame
    # window columns (exact BIGINT sums, r13): the histogram is
    # referenced exactly once — no eager localCheckpoint job, no
    # crossJoin; the whole KPI is ONE job
    wg = W.orderBy("gap").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = gaps.select(
        "gap",
        F.sum("c").over(wg).alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum(F.col("gap") * F.col("c")).over(wall).cast("long").alias("s"),
    )
    # both percentile fences fold into ONE aggregate over cum (the
    # monotone-fence collapse, r13): identical min-over-predicate
    # integers, no per-fence re-derivation of the cumulative subtree
    return cum.agg(
        F.max("n").alias("n_gaps"),
        F.min(F.when(F.col("cum") >= F.ceil(F.col("n") / 2), F.col("gap")))
        .cast("long")
        .alias("p50_days"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("n"), F.col("gap")))
        .cast("long")
        .alias("p90_days"),
        (F.max("s").cast("double") / F.max("n")).alias("mean_days"),
    )


def order_gap_oracle_sql(
    table: str, unit_sql: str, day_sql: str, key_sql: str
) -> str:
    """DuckDB mirror of `order_gap_percentiles`: identical per-unit
    lag, gap histogram, and threshold reads."""
    return f"""
    WITH ogp_lag AS (
        SELECT date_diff('day',
                   lag({day_sql}) OVER (PARTITION BY {unit_sql}
                       ORDER BY {day_sql}, {key_sql}),
                   {day_sql}) AS gap
        FROM {table}
    ),
    ogp_hist AS (
        SELECT CAST(gap AS BIGINT) AS gap, CAST(count(*) AS BIGINT) AS c
        FROM ogp_lag WHERE gap IS NOT NULL GROUP BY 1
    ),
    ogp_tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(gap * c) AS BIGINT) AS s
        FROM ogp_hist
    ),
    ogp_cum AS (
        SELECT gap, sum(c) OVER (ORDER BY gap
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, n
        FROM ogp_hist CROSS JOIN ogp_tot
    )
    SELECT n AS n_gaps,
           (SELECT CAST(min(gap) AS BIGINT) FROM ogp_cum
             WHERE cum >= ceil(n / 2)) AS p50_days,
           (SELECT CAST(min(gap) AS BIGINT) FROM ogp_cum
             WHERE 10 * cum >= 9 * n) AS p90_days,
           CAST(s AS DOUBLE) / n AS mean_days
    FROM ogp_tot
    """


# --------------------------------------------------------------------------
# Kendall's W concordance (via pairwise Spearman on normalized ranks)
# --------------------------------------------------------------------------


def kendall_w(
    df: DataFrame, cat_cols: tuple[str, str, str], n_categories: int,
    dp: int = 6,
) -> DataFrame:
    """Kendall's coefficient of concordance W for three ordinal
    raters — DO the raters rank the subjects the same way overall,
    the concordance summary completing the agreement desk (Cohen's =
    2 nominal, weighted = 2 ordinal, Fleiss = n nominal, W = n
    ordinal-by-rank). Uses the identity W = ((k-1)*rho_bar + 1)/k
    over the three pairwise tie-corrected Spearman correlations.
    Output ONE row: (n, rho01, rho02, rho12, w).

    Each rater's tied average rank per category comes off its
    category histogram (avg2 = 2*cum_before + t + 1, an exact
    integer), NORMALIZED to u = avg2/(2n) and quantized to
    micro-units — a <= 3*k-value bounded surface — so the pairwise
    Pearson moments over subjects stay exact BIGINTs at any scale
    (raw rank cross-moments are O(n^3) and overflow; normalized
    micro-ranks cap at 1e6). rho rounds ``dp`` before the W identity.

    Scale shape (100 TB): one triple-histogram aggregate over row
    mass (27 cells); ranks and moments run on the cell relation."""
    from pyspark.sql import Window as W

    c0, c1, c2 = (F.col(c) for c in cat_cols)
    cells = df.groupBy(
        c0.alias("a"), c1.alias("b"), c2.alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    # Every rater's tied average rank is computed IN-ROW over the
    # bounded cell relation (r13): t_x = category total via a
    # cat-partitioned window, cum_before via a RANGE frame (categories
    # are numeric ordinals), n via the full-frame window — all exact
    # BIGINT sums, identical to the old per-rater histogram joins.
    # cells is then referenced exactly ONCE, so the eager
    # localCheckpoint (an extra driver job; the old form ran 17 jobs
    # for this 1-row KPI: 1 ckpt + 3 rank-map aggregates + tot + the
    # broadcast joins) and all four of those subtrees collapse into a
    # single-job window chain over the 27-cell surface.
    wall = W.partitionBy()

    def avg2(col: str):
        wcat = W.partitionBy(col)
        wbelow = W.orderBy(F.col(col).cast("long")).rangeBetween(
            W.unboundedPreceding, -1
        )
        return (
            2 * F.coalesce(F.sum("cnt").over(wbelow), F.lit(0))
            + F.sum("cnt").over(wcat)
            + 1
        )

    j = cells.select(
        "cnt",
        F.sum("cnt").over(wall).cast("long").alias("n"),
        avg2("a").alias("ra"),
        avg2("b").alias("rb"),
        avg2("c").alias("rc"),
    )
    u = lambda nm: F.floor(
        F.col(nm).cast("double") / (2 * F.col("n")) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    ranked = j.select(
        "cnt",
        "n",
        u("ra").alias("ua"),
        u("rb").alias("ub"),
        u("rc").alias("uc"),
    )
    mom = ranked.groupBy("n").agg(
        *[
            F.sum(F.col("cnt") * F.col(x)).cast("long").alias(f"s_{x}")
            for x in ("ua", "ub", "uc")
        ],
        *[
            F.sum(F.col("cnt") * F.col(x) * F.col(x))
            .cast("long")
            .alias(f"q_{x}")
            for x in ("ua", "ub", "uc")
        ],
        F.sum(F.col("cnt") * F.col("ua") * F.col("ub"))
        .cast("long")
        .alias("p_ab"),
        F.sum(F.col("cnt") * F.col("ua") * F.col("uc"))
        .cast("long")
        .alias("p_ac"),
        F.sum(F.col("cnt") * F.col("ub") * F.col("uc"))
        .cast("long")
        .alias("p_bc"),
    )
    def rho(p, x, y):
        return (
            f"round((CAST(n AS DOUBLE) * {p} - CAST(s_{x} AS DOUBLE) * s_{y})"
            f" / sqrt((CAST(n AS DOUBLE) * q_{x} - CAST(s_{x} AS DOUBLE) * s_{x})"
            f" * (CAST(n AS DOUBLE) * q_{y} - CAST(s_{y} AS DOUBLE) * s_{y})),"
            f" {dp})"
        )

    out = (
        mom.withColumn("rho01", F.expr(rho("p_ab", "ua", "ub")))
        .withColumn("rho02", F.expr(rho("p_ac", "ua", "uc")))
        .withColumn("rho12", F.expr(rho("p_bc", "ub", "uc")))
    )
    return out.select(
        "n",
        "rho01",
        "rho02",
        "rho12",
        F.round(
            F.expr("(2 * (rho01 + rho02 + rho12) / 3 + 1) / 3"), dp
        ).alias("w"),
    )


def kendall_w_oracle_sql(
    subjects_sql: str, cat_sqls: tuple[str, str, str], n_categories: int,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `kendall_w`: identical cell histogram, tied
    micro-ranks, pairwise Spearman moments, and the W identity."""
    a, b, c = cat_sqls

    def rho(p, x, y):
        return (
            f"round((CAST(n AS DOUBLE) * {p} - CAST(s_{x} AS DOUBLE) * s_{y})"
            f" / sqrt((CAST(n AS DOUBLE) * q_{x} - CAST(s_{x} AS DOUBLE) * s_{x})"
            f" * (CAST(n AS DOUBLE) * q_{y} - CAST(s_{y} AS DOUBLE) * s_{y})),"
            f" {dp})"
        )

    return f"""
    WITH kdw_subj AS ({subjects_sql}),
    kdw_cells AS (
        SELECT ({a}) AS a, ({b}) AS b, ({c}) AS c,
               CAST(count(*) AS BIGINT) AS cnt
        FROM kdw_subj GROUP BY 1, 2, 3
    ),
    kdw_tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM kdw_cells),
    kdw_ra AS (
        SELECT cat, 2 * cb + t + 1 AS avg2 FROM (
            SELECT a AS cat, CAST(sum(cnt) AS BIGINT) AS t,
                   CAST(COALESCE(sum(sum(cnt)) OVER (ORDER BY a
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cb
            FROM kdw_cells GROUP BY a
        )
    ),
    kdw_rb AS (
        SELECT cat, 2 * cb + t + 1 AS avg2 FROM (
            SELECT b AS cat, CAST(sum(cnt) AS BIGINT) AS t,
                   CAST(COALESCE(sum(sum(cnt)) OVER (ORDER BY b
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cb
            FROM kdw_cells GROUP BY b
        )
    ),
    kdw_rc AS (
        SELECT cat, 2 * cb + t + 1 AS avg2 FROM (
            SELECT c AS cat, CAST(sum(cnt) AS BIGINT) AS t,
                   CAST(COALESCE(sum(sum(cnt)) OVER (ORDER BY c
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                       AS BIGINT) AS cb
            FROM kdw_cells GROUP BY c
        )
    ),
    kdw_ranked AS (
        SELECT cnt, n,
               CAST(floor(CAST(ra.avg2 AS DOUBLE) / (2 * n) * 1000000 + 0.5)
                    AS BIGINT) AS ua,
               CAST(floor(CAST(rb.avg2 AS DOUBLE) / (2 * n) * 1000000 + 0.5)
                    AS BIGINT) AS ub,
               CAST(floor(CAST(rc.avg2 AS DOUBLE) / (2 * n) * 1000000 + 0.5)
                    AS BIGINT) AS uc
        FROM kdw_cells CROSS JOIN kdw_tot
        JOIN kdw_ra ra ON ra.cat = kdw_cells.a
        JOIN kdw_rb rb ON rb.cat = kdw_cells.b
        JOIN kdw_rc rc ON rc.cat = kdw_cells.c
    ),
    kdw_mom AS (
        SELECT n,
               CAST(sum(cnt * ua) AS BIGINT) AS s_ua,
               CAST(sum(cnt * ub) AS BIGINT) AS s_ub,
               CAST(sum(cnt * uc) AS BIGINT) AS s_uc,
               CAST(sum(cnt * ua * ua) AS BIGINT) AS q_ua,
               CAST(sum(cnt * ub * ub) AS BIGINT) AS q_ub,
               CAST(sum(cnt * uc * uc) AS BIGINT) AS q_uc,
               CAST(sum(cnt * ua * ub) AS BIGINT) AS p_ab,
               CAST(sum(cnt * ua * uc) AS BIGINT) AS p_ac,
               CAST(sum(cnt * ub * uc) AS BIGINT) AS p_bc
        FROM kdw_ranked GROUP BY n
    ),
    kdw_rho AS (
        SELECT n,
               {rho("p_ab", "ua", "ub")} AS rho01,
               {rho("p_ac", "ua", "uc")} AS rho02,
               {rho("p_bc", "ub", "uc")} AS rho12
        FROM kdw_mom
    )
    SELECT n, rho01, rho02, rho12,
           round((2 * (rho01 + rho02 + rho12) / 3 + 1) / 3, {dp}) AS w
    FROM kdw_rho
    """


# --------------------------------------------------------------------------
# Stuart-Maxwell marginal homogeneity (3x3, closed-form 2x2 inverse)
# --------------------------------------------------------------------------


def stuart_maxwell(
    df: DataFrame, rater1_col: str, rater2_col: str
) -> DataFrame:
    """Stuart-Maxwell test of marginal homogeneity for two PAIRED
    3-category raters: do the two labelers use the categories at the
    same overall rates (drift in the marginals), regardless of
    per-subject agreement? The k-category generalization of
    q_mcnemar (which only handles 2x2). Output ONE row:
    (n, d0, d1, chi2, dof).

    With k = 3 the statistic reduces to a closed 2x2 inverse over the
    first two marginal differences d_i = row_i - col_i:
        chi2 = (S11 d0^2 - 2 S01 d0 d1 + S00 d1^2)
               / (S00 S11 - S01^2),
        S_ii = row_i + col_i - 2 O_ii,  S_01 = -(O_01 + O_10).
    Every cell, marginal, and product is an exact BIGINT (bounded by
    ~n^3 — fine to ~1e6 subjects, quantize beyond); chi2 is ONE exact
    IEEE division, dof = k-1 = 2.

    Scale shape (100 TB): ONE map-combined aggregate (9 conditional
    cells); the closed form runs on a 1-row relation."""
    r1, r2 = F.col(rater1_col), F.col(rater2_col)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    for i in range(3):
        for jx in range(3):
            aggs.append(
                F.sum(((r1 == i) & (r2 == jx)).cast("long"))
                .cast("long")
                .alias(f"o{i}{jx}")
            )
    mom = df.agg(*aggs)
    pre = (
        mom.withColumn("d0", F.expr("(o00 + o01 + o02) - (o00 + o10 + o20)"))
        .withColumn("d1", F.expr("(o10 + o11 + o12) - (o01 + o11 + o21)"))
        .withColumn(
            "s00", F.expr("(o00 + o01 + o02) + (o00 + o10 + o20) - 2 * o00")
        )
        .withColumn(
            "s11", F.expr("(o10 + o11 + o12) + (o01 + o11 + o21) - 2 * o11")
        )
        .withColumn("s01", F.expr("-(o01 + o10)"))
    )
    return pre.select(
        "n",
        "d0",
        "d1",
        F.expr(
            "CAST(s11 * d0 * d0 - 2 * s01 * d0 * d1 + s00 * d1 * d1"
            " AS DOUBLE) / (s00 * s11 - s01 * s01)"
        ).alias("chi2"),
        F.lit(2).cast("long").alias("dof"),
    )


def stuart_maxwell_oracle_sql(
    subjects_sql: str, r1_sql: str, r2_sql: str
) -> str:
    """DuckDB mirror of `stuart_maxwell`: identical cells and closed
    form."""
    cells = ", ".join(
        f"CAST(sum(CASE WHEN ({r1_sql}) = {i} AND ({r2_sql}) = {j}"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS o{i}{j}"
        for i in range(3)
        for j in range(3)
    )
    return f"""
    WITH smx_subj AS ({subjects_sql}),
    smx_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n, {cells}
        FROM smx_subj
    ),
    smx_pre AS (
        SELECT *,
               (o00 + o01 + o02) - (o00 + o10 + o20) AS d0,
               (o10 + o11 + o12) - (o01 + o11 + o21) AS d1,
               (o00 + o01 + o02) + (o00 + o10 + o20) - 2 * o00 AS s00,
               (o10 + o11 + o12) + (o01 + o11 + o21) - 2 * o11 AS s11,
               -(o01 + o10) AS s01
        FROM smx_mom
    )
    SELECT n, d0, d1,
           CAST(s11 * d0 * d0 - 2 * s01 * d0 * d1 + s00 * d1 * d1
                AS DOUBLE) / (s00 * s11 - s01 * s01) AS chi2,
           CAST(2 AS BIGINT) AS dof
    FROM smx_pre
    """


# --------------------------------------------------------------------------
# Indirect standardization (SMR per stratum, quantized expected mass)
# --------------------------------------------------------------------------


def indirect_standardization(
    df: DataFrame,
    group_col: str,
    stratum_col: str,
    event_col,
    dp: int = 6,
) -> DataFrame:
    """Indirectly standardized event ratios: each group's OBSERVED
    event count against the count EXPECTED if the global per-stratum
    rates applied to its exposure mix — the SMR/epidemiology reading
    of "is this group's rate high, or is its mix just different?"
    (the rate-side sibling of q_stratified_att's mean gaps and
    q_mantel_haenszel's common OR). Output one row per group:
    (g, exposure, observed, expected, smr).

    Per-(group, stratum) exposures and events are exact BIGINTs; the
    global stratum rates are exact divisions; each group's expected
    mass accumulates as micro-quantized BIGINTs (floor(x*1e6 + 0.5)
    per stratum cell — portable under any aggregation tree); SMR
    rounds ``dp``.

    Scale shape (100 TB): one two-key aggregate over row mass; rates
    broadcast on the stratum catalog."""
    cells = df.groupBy(
        F.col(group_col).alias("g"), F.col(stratum_col).alias("s")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("expo"),
        F.sum(event_col).cast("long").alias("ev"),
    )
    # The global stratum rates ride the cell catalog as s-partitioned
    # window sums (r13): the same exact BIGINT sums and the same one
    # double division per stratum, so e6 is bit-identical — and the
    # catalog is referenced exactly once, removing the eager
    # localCheckpoint (an extra driver job) and the rates broadcast
    # join. The window is stratum-keyed (distributed), not global.
    from pyspark.sql import Window as W

    ws = W.partitionBy("s")
    rate = F.sum("ev").over(ws).cast("double") / F.sum("expo").over(ws)
    joined = cells.select(
        "g",
        "expo",
        "ev",
        F.floor(F.col("expo") * rate * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("e6"),
    )
    per = joined.groupBy("g").agg(
        F.sum("expo").cast("long").alias("exposure"),
        F.sum("ev").cast("long").alias("observed"),
        F.sum("e6").cast("long").alias("e6"),
    )
    return per.select(
        "g",
        "exposure",
        "observed",
        F.round(F.col("e6") / F.lit(1_000_000.0), dp).alias("expected"),
        F.round(
            F.col("observed") * F.lit(1_000_000.0) / F.col("e6"), dp
        ).alias("smr"),
    )


def indirect_standardization_oracle_sql(
    table_sql: str, group_sql: str, stratum_sql: str, event_sql: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `indirect_standardization`: identical cells,
    rates, micro-quantized expected mass."""
    return f"""
    WITH ist_cells AS (
        SELECT {group_sql} AS g, {stratum_sql} AS s,
               CAST(count(*) AS BIGINT) AS expo,
               CAST(sum({event_sql}) AS BIGINT) AS ev
        FROM {table_sql}
        GROUP BY 1, 2
    ),
    ist_rates AS (
        SELECT s, CAST(sum(ev) AS DOUBLE) / sum(expo) AS rate
        FROM ist_cells GROUP BY 1
    ),
    ist_joined AS (
        SELECT g, expo, ev,
               CAST(floor(expo * rate * 1000000 + 0.5) AS BIGINT) AS e6
        FROM ist_cells JOIN ist_rates USING (s)
    ),
    ist_per AS (
        SELECT g, CAST(sum(expo) AS BIGINT) AS exposure,
               CAST(sum(ev) AS BIGINT) AS observed,
               CAST(sum(e6) AS BIGINT) AS e6
        FROM ist_joined GROUP BY 1
    )
    SELECT g, exposure, observed,
           round(CAST(e6 AS DOUBLE) / 1000000.0, {dp}) AS expected,
           round(CAST(observed AS DOUBLE) * 1000000.0 / e6, {dp}) AS smr
    FROM ist_per
    """


# --------------------------------------------------------------------------
# Fisher z comparison of two correlations
# --------------------------------------------------------------------------


def fisher_z_corr(
    df: DataFrame,
    group_col: str,
    x_col: str,
    y_col: str,
    group_a,
    group_b,
    dp: int = 6,
) -> DataFrame:
    """Fisher z-test comparing the SAME correlation measured in two
    groups: did the x-y relationship itself change between cohorts —
    the second-order question the correlation matrix can't answer
    (q_correlation_matrix gives each r; this says whether r1 != r2
    is real): z = (atanh(r1) - atanh(r2)) / sqrt(1/(n1-3)+1/(n2-3)),
    atanh(r) = 0.5*ln((1+r)/(1-r)). Output ONE row:
    (n_a, r_a, n_b, r_b, z).

    Per-group Pearson moments are exact BIGINTs; each r rounds ``dp``
    BEFORE atanh, each atanh rounds ``dp``, and z rounds ``dp`` —
    identical operand trees in both engines.

    Scale shape (100 TB): ONE conditional aggregate; the formula
    runs on a 1-row relation."""
    g = F.col(group_col)
    x, y = F.col(x_col), F.col(y_col)

    def gmoms(tag, grp):
        cond = g == grp
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(cond, x)).cast("long").alias(f"sx_{tag}"),
            F.sum(F.when(cond, y)).cast("long").alias(f"sy_{tag}"),
            F.sum(F.when(cond, x * x)).cast("long").alias(f"qx_{tag}"),
            F.sum(F.when(cond, y * y)).cast("long").alias(f"qy_{tag}"),
            F.sum(F.when(cond, x * y)).cast("long").alias(f"p_{tag}"),
        ]

    mom = df.filter(g.isin([group_a, group_b])).agg(
        *gmoms("a", group_a), *gmoms("b", group_b)
    )

    def r(tag):
        return (
            f"round((CAST(n_{tag} AS DOUBLE) * p_{tag}"
            f" - CAST(sx_{tag} AS DOUBLE) * sy_{tag})"
            f" / sqrt((CAST(n_{tag} AS DOUBLE) * qx_{tag}"
            f" - CAST(sx_{tag} AS DOUBLE) * sx_{tag})"
            f" * (CAST(n_{tag} AS DOUBLE) * qy_{tag}"
            f" - CAST(sy_{tag} AS DOUBLE) * sy_{tag})), {dp})"
        )

    out = (
        mom.withColumn("r_a", F.expr(r("a")))
        .withColumn("r_b", F.expr(r("b")))
        .withColumn(
            "za", F.expr(f"round(0.5 * ln((1 + r_a) / (1 - r_a)), {dp})")
        )
        .withColumn(
            "zb", F.expr(f"round(0.5 * ln((1 + r_b) / (1 - r_b)), {dp})")
        )
    )
    return out.select(
        "n_a",
        "r_a",
        "n_b",
        "r_b",
        F.round(
            F.expr(
                "(za - zb) / sqrt(1.0 / (n_a - 3) + 1.0 / (n_b - 3))"
            ),
            dp,
        ).alias("z"),
    )


def fisher_z_oracle_sql(
    table_sql: str,
    group_sql: str,
    x_sql: str,
    y_sql: str,
    ga: str,
    gb: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `fisher_z_corr`: identical moments and
    rounded atanh chain."""
    def gmoms(tag, grp):
        return (
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n_{tag}, "
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN {x_sql} END)"
            f" AS BIGINT) AS sx_{tag}, "
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN {y_sql} END)"
            f" AS BIGINT) AS sy_{tag}, "
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN ({x_sql}) * ({x_sql})"
            f" END) AS BIGINT) AS qx_{tag}, "
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN ({y_sql}) * ({y_sql})"
            f" END) AS BIGINT) AS qy_{tag}, "
            f"CAST(sum(CASE WHEN {group_sql} = {grp} THEN ({x_sql}) * ({y_sql})"
            f" END) AS BIGINT) AS p_{tag}"
        )

    def r(tag):
        return (
            f"round((CAST(n_{tag} AS DOUBLE) * p_{tag}"
            f" - CAST(sx_{tag} AS DOUBLE) * sy_{tag})"
            f" / sqrt((CAST(n_{tag} AS DOUBLE) * qx_{tag}"
            f" - CAST(sx_{tag} AS DOUBLE) * sx_{tag})"
            f" * (CAST(n_{tag} AS DOUBLE) * qy_{tag}"
            f" - CAST(sy_{tag} AS DOUBLE) * sy_{tag})), {dp})"
        )

    return f"""
    WITH fzc_mom AS (
        SELECT {gmoms("a", ga)}, {gmoms("b", gb)}
        FROM {table_sql}
        WHERE {group_sql} IN ({ga}, {gb})
    ),
    fzc_r AS (
        SELECT n_a, n_b, {r("a")} AS r_a, {r("b")} AS r_b FROM fzc_mom
    ),
    fzc_z AS (
        SELECT *,
               round(0.5 * ln((1 + r_a) / (1 - r_a)), {dp}) AS za,
               round(0.5 * ln((1 + r_b) / (1 - r_b)), {dp}) AS zb
        FROM fzc_r
    )
    SELECT n_a, r_a, n_b, r_b,
           round((za - zb) / sqrt(1.0 / (n_a - 3) + 1.0 / (n_b - 3)), {dp})
               AS z
    FROM fzc_z
    """


# --------------------------------------------------------------------------
# Variance-ratio random-walk test (exact lag-difference moments)
# --------------------------------------------------------------------------


def variance_ratio(
    df: DataFrame, day_col: str, cents_col, ks: tuple[int, ...] = (2, 5, 10),
    dp: int = 6,
) -> DataFrame:
    """Lo-MacKinlay variance-ratio statistics of the daily series:
    VR(k) = Var(k-day change) / (k * Var(1-day change)) — the
    random-walk diagnostic (VR ~ 1 = random walk; < 1 mean-reverting;
    > 1 trending) beside q_autocorrelation/q_pacf's correlation view.
    Output one row per k: (k, n_diffs, vr).

    k-day changes come from lag-k windows over the CALENDAR-FILLED
    day grid (k$ value grain); their centered second moments are
    exact BIGINT combinations in fixed double trees; vr rounds
    ``dp``.

    Scale shape (100 TB): one map-combined day aggregate; lags and
    moments run on the day grid."""
    from pyspark.sql import Window as W

    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.sum(cents_col).cast("long").alias("cents")
    )
    span = daily0.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = span.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("day")
    )
    daily = (
        cal.join(daily0, "day", "left")
        .select(
            "day",
            F.floor(F.coalesce(F.col("cents"), F.lit(0)) / F.lit(100000.0))
            .cast("long")
            .alias("y"),
        )
        .transform(hold)  # calendar-filled grid; feeds every lag
    )
    wd = W.orderBy("day")  # one row per calendar day
    lags = [1] + [k for k in ks if k != 1]
    lagged = daily.select(
        "y", *[F.lag("y", k).over(wd).alias(f"y{k}") for k in lags]
    )
    aggs = []
    for k in lags:
        d = F.col("y") - F.col(f"y{k}")
        nn = F.col(f"y{k}").isNotNull()
        aggs += [
            F.sum(F.when(nn, d)).cast("long").alias(f"sd{k}"),
            F.sum(F.when(nn, d * d)).cast("long").alias(f"qd{k}"),
            F.sum(nn.cast("long")).cast("long").alias(f"nd{k}"),
        ]
    mom = lagged.agg(*aggs)
    rows = []
    for k in ks:
        vr = (
            f"round(((qd{k} - CAST(sd{k} AS DOUBLE) * sd{k} / nd{k}) / nd{k})"
            f" / ({k} * ((qd1 - CAST(sd1 AS DOUBLE) * sd1 / nd1) / nd1)),"
            f" {dp})"
        )
        rows.append(
            mom.select(
                F.lit(k).cast("long").alias("k"),
                F.col(f"nd{k}").alias("n_diffs"),
                F.expr(vr).alias("vr"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def variance_ratio_oracle_sql(
    table: str, day_sql: str, cents_sql: str,
    ks: tuple[int, ...] = (2, 5, 10), dp: int = 6,
) -> str:
    """DuckDB mirror of `variance_ratio`: identical fill, lags, and
    centered-moment ratio text."""
    lags = [1] + [k for k in ks if k != 1]
    lag_cols = ", ".join(
        f"lag(y, {k}) OVER (ORDER BY day) AS y{k}" for k in lags
    )
    moms = ", ".join(
        f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN y - y{k} END) AS BIGINT)"
        f" AS sd{k}, "
        f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN (y - y{k}) * (y - y{k})"
        f" END) AS BIGINT) AS qd{k}, "
        f"CAST(sum(CASE WHEN y{k} IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS nd{k}"
        for k in lags
    )
    selects = "\n    UNION ALL\n    ".join(
        f"SELECT CAST({k} AS BIGINT) AS k, nd{k} AS n_diffs,"
        f" round(((qd{k} - CAST(sd{k} AS DOUBLE) * sd{k} / nd{k}) / nd{k})"
        f" / ({k} * ((qd1 - CAST(sd1 AS DOUBLE) * sd1 / nd1) / nd1)),"
        f" {dp}) AS vr FROM vrt_mom"
        for k in ks
    )
    return f"""
    WITH vrt_daily0 AS (
        SELECT {day_sql} AS day, CAST(sum({cents_sql}) AS BIGINT) AS cents
        FROM {table} GROUP BY 1
    ),
    vrt_span AS (SELECT min(day) AS d0, max(day) AS d1 FROM vrt_daily0),
    vrt_cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM vrt_span
    ),
    vrt_daily AS (
        SELECT c.day,
               CAST(floor(COALESCE(d.cents, 0) / 100000.0) AS BIGINT) AS y
        FROM vrt_cal c LEFT JOIN vrt_daily0 d ON c.day = d.day
    ),
    vrt_lag AS (
        SELECT y, {lag_cols} FROM vrt_daily
    ),
    vrt_mom AS (
        SELECT {moms} FROM vrt_lag
    )
    {selects}
    """


# --------------------------------------------------------------------------
# Hurst exponent via rescaled range (literal ln(s) grid)
# --------------------------------------------------------------------------


def hurst_rs(
    df: DataFrame, day_col: str, sizes: tuple[int, ...] = (8, 16, 32, 64),
    dp: int = 6,
) -> DataFrame:
    """Hurst exponent of the daily row-count series by rescaled-range
    analysis: slope of mean ln(R/S) on ln(window size) — the
    LONG-memory diagnostic (H ~ 0.5 random, > 0.5 persistent,
    < 0.5 anti-persistent) beside the short-lag ACF/variance-ratio
    views. Output ONE row: (n_days, n_blocks, hurst).

    Per size s, full blocks of the calendar grid get their
    within-block cumulative deviations as exact micro-quantized
    BIGINTs (range R includes the 0 baseline), S from exact block
    moments; ln(R/S) quantizes per block (block count is
    calendar-bounded) and ln(s) rides in as Python-built literals
    (the trig-table discipline). The final slope is an OLS over the
    size grid with exact micro moments, rounded ``dp``.

    Scale shape (100 TB): one map-combined day aggregate; blocks,
    ranges, and the fit run on the bounded day grid."""
    import math

    from pyspark.sql import Window as W

    spark = df.sparkSession
    from celeborn_spark.operators import values_table

    lns = values_table(
        spark,
        [(s, int(math.floor(math.log(s) * 1_000_000 + 0.5))) for s in sizes],
        "s long, lns6 long",
    )
    daily0 = df.groupBy(F.col(day_col).alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    span = daily0.agg(F.min("day").alias("d0"))
    cal = daily0.crossJoin(F.broadcast(span)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        F.col("m").alias("y"),
    )
    # observed-day grid indexed by t; missing days simply shorten runs
    grid = cal.transform(hold)
    nt = grid.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    blocks = (
        grid.crossJoin(F.broadcast(lns))
        .select(
            "s",
            "lns6",
            "t",
            "y",
            F.floor(F.col("t") / F.col("s")).cast("long").alias("blk"),
        )
    )
    bstats = blocks.groupBy("s", "lns6", "blk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("qy"),
    )
    full = bstats.filter(F.col("cnt") == F.col("s"))
    # within-block cumulative deviation walk (block length <= max(sizes))
    wb = W.partitionBy("s", "blk").orderBy("t")
    dev = (
        blocks.join(
            full.select("s", "blk", "sy", "qy"), ["s", "blk"], "inner"
        )
        .withColumn(
            "d6",
            F.floor(
                (F.col("y") - F.col("sy").cast("double") / F.col("s"))
                * 1_000_000
                + F.lit(0.5)
            ).cast("long"),
        )
        .withColumn(
            "cum", F.sum("d6").over(wb.rowsBetween(W.unboundedPreceding, 0))
        )
    )
    ranges = dev.groupBy("s", "lns6", "blk", "sy", "qy").agg(
        (
            F.greatest(F.max("cum"), F.lit(0))
            - F.least(F.min("cum"), F.lit(0))
        ).alias("r6")
    )
    lrs = ranges.select(
        "s",
        "lns6",
        F.expr(
            "CAST(floor(ln((r6 / 1000000.0)"
            " / sqrt((qy - CAST(sy AS DOUBLE) * sy / s) / s))"
            " * 1000000 + 0.5) AS BIGINT)"
        ).alias("l6"),
        F.expr("qy - CAST(sy AS DOUBLE) * sy / s").alias("ssq"),
        "r6",
    ).filter((F.col("ssq") > 0) & (F.col("r6") > 0))
    per_size = lrs.groupBy("s", "lns6").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("l6").cast("long").alias("sl6"),
    )
    fit = per_size.select(
        "nb",
        F.col("lns6").alias("x"),
        F.floor(F.col("sl6").cast("double") / F.col("nb") + F.lit(0.5))
        .cast("long")
        .alias("yv"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("yv")).cast("long").alias("sxy"),
        F.sum("nb").cast("long").alias("n_blocks"),
    )
    return fit.crossJoin(F.broadcast(nt)).select(
        "n_days",
        "n_blocks",
        F.expr(
            # degenerate size grids (sparse calendars leave < 2 sizes
            # with full blocks) yield NULL rather than 0/0
            f"CASE WHEN np >= 2"
            f" AND CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0"
            f" THEN round((CAST(np AS DOUBLE) * sxy"
            f" - CAST(sx AS DOUBLE) * sy)"
            f" / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),"
            f" {dp}) END"
        ).alias("hurst"),
    )


def hurst_oracle_sql(
    table: str, day_sql: str, sizes: tuple[int, ...] = (8, 16, 32, 64),
    dp: int = 6,
) -> str:
    """DuckDB mirror of `hurst_rs`: identical block walks and the
    SAME Python-built ln(s) literals."""
    import math

    vals = ", ".join(
        f"({s}, {int(math.floor(math.log(s) * 1_000_000 + 0.5))})"
        for s in sizes
    )
    return f"""
    WITH hst_lns(s, lns6) AS (VALUES {vals}),
    hst_daily0 AS (
        SELECT {day_sql} AS day, CAST(count(*) AS BIGINT) AS m
        FROM {table} GROUP BY 1
    ),
    hst_span AS (SELECT min(day) AS d0 FROM hst_daily0),
    hst_grid AS (
        SELECT CAST(date_diff('day', d0, day) AS BIGINT) AS t, m AS y
        FROM hst_daily0 CROSS JOIN hst_span
    ),
    hst_nt AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM hst_grid),
    hst_blocks AS (
        SELECT s, lns6, t, y, CAST(floor(t / s) AS BIGINT) AS blk
        FROM hst_grid CROSS JOIN hst_lns
    ),
    hst_bstats AS (
        SELECT s, lns6, blk, CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(y * y) AS BIGINT) AS qy
        FROM hst_blocks GROUP BY 1, 2, 3
    ),
    hst_dev AS (
        SELECT b.s, b.lns6, b.blk, f.sy, f.qy,
               sum(CAST(floor((b.y - CAST(f.sy AS DOUBLE) / b.s)
                              * 1000000 + 0.5) AS BIGINT))
                   OVER (PARTITION BY b.s, b.blk ORDER BY b.t
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM hst_blocks b
        JOIN (SELECT s, blk, sy, qy FROM hst_bstats WHERE cnt = s) f
          ON b.s = f.s AND b.blk = f.blk
    ),
    hst_ranges AS (
        SELECT s, lns6, blk, sy, qy,
               greatest(max(cum), 0) - least(min(cum), 0) AS r6
        FROM hst_dev GROUP BY 1, 2, 3, 4, 5
    ),
    hst_lrs AS (
        SELECT s, lns6,
               CAST(floor(ln((r6 / 1000000.0)
                    / sqrt((qy - CAST(sy AS DOUBLE) * sy / s) / s))
                    * 1000000 + 0.5) AS BIGINT) AS l6
        FROM hst_ranges
        WHERE qy - CAST(sy AS DOUBLE) * sy / s > 0 AND r6 > 0
    ),
    hst_per AS (
        SELECT s, lns6, CAST(count(*) AS BIGINT) AS nb,
               CAST(sum(l6) AS BIGINT) AS sl6
        FROM hst_lrs GROUP BY 1, 2
    ),
    hst_xy AS (
        SELECT nb, CAST(lns6 AS BIGINT) AS x,
               CAST(floor(CAST(sl6 AS DOUBLE) / nb + 0.5) AS BIGINT) AS yv
        FROM hst_per
    ),
    hst_fit AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(yv) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * yv) AS BIGINT) AS sxy,
               CAST(sum(nb) AS BIGINT) AS n_blocks
        FROM hst_xy
    )
    SELECT n_days, n_blocks,
           CASE WHEN np >= 2
                AND CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                THEN round((CAST(np AS DOUBLE) * sxy
                            - CAST(sx AS DOUBLE) * sy)
                           / (CAST(np AS DOUBLE) * sxx
                              - CAST(sx AS DOUBLE) * sx), {dp}) END AS hurst
    FROM hst_fit CROSS JOIN hst_nt
    """


# --------------------------------------------------------------------------
# Logistic adoption-curve fit (linearized, capped at 1.05 * N_max)
# --------------------------------------------------------------------------


def logistic_growth(df: DataFrame, day_col: str, unit_col: str, dp: int = 6) -> DataFrame:
    """Logistic (S-curve) fit of cumulative adoption: first-touch
    days build the cumulative adopter curve N_d, capped at
    m = ceil(1.05 * N_max) (the standard linearization convention),
    and ln(N/(m-N)) regresses on the day index — growth rate r and
    midpoint t0 = -a/r fall out of the line. The adoption-forecast
    companion to q_user_growth's raw curve (WHEN does growth
    saturate?). Output ONE row: (n_days, m_cap, r_rate, t0_day).

    Adopters-per-day and the cumulative N are exact BIGINTs on the
    calendar-bounded first-touch grid; the logit transform quantizes
    to micro-units per day (bounded irrational surface), and the OLS
    moments over days are exact BIGINTs; r and t0 round ``dp``.

    Scale shape (100 TB): one per-unit min aggregate over row mass;
    curve, transform, and fit run on the day grid."""
    from pyspark.sql import Window as W

    firsts = df.groupBy(F.col(unit_col).alias("u")).agg(
        F.min(F.col(day_col)).alias("fday")
    )
    span = firsts.agg(F.min("fday").alias("d0"))
    daily = (
        firsts.crossJoin(F.broadcast(span))
        .groupBy(
            F.datediff(F.col("fday"), F.col("d0")).cast("long").alias("t")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("a"))
        .transform(hold)  # first-touch day grid (calendar-bounded)
    )
    wt = W.orderBy("t").rowsBetween(W.unboundedPreceding, 0)
    curve = daily.select(
        "t", F.sum("a").over(wt).cast("long").alias("nn")
    )
    # cap/n_days ride the bounded day curve as full-frame window
    # columns (identical expression trees on identical longs, r13):
    # curve is referenced exactly once — no cap aggregate + crossJoin
    wall = W.partitionBy()
    z = (
        curve.select(
            "t",
            "nn",
            F.ceil(F.max("nn").over(wall) * F.lit(1.05))
            .cast("long")
            .alias("m"),
            F.count(F.lit(1)).over(wall).cast("long").alias("n_days"),
        )
        .filter((F.col("nn") > 0) & (F.col("nn") < F.col("m")))
        .select(
            "m",
            "n_days",
            "t",
            F.floor(
                F.log(
                    F.col("nn").cast("double") / (F.col("m") - F.col("nn"))
                )
                * 1_000_000
                + F.lit(0.5)
            )
            .cast("long")
            .alias("z6"),
        )
    )
    mom = z.groupBy("m", "n_days").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("t").cast("long").alias("st"),
        F.sum("z6").cast("long").alias("sz"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("z6")).cast("long").alias("stz"),
    )
    return mom.select(
        "n_days",
        F.col("m").alias("m_cap"),
        F.round(
            F.expr(
                "(CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)"
                " / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
                " / 1000000.0"
            ),
            dp,
        ).alias("r_rate"),
        F.round(
            F.expr(
                "-((CAST(sz AS DOUBLE) / np"
                "   - ((CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)"
                "      / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st))"
                "     * st / np) / 1000000.0)"
                " / ((CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)"
                "    / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)"
                "    / 1000000.0)"
            ),
            dp,
        ).alias("t0_day"),
    )


def logistic_growth_oracle_sql(
    table: str, unit_sql: str, day_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `logistic_growth`: identical curve, cap,
    micro logit, and slope/midpoint text."""
    return f"""
    WITH lgr_firsts AS (
        SELECT {unit_sql} AS u, min({day_sql}) AS fday
        FROM {table} GROUP BY 1
    ),
    lgr_span AS (SELECT min(fday) AS d0 FROM lgr_firsts),
    lgr_daily AS (
        SELECT CAST(date_diff('day', d0, fday) AS BIGINT) AS t,
               CAST(count(*) AS BIGINT) AS a
        FROM lgr_firsts CROSS JOIN lgr_span
        GROUP BY 1
    ),
    lgr_curve AS (
        SELECT t, CAST(sum(a) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS nn
        FROM lgr_daily
    ),
    lgr_cap AS (
        SELECT CAST(ceil(max(nn) * 1.05) AS BIGINT) AS m,
               CAST(count(*) AS BIGINT) AS n_days
        FROM lgr_curve
    ),
    lgr_z AS (
        SELECT m, n_days, t,
               CAST(floor(ln(CAST(nn AS DOUBLE) / (m - nn)) * 1000000 + 0.5)
                    AS BIGINT) AS z6
        FROM lgr_curve CROSS JOIN lgr_cap
        WHERE nn > 0 AND nn < m
    ),
    lgr_mom AS (
        SELECT m, n_days,
               CAST(count(*) AS BIGINT) AS np,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(z6) AS BIGINT) AS sz,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * z6) AS BIGINT) AS stz
        FROM lgr_z GROUP BY 1, 2
    )
    SELECT n_days, m AS m_cap,
           round((CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)
                 / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                 / 1000000.0, {dp}) AS r_rate,
           round(-((CAST(sz AS DOUBLE) / np
                    - ((CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)
                       / (CAST(np AS DOUBLE) * stt
                          - CAST(st AS DOUBLE) * st))
                      * st / np) / 1000000.0)
                 / ((CAST(np AS DOUBLE) * stz - CAST(st AS DOUBLE) * sz)
                    / (CAST(np AS DOUBLE) * stt - CAST(st AS DOUBLE) * st)
                    / 1000000.0), {dp}) AS t0_day
    FROM lgr_mom
    """


# --------------------------------------------------------------------------
# Customer growth accounting (new / retained / resurrected / churned)
# --------------------------------------------------------------------------


def growth_accounting(
    df: DataFrame, unit_col: str, day_col: str
) -> DataFrame:
    """Monthly growth accounting of active units: every
    active-month decomposes into NEW (first month ever), RETAINED
    (also active last month), or RESURRECTED (active before, skipped
    last month), and CHURNED counts last month's actives who left —
    the growth-decomposition readout behind every "up and to the
    right" chart (q_user_growth shows the total; this says WHY it
    moved). Output one row per month index (calendar-bounded):
    (month_idx, new_units, retained, resurrected, churned).

    All exact integer counts over the deduplicated (unit, month)
    activity relation; the per-unit lag/lead windows ride the
    natural entity partition with a unique month key.

    Scale shape (100 TB): one two-key dedup aggregate over row mass;
    windows per unit; the output is the month catalog."""
    from pyspark.sql import Window as W

    span = df.agg(F.min(F.col(day_col)).alias("d0"))
    um = (
        df.crossJoin(F.broadcast(span))
        .select(
            F.col(unit_col).alias("u"),
            (
                (F.year(F.col(day_col)) - F.year("d0")) * 12
                + (F.month(F.col(day_col)) - F.month("d0"))
            )
            .cast("long")
            .alias("mi"),
        )
        .distinct()
        .transform(hold)  # (unit, month) activity; feeds both windows
    )
    wu = W.partitionBy("u").orderBy("mi")
    maxm = um.agg(F.max("mi").alias("max_mi"))
    flagged = um.select(
        "u",
        "mi",
        F.lag("mi").over(wu).alias("prev"),
        F.lead("mi").over(wu).alias("nxt"),
    )
    status = flagged.select(
        "mi",
        F.when(F.col("prev").isNull(), 1).otherwise(0).alias("is_new"),
        F.when(F.col("prev") == F.col("mi") - 1, 1)
        .otherwise(0)
        .alias("is_retained"),
        F.when(
            F.col("prev").isNotNull() & (F.col("prev") < F.col("mi") - 1), 1
        )
        .otherwise(0)
        .alias("is_resurrected"),
    )
    per_month = status.groupBy("mi").agg(
        F.sum("is_new").cast("long").alias("new_units"),
        F.sum("is_retained").cast("long").alias("retained"),
        F.sum("is_resurrected").cast("long").alias("resurrected"),
    )
    churn = (
        flagged.crossJoin(F.broadcast(maxm))
        .filter(
            (F.col("nxt").isNull() | (F.col("nxt") > F.col("mi") + 1))
            & (F.col("mi") < F.col("max_mi"))
        )
        .groupBy((F.col("mi") + 1).alias("mi"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    return (
        per_month.join(churn, "mi", "left")
        .select(
            F.col("mi").alias("month_idx"),
            "new_units",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).cast("long").alias("churned"),
        )
    )


def growth_accounting_oracle_sql(
    table: str, unit_sql: str, day_sql: str
) -> str:
    """DuckDB mirror of `growth_accounting`: identical month index,
    activity dedup, lag/lead status flags, and churn attribution."""
    return f"""
    WITH gac_span AS (SELECT min({day_sql}) AS d0 FROM {table}),
    gac_um AS (
        SELECT DISTINCT {unit_sql} AS u,
               CAST((year({day_sql}) - year(d0)) * 12
                    + (month({day_sql}) - month(d0)) AS BIGINT) AS mi
        FROM {table} CROSS JOIN gac_span
    ),
    gac_max AS (SELECT max(mi) AS max_mi FROM gac_um),
    gac_flag AS (
        SELECT u, mi,
               lag(mi) OVER (PARTITION BY u ORDER BY mi) AS prev,
               lead(mi) OVER (PARTITION BY u ORDER BY mi) AS nxt
        FROM gac_um
    ),
    gac_per AS (
        SELECT mi,
               CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS new_units,
               CAST(sum(CASE WHEN prev = mi - 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS retained,
               CAST(sum(CASE WHEN prev IS NOT NULL AND prev < mi - 1
                             THEN 1 ELSE 0 END) AS BIGINT) AS resurrected
        FROM gac_flag GROUP BY 1
    ),
    gac_churn AS (
        SELECT mi + 1 AS mi, CAST(count(*) AS BIGINT) AS churned
        FROM gac_flag CROSS JOIN gac_max
        WHERE (nxt IS NULL OR nxt > mi + 1) AND mi < max_mi
        GROUP BY 1
    )
    SELECT p.mi AS month_idx, p.new_units, p.retained, p.resurrected,
           CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned
    FROM gac_per p LEFT JOIN gac_churn c ON p.mi = c.mi
    """


# --------------------------------------------------------------------------
# Jonckheere-Terpstra ordered-alternative trend (doubled-integer U's)
# --------------------------------------------------------------------------


def jonckheere_terpstra(
    df: DataFrame, ord_col: str, value_col: str, dp: int = 6
) -> DataFrame:
    """Jonckheere-Terpstra test for an ORDERED alternative: do the
    group distributions shift monotonically with the group's a-priori
    order (dose-response across priority/severity levels)? Kruskal-
    Wallis asks "any difference"; JT asks the directional question
    and gains power when the order is real. J = sum over ordered
    pairs of Mann-Whitney U's. Output ONE row:
    (n, j2_stat, e2_mean, z).

    Histogram-exact: the (group x value) grid is bounded by
    |groups| x |distinct values|; per-group cumulative-before counts
    come from group-partitioned windows over the grid, and every
    pairwise U doubles into the exact BIGINT
    U2 = sum_v n_jv * (2*cb_iv + n_iv). The z uses the no-tie
    variance (n^2(2n+3) - sum n_i^2(2n_i+3))/72 (documented
    approximation under heavy ties) and rounds ``dp``.

    Scale shape (100 TB): one two-key histogram aggregate over row
    mass; pairs run on the bounded grid."""
    from pyspark.sql import Window as W

    hist = df.groupBy(
        F.col(ord_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bounded grid relation referenced 4x (vals/grps/grid/sizes)
    hist = hist.transform(hold)
    vals = hist.select("v").distinct()
    grps = hist.select("g").distinct()
    grid = (
        grps.crossJoin(vals)
        .join(hist, ["g", "v"], "left")
        .select("g", "v", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    wg = W.partitionBy("g").orderBy("v").rowsBetween(
        W.unboundedPreceding, -1
    )
    # The grid is referenced twice (pair i/j sides); recomputing it per
    # side measured +0.3 s (r14, in-session warm reps), so it is held.
    cumg = grid.select(
        "g", "v", "c", F.coalesce(F.sum("c").over(wg), F.lit(0)).alias("cb")
    ).transform(hold)  # bounded (groups x values) grid, used twice
    pairs = (
        cumg.alias("i")
        .join(cumg.alias("j"), F.col("i.v") == F.col("j.v"))
        .filter(F.col("i.g") < F.col("j.g"))
        .agg(
            F.sum(
                F.col("j.c") * (2 * F.col("i.cb") + F.col("i.c"))
            )
            .cast("long")
            .alias("j2_stat")
        )
    )
    sizes = hist.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    mom = sizes.agg(
        F.sum("ng").cast("long").alias("n"),
        F.sum(F.col("ng") * F.col("ng")).cast("long").alias("sn2"),
        F.sum(
            F.col("ng") * F.col("ng") * (2 * F.col("ng") + 3)
        )
        .cast("long")
        .alias("sn23"),
    )
    return pairs.crossJoin(F.broadcast(mom)).select(
        "n",
        "j2_stat",
        F.expr("(CAST(n AS DOUBLE) * n - sn2) / 2").alias("e2_mean"),
        F.round(
            F.expr(
                "(j2_stat - (CAST(n AS DOUBLE) * n - sn2) / 2) / 2"
                " / sqrt((CAST(n AS DOUBLE) * n * (2 * n + 3) - sn23)"
                "        / 72)"
            ),
            dp,
        ).alias("z"),
    )


def jonckheere_oracle_sql(
    table: str, ord_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `jonckheere_terpstra`: identical grid,
    doubled U's, and no-tie variance text."""
    return f"""
    WITH jt_hist AS (
        SELECT {ord_sql} AS g, {value_sql} AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    jt_grid AS (
        SELECT gs.g, vs.v, CAST(COALESCE(h.c, 0) AS BIGINT) AS c
        FROM (SELECT DISTINCT g FROM jt_hist) gs
        CROSS JOIN (SELECT DISTINCT v FROM jt_hist) vs
        LEFT JOIN jt_hist h ON h.g = gs.g AND h.v = vs.v
    ),
    jt_cum AS (
        SELECT g, v, c,
               CAST(COALESCE(sum(c) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cb
        FROM jt_grid
    ),
    jt_pairs AS (
        SELECT CAST(sum(j.c * (2 * i.cb + i.c)) AS BIGINT) AS j2_stat
        FROM jt_cum i JOIN jt_cum j ON i.v = j.v AND i.g < j.g
    ),
    jt_sizes AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM jt_hist GROUP BY 1
    ),
    jt_mom AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(sum(ng * ng) AS BIGINT) AS sn2,
               CAST(sum(ng * ng * (2 * ng + 3)) AS BIGINT) AS sn23
        FROM jt_sizes
    )
    SELECT n, j2_stat,
           (CAST(n AS DOUBLE) * n - sn2) / 2 AS e2_mean,
           round((j2_stat - (CAST(n AS DOUBLE) * n - sn2) / 2) / 2
                 / sqrt((CAST(n AS DOUBLE) * n * (2 * n + 3) - sn23)
                        / 72), {dp}) AS z
    FROM jt_pairs CROSS JOIN jt_mom
    """


# --------------------------------------------------------------------------
# Dunn post-hoc pairwise rank test (pooled histogram ranks)
# --------------------------------------------------------------------------


def dunn_test(df: DataFrame, group_col: str, value_col: str, dp: int = 6) -> DataFrame:
    """Dunn's post-hoc test: which PAIRS of groups differ, after
    q_kruskal_wallis' omnibus says some do — pairwise z's on pooled
    mean ranks with the tie-corrected variance. Output one row per
    pair: (g_a, g_b, n_a, n_b, z).

    Pooled doubled avg-ranks come off the value histogram
    (avg2 = 2*cum_before + t + 1); per-group doubled rank sums are
    exact BIGINTs; sigma^2 = (N(N+1)/12 - tie_sum/(12(N-1))) with
    tie_sum = sum(t^3 - t) per distinct value — t^3 must fit int64
    (fine to ~2e6 rows per distinct value; quantize the value grain
    beyond). z rounds ``dp``.

    Scale shape (100 TB): one two-key histogram aggregate; ranks and
    pairs run on the bounded (groups x values) grid."""
    from pyspark.sql import Window as W

    hist = df.groupBy(
        F.col(group_col).alias("g"), F.col(value_col).alias("v")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bounded histogram referenced by the pooled ranks AND group sums
    hist = hist.transform(hold)
    pooled = hist.groupBy("v").agg(F.sum("c").cast("long").alias("t"))
    # pooled DISTINCT-value histogram (bounded)
    wv = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    pooled = pooled.select(
        "v",
        "t",
        (
            2 * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1
        ).alias("avg2"),
    )
    tots = pooled.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_sum"),
    )
    # gr is self-joined for pairs but derives ONLY from the bounded
    # checkpointed hist — each side's recompute is a few-hundred-row
    # join + agg, cheaper than the former eager localCheckpoint's
    # driver-blocking job (r14).
    gr = (
        hist.join(pooled.select("v", "avg2"), "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("ng"),
            F.sum(F.col("c") * F.col("avg2")).cast("long").alias("r2"),
        )
    )
    pairs = (
        gr.alias("a")
        .join(gr.alias("b"), F.col("a.g") < F.col("b.g"))
        .crossJoin(F.broadcast(tots))
        .select(
            F.col("a.g").alias("g_a"),
            F.col("b.g").alias("g_b"),
            F.col("a.ng").alias("n_a"),
            F.col("b.ng").alias("n_b"),
            F.col("a.r2").alias("r2a"),
            F.col("b.r2").alias("r2b"),
            "n",
            "tie_sum",
        )
    )
    return pairs.select(
        "g_a",
        "g_b",
        "n_a",
        "n_b",
        F.round(
            F.expr(
                "(CAST(r2a AS DOUBLE) / (2 * n_a)"
                " - CAST(r2b AS DOUBLE) / (2 * n_b))"
                " / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12"
                "         - tie_sum / (12.0 * (n - 1)))"
                "        * (1.0 / n_a + 1.0 / n_b))"
            ),
            dp,
        ).alias("z"),
    )


def dunn_oracle_sql(
    table: str, group_sql: str, value_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `dunn_test`: identical pooled ranks, tie
    correction, and pairwise z text."""
    return f"""
    WITH dnn_hist AS (
        SELECT {group_sql} AS g, {value_sql} AS v,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    dnn_pooled AS (
        SELECT v, t,
               2 * CAST(COALESCE(sum(t) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) + t + 1 AS avg2
        FROM (SELECT v, CAST(sum(c) AS BIGINT) AS t FROM dnn_hist GROUP BY 1)
    ),
    dnn_tots AS (
        SELECT CAST(sum(t) AS BIGINT) AS n,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie_sum
        FROM dnn_pooled
    ),
    dnn_gr AS (
        SELECT g, CAST(sum(c) AS BIGINT) AS ng,
               CAST(sum(c * avg2) AS BIGINT) AS r2
        FROM dnn_hist h JOIN dnn_pooled p ON h.v = p.v
        GROUP BY 1
    )
    SELECT a.g AS g_a, b.g AS g_b, a.ng AS n_a, b.ng AS n_b,
           round((CAST(a.r2 AS DOUBLE) / (2 * a.ng)
                  - CAST(b.r2 AS DOUBLE) / (2 * b.ng))
                 / sqrt((CAST(n AS DOUBLE) * (n + 1) / 12
                         - tie_sum / (12.0 * (n - 1)))
                        * (1.0 / a.ng + 1.0 / b.ng)), {dp}) AS z
    FROM dnn_gr a JOIN dnn_gr b ON a.g < b.g
    CROSS JOIN dnn_tots
    """


# --------------------------------------------------------------------------
# Partial correlations (closed form over 6dp pairwise r's)
# --------------------------------------------------------------------------


def partial_correlation(
    df: DataFrame, item_cols: tuple[str, str, str], dp: int = 6
) -> DataFrame:
    """First-order partial correlations among three integer items:
    r_xy.z = (r_xy - r_xz r_yz) / sqrt((1-r_xz^2)(1-r_yz^2)) — does
    the x-y link survive once z is held fixed, the confounder-
    controlled reading the raw matrix can't give (the correlation
    sibling of q_vif's redundancy view, same moment machinery).
    Output ONE row: (n, r01_g2, r02_g1, r12_g0).

    Exact BIGINT moments (including cross products); pairwise r's
    round ``dp`` BEFORE the closed form; partials round ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate."""
    c0, c1, c2 = (F.col(c) for c in item_cols)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(c0).cast("long").alias("s0"),
        F.sum(c1).cast("long").alias("s1"),
        F.sum(c2).cast("long").alias("s2"),
        F.sum(c0 * c0).cast("long").alias("q0"),
        F.sum(c1 * c1).cast("long").alias("q1"),
        F.sum(c2 * c2).cast("long").alias("q2"),
        F.sum(c0 * c1).cast("long").alias("s01"),
        F.sum(c0 * c2).cast("long").alias("s02"),
        F.sum(c1 * c2).cast("long").alias("s12"),
    )

    def corr(i, j):
        return (
            f"round((CAST(n AS DOUBLE) * s{i}{j}"
            f" - CAST(s{i} AS DOUBLE) * s{j})"
            f" / sqrt((CAST(n AS DOUBLE) * q{i} - CAST(s{i} AS DOUBLE) * s{i})"
            f" * (CAST(n AS DOUBLE) * q{j} - CAST(s{j} AS DOUBLE) * s{j})),"
            f" {dp})"
        )

    out = (
        mom.withColumn("r01", F.expr(corr(0, 1)))
        .withColumn("r02", F.expr(corr(0, 2)))
        .withColumn("r12", F.expr(corr(1, 2)))
    )

    def part(xy, xz, yz):
        return (
            f"round(({xy} - {xz} * {yz})"
            f" / sqrt((1 - {xz} * {xz}) * (1 - {yz} * {yz})), {dp})"
        )

    return out.select(
        "n",
        F.expr(part("r01", "r02", "r12")).alias("r01_g2"),
        F.expr(part("r02", "r01", "r12")).alias("r02_g1"),
        F.expr(part("r12", "r01", "r02")).alias("r12_g0"),
    )


def partial_corr_oracle_sql(
    subjects_sql: str, item_sqls: tuple[str, str, str], dp: int = 6
) -> str:
    """DuckDB mirror of `partial_correlation`: identical moments and
    closed-form text."""
    a, b, c = item_sqls

    def corr(qi, qj, si, sj, sij):
        return (
            f"round((CAST(n AS DOUBLE) * {sij} - CAST({si} AS DOUBLE) * {sj})"
            f" / sqrt((CAST(n AS DOUBLE) * {qi} - CAST({si} AS DOUBLE) * {si})"
            f" * (CAST(n AS DOUBLE) * {qj} - CAST({sj} AS DOUBLE) * {sj})),"
            f" {dp})"
        )

    def part(xy, xz, yz):
        return (
            f"round(({xy} - {xz} * {yz})"
            f" / sqrt((1 - {xz} * {xz}) * (1 - {yz} * {yz})), {dp})"
        )

    return f"""
    WITH pcr_subj AS ({subjects_sql}),
    pcr_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({a}) AS BIGINT) AS s0,
               CAST(sum({b}) AS BIGINT) AS s1,
               CAST(sum({c}) AS BIGINT) AS s2,
               CAST(sum(({a}) * ({a})) AS BIGINT) AS q0,
               CAST(sum(({b}) * ({b})) AS BIGINT) AS q1,
               CAST(sum(({c}) * ({c})) AS BIGINT) AS q2,
               CAST(sum(({a}) * ({b})) AS BIGINT) AS s01,
               CAST(sum(({a}) * ({c})) AS BIGINT) AS s02,
               CAST(sum(({b}) * ({c})) AS BIGINT) AS s12
        FROM pcr_subj
    ),
    pcr_r AS (
        SELECT n,
               {corr("q0", "q1", "s0", "s1", "s01")} AS r01,
               {corr("q0", "q2", "s0", "s2", "s02")} AS r02,
               {corr("q1", "q2", "s1", "s2", "s12")} AS r12
        FROM pcr_mom
    )
    SELECT n,
           {part("r01", "r02", "r12")} AS r01_g2,
           {part("r02", "r01", "r12")} AS r02_g1,
           {part("r12", "r01", "r02")} AS r12_g0
    FROM pcr_r
    """


# --------------------------------------------------------------------------
# Tukey IQR fences (bounded-cum quantiles, doubled-integer fences)
# --------------------------------------------------------------------------


def iqr_outliers(df: DataFrame, cents_col: str) -> DataFrame:
    """Tukey fence outlier screen: counts outside
    [Q1 - 1.5 IQR, Q3 + 1.5 IQR] — THE boxplot rule, the
    distribution-free screen beside q_mad_outliers (median-based) and
    q_grubbs_test (normal-based). Output ONE row:
    (n, q1_units, q3_units, n_low, n_high).

    Quantiles are percentile_disc reads (min value whose cumulative
    count reaches ceil(q*N)) off the VALUE histogram; money-like
    values make that histogram row-sized, so the cumulative uses the
    two-stage bucket-offset machinery (_bounded_cum_before), never a
    single-partition window. Fences double through (lo2 = 5Q1 - 3Q3,
    hi2 = 5Q3 - 3Q1, compare 2v) so 1.5x stays exact integer.

    Scale shape (100 TB): one histogram aggregate + bucketed prefix
    machinery + one map-combined fence count."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    hist = (
        df.groupBy(F.col(cents_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # value histogram; bounds + bucketing re-read
    )
    cb = _bounded_cum_before(hist, F.col("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    cum = cb.crossJoin(F.broadcast(tot)).select(
        "v", "n", (F.col("cum_before") + F.col("c")).alias("cum")
    )
    # Both percentile_disc reads fold into ONE aggregate over cum
    # (min of v where the fence predicate holds — identical integers
    # to the former filter+min subqueries, which each re-derived the
    # whole bucket-offset machinery: 54 -> ~14 exchanges, r13; the
    # q_top_share monotone-fence collapse).
    q13 = cum.agg(
        F.max("n").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("v")))
        .cast("long")
        .alias("q1"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("v")))
        .cast("long")
        .alias("q3"),
    )
    fences = q13.select(
        "n",
        "q1",
        "q3",
        (5 * F.col("q1") - 3 * F.col("q3")).alias("lo2"),
        (5 * F.col("q3") - 3 * F.col("q1")).alias("hi2"),
    )
    # Fence counts come off the CHECKPOINTED histogram (sum of c per
    # violating value — the same integers), not a second full scan of
    # the row mass (r14; the r13 reference-count rule: the old form
    # re-read the base relation just to count fence violations).
    counts = (
        hist.crossJoin(F.broadcast(fences))
        .agg(
            F.max("n").alias("n"),
            F.max("q1").alias("q1_units"),
            F.max("q3").alias("q3_units"),
            F.sum(
                F.when(2 * F.col("v") < F.col("lo2"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_low"),
            F.sum(
                F.when(2 * F.col("v") > F.col("hi2"), F.col("c")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_high"),
        )
    )
    return counts


def iqr_oracle_sql(table_sql: str, cents_sql: str) -> str:
    """DuckDB mirror of `iqr_outliers`: identical percentile_disc
    reads (plain histogram window — value-identical to the bucketed
    Spark form) and doubled fences."""
    return f"""
    WITH iqr_vals AS (SELECT {cents_sql} AS v FROM {table_sql}),
    iqr_hist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c FROM iqr_vals GROUP BY 1
    ),
    iqr_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM iqr_hist),
    iqr_cum AS (
        SELECT v, n, CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM iqr_hist CROSS JOIN iqr_tot
    ),
    iqr_q AS (
        SELECT n,
               (SELECT CAST(min(v) AS BIGINT) FROM iqr_cum
                 WHERE 4 * cum >= n) AS q1,
               (SELECT CAST(min(v) AS BIGINT) FROM iqr_cum
                 WHERE 4 * cum >= 3 * n) AS q3
        FROM iqr_tot
    )
    SELECT n, q1 AS q1_units, q3 AS q3_units,
           (SELECT CAST(sum(CASE WHEN 2 * v < 5 * q1 - 3 * q3
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM iqr_vals) AS n_low,
           (SELECT CAST(sum(CASE WHEN 2 * v > 5 * q3 - 3 * q1
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM iqr_vals) AS n_high
    FROM iqr_q
    """


# --------------------------------------------------------------------------
# Paired first-vs-last inference desk (shared pair builder)
# --------------------------------------------------------------------------


def _paired_first_last(
    df: DataFrame, unit_col: str, key_col, units_col
) -> DataFrame:
    """(unit, d) with d = last value - first value per unit (units
    with >= 2 observations), via min_by/max_by on a UNIQUE composite
    order key — deterministic in both engines, no window needed."""
    per = df.groupBy(F.col(unit_col).alias("u")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.min_by(units_col, key_col).cast("long").alias("first_v"),
        F.max_by(units_col, key_col).cast("long").alias("last_v"),
    )
    return per.filter(F.col("cnt") >= 2).select(
        "u", (F.col("last_v") - F.col("first_v")).alias("d")
    )


_PAIRED_ORACLE_CORE = """
    prd_pairs AS (
        SELECT u, last_v - first_v AS d FROM (
            SELECT {unit_sql} AS u, CAST(count(*) AS BIGINT) AS cnt,
                   CAST(arg_min({units_sql}, {key_sql}) AS BIGINT) AS first_v,
                   CAST(arg_max({units_sql}, {key_sql}) AS BIGINT) AS last_v
            FROM {table} GROUP BY 1
        ) WHERE cnt >= 2
    )"""


def paired_t_test(
    df: DataFrame, unit_col: str, key_col, units_col, dp: int = 6
) -> DataFrame:
    """Paired t-test on last-vs-first values per unit: did the SAME
    units' values move — the within-subject design the unpaired desk
    (Welch/TOST) can't give, with each unit as its own control.
    Output ONE row: (n_pairs, mean_diff, t_stat).

    Differences are exact BIGINTs (caller supplies a grain keeping
    sum(d^2) inside int64 — dollars for money); moments are exact;
    mean_diff is one exact division and t rounds ``dp``.

    Scale shape (100 TB): one unit-keyed min_by/max_by aggregate
    (no window, no self-join); the formula runs on one row."""
    pairs = _paired_first_last(df, unit_col, key_col, units_col)
    mom = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("qd"),
    )
    return mom.select(
        F.col("n").alias("n_pairs"),
        (F.col("sd").cast("double") / F.col("n")).alias("mean_diff"),
        F.round(
            F.expr(
                "(CAST(sd AS DOUBLE) / n)"
                " / sqrt(((qd - CAST(sd AS DOUBLE) * sd / n) / (n - 1)) / n)"
            ),
            dp,
        ).alias("t_stat"),
    )


def paired_t_oracle_sql(
    table: str, unit_sql: str, key_sql: str, units_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `paired_t_test`."""
    core = _PAIRED_ORACLE_CORE.format(
        table=table, unit_sql=unit_sql, key_sql=key_sql, units_sql=units_sql
    )
    return f"""
    WITH {core},
    prd_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(d) AS BIGINT) AS sd,
               CAST(sum(d * d) AS BIGINT) AS qd
        FROM prd_pairs
    )
    SELECT n AS n_pairs,
           CAST(sd AS DOUBLE) / n AS mean_diff,
           round((CAST(sd AS DOUBLE) / n)
                 / sqrt(((qd - CAST(sd AS DOUBLE) * sd / n) / (n - 1)) / n),
                 {dp}) AS t_stat
    FROM prd_mom
    """


def sign_test(
    df: DataFrame, unit_col: str, key_col, units_col, dp: int = 6
) -> DataFrame:
    """Paired sign test on last-vs-first values: counts upward vs
    downward movers (zeros dropped) — the assumption-free floor of
    the paired desk (paired t needs rough normality; the sign test
    needs nothing). Output ONE row: (n_pos, n_neg, n_zero, z).

    All exact integer counts; z = (n_pos - n_neg)/sqrt(n_pos + n_neg)
    rounds ``dp``.

    Scale shape (100 TB): one unit-keyed aggregate + one count."""
    pairs = _paired_first_last(df, unit_col, key_col, units_col)
    mom = pairs.agg(
        F.sum((F.col("d") > 0).cast("long")).cast("long").alias("n_pos"),
        F.sum((F.col("d") < 0).cast("long")).cast("long").alias("n_neg"),
        F.sum((F.col("d") == 0).cast("long")).cast("long").alias("n_zero"),
    )
    return mom.select(
        "n_pos",
        "n_neg",
        "n_zero",
        F.round(
            F.expr(
                "(n_pos - n_neg) / sqrt(CAST(n_pos AS DOUBLE) + n_neg)"
            ),
            dp,
        ).alias("z"),
    )


def sign_test_oracle_sql(
    table: str, unit_sql: str, key_sql: str, units_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `sign_test`."""
    core = _PAIRED_ORACLE_CORE.format(
        table=table, unit_sql=unit_sql, key_sql=key_sql, units_sql=units_sql
    )
    return f"""
    WITH {core},
    sgn_mom AS (
        SELECT CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos,
               CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_neg,
               CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_zero
        FROM prd_pairs
    )
    SELECT n_pos, n_neg, n_zero,
           round((n_pos - n_neg) / sqrt(CAST(n_pos AS DOUBLE) + n_neg),
                 {dp}) AS z
    FROM sgn_mom
    """


def wilcoxon_signed_rank(
    df: DataFrame, unit_col: str, key_col, units_col, dp: int = 6
) -> DataFrame:
    """Wilcoxon signed-rank test on last-vs-first values: ranks the
    |differences| and asks whether the big moves lean one way — the
    magnitude-aware middle of the paired desk (sign test ignores
    size, paired t assumes normality). Output ONE row:
    (n_used, w2_plus, z).

    Doubled pooled avg-ranks come off the |d| VALUE histogram via the
    two-stage bucket-offset machinery (money-like |d| is a row-sized
    histogram); W2+ = sum over positive-diff values of
    count * avg2 is an exact BIGINT; z uses the standard no-tie
    variance n(n+1)(2n+1)/24 (documented approximation under ties)
    and rounds ``dp``.

    Scale shape (100 TB): one unit-keyed aggregate, one histogram
    aggregate, bucketed prefix machinery — no row-sized window."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    pairs = _paired_first_last(df, unit_col, key_col, units_col).filter(
        F.col("d") != 0
    )
    hist = (
        pairs.groupBy(F.abs(F.col("d")).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum((F.col("d") > 0).cast("long")).cast("long").alias("cpos"),
        )
        .transform(hold)  # |d| histogram; bounds + bucketing re-read
    )
    cb = _bounded_cum_before(hist, F.col("c"))
    ranked = cb.select(
        "v",
        "cpos",
        (2 * F.col("cum_before") + F.col("c") + 1).alias("avg2"),
    )
    mom = ranked.agg(
        F.sum(F.col("cpos") * F.col("avg2")).cast("long").alias("w2p"),
    )
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    return mom.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_used"),
        F.col("w2p").alias("w2_plus"),
        F.round(
            F.expr(
                "(w2p / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)"
                " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24)"
            ),
            dp,
        ).alias("z"),
    )


def wilcoxon_oracle_sql(
    table: str, unit_sql: str, key_sql: str, units_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `wilcoxon_signed_rank`: plain histogram
    window (value-identical to the bucketed Spark form)."""
    core = _PAIRED_ORACLE_CORE.format(
        table=table, unit_sql=unit_sql, key_sql=key_sql, units_sql=units_sql
    )
    return f"""
    WITH {core},
    wsr_hist AS (
        SELECT abs(d) AS v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS cpos
        FROM prd_pairs WHERE d <> 0
        GROUP BY 1
    ),
    wsr_rank AS (
        SELECT v, cpos,
               2 * CAST(COALESCE(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) + c + 1 AS avg2
        FROM wsr_hist
    ),
    wsr_mom AS (
        SELECT CAST(sum(cpos * avg2) AS BIGINT) AS w2p FROM wsr_rank
    ),
    wsr_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wsr_hist)
    SELECT n AS n_used, w2p AS w2_plus,
           round((w2p / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24),
                 {dp}) AS z
    FROM wsr_mom CROSS JOIN wsr_tot
    """


# --------------------------------------------------------------------------
# md5-sampler uniformity QA (all-exact chi-square and KS-D)
# --------------------------------------------------------------------------


def hash_uniformity(
    df: DataFrame, key_col: str, n_buckets: int = 256, salt: int = 7
) -> DataFrame:
    """Uniformity QA of the engine's own md5 sampling variate: bucket
    u01(key) into ``n_buckets`` cells and grade the fit to uniform
    with an ALL-EXACT chi-square and KS-D — the self-audit in front
    of every md5-driven operator (uniform/weighted/epoch samples,
    permutation test, bootstrap, DP noise): a biased variate silently
    biases them all. Output ONE row:
    (n, n_buckets, chi2, ks_d).

        chi2 = (B * sum o_b^2 - n^2) / n          (exact identity)
        ks_d = max|B * cum_b - (b+1) * n| / (B*n)
    — both single IEEE divisions of exact BIGINTs, zero rounding.

    Scale shape (100 TB): one map-side hash + bucket count; the
    cumulative runs over the fixed B-row bucket grid."""
    from pyspark.sql import Window as W

    from celeborn_spark.operators.curriculum import u01

    b = F.floor(
        u01(F.col(key_col).cast("string"), salt) * n_buckets
    ).cast("long")
    counts = df.select(b.alias("b")).groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("o")
    )
    # the total rides the fixed n_buckets-row grid as a full-frame
    # window column (exact BIGINT sum, r13): counts is referenced
    # exactly once — no eager localCheckpoint job, no crossJoin
    wb = W.orderBy("b").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = counts.select(
        "b",
        "o",
        F.sum("o").over(wb).cast("long").alias("cum"),
        F.sum("o").over(wall).cast("long").alias("n"),
    )
    mom = cum.groupBy("n").agg(
        F.sum(F.col("o") * F.col("o")).cast("long").alias("so2"),
        F.max(
            F.abs(
                F.lit(n_buckets) * F.col("cum")
                - (F.col("b") + 1) * F.col("n")
            )
        )
        .cast("long")
        .alias("dnum"),
    )
    return mom.select(
        "n",
        F.lit(n_buckets).cast("long").alias("n_buckets"),
        F.expr(
            f"CAST({n_buckets} * so2 - n * n AS DOUBLE) / n"
        ).alias("chi2"),
        F.expr(
            f"CAST(dnum AS DOUBLE) / ({n_buckets} * CAST(n AS DOUBLE))"
        ).alias("ks_d"),
    )


def hash_uniformity_oracle_sql(
    table: str, key_sql: str, n_buckets: int = 256, salt: int = 7
) -> str:
    """DuckDB mirror of `hash_uniformity`: the shared md5-uniform
    variate, identical exact identities."""
    from celeborn_spark.operators.curriculum import u01_oracle_expr

    u = u01_oracle_expr(f"CAST({key_sql} AS VARCHAR)", salt)
    return f"""
    WITH hsu_counts AS (
        SELECT CAST(floor(({u}) * {n_buckets}) AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS o
        FROM {table}
        GROUP BY 1
    ),
    hsu_cum AS (
        SELECT b, o, CAST(sum(o) OVER (ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum,
               CAST(sum(o) OVER () AS BIGINT) AS n_all
        FROM hsu_counts
    ),
    hsu_mom AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(sum(o * o) AS BIGINT) AS so2,
               CAST(max(abs({n_buckets} * cum - (b + 1) * n_all)) AS BIGINT)
                   AS dnum
        FROM hsu_cum
    )
    SELECT n, CAST({n_buckets} AS BIGINT) AS n_buckets,
           CAST({n_buckets} * so2 - n * n AS DOUBLE) / n AS chi2,
           CAST(dnum AS DOUBLE) / ({n_buckets} * CAST(n AS DOUBLE)) AS ks_d
    FROM hsu_mom
    """


# --------------------------------------------------------------------------
# Benford second-digit audit (Python-built expected table)
# --------------------------------------------------------------------------


def _benford2_probs() -> list[tuple[int, int]]:
    """(digit, p6) with p6 = floor(P(d)*1e6 + 0.5),
    P(d) = sum_{k=1..9} log10(1 + 1/(10k + d)) — computed ONCE in
    Python (the trig-table discipline)."""
    import math

    return [
        (
            d,
            int(
                math.floor(
                    sum(math.log10(1 + 1 / (10 * k + d)) for k in range(1, 10))
                    * 1e6
                    + 0.5
                )
            ),
        )
        for d in range(10)
    ]


def benford_second_digit(df: DataFrame, value_col: str, dp: int = 6) -> DataFrame:
    """SECOND-significant-digit distribution vs Benford's law — the
    forensic escalation of q_benford_audit: first digits survive
    naive fabrication (people know big numbers start small), second
    digits rarely do, and rounding/price-point policies show up here
    first. Output per digit 0..9:
    (digit, n_d, observed_share, expected_share, abs_dev).

    The digit comes from the INTEGER cents string (no float
    formatting); expected shares are Python-built micro literals
    shared by both engines; observed share is one exact division and
    abs_dev subtracts two deterministic doubles, rounded ``dp``.

    Scale shape (100 TB): one map-combined 10-group aggregate."""
    spark = df.sparkSession
    from celeborn_spark.operators import values_table

    probs = values_table(spark, _benford2_probs(), "digit int, p6 long")
    cents = F.floor(F.col(value_col) * 100).cast("long")
    digit = F.substring(cents.cast("string"), 2, 1).cast("int")
    base = df.filter(cents >= 10).select(digit.alias("digit"))
    counts = base.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_d")
    )
    tot = counts.agg(F.sum("n_d").cast("long").alias("n"))
    return (
        F.broadcast(probs)
        .join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n_d", F.lit(0)).cast("long").alias("n_d"),
            (F.coalesce("n_d", F.lit(0)).cast("double") / F.col("n")).alias(
                "observed_share"
            ),
            (F.col("p6").cast("double") / F.lit(1_000_000.0)).alias(
                "expected_share"
            ),
            F.round(
                F.abs(
                    F.coalesce("n_d", F.lit(0)).cast("double") / F.col("n")
                    - F.col("p6").cast("double") / F.lit(1_000_000.0)
                ),
                dp,
            ).alias("abs_dev"),
        )
    )


def benford_second_oracle_sql(table: str, value_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `benford_second_digit`: the SAME Python-built
    expected literals; identical digit extraction and shares."""
    vals = ", ".join(f"({d}, {p6})" for d, p6 in _benford2_probs())
    return f"""
    WITH bf2_probs(digit, p6) AS (VALUES {vals}),
    bf2_base AS (
        SELECT CAST(substr(CAST(CAST(floor(({value_sql}) * 100) AS BIGINT)
                               AS VARCHAR), 2, 1) AS INTEGER) AS digit
        FROM {table}
        WHERE CAST(floor(({value_sql}) * 100) AS BIGINT) >= 10
    ),
    bf2_counts AS (
        SELECT digit, CAST(count(*) AS BIGINT) AS n_d
        FROM bf2_base GROUP BY 1
    ),
    bf2_tot AS (SELECT CAST(sum(n_d) AS BIGINT) AS n FROM bf2_counts)
    SELECT p.digit,
           CAST(COALESCE(c.n_d, 0) AS BIGINT) AS n_d,
           CAST(COALESCE(c.n_d, 0) AS DOUBLE) / n AS observed_share,
           CAST(p.p6 AS DOUBLE) / 1000000.0 AS expected_share,
           round(abs(CAST(COALESCE(c.n_d, 0) AS DOUBLE) / n
                     - CAST(p.p6 AS DOUBLE) / 1000000.0), {dp}) AS abs_dev
    FROM bf2_probs p
    LEFT JOIN bf2_counts c ON p.digit = c.digit
    CROSS JOIN bf2_tot
    """


# --------------------------------------------------------------------------
# Price-ending audit (exact uniform chi-square + top endings)
# --------------------------------------------------------------------------


def price_endings(df: DataFrame, cents_col, top_k: int = 10) -> DataFrame:
    """Price-ending audit: the cents-mod-100 distribution's top
    endings plus the ALL-EXACT uniform chi-square — the psychological-
    pricing / fabrication detector (real pricing policy concentrates
    on .99/.00/.50 endings; uniform endings suggest generated values).
    Output ``top_k`` rows ranked (n desc, ending):
    (ending, n, share, chi2_uniform) — chi2 repeated per row.

        chi2 = (100 * sum o_e^2 - n^2) / n   (exact identity).

    Scale shape (100 TB): one map-combined 100-group aggregate; the
    heap-select runs on the 100-row ending grid."""
    e = (F.col(cents_col) % 100).cast("long")
    counts = (
        df.select(e.alias("ending"))
        .groupBy("ending")
        .agg(F.count(F.lit(1)).cast("long").alias("n_e"))
    )
    # totals ride the fixed 100-row grid as full-frame window columns
    # (exact BIGINT sums, r13): counts is referenced exactly once — no
    # eager localCheckpoint job, no crossJoin; the query is ONE job
    from pyspark.sql import Window as W

    wall = W.partitionBy()
    return (
        counts.select(
            "ending",
            "n_e",
            F.sum("n_e").over(wall).cast("long").alias("n"),
            F.sum(F.col("n_e") * F.col("n_e"))
            .over(wall)
            .cast("long")
            .alias("so2"),
        )
        .select(
            "ending",
            F.col("n_e").alias("n"),
            (F.col("n_e").cast("double") / F.col("n")).alias("share"),
            F.expr("CAST(100 * so2 - n * n AS DOUBLE) / n").alias(
                "chi2_uniform"
            ),
        )
        .orderBy(F.col("n").desc(), "ending")
        .limit(top_k)
    )


def price_endings_oracle_sql(
    table: str, cents_sql: str, top_k: int = 10
) -> str:
    """DuckDB mirror of `price_endings`."""
    return f"""
    WITH pe_counts AS (
        SELECT CAST(({cents_sql}) % 100 AS BIGINT) AS ending,
               CAST(count(*) AS BIGINT) AS n_e
        FROM {table} GROUP BY 1
    ),
    pe_tot AS (
        SELECT CAST(sum(n_e) AS BIGINT) AS n,
               CAST(sum(n_e * n_e) AS BIGINT) AS so2
        FROM pe_counts
    )
    SELECT ending, n_e AS n,
           CAST(n_e AS DOUBLE) / n AS share,
           CAST(100 * so2 - n * n AS DOUBLE) / n AS chi2_uniform
    FROM pe_counts CROSS JOIN pe_tot
    ORDER BY n_e DESC, ending
    LIMIT {top_k}
    """


# --------------------------------------------------------------------------
# Top-20% revenue share (value-threshold semantics, bucketed quantile)
# --------------------------------------------------------------------------


def top_share(df: DataFrame, cents_col: str, pct: int = 80) -> DataFrame:
    """The classic 80/20 KPI: what revenue share do the top customers
    (spend above the ``pct``-th percentile) carry — the ONE number
    the Lorenz/Gini/ABC machinery ultimately feeds executives.
    VALUE-threshold semantics (all units tied at the threshold count
    as top, so no rank tiebreaker exists to drift). Output ONE row:
    (n_units, threshold_cents, n_top, top_frac, spend_share).

    The percentile is a percentile_disc read off the per-unit spend
    histogram via the two-stage bucket-offset machinery (money
    histograms are row-sized); shares are exact divisions.

    Scale shape (100 TB): one unit aggregate, one histogram pass,
    bucketed prefix machinery, one map-combined fence count."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    hist = (
        df.groupBy(F.col(cents_col).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.col(cents_col)).cast("long").alias("mass"),
        )
        .transform(hold)  # value histogram; bounds + bucketing re-read
    )
    cb = _bounded_cum_before(hist, F.col("c"))
    tot = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("mass").cast("long").alias("s"),
    )
    # cum_before is monotone in v, so the percentile-fence predicate
    # 100*(cum_before+c) >= pct*n holds exactly for {v >= thr} — the
    # threshold row set IS the top set. One aggregate over cb computes
    # the fence AND the top-mass sums together (identical integers and
    # the same two divisions as the former thr-subquery form, which
    # re-derived hist/tot per reference: 30 exchanges -> one pass).
    is_top = 100 * (F.col("cum_before") + F.col("c")) >= F.lit(pct) * F.col("n")
    return (
        cb.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_units"),
            F.min(F.when(is_top, F.col("v")))
            .cast("long")
            .alias("threshold_cents"),
            F.sum(F.when(is_top, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_top"),
            (
                F.sum(F.when(is_top, F.col("c")).otherwise(0)).cast("double")
                / F.max("n")
            ).alias("top_frac"),
            (
                F.sum(F.when(is_top, F.col("mass")).otherwise(0)).cast("double")
                / F.max("s")
            ).alias("spend_share"),
        )
    )


def top_share_oracle_sql(
    items_sql: str, pct: int = 80
) -> str:
    """DuckDB mirror of `top_share`. ``items_sql`` yields one row per
    unit with BIGINT ``cents``; plain histogram window (value-
    identical to the bucketed Spark form)."""
    return f"""
    WITH tps_items AS ({items_sql}),
    tps_hist AS (
        SELECT cents AS v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(cents) AS BIGINT) AS mass
        FROM tps_items GROUP BY 1
    ),
    tps_tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(mass) AS BIGINT) AS s
        FROM tps_hist
    ),
    tps_cum AS (
        SELECT v, c, CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum, n
        FROM tps_hist CROSS JOIN tps_tot
    ),
    tps_thr AS (
        SELECT CAST(min(v) AS BIGINT) AS thr FROM tps_cum
        WHERE 100 * cum >= {pct} * n
    )
    SELECT n AS n_units, thr AS threshold_cents,
           (SELECT CAST(sum(c) AS BIGINT) FROM tps_hist WHERE v >= thr)
               AS n_top,
           (SELECT CAST(sum(c) AS DOUBLE) FROM tps_hist WHERE v >= thr) / n
               AS top_frac,
           (SELECT CAST(sum(mass) AS DOUBLE) FROM tps_hist WHERE v >= thr) / s
               AS spend_share
    FROM tps_tot CROSS JOIN tps_thr
    """


# --------------------------------------------------------------------------
# Day-of-week x hour activity heatmap (all-exact)
# --------------------------------------------------------------------------


def activity_heatmap(df: DataFrame, ts_col: str) -> DataFrame:
    """Day-of-week x hour activity profile: event counts and shares
    over the fixed 7x24 grid — the capacity-planning / anomaly-
    context readout behind every ops dashboard (when does load
    actually arrive). Output one row per non-empty cell:
    (dow, hour, n, share) — shares are exact divisions, zero
    rounding.

    Scale shape (100 TB): ONE map-combined aggregate onto a bounded
    168-cell grid."""
    cells = df.groupBy(
        F.dayofweek(F.col(ts_col)).cast("long").alias("dow"),
        F.hour(F.col(ts_col)).cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = cells.agg(F.sum("n").cast("long").alias("total"))
    return cells.crossJoin(F.broadcast(tot)).select(
        "dow",
        "hour",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
    )


def activity_heatmap_oracle_sql(table: str, ts_sql: str) -> str:
    """DuckDB mirror of `activity_heatmap` (dayofweek matched to
    Spark's 1 = Sunday convention)."""
    return f"""
    WITH ahm_cells AS (
        SELECT CAST(dayofweek({ts_sql}) + 1 AS BIGINT) AS dow,
               CAST(hour({ts_sql}) AS BIGINT) AS hour,
               CAST(count(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1, 2
    ),
    ahm_tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM ahm_cells)
    SELECT dow, hour, n, CAST(n AS DOUBLE) / total AS share
    FROM ahm_cells CROSS JOIN ahm_tot
    """


# --------------------------------------------------------------------------
# Weight-of-evidence / information value (risk-model feature screen)
# --------------------------------------------------------------------------


def woe_iv(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Weight of evidence + information value of a binned feature
    against a binary target — THE credit-risk feature screen (IV
    < 0.02 useless, > 0.3 strong) beside q_psi_drift's stability and
    q_calibration_bins' reliability on the same binning machinery.
    Output one row per two-sided bin:
    (bin, n_pos, n_neg, woe, iv) — iv repeated on every row.

        WoE_b = ln(g_b * B / (b_b * G))  (exact-integer ratio through
    ln, rounded ``dp``); the IV contribution (g_b/G - b_b/B) * WoE_b
    quantizes to micro-units per bin (bounded surface) so the
    cross-bin sum is an exact BIGINT. One-sided bins (g or b = 0)
    drop identically in both engines (the standard practice).

    Scale shape (100 TB): one map-combined bin aggregate over row
    mass; everything after runs on <= n_bins rows."""
    s = F.floor(F.col(score_col) * 100).cast("long")
    binned = df.select(
        F.least(
            F.lit(n_bins - 1),
            F.floor(F.lit(n_bins) * s / F.lit(denom_cents)).cast("long"),
        ).alias("bin"),
        F.col(label_col).cast("long").alias("y"),
    )
    from pyspark.sql import Window as W

    # Both scalar passes (grand totals, then the IV mass) ride the
    # <= n_bins-row relation as full-frame window columns (exact
    # BIGINT sums, r13): the bin relation is referenced exactly once
    # per step — the two eager localCheckpoints (extra driver jobs)
    # and both broadcast crossJoins are gone; the query is ONE job.
    # Totals windows run BEFORE the one-sided-bin filter, exactly like
    # the old tot aggregate; the IV window runs AFTER it, exactly like
    # the old iv aggregate over the filtered rows.
    wall = W.partitionBy()
    per = binned.groupBy("bin").agg(
        F.sum("y").cast("long").alias("g"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("b"),
    )
    rows = (
        per.select(
            "*",
            F.sum("g").over(wall).cast("long").alias("gt"),
            F.sum("b").over(wall).cast("long").alias("bt"),
        )
        .filter((F.col("g") > 0) & (F.col("b") > 0))
        .withColumn(
            "woe",
            F.round(
                F.expr(
                    "ln(CAST(g AS DOUBLE) * bt / (CAST(b AS DOUBLE) * gt))"
                ),
                dp,
            ),
        )
        .withColumn(
            "iv6",
            F.expr(
                "CAST(floor((CAST(g AS DOUBLE) / gt"
                " - CAST(b AS DOUBLE) / bt) * woe * 1000000 + 0.5)"
                " AS BIGINT)"
            ),
        )
    )
    return rows.select(
        "bin",
        F.col("g").alias("n_pos"),
        F.col("b").alias("n_neg"),
        "woe",
        (F.sum("iv6").over(wall).cast("long") / F.lit(1_000_000.0)).alias("iv"),
    )


def woe_iv_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `woe_iv`: identical bins, rounded WoE, and
    micro-quantized IV mass."""
    return f"""
    WITH wiv_binned AS (
        SELECT least({n_bins - 1},
                     CAST(floor({n_bins} * floor(({score_sql}) * 100)
                                / {denom_cents}) AS BIGINT)) AS bin,
               CAST({label_sql} AS BIGINT) AS y
        FROM {table}
    ),
    wiv_per AS (
        SELECT bin, CAST(sum(y) AS BIGINT) AS g,
               CAST(sum(1 - y) AS BIGINT) AS b
        FROM wiv_binned GROUP BY 1
    ),
    wiv_tot AS (
        SELECT CAST(sum(g) AS BIGINT) AS gt, CAST(sum(b) AS BIGINT) AS bt
        FROM wiv_per
    ),
    wiv_rows AS (
        SELECT bin, g, b,
               round(ln(CAST(g AS DOUBLE) * bt
                        / (CAST(b AS DOUBLE) * gt)), {dp}) AS woe,
               gt, bt
        FROM wiv_per CROSS JOIN wiv_tot
        WHERE g > 0 AND b > 0
    ),
    wiv_iv AS (
        SELECT CAST(sum(CAST(floor((CAST(g AS DOUBLE) / gt
                                    - CAST(b AS DOUBLE) / bt)
                                   * woe * 1000000 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000.0 AS iv
        FROM wiv_rows
    )
    SELECT bin, g AS n_pos, b AS n_neg, woe, iv
    FROM wiv_rows CROSS JOIN wiv_iv
    """


# --------------------------------------------------------------------------
# Oaxaca-Blinder two-fold gap decomposition (exact per-group moments)
# --------------------------------------------------------------------------


def oaxaca_blinder(
    df: DataFrame, group_col: str, x_col: str, y_col: str, group_a,
    dp: int = 6,
) -> DataFrame:
    """Oaxaca-Blinder two-fold decomposition of the group-A-vs-rest
    outcome gap: how much of the gap is ENDOWMENT (group A simply has
    more of x) vs COEFFICIENT (the same x converts to y differently)?
    The explains-the-gap economics reading beside q_stratified_att's
    blocked estimate:
        gap = ybar_A - ybar_R
        explained = (xbar_A - xbar_R) * b_R       (reference slopes)
        unexplained = gap - explained.
    Output ONE row: (n_a, n_r, gap, explained, unexplained).

    Per-group OLS slopes assemble from exact BIGINT moments and round
    ``dp`` BEFORE the decomposition; means are exact divisions;
    explained/unexplained round ``dp``.

    Scale shape (100 TB): ONE conditional-moment aggregate."""
    gcol = F.col(group_col)
    x, y = F.col(x_col), F.col(y_col)
    is_a = (gcol == group_a).cast("long")

    def gm(tag, cond):
        return [
            F.sum(cond).cast("long").alias(f"n_{tag}"),
            F.sum(F.when(cond == 1, x)).cast("long").alias(f"sx_{tag}"),
            F.sum(F.when(cond == 1, y)).cast("long").alias(f"sy_{tag}"),
            F.sum(F.when(cond == 1, x * x)).cast("long").alias(f"qx_{tag}"),
            F.sum(F.when(cond == 1, x * y)).cast("long").alias(f"p_{tag}"),
        ]

    mom = df.agg(*gm("a", is_a), *gm("r", 1 - is_a))
    slope_r = (
        "round((CAST(n_r AS DOUBLE) * p_r - CAST(sx_r AS DOUBLE) * sy_r)"
        " / (CAST(n_r AS DOUBLE) * qx_r - CAST(sx_r AS DOUBLE) * sx_r),"
        f" {dp})"
    )
    return mom.select(
        "n_a",
        "n_r",
        F.expr(
            "CAST(sy_a AS DOUBLE) / n_a - CAST(sy_r AS DOUBLE) / n_r"
        ).alias("gap"),
        F.round(
            F.expr(
                "(CAST(sx_a AS DOUBLE) / n_a - CAST(sx_r AS DOUBLE) / n_r)"
                f" * {slope_r}"
            ),
            dp,
        ).alias("explained"),
        F.round(
            F.expr(
                "(CAST(sy_a AS DOUBLE) / n_a - CAST(sy_r AS DOUBLE) / n_r)"
                " - (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_r AS DOUBLE) / n_r)"
                f" * {slope_r}"
            ),
            dp,
        ).alias("unexplained"),
    )


def oaxaca_oracle_sql(
    subjects_sql: str, group_sql: str, x_sql: str, y_sql: str, ga: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `oaxaca_blinder`."""
    def gm(tag, cond):
        return (
            f"CAST(sum({cond}) AS BIGINT) AS n_{tag}, "
            f"CAST(sum(CASE WHEN {cond} = 1 THEN {x_sql} END) AS BIGINT)"
            f" AS sx_{tag}, "
            f"CAST(sum(CASE WHEN {cond} = 1 THEN {y_sql} END) AS BIGINT)"
            f" AS sy_{tag}, "
            f"CAST(sum(CASE WHEN {cond} = 1 THEN ({x_sql}) * ({x_sql}) END)"
            f" AS BIGINT) AS qx_{tag}, "
            f"CAST(sum(CASE WHEN {cond} = 1 THEN ({x_sql}) * ({y_sql}) END)"
            f" AS BIGINT) AS p_{tag}"
        )

    cond_a = f"(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)"
    cond_r = f"(CASE WHEN {group_sql} = {ga} THEN 0 ELSE 1 END)"
    slope_r = (
        "round((CAST(n_r AS DOUBLE) * p_r - CAST(sx_r AS DOUBLE) * sy_r)"
        " / (CAST(n_r AS DOUBLE) * qx_r - CAST(sx_r AS DOUBLE) * sx_r),"
        f" {dp})"
    )
    return f"""
    WITH oxb_subj AS ({subjects_sql}),
    oxb_mom AS (
        SELECT {gm("a", cond_a)}, {gm("r", cond_r)}
        FROM oxb_subj
    )
    SELECT n_a, n_r,
           CAST(sy_a AS DOUBLE) / n_a - CAST(sy_r AS DOUBLE) / n_r AS gap,
           round((CAST(sx_a AS DOUBLE) / n_a - CAST(sx_r AS DOUBLE) / n_r)
                 * {slope_r}, {dp}) AS explained,
           round((CAST(sy_a AS DOUBLE) / n_a - CAST(sy_r AS DOUBLE) / n_r)
                 - (CAST(sx_a AS DOUBLE) / n_a - CAST(sx_r AS DOUBLE) / n_r)
                 * {slope_r}, {dp}) AS unexplained
    FROM oxb_mom
    """


# --------------------------------------------------------------------------
# Per-user MTBF (entity-partitioned gaps, minute-grain histogram)
# --------------------------------------------------------------------------


def user_mtbf(df: DataFrame, unit_col: str, ts_col: str, key_col: str) -> DataFrame:
    """Mean/median time between a unit's consecutive failure events —
    the reliability desk's MTBF readout (how often does a given user
    hit errors, and is the typical gap far from the mean = heavy
    tail). Output ONE row:
    (n_gaps, mtbf_minutes, median_gap_minutes).

    Gaps come from per-unit lag windows (the natural entity
    partition, (ts, key) total order) quantized to MINUTES — the
    median is a percentile_disc read off the minute-grain gap
    histogram, which is calendar-bounded (span-minutes), never
    row-sized; the mean is one exact division of the exact minute
    sum.

    Scale shape (100 TB): one entity-partitioned window over the
    failure subset; histogram reads after."""
    from pyspark.sql import Window as W

    wu = W.partitionBy(unit_col).orderBy(F.col(ts_col), F.col(key_col))
    gaps = (
        df.select(
            F.col(unit_col).alias("u"),
            F.floor(
                (
                    F.unix_micros(F.col(ts_col))
                    - F.unix_micros(F.lag(F.col(ts_col)).over(wu))
                )
                / F.lit(60_000_000.0)
            )
            .cast("long")
            .alias("gap_min"),
        )
        .filter(F.col("gap_min").isNotNull())
        .groupBy("gap_min")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    # the totals ride the span-bounded minute histogram as full-frame
    # window columns (exact BIGINT sums, r13): the histogram is
    # referenced exactly once — no eager localCheckpoint job, no
    # crossJoin; the whole KPI is ONE job
    wg = W.orderBy("gap_min").rowsBetween(W.unboundedPreceding, 0)
    wall = W.partitionBy()
    cum = gaps.select(
        "gap_min",
        F.sum("c").over(wg).alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n"),
        F.sum(F.col("gap_min") * F.col("c")).over(wall).cast("long").alias("s"),
    )
    # median fence folds into the final aggregate over cum (the
    # monotone-fence collapse, r13) — no second pass, same integers
    return cum.agg(
        F.max("n").alias("n_gaps"),
        (F.max("s").cast("double") / F.max("n")).alias("mtbf_minutes"),
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("gap_min")))
        .cast("long")
        .alias("median_gap_minutes"),
    )


def user_mtbf_oracle_sql(
    table_sql: str, unit_sql: str, ts_sql: str, key_sql: str
) -> str:
    """DuckDB mirror of `user_mtbf`: identical per-unit lag, minute
    quantization, and histogram reads."""
    return f"""
    WITH mtb_lag AS (
        SELECT CAST(floor((epoch_us({ts_sql})
                   - epoch_us(lag({ts_sql}) OVER (PARTITION BY {unit_sql}
                       ORDER BY {ts_sql}, {key_sql})))
                   / 60000000.0) AS BIGINT) AS gap_min
        FROM {table_sql}
    ),
    mtb_hist AS (
        SELECT gap_min, CAST(count(*) AS BIGINT) AS c
        FROM mtb_lag WHERE gap_min IS NOT NULL GROUP BY 1
    ),
    mtb_tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(gap_min * c) AS BIGINT) AS s
        FROM mtb_hist
    ),
    mtb_cum AS (
        SELECT gap_min, sum(c) OVER (ORDER BY gap_min
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, n
        FROM mtb_hist CROSS JOIN mtb_tot
    ),
    mtb_med AS (
        SELECT CAST(min(gap_min) AS BIGINT) AS med FROM mtb_cum
        WHERE 2 * cum >= n
    )
    SELECT n AS n_gaps, CAST(s AS DOUBLE) / n AS mtbf_minutes,
           med AS median_gap_minutes
    FROM mtb_tot CROSS JOIN mtb_med
    """


# --------------------------------------------------------------------------
# Tukey biweight robust mean (2 rounds, micro-quantized weights)
# --------------------------------------------------------------------------


def tukey_biweight(df: DataFrame, units_col: str, dp: int = 6) -> DataFrame:
    """Tukey biweight robust location (2 reweighting rounds): the
    smoothly-downweighted robust mean completing the location desk —
    trimmed/winsorized CUT at a quantile, MAD flags, Grubbs tests
    one value; the biweight lets every row vote with weight
    (1-u^2)^2 that fades to zero at 4.685 sigma. Output ONE row:
    (n, mean_raw, biweight_mean).

    Round 0 moments are exact BIGINTs (mean/sd round ``dp``); each
    round's per-row weight quantizes to micro-units (floor(w*1e6 +
    0.5) of a deterministic double expression), so the weighted sums
    sum(w6*y), sum(w6) are exact BIGINTs and each round's center is
    one exact division re-rounded ``dp`` — both engines iterate on
    identical operands. ``units_col`` must keep w6*y sums inside
    int64 (dollar grain for money — documented bound).

    Scale shape (100 TB): three map-combined aggregates (moments +
    2 rounds); no window, no join."""
    y = F.col(units_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("s"),
        F.sum(y * y).cast("long").alias("q"),
    )
    m0sd = mom.select(
        "n",
        "s",
        F.round(F.expr("CAST(s AS DOUBLE) / n"), dp).alias("m"),
        F.round(
            F.expr(
                "sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1))"
            ),
            dp,
        ).alias("sd"),
    )

    def one_round(center_col: str):
        u = (y - F.col(center_col)) / (F.lit(4.685) * F.col("sd"))
        w6 = F.when(
            F.abs(u) < 1,
            F.floor((1 - u * u) * (1 - u * u) * 1_000_000 + F.lit(0.5)),
        ).otherwise(F.lit(0)).cast("long")
        return F.round(
            F.sum(w6 * y).cast("double") / F.sum(w6), dp
        )

    b = df.crossJoin(F.broadcast(m0sd))
    r1 = b.groupBy("n", "s", "m", "sd").agg(one_round("m").alias("m1"))
    b2 = df.crossJoin(F.broadcast(r1))
    out = b2.groupBy("n", "s", "m", "sd", "m1").agg(
        one_round("m1").alias("biweight_mean")
    )
    return out.select(
        "n",
        F.expr("CAST(s AS DOUBLE) / n").alias("mean_raw"),
        "biweight_mean",
    )


def tukey_biweight_oracle_sql(
    table_sql: str, units_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `tukey_biweight`: identical rounded seeds,
    micro-quantized weights, and round chaining."""
    def rnd(center):
        u = f"(({units_sql}) - {center}) / (4.685 * sd)"
        w6 = (
            f"CASE WHEN abs({u}) < 1 THEN CAST(floor((1 - ({u}) * ({u}))"
            f" * (1 - ({u}) * ({u})) * 1000000 + 0.5) AS BIGINT)"
            f" ELSE 0 END"
        )
        return (
            f"round(CAST(sum({w6} * ({units_sql})) AS DOUBLE)"
            f" / sum({w6}), {dp})"
        )

    return f"""
    WITH tbw_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({units_sql}) AS BIGINT) AS s,
               CAST(sum(({units_sql}) * ({units_sql})) AS BIGINT) AS q
        FROM {table_sql}
    ),
    tbw_seed AS (
        SELECT n, s,
               round(CAST(s AS DOUBLE) / n, {dp}) AS m,
               round(sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)), {dp})
                   AS sd
        FROM tbw_mom
    ),
    tbw_r1 AS (
        SELECT n, s, m, sd, {rnd("m")} AS m1
        FROM {table_sql} CROSS JOIN tbw_seed
        GROUP BY n, s, m, sd
    ),
    tbw_r2 AS (
        SELECT n, s, m1, {rnd("m1")} AS biweight_mean
        FROM {table_sql} CROSS JOIN tbw_r1
        GROUP BY n, s, m1, sd
    )
    SELECT n, CAST(s AS DOUBLE) / n AS mean_raw, biweight_mean
    FROM tbw_r2
    """


# --------------------------------------------------------------------------
# XmR (individuals) control chart summary
# --------------------------------------------------------------------------


def control_chart_xmr(
    df: DataFrame, day_col: str, cents_col, dp: int = 6
) -> DataFrame:
    """Shewhart individuals (XmR) control-chart summary of the daily
    series: center line, average moving range, 2.66*MR control
    limits, and the out-of-control day counts — the SPC readout that
    separates common-cause noise from special-cause days (the
    monitoring sibling of the changepoint family: CUSUM/Pettitt ask
    WHERE it shifted; the chart asks WHICH days escape the noise
    band). Output ONE row:
    (n_days, mean_units, mr_bar, ucl, lcl, n_above, n_below).

    Daily values are exact k$-grain BIGINTs on the OBSERVED-day
    sequence; moving ranges are exact integer |lag diffs|; the limits
    are fixed double trees rounded ``dp`` and the escape counts are
    exact comparisons of integers against those rounded limits.

    Scale shape (100 TB): one map-combined day aggregate; the lag
    and counts run on the calendar-bounded day grid."""
    from pyspark.sql import Window as W

    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(cents_col).cast("long").alias("cents"))
        .select(
            "day",
            F.floor(F.col("cents") / F.lit(100000.0)).cast("long").alias("y"),
        )
    )
    # The moments and control limits ride the calendar-bounded mr
    # relation as full-frame window columns (exact BIGINT sums +
    # identical double trees, r13): daily and mr are each referenced
    # exactly once — no eager localCheckpoint job, no crossJoins; the
    # whole KPI is ONE job. The final aggregate runs over the SAME
    # rows (mr is a 1:1 projection of daily), so every count is
    # bit-identical to the old daily-side aggregate.
    wd = W.orderBy("day")  # one row per observed calendar day
    wall = W.partitionBy()
    mr = daily.select(
        "y", F.abs(F.col("y") - F.lag("y").over(wd)).alias("mr")
    )
    lim = mr.select(
        "y",
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
        F.sum("y").over(wall).cast("long").alias("s"),
        F.sum("mr").over(wall).cast("long").alias("smr"),
        F.sum(F.col("mr").isNotNull().cast("long"))
        .over(wall)
        .cast("long")
        .alias("nmr"),
    ).select(
        "y",
        "n",
        F.expr("CAST(s AS DOUBLE) / n").alias("mean_units"),
        F.expr("CAST(smr AS DOUBLE) / nmr").alias("mr_bar"),
        F.round(
            F.expr("CAST(s AS DOUBLE) / n + 2.66 * (CAST(smr AS DOUBLE) / nmr)"),
            dp,
        ).alias("ucl"),
        F.round(
            F.expr("CAST(s AS DOUBLE) / n - 2.66 * (CAST(smr AS DOUBLE) / nmr)"),
            dp,
        ).alias("lcl"),
    )
    counts = lim.agg(
        F.max("n").alias("n_days"),
        F.max("mean_units").alias("mean_units"),
        F.max("mr_bar").alias("mr_bar"),
        F.max("ucl").alias("ucl"),
        F.max("lcl").alias("lcl"),
        F.sum((F.col("y") > F.col("ucl")).cast("long"))
        .cast("long")
        .alias("n_above"),
        F.sum((F.col("y") < F.col("lcl")).cast("long"))
        .cast("long")
        .alias("n_below"),
    )
    return counts


def control_chart_oracle_sql(
    table: str, day_sql: str, cents_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `control_chart_xmr`."""
    return f"""
    WITH xmr_daily AS (
        SELECT {day_sql} AS day,
               CAST(floor(CAST(sum({cents_sql})
                    AS BIGINT) / 100000.0) AS BIGINT) AS y
        FROM {table} GROUP BY 1
    ),
    xmr_mr AS (
        SELECT y, abs(y - lag(y) OVER (ORDER BY day)) AS mr
        FROM xmr_daily
    ),
    xmr_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(mr) AS BIGINT) AS smr,
               CAST(sum(CASE WHEN mr IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS nmr
        FROM xmr_mr
    ),
    xmr_lim AS (
        SELECT n, CAST(s AS DOUBLE) / n AS mean_units,
               CAST(smr AS DOUBLE) / nmr AS mr_bar,
               round(CAST(s AS DOUBLE) / n
                     + 2.66 * (CAST(smr AS DOUBLE) / nmr), {dp}) AS ucl,
               round(CAST(s AS DOUBLE) / n
                     - 2.66 * (CAST(smr AS DOUBLE) / nmr), {dp}) AS lcl
        FROM xmr_mom
    )
    SELECT n AS n_days, mean_units, mr_bar, ucl, lcl,
           (SELECT CAST(sum(CASE WHEN y > ucl THEN 1 ELSE 0 END) AS BIGINT)
            FROM xmr_daily) AS n_above,
           (SELECT CAST(sum(CASE WHEN y < lcl THEN 1 ELSE 0 END) AS BIGINT)
            FROM xmr_daily) AS n_below
    FROM xmr_lim
    """


# --------------------------------------------------------------------------
# Chi-square standardized cell residuals (bounded contingency grid)
# --------------------------------------------------------------------------


def chi_residuals(df: DataFrame, row_col: str, col_col: str, dp: int = 6) -> DataFrame:
    """Standardized residuals (o - e)/sqrt(e) of a two-way
    contingency table — WHICH cells drive the dependence
    q_chi_square only declares (|r| > 2 marks the driving cells, the
    drill-down every association test needs). Output one row per
    observed cell: (r, c, n, expected, std_residual).

    Cells and marginals are exact BIGINTs; e = R_r * C_c / N is one
    exact division; the residual passes through one sqrt and rounds
    ``dp``.

    Scale shape (100 TB): one two-key aggregate over row mass; the
    marginal joins run on the bounded category grids."""
    from pyspark.sql import Window as W

    cells = df.groupBy(
        F.col(row_col).alias("r"), F.col(col_col).alias("c")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    # Marginals and the grand total ride the bounded contingency grid
    # as window columns (r-/c-partitioned + full-frame; exact BIGINT
    # sums, r13): cells is referenced exactly once — no eager
    # localCheckpoint job, no marginal aggregates, no broadcast joins;
    # the whole query is ONE job.
    return (
        cells.select(
            "*",
            F.sum("n").over(W.partitionBy("r")).cast("long").alias("rn"),
            F.sum("n").over(W.partitionBy("c")).cast("long").alias("cn"),
            F.sum("n").over(W.partitionBy()).cast("long").alias("total"),
        )
        .select(
            "r",
            "c",
            "n",
            F.round(
                F.expr("CAST(rn AS DOUBLE) * cn / total"), dp
            ).alias("expected"),
            F.round(
                F.expr(
                    "(n - CAST(rn AS DOUBLE) * cn / total)"
                    " / sqrt(CAST(rn AS DOUBLE) * cn / total)"
                ),
                dp,
            ).alias("std_residual"),
        )
    )


def chi_residuals_oracle_sql(
    table: str, row_sql: str, col_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `chi_residuals`."""
    return f"""
    WITH chr_cells AS (
        SELECT {row_sql} AS r, {col_sql} AS c,
               CAST(count(*) AS BIGINT) AS n
        FROM {table} GROUP BY 1, 2
    ),
    chr_rows AS (SELECT r, CAST(sum(n) AS BIGINT) AS rn FROM chr_cells
                 GROUP BY 1),
    chr_cols AS (SELECT c, CAST(sum(n) AS BIGINT) AS cn FROM chr_cells
                 GROUP BY 1),
    chr_tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM chr_cells)
    SELECT x.r, x.c, x.n,
           round(CAST(rn AS DOUBLE) * cn / total, {dp}) AS expected,
           round((x.n - CAST(rn AS DOUBLE) * cn / total)
                 / sqrt(CAST(rn AS DOUBLE) * cn / total), {dp})
               AS std_residual
    FROM chr_cells x
    JOIN chr_rows USING (r)
    JOIN chr_cols USING (c)
    CROSS JOIN chr_tot
    """


# --------------------------------------------------------------------------
# Serial-independence / homogeneity series desk (r13): von Neumann ratio,
# SNHT, Buishand range, permutation entropy — all over a BOUNDED daily
# series (the histogram-bounded discipline: day count caps every window).
# --------------------------------------------------------------------------


def _sq(c: Column) -> Column:
    """x*x, never pow(x, 2): JVM Math.pow and C libm disagree in the
    last ulp where the plain product is IEEE-exact (r9 lesson)."""
    return c * c


def von_neumann_ratio(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """von Neumann ratio of the daily series: eta = sum of squared
    successive differences / sum of squared deviations — the classic
    serial-independence screen (eta ~ 2 under independence, < 2 under
    positive autocorrelation) completing the randomness desk beside
    the runs test (signs) and Durbin-Watson (regression residuals;
    this is DW's raw-series ancestor). Output ONE row:
    (n_days, vn_ratio, vn_vs_null).

    ``v_col`` must be an exact BIGINT (k$ grain for daily revenue:
    sum-of-squares stays inside int64 to ~1e6 days x 1e6 k$/day —
    documented bound). Numerator and denominator are exact integer
    sums; the ratio is one double division rounded ``dp``.

    Scale shape (100 TB): the lag window orders the BOUNDED daily
    grain (unique day = total order), then ONE map-combined
    aggregate."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    lagged = df.select(
        v.alias("v"),
        F.lag(v).over(W.orderBy(F.col(day_col))).alias("pv"),
    )
    mom = lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("q"),
        F.sum(
            F.when(
                F.col("pv").isNotNull(),
                (F.col("v") - F.col("pv")) * (F.col("v") - F.col("pv")),
            ).otherwise(F.lit(0))
        ).cast("long").alias("d2"),
    )
    return mom.select(
        F.col("n").alias("n_days"),
        F.round(
            F.col("d2") / (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")),
            dp,
        ).alias("vn_ratio"),
        F.round(
            F.col("d2") / (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")) / 2.0,
            dp,
        ).alias("vn_vs_null"),
    )


def von_neumann_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `von_neumann_ratio`. ``series_sql`` yields
    (day, v BIGINT) one row per day."""
    return f"""
    WITH vnr_series AS ({series_sql}),
    vnr_lag AS (
        SELECT v, lag(v) OVER (ORDER BY day) AS pv FROM vnr_series
    ),
    vnr_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS q,
               CAST(sum(CASE WHEN pv IS NOT NULL
                             THEN (v - pv) * (v - pv) ELSE 0 END)
                    AS BIGINT) AS d2
        FROM vnr_lag
    )
    SELECT n AS n_days,
           round(d2 / (q - CAST(s AS DOUBLE) * s / n), {dp}) AS vn_ratio,
           round(d2 / (q - CAST(s AS DOUBLE) * s / n) / 2.0, {dp})
               AS vn_vs_null
    FROM vnr_mom
    """


def snht_test(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """Standard Normal Homogeneity Test (Alexandersson): T(t) =
    t*zbar1^2 + (n-t)*zbar2^2 maximized over split points — the
    level-shift locator tuned for breaks near the SERIES EDGES where
    Pettitt's rank statistic loses power (the two are the
    complementary pair of the homogeneity desk). Output ONE row:
    (n_days, break_day, snht_t).

    Mean/sd round ``dp`` once; each T(t) is exact prefix-sum algebra
    on BIGINTs divided by the rounded sd, re-rounded ``dp``; argmax
    ranks on the ROUNDED statistic with the day tiebreaker (the rank-
    on-rounded rule).

    Scale shape (100 TB): prefix sums over the BOUNDED daily grain
    (unique day = total order), one orderBy().limit(1) cut."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    ).select(
        "n",
        "s",
        F.round(F.col("s").cast("double") / F.col("n"), dp).alias("m"),
        F.round(
            F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            dp,
        ).alias("sd"),
    )
    pre = df.select(
        F.col(day_col).alias("day"),
        F.sum(v).over(
            W.orderBy(F.col(day_col)).rowsBetween(W.unboundedPreceding, 0)
        ).cast("long").alias("pf"),
        F.row_number().over(W.orderBy(F.col(day_col))).cast("long").alias("t"),
    )
    scored = (
        pre.crossJoin(F.broadcast(mom))
        .filter(F.col("t") < F.col("n"))
        .select(
            "day",
            "n",
            # x*x, never pow(x, 2): JVM Math.pow and C libm differ in
            # the last ulp (the r9 cross-engine lesson).
            F.round(
                F.col("t") * _sq((F.col("pf") / F.col("t") - F.col("m")) / F.col("sd"))
                + (F.col("n") - F.col("t"))
                * _sq(
                    ((F.col("s") - F.col("pf")) / (F.col("n") - F.col("t")) - F.col("m"))
                    / F.col("sd")
                ),
                dp,
            ).alias("snht_t"),
        )
    )
    return (
        scored.orderBy(F.col("snht_t").desc(), "day")
        .limit(1)
        .select(F.col("n").alias("n_days"), F.col("day").alias("break_day"), "snht_t")
    )


def snht_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `snht_test` over ``series_sql`` (day, v)."""
    return f"""
    WITH snh_series AS ({series_sql}),
    snh_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               round(CAST(sum(v) AS DOUBLE) / count(*), {dp}) AS m,
               round(sqrt((sum(v * v) - CAST(sum(v) AS DOUBLE) * sum(v)
                           / count(*)) / (count(*) - 1)), {dp}) AS sd
        FROM snh_series
    ),
    snh_pre AS (
        SELECT day,
               CAST(sum(v) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS pf,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM snh_series
    ),
    snh_scored AS (
        SELECT day, n,
               round(t * ((pf / t - m) / sd) * ((pf / t - m) / sd)
                     + (n - t) * (((s - pf) / (n - t) - m) / sd)
                       * (((s - pf) / (n - t) - m) / sd), {dp}) AS snht_t
        FROM snh_pre CROSS JOIN snh_mom
        WHERE t < n
    )
    SELECT n AS n_days, day AS break_day, snht_t
    FROM snh_scored
    ORDER BY snht_t DESC, day
    LIMIT 1
    """


def buishand_range(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """Buishand rescaled-range homogeneity statistic: partial sums of
    deviations S_t = prefix_t - t*mean, R = (max S - min S)/sd_pop,
    emitted as R/sqrt(n) — the cumulative-deviation member of the
    homogeneity desk (SNHT normalizes a split in z-units; Buishand
    reads the whole excursion envelope). Output ONE row:
    (n_days, r_stat, r_over_sqrt_n).

    Each S_t is exact-integer prefix algebra with ONE division
    (t*s/n); max/min over those deterministic doubles are order-free;
    sd_pop is one sqrt of exact-integer algebra. Rounds ``dp`` at
    emit only.

    Scale shape (100 TB): one prefix window over the BOUNDED daily
    grain + one map-combined reduce."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    )
    pre = df.select(
        F.sum(v).over(
            W.orderBy(F.col(day_col)).rowsBetween(W.unboundedPreceding, 0)
        ).cast("long").alias("pf"),
        F.row_number().over(W.orderBy(F.col(day_col))).cast("long").alias("t"),
    )
    sk = pre.crossJoin(F.broadcast(mom)).select(
        "n",
        "s",
        "q",
        (F.col("pf") - F.col("t") * F.col("s").cast("double") / F.col("n")).alias("sk"),
    )
    return sk.groupBy("n", "s", "q").agg(
        F.max("sk").alias("mx"), F.min("sk").alias("mn")
    ).select(
        F.col("n").alias("n_days"),
        F.round(
            (F.col("mx") - F.col("mn"))
            / F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / F.col("n")
            ),
            dp,
        ).alias("r_stat"),
        F.round(
            (F.col("mx") - F.col("mn"))
            / F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / F.col("n")
            )
            / F.sqrt(F.col("n").cast("double")),
            dp,
        ).alias("r_over_sqrt_n"),
    )


def buishand_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `buishand_range` over ``series_sql`` (day, v)."""
    return f"""
    WITH bui_series AS ({series_sql}),
    bui_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(v) AS BIGINT) AS s,
               CAST(sum(v * v) AS BIGINT) AS q
        FROM bui_series
    ),
    bui_pre AS (
        SELECT CAST(sum(v) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS pf,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM bui_series
    ),
    bui_sk AS (
        SELECT n, s, q, pf - t * CAST(s AS DOUBLE) / n AS sk
        FROM bui_pre CROSS JOIN bui_mom
    ),
    bui_env AS (
        SELECT n, s, q, max(sk) AS mx, min(sk) AS mn
        FROM bui_sk GROUP BY n, s, q
    )
    SELECT n AS n_days,
           round((mx - mn) / sqrt((q - CAST(s AS DOUBLE) * s / n) / n), {dp})
               AS r_stat,
           round((mx - mn) / sqrt((q - CAST(s AS DOUBLE) * s / n) / n)
                 / sqrt(CAST(n AS DOUBLE)), {dp}) AS r_over_sqrt_n
    FROM bui_env
    """


def permutation_entropy(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """Permutation entropy (Bandt-Pompe, order 3): Shannon entropy of
    the ordinal-pattern distribution of consecutive triples — the
    model-free complexity gauge of the series desk (spectral ops read
    periodicity, ACF reads linear memory; ordinal patterns catch
    nonlinear determinism and are immune to monotone rescaling).
    Ties get their own pattern classes (cmp in {lt,eq,gt} per pair =
    27 bounded classes). Output ONE row:
    (n_triples, n_patterns, perm_entropy, norm_entropy).

    Pattern codes are exact integer comparisons; p*ln(p) sums over
    <= 27 classes round ``dp`` (the vocabulary-bounded log-sum rule).

    Scale shape (100 TB): two lag windows over the BOUNDED daily
    grain, one 27-class aggregate."""
    from pyspark.sql import Window as W

    w = W.orderBy(F.col(day_col))
    v = F.col(v_col)
    trip = df.select(
        v.alias("c"),
        F.lag(v, 1).over(w).alias("b"),
        F.lag(v, 2).over(w).alias("a"),
    ).filter(F.col("a").isNotNull())

    def cmp(x, y):
        return F.when(x < y, F.lit(0)).when(x == y, F.lit(1)).otherwise(F.lit(2))

    coded = trip.select(
        (
            cmp(F.col("a"), F.col("b"))
            + cmp(F.col("b"), F.col("c")) * 3
            + cmp(F.col("a"), F.col("c")) * 9
        ).cast("long").alias("pattern")
    )
    hist = coded.groupBy("pattern").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n").alias("n_triples"),
            F.count(F.lit(1)).cast("long").alias("n_patterns"),
            F.round(
                -F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("n"))
                ),
                dp,
            ).alias("perm_entropy"),
            F.round(
                -F.sum(
                    (F.col("c").cast("double") / F.col("n"))
                    * F.log(F.col("c").cast("double") / F.col("n"))
                )
                / F.log(F.lit(6.0)),
                dp,
            ).alias("norm_entropy"),
        )
    )


def permutation_entropy_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `permutation_entropy` over ``series_sql``."""
    code = (
        "(CASE WHEN a < b THEN 0 WHEN a = b THEN 1 ELSE 2 END"
        " + 3 * (CASE WHEN b < c THEN 0 WHEN b = c THEN 1 ELSE 2 END)"
        " + 9 * (CASE WHEN a < c THEN 0 WHEN a = c THEN 1 ELSE 2 END))"
    )
    return f"""
    WITH pme_series AS ({series_sql}),
    pme_trip AS (
        SELECT v AS c,
               lag(v, 1) OVER (ORDER BY day) AS b,
               lag(v, 2) OVER (ORDER BY day) AS a
        FROM pme_series
    ),
    pme_coded AS (
        SELECT CAST({code} AS BIGINT) AS pattern
        FROM pme_trip WHERE a IS NOT NULL
    ),
    pme_hist AS (
        SELECT pattern, CAST(count(*) AS BIGINT) AS c
        FROM pme_coded GROUP BY 1
    ),
    pme_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pme_hist)
    SELECT max(n) AS n_triples,
           CAST(count(*) AS BIGINT) AS n_patterns,
           round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)),
                 {dp}) AS perm_entropy,
           round(-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                 / ln(6.0), {dp}) AS norm_entropy
    FROM pme_hist CROSS JOIN pme_tot
    """


# --------------------------------------------------------------------------
# Robust location (Huber) + errors-in-variables regression (Deming)
# --------------------------------------------------------------------------


def huber_m_location(df: DataFrame, units_col: str, dp: int = 6) -> DataFrame:
    """Huber M-estimator of location (k = 1.345, 2 IRLS rounds): the
    bounded-influence robust mean between the hard trim (q_trimmed_mean)
    and the smooth redescender (q_tukey_biweight) — inliers vote with
    weight 1, outliers with weight k*sd/|x - m| that decays but never
    vanishes. Output ONE row: (n, mean_raw, huber_mean).

    Same exactness scheme as `tukey_biweight`: integer round-0
    moments (mean/sd rounded ``dp``), per-row weights quantized to
    micro-units so each round's weighted sums are exact BIGINTs, and
    each center re-rounds ``dp`` before feeding the next round.
    ``units_col`` must keep w6*y inside int64 (dollar grain).

    Scale shape (100 TB): three map-combined aggregates, no window,
    no join."""
    y = F.col(units_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("s"),
        F.sum(y * y).cast("long").alias("q"),
    )
    m0sd = mom.select(
        "n",
        "s",
        F.round(F.expr("CAST(s AS DOUBLE) / n"), dp).alias("m"),
        F.round(
            F.expr("sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1))"), dp
        ).alias("sd"),
    )

    def one_round(center_col: str):
        au = F.abs(y - F.col(center_col)) / (F.lit(1.345) * F.col("sd"))
        w6 = F.when(au <= 1, F.lit(1_000_000)).otherwise(
            F.floor(F.lit(1_000_000.0) / au + F.lit(0.5))
        ).cast("long")
        return F.round(F.sum(w6 * y).cast("double") / F.sum(w6), dp)

    b = df.crossJoin(F.broadcast(m0sd))
    r1 = b.groupBy("n", "s", "m", "sd").agg(one_round("m").alias("m1"))
    b2 = df.crossJoin(F.broadcast(r1))
    out = b2.groupBy("n", "s", "m", "sd", "m1").agg(
        one_round("m1").alias("huber_mean")
    )
    return out.select(
        "n", F.expr("CAST(s AS DOUBLE) / n").alias("mean_raw"), "huber_mean"
    )


def huber_m_oracle_sql(table_sql: str, units_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `huber_m_location`."""

    def rnd(center):
        au = f"abs(({units_sql}) - {center}) / (1.345 * sd)"
        w6 = (
            f"CASE WHEN {au} <= 1 THEN CAST(1000000 AS BIGINT)"
            f" ELSE CAST(floor(1000000.0 / ({au}) + 0.5) AS BIGINT) END"
        )
        return (
            f"round(CAST(sum({w6} * ({units_sql})) AS DOUBLE)"
            f" / sum({w6}), {dp})"
        )

    return f"""
    WITH hub_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({units_sql}) AS BIGINT) AS s,
               CAST(sum(({units_sql}) * ({units_sql})) AS BIGINT) AS q
        FROM {table_sql}
    ),
    hub_seed AS (
        SELECT n, s,
               round(CAST(s AS DOUBLE) / n, {dp}) AS m,
               round(sqrt((q - CAST(s AS DOUBLE) * s / n) / (n - 1)), {dp})
                   AS sd
        FROM hub_mom
    ),
    hub_r1 AS (
        SELECT n, s, m, sd, {rnd("m")} AS m1
        FROM {table_sql} CROSS JOIN hub_seed
        GROUP BY n, s, m, sd
    ),
    hub_r2 AS (
        SELECT n, s, m1, {rnd("m1")} AS huber_mean
        FROM {table_sql} CROSS JOIN hub_r1
        GROUP BY n, s, m1, sd
    )
    SELECT n, CAST(s AS DOUBLE) / n AS mean_raw, huber_mean
    FROM hub_r2
    """


def deming_regression(
    df: DataFrame, x_col: str, y_col: str, dp: int = 6
) -> DataFrame:
    """Deming (errors-in-variables, lambda = 1) regression of y on x:
    the symmetric fit for when BOTH variables are measured with
    noise — OLS (q_grouped_ols_trend) attributes all error to y and
    biases the slope toward zero; Deming minimizes perpendicular
    distance. Closed form from second moments:
    slope = ((Syy - Sxx) + sqrt((Syy - Sxx)^2 + 4*Sxy^2)) / (2*Sxy).
    Output ONE row: (n, slope, intercept, pearson_r).

    ``x_col``/``y_col`` must be exact BIGINTs at grains whose cross
    and square sums fit int64 (documented per query). Centered
    moments are exact-integer algebra with single divisions; one
    sqrt; all emitted values round ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate."""
    x, y = F.col(x_col), F.col(y_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(y * y).cast("long").alias("syy"),
        F.sum(x * y).cast("long").alias("sxy"),
    )
    c = mom.select(
        "n",
        "sx",
        "sy",
        (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / F.col("n")).alias("cxx"),
        (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / F.col("n")).alias("cyy"),
        (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n")).alias("cxy"),
    )
    slope = (
        F.col("cyy")
        - F.col("cxx")
        + F.sqrt(
            _sq(F.col("cyy") - F.col("cxx")) + 4 * _sq(F.col("cxy"))
        )
    ) / (2 * F.col("cxy"))
    return c.select(
        "n",
        F.round(slope, dp).alias("slope"),
        F.round(
            F.col("sy").cast("double") / F.col("n")
            - slope * F.col("sx").cast("double") / F.col("n"),
            dp,
        ).alias("intercept"),
        F.round(
            F.col("cxy") / F.sqrt(F.col("cxx") * F.col("cyy")), dp
        ).alias("pearson_r"),
    )


def deming_oracle_sql(
    table_sql: str, x_sql: str, y_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `deming_regression`."""
    return f"""
    WITH dem_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({x_sql}) AS BIGINT) AS sx,
               CAST(sum({y_sql}) AS BIGINT) AS sy,
               CAST(sum(({x_sql}) * ({x_sql})) AS BIGINT) AS sxx,
               CAST(sum(({y_sql}) * ({y_sql})) AS BIGINT) AS syy,
               CAST(sum(({x_sql}) * ({y_sql})) AS BIGINT) AS sxy
        FROM {table_sql}
    ),
    dem_c AS (
        SELECT n, sx, sy,
               sxx - CAST(sx AS DOUBLE) * sx / n AS cxx,
               syy - CAST(sy AS DOUBLE) * sy / n AS cyy,
               sxy - CAST(sx AS DOUBLE) * sy / n AS cxy
        FROM dem_mom
    ),
    dem_s AS (
        SELECT n, sx, sy, cxx, cyy, cxy,
               (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)
                                 + 4 * cxy * cxy)) / (2 * cxy) AS sl
        FROM dem_c
    )
    SELECT n,
           round(sl, {dp}) AS slope,
           round(CAST(sy AS DOUBLE) / n - sl * CAST(sx AS DOUBLE) / n, {dp})
               AS intercept,
           round(cxy / sqrt(cxx * cyy), {dp}) AS pearson_r
    FROM dem_s
    """


# --------------------------------------------------------------------------
# Rank-based dispersion / within-block tests: Ansari-Bradley, Quade
# --------------------------------------------------------------------------


def ansari_bradley(
    df: DataFrame, flag_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Ansari-Bradley two-sample SCALE test: scores a_i =
    min(rank_i, N+1-rank_i) pile mass at the distribution edges, so
    the group-1 score sum drops when group 1 is MORE spread — the
    rank-based dispersion sibling of Brown-Forsythe (which compares
    centered means) and Mood's median test (which compares centers).
    Output ONE row: (n1, n2, ab_stat2, e_stat2, z).

    All-integer via the doubled-midrank trick: on the VALUE histogram
    (dedupe-before-window — only distinct values enter the rank
    window), 2*midrank = lo + hi is exact BIGINT even under ties, so
    score2 = min(r2, 2*(N+1) - r2) and every sum stays integer. The
    normal approximation uses the exact finite-population variance of
    a without-replacement draw from the observed score multiset
    (tie-correct by construction):
    Var = n1*n2*(Q2 - T2^2/N) / (N*(N-1)) on the score2 scale.
    sum(c*score2^2) <= N^3 — keep units <= ~2e6 rows (documented).

    Scale shape (100 TB): one value-histogram aggregate, one window
    over DISTINCT values, one map-combined reduce."""
    from pyspark.sql import Window as W

    hist = (
        df.groupBy(F.col(v_col).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.col(flag_col).cast("long")).cast("long").alias("c1"),
        )
    )
    cum = hist.select(
        "v",
        "c",
        "c1",
        (
            F.sum("c").over(
                W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
            )
            - F.col("c")
        ).cast("long").alias("before"),
    )
    tot = cum.agg(F.sum("c").cast("long").alias("nn"))
    scored = cum.crossJoin(F.broadcast(tot)).select(
        "c",
        "c1",
        "nn",
        F.least(
            2 * F.col("before") + F.col("c") + 1,
            2 * (F.col("nn") + 1) - (2 * F.col("before") + F.col("c") + 1),
        ).cast("long").alias("s2"),
    )
    agg = scored.agg(
        F.max("nn").alias("nn"),
        F.sum("c1").cast("long").alias("n1"),
        F.sum(F.col("c") * F.col("s2")).cast("long").alias("t2"),
        F.sum(F.col("c") * F.col("s2") * F.col("s2")).cast("long").alias("q2"),
        F.sum(F.col("c1") * F.col("s2")).cast("long").alias("a2"),
    )
    return agg.select(
        F.col("n1"),
        (F.col("nn") - F.col("n1")).alias("n2"),
        F.col("a2").alias("ab_stat2"),
        F.round(
            F.col("n1") * F.col("t2").cast("double") / F.col("nn"), dp
        ).alias("e_stat2"),
        F.round(
            (F.col("a2") - F.col("n1") * F.col("t2").cast("double") / F.col("nn"))
            / F.sqrt(
                F.col("n1").cast("double")
                * (F.col("nn") - F.col("n1"))
                * (F.col("q2") - F.col("t2").cast("double") * F.col("t2") / F.col("nn"))
                / (F.col("nn").cast("double") * (F.col("nn") - 1))
            ),
            dp,
        ).alias("z"),
    )


def ansari_bradley_oracle_sql(
    units_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `ansari_bradley`. ``units_sql`` yields one
    row per unit with BIGINT ``v`` and 0/1 ``flag``."""
    return f"""
    WITH anb_units AS ({units_sql}),
    anb_hist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c,
               CAST(sum(flag) AS BIGINT) AS c1
        FROM anb_units GROUP BY 1
    ),
    anb_cum AS (
        SELECT v, c, c1,
               CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
                   AS BIGINT) AS before
        FROM anb_hist
    ),
    anb_tot AS (SELECT CAST(sum(c) AS BIGINT) AS nn FROM anb_hist),
    anb_scored AS (
        SELECT c, c1, nn,
               least(2 * before + c + 1,
                     2 * (nn + 1) - (2 * before + c + 1)) AS s2
        FROM anb_cum CROSS JOIN anb_tot
    ),
    anb_agg AS (
        SELECT max(nn) AS nn,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c * s2) AS BIGINT) AS t2,
               CAST(sum(c * s2 * s2) AS BIGINT) AS q2,
               CAST(sum(c1 * s2) AS BIGINT) AS a2
        FROM anb_scored
    )
    SELECT n1, nn - n1 AS n2, a2 AS ab_stat2,
           round(n1 * CAST(t2 AS DOUBLE) / nn, {dp}) AS e_stat2,
           round((a2 - n1 * CAST(t2 AS DOUBLE) / nn)
                 / sqrt(CAST(n1 AS DOUBLE) * (nn - n1)
                        * (q2 - CAST(t2 AS DOUBLE) * t2 / nn)
                        / (CAST(nn AS DOUBLE) * (nn - 1))), {dp}) AS z
    FROM anb_agg
    """


def quade_test(
    df: DataFrame, block_col: str, treat_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Quade within-block test: Friedman's block-ranked comparison,
    but blocks VOTE with weight = rank of their value RANGE, so
    high-signal blocks dominate — the power upgrade when block
    effects differ in magnitude (q_friedman_test treats all blocks
    equally). Output ONE row: (n_blocks, k_treatments, quade_f,
    df_num, df_den).

    All-integer doubled-midrank algebra at BOTH levels: within-block
    cell ranks r2 = 2*cnt_lt + cnt_eq + 1 from the bounded k x k
    pair join; block-range ranks Q2 the same way over blocks. The
    scaled scores S4 = Q2*(r2 - (k+1)) are exact BIGINTs; the F
    statistic's x16 scale cancels exactly in (b-1)*B/(A-B).

    Scale shape (100 TB): cells are a (block x treatment)-bounded
    aggregate; both rank joins are bounded self-joins on that grain."""
    cells = df.groupBy(
        F.col(block_col).alias("blk"), F.col(treat_col).alias("trt")
    ).agg(F.sum(F.col(v_col)).cast("long").alias("val"))
    cells = cells.transform(hold)  # re-read by both rank joins
    # bounded driver actions: distinct treatment / block counts are
    # grid-sized scalars (k x b cells), needed as Python ints for the
    # F-statistic's literal degrees of freedom.
    k_treat = cells.select("trt").distinct().count()
    # within-block doubled midranks from the bounded k x k pair join
    pairs = cells.alias("a").join(cells.alias("b"), F.col("a.blk") == F.col("b.blk"))
    r2 = pairs.groupBy(
        F.col("a.blk").alias("blk"), F.col("a.trt").alias("trt"),
        F.col("a.val").alias("val"),
    ).agg(
        (
            2 * F.sum((F.col("b.val") < F.col("a.val")).cast("long"))
            + F.sum((F.col("b.val") == F.col("a.val")).cast("long"))
            + 1
        ).cast("long").alias("r2")
    )
    rng = cells.groupBy("blk").agg(
        (F.max("val") - F.min("val")).cast("long").alias("rng")
    )
    rpairs = rng.alias("a").crossJoin(rng.alias("b"))
    q2 = rpairs.groupBy(F.col("a.blk").alias("blk"), F.col("a.rng").alias("rng")).agg(
        (
            2 * F.sum((F.col("b.rng") < F.col("a.rng")).cast("long"))
            + F.sum((F.col("b.rng") == F.col("a.rng")).cast("long"))
            + 1
        ).cast("long").alias("q2")
    )
    s4 = r2.join(q2, "blk").select(
        "blk",
        "trt",
        (F.col("q2") * (F.col("r2") - F.lit(k_treat + 1))).cast("long").alias("s4"),
    )
    b_cnt = s4.select("blk").distinct().count()  # bounded (see above)
    per_t = s4.groupBy("trt").agg(F.sum("s4").cast("long").alias("st"))
    a4 = s4.agg(F.sum(F.col("s4") * F.col("s4")).cast("long").alias("a4"))
    b4 = per_t.agg(
        (F.sum(F.col("st").cast("double") * F.col("st")) / F.lit(float(b_cnt))).alias("b4")
    )
    return a4.crossJoin(b4).select(
        F.lit(b_cnt).cast("long").alias("n_blocks"),
        F.lit(k_treat).cast("long").alias("k_treatments"),
        F.round(
            F.lit(float(b_cnt - 1)) * F.col("b4") / (F.col("a4") - F.col("b4")), dp
        ).alias("quade_f"),
        F.lit(k_treat - 1).cast("long").alias("df_num"),
        F.lit((b_cnt - 1) * (k_treat - 1)).cast("long").alias("df_den"),
    )


def quade_oracle_sql(cells_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `quade_test`. ``cells_sql`` yields one row
    per (blk, trt) with BIGINT ``val``."""
    return f"""
    WITH qde_cells AS ({cells_sql}),
    qde_k AS (SELECT CAST(count(DISTINCT trt) AS BIGINT) AS k FROM qde_cells),
    qde_b AS (SELECT CAST(count(DISTINCT blk) AS BIGINT) AS b FROM qde_cells),
    qde_r2 AS (
        SELECT a.blk, a.trt,
               CAST(2 * sum(CASE WHEN b.val < a.val THEN 1 ELSE 0 END)
                    + sum(CASE WHEN b.val = a.val THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS r2
        FROM qde_cells a JOIN qde_cells b ON a.blk = b.blk
        GROUP BY a.blk, a.trt, a.val
    ),
    qde_rng AS (
        SELECT blk, CAST(max(val) - min(val) AS BIGINT) AS rng
        FROM qde_cells GROUP BY 1
    ),
    qde_q2 AS (
        SELECT a.blk,
               CAST(2 * sum(CASE WHEN b.rng < a.rng THEN 1 ELSE 0 END)
                    + sum(CASE WHEN b.rng = a.rng THEN 1 ELSE 0 END) + 1
                    AS BIGINT) AS q2
        FROM qde_rng a CROSS JOIN qde_rng b
        GROUP BY a.blk, a.rng
    ),
    qde_s4 AS (
        SELECT r.blk, r.trt,
               CAST(q.q2 * (r.r2 - (k + 1)) AS BIGINT) AS s4
        FROM qde_r2 r JOIN qde_q2 q ON r.blk = q.blk CROSS JOIN qde_k
    ),
    qde_a AS (SELECT CAST(sum(s4 * s4) AS BIGINT) AS a4 FROM qde_s4),
    qde_bb AS (
        SELECT sum(CAST(st AS DOUBLE) * st) / max(b) AS b4
        FROM (SELECT trt, CAST(sum(s4) AS BIGINT) AS st
              FROM qde_s4 GROUP BY 1) CROSS JOIN qde_b
    )
    SELECT b AS n_blocks, k AS k_treatments,
           round((b - 1) * b4 / (a4 - b4), {dp}) AS quade_f,
           k - 1 AS df_num, (b - 1) * (k - 1) AS df_den
    FROM qde_a CROSS JOIN qde_bb CROSS JOIN qde_k CROSS JOIN qde_b
    """


# --------------------------------------------------------------------------
# Distribution-fitting desk (r13): gamma / lognormal / beta moment fits,
# Weibull EDF regression — parametric summaries for capacity planning and
# synthetic-data calibration, all from exact integer moments or
# vocabulary-bounded log sums.
# --------------------------------------------------------------------------


def gamma_moments_fit(
    df: DataFrame, group_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Per-group gamma method-of-moments fit: shape = mean^2/var,
    rate = mean/var — the workhorse positive-skew model for spend
    and latency columns (q_negbin_fit is its count-data sibling;
    q_gumbel_maxima models the MAXIMA where this models the body).
    Output one row per group: (grp, n, mean_v, shape_hat, rate_hat).

    Integer moments (``v_col`` BIGINT; grain must keep sum(v^2)
    inside int64 — dollars for money), single divisions, round
    ``dp`` on fitted params.

    Scale shape (100 TB): ONE map-combined group aggregate."""
    v = F.col(v_col)
    mom = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")) / (
        F.col("n") - 1
    )
    return mom.select(
        "grp",
        "n",
        F.round(mean, dp).alias("mean_v"),
        F.round(mean * mean / var, dp).alias("shape_hat"),
        F.round(mean / var, dp).alias("rate_hat"),
    ).orderBy("grp")


def gamma_fit_oracle_sql(
    table: str, group_sql: str, v_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `gamma_moments_fit`."""
    return f"""
    WITH gmf_mom AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum({v_sql}) AS BIGINT) AS s,
               CAST(sum(({v_sql}) * ({v_sql})) AS BIGINT) AS q
        FROM {table} GROUP BY 1
    )
    SELECT grp, n,
           round(CAST(s AS DOUBLE) / n, {dp}) AS mean_v,
           round((CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)
                 / ((q - CAST(s AS DOUBLE) * s / n) / (n - 1)), {dp})
               AS shape_hat,
           round((CAST(s AS DOUBLE) / n)
                 / ((q - CAST(s AS DOUBLE) * s / n) / (n - 1)), {dp})
               AS rate_hat
    FROM gmf_mom
    ORDER BY grp
    """


def lognormal_fit(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """Lognormal fit of a SMALL-VOCABULARY positive integer column:
    mu/sigma of ln(v) via the value histogram — the multiplicative-
    process model (order quantities, file sizes in pages) beside the
    gamma fit's additive one. Output ONE row:
    (n, n_distinct, mu_log, sigma_log).

    The log sum runs over DISTINCT values only (vocabulary-bounded
    log-sum rule: ~50 ln() terms, accumulation noise ~1e-8 << the
    ``dp`` rounding), weighted by exact BIGINT counts.

    Scale shape (100 TB): one histogram aggregate, one bounded
    reduce."""
    hist = df.groupBy(F.col(v_col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("c") * F.log(F.col("v").cast("double"))).alias("sl"),
        F.sum(
            F.col("c") * _sq(F.log(F.col("v").cast("double")))
        ).alias("ql"),
    ).select(
        "n",
        "n_distinct",
        F.round(F.col("sl") / F.col("n"), dp).alias("mu_log"),
        F.round(
            F.sqrt(
                (F.col("ql") - F.col("sl") * F.col("sl") / F.col("n"))
                / (F.col("n") - 1)
            ),
            dp,
        ).alias("sigma_log"),
    )


def lognormal_fit_oracle_sql(table: str, v_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `lognormal_fit`."""
    return f"""
    WITH lnf_hist AS (
        SELECT {v_sql} AS v, CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
    ),
    lnf_mom AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_distinct,
               sum(c * ln(CAST(v AS DOUBLE))) AS sl,
               sum(c * ln(CAST(v AS DOUBLE)) * ln(CAST(v AS DOUBLE))) AS ql
        FROM lnf_hist
    )
    SELECT n, n_distinct,
           round(sl / n, {dp}) AS mu_log,
           round(sqrt((ql - sl * sl / n) / (n - 1)), {dp}) AS sigma_log
    FROM lnf_mom
    """


def beta_moments_fit(
    df: DataFrame, pct_col: str, scale: int = 100, dp: int = 6
) -> DataFrame:
    """Beta method-of-moments fit of a bounded-fraction column stored
    at an integer grain (``pct_col`` = fraction * ``scale``):
    alpha = m*(m(1-m)/var - 1), beta = (1-m)*(same) — the canonical
    model for rates/discounts/shares that OLS-style normal summaries
    misstate near the [0,1] walls. Output ONE row:
    (n, mean_frac, alpha_hat, beta_hat).

    Integer moments on the grain column; the fraction's mean and
    variance are exact rescalings (/scale, /scale^2); round ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate."""
    v = F.col(pct_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    )
    m = F.col("s").cast("double") / F.col("n") / F.lit(float(scale))
    var = (
        (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
        / (F.col("n") - 1)
        / F.lit(float(scale * scale))
    )
    nu = m * (1 - m) / var - 1
    return mom.select(
        "n",
        F.round(m, dp).alias("mean_frac"),
        F.round(m * nu, dp).alias("alpha_hat"),
        F.round((1 - m) * nu, dp).alias("beta_hat"),
    )


def beta_fit_oracle_sql(
    table: str, pct_sql: str, scale: int = 100, dp: int = 6
) -> str:
    """DuckDB mirror of `beta_moments_fit`."""
    m = f"(CAST(s AS DOUBLE) / n / {scale})"
    var = f"((q - CAST(s AS DOUBLE) * s / n) / (n - 1) / {scale * scale})"
    nu = f"({m} * (1 - {m}) / {var} - 1)"
    return f"""
    WITH btf_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({pct_sql}) AS BIGINT) AS s,
               CAST(sum(({pct_sql}) * ({pct_sql})) AS BIGINT) AS q
        FROM {table}
    )
    SELECT n,
           round({m}, {dp}) AS mean_frac,
           round({m} * {nu}, {dp}) AS alpha_hat,
           round((1 - {m}) * {nu}, {dp}) AS beta_hat
    FROM btf_mom
    """


def weibull_edf_fit(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """Weibull fit via the linearized EDF (the classic probability-
    plot regression): ln(-ln(1 - F(v))) is linear in ln(v) with slope
    = shape — the reliability/duration model beside the gamma/
    lognormal body fits (its hazard is monotone by shape). Output
    ONE row: (n, n_points, shape_hat, ln_scale_hat) where
    ln_scale_hat = -intercept/shape (exp() is deliberately NOT taken:
    cross-engine exp drift — consumers exponentiate client-side).

    EDF points live on the DISTINCT-value histogram (midpoint-free
    right-continuous F = cum/n, top point F = 1 excluded); OLS over
    the <= vocabulary-sized points in double, rounded ``dp``.

    Scale shape (100 TB): one histogram aggregate, one bounded
    window over distinct values, one bounded reduce."""
    from pyspark.sql import Window as W

    hist = df.groupBy(F.col(v_col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = hist.select(
        "v",
        F.sum("c").over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
        ).cast("long").alias("cum"),
    )
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    pts = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("cum") < F.col("n"))
        .select(
            "n",
            F.log(F.col("v").cast("double")).alias("x"),
            F.log(
                -F.log(
                    (F.col("n") - F.col("cum")).cast("double") / F.col("n")
                )
            ).alias("y"),
        )
    )
    ols = pts.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("m")
    return ols.select(
        F.col("n"),
        F.col("m").alias("n_points"),
        F.round(slope, dp).alias("shape_hat"),
        F.round(-intercept / slope, dp).alias("ln_scale_hat"),
    )


def weibull_fit_oracle_sql(table: str, v_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `weibull_edf_fit`."""
    return f"""
    WITH wbf_hist AS (
        SELECT {v_sql} AS v, CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
    ),
    wbf_cum AS (
        SELECT v, CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM wbf_hist
    ),
    wbf_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM wbf_hist),
    wbf_pts AS (
        SELECT n, ln(CAST(v AS DOUBLE)) AS x,
               ln(-ln(CAST(n - cum AS DOUBLE) / n)) AS y
        FROM wbf_cum CROSS JOIN wbf_tot
        WHERE cum < n
    ),
    wbf_ols AS (
        SELECT n, CAST(count(*) AS BIGINT) AS m,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM wbf_pts GROUP BY n
    )
    SELECT n, m AS n_points,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), {dp})
               AS shape_hat,
           round(-((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m)
                 / ((m * sxy - sx * sy) / (m * sxx - sx * sx)), {dp})
               AS ln_scale_hat
    FROM wbf_ols
    """


# --------------------------------------------------------------------------
# Inequality / growth / survey-design econ desk (r13)
# --------------------------------------------------------------------------


def palma_hoover(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """Palma ratio + Hoover index of a per-unit spend distribution:
    Palma = mass share of the top decile / mass share of the bottom
    four deciles (the tail-vs-base readout Gini compresses away);
    Hoover = the fraction of total mass that would have to move to
    equalize everyone (the 'Robin Hood' index). Output ONE row:
    (n_units, thr_top, thr_bot, palma, hoover).

    VALUE-threshold decile semantics like `top_share` (all units
    tied at a threshold land on one side — no rank tiebreak to
    drift), percentile_disc thresholds off the per-unit value
    histogram via the two-stage bucket-offset machinery. Hoover's
    numerator is sum(c * |n*v - s|) — exact BIGINT inner terms
    (|n*v - s| <= n*max(v): dollars grain to ~1e7 units x 1e7
    dollars, documented). Both emit as single exact divisions
    rounded ``dp``.

    Scale shape (100 TB): one unit aggregate, one histogram pass,
    bucketed prefix machinery, two broadcast threshold scalars, one
    map-combined fence reduce."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    hist = (
        df.groupBy(F.col(v_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # value histogram; bounds + bucketing re-read
    )
    cb = _bounded_cum_before(hist, F.col("c"))
    tot = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("v")).cast("long").alias("s"),
    )
    cum = cb.crossJoin(F.broadcast(tot))
    # cum_before is monotone in v, so both percentile fences and both
    # fenced sums fold into ONE aggregate over cum (the q_top_share
    # collapse; each former thr subquery re-derived the whole bucket
    # machinery): v >= thr_top <=> 100*(cum_before+c) >= 90*n and
    # v <= thr_bot <=> 100*cum_before < 40*n — identical row sets,
    # identical BIGINT addends (long sums are order-exact).
    is_top = 100 * (F.col("cum_before") + F.col("c")) >= 90 * F.col("n")
    is_bot = 100 * F.col("cum_before") < 40 * F.col("n")
    return cum.agg(
        F.max("n").alias("n_units"),
        F.min(F.when(is_top, F.col("v"))).cast("long").alias("thr_top"),
        F.min(
            F.when(
                100 * (F.col("cum_before") + F.col("c")) >= 40 * F.col("n"),
                F.col("v"),
            )
        )
        .cast("long")
        .alias("thr_bot"),
        F.round(
            F.sum(
                F.when(is_top, F.col("c") * F.col("v")).otherwise(0)
            ).cast("double")
            / F.sum(
                F.when(is_bot, F.col("c") * F.col("v")).otherwise(0)
            ),
            dp,
        ).alias("palma"),
        F.round(
            F.sum(
                F.col("c") * F.abs(F.col("n") * F.col("v") - F.col("s"))
            ).cast("double")
            / (2.0 * F.max("n") * F.max("s")),
            dp,
        ).alias("hoover"),
    )


def palma_hoover_oracle_sql(units_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `palma_hoover`. ``units_sql`` yields one row
    per unit with BIGINT ``v``."""
    return f"""
    WITH plh_units AS ({units_sql}),
    plh_hist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c
        FROM plh_units GROUP BY 1
    ),
    plh_tot AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * v) AS BIGINT) AS s
        FROM plh_hist
    ),
    plh_cum AS (
        SELECT v, c, n,
               CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM plh_hist CROSS JOIN plh_tot
    ),
    plh_top AS (
        SELECT CAST(min(v) AS BIGINT) AS thr_top FROM plh_cum
        WHERE 100 * cum >= 90 * n
    ),
    plh_bot AS (
        SELECT CAST(min(v) AS BIGINT) AS thr_bot FROM plh_cum
        WHERE 100 * cum >= 40 * n
    )
    SELECT n AS n_units, thr_top, thr_bot,
           round((SELECT CAST(sum(c * v) AS DOUBLE) FROM plh_hist
                  WHERE v >= thr_top)
                 / (SELECT CAST(sum(c * v) AS DOUBLE) FROM plh_hist
                    WHERE v <= thr_bot), {dp}) AS palma,
           round((SELECT CAST(sum(c * abs(n * v - s)) AS DOUBLE)
                  FROM plh_hist) / (2.0 * n * s), {dp}) AS hoover
    FROM plh_tot CROSS JOIN plh_top CROSS JOIN plh_bot
    """


def log_cagr(
    df: DataFrame, group_col: str, year_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Per-group log-CAGR: ln(last-year value / first-year value) /
    (year span) — the compound growth readout of the growth desk
    (q_growth_accounting decomposes WHO grew; this compresses each
    segment's trajectory to one rate). Emitted in log units
    (exp() is deliberately NOT taken: cross-engine exp drift —
    consumers exponentiate client-side). Output one row per group:
    (grp, y_first, y_last, v_first, v_last, ln_cagr).

    One ln() of an exact integer ratio per group, rounded ``dp``.

    Scale shape (100 TB): one (group x year)-bounded aggregate, two
    broadcast-joined endpoint lookups."""
    yearly = df.groupBy(
        F.col(group_col).alias("grp"), F.col(year_col).alias("y")
    ).agg(F.sum(F.col(v_col)).cast("long").alias("v"))
    yearly = yearly.transform(hold)  # endpoints + both lookups re-read
    ends = yearly.groupBy("grp").agg(
        F.min("y").cast("long").alias("y_first"),
        F.max("y").cast("long").alias("y_last"),
    )
    first = yearly.select(
        F.col("grp"), F.col("y").alias("y_first"), F.col("v").alias("v_first")
    )
    last = yearly.select(
        F.col("grp"), F.col("y").alias("y_last"), F.col("v").alias("v_last")
    )
    return (
        ends.join(first, ["grp", "y_first"])
        .join(last, ["grp", "y_last"])
        .select(
            "grp",
            "y_first",
            "y_last",
            "v_first",
            "v_last",
            F.round(
                F.log(F.col("v_last").cast("double") / F.col("v_first"))
                / (F.col("y_last") - F.col("y_first")),
                dp,
            ).alias("ln_cagr"),
        )
        .orderBy("grp")
    )


def log_cagr_oracle_sql(
    table: str, group_sql: str, year_sql: str, v_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `log_cagr`."""
    return f"""
    WITH lcg_yearly AS (
        SELECT {group_sql} AS grp, CAST({year_sql} AS BIGINT) AS y,
               CAST(sum({v_sql}) AS BIGINT) AS v
        FROM {table} GROUP BY 1, 2
    ),
    lcg_ends AS (
        SELECT grp, CAST(min(y) AS BIGINT) AS y_first,
               CAST(max(y) AS BIGINT) AS y_last
        FROM lcg_yearly GROUP BY 1
    )
    SELECT e.grp, e.y_first, e.y_last,
           f.v AS v_first, l.v AS v_last,
           round(ln(CAST(l.v AS DOUBLE) / f.v) / (e.y_last - e.y_first),
                 {dp}) AS ln_cagr
    FROM lcg_ends e
    JOIN lcg_yearly f ON f.grp = e.grp AND f.y = e.y_first
    JOIN lcg_yearly l ON l.grp = e.grp AND l.y = e.y_last
    ORDER BY e.grp
    """


def neyman_allocation(
    df: DataFrame, stratum_col: str, v_col: str, sample_n: int = 1000, dp: int = 6
) -> DataFrame:
    """Neyman optimal allocation of a fixed survey budget across
    strata: n_h proportional to N_h * sd_h — minimum-variance
    stratified sampling, the DESIGN-side complement of the repo's
    samplers (q_per_group_sample balances counts; Neyman says what
    the counts SHOULD be). Output one row per stratum:
    (stratum, n_h, sd_h, share, alloc).

    Per-stratum sd from exact integer moments (one sqrt); the
    normalizing sum spans the BOUNDED stratum vocabulary; share and
    alloc = sample_n * share round ``dp``.

    Scale shape (100 TB): ONE map-combined group aggregate + a
    broadcast 1-row normalizer."""
    v = F.col(v_col)
    mom = df.groupBy(F.col(stratum_col).alias("stratum")).agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    )
    sd = F.sqrt(
        (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n_h"))
        / (F.col("n_h") - 1)
    )
    w = mom.select("stratum", "n_h", (F.col("n_h") * sd).alias("w"), sd.alias("sd"))
    tot = w.agg(F.sum("w").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n_h",
            F.round("sd", dp).alias("sd_h"),
            F.round(F.col("w") / F.col("tw"), dp).alias("share"),
            F.round(F.lit(float(sample_n)) * F.col("w") / F.col("tw"), dp).alias(
                "alloc"
            ),
        )
        .orderBy("stratum")
    )


def neyman_oracle_sql(
    table: str, stratum_sql: str, v_sql: str, sample_n: int = 1000, dp: int = 6
) -> str:
    """DuckDB mirror of `neyman_allocation`."""
    return f"""
    WITH nye_mom AS (
        SELECT {stratum_sql} AS stratum,
               CAST(count(*) AS BIGINT) AS n_h,
               CAST(sum({v_sql}) AS BIGINT) AS s,
               CAST(sum(({v_sql}) * ({v_sql})) AS BIGINT) AS q
        FROM {table} GROUP BY 1
    ),
    nye_w AS (
        SELECT stratum, n_h,
               sqrt((q - CAST(s AS DOUBLE) * s / n_h) / (n_h - 1)) AS sd,
               n_h * sqrt((q - CAST(s AS DOUBLE) * s / n_h) / (n_h - 1)) AS w
        FROM nye_mom
    ),
    nye_tot AS (SELECT sum(w) AS tw FROM nye_w)
    SELECT stratum, n_h,
           round(sd, {dp}) AS sd_h,
           round(w / tw, {dp}) AS share,
           round({sample_n}.0 * w / tw, {dp}) AS alloc
    FROM nye_w CROSS JOIN nye_tot
    ORDER BY stratum
    """


# --------------------------------------------------------------------------
# Agreement / method-comparison desk (r13): ICC(2,1), Bland-Altman,
# Krippendorff's alpha — completing the rater-reliability family around
# Cohen/Fleiss/quadratic-weighted kappa.
# --------------------------------------------------------------------------


def icc_two_way(
    df: DataFrame, rating_cols: tuple[str, ...], dp: int = 6
) -> DataFrame:
    """ICC(2,1): two-way random-effects single-rater intraclass
    correlation — the NUMERIC-rating reliability coefficient the
    kappa family (nominal/ordinal) can't express, with rater bias
    split out as its own variance component (MSC). ``rating_cols``
    hold each rater's small-integer rating per subject. Output ONE
    row: (n_subjects, n_raters, msr, msc, mse, icc21).

    All sums are in-row integer algebra (per-subject sum/sum-of-
    squares computed inside the row, no rater fan-out) feeding ONE
    aggregate; the ANOVA decomposition is exact divisions of exact
    BIGINTs, rounded ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate; no join, no
    window, no explode."""
    k = len(rating_cols)
    si = None
    qi = None
    for c in rating_cols:
        v = F.col(c).cast("long")
        si = v if si is None else si + v
        qi = v * v if qi is None else qi + v * v
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(si).cast("long").alias("t"),
        F.sum(si * si).cast("long").alias("ss2"),
        F.sum(qi).cast("long").alias("q"),
    ]
    for j, c in enumerate(rating_cols):
        aggs.append(F.sum(F.col(c).cast("long")).cast("long").alias(f"r{j}"))
    mom = df.agg(*aggs)
    rr = " + ".join(f"CAST(r{j} AS DOUBLE) * r{j}" for j in range(k))
    kk = float(k)
    expr = mom.select(
        "n",
        F.expr(f"q - CAST(t AS DOUBLE) * t / (n * {kk})").alias("sstot"),
        F.expr(f"CAST(ss2 AS DOUBLE) / {kk} - CAST(t AS DOUBLE) * t / (n * {kk})").alias("ssr"),
        F.expr(f"({rr}) / n - CAST(t AS DOUBLE) * t / (n * {kk})").alias("ssc"),
    )
    msr = F.col("ssr") / (F.col("n") - 1)
    msc = F.col("ssc") / F.lit(kk - 1)
    mse = (F.col("sstot") - F.col("ssr") - F.col("ssc")) / (
        (F.col("n") - 1) * F.lit(kk - 1)
    )
    return expr.select(
        F.col("n").alias("n_subjects"),
        F.lit(k).cast("long").alias("n_raters"),
        F.round(msr, dp).alias("msr"),
        F.round(msc, dp).alias("msc"),
        F.round(mse, dp).alias("mse"),
        F.round(
            (msr - mse)
            / (msr + F.lit(kk - 1) * mse + F.lit(kk) * (msc - mse) / F.col("n")),
            dp,
        ).alias("icc21"),
    )


def icc_oracle_sql(
    subjects_sql: str, rating_cols: tuple[str, ...], dp: int = 6
) -> str:
    """DuckDB mirror of `icc_two_way`. ``subjects_sql`` yields one
    row per subject with the rating columns."""
    k = len(rating_cols)
    si = " + ".join(rating_cols)
    qi = " + ".join(f"({c}) * ({c})" for c in rating_cols)
    rsums = ", ".join(
        f"CAST(sum({c}) AS BIGINT) AS r{j}" for j, c in enumerate(rating_cols)
    )
    rr = " + ".join(f"CAST(r{j} AS DOUBLE) * r{j}" for j in range(k))
    return f"""
    WITH icc_subj AS ({subjects_sql}),
    icc_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({si}) AS BIGINT) AS t,
               CAST(sum(({si}) * ({si})) AS BIGINT) AS ss2,
               CAST(sum({qi}) AS BIGINT) AS q,
               {rsums}
        FROM icc_subj
    ),
    icc_ss AS (
        SELECT n,
               q - CAST(t AS DOUBLE) * t / (n * {k}.0) AS sstot,
               CAST(ss2 AS DOUBLE) / {k}.0
                   - CAST(t AS DOUBLE) * t / (n * {k}.0) AS ssr,
               ({rr}) / n - CAST(t AS DOUBLE) * t / (n * {k}.0) AS ssc
        FROM icc_mom
    ),
    icc_ms AS (
        SELECT n,
               ssr / (n - 1) AS msr,
               ssc / {k - 1}.0 AS msc,
               (sstot - ssr - ssc) / ((n - 1) * {k - 1}.0) AS mse
        FROM icc_ss
    )
    SELECT n AS n_subjects, CAST({k} AS BIGINT) AS n_raters,
           round(msr, {dp}) AS msr, round(msc, {dp}) AS msc,
           round(mse, {dp}) AS mse,
           round((msr - mse) / (msr + {k - 1}.0 * mse
                                + {k}.0 * (msc - mse) / n), {dp}) AS icc21
    FROM icc_ms
    """


def bland_altman(df: DataFrame, x_col: str, y_col: str, dp: int = 6) -> DataFrame:
    """Bland-Altman limits of agreement between two measurements of
    the same quantity: mean difference (bias), sd of differences,
    mean +/- 1.96 sd limits, and how many pairs escape them — the
    method-comparison readout correlation can't give (two methods
    can correlate 0.99 and still disagree by a constant).
    Output ONE row: (n, mean_diff, sd_diff, loa_lo, loa_hi,
    n_outside, pct_outside).

    ``x_col``/``y_col`` exact BIGINTs (dollar grain; sum(d^2) inside
    int64 documented per query). Limits round ``dp`` BEFORE the
    fence count so both engines compare identical operands against
    integer differences.

    Scale shape (100 TB): one moment aggregate + one broadcast
    fence reduce."""
    d = (F.col(x_col) - F.col(y_col)).cast("long")
    base = df.select(d.alias("d"))
    mom = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("s"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("q"),
    ).select(
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), dp).alias("mean_diff"),
        F.round(
            F.sqrt(
                (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n"))
                / (F.col("n") - 1)
            ),
            dp,
        ).alias("sd_diff"),
    ).select(
        "n",
        "mean_diff",
        "sd_diff",
        F.round(F.col("mean_diff") - 1.96 * F.col("sd_diff"), dp).alias("loa_lo"),
        F.round(F.col("mean_diff") + 1.96 * F.col("sd_diff"), dp).alias("loa_hi"),
    )
    return (
        base.crossJoin(F.broadcast(mom))
        .groupBy("n", "mean_diff", "sd_diff", "loa_lo", "loa_hi")
        .agg(
            F.sum(
                ((F.col("d") < F.col("loa_lo")) | (F.col("d") > F.col("loa_hi")))
                .cast("long")
            ).cast("long").alias("n_outside")
        )
        .select(
            "n",
            "mean_diff",
            "sd_diff",
            "loa_lo",
            "loa_hi",
            "n_outside",
            # raw BIGINT/BIGINT ratio: IEEE division of identical
            # integers is bit-identical on both engines — rounding it
            # would only ADD a cross-engine half-way hazard (the
            # round-of-integer-ratio lint class)
            (F.col("n_outside").cast("double") / F.col("n")).alias(
                "pct_outside"
            ),
        )
    )


def bland_altman_oracle_sql(pairs_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `bland_altman`. ``pairs_sql`` yields one row
    per pair with BIGINT ``x`` and ``y``."""
    return f"""
    WITH bla_pairs AS ({pairs_sql}),
    bla_d AS (SELECT CAST(x - y AS BIGINT) AS d FROM bla_pairs),
    bla_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(CAST(sum(d) AS DOUBLE) / count(*), {dp}) AS mean_diff,
               round(sqrt((sum(d * d) - CAST(sum(d) AS DOUBLE) * sum(d)
                           / count(*)) / (count(*) - 1)), {dp}) AS sd_diff
        FROM bla_d
    ),
    bla_loa AS (
        SELECT n, mean_diff, sd_diff,
               round(mean_diff - 1.96 * sd_diff, {dp}) AS loa_lo,
               round(mean_diff + 1.96 * sd_diff, {dp}) AS loa_hi
        FROM bla_mom
    )
    SELECT n, mean_diff, sd_diff, loa_lo, loa_hi,
           (SELECT CAST(sum(CASE WHEN d < loa_lo OR d > loa_hi
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM bla_d) AS n_outside,
           (SELECT CAST(sum(CASE WHEN d < loa_lo OR d > loa_hi
                                  THEN 1 ELSE 0 END) AS DOUBLE)
            FROM bla_d) / n AS pct_outside
    FROM bla_loa
    """


def krippendorff_alpha(
    df: DataFrame, cat_cols: tuple[str, ...], n_categories: int, dp: int = 6
) -> DataFrame:
    """Krippendorff's alpha (nominal, complete data): 1 - Do/De with
    the expected disagreement taken over the POOLED value
    distribution WITHOUT replacement — the reliability coefficient
    that stays comparable across rater counts and (in general)
    missing data, where Fleiss' kappa fixes its chance baseline per
    subject. Output ONE row: (n_subjects, n_raters, d_observed,
    d_expected, alpha).

    In-row vote flags like `fleiss_kappa` (no rater fan-out):
    Do = sum_i (r^2 - sum_c n_ic^2) / (n r (r-1)),
    De = sum_c C_c (nr - C_c) / (nr (nr-1)) — exact divisions of
    exact BIGINTs, rounded ``dp``. C_c^2 needs (n*r)^2 inside int64
    (fine to ~3e9 rated subjects x 3 raters).

    Scale shape (100 TB): ONE map-combined aggregate."""
    r = len(cat_cols)
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    sum_sq = None
    for j in range(n_categories):
        nj = None
        for c in cat_cols:
            flag = (F.col(c) == j).cast("long")
            nj = flag if nj is None else nj + flag
        term = nj * nj
        sum_sq = term if sum_sq is None else sum_sq + term
        aggs.append(F.sum(nj).cast("long").alias(f"c{j}"))
    aggs.append(F.sum(sum_sq).cast("long").alias("sq"))
    mom = df.agg(*aggs)
    de_num = " + ".join(
        f"CAST(c{j} AS DOUBLE) * (n * {r} - c{j})" for j in range(n_categories)
    )
    return mom.select(
        F.col("n").alias("n_subjects"),
        F.lit(r).cast("long").alias("n_raters"),
        F.round(
            F.expr(f"(n * {r} * {r} - sq) / (CAST(n AS DOUBLE) * {r} * {r - 1})"),
            dp,
        ).alias("d_observed"),
        F.round(
            F.expr(f"({de_num}) / (CAST(n AS DOUBLE) * {r} * (n * {r} - 1))"),
            dp,
        ).alias("d_expected"),
        F.round(
            1
            - F.expr(f"(n * {r} * {r} - sq) / (CAST(n AS DOUBLE) * {r} * {r - 1})")
            / F.expr(f"({de_num}) / (CAST(n AS DOUBLE) * {r} * (n * {r} - 1))"),
            dp,
        ).alias("alpha"),
    )


def krippendorff_oracle_sql(
    subjects_sql: str, cat_cols: tuple[str, ...], n_categories: int, dp: int = 6
) -> str:
    """DuckDB mirror of `krippendorff_alpha` over ``subjects_sql``
    (one row per subject with the rater category columns)."""
    r = len(cat_cols)
    njs = []
    for j in range(n_categories):
        flags = " + ".join(
            f"(CASE WHEN {c} = {j} THEN 1 ELSE 0 END)" for c in cat_cols
        )
        njs.append(f"({flags})")
    sq = " + ".join(f"{nj} * {nj}" for nj in njs)
    csums = ", ".join(
        f"CAST(sum({nj}) AS BIGINT) AS c{j}" for j, nj in enumerate(njs)
    )
    de_num = " + ".join(
        f"CAST(c{j} AS DOUBLE) * (n * {r} - c{j})" for j in range(n_categories)
    )
    do_ = f"(n * {r} * {r} - sq) / (CAST(n AS DOUBLE) * {r} * {r - 1})"
    de_ = f"({de_num}) / (CAST(n AS DOUBLE) * {r} * (n * {r} - 1))"
    return f"""
    WITH kra_subj AS ({subjects_sql}),
    kra_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({sq}) AS BIGINT) AS sq,
               {csums}
        FROM kra_subj
    )
    SELECT n AS n_subjects, CAST({r} AS BIGINT) AS n_raters,
           round({do_}, {dp}) AS d_observed,
           round({de_}, {dp}) AS d_expected,
           round(1 - ({do_}) / ({de_}), {dp}) AS alpha
    FROM kra_mom
    """


# --------------------------------------------------------------------------
# Normality / heteroscedastic ANOVA / robust-quantile-moment desk (r13b)
# --------------------------------------------------------------------------

# D'Agostino-Pearson pipeline as TEXTUAL formula templates over the
# exact integer power sums (n, s1..s4): both engines parse the SAME
# expression strings, so every intermediate is a single deterministic
# scalar derivation (no accumulation anywhere) — the only cross-engine
# wobble sources are ln/pow's last ulp, absorbed by the 6dp rounding
# (and the cube-root operand is pre-rounded 12dp on both sides).
# NO decimal literals anywhere: Spark parses `24.0` as DECIMAL and
# decimal arithmetic truncates at scale 6 where DuckDB stays DOUBLE
# (the TPC-H q17 lint class, here in multiply position — n is cast to
# DOUBLE once and every literal stays integer, so both engines run
# the whole chain in IEEE doubles).
_DAG_N = "(CAST(n AS DOUBLE))"
_DAG_M = f"(CAST(s1 AS DOUBLE) / {_DAG_N})"
_DAG_M2 = f"(CAST(s2 AS DOUBLE) / {_DAG_N} - {_DAG_M} * {_DAG_M})"
_DAG_M3 = (
    f"(CAST(s3 AS DOUBLE) / {_DAG_N}"
    f" - 3 * {_DAG_M} * (CAST(s2 AS DOUBLE) / {_DAG_N})"
    f" + 2 * {_DAG_M} * {_DAG_M} * {_DAG_M})"
)
_DAG_M4 = (
    f"(CAST(s4 AS DOUBLE) / {_DAG_N}"
    f" - 4 * {_DAG_M} * (CAST(s3 AS DOUBLE) / {_DAG_N})"
    f" + 6 * {_DAG_M} * {_DAG_M} * (CAST(s2 AS DOUBLE) / {_DAG_N})"
    f" - 3 * {_DAG_M} * {_DAG_M} * {_DAG_M} * {_DAG_M})"
)
_DAG_G1 = f"({_DAG_M3} / ({_DAG_M2} * sqrt({_DAG_M2})))"
_DAG_G2 = f"({_DAG_M4} / ({_DAG_M2} * {_DAG_M2}) - 3)"
# Z1: D'Agostino 1970 skewness transform
_DAG_Y = (
    f"({_DAG_G1} * sqrt(({_DAG_N} + 1) * ({_DAG_N} + 3)"
    f" / (6 * ({_DAG_N} - 2))))"
)
_DAG_B2 = (
    f"(3 * ({_DAG_N} * {_DAG_N} + 27 * {_DAG_N} - 70)"
    f" * ({_DAG_N} + 1) * ({_DAG_N} + 3)"
    f" / (({_DAG_N} - 2) * ({_DAG_N} + 5) * ({_DAG_N} + 7) * ({_DAG_N} + 9)))"
)
_DAG_W2 = f"(-1 + sqrt(2 * ({_DAG_B2} - 1)))"
_DAG_DELTA = f"(1 / sqrt(ln(sqrt({_DAG_W2}))))"
_DAG_ALPHA = f"(sqrt(2 / ({_DAG_W2} - 1)))"
_DAG_Z1 = (
    f"({_DAG_DELTA} * ln({_DAG_Y} / {_DAG_ALPHA}"
    f" + sqrt(({_DAG_Y} / {_DAG_ALPHA}) * ({_DAG_Y} / {_DAG_ALPHA}) + 1)))"
)
# Z2: Anscombe-Glynn 1983 kurtosis transform
_DAG_EB = f"(3 * ({_DAG_N} - 1) / ({_DAG_N} + 1))"
_DAG_VB = (
    f"(24 * {_DAG_N} * ({_DAG_N} - 2) * ({_DAG_N} - 3)"
    f" / (({_DAG_N} + 1) * ({_DAG_N} + 1) * ({_DAG_N} + 3) * ({_DAG_N} + 5)))"
)
_DAG_X = f"(({_DAG_G2} + 3 - {_DAG_EB}) / sqrt({_DAG_VB}))"
_DAG_BB = (
    f"(6 * ({_DAG_N} * {_DAG_N} - 5 * {_DAG_N} + 2)"
    f" / (({_DAG_N} + 7) * ({_DAG_N} + 9))"
    f" * sqrt(6 * ({_DAG_N} + 3) * ({_DAG_N} + 5)"
    f" / ({_DAG_N} * ({_DAG_N} - 2) * ({_DAG_N} - 3))))"
)
_DAG_A = (
    f"(6 + 8 / {_DAG_BB} * (2 / {_DAG_BB}"
    f" + sqrt(1 + 4 / ({_DAG_BB} * {_DAG_BB}))))"
)
_DAG_CBRT_OPERAND = (
    f"round((1 - 2 / {_DAG_A})"
    f" / (1 + {_DAG_X} * sqrt(2 / ({_DAG_A} - 4))), 12)"
)
_DAG_CBRT = (
    f"(CASE WHEN {_DAG_CBRT_OPERAND} >= 0"
    f" THEN power({_DAG_CBRT_OPERAND}, CAST(1 AS DOUBLE) / 3)"
    f" ELSE -power(-{_DAG_CBRT_OPERAND}, CAST(1 AS DOUBLE) / 3) END)"
)
_DAG_Z2 = f"(((1 - 2 / (9 * {_DAG_A})) - {_DAG_CBRT}) / sqrt(2 / (9 * {_DAG_A})))"


def dagostino_k2(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """D'Agostino-Pearson K^2 omnibus normality battery: the
    sample-size-corrected z-transforms of skewness (D'Agostino 1970)
    and kurtosis (Anscombe-Glynn 1983) and their sum of squares —
    the moment-based normality desk beside Jarque-Bera (asymptotic,
    uncorrected) and the EDF family (KS/AD/CvM compare shapes; this
    names WHICH moment breaks). Output ONE row:
    (n, skew_g1, kurt_g2, z_skew, z_kurt, k2).

    One aggregate of exact BIGINT power sums s1..s4 (``v_col`` at a
    grain keeping sum(v^4) inside int64 — k$ for money to ~sf10,
    documented per query); every derived value is a single scalar
    expression PARSED FROM THE SAME TEXT by both engines; the cube
    root's operand pre-rounds 12dp (power() is the one non-correctly-
    rounded libm call in the chain). Outputs round ``dp``.

    Scale shape (100 TB): ONE map-combined aggregate."""
    v = F.col(v_col)
    mom = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
        F.sum(v * v).cast("long").alias("s2"),
        F.sum(v * v * v).cast("long").alias("s3"),
        F.sum(v * v * v * v).cast("long").alias("s4"),
    )
    return mom.select(
        "n",
        F.round(F.expr(_DAG_G1), dp).alias("skew_g1"),
        F.round(F.expr(_DAG_G2), dp).alias("kurt_g2"),
        F.round(F.expr(_DAG_Z1), dp).alias("z_skew"),
        F.round(F.expr(_DAG_Z2), dp).alias("z_kurt"),
        F.round(
            F.expr(f"{_DAG_Z1} * {_DAG_Z1} + {_DAG_Z2} * {_DAG_Z2}"), dp
        ).alias("k2"),
    )


def dagostino_oracle_sql(table: str, v_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `dagostino_k2` — the SAME formula text."""
    return f"""
    WITH dag_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum({v_sql}) AS BIGINT) AS s1,
               CAST(sum(({v_sql}) * ({v_sql})) AS BIGINT) AS s2,
               CAST(sum(({v_sql}) * ({v_sql}) * ({v_sql})) AS BIGINT) AS s3,
               CAST(sum(({v_sql}) * ({v_sql}) * ({v_sql}) * ({v_sql}))
                    AS BIGINT) AS s4
        FROM {table}
    )
    SELECT n,
           round({_DAG_G1}, {dp}) AS skew_g1,
           round({_DAG_G2}, {dp}) AS kurt_g2,
           round({_DAG_Z1}, {dp}) AS z_skew,
           round({_DAG_Z2}, {dp}) AS z_kurt,
           round({_DAG_Z1} * {_DAG_Z1} + {_DAG_Z2} * {_DAG_Z2}, {dp}) AS k2
    FROM dag_mom
    """


def levene_mean_centered(
    df: DataFrame,
    group_col: str,
    v_col: str,
    quant: int = 1000,
    mean_dp: int = 3,
    dp: int = 6,
) -> DataFrame:
    """Levene's variance-homogeneity test, MEAN-centered (the
    original 1960 form): one-way ANOVA on absolute deviations from
    each group's mean — the power-optimal member under near-normal
    tails, beside q_brown_forsythe's median-centered robust form and
    q_bartlett_test's normal-theory one. Output ONE row:
    (n, k_groups, levene_w, df_num, df_den).

    Group means round ``mean_dp`` once (broadcast back); per-row
    absolute deviations quantize at ``quant`` (exact BIGINT sums —
    the established weight-quantization scheme). quant defaults to
    MILLI, not micro: sum(z^2) must stay inside int64, and micro-
    grain squares of even |dev|<=50 overflow at ~60k rows (the r9
    micro-grain lesson); milli holds |dev|<=1e3 to ~1e9 rows.
    mean_dp == log10(quant) keeps |v - m| * quant integral up to one
    double ulp, so floor(x + 0.5) is the exact half-up quantizer on
    both engines. The ANOVA F is exact integer algebra over the
    bounded group vocabulary.

    Scale shape (100 TB): two map-combined aggregates with a 1-row-
    per-group broadcast between them."""
    v = F.col(v_col)
    g = F.col(group_col)
    means = df.groupBy(g.alias("grp")).agg(
        F.round(F.sum(v).cast("double") / F.count(F.lit(1)), mean_dp).alias("m")
    )
    z = df.select(g.alias("grp"), v.alias("v")).join(
        F.broadcast(means), "grp"
    ).select(
        "grp",
        F.floor(F.abs(F.col("v") - F.col("m")) * quant + F.lit(0.5))
        .cast("long")
        .alias("z6"),
    )
    gmom = z.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("z6").cast("long").alias("sz"),
        F.sum(F.col("z6") * F.col("z6")).cast("long").alias("qz"),
    )
    return gmom.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("sz").cast("long").alias("st"),
        F.sum(F.col("sz").cast("double") * F.col("sz") / F.col("ng")).alias("bb"),
        F.sum(
            F.col("qz") - F.col("sz").cast("double") * F.col("sz") / F.col("ng")
        ).alias("ww"),
    ).select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(
            (F.col("n") - F.col("k"))
            / (F.col("k") - 1)
            * (F.col("bb") - F.col("st").cast("double") * F.col("st") / F.col("n"))
            / F.col("ww"),
            dp,
        ).alias("levene_w"),
        (F.col("k") - 1).alias("df_num"),
        (F.col("n") - F.col("k")).alias("df_den"),
    )


def levene_oracle_sql(
    table: str,
    group_sql: str,
    v_sql: str,
    quant: int = 1000,
    mean_dp: int = 3,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `levene_mean_centered`."""
    return f"""
    WITH lvn_means AS (
        SELECT {group_sql} AS grp,
               round(CAST(sum({v_sql}) AS DOUBLE) / count(*), {mean_dp}) AS m
        FROM {table} GROUP BY 1
    ),
    lvn_z AS (
        SELECT t.grp, CAST(floor(abs(t.v - m.m) * {quant} + 0.5)
                           AS BIGINT) AS z6
        FROM (SELECT {group_sql} AS grp, {v_sql} AS v FROM {table}) t
        JOIN lvn_means m ON m.grp = t.grp
    ),
    lvn_g AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(z6) AS BIGINT) AS sz,
               CAST(sum(z6 * z6) AS BIGINT) AS qz
        FROM lvn_z GROUP BY 1
    ),
    lvn_t AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               CAST(sum(sz) AS BIGINT) AS st,
               sum(CAST(sz AS DOUBLE) * sz / ng) AS bb,
               sum(qz - CAST(sz AS DOUBLE) * sz / ng) AS ww
        FROM lvn_g
    )
    SELECT n, k AS k_groups,
           round((n - k) * 1.0 / (k - 1)
                 * (bb - CAST(st AS DOUBLE) * st / n) / ww, {dp})
               AS levene_w,
           k - 1 AS df_num, n - k AS df_den
    FROM lvn_t
    """


def welch_anova(
    df: DataFrame, group_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA: the k-group
    generalization of q_ab_test_welch — compares means WITHOUT the
    equal-variance assumption classic ANOVA (q_anova) makes, which
    is exactly the assumption q_bartlett_test/q_brown_forsythe
    usually reject on spend data. Output ONE row:
    (n, k_groups, welch_f, df_num, df_den).

    Per-group moments are exact BIGINTs; weights w = n/var and the
    <= vocabulary-sized weighted sums are deterministic doubles;
    outputs round ``dp``.

    Scale shape (100 TB): ONE map-combined group aggregate + one
    bounded reduce."""
    v = F.col(v_col)
    gmom = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum(v).cast("long").alias("s"),
        F.sum(v * v).cast("long").alias("q"),
    ).select(
        "grp",
        "ng",
        (F.col("s").cast("double") / F.col("ng")).alias("m"),
        (
            (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("ng"))
            / (F.col("ng") - 1)
        ).alias("var"),
    ).select("grp", "ng", "m", (F.col("ng") / F.col("var")).alias("w"))
    tot = gmom.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("w").alias("sw"),
        F.sum(F.col("w") * F.col("m")).alias("swm"),
    )
    j = gmom.crossJoin(F.broadcast(tot))
    agg = j.groupBy("n", "k", "sw", "swm").agg(
        F.sum(
            F.col("w") * _sq(F.col("m") - F.col("swm") / F.col("sw"))
        ).alias("aa"),
        F.sum(
            _sq(1 - F.col("w") / F.col("sw")) / (F.col("ng") - 1)
        ).alias("hh"),
    )
    return agg.select(
        "n",
        F.col("k").alias("k_groups"),
        F.round(
            (F.col("aa") / (F.col("k") - 1))
            / (
                1
                + 2.0 * (F.col("k") - 2) / (F.col("k") * F.col("k") - 1) * F.col("hh")
            ),
            dp,
        ).alias("welch_f"),
        (F.col("k") - 1).alias("df_num"),
        F.round(
            (F.col("k") * F.col("k") - 1) / (3.0 * F.col("hh")), dp
        ).alias("df_den"),
    )


def welch_anova_oracle_sql(
    table: str, group_sql: str, v_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `welch_anova`."""
    return f"""
    WITH wan_g AS (
        SELECT {group_sql} AS grp,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum({v_sql}) AS BIGINT) AS s,
               CAST(sum(({v_sql}) * ({v_sql})) AS BIGINT) AS q
        FROM {table} GROUP BY 1
    ),
    wan_w AS (
        SELECT grp, ng, CAST(s AS DOUBLE) / ng AS m,
               ng / ((q - CAST(s AS DOUBLE) * s / ng) / (ng - 1)) AS w
        FROM wan_g
    ),
    wan_t AS (
        SELECT CAST(sum(ng) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k,
               sum(w) AS sw, sum(w * m) AS swm
        FROM wan_w
    ),
    wan_a AS (
        SELECT n, k, sw, swm,
               sum(w * (m - swm / sw) * (m - swm / sw)) AS aa,
               sum((1 - w / sw) * (1 - w / sw) / (ng - 1)) AS hh
        FROM wan_w CROSS JOIN wan_t
        GROUP BY n, k, sw, swm
    )
    SELECT n, k AS k_groups,
           round((aa / (k - 1))
                 / (1 + 2.0 * (k - 2) / (k * k - 1) * hh), {dp}) AS welch_f,
           k - 1 AS df_num,
           round((k * k - 1) / (3.0 * hh), {dp}) AS df_den
    FROM wan_a
    """


def robust_quantile_moments(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """Quantile-based robust shape moments: Bowley skewness
    (q3+q1-2*median over IQR), Moors kurtosis (octile spread over
    IQR), and the quartile coefficient of dispersion — the outlier-
    immune counterparts of the moment skew/kurt the D'Agostino desk
    tests (a single billion-dollar order moves g1/g2 arbitrarily;
    it cannot move an octile). Output ONE row: (n, q1, median, q3,
    bowley_skew, moors_kurt, qcd).

    percentile_disc VALUE-threshold semantics off the per-unit value
    histogram (the two-stage bucket-offset machinery — money
    histograms are row-sized); all seven per-mille thresholds come
    from ONE conditional aggregate over the cumulative histogram;
    the three shape ratios are exact-integer divisions rounded
    ``dp``.

    Scale shape (100 TB): one histogram pass, bucketed prefix
    machinery, one bounded threshold reduce."""
    from celeborn_spark.operators.evaluation import _bounded_cum_before

    hist = (
        df.groupBy(F.col(v_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # value histogram; bounds + bucketing re-read
    )
    cb = _bounded_cum_before(hist, F.col("c"))
    tot = hist.agg(F.sum("c").cast("long").alias("n"))
    cum = cb.crossJoin(F.broadcast(tot)).select(
        "v", "n", (F.col("cum_before") + F.col("c")).cast("long").alias("cum")
    )

    def thr(pm: int):
        return F.min(
            F.when(1000 * F.col("cum") >= pm * F.col("n"), F.col("v"))
        ).cast("long").alias(f"t{pm}")

    t = cum.groupBy("n").agg(
        thr(125), thr(250), thr(375), thr(500), thr(625), thr(750), thr(875)
    )
    return t.select(
        "n",
        F.col("t250").alias("q1"),
        F.col("t500").alias("median"),
        F.col("t750").alias("q3"),
        F.round(
            (F.col("t750") + F.col("t250") - 2 * F.col("t500")).cast("double")
            / (F.col("t750") - F.col("t250")),
            dp,
        ).alias("bowley_skew"),
        F.round(
            (
                (F.col("t875") - F.col("t625"))
                + (F.col("t375") - F.col("t125"))
            ).cast("double")
            / (F.col("t750") - F.col("t250")),
            dp,
        ).alias("moors_kurt"),
        F.round(
            (F.col("t750") - F.col("t250")).cast("double")
            / (F.col("t750") + F.col("t250")),
            dp,
        ).alias("qcd"),
    )


def robust_moments_oracle_sql(units_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `robust_quantile_moments` over ``units_sql``
    yielding one BIGINT ``v`` per unit."""
    thrs = ", ".join(
        f"CAST(min(CASE WHEN 1000 * cum >= {pm} * n THEN v END) AS BIGINT)"
        f" AS t{pm}"
        for pm in (125, 250, 375, 500, 625, 750, 875)
    )
    return f"""
    WITH rqm_units AS ({units_sql}),
    rqm_hist AS (
        SELECT v, CAST(count(*) AS BIGINT) AS c FROM rqm_units GROUP BY 1
    ),
    rqm_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM rqm_hist),
    rqm_cum AS (
        SELECT v, n, CAST(sum(c) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
        FROM rqm_hist CROSS JOIN rqm_tot
    ),
    rqm_t AS (SELECT n, {thrs} FROM rqm_cum GROUP BY n)
    SELECT n, t250 AS q1, t500 AS median, t750 AS q3,
           round(CAST(t750 + t250 - 2 * t500 AS DOUBLE) / (t750 - t250),
                 {dp}) AS bowley_skew,
           round(CAST((t875 - t625) + (t375 - t125) AS DOUBLE)
                 / (t750 - t250), {dp}) AS moors_kurt,
           round(CAST(t750 - t250 AS DOUBLE) / (t750 + t250), {dp}) AS qcd
    FROM rqm_t
    """


def dickey_fuller(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """Dickey-Fuller unit-root regression on the daily series:
    Delta v_t = alpha + beta * v_(t-1); the t-statistic on beta is
    the stationarity screen (beta ~ 0 = random walk; beta << 0 =
    mean reversion) — the desk that says whether trend fits
    (q_grouped_ols_trend, q_mann_kendall) or differencing
    (q_von_neumann's ratio) is the right model. Output ONE row:
    (n_days, beta_hat, se_beta, df_stat).

    All five regression sums are exact BIGINTs off the lag pairs
    (k$ grain keeps sum(x^2) inside int64, documented); the OLS
    closed form and the residual variance are single scalar
    derivations rounded ``dp``.

    Scale shape (100 TB): one lag window over the BOUNDED daily
    grain + ONE map-combined aggregate."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    pairs = df.select(
        v.alias("cur"),
        F.lag(v).over(W.orderBy(F.col(day_col))).alias("x"),
    ).filter(F.col("x").isNotNull()).select(
        "x", (F.col("cur") - F.col("x")).cast("long").alias("y")
    )
    mom = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    beta = (F.col("m") * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        F.col("m") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    alpha = (F.col("sy") - beta * F.col("sx")) / F.col("m")
    sse = F.col("syy") - alpha * F.col("sy") - beta * F.col("sxy")
    se = F.sqrt(
        (sse / (F.col("m") - 2))
        / (
            F.col("sxx")
            - F.col("sx").cast("double") * F.col("sx") / F.col("m")
        )
    )
    return mom.select(
        (F.col("m") + 1).alias("n_days"),
        F.round(beta, dp).alias("beta_hat"),
        F.round(se, dp).alias("se_beta"),
        F.round(beta / se, dp).alias("df_stat"),
    )


def dickey_fuller_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `dickey_fuller` over ``series_sql`` (day, v)."""
    beta = (
        "((m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)"
        " / (m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx))"
    )
    alpha = f"((sy - {beta} * sx) / m)"
    sse = f"(syy - {alpha} * sy - {beta} * sxy)"
    se = (
        f"sqrt(({sse} / (m - 2))"
        f" / (sxx - CAST(sx AS DOUBLE) * sx / m))"
    )
    return f"""
    WITH dfr_series AS ({series_sql}),
    dfr_pairs AS (
        SELECT lag(v) OVER (ORDER BY day) AS x,
               CAST(v - lag(v) OVER (ORDER BY day) AS BIGINT) AS y
        FROM dfr_series
    ),
    dfr_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM dfr_pairs WHERE x IS NOT NULL
    )
    SELECT m + 1 AS n_days,
           round({beta}, {dp}) AS beta_hat,
           round({se}, {dp}) AS se_beta,
           round({beta} / {se}, {dp}) AS df_stat
    FROM dfr_mom
    """


# --------------------------------------------------------------------------
# Stationarity / heteroscedasticity / cointegration / EDF-vs-fitted desk
# (r13c) — the econometric screens beside dickey_fuller's unit root
# --------------------------------------------------------------------------


def kpss_level(df: DataFrame, day_col: str, v_col: str, dp: int = 6) -> DataFrame:
    """KPSS level-stationarity statistic (lag-0 long-run variance):
    eta = sum_t S_t^2 / (n^2 * sigma^2) with S_t the partial sums of
    demeaned values — the COMPLEMENT of `dickey_fuller` (DF's null is
    a unit root, KPSS's null is stationarity; the two screens
    together classify a series as stationary / unit-root /
    inconclusive). Output ONE row: (n_days, kpss_eta).

    Exact-integer core: with P_t the BIGINT prefix sum and s1 the
    BIGINT total, the scaled partial sum N_t = n*P_t - t*s1 and the
    scaled deviation d_t = n*v_t - s1 are exact BIGINTs (n*P_n stays
    inside int64 to ~1e3 days x 1e12 total — k$ grain holds to
    ~sf1000); eta = sum(N^2) / (n * sum(d^2)), the two second moments
    accumulated in double (terms up to ~2^78 round identically per
    term on both engines; accumulation-order drift is ~1e-13 relative
    and vanishes under the ``dp`` rounding). Rounds ``dp``.

    Scale shape (100 TB): the windows run over the BOUNDED day grain
    (day is the series PK); one bounded window pass + one scalar
    reduce."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    tot = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(v).cast("long").alias("s1"),
    )
    wcum = W.orderBy(day_col).rowsBetween(W.unboundedPreceding, 0)
    ser = (
        df.select(F.col(day_col).alias("day"), v.alias("v"))
        .withColumn("p", F.sum("v").over(wcum).cast("long"))
        .withColumn("t", F.row_number().over(W.orderBy("day")).cast("long"))
    )
    terms = ser.crossJoin(F.broadcast(tot)).select(
        "n",
        (F.col("n") * F.col("p") - F.col("t") * F.col("s1"))
        .cast("long")
        .alias("nt"),
        (F.col("n") * F.col("v") - F.col("s1")).cast("long").alias("dt"),
    )
    return terms.groupBy("n").agg(
        F.sum(F.col("nt").cast("double") * F.col("nt")).alias("ssq"),
        F.sum(F.col("dt").cast("double") * F.col("dt")).alias("q"),
    ).select(
        F.col("n").alias("n_days"),
        F.round(F.col("ssq") / (F.col("n") * F.col("q")), dp).alias("kpss_eta"),
    )


def kpss_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `kpss_level` over ``series_sql`` (day, v)."""
    return f"""
    WITH kps_series AS ({series_sql}),
    kps_tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s1
        FROM kps_series
    ),
    kps_ser AS (
        SELECT day, v,
               CAST(sum(v) OVER (ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS p,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM kps_series
    ),
    kps_terms AS (
        SELECT n, CAST(n * p - t * s1 AS BIGINT) AS nt,
               CAST(n * v - s1 AS BIGINT) AS dt
        FROM kps_ser CROSS JOIN kps_tot
    )
    SELECT n AS n_days,
           round(sum(CAST(nt AS DOUBLE) * nt)
                 / (n * sum(CAST(dt AS DOUBLE) * dt)), {dp}) AS kpss_eta
    FROM kps_terms GROUP BY n
    """


def breusch_pagan(
    df: DataFrame, day_col: str, v_col: str, dp: int = 6
) -> DataFrame:
    """Breusch-Pagan heteroscedasticity screen on the daily trend
    residuals: OLS v ~ t, then regress the (unit-quantized) squared
    residuals back on t — LM = n * R^2 of that auxiliary regression.
    Rising LM says the series' VARIANCE trends even when its level
    regression looks fine, which is what decides between plain OLS
    prediction bands (q_grouped_ols_trend) and variance-stabilizing
    transforms. Output ONE row: (n_days, bp_lm, r2_aux).

    The trend fit (a, b) is a deterministic double closed form off
    exact BIGINT sums; residuals quantize to UNIT grain (exact
    half-up on both engines; k$ input keeps z = u^2 <= ~1e10 and
    every auxiliary sum except sum(z^2) inside int64 to ~sf100 —
    sum(z^2) accumulates in double under the same per-term-identical
    argument as `kpss_level`). Rounds ``dp``.

    Scale shape (100 TB): one bounded window pass (day grain) + two
    scalar reduces with a 1-row broadcast between them."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    ser = df.select(F.col(day_col).alias("day"), v.alias("v")).withColumn(
        "t", F.row_number().over(W.orderBy("day")).cast("long")
    )
    ser = ser.transform(hold)  # mom + residual lanes both read it
    mom = ser.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("v")).cast("long").alias("stv"),
    ).select(
        "n",
        "st",
        "sv",
        (
            (F.col("n") * F.col("stv").cast("double") - F.col("st").cast("double") * F.col("sv"))
            / (F.col("n") * F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st"))
        ).alias("b"),
    ).select(
        "n",
        "b",
        ((F.col("sv") - F.col("b") * F.col("st")) / F.col("n")).alias("a"),
    )
    z = ser.crossJoin(F.broadcast(mom)).select(
        "n",
        "t",
        F.floor(
            _sq(F.col("v") - F.col("a") - F.col("b") * F.col("t")) + F.lit(0.5)
        )
        .cast("long")
        .alias("z"),
    )
    aux = z.groupBy("n").agg(
        F.sum("t").cast("long").alias("st"),
        F.sum("z").cast("long").alias("sz"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("z")).cast("long").alias("stz"),
        F.sum(F.col("z").cast("double") * F.col("z")).alias("szz"),
    )
    r2 = (
        _sq(
            F.col("n") * F.col("stz").cast("double")
            - F.col("st").cast("double") * F.col("sz")
        )
        / (
            (F.col("n") * F.col("stt").cast("double") - F.col("st").cast("double") * F.col("st"))
            * (F.col("n") * F.col("szz") - F.col("sz").cast("double") * F.col("sz"))
        )
    )
    return aux.select(
        F.col("n").alias("n_days"),
        F.round(F.col("n") * r2, dp).alias("bp_lm"),
        F.round(r2, dp).alias("r2_aux"),
    )


def breusch_pagan_oracle_sql(series_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `breusch_pagan` over ``series_sql`` (day, v).
    NOTE the quantizer squares FIRST then floors (z = floor(r^2 +
    0.5)), matching the Spark form exactly."""
    return f"""
    WITH bpg_series AS ({series_sql}),
    bpg_ser AS (
        SELECT v, CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM bpg_series
    ),
    bpg_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(v) AS BIGINT) AS sv,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * v) AS BIGINT) AS stv
        FROM bpg_ser
    ),
    bpg_fit AS (
        SELECT n,
               (n * CAST(stv AS DOUBLE) - CAST(st AS DOUBLE) * sv)
                   / (n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st) AS b,
               st, sv
        FROM bpg_mom
    ),
    bpg_ab AS (
        SELECT n, b, (sv - b * st) / n AS a FROM bpg_fit
    ),
    bpg_z AS (
        SELECT n, t,
               CAST(floor((v - a - b * t) * (v - a - b * t) + 0.5)
                    AS BIGINT) AS z
        FROM bpg_ser CROSS JOIN bpg_ab
    ),
    bpg_aux AS (
        SELECT n,
               CAST(sum(t) AS BIGINT) AS st,
               CAST(sum(z) AS BIGINT) AS sz,
               CAST(sum(t * t) AS BIGINT) AS stt,
               CAST(sum(t * z) AS BIGINT) AS stz,
               sum(CAST(z AS DOUBLE) * z) AS szz
        FROM bpg_z GROUP BY n
    )
    SELECT n AS n_days,
           round(n * (n * CAST(stz AS DOUBLE) - CAST(st AS DOUBLE) * sz)
                     * (n * CAST(stz AS DOUBLE) - CAST(st AS DOUBLE) * sz)
                 / ((n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st)
                    * (n * szz - CAST(sz AS DOUBLE) * sz)), {dp}) AS bp_lm,
           round((n * CAST(stz AS DOUBLE) - CAST(st AS DOUBLE) * sz)
                     * (n * CAST(stz AS DOUBLE) - CAST(st AS DOUBLE) * sz)
                 / ((n * CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st)
                    * (n * szz - CAST(sz AS DOUBLE) * sz)), {dp}) AS r2_aux
    FROM bpg_aux
    """


def engle_granger_residuals(
    xy: DataFrame, day_col: str, x_col: str, y_col: str
) -> DataFrame:
    """Engle-Granger step 1: OLS y ~ x over the aligned day pairs,
    then the UNIT-quantized residual series (day, v) — feed the
    result to `dickey_fuller` for step 2 (a strongly negative DF
    stat on the residuals = the two series are cointegrated: they
    share a common stochastic trend even though each alone has a
    unit root). Quantizing residuals to the input's own grain keeps
    step 2's regression sums exact BIGINTs.

    Scale shape (100 TB): one scalar OLS reduce + a 1-row broadcast
    back over the bounded day grain."""
    from pyspark.sql import Window as W

    x, y = F.col(x_col), F.col(y_col)
    # the OLS moments fold IN-ROW as full-frame window sums over the
    # bounded day grain — all exact BIGINTs, so b and a are the same
    # doubles the old scalar aggregate + 1-row broadcast produced, and
    # xy stops being referenced twice (the r13 reference-count rule:
    # the moment pass re-ran the whole upstream series build)
    full = W.orderBy(F.col(day_col)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    m = xy.select(
        F.col(day_col).alias("day"),
        x.alias("_x"),
        y.alias("_y"),
        F.count(F.lit(1)).over(full).cast("long").alias("n"),
        F.sum(x).over(full).cast("long").alias("sx"),
        F.sum(y).over(full).cast("long").alias("sy"),
        F.sum(x * x).over(full).cast("long").alias("sxx"),
        F.sum(x * y).over(full).cast("long").alias("sxy"),
    )
    b = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    m = m.withColumn("b", b).withColumn(
        "a", (F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")
    )
    return m.select(
        "day",
        F.floor(F.col("_y") - F.col("a") - F.col("b") * F.col("_x") + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )


def engle_granger_series_sql(x_sql: str, y_sql: str) -> str:
    """DuckDB fragment producing the Engle-Granger residual series
    (day, v) from two (day, v) series SQLs — composes into
    `dickey_fuller_oracle_sql` as its series argument (CTE names are
    egr_-prefixed; nested WITH inside a CTE body is legal SQL)."""
    return f"""
    WITH egr_x AS ({x_sql}),
    egr_y AS ({y_sql}),
    egr_xy AS (
        SELECT egr_x.day AS day, egr_x.v AS x, egr_y.v AS y
        FROM egr_x JOIN egr_y ON egr_y.day = egr_x.day
    ),
    egr_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM egr_xy
    ),
    egr_fit AS (
        SELECT n, sx, sy,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                   / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS b
        FROM egr_mom
    ),
    egr_ab AS (SELECT b, (sy - b * sx) / n AS a FROM egr_fit)
    SELECT day, CAST(floor(y - a - b * x + 0.5) AS BIGINT) AS v
    FROM egr_xy CROSS JOIN egr_ab
    """


# Abramowitz-Stegun 7.1.26 erf approximation as a TEXTUAL template
# (|eps| <= 1.5e-7): both engines parse the same polynomial, so the
# fitted-normal CDF is a deterministic scalar derivation — NOT a
# claim of exact Phi; the oracle runs the identical approximation.
# All coefficients are spelled in e-notation (DOUBLE literals in both
# engines — plain decimals would be Spark DECIMALs, the q17 class).
def _erf_template(x: str) -> str:
    t = f"(1 / (1 + 3275911e-7 * abs({x})))"
    poly = (
        f"({t} * (254829592e-9 + {t} * (-284496736e-9 + {t} *"
        f" (1421413741e-9 + {t} * (-1453152027e-9 + {t} * 1061405429e-9)))))"
    )
    mag = f"(1 - {poly} * exp(-abs({x}) * abs({x})))"
    return f"(CASE WHEN {x} >= 0 THEN {mag} ELSE -{mag} END)"


_LIL_Z = "((CAST(v AS DOUBLE) - mu) / sigma)"
_LIL_PHI = f"(5e-1 * (1 + {_erf_template(f'({_LIL_Z} / sqrt(2))')}))"


def lilliefors(df: DataFrame, v_col: str, dp: int = 6) -> DataFrame:
    """Lilliefors test statistic: the Kolmogorov-Smirnov distance
    between the empirical CDF and a normal FITTED to the same sample
    (mean + sample sd) — the composite-normality EDF screen beside
    q_ks_test (two-sample) and the moment battery (q_dagostino_k2
    says which moment breaks; this says how far the whole CDF sits
    from the best normal). D = max over distinct values of
    max(|F_n(v) - Phi(z_v)|, |F_n(v-) - Phi(z_v)|). Output ONE row:
    (n, mu, sigma, d_stat).

    The value histogram is vocabulary-bounded (integer grain); mu,
    sigma are deterministic doubles off exact BIGINT s1/s2; Phi uses
    the Abramowitz-Stegun 7.1.26 erf polynomial as a SHARED textual
    template (|eps| <= 1.5e-7 vs true Phi, identical on both engines
    — documented approximation, not hidden). Rounds ``dp``.

    Scale shape (100 TB): one histogram aggregate + a bounded window
    over the value vocabulary + one max reduce."""
    from pyspark.sql import Window as W

    hist = (
        df.groupBy(F.col(v_col).alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # bounded vocabulary; cum + moments read it
    )
    mom = hist.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("v") * F.col("c")).cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v") * F.col("c")).cast("long").alias("s2"),
    ).select(
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("s2") - F.col("s1").cast("double") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("sigma"),
    )
    wcum = W.orderBy("v").rowsBetween(W.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(wcum).cast("long"))
    terms = cum.crossJoin(F.broadcast(mom)).select(
        "n",
        "mu",
        "sigma",
        F.greatest(
            F.abs(F.col("cum").cast("double") / F.col("n") - F.expr(_LIL_PHI)),
            F.abs(
                (F.col("cum") - F.col("c")).cast("double") / F.col("n")
                - F.expr(_LIL_PHI)
            ),
        ).alias("d"),
    )
    return terms.groupBy("n", "mu", "sigma").agg(
        F.round(F.max("d"), dp).alias("d_stat")
    ).select(
        "n",
        F.round("mu", dp).alias("mu"),
        F.round("sigma", dp).alias("sigma"),
        "d_stat",
    )


def lilliefors_oracle_sql(table: str, v_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `lilliefors`."""
    return f"""
    WITH lil_hist AS (
        SELECT {v_sql} AS v, CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1
    ),
    lil_mom AS (
        SELECT CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(v * c) AS BIGINT) AS s1,
               CAST(sum(v * v * c) AS BIGINT) AS s2
        FROM lil_hist
    ),
    lil_ms AS (
        SELECT n, CAST(s1 AS DOUBLE) / n AS mu,
               sqrt((s2 - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)) AS sigma
        FROM lil_mom
    ),
    lil_cum AS (
        SELECT v, c, CAST(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
        FROM lil_hist
    ),
    lil_terms AS (
        SELECT n, mu, sigma,
               greatest(
                   abs(CAST(cum AS DOUBLE) / n - {_LIL_PHI}),
                   abs(CAST(cum - c AS DOUBLE) / n - {_LIL_PHI})
               ) AS d
        FROM lil_cum CROSS JOIN lil_ms
    )
    SELECT n, round(mu, {dp}) AS mu, round(sigma, {dp}) AS sigma,
           round(max(d), {dp}) AS d_stat
    FROM lil_terms GROUP BY n, mu, sigma
    """


def theil_u2(df: DataFrame, day_col: str, v_col: str, season: int = 7, dp: int = 6) -> DataFrame:
    """Theil's U2 forecast-quality ratio of the seasonal-naive
    forecast (lag ``season``) against the naive random walk (lag 1),
    both evaluated on the SAME day subset (t > season):
    U2 = sqrt(SSE_seasonal / SSE_naive). U2 < 1 = the weekly cycle
    genuinely forecasts (q_seasonality_index's pattern carries
    information); U2 >= 1 = yesterday already beats it — the one-
    number adjudication q_forecast_backtest's error table implies
    but doesn't state. Output ONE row:
    (n_eval, sse_naive1, sse_seasonal, theil_u2).

    Both SSEs are exact BIGINT sums of squared k$-grain integer
    differences over the bounded day grain; U2 is one sqrt of their
    IEEE quotient, rounded ``dp``.

    Scale shape (100 TB): one bounded window pass (two lags in one
    WindowSpec sort) + one scalar reduce."""
    from pyspark.sql import Window as W

    v = F.col(v_col)
    w = W.orderBy(day_col)
    lagged = df.select(
        v.alias("y"),
        F.lag(v, 1).over(w).alias("l1"),
        F.lag(v, season).over(w).alias("ls"),
    ).filter(F.col("ls").isNotNull())
    d1 = (F.col("l1") - F.col("y")).cast("long")
    ds = (F.col("ls") - F.col("y")).cast("long")
    return lagged.agg(
        F.count(F.lit(1)).cast("long").alias("n_eval"),
        F.sum(d1 * d1).cast("long").alias("sse_naive1"),
        F.sum(ds * ds).cast("long").alias("sse_seasonal"),
    ).select(
        "n_eval",
        "sse_naive1",
        "sse_seasonal",
        F.round(
            F.sqrt(
                F.col("sse_seasonal").cast("double") / F.col("sse_naive1")
            ),
            dp,
        ).alias("theil_u2"),
    )


def theil_u2_oracle_sql(series_sql: str, season: int = 7, dp: int = 6) -> str:
    """DuckDB mirror of `theil_u2` over ``series_sql`` (day, v)."""
    return f"""
    WITH tu2_series AS ({series_sql}),
    tu2_lag AS (
        SELECT v AS y,
               lag(v, 1) OVER (ORDER BY day) AS l1,
               lag(v, {season}) OVER (ORDER BY day) AS ls
        FROM tu2_series
    ),
    tu2_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n_eval,
               CAST(sum((l1 - y) * (l1 - y)) AS BIGINT) AS sse_naive1,
               CAST(sum((ls - y) * (ls - y)) AS BIGINT) AS sse_seasonal
        FROM tu2_lag WHERE ls IS NOT NULL
    )
    SELECT n_eval, sse_naive1, sse_seasonal,
           round(sqrt(CAST(sse_seasonal AS DOUBLE) / sse_naive1), {dp})
               AS theil_u2
    FROM tu2_mom
    """
