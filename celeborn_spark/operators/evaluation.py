"""Model-evaluation + distribution-distance operators: ROC AUC,
cumulative-gains/lift, calibration reliability (exact-integer ECE),
PSI drift, Hellinger/Bhattacharyya, exact 1D Wasserstein, Pettitt
change-point, and the Hodges-Lehmann shift estimator.

These close the offline-evaluation loop around the in-engine models
(operators/stats.logreg_fit, the NDCG recsys eval) and the
distribution-divergence family (KL/JS/chi-square): a training-data
pipeline that scores documents needs AUC/gains/calibration to grade
the scorer, and drift (PSI / Wasserstein / Hellinger) to detect when
the corpus moved under it.

Reference analogue: Celeborn validates its data plane by running the
same workload twice and comparing result maps
(tests/spark-it/.../SparkTestBase.scala:111-150); here every operator
has a DuckDB mirror built from IDENTICAL formula text.

Engine-parity discipline (CLAUDE.md):
- ranks/CDFs come from VALUE HISTOGRAMS (never a corpus sort); where
  the histogram itself is unbounded (money-like scores are distinct
  per row) its prefix sums use the two-stage bucket-offset form
  (_bounded_cum_before), so the only partition-less window input is
  the <= 1024-row bucket-count relation;
- everything stays exact-integer (BIGINT counts, floor-cents) until
  ONE final IEEE division, which is bit-identical cross-engine;
- irrational passes (ln/sqrt/exp) round 6 dp on BOTH sides;
- no round() on per-row doubles — cents use floor(value*100).

Scale shape (100 TB): each operator is one map-combined histogram
aggregate + a histogram-sized window; nothing shuffles row mass more
than once and nothing collects to the driver. The pairwise operator
(Hodges-Lehmann) convolves VALUE-SPACE histograms (bounded grid),
never row pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from celeborn_spark.operators import hold

__all__ = [
    "cuped_adjustment",
    "cuped_oracle_sql",
    "roc_auc",
    "roc_auc_oracle_sql",
    "gains_table",
    "gains_oracle_sql",
    "calibration_bins",
    "calibration_oracle_sql",
    "psi_drift",
    "psi_oracle_sql",
    "hellinger_distance",
    "hellinger_oracle_sql",
    "wasserstein_1d",
    "wasserstein_oracle_sql",
    "pettitt_changepoint",
    "pettitt_oracle_sql",
    "hodges_lehmann_shift",
    "hodges_lehmann_oracle_sql",
]


# --------------------------------------------------------------------------
# Bounded prefix sums over score histograms (the rank machinery shared
# by roc_auc / auc_ci / gains_table / pr_curve)
# --------------------------------------------------------------------------


def _bounded_cum_before(
    hist: DataFrame,
    weight,
    descending: bool = False,
    n_buckets: int = 1024,
) -> DataFrame:
    """Add ``cum_before`` to a score histogram: for each row, the
    summed ``weight`` of all rows strictly before it in v-order —
    WITHOUT a single-partition window over the histogram.

    The histogram is bounded by |distinct scores|, which for money-like
    scores (o_totalprice, 2dp) is effectively ROW-sized — an
    unpartitioned ``Window.orderBy(v)`` over it serializes the whole
    relation onto one task (VERDICT r9 item 3, the 100x scale-killer).
    This is the two-stage bucket-offset prefix sum already proven in
    operators/sampling.assign_dense_ids, adapted to VALUE order:

    1. quantize v into ``n_buckets`` equal-width buckets between the
       observed min/max (a 1-row broadcast). floor of a monotone IEEE
       expression is monotone, so bucket order == value order and the
       quantization error moves rows only BETWEEN buckets, never
       changing any cum_before value;
    2. per-bucket weight totals -> bucket offsets via a running sum
       over the <= n_buckets-row count relation (the ONLY partition-
       less window, cardinality-bounded by construction);
    3. per bucket, a _b-partitioned local prefix sum + the broadcast
       offset.

    Results are EXACTLY the single-window values — same integers, same
    order-independent half-sums. Equal-width buckets can skew when the
    score mass concentrates in a narrow band; the partitions stay
    distributed (worst case one bucket ~ the band's distinct values),
    strictly better than the always-one-partition form. Contract:
    ``v`` is numeric and non-null; callers localCheckpoint ``hist``
    (this helper references it via bounds + bucketing, and multi-
    referenced subtrees recompute per reference — CLAUDE.md)."""
    vd = F.col("v").cast("double")
    bounds = hist.agg(F.min(vd).alias("_lo"), F.max(vd).alias("_hi"))
    span = F.col("_hi") - F.col("_lo")
    pos = (F.col("_hi") - vd) if descending else (vd - F.col("_lo"))
    b = F.when(
        span > 0,
        F.least(F.lit(n_buckets - 1), F.floor(pos / span * n_buckets)),
    ).otherwise(F.lit(0))
    h = hist.crossJoin(F.broadcast(bounds)).withColumn(
        "_b", b.cast("long")
    ).drop("_lo", "_hi")
    counts = h.groupBy("_b").agg(F.sum(weight).alias("_n"))
    woff = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(woff), F.lit(0))
    ).select("_b", "_off")
    order = F.col("v").desc() if descending else F.col("v").asc()
    wloc = (
        Window.partitionBy("_b")
        .orderBy(order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        h.join(F.broadcast(offsets), "_b")
        .withColumn(
            "cum_before",
            F.coalesce(F.sum(weight).over(wloc), F.lit(0)) + F.col("_off"),
        )
        .drop("_b", "_off")
    )


# --------------------------------------------------------------------------
# ROC AUC (tie-corrected, histogram-exact)
# --------------------------------------------------------------------------


def roc_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """Area under the ROC curve of ``score_col`` ranking the binary
    ``label_col`` (0/1 int) — the threshold-free grade of a scorer.
    AUC = U / (n_pos * n_neg) with the tie-corrected Mann-Whitney U
    (average ranks over tied score blocks), i.e. the probability a
    random positive outscores a random negative, ties counting half.

    NO row sort: average ranks come from the SCORE HISTOGRAM
    (avg_rank of a tied block = cum_before + (t+1)/2 — halves are
    exact IEEE doubles), so the rank sum, U, and the single final
    division are bit-identical cross-engine and emitted RAW. The
    cumulative counts use the two-stage bucket-offset prefix sum
    (_bounded_cum_before): a money-like score makes the histogram
    row-sized, so no single-partition window may run over it.

    One output row: (n_pos, n_neg, u_stat, auc)."""
    hist = df.groupBy(F.col(score_col).alias("v")).agg(
        F.sum(F.col(label_col)).cast("long").alias("cp"),
        F.sum(1 - F.col(label_col)).cast("long").alias("cn"),
    ).localCheckpoint(eager=False)
    t = F.col("cp") + F.col("cn")
    ranked = _bounded_cum_before(
        hist, F.col("cp") + F.col("cn"), descending=False
    ).withColumn("avg_rank", (2 * F.col("cum_before") + t + 1) / F.lit(2.0))
    agg = ranked.agg(
        F.sum("cp").cast("long").alias("n_pos"),
        F.sum("cn").cast("long").alias("n_neg"),
        F.sum(F.col("cp") * F.col("avg_rank")).alias("r_pos"),
    )
    u = F.col("r_pos") - F.col("n_pos") * (F.col("n_pos") + 1) / F.lit(2.0)
    return agg.select(
        "n_pos",
        "n_neg",
        u.alias("u_stat"),
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            u / (F.col("n_pos") * F.col("n_neg")),
        ).alias("auc"),
    )


def roc_auc_oracle_sql(table: str, score_sql: str, label_sql: str) -> str:
    """DuckDB mirror of `roc_auc`: identical histogram average ranks,
    exact U, one final division."""
    return f"""
    WITH hist AS (
        SELECT {score_sql} AS v,
               CAST(sum({label_sql}) AS BIGINT) AS cp,
               CAST(sum(1 - ({label_sql})) AS BIGINT) AS cn
        FROM {table}
        GROUP BY 1
    ),
    ranked AS (
        SELECT cp, cn,
               coalesce(sum(cp + cn) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before,
               cp + cn AS t
        FROM hist
    ),
    agg AS (
        SELECT CAST(sum(cp) AS BIGINT) AS n_pos,
               CAST(sum(cn) AS BIGINT) AS n_neg,
               sum(cp * ((2 * cum_before + t + 1) / 2.0)) AS r_pos
        FROM ranked
    )
    SELECT n_pos, n_neg,
           r_pos - n_pos * (n_pos + 1) / 2.0 AS u_stat,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
               (r_pos - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg)
           END AS auc
    FROM agg
    """


# --------------------------------------------------------------------------
# Cumulative gains / lift table
# --------------------------------------------------------------------------


def gains_table(
    df: DataFrame, score_col: str, label_col: str, n_buckets: int = 10
) -> DataFrame:
    """Cumulative-gains/lift table: rank the population by ``score_col``
    descending, cut into ``n_buckets`` equal-population buckets, and
    report per-bucket and cumulative positive capture — the campaign-
    targeting readout ("top decile captures X% of converters").

    Bucket boundaries come from the SCORE HISTOGRAM's cumulative
    count (bucket = floor(n_buckets*cum_before/n)+1 — exact integers
    through a double floor, valid below 2^53 rows), so a tied score
    block lands wholly in one bucket: fully deterministic, no ntile
    row-order dependence. capture_rate = cum_pos/tot_pos and
    cum_lift = (cum_pos*tot_rows)/(cum_rows*tot_pos) are each ONE
    division of exact BIGINT products (documented bound:
    cum_pos*tot_rows < 2^63).

    Output: one row per non-empty bucket (bucket, n_rows, n_pos,
    cum_rows, cum_pos, capture_rate, cum_lift)."""
    # hist is referenced twice (totals + the bucketing window);
    # checkpoint the value-space relation once so row mass scans ONCE
    hist = (
        df.groupBy(F.col(score_col).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col(label_col)).cast("long").alias("pos"),
        )
        .localCheckpoint(eager=False)
    )
    tot = hist.agg(
        F.sum("cnt").cast("long").alias("tot_rows"),
        F.sum("pos").cast("long").alias("tot_pos"),
    )
    bucketed = (
        _bounded_cum_before(hist, F.col("cnt"), descending=True)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.least(
                F.lit(n_buckets),
                (
                    F.floor(
                        F.lit(n_buckets) * F.col("cum_before") / F.col("tot_rows")
                    )
                    + 1
                ).cast("long"),
            ),
        )
    )
    per_bucket = bucketed.groupBy("bucket", "tot_rows", "tot_pos").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.withColumn("cum_rows", F.sum("n_rows").over(wb).cast("long"))
        .withColumn("cum_pos", F.sum("n_pos").over(wb).cast("long"))
        .select(
            "bucket",
            "n_rows",
            "n_pos",
            "cum_rows",
            "cum_pos",
            F.when(
                F.col("tot_pos") > 0, F.col("cum_pos") / F.col("tot_pos")
            ).alias("capture_rate"),
            F.when(
                (F.col("tot_pos") > 0) & (F.col("cum_rows") > 0),
                (F.col("cum_pos") * F.col("tot_rows"))
                / (F.col("cum_rows") * F.col("tot_pos")),
            ).alias("cum_lift"),
        )
    )


def gains_oracle_sql(
    table: str, score_sql: str, label_sql: str, n_buckets: int = 10
) -> str:
    """DuckDB mirror of `gains_table`: identical histogram bucketing
    and exact-integer cumulative ratios."""
    nb = n_buckets
    return f"""
    WITH hist AS (
        SELECT {score_sql} AS v,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum({label_sql}) AS BIGINT) AS pos
        FROM {table}
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS tot_rows,
               CAST(sum(pos) AS BIGINT) AS tot_pos
        FROM hist
    ),
    bucketed AS (
        SELECT least({nb}, CAST(floor({nb} * coalesce(sum(cnt) OVER (
                   ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / tot_rows) AS BIGINT) + 1) AS bucket,
               cnt, pos, tot_rows, tot_pos
        FROM hist CROSS JOIN tot
    ),
    per_bucket AS (
        SELECT bucket, tot_rows, tot_pos,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM bucketed
        GROUP BY bucket, tot_rows, tot_pos
    )
    SELECT bucket, n_rows, n_pos,
           CAST(sum(n_rows) OVER (ORDER BY bucket) AS BIGINT) AS cum_rows,
           CAST(sum(n_pos) OVER (ORDER BY bucket) AS BIGINT) AS cum_pos,
           CASE WHEN tot_pos > 0 THEN
               CAST(sum(n_pos) OVER (ORDER BY bucket) AS DOUBLE) / tot_pos
           END AS capture_rate,
           CASE WHEN tot_pos > 0 AND sum(n_rows) OVER (ORDER BY bucket) > 0 THEN
               CAST(sum(n_pos) OVER (ORDER BY bucket) * tot_rows AS DOUBLE)
               / (sum(n_rows) OVER (ORDER BY bucket) * tot_pos)
           END AS cum_lift
    FROM per_bucket
    """


# --------------------------------------------------------------------------
# Precision-recall curve + AUPRC (decile grid)
# --------------------------------------------------------------------------


def pr_curve(
    df: DataFrame, score_col: str, label_col: str, n_buckets: int = 10
) -> DataFrame:
    """Precision-recall curve on the same histogram-decile grid as
    `gains_table`, plus the step-interpolated area under it (AUPRC) —
    the rare-positive complement of ROC AUC (ROC flatters scorers
    when negatives dominate; PR does not). precision_b =
    cum_pos/cum_rows and recall_b = cum_pos/tot_pos are single
    divisions of exact BIGINTs; AUPRC = sum_b (recall_b -
    recall_{b-1}) * precision_b is a <= n_buckets-term product sum of
    those exact-division doubles, rounded 6 dp on both sides. The
    decile grid (not per-distinct-score steps) keeps the term count
    bounded and the cross-engine sum safe at any scale.

    Output: one row per non-empty bucket (bucket, cum_rows, cum_pos,
    precision, recall, auprc — auprc repeated on every row)."""
    # hist (totals + bucketing) and curve (area + output) are each
    # referenced twice; checkpoint both bounded relations so row mass
    # scans ONCE and the window runs ONCE
    hist = (
        df.groupBy(F.col(score_col).alias("v"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum(F.col(label_col)).cast("long").alias("pos"),
        )
        .transform(hold)
    )
    tot = hist.agg(
        F.sum("cnt").cast("long").alias("tot_rows"),
        F.sum("pos").cast("long").alias("tot_pos"),
    )
    per_bucket = (
        _bounded_cum_before(hist, F.col("cnt"), descending=True)
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "bucket",
            F.least(
                F.lit(n_buckets),
                (
                    F.floor(
                        F.lit(n_buckets) * F.col("cum_before") / F.col("tot_rows")
                    )
                    + 1
                ).cast("long"),
            ),
        )
        .groupBy("bucket", "tot_pos")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    wb = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("bucket")
    curve = (
        per_bucket.withColumn("cum_rows", F.sum("n_rows").over(wb).cast("long"))
        .withColumn("cum_pos", F.sum("n_pos").over(wb).cast("long"))
        .withColumn(
            "prev_pos", F.coalesce(F.lag("cum_pos").over(wl), F.lit(0))
        )
        .filter(F.col("tot_pos") > 0)
        .select(
            "bucket",
            "cum_rows",
            "cum_pos",
            (F.col("cum_pos") / F.col("cum_rows")).alias("precision"),
            (F.col("cum_pos") / F.col("tot_pos")).alias("recall"),
            (
                ((F.col("cum_pos") - F.col("prev_pos")) / F.col("tot_pos"))
                * (F.col("cum_pos") / F.col("cum_rows"))
            ).alias("term"),
        )
    ).transform(hold)
    area = curve.agg(F.round(F.sum("term"), 6).alias("auprc"))
    return curve.crossJoin(F.broadcast(area)).select(
        "bucket", "cum_rows", "cum_pos", "precision", "recall", "auprc"
    )


def pr_curve_oracle_sql(
    table: str, score_sql: str, label_sql: str, n_buckets: int = 10
) -> str:
    """DuckDB mirror of `pr_curve`."""
    nb = n_buckets
    return f"""
    WITH hist AS (
        SELECT {score_sql} AS v,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(sum({label_sql}) AS BIGINT) AS pos
        FROM {table}
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(cnt) AS BIGINT) AS tot_rows,
               CAST(sum(pos) AS BIGINT) AS tot_pos
        FROM hist
    ),
    per_bucket AS (
        SELECT least({nb}, CAST(floor({nb} * coalesce(sum(cnt) OVER (
                   ORDER BY v DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   / tot_rows) AS BIGINT) + 1) AS bucket,
               cnt, pos, tot_pos
        FROM hist CROSS JOIN tot
    ),
    agg AS (
        SELECT bucket, tot_pos,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(sum(pos) AS BIGINT) AS n_pos
        FROM per_bucket GROUP BY bucket, tot_pos
    ),
    cums AS (
        SELECT bucket,
               CAST(sum(n_rows) OVER (ORDER BY bucket) AS BIGINT) AS cum_rows,
               CAST(sum(n_pos) OVER (ORDER BY bucket) AS BIGINT) AS cum_pos,
               tot_pos
        FROM agg
    ),
    curve AS (
        SELECT bucket, cum_rows, cum_pos,
               coalesce(lag(cum_pos) OVER (ORDER BY bucket), 0) AS prev_pos,
               tot_pos
        FROM cums
    ),
    terms AS (
        SELECT bucket, cum_rows, cum_pos,
               CAST(cum_pos AS DOUBLE) / cum_rows AS precision,
               CAST(cum_pos AS DOUBLE) / tot_pos AS recall,
               (CAST(cum_pos - prev_pos AS DOUBLE) / tot_pos)
                   * (CAST(cum_pos AS DOUBLE) / cum_rows) AS term
        FROM curve WHERE tot_pos > 0
    ),
    area AS (SELECT round(sum(term), 6) AS auprc FROM terms)
    SELECT bucket, cum_rows, cum_pos, precision, recall, auprc
    FROM terms CROSS JOIN area
    """


# --------------------------------------------------------------------------
# Calibration reliability table + exact-integer ECE
# --------------------------------------------------------------------------


def _score_bins(
    df: DataFrame, score_col: str, label_col: str, denom_cents: int, n_bins: int
) -> DataFrame:
    """Rows as (bin, s, label) over ``n_bins`` fixed-width
    pseudo-probability bins: s = floor(score*100) cents as BIGINT,
    prob = s/denom_cents, bin = least(n_bins, floor(n_bins*s/D) + 1),
    label as BIGINT. The one binning of the score-bin family
    (calibration_bins, brier_decomposition, threshold_sweep,
    hosmer_lemeshow); integer-exact, so every per-bin aggregate over it
    is too."""
    s = F.floor(F.col(score_col) * 100).cast("long")
    return df.select(
        F.least(
            F.lit(n_bins),
            (F.floor(F.lit(n_bins) * s / F.lit(denom_cents)) + 1).cast("long"),
        ).alias("bin"),
        s.alias("s"),
        F.col(label_col).cast("long").alias("label"),
    )


def calibration_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability table of a pseudo-probability score: bin
    prob = floor(score*100)/denom_cents into ``n_bins`` fixed-width
    bins and compare per-bin accuracy (positive rate) to confidence
    (mean predicted prob) — the is-the-scorer-calibrated readout.

    Exact-integer throughout: scores become floor-cents BIGINTs, so
    acc = pos/n and conf = cents/(denom_cents*n) are single divisions
    of exact integers, and the expected calibration error needs NO
    double accumulation at all:
        n_b * |acc_b - conf_b| = |denom_cents*pos_b - cents_b| / denom_cents
    so ECE = sum(|denom_cents*pos_b - cents_b|) / (denom_cents * N) —
    an all-BIGINT numerator and ONE division, bit-identical.

    Output: one row per non-empty bin (bin, n, n_pos, acc, conf, ece —
    ece repeated on every row by construction)."""
    d = F.lit(denom_cents)
    binned = _score_bins(df, score_col, label_col, denom_cents, n_bins)
    # per_bin is referenced twice (ECE totals + output rows);
    # checkpoint the <= n_bins relation so row mass scans ONCE
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum("s").cast("long").alias("cents"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per_bin.agg(
        F.sum(F.abs(d * F.col("n_pos") - F.col("cents")))
        .cast("long")
        .alias("ece_num"),
        F.sum("n").cast("long").alias("n_tot"),
    )
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "n",
            "n_pos",
            (F.col("n_pos") / F.col("n")).alias("acc"),
            (F.col("cents") / (d * F.col("n"))).alias("conf"),
            (F.col("ece_num") / (d * F.col("n_tot"))).alias("ece"),
        )
    )


def calibration_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_bins: int = 10,
) -> str:
    """DuckDB mirror of `calibration_bins`: floor-cents bins and the
    all-integer ECE numerator."""
    d = denom_cents
    return f"""
    WITH binned AS (
        SELECT least({n_bins}, CAST(floor({n_bins}
                   * CAST(floor(({score_sql}) * 100) AS BIGINT) / {d})
                   AS BIGINT) + 1) AS bin,
               CAST(floor(({score_sql}) * 100) AS BIGINT) AS s,
               CAST({label_sql} AS BIGINT) AS label
        FROM {table}
    ),
    per_bin AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS n_pos,
               CAST(sum(s) AS BIGINT) AS cents
        FROM binned
        GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(abs({d} * n_pos - cents)) AS BIGINT) AS ece_num,
               CAST(sum(n) AS BIGINT) AS n_tot
        FROM per_bin
    )
    SELECT bin, n, n_pos,
           CAST(n_pos AS DOUBLE) / n AS acc,
           CAST(cents AS DOUBLE) / ({d} * n) AS conf,
           CAST(ece_num AS DOUBLE) / ({d} * n_tot) AS ece
    FROM per_bin CROSS JOIN tot
    """


# --------------------------------------------------------------------------
# Population stability index (PSI) drift
# --------------------------------------------------------------------------


def psi_drift(
    df: DataFrame,
    value_col: str,
    cohort_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Population stability index between cohort A (``cohort_col``=1)
    and cohort B (=0) on ``value_col``, over ``n_bins`` fixed-width
    bins spanning [lo, hi] — the model-monitoring drift score
    (rule of thumb: <0.1 stable, >0.25 shifted).

    Fixed-width bins (not quantiles) keep the binning deterministic
    and engine-identical; p = ca/na and q = cb/nb are single exact
    divisions; the (p-q)*ln(p/q) terms pass through ln (irrational)
    so the <= n_bins-term sum rounds 6 dp on both sides. Bins empty
    on either side are excluded (the standard PSI convention) and
    counted in bins_used.

    One output row: (psi, bins_used, n_a, n_b)."""
    span = hi - lo
    c = F.col(cohort_col)
    binned = df.select(
        F.least(
            F.lit(n_bins),
            (
                F.floor(F.lit(n_bins) * (F.col(value_col) - F.lit(lo)) / F.lit(span))
                + 1
            ).cast("long"),
        ).alias("bin"),
        c.alias("c"),
    )
    # per_bin feeds both the totals and the term sum; checkpoint the
    # <= n_bins relation so row mass scans ONCE
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.col("c")).cast("long").alias("ca"),
            F.sum(1 - F.col("c")).cast("long").alias("cb"),
        )
        .localCheckpoint(eager=False)
    )
    tot = per_bin.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    p = F.col("ca") / F.col("n_a")
    q = F.col("cb") / F.col("n_b")
    term = (p - q) * F.log(p / q)
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(F.when((F.col("ca") > 0) & (F.col("cb") > 0), term)), 6
            ).alias("psi"),
            F.sum(
                F.when((F.col("ca") > 0) & (F.col("cb") > 0), 1).otherwise(0)
            )
            .cast("long")
            .alias("bins_used"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )


def psi_oracle_sql(
    table: str,
    value_sql: str,
    cohort_sql: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> str:
    """DuckDB mirror of `psi_drift`: identical fixed-width bins and
    6 dp-rounded ln-term sum."""
    span = hi - lo
    return f"""
    WITH binned AS (
        SELECT least({n_bins}, CAST(floor({n_bins}
                   * (({value_sql}) - {lo}) / {span}) AS BIGINT) + 1) AS bin,
               CAST({cohort_sql} AS BIGINT) AS c
        FROM {table}
    ),
    per_bin AS (
        SELECT bin,
               CAST(sum(c) AS BIGINT) AS ca,
               CAST(sum(1 - c) AS BIGINT) AS cb
        FROM binned
        GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b
        FROM per_bin
    )
    SELECT round(sum(CASE WHEN ca > 0 AND cb > 0 THEN
               (CAST(ca AS DOUBLE) / n_a - CAST(cb AS DOUBLE) / n_b)
               * ln((CAST(ca AS DOUBLE) / n_a) / (CAST(cb AS DOUBLE) / n_b))
           END), 6) AS psi,
           CAST(sum(CASE WHEN ca > 0 AND cb > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS bins_used,
           max(n_a) AS n_a,
           max(n_b) AS n_b
    FROM per_bin CROSS JOIN tot
    """


# --------------------------------------------------------------------------
# Hellinger / Bhattacharyya categorical distance
# --------------------------------------------------------------------------


def hellinger_distance(
    df: DataFrame, cat_col: str, cohort_col: str
) -> DataFrame:
    """Hellinger distance + Bhattacharyya coefficient/distance between
    the categorical distributions of ``cat_col`` in cohort A
    (``cohort_col``=1) vs cohort B (=0) — the bounded [0,1] sibling of
    KL/JS that stays finite when a category is missing on one side.

    BC = sum_cat sqrt(p*q); hellinger = sqrt(max(0, 1-BC));
    bhattacharyya = -ln(BC). p and q are single exact divisions; the
    sqrt terms are irrational so all three outputs round 6 dp (the
    max(0,...) clamp guards the fp case BC marginally above 1).

    One output row: (bc_coef, hellinger, bhattacharyya, n_a, n_b)."""
    c = F.col(cohort_col)
    # per_cat feeds both the totals and the BC sum; checkpoint the
    # category-sized relation so row mass scans ONCE
    per_cat = (
        df.groupBy(F.col(cat_col).alias("cat"))
        .agg(
            F.sum(c).cast("long").alias("ca"),
            F.sum(1 - c).cast("long").alias("cb"),
        )
        .transform(hold)
    )
    tot = per_cat.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    p = F.col("ca") / F.col("n_a")
    q = F.col("cb") / F.col("n_b")
    agg = (
        per_cat.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.sqrt(p * q)).alias("bc_raw"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
    )
    return agg.select(
        F.round(F.col("bc_raw"), 6).alias("bc_coef"),
        F.round(
            F.sqrt(F.greatest(F.lit(0.0), 1 - F.col("bc_raw"))), 6
        ).alias("hellinger"),
        F.round(
            F.when(F.col("bc_raw") > 0, -F.log(F.col("bc_raw"))), 6
        ).alias("bhattacharyya"),
        "n_a",
        "n_b",
    )


def hellinger_oracle_sql(table: str, cat_sql: str, cohort_sql: str) -> str:
    """DuckDB mirror of `hellinger_distance`."""
    return f"""
    WITH per_cat AS (
        SELECT {cat_sql} AS cat,
               CAST(sum({cohort_sql}) AS BIGINT) AS ca,
               CAST(sum(1 - ({cohort_sql})) AS BIGINT) AS cb
        FROM {table}
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b
        FROM per_cat
    ),
    agg AS (
        SELECT sum(sqrt((CAST(ca AS DOUBLE) / n_a)
                        * (CAST(cb AS DOUBLE) / n_b))) AS bc_raw,
               max(n_a) AS n_a, max(n_b) AS n_b
        FROM per_cat CROSS JOIN tot
    )
    SELECT round(bc_raw, 6) AS bc_coef,
           round(sqrt(greatest(0.0, 1 - bc_raw)), 6) AS hellinger,
           round(CASE WHEN bc_raw > 0 THEN -ln(bc_raw) END, 6)
               AS bhattacharyya,
           n_a, n_b
    FROM agg
    """


# --------------------------------------------------------------------------
# Exact 1D Wasserstein (earth mover's) distance
# --------------------------------------------------------------------------


def wasserstein_1d(
    df: DataFrame, group_col: str, value_col: str, a: str, b: str
) -> DataFrame:
    """Exact 1D Wasserstein-1 (earth mover's) distance between the
    ``value_col`` distributions of groups ``a`` and ``b`` — the
    magnitude-aware drift metric (KS sees the largest CDF gap;
    W1 integrates ALL of it: the average value-shift in value units).

    W1 = integral |CDF_a - CDF_b| dv, computed EXACTLY on the
    floor-cents value histogram: per distinct value, the integrand
    numerator |cum_a*n_b - cum_b*n_a| and the gap to the next value
    are both BIGINTs, so the whole integral is one exact integer sum
    and ONE final division by (n_a*n_b*100) — bit-identical, emitted
    raw, in dollar units. Documented bound: n_a*n_b*value_range_cents
    < 2^63 (~13M rows per side at a $500 range).

    One output row: (n_a, n_b, w1)."""
    g = F.col(group_col)
    hist = (
        df.filter(g.isin(a, b))
        .groupBy(
            F.floor(F.col(value_col) * 100).cast("long").alias("v")
        )
        .agg(
            F.sum(F.when(g == a, 1).otherwise(0)).cast("long").alias("ca"),
            F.sum(F.when(g == b, 1).otherwise(0)).cast("long").alias("cb"),
        )
        # hist feeds both the CDF window and the totals; checkpoint
        # the value-space relation so row mass scans ONCE
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wl = Window.orderBy("v")
    cum = hist.select(
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        (F.lead("v").over(wl) - F.col("v")).alias("gap"),
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
            # coalesce: a single distinct value has only NULL gaps ->
            # the integral is an empty sum = 0, not NULL
            F.coalesce(
                F.sum(
                    F.abs(
                        F.col("cum_a") * F.col("n_b")
                        - F.col("cum_b") * F.col("n_a")
                    )
                    * F.col("gap")
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("area_num"),
        )
        .select(
            "n_a",
            "n_b",
            F.when(
                (F.col("n_a") > 0) & (F.col("n_b") > 0),
                F.col("area_num") / (F.col("n_a") * F.col("n_b") * 100),
            ).alias("w1"),
        )
    )


def wasserstein_oracle_sql(
    table: str, group_sql: str, value_sql: str, a_lit: str, b_lit: str
) -> str:
    """DuckDB mirror of `wasserstein_1d`: integer area numerator, one
    final division."""
    return f"""
    WITH hist AS (
        SELECT CAST(floor(({value_sql}) * 100) AS BIGINT) AS v,
               CAST(sum(CASE WHEN {group_sql} = {a_lit} THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {b_lit} THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM {table}
        WHERE {group_sql} IN ({a_lit}, {b_lit})
        GROUP BY 1
    ),
    cum AS (
        SELECT sum(ca) OVER (ORDER BY v) AS cum_a,
               sum(cb) OVER (ORDER BY v) AS cum_b,
               lead(v) OVER (ORDER BY v) - v AS gap
        FROM hist
    ),
    tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                   CAST(sum(cb) AS BIGINT) AS n_b
            FROM hist)
    SELECT max(n_a) AS n_a, max(n_b) AS n_b,
           CASE WHEN max(n_a) > 0 AND max(n_b) > 0 THEN
               CAST(coalesce(sum(abs(cum_a * n_b - cum_b * n_a) * gap), 0)
                    AS DOUBLE)
               / (max(n_a) * max(n_b) * 100)
           END AS w1
    FROM cum CROSS JOIN tot
    """


# --------------------------------------------------------------------------
# CUPED variance reduction
# --------------------------------------------------------------------------


def cuped_adjustment(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): the
    variance-reduction readout for A/B metrics. Given per-unit
    (x = pre-period covariate, y = experiment metric), theta =
    cov(x,y)/var(x) is the adjustment coefficient and rho^2 — the
    fraction of metric variance the adjustment removes — is the
    headline ("CUPED cuts this metric's CI width by sqrt(1-rho^2)").

    x and y must be exact integers (cents): the five power sums
    (Sx, Sy, Sxx, Sxy, Syy) are BIGINTs from ONE map-combined
    aggregate, theta = (n*Sxy - Sx*Sy)/(n*Sxx - Sx^2) is a single
    division of exact integers, and rho^2 casts the three exact
    BIGINTs to doubles with identical expression text — all
    bit-identical cross-engine, emitted raw. Documented bound:
    n * max|x*y| < 2^63. Degenerate guard: zero variance on either
    side -> NULL (not an ANSI divide-by-zero crash).

    One output row: (n_units, theta, rho_sq)."""
    x, y = F.col(x_col), F.col(y_col)
    agg = df.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sx"),
        F.sum(y).cast("long").alias("sy"),
        F.sum(x * x).cast("long").alias("sxx"),
        F.sum(x * y).cast("long").alias("sxy"),
        F.sum(y * y).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return agg.select(
        F.col("n").alias("n_units"),
        F.when(dx != 0, num / dx).alias("theta"),
        F.when(
            (dx != 0) & (dy != 0),
            (num.cast("double") * num.cast("double"))
            / (dx.cast("double") * dy.cast("double")),
        ).alias("rho_sq"),
    )


def cuped_oracle_sql(per_unit_sql: str) -> str:
    """DuckDB mirror of `cuped_adjustment`. ``per_unit_sql`` is a CTE
    body producing (x, y) BIGINT columns, one row per unit."""
    return f"""
    WITH per_unit AS ({per_unit_sql}),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy,
               CAST(sum(y * y) AS BIGINT) AS syy
        FROM per_unit
    )
    SELECT n AS n_units,
           CASE WHEN n * sxx - sx * sx <> 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
           END AS theta,
           CASE WHEN n * sxx - sx * sx <> 0 AND n * syy - sy * sy <> 0 THEN
               (CAST(n * sxy - sx * sy AS DOUBLE)
                * CAST(n * sxy - sx * sy AS DOUBLE))
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE))
           END AS rho_sq
    FROM agg
    """


# --------------------------------------------------------------------------
# Pettitt change-point test
# --------------------------------------------------------------------------


def pettitt_changepoint(
    df: DataFrame, day_col: str, metric_col: str
) -> DataFrame:
    """Pettitt's nonparametric change-point test over a (day, metric)
    series: finds the split day t maximizing |U_t| where
    U_t = 2*R_t - t*(n+1) (R_t = sum of average ranks of the first t
    metrics) — the rank-based single-change detector that needs no
    distributional assumption, complementing CUSUM (which tracks mean
    shifts against a known baseline).

    Ranks come from the METRIC HISTOGRAM (average rank of a tied
    block, halves exact); R_t accumulates them in day order, so every
    U_t is an exactly-representable integer-valued double. The argmax
    day ties to the EARLIEST day (min-day over rows attaining the
    max — no max_by tie nondeterminism). p_approx =
    2*exp(-6K^2/(n^3+n^2)) rounds 6 dp (exp is irrational).

    One output row: (change_day, k_stat, n_days, p_approx)."""
    # daily is referenced three times (rank histogram, the day join,
    # totals); checkpoint the day-grid relation so row mass scans ONCE
    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(F.col(metric_col)).cast("long").alias("m"))
        .transform(hold)
    )
    hist = daily.groupBy("m").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wr = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
    ranks = hist.withColumn(
        "cum_before", F.coalesce(F.sum("c").over(wr), F.lit(0))
    ).select(
        "m",
        ((2 * F.col("cum_before") + F.col("c") + 1) / F.lit(2.0)).alias(
            "avg_rank"
        ),
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    walked = (
        daily.join(ranks, "m")
        .withColumn("r_t", F.sum("avg_rank").over(wd))
        .withColumn("t", F.count(F.lit(1)).over(wd).cast("long"))
        .crossJoin(F.broadcast(tot))
        .withColumn(
            "u_t", 2 * F.col("r_t") - F.col("t") * (F.col("n_days") + 1)
        )
        .filter(F.col("t") < F.col("n_days"))
    )
    kdf = walked.agg(F.max(F.abs(F.col("u_t"))).alias("k_stat"))
    return (
        walked.crossJoin(F.broadcast(kdf))
        .filter(F.abs(F.col("u_t")) == F.col("k_stat"))
        .groupBy("k_stat", "n_days")
        .agg(F.min(F.col("day").cast("string")).alias("change_day"))
        .select(
            "change_day",
            "k_stat",
            "n_days",
            F.round(
                2
                * F.exp(
                    -6
                    * F.col("k_stat")
                    * F.col("k_stat")
                    / (
                        F.col("n_days") * F.col("n_days") * F.col("n_days")
                        + F.col("n_days") * F.col("n_days")
                    )
                ),
                6,
            ).alias("p_approx"),
        )
    )


def pettitt_oracle_sql(daily_sql: str) -> str:
    """DuckDB mirror of `pettitt_changepoint`. ``daily_sql`` is a CTE
    body producing (day, m) with m a BIGINT metric."""
    return f"""
    WITH daily AS ({daily_sql}),
    hist AS (
        SELECT m, CAST(count(*) AS BIGINT) AS c
        FROM daily GROUP BY m
    ),
    ranks AS (
        SELECT m,
               (2 * coalesce(sum(c) OVER (ORDER BY m
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + c + 1) / 2.0 AS avg_rank
        FROM hist
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
    walked AS (
        SELECT day,
               2 * sum(avg_rank) OVER (ORDER BY day)
                 - (row_number() OVER (ORDER BY day)) * (n_days + 1) AS u_t,
               row_number() OVER (ORDER BY day) AS t,
               n_days
        FROM daily JOIN ranks USING (m) CROSS JOIN tot
    ),
    capped AS (SELECT * FROM walked WHERE t < n_days),
    kmax AS (SELECT max(abs(u_t)) AS k_stat FROM capped)
    SELECT min(CAST(day AS VARCHAR)) AS change_day,
           k_stat,
           n_days,
           round(2 * exp(-6 * k_stat * k_stat
               / (n_days * n_days * n_days + n_days * n_days)), 6) AS p_approx
    FROM capped CROSS JOIN kmax
    WHERE abs(u_t) = k_stat
    GROUP BY k_stat, n_days
    """


# --------------------------------------------------------------------------
# Hodges-Lehmann shift estimator
# --------------------------------------------------------------------------


def hodges_lehmann_shift(
    df: DataFrame, group_col: str, value_col: str, a: str, b: str
) -> DataFrame:
    """Hodges-Lehmann shift estimate between groups ``a`` and ``b``:
    the median of all pairwise differences a_i - b_j — the robust
    "how much bigger is A" companion to Mann-Whitney's "is A bigger"
    (resistant to outliers where the mean difference is not).

    The n_a*n_b pair space is NEVER materialized: both sides reduce
    to dollar-floor VALUE HISTOGRAMS first, the difference
    distribution is their convolution (a value-SPACE grid join,
    bounded by range^2 cells — 491^2 here — independent of row
    count), and the median comes from cumulative BIGINT weights with
    the lower-weighted-median rule (smallest d with 2*cum >= W) —
    all-integer, no interpolation, bit-identical.

    One output row: (n_a, n_b, hl_shift) in whole dollars."""
    g = F.col(group_col)
    v = F.floor(F.col(value_col)).cast("long")
    base = df.filter(g.isin(a, b)).select(
        g.alias("grp"), v.alias("v")
    )
    # ha/hb feed the convolution AND the totals, diffs feeds the
    # cumulative window AND the grand total; checkpoint all three
    # value-space relations so row mass scans ONCE per side
    ha = (
        base.filter(F.col("grp") == a)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("ca"))
        .transform(hold)
    )
    hb = (
        base.filter(F.col("grp") == b)
        .groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
        .transform(hold)
    )
    diffs = (
        ha.crossJoin(hb.select(F.col("v").alias("vb"), "cb"))
        .groupBy((F.col("v") - F.col("vb")).alias("d"))
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("wt"))
        .transform(hold)
    )
    tot = diffs.agg(F.sum("wt").cast("long").alias("w_tot"))
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    na = ha.agg(F.sum("ca").cast("long").alias("n_a"))
    nb = hb.agg(F.sum("cb").cast("long").alias("n_b"))
    return (
        diffs.withColumn("cum", F.sum("wt").over(wd).cast("long"))
        .crossJoin(F.broadcast(tot))
        .filter(2 * F.col("cum") >= F.col("w_tot"))
        .agg(F.min("d").cast("long").alias("hl_shift"))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select("n_a", "n_b", "hl_shift")
    )


def hodges_lehmann_oracle_sql(
    table: str, group_sql: str, value_sql: str, a_lit: str, b_lit: str
) -> str:
    """DuckDB mirror of `hodges_lehmann_shift`: histogram convolution
    + lower weighted median."""
    return f"""
    WITH ha AS (
        SELECT CAST(floor({value_sql}) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS ca
        FROM {table} WHERE {group_sql} = {a_lit} GROUP BY 1
    ),
    hb AS (
        SELECT CAST(floor({value_sql}) AS BIGINT) AS v,
               CAST(count(*) AS BIGINT) AS cb
        FROM {table} WHERE {group_sql} = {b_lit} GROUP BY 1
    ),
    diffs AS (
        SELECT ha.v - hb.v AS d, CAST(sum(ca * cb) AS BIGINT) AS wt
        FROM ha CROSS JOIN hb
        GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(wt) AS BIGINT) AS w_tot FROM diffs),
    na AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a FROM ha),
    nb AS (SELECT CAST(sum(cb) AS BIGINT) AS n_b FROM hb),
    cum AS (
        SELECT d, sum(wt) OVER (ORDER BY d) AS cum, w_tot
        FROM diffs CROSS JOIN tot
    )
    SELECT n_a, n_b,
           CAST(min(d) AS BIGINT) AS hl_shift
    FROM cum CROSS JOIN na CROSS JOIN nb
    WHERE 2 * cum >= w_tot
    GROUP BY n_a, n_b
    """


# --------------------------------------------------------------------------
# Brier decomposition (Murphy: reliability / resolution / uncertainty)
# --------------------------------------------------------------------------


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Murphy decomposition of the binned Brier score over the same
    floor-cents probability bins as `calibration_bins` — splits a
    scorer's squared error into reliability (calibration gap: can be
    FIXED by recalibration), resolution (discrimination: cannot), and
    irreducible base-rate uncertainty. Output ONE row:
    (n, rel, res, unc, brier_binned) with brier = rel - res + unc.

    Exact-integer numerators per bin:
        n_b*(conf_b-acc_b)^2 = ((cents_b - D*pos_b)/D)^2 / n_b
        n_b*(acc_b-base)^2   = ((N*pos_b - P*n_b)/N)^2 / n_b
    — identical-text double chains of BIGINTs, accumulated over the
    ORDERED bin window (<= n_bins rows; sequential in both engines,
    the pettitt walk discipline) and divided by N once, rounded dp.
    unc = (P/N)*(1-P/N) is a deterministic two-term product, raw.

    Scale shape: one map-combined bin aggregate; everything after is
    an <= n_bins-row relation with 1-row broadcast totals."""
    binned = _score_bins(df, score_col, label_col, denom_cents, n_bins)
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("label").cast("long").alias("pos"),
            F.sum("s").cast("long").alias("cents"),
        )
        .transform(hold)
    )
    tot = per_bin.agg(
        F.sum("n_b").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("p_tot"),
        F.max("bin").alias("bin_max"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    dd = denom_cents
    walked = (
        per_bin.crossJoin(F.broadcast(tot))
        .withColumn(
            "rel_term",
            F.expr(
                f"(CAST(cents - {dd} * pos AS DOUBLE) / {dd})"
                f" * (CAST(cents - {dd} * pos AS DOUBLE) / {dd}) / n_b"
            ),
        )
        .withColumn(
            "res_term",
            F.expr(
                "(CAST(n_tot * pos - p_tot * n_b AS DOUBLE) / n_tot)"
                " * (CAST(n_tot * pos - p_tot * n_b AS DOUBLE) / n_tot) / n_b"
            ),
        )
        .withColumn("rel_cum", F.sum("rel_term").over(w))
        .withColumn("res_cum", F.sum("res_term").over(w))
    )
    return walked.filter(F.col("bin") == F.col("bin_max")).select(
        F.col("n_tot").alias("n"),
        F.round(F.col("rel_cum") / F.col("n_tot"), dp).alias("rel"),
        F.round(F.col("res_cum") / F.col("n_tot"), dp).alias("res"),
        F.expr(
            "(CAST(p_tot AS DOUBLE) / n_tot)"
            " * (1 - CAST(p_tot AS DOUBLE) / n_tot)"
        ).alias("unc"),
        F.round(
            F.col("rel_cum") / F.col("n_tot")
            - F.col("res_cum") / F.col("n_tot")
            + F.expr(
                "(CAST(p_tot AS DOUBLE) / n_tot)"
                " * (1 - CAST(p_tot AS DOUBLE) / n_tot)"
            ),
            dp,
        ).alias("brier_binned"),
    )


def brier_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `brier_decomposition`: identical bins, term
    text, and ordered-window accumulation."""
    d = denom_cents
    return f"""
    WITH binned AS (
        SELECT least({n_bins}, CAST(floor({n_bins}
                   * CAST(floor(({score_sql}) * 100) AS BIGINT) / {d})
                   AS BIGINT) + 1) AS bin,
               CAST(floor(({score_sql}) * 100) AS BIGINT) AS s,
               CAST({label_sql} AS BIGINT) AS label
        FROM {table}
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(label) AS BIGINT) AS pos,
               CAST(sum(s) AS BIGINT) AS cents
        FROM binned GROUP BY bin
    ),
    tot AS (
        SELECT CAST(sum(n_b) AS BIGINT) AS n_tot,
               CAST(sum(pos) AS BIGINT) AS p_tot,
               max(bin) AS bin_max
        FROM per_bin
    ),
    walked AS (
        SELECT bin, bin_max, n_tot, p_tot,
               sum((CAST(cents - {d} * pos AS DOUBLE) / {d})
                   * (CAST(cents - {d} * pos AS DOUBLE) / {d}) / n_b)
                   OVER w AS rel_cum,
               sum((CAST(n_tot * pos - p_tot * n_b AS DOUBLE) / n_tot)
                   * (CAST(n_tot * pos - p_tot * n_b AS DOUBLE) / n_tot)
                   / n_b) OVER w AS res_cum
        FROM per_bin CROSS JOIN tot
        WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT n_tot AS n,
           round(rel_cum / n_tot, {dp}) AS rel,
           round(res_cum / n_tot, {dp}) AS res,
           (CAST(p_tot AS DOUBLE) / n_tot)
               * (1 - CAST(p_tot AS DOUBLE) / n_tot) AS unc,
           round(rel_cum / n_tot - res_cum / n_tot
                 + (CAST(p_tot AS DOUBLE) / n_tot)
                   * (1 - CAST(p_tot AS DOUBLE) / n_tot), {dp})
               AS brier_binned
    FROM walked WHERE bin = bin_max
    """


# --------------------------------------------------------------------------
# Threshold sweep: confusion-matrix metrics per operating point
# --------------------------------------------------------------------------


def threshold_sweep(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_bins: int = 10,
) -> DataFrame:
    """Precision/recall/F1 at each of ``n_bins`` score thresholds (the
    bin lower edges, in floor-cents space) — the operating-point picker
    between the threshold-free grades (q_roc_auc, q_pr_curve): "which
    cutoff do we actually deploy?". Output one row per threshold:
    (thr_bin, thr_cents, tp, fp, fn, tn, precision, recall, f1).

    Everything is exact-BIGINT suffix sums of the score-bin histogram
    (predicted-positive = s >= threshold = bins >= k): tp/fp/fn/tn are
    integers, and precision = tp/pp, recall = tp/p, f1 = 2*tp/(pp+p)
    are SINGLE divisions — bit-identical cross-engine, raw, no
    rounding anywhere. precision is NULL when nothing clears the bar.

    Scale shape: one map-combined bin aggregate, then <= n_bins rows
    with prefix windows and 1-row broadcast totals."""
    binned = _score_bins(df, score_col, label_col, denom_cents, n_bins)
    per_bin = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("label").cast("long").alias("pos"),
    )
    # a threshold row must exist for EVERY k=1..n_bins even when its
    # bin is empty: build the grid and left-join the histogram
    grid = (
        per_bin.sparkSession.range(1, n_bins + 1)
        .select(F.col("id").cast("long").alias("bin"))
        .join(per_bin, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
            F.coalesce("pos", F.lit(0)).cast("long").alias("pos"),
        )
        .localCheckpoint(eager=False)  # feeds the totals AND the threshold rows
    )
    tot = grid.agg(
        F.sum("n_b").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("p_tot"),
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    dd = denom_cents
    rows = (
        grid.crossJoin(F.broadcast(tot))
        .withColumn(
            "pp", F.col("n_tot") - F.coalesce(F.sum("n_b").over(w), F.lit(0))
        )
        .withColumn(
            "tp", F.col("p_tot") - F.coalesce(F.sum("pos").over(w), F.lit(0))
        )
    )
    return rows.select(
        F.col("bin").alias("thr_bin"),
        F.expr(f"CAST((bin - 1) * {dd} AS BIGINT) div {n_bins}").alias(
            "thr_cents"
        ),
        F.col("tp").cast("long").alias("tp"),
        (F.col("pp") - F.col("tp")).cast("long").alias("fp"),
        (F.col("p_tot") - F.col("tp")).cast("long").alias("fn"),
        (F.col("n_tot") - F.col("pp") - F.col("p_tot") + F.col("tp"))
        .cast("long")
        .alias("tn"),
        F.when(
            F.col("pp") > 0, F.expr("CAST(tp AS DOUBLE) / pp")
        ).alias("precision"),
        F.when(
            F.col("p_tot") > 0, F.expr("CAST(tp AS DOUBLE) / p_tot")
        ).alias("recall"),
        F.when(
            F.col("pp") + F.col("p_tot") > 0,
            F.expr("CAST(2 * tp AS DOUBLE) / (pp + p_tot)"),
        ).alias("f1"),
    )


def threshold_sweep_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_bins: int = 10,
) -> str:
    """DuckDB mirror of `threshold_sweep`: identical bins and
    exact-integer suffix algebra."""
    d = denom_cents
    return f"""
    WITH binned AS (
        SELECT least({n_bins}, CAST(floor({n_bins}
                   * CAST(floor(({score_sql}) * 100) AS BIGINT) / {d})
                   AS BIGINT) + 1) AS bin,
               CAST({label_sql} AS BIGINT) AS label
        FROM {table}
    ),
    per_bin AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
               CAST(sum(label) AS BIGINT) AS pos
        FROM binned GROUP BY bin
    ),
    grid AS (
        SELECT CAST(k AS BIGINT) AS bin,
               CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
               CAST(coalesce(pos, 0) AS BIGINT) AS pos
        FROM (SELECT unnest(range(1, {n_bins} + 1)) AS k)
        LEFT JOIN per_bin ON per_bin.bin = k
    ),
    tot AS (
        SELECT CAST(sum(n_b) AS BIGINT) AS n_tot,
               CAST(sum(pos) AS BIGINT) AS p_tot
        FROM grid
    ),
    rows_ AS (
        SELECT bin, n_tot, p_tot,
               n_tot - coalesce(sum(n_b) OVER w, 0) AS pp,
               p_tot - coalesce(sum(pos) OVER w, 0) AS tp
        FROM grid CROSS JOIN tot
        WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING)
    )
    SELECT bin AS thr_bin,
           CAST((bin - 1) * {d} AS BIGINT) // {n_bins} AS thr_cents,
           CAST(tp AS BIGINT) AS tp,
           CAST(pp - tp AS BIGINT) AS fp,
           CAST(p_tot - tp AS BIGINT) AS fn,
           CAST(n_tot - pp - p_tot + tp AS BIGINT) AS tn,
           CASE WHEN pp > 0 THEN CAST(tp AS DOUBLE) / pp END AS precision,
           CASE WHEN p_tot > 0 THEN CAST(tp AS DOUBLE) / p_tot END AS recall,
           CASE WHEN pp + p_tot > 0
                THEN CAST(2 * tp AS DOUBLE) / (pp + p_tot) END AS f1
    FROM rows_
    """


# --------------------------------------------------------------------------
# UCB1 bandit arm scores
# --------------------------------------------------------------------------


def ucb1_scores(
    df: DataFrame,
    arm_col: str,
    reward_col: str,
    reward_max_cents: int,
    dp: int = 6,
) -> DataFrame:
    """UCB1 upper-confidence scores per arm from logged rewards — the
    explore/exploit readout the experiment family feeds ("given what
    each variant earned so far, which does a bandit pull next?"),
    next to the fixed-horizon (welch/CUPED) and sequential (SPRT)
    tests. Rewards normalize to [0,1] by ``reward_max_cents``.
    Output one row per arm: (arm, n_pulls, mean_reward, ucb).

    mean_reward = cents/(max_cents*n) is a single division of exact
    BIGINTs (raw); the exploration bonus sqrt(2*ln(N)/n) rounds dp
    (ln is libm-correctness territory, the repo's ln/exp discipline).

    Scale shape: ONE map-combined aggregate over the event mass;
    the total rides a 1-row broadcast."""
    cents = F.floor(F.col(reward_col) * 100).cast("long")
    # per_arm feeds the total AND the output rows — checkpoint
    per_arm = df.groupBy(F.col(arm_col).alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_pulls"),
        F.sum(cents).cast("long").alias("cents"),
    ).localCheckpoint(eager=False)
    tot = per_arm.agg(F.sum("n_pulls").cast("long").alias("n_tot"))
    m = reward_max_cents
    return (
        per_arm.crossJoin(F.broadcast(tot))
        .select(
            "arm",
            "n_pulls",
            F.expr(f"CAST(cents AS DOUBLE) / (CAST({m} AS DOUBLE) * n_pulls)")
            .alias("mean_reward"),
            F.round(
                F.expr(
                    f"CAST(cents AS DOUBLE) / (CAST({m} AS DOUBLE) * n_pulls)"
                    " + sqrt(2 * ln(CAST(n_tot AS DOUBLE)) / n_pulls)"
                ),
                dp,
            ).alias("ucb"),
        )
    )


def ucb1_oracle_sql(
    table: str,
    arm_sql: str,
    reward_sql: str,
    reward_max_cents: int,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `ucb1_scores`: identical cents aggregate and
    formula text."""
    m = reward_max_cents
    return f"""
    WITH per_arm AS (
        SELECT {arm_sql} AS arm,
               CAST(count(*) AS BIGINT) AS n_pulls,
               CAST(sum(CAST(floor(({reward_sql}) * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM {table} GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_pulls) AS BIGINT) AS n_tot FROM per_arm)
    SELECT arm, n_pulls,
           CAST(cents AS DOUBLE) / (CAST({m} AS DOUBLE) * n_pulls)
               AS mean_reward,
           round(CAST(cents AS DOUBLE) / (CAST({m} AS DOUBLE) * n_pulls)
                 + sqrt(2 * ln(CAST(n_tot AS DOUBLE)) / n_pulls), {dp})
               AS ucb
    FROM per_arm CROSS JOIN tot
    """


# --------------------------------------------------------------------------
# Matthews correlation coefficient at a fixed threshold
# --------------------------------------------------------------------------


def mcc_at_threshold(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold_cents: int,
) -> DataFrame:
    """Matthews correlation coefficient of "score >= threshold"
    against the binary label — the single-number confusion-matrix
    grade that stays honest under class imbalance (accuracy and F1
    ignore TN; MCC is the full fourfold point-correlation). The
    companion scalar to `threshold_sweep`'s per-threshold table.
    Output ONE row: (tp, fp, fn, tn, mcc).

    Counts are exact BIGINTs from one map-combined aggregate; the
    numerator tp*tn - fp*fn stays BIGINT; the denominator evaluates
    as sqrt((tp+fp)*(tp+fn)) * sqrt((tn+fp)*(tn+fn)) — each factor's
    product is exact BIGINT below 2^63 and sqrt/mult/div are
    correctly-rounded IEEE ops, so mcc is bit-identical raw. NULL
    when any marginal is empty (the coefficient is undefined)."""
    s = F.floor(F.col(score_col) * 100).cast("long")
    lab = F.col(label_col).cast("long")
    pred = (s >= F.lit(threshold_cents)).cast("long")
    agg = df.agg(
        F.sum(pred * lab).cast("long").alias("tp"),
        F.sum(pred * (1 - lab)).cast("long").alias("fp"),
        F.sum((1 - pred) * lab).cast("long").alias("fn"),
        F.sum((1 - pred) * (1 - lab)).cast("long").alias("tn"),
    )
    return agg.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            (F.col("tp") + F.col("fp") > 0)
            & (F.col("tp") + F.col("fn") > 0)
            & (F.col("tn") + F.col("fp") > 0)
            & (F.col("tn") + F.col("fn") > 0),
            F.expr(
                "CAST(tp * tn - fp * fn AS DOUBLE)"
                " / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))"
                "    * sqrt(CAST((tn + fp) * (tn + fn) AS DOUBLE)))"
            ),
        ).alias("mcc"),
    )


def mcc_oracle_sql(
    table: str, score_sql: str, label_sql: str, threshold_cents: int
) -> str:
    """DuckDB mirror of `mcc_at_threshold`: identical counts and
    split-sqrt denominator text."""
    return f"""
    WITH binned AS (
        SELECT CASE WHEN CAST(floor(({score_sql}) * 100) AS BIGINT)
                         >= {threshold_cents} THEN 1 ELSE 0 END AS pred,
               CAST({label_sql} AS BIGINT) AS lab
        FROM {table}
    ),
    agg AS (
        SELECT CAST(sum(pred * lab) AS BIGINT) AS tp,
               CAST(sum(pred * (1 - lab)) AS BIGINT) AS fp,
               CAST(sum((1 - pred) * lab) AS BIGINT) AS fn,
               CAST(sum((1 - pred) * (1 - lab)) AS BIGINT) AS tn
        FROM binned
    )
    SELECT tp, fp, fn, tn,
           CASE WHEN tp + fp > 0 AND tp + fn > 0
                 AND tn + fp > 0 AND tn + fn > 0
                THEN CAST(tp * tn - fp * fn AS DOUBLE)
                     / (sqrt(CAST((tp + fp) * (tp + fn) AS DOUBLE))
                        * sqrt(CAST((tn + fp) * (tn + fn) AS DOUBLE))) END
               AS mcc
    FROM agg
    """


# --------------------------------------------------------------------------
# AUC confidence interval (Hanley-McNeil)
# --------------------------------------------------------------------------


def auc_ci(
    df: DataFrame,
    score_col: str,
    label_col: str,
    z: float = 1.959963984540054,
    dp: int = 6,
) -> DataFrame:
    """ROC AUC with its Hanley-McNeil standard error and normal CI —
    "is AUC 0.71 on this sample actually better than 0.68?", the
    uncertainty companion to `roc_auc` (which reports the point
    estimate alone):
        SE^2 = (A(1-A) + (n1-1)(Q1 - A^2) + (n2-1)(Q2 - A^2)) / (n1 n2)
        Q1 = A/(2-A),  Q2 = 2A^2/(1+A)
    Output ONE row: (n_pos, n_neg, auc, se, ci_lo, ci_hi).

    A rides the same tie-corrected histogram-rank machinery as
    roc_auc (raw single division); the SE/CI chain is identical text
    in both engines with the z constant a repr'd literal; se/ci round
    dp, with the CI clamped to [0, 1].

    Scale shape: identical to roc_auc — one histogram aggregate."""
    base = roc_auc(df, score_col, label_col)
    a = "(CAST(u_stat AS DOUBLE) / (CAST(n_pos AS DOUBLE) * n_neg))"
    se = (
        f"sqrt(({a} * (1 - {a})"
        f" + (n_pos - 1) * (({a} / (2 - {a})) - {a} * {a})"
        f" + (n_neg - 1) * ((2 * {a} * {a} / (1 + {a})) - {a} * {a}))"
        f" / (CAST(n_pos AS DOUBLE) * n_neg))"
    )
    return base.select(
        "n_pos",
        "n_neg",
        "auc",
        F.round(F.expr(se), dp).alias("se"),
        F.round(F.expr(f"greatest(0.0, {a} - {z!r} * {se})"), dp).alias(
            "ci_lo"
        ),
        F.round(F.expr(f"least(1.0, {a} + {z!r} * {se})"), dp).alias(
            "ci_hi"
        ),
    )


def auc_ci_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    z: float = 1.959963984540054,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `auc_ci`: roc_auc's oracle as a subquery with
    the identical SE/CI text."""
    a = "(CAST(u_stat AS DOUBLE) / (CAST(n_pos AS DOUBLE) * n_neg))"
    se = (
        f"sqrt(({a} * (1 - {a})"
        f" + (n_pos - 1) * (({a} / (2 - {a})) - {a} * {a})"
        f" + (n_neg - 1) * ((2 * {a} * {a} / (1 + {a})) - {a} * {a}))"
        f" / (CAST(n_pos AS DOUBLE) * n_neg))"
    )
    return f"""
    SELECT n_pos, n_neg, auc,
           round({se}, {dp}) AS se,
           round(greatest(0.0, {a} - {z!r} * {se}), {dp}) AS ci_lo,
           round(least(1.0, {a} + {z!r} * {se}), {dp}) AS ci_hi
    FROM ({roc_auc_oracle_sql(table, score_sql, label_sql)})
    """


# --------------------------------------------------------------------------
# Split-conformal interval for the seasonal-naive forecaster
# --------------------------------------------------------------------------


def conformal_interval(
    df: DataFrame,
    day_col: str,
    metric_col: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Split-conformal prediction interval for the seasonal-naive
    forecaster (prediction for day d = the value 7 days earlier):
    qhat = the ceil((1-alpha)(n+1))-th smallest absolute residual, so
    `forecast ± qhat` covers a fresh day with probability >= 1-alpha
    under exchangeability — DISTRIBUTION-FREE uncertainty for
    q_forecast_backtest's point scores (MAPE says how wrong on
    average; this bounds how wrong, with a guarantee). alpha =
    ``alpha_num/alpha_den`` is kept rational so the rank k =
    ceil((1-a)(n+1)) is computed in EXACT integer arithmetic:
    k = n + 1 - floor(alpha_num * (n + 1) / alpha_den). Output ONE
    row: (n_scored, qhat_cents, target_coverage, empirical_coverage).

    Residuals are exact BIGINT cents; qhat is an order statistic read
    off the residual histogram's cumulative counts (no row sort);
    empirical coverage is a single division of exact integers, raw.
    NULL qhat when k > n (too few scored days for the target level).

    Scale shape: row mass reduces to the day grid once; the lag join
    and histogram walk run on calendar-bounded relations."""
    from pyspark.sql import Window as W

    daily = (
        df.groupBy(F.col(day_col).alias("day"))
        .agg(F.sum(F.col(metric_col)).cast("long").alias("m"))
        .transform(hold)  # feeds both sides of the 7-day lag join
    )
    lagged = daily.alias("cur").join(
        daily.alias("prev"),
        F.col("cur.day") == F.date_add(F.col("prev.day"), 7),
    )
    resid = lagged.select(
        F.abs(F.col("cur.m") - F.col("prev.m")).alias("r")
    ).transform(hold)  # feeds the histogram AND the coverage count
    hist = resid.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = W.orderBy("r").rowsBetween(W.unboundedPreceding, 0)
    tot = resid.agg(F.count(F.lit(1)).cast("long").alias("n"))
    k_expr = (
        f"n + 1 - CAST(floor({alpha_num} * (n + 1) / {alpha_den})"
        " AS BIGINT)"
    )
    qhat = (
        hist.crossJoin(F.broadcast(tot))
        .withColumn("cum", F.sum("c").over(wc))
        .groupBy("n")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr(k_expr), F.col("r"))
            ).alias("qhat")
        )
    )
    # CASE-style 0 on NULL qhat (matches the oracle's CASE WHEN; a
    # bare boolean cast would propagate NULL instead)
    cov = resid.crossJoin(F.broadcast(qhat)).agg(
        F.sum(F.when(F.col("r") <= F.col("qhat"), 1).otherwise(0))
        .cast("long")
        .alias("n_cov")
    )
    return (
        qhat.crossJoin(F.broadcast(cov))
        .select(
            F.col("n").alias("n_scored"),
            F.col("qhat").cast("long").alias("qhat_cents"),
            F.expr(
                f"1.0 - CAST({alpha_num} AS DOUBLE) / {alpha_den}"
            ).alias("target_coverage"),
            F.expr("CAST(n_cov AS DOUBLE) / n").alias(
                "empirical_coverage"
            ),
        )
    )


def conformal_oracle_sql(
    daily_sql: str, alpha_num: int = 1, alpha_den: int = 10, dp: int = 6
) -> str:
    """DuckDB mirror of `conformal_interval`. ``daily_sql`` yields
    (day, m) with m BIGINT cents."""
    k_expr = (
        f"n + 1 - CAST(floor({alpha_num} * (n + 1) / {alpha_den})"
        " AS BIGINT)"
    )
    return f"""
    WITH daily AS ({daily_sql}),
    resid AS (
        SELECT abs(cur.m - prev.m) AS r
        FROM daily cur JOIN daily prev ON cur.day = prev.day + 7
    ),
    hist AS (SELECT r, CAST(count(*) AS BIGINT) AS c FROM resid GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM resid),
    qhat AS (
        SELECT n, min(CASE WHEN cum >= {k_expr} THEN r END) AS qhat
        FROM (
            SELECT r, n,
                   sum(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) AS cum
            FROM hist CROSS JOIN tot
        ) GROUP BY n
    ),
    cov AS (
        SELECT CAST(sum(CASE WHEN r <= qhat THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_cov
        FROM resid CROSS JOIN qhat
    )
    SELECT n AS n_scored, CAST(qhat AS BIGINT) AS qhat_cents,
           1.0 - CAST({alpha_num} AS DOUBLE) / {alpha_den}
               AS target_coverage,
           CAST(n_cov AS DOUBLE) / n AS empirical_coverage
    FROM qhat CROSS JOIN cov
    """


# --------------------------------------------------------------------------
# Daily category-mix drift series (Jensen-Shannon vs previous day)
# --------------------------------------------------------------------------


def mix_drift_series(
    df: DataFrame, day_col: str, cat_col: str, dp: int = 6
) -> DataFrame:
    """Day-over-day Jensen-Shannon divergence of a categorical mix —
    the drift TIME SERIES behind the pairwise drift scalars
    (q_js_divergence compares two fixed cohorts; this walks the
    calendar and surfaces WHEN the mix broke). Output one row per day
    with a predecessor: (day, n_today, js_prev).

    Per adjacent-day pair the category grid joins with coalesce-0
    sides; each JS term is an identical-text chain of exact count
    ratios (0 ln 0 = 0 handled by CASE), accumulated over the ORDERED
    category window partitioned by day, rounded dp.

    Scale shape: one (day, category) aggregate; everything after runs
    on the days x categories grid."""
    from pyspark.sql import Window as W

    cells = (
        df.groupBy(
            F.col(day_col).alias("day"), F.col(cat_col).alias("cat")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds both sides of the adjacent-day join
    )
    # dense category union per adjacent-day pair: full outer on cat
    cur = cells.select(
        F.col("day"), F.col("cat"), F.col("c").alias("c_cur")
    )
    prv = cells.select(
        F.date_add(F.col("day"), 1).alias("day"),
        F.col("cat"),
        F.col("c").alias("c_prev"),
    )
    # day totals fold IN-ROW as day-partitioned window BIGINT sums over
    # the bounded (days x categories) grid (zeros from the outer join
    # add nothing), replacing a day-keyed aggregate + two grid joins;
    # n_a > 0 and n_b > 0 reproduce exactly the old inner joins' "day
    # has data" / "day has a predecessor with data" row set.
    wday = W.partitionBy("day")
    paired = (
        cur.join(prv, ["day", "cat"], "full")
        .select(
            "day",
            "cat",
            F.coalesce("c_cur", F.lit(0)).cast("long").alias("a"),
            F.coalesce("c_prev", F.lit(0)).cast("long").alias("b"),
        )
        .withColumn("n_a", F.sum("a").over(wday))
        .withColumn("n_b", F.sum("b").over(wday))
        .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
    )
    # p = a/n_a, q = b/n_b, m = (p+q)/2; term = p*ln(p/m) + q*ln(q/m)
    term = (
        "CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / n_a)"
        " * ln((CAST(a AS DOUBLE) / n_a)"
        "      / ((CAST(a AS DOUBLE) / n_a + CAST(b AS DOUBLE) / n_b) / 2))"
        " ELSE 0.0 END"
        " + CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / n_b)"
        " * ln((CAST(b AS DOUBLE) / n_b)"
        "      / ((CAST(a AS DOUBLE) / n_a + CAST(b AS DOUBLE) / n_b) / 2))"
        " ELSE 0.0 END"
    )
    wd = W.partitionBy("day").orderBy("cat").rowsBetween(
        W.unboundedPreceding, 0
    )
    walked = (
        paired.withColumn("term", F.expr(term))
        .withColumn("cum", F.sum("term").over(wd))
        .withColumn("rn", F.count(F.lit(1)).over(wd))
        .withColumn("cats", F.count(F.lit(1)).over(W.partitionBy("day")))
    )
    return walked.filter(F.col("rn") == F.col("cats")).select(
        F.col("day").cast("string").alias("day"),
        F.col("n_a").alias("n_today"),
        F.round(F.expr("cum / 2"), dp).alias("js_prev"),
    )


def mix_drift_oracle_sql(
    table: str, day_sql: str, cat_sql: str, dp: int = 6
) -> str:
    """DuckDB mirror of `mix_drift_series`: identical grid, term text,
    and per-day walk."""
    term = (
        "CASE WHEN a > 0 THEN (CAST(a AS DOUBLE) / n_a)"
        " * ln((CAST(a AS DOUBLE) / n_a)"
        "      / ((CAST(a AS DOUBLE) / n_a + CAST(b AS DOUBLE) / n_b) / 2))"
        " ELSE 0.0 END"
        " + CASE WHEN b > 0 THEN (CAST(b AS DOUBLE) / n_b)"
        " * ln((CAST(b AS DOUBLE) / n_b)"
        "      / ((CAST(a AS DOUBLE) / n_a + CAST(b AS DOUBLE) / n_b) / 2))"
        " ELSE 0.0 END"
    )
    return f"""
    WITH cells AS (
        SELECT {day_sql} AS day, {cat_sql} AS cat,
               CAST(count(*) AS BIGINT) AS c
        FROM {table} GROUP BY 1, 2
    ),
    days AS (SELECT day, CAST(sum(c) AS BIGINT) AS n
             FROM cells GROUP BY 1),
    paired AS (
        SELECT coalesce(cur.day, prev.day + 1) AS day,
               coalesce(cur.cat, prev.cat) AS cat,
               CAST(coalesce(cur.c, 0) AS BIGINT) AS a,
               CAST(coalesce(prev.c, 0) AS BIGINT) AS b
        FROM cells cur
        FULL JOIN cells prev
            ON cur.day = prev.day + 1 AND cur.cat = prev.cat
    ),
    sided AS (
        SELECT p.day, p.cat, p.a, p.b, da.n AS n_a, db.n AS n_b
        FROM paired p
        JOIN days da ON da.day = p.day
        JOIN days db ON db.day = p.day - 1
    ),
    walked AS (
        SELECT day, n_a,
               sum({term}) OVER w AS cum,
               count(*) OVER w AS rn,
               count(*) OVER (PARTITION BY day) AS cats
        FROM sided
        WINDOW w AS (PARTITION BY day ORDER BY cat
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS VARCHAR) AS day, n_a AS n_today,
           round(cum / 2, {dp}) AS js_prev
    FROM walked WHERE rn = cats
    """


def hosmer_lemeshow(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit over the same fixed-width
    pseudo-probability bins as `calibration_bins`: per bin,
    chi-square-style terms (O1-E1)^2/E1 + (O0-E0)^2/E0 with E1 = the
    bin's SUMMED predicted probability — the significance-flavored
    companion to ECE (is the miscalibration bigger than chance?).

    Exact-integer core: with D = denom_cents, O1-E1 = (D*pos-cents)/D,
    so term1 = (D*pos-cents)^2 / (D*cents) and
    term0 = (D*pos-cents)^2 / (D*(n*D-cents)) — the numerator diff is
    an exact BIGINT (cast to double before squaring; the square's
    rounding is deterministic), each denominator is an exact BIGINT,
    and every per-bin term is a fixed IEEE chain emitted raw. The
    total chi2 sums <= n_bins such doubles (bounded, ~1e-13 noise)
    and rounds ``dp`` dp, repeated per row (the ECE output pattern).
    Degenerate bins (all-positive or all-zero expectation) CASE-guard
    their term to NULL and drop from the total identically on both
    sides.

    Output: one row per non-empty bin
    (bin, n, obs_pos, exp_cents, hl_term, hl_chi2, dof)."""
    binned = _score_bins(df, score_col, label_col, denom_cents, n_bins)
    per_bin = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("obs_pos"),
            F.sum("s").cast("long").alias("exp_cents"),
        )
        # <= n_bins rows, referenced by the total AND the output
        .transform(hold)
    )
    dd = (
        F.lit(denom_cents) * F.col("obs_pos") - F.col("exp_cents")
    ).cast("double")
    den1 = (F.lit(denom_cents) * F.col("exp_cents")).cast("double")
    den0 = (
        F.lit(denom_cents)
        * (F.col("n") * F.lit(denom_cents) - F.col("exp_cents"))
    ).cast("double")
    term = F.when(
        (F.col("exp_cents") > 0)
        & (F.col("n") * F.lit(denom_cents) > F.col("exp_cents")),
        dd * dd / den1 + dd * dd / den0,
    )
    rows = per_bin.select("bin", "n", "obs_pos", "exp_cents", term.alias("hl_term"))
    tot = rows.agg(
        F.round(F.sum("hl_term"), dp).alias("hl_chi2"),
        (F.count("hl_term") - 2).cast("long").alias("dof"),
    )
    return rows.crossJoin(F.broadcast(tot))


def hosmer_lemeshow_oracle_sql(
    table: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_bins: int = 10,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `hosmer_lemeshow` (identical integer core)."""
    d = denom_cents
    return f"""
    WITH hl_binned AS (
        SELECT least({n_bins},
                     CAST(floor({n_bins} * CAST(floor({score_sql} * 100)
                                               AS BIGINT) / {d}) + 1
                          AS BIGINT)) AS bin,
               CAST(floor({score_sql} * 100) AS BIGINT) AS s,
               CAST({label_sql} AS BIGINT) AS label
        FROM {table}
    ),
    hl_per_bin AS (
        SELECT bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS obs_pos,
               CAST(sum(s) AS BIGINT) AS exp_cents
        FROM hl_binned GROUP BY bin
    ),
    hl_rows AS (
        SELECT bin, n, obs_pos, exp_cents,
               CASE WHEN exp_cents > 0 AND n * {d} > exp_cents THEN
                 CAST({d} * obs_pos - exp_cents AS DOUBLE)
                 * CAST({d} * obs_pos - exp_cents AS DOUBLE)
                 / CAST({d} * exp_cents AS DOUBLE)
                 + CAST({d} * obs_pos - exp_cents AS DOUBLE)
                 * CAST({d} * obs_pos - exp_cents AS DOUBLE)
                 / CAST({d} * (n * {d} - exp_cents) AS DOUBLE)
               END AS hl_term
        FROM hl_per_bin
    ),
    hl_tot AS (
        SELECT round(sum(hl_term), {dp}) AS hl_chi2,
               CAST(count(hl_term) - 2 AS BIGINT) AS dof
        FROM hl_rows
    )
    SELECT bin, n, obs_pos, exp_cents, hl_term, hl_chi2, dof
    FROM hl_rows CROSS JOIN hl_tot
    """


# --------------------------------------------------------------------------
# Isotonic calibration (PAVA over bounded score buckets)
# --------------------------------------------------------------------------


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    denom_cents: int,
    n_buckets: int = 32,
) -> DataFrame:
    """Isotonic (monotone non-decreasing) calibration of a
    pseudo-probability score, fit by pool-adjacent-violators over
    ``n_buckets`` fixed-width score buckets — the nonparametric
    recalibrator next to `calibration_bins`' diagnosis: bins SHOW the
    miscalibration, the isotonic fit is the monotone map that repairs
    it (and the one Platt scaling can't give without a parametric
    form). Output one row per non-empty bucket:
    (bin, n, n_pos, raw_rate, iso_rate), iso_rate monotone in bin.

    PAVA is computed via the exact minimax characterization
        iso[i] = max_{j<=i} min_{k>=i} (cpos_k - cpos_{j-1})
                                       / (cn_k - cn_{j-1})
    over bucket prefix sums — O(B^3) pairs on a <= ``n_buckets``-row
    relation, never row pairs (the Hodges-Lehmann bounded-grid
    discipline). Every candidate average is a single IEEE division of
    exact BIGINT prefix sums, so the min/max winners are bit-identical
    cross-engine and both rates emit RAW (no rounding anywhere).

    Scale shape (100 TB): row mass reduces once to the B-bucket
    histogram (map-combined); the cubic minimax runs on B rows. The
    bucket window orders by `bin`, unique post-groupBy."""
    s = F.floor(F.col(score_col) * 100).cast("long")
    binned = df.select(
        F.least(
            F.lit(n_buckets - 1),
            F.floor(F.lit(n_buckets) * s / F.lit(denom_cents)).cast("long"),
        ).alias("bin"),
        F.col(label_col).cast("long").alias("label"),
    )
    # referenced by the i / j / k lanes of the minimax; checkpoint the
    # <= n_buckets-row histogram so row mass scans ONCE
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    pre = (
        binned.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("label").cast("long").alias("pos"),
        )
        .select(
            "bin",
            "n",
            "pos",
            F.sum("n").over(w).alias("cn"),
            F.sum("pos").over(w).alias("cp"),
        )
        .transform(hold)
    )
    lane_i = pre.select(
        F.col("bin").alias("i"), F.col("n").alias("n_i"), F.col("pos").alias("pos_i")
    )
    lane_j = pre.select(
        F.col("bin").alias("j"),
        (F.col("cn") - F.col("n")).alias("cnj"),
        (F.col("cp") - F.col("pos")).alias("cpj"),
    )
    lane_k = pre.select(
        F.col("bin").alias("k"), F.col("cn").alias("cnk"), F.col("cp").alias("cpk")
    )
    trip = (
        lane_i.join(lane_j, F.col("j") <= F.col("i"))
        .join(lane_k, F.col("k") >= F.col("i"))
        .select(
            "i",
            "j",
            "n_i",
            "pos_i",
            ((F.col("cpk") - F.col("cpj")) / (F.col("cnk") - F.col("cnj"))).alias(
                "avg_jk"
            ),
        )
    )
    inner = trip.groupBy("i", "j", "n_i", "pos_i").agg(
        F.min("avg_jk").alias("mn")
    )
    return (
        inner.groupBy("i", "n_i", "pos_i")
        .agg(F.max("mn").alias("iso_rate"))
        .select(
            F.col("i").alias("bin"),
            F.col("n_i").alias("n"),
            F.col("pos_i").alias("n_pos"),
            (F.col("pos_i") / F.col("n_i")).alias("raw_rate"),
            "iso_rate",
        )
    )


def isotonic_oracle_sql(
    table_sql: str,
    score_sql: str,
    label_sql: str,
    denom_cents: int,
    n_buckets: int = 32,
) -> str:
    """DuckDB mirror of `isotonic_calibration`: identical bucket cut,
    prefix sums, and minimax average chains."""
    return f"""
    WITH iso_binned AS (
        SELECT least({n_buckets - 1},
                     CAST(floor({n_buckets} * floor(({score_sql}) * 100)
                                / {denom_cents}) AS BIGINT)) AS bin,
               CAST({label_sql} AS BIGINT) AS label
        FROM {table_sql}
    ),
    iso_pre AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(label) AS BIGINT) AS pos,
               CAST(sum(count(*)) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cn,
               CAST(sum(sum(label)) OVER (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cp
        FROM iso_binned GROUP BY bin
    ),
    iso_inner AS (
        SELECT i.bin AS i, j.bin AS j, i.n AS n_i, i.pos AS pos_i,
               min(CAST(k.cp - (j.cp - j.pos) AS DOUBLE)
                   / (k.cn - (j.cn - j.n))) AS mn
        FROM iso_pre i
        JOIN iso_pre j ON j.bin <= i.bin
        JOIN iso_pre k ON k.bin >= i.bin
        GROUP BY 1, 2, 3, 4
    )
    SELECT i AS bin, n_i AS n, pos_i AS n_pos,
           CAST(pos_i AS DOUBLE) / n_i AS raw_rate,
           max(mn) AS iso_rate
    FROM iso_inner
    GROUP BY i, n_i, pos_i
    """


# --------------------------------------------------------------------------
# Kuiper two-sample test (exact integer CDF extremes)
# --------------------------------------------------------------------------


def _two_sample_cdf(
    df: DataFrame, group_col: str, cents_col: str, group_a, group_b, cols
) -> DataFrame:
    """The merged two-sample empirical CDF over the DISTINCT values of
    ``cents_col`` (groups ``group_a`` / ``group_b`` of ``group_col``),
    one row per value with the ``cols`` named from: c (both groups'
    count at the value), cuma / cumb (each group's cumulative count
    through the value), h (the pooled cumulative count) and the group
    totals n_a / n_b. All exact BIGINT — the shared input of the
    EDF-family statistics (kuiper_test, cramer_von_mises,
    anderson_darling). Each statistic selects only the columns it
    reads, so its window operator computes only its own window sums.

    Scale shape (100 TB): one conditional histogram aggregate over row
    mass; the cumulative windows run over DISTINCT values. The group
    totals fold IN-ROW as full-frame window sums on the same sorted
    frame (exact BIGINT — order-insensitive): a separate `tot`
    aggregate re-ran the scan+histogram subtree a second time and
    re-attached via crossJoin (r14; the r13 reference-count /
    scalar-fold rule)."""
    g = F.col(group_col)
    hist = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(F.col(cents_col).alias("v"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0))
            .cast("long")
            .alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0))
            .cast("long")
            .alias("cb"),
        )
    )
    # window input: the DISTINCT-value histogram (value-space bounded)
    wv = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    wfull = Window.orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = {
        "c": F.col("ca") + F.col("cb"),
        "cuma": F.sum("ca").over(wv),
        "cumb": F.sum("cb").over(wv),
        "h": F.sum("ca").over(wv) + F.sum("cb").over(wv),
        "n_a": F.sum("ca").over(wfull).cast("long"),
        "n_b": F.sum("cb").over(wfull).cast("long"),
    }
    return hist.select(*(cdf[c].alias(c) for c in cols))


def kuiper_test(
    df: DataFrame, group_col: str, cents_col: str, group_a, group_b
) -> DataFrame:
    """Kuiper two-sample statistic V = D+ + D- between the value
    distributions of two groups — the rotation-invariant sibling of
    q_ks_test: KS sees only the single largest CDF gap, Kuiper adds
    the largest gap in EACH direction, catching cyclic/two-sided
    shifts (one tail fatter, the other thinner) that cancel in KS.
    Output ONE row: (n_a, n_b, d_plus, d_minus, v_stat).

    Fully exact: over the merged value histogram, the scaled CDF gap
    d(v) = M*cumA(v) - N*cumB(v) is an exact BIGINT, so
    D+ = max(d)/(N*M), D- = max(-d)/(N*M) and V are single IEEE
    divisions of exact integers — no rounding anywhere. |d| <= N*M
    must fit int64 (fine to ~3e9 rows per side).

    Scale shape (100 TB): one conditional histogram aggregate over
    row mass; the cumulative window runs over DISTINCT values."""
    cum = _two_sample_cdf(
        df, group_col, cents_col, group_a, group_b,
        ("cuma", "cumb", "n_a", "n_b"),
    )
    d = (
        cum.select(
            "n_a",
            "n_b",
            (F.col("n_b") * F.col("cuma") - F.col("n_a") * F.col("cumb"))
            .cast("long")
            .alias("d"),
        )
        .groupBy("n_a", "n_b")
        .agg(
            F.greatest(F.max("d"), F.lit(0)).cast("long").alias("dp_n"),
            F.greatest(F.max(-F.col("d")), F.lit(0)).cast("long").alias("dm_n"),
        )
    )
    return d.select(
        "n_a",
        "n_b",
        (F.col("dp_n").cast("double") / (F.col("n_a") * F.col("n_b"))).alias(
            "d_plus"
        ),
        (F.col("dm_n").cast("double") / (F.col("n_a") * F.col("n_b"))).alias(
            "d_minus"
        ),
        (
            (F.col("dp_n") + F.col("dm_n")).cast("double")
            / (F.col("n_a") * F.col("n_b"))
        ).alias("v_stat"),
    )


def kuiper_oracle_sql(
    table_sql: str, group_sql: str, cents_sql: str, ga: str, gb: str
) -> str:
    """DuckDB mirror of `kuiper_test`: identical histogram, scaled
    gaps, and integer extremes."""
    return f"""
    WITH kpr_hist AS (
        SELECT {cents_sql} AS v,
               CAST(sum(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM {table_sql}
        WHERE {group_sql} IN ({ga}, {gb})
        GROUP BY 1
    ),
    kpr_cum AS (
        SELECT sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
               sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        FROM kpr_hist
    ),
    kpr_tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
        FROM kpr_hist
    ),
    kpr_d AS (
        SELECT n_a, n_b,
               CAST(greatest(max(n_b * cuma - n_a * cumb), 0) AS BIGINT)
                   AS dp_n,
               CAST(greatest(max(-(n_b * cuma - n_a * cumb)), 0) AS BIGINT)
                   AS dm_n
        FROM kpr_cum CROSS JOIN kpr_tot
        GROUP BY n_a, n_b
    )
    SELECT n_a, n_b,
           CAST(dp_n AS DOUBLE) / (n_a * n_b) AS d_plus,
           CAST(dm_n AS DOUBLE) / (n_a * n_b) AS d_minus,
           CAST(dp_n + dm_n AS DOUBLE) / (n_a * n_b) AS v_stat
    FROM kpr_d
    """


# --------------------------------------------------------------------------
# Cramér-von Mises two-sample (quantized squared-gap mass)
# --------------------------------------------------------------------------


def cramer_von_mises(
    df: DataFrame, group_col: str, cents_col: str, group_a, group_b,
    dp: int = 6,
) -> DataFrame:
    """Cramér-von Mises two-sample statistic: the OBSERVATION-
    weighted integral of the squared CDF gap — where KS/Kuiper grade
    the worst point, CvM grades the WHOLE curve (many small
    persistent gaps beat one spike), the right drift score for broad
    mild shifts. T = N*M/(N+M)^2 * sum_obs (F_N - G_M)^2. Output ONE
    row: (n_a, n_b, t_stat).

    Over the merged value histogram the scaled gap d(v) = M*cumA -
    N*cumB is exact BIGINT; each value's term c_v * (d/(N*M))^2 is a
    fixed double tree quantized to nano-units (floor(x*1e9 + 0.5)) so
    the cross-value sum accumulates as exact BIGINT (portable
    regardless of either engine's aggregation tree); the final
    assembly rounds ``dp``.

    Scale shape (100 TB): one conditional histogram aggregate; the
    cumulative window runs over DISTINCT values."""
    cum = _two_sample_cdf(
        df, group_col, cents_col, group_a, group_b,
        ("c", "cuma", "cumb", "n_a", "n_b"),
    )
    t9 = F.expr(
        "CAST(floor(c * (CAST(n_b * cuma - n_a * cumb AS DOUBLE)"
        " / n_a / n_b)"
        " * (CAST(n_b * cuma - n_a * cumb AS DOUBLE) / n_a / n_b)"
        " * 1000000000 + 0.5) AS BIGINT)"
    )
    return (
        cum.select("n_a", "n_b", t9.alias("t9"))
        .groupBy("n_a", "n_b")
        .agg(F.sum("t9").cast("long").alias("s9"))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.expr(
                    "CAST(n_a AS DOUBLE) * n_b"
                    " / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b))"
                    " * (CAST(s9 AS DOUBLE) / 1000000000.0)"
                ),
                dp,
            ).alias("t_stat"),
        )
    )


def cvm_oracle_sql(
    table_sql: str, group_sql: str, cents_sql: str, ga: str, gb: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `cramer_von_mises`: identical histogram,
    nano-quantized term mass, and assembly text."""
    return f"""
    WITH cvm_hist AS (
        SELECT {cents_sql} AS v,
               CAST(sum(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM {table_sql}
        WHERE {group_sql} IN ({ga}, {gb})
        GROUP BY 1
    ),
    cvm_cum AS (
        SELECT ca + cb AS c,
               sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
               sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
        FROM cvm_hist
    ),
    cvm_tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
        FROM cvm_hist
    ),
    cvm_terms AS (
        SELECT n_a, n_b,
               CAST(floor(c * (CAST(n_b * cuma - n_a * cumb AS DOUBLE)
                               / n_a / n_b)
                            * (CAST(n_b * cuma - n_a * cumb AS DOUBLE)
                               / n_a / n_b)
                            * 1000000000 + 0.5) AS BIGINT) AS t9
        FROM cvm_cum CROSS JOIN cvm_tot
    )
    SELECT n_a, n_b,
           round(CAST(n_a AS DOUBLE) * n_b
                 / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b))
                 * (CAST(sum(t9) AS DOUBLE) / 1000000000.0), {dp}) AS t_stat
    FROM cvm_terms
    GROUP BY n_a, n_b
    """


# --------------------------------------------------------------------------
# Anderson-Darling two-sample (tail-weighted quantized gap mass)
# --------------------------------------------------------------------------


def anderson_darling(
    df: DataFrame, group_col: str, cents_col: str, group_a, group_b,
    dp: int = 6,
) -> DataFrame:
    """Anderson-Darling two-sample statistic: the squared CDF gap
    weighted by 1/(H(1-H)) of the pooled CDF — the TAIL-sensitive
    member of the EDF family (KS/Kuiper grade the worst point, CvM
    the whole curve equally; AD up-weights the tails, where risk
    lives). Output ONE row: (n_a, n_b, a2_stat).

        A2 = (1/(n_a*n_b)) * sum_j c_j * (N*cumA_j - n_a*H_j)^2
                                        / (H_j * (N - H_j))
    over the merged value histogram (H = pooled cumulative count,
    the last value excluded identically in both engines — its weight
    divides by zero). The scaled gap and H are exact BIGINTs; each
    value's term is a fixed double tree quantized to MICRO-units so
    the cross-value sum accumulates as exact BIGINT (micro grain is
    ample: A2 divides the mass by ~N/4, so the quantization error in
    a2_stat is O(values * 5e-7 / N) — far below 6dp at any scale —
    while keeping edge-value terms, which reach ~c^2 * 1e6/4, inside
    int64 to ~1e7-row ties; coarsen the grain beyond).

    Scale shape (100 TB): one conditional histogram aggregate; the
    cumulative window runs over DISTINCT values."""
    cum = _two_sample_cdf(
        df, group_col, cents_col, group_a, group_b,
        ("c", "cuma", "h", "n_a", "n_b"),
    )
    t9 = F.expr(
        "CAST(floor(c"
        " * (CAST((n_a + n_b) * cuma - n_a * h AS DOUBLE)"
        "    * ((n_a + n_b) * cuma - n_a * h))"
        " / (CAST(h AS DOUBLE) * ((n_a + n_b) - h))"
        " * 1000000 / (CAST(n_a AS DOUBLE) + n_b) + 0.5) AS BIGINT)"
    )
    return (
        cum.filter(F.col("h") < F.col("n_a") + F.col("n_b"))
        .select("n_a", "n_b", t9.alias("t9"))
        .groupBy("n_a", "n_b")
        .agg(F.sum("t9").cast("long").alias("s9"))
        .select(
            "n_a",
            "n_b",
            F.round(
                F.expr(
                    "(CAST(s9 AS DOUBLE) / 1000000.0)"
                    " / (CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))"
                ),
                dp,
            ).alias("a2_stat"),
        )
    )


def anderson_darling_oracle_sql(
    table_sql: str, group_sql: str, cents_sql: str, ga: str, gb: str,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `anderson_darling`: identical histogram,
    tail weights, micro-quantized term mass, and assembly."""
    return f"""
    WITH ad_hist AS (
        SELECT {cents_sql} AS v,
               CAST(sum(CASE WHEN {group_sql} = {ga} THEN 1 ELSE 0 END)
                    AS BIGINT) AS ca,
               CAST(sum(CASE WHEN {group_sql} = {gb} THEN 1 ELSE 0 END)
                    AS BIGINT) AS cb
        FROM {table_sql}
        WHERE {group_sql} IN ({ga}, {gb})
        GROUP BY 1
    ),
    ad_cum AS (
        SELECT ca + cb AS c,
               sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
               sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               + sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS h
        FROM ad_hist
    ),
    ad_tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
        FROM ad_hist
    ),
    ad_terms AS (
        SELECT n_a, n_b,
               CAST(floor(c
                 * (CAST((n_a + n_b) * cuma - n_a * h AS DOUBLE)
                    * ((n_a + n_b) * cuma - n_a * h))
                 / (CAST(h AS DOUBLE) * ((n_a + n_b) - h))
                 * 1000000 / (CAST(n_a AS DOUBLE) + n_b) + 0.5)
                 AS BIGINT) AS t9
        FROM ad_cum CROSS JOIN ad_tot
        WHERE h < n_a + n_b
    )
    SELECT n_a, n_b,
           round((CAST(sum(t9) AS DOUBLE) / 1000000.0)
                 / (CAST(n_a AS DOUBLE) * n_b / (n_a + n_b)), {dp})
               AS a2_stat
    FROM ad_terms
    GROUP BY n_a, n_b
    """


# --------------------------------------------------------------------------
# Rank-biased overlap of two top-k lists (Python-built weight table)
# --------------------------------------------------------------------------


def _rbo_weights(k: int, p: float) -> list[tuple[int, int]]:
    """(depth, w9) rows: w9 = floor((1-p) * p^(d-1) / d * 1e9 + 0.5),
    computed ONCE in Python (the trig-table discipline: pow parity
    between JVM and libm never enters either engine)."""
    import math

    return [
        (d, int(math.floor((1 - p) * p ** (d - 1) / d * 1e9 + 0.5)))
        for d in range(1, k + 1)
    ]


def rbo_overlap(
    list_a: DataFrame,
    list_b: DataFrame,
    k: int = 20,
    p: float = 0.9,
) -> DataFrame:
    """Rank-biased overlap (lower bound at depth ``k``) between two
    ranked key lists — HOW MUCH do two rankers agree, weighted toward
    the top (RBO@k = sum_d (1-p) p^(d-1) |A_d cap B_d| / d): the
    list-level agreement grade the pointwise metrics (NDCG vs a gold
    label) can't give when comparing two RANKERS to each other.
    ``list_a``/``list_b`` carry (key, rank) with rank 1..k. Output
    ONE row: (k, n_common, rbo).

    The depth weights are Python-built literals shared by both
    engines; per-depth overlaps are exact integers off the joined
    rank pairs (overlap_d = #{key: max(ra, rb) <= d}); each
    contribution quantizes to nano-units so the depth sum is an
    exact BIGINT; rbo divides once.

    Scale shape (100 TB): both lists are top-k heap-selected before
    this operator (k rows each); everything here is k x k bounded."""
    spark = list_a.sparkSession
    from celeborn_spark.operators import values_table

    w = values_table(spark, _rbo_weights(k, p), "d long, w9 long")
    m = list_a.select(F.col("key"), F.col("rank").alias("ra")).join(
        list_b.select(F.col("key"), F.col("rank").alias("rb")), "key"
    )
    m = m.select("key", F.greatest("ra", "rb").alias("dmin"))
    per_depth = (
        F.broadcast(w)
        .join(m, m["dmin"] <= w["d"], "left")
        .groupBy("d", "w9")
        .agg(F.count(F.col("key")).cast("long").alias("ov"))
    )
    # n_common folds into the SAME aggregate: ranks are 1..k so every
    # matched key has dmin <= k, i.e. ov at depth k IS count(m) — a
    # second reference to m (whose lineage is BOTH upstream rankers)
    # re-ran the full ranking pipelines twice (measured r13: 20
    # Exchanges for this 1-row output; the multi-reference recompute
    # rule). count() over the left join yields 0 on an empty m, same
    # as the old count(*) aggregate.
    return per_depth.agg(
        F.sum(F.col("ov") * F.col("w9")).cast("long").alias("s9"),
        F.max(F.when(F.col("d") == k, F.col("ov"))).cast("long").alias("n_common"),
    ).select(
        F.lit(k).cast("long").alias("k"),
        "n_common",
        (F.col("s9") / F.lit(1_000_000_000.0)).alias("rbo"),
    )


def rbo_oracle_sql(
    list_a_sql: str, list_b_sql: str, k: int = 20, p: float = 0.9
) -> str:
    """DuckDB mirror of `rbo_overlap`: the SAME Python-built weight
    literals; identical overlap counting and nano-unit sum.
    ``list_*_sql`` yield (key, rank) with rank 1..k."""
    vals = ", ".join(f"({d}, {w9})" for d, w9 in _rbo_weights(k, p))
    return f"""
    WITH rbo_w(d, w9) AS (VALUES {vals}),
    rbo_a AS ({list_a_sql}),
    rbo_b AS ({list_b_sql}),
    rbo_m AS (
        SELECT a.key, greatest(a.rank, b.rank) AS dmin
        FROM rbo_a a JOIN rbo_b b ON a.key = b.key
    ),
    rbo_per AS (
        SELECT w.d, w.w9, CAST(count(m.key) AS BIGINT) AS ov
        FROM rbo_w w LEFT JOIN rbo_m m ON m.dmin <= w.d
        GROUP BY 1, 2
    ),
    rbo_tot AS (SELECT CAST(count(*) AS BIGINT) AS n_common FROM rbo_m)
    SELECT CAST({k} AS BIGINT) AS k, n_common,
           CAST(sum(ov * w9) AS DOUBLE) / 1000000000.0 AS rbo
    FROM rbo_per CROSS JOIN rbo_tot
    GROUP BY n_common
    """


def topk_overlap_curve(
    list_a: DataFrame, list_b: DataFrame, ks: tuple[int, ...] = (10, 25, 50, 100)
) -> DataFrame:
    """Overlap@k curve between two rankings: |top-k(A) and top-k(B)|
    at each depth — the UNWEIGHTED agreement profile beside
    `rbo_overlap`'s geometrically-weighted single number (RBO says
    how much they agree; the curve says at WHICH depth agreement
    decays). Inputs are (key, rank) lists ranked 1..max(ks).
    Output one row per k: (k, n_common, overlap_frac).

    Exact integer counts; overlap_frac is one exact division.

    Scale shape (100 TB): both lists are already heap-selected
    (TakeOrderedAndProject) bounded relations; the join and the
    per-k conditional counts are list-sized."""
    joined = list_a.alias("a").join(
        list_b.alias("b"), F.col("a.key") == F.col("b.key")
    ).select(
        F.greatest(F.col("a.rank"), F.col("b.rank")).alias("dmin")
    )
    # list-sized (<= max(ks) rows) and referenced once per depth —
    # materialize so the per-k union branches don't re-run the
    # upstream heap-selects.
    joined = joined.transform(hold)
    rows = None
    for k in ks:
        row = joined.agg(
            F.lit(k).cast("long").alias("k"),
            F.sum((F.col("dmin") <= k).cast("long")).cast("long").alias("n_common"),
            F.round(
                F.sum((F.col("dmin") <= k).cast("long")).cast("double") / k, 6
            ).alias("overlap_frac"),
        )
        rows = row if rows is None else rows.unionAll(row)
    return rows


def topk_overlap_oracle_sql(
    list_a_sql: str, list_b_sql: str, ks: tuple[int, ...] = (10, 25, 50, 100)
) -> str:
    """DuckDB mirror of `topk_overlap_curve` over (key, rank) list
    SQL fragments."""
    kvals = ", ".join(f"({k})" for k in ks)
    return f"""
    WITH tko_a AS ({list_a_sql}),
    tko_b AS ({list_b_sql}),
    tko_m AS (
        SELECT greatest(a.rank, b.rank) AS dmin
        FROM tko_a a JOIN tko_b b ON a.key = b.key
    ),
    tko_k(k) AS (VALUES {kvals})
    SELECT CAST(k AS BIGINT) AS k,
           CAST(coalesce(sum(CASE WHEN dmin <= k THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_common,
           round(CAST(coalesce(sum(CASE WHEN dmin <= k THEN 1 ELSE 0 END), 0)
                      AS DOUBLE) / k, 6) AS overlap_frac
    FROM tko_k LEFT JOIN tko_m ON true
    GROUP BY k
    ORDER BY k
    """


def spearman_footrule(ranks: DataFrame) -> DataFrame:
    """Spearman footrule distance between two COMPLETE rankings of
    the same item set: sum |r1 - r2|, plus the normalized form
    against the maximum floor(n^2/2) — the L1 companion of
    q_spearman's L2 correlation (footrule is what total-displacement
    questions actually ask: how far did items MOVE between the two
    orderings). ``ranks`` holds one row per item: (key, r1, r2),
    ranks 1..n with deterministic tiebreaks upstream.
    Output ONE row: (n_items, footrule, norm_footrule).

    Exact integer displacement sum; one exact division.

    Scale shape (100 TB): ONE map-combined aggregate over the
    (bounded) ranked item set."""
    return ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.abs(F.col("r1") - F.col("r2"))).cast("long").alias("footrule"),
    ).select(
        "n_items",
        "footrule",
        F.round(
            F.col("footrule").cast("double")
            / F.floor(F.col("n_items") * F.col("n_items") / 2),
            6,
        ).alias("norm_footrule"),
    )


def footrule_oracle_sql(ranks_sql: str) -> str:
    """DuckDB mirror of `spearman_footrule` over ``ranks_sql``
    yielding (key, r1, r2)."""
    return f"""
    WITH ftr_ranks AS ({ranks_sql}),
    ftr_agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_items,
               CAST(sum(abs(r1 - r2)) AS BIGINT) AS footrule
        FROM ftr_ranks
    )
    SELECT n_items, footrule,
           round(CAST(footrule AS DOUBLE)
                 / floor(n_items * n_items / 2.0), 6) AS norm_footrule
    FROM ftr_agg
    """
