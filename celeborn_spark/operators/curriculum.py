"""Curriculum / data-mixture curation operators (SURVEY.md §2C).

Two primitives a training-data pipeline needs between "score documents"
and "write shards":

- `quantile_bins`: exact quantile (e.g. decile) binning of a score
  column WITHOUT a global row sort. `ntile()` needs one total ordering
  of all rows — a single-partition window that dies at 100 TB. Instead
  bin via the value histogram: groupBy(score) (one map-combined
  exchange over distinct values), a window over the DISTINCT-value
  relation only (bounded by score cardinality, not row count), then a
  broadcast join back. Ties share one bin, so the result is
  deterministic and engine-independent.

- `mixture_sample`: deterministic sampling to a target mixture. Given
  per-stratum target shares of a token budget (e.g. rebalance languages
  to 30/30/20/10/10), derive each stratum's keep-rate from the data
  (rate = target_share x budget / stratum_tokens, capped at 1), then
  keep rows whose md5-uniform variate falls under the rate — the
  stratified_hash_sample discipline (operators/sampling.py) with rates
  computed in-engine from aggregates instead of hard-coded. Reproducible
  across runs/engines/partitionings; both the rate arithmetic and the
  md5 variate are oracle-expressible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import hold
from celeborn_spark.operators.sampling import _HEX_DIGITS, _SPACE, hash_bucket


def u01(key: Column | str, salt: int = 0) -> Column:
    """Deterministic uniform variate in [0, 1): the row's md5 hash
    bucket as a double. Portable — DuckDB mirror is
    CAST('0x' || substr(md5(key || ':' || salt), 1, 8) AS UBIGINT)
    / 16^8."""
    return F.conv(hash_bucket(key, salt), 16, 10).cast("double") / F.lit(float(_SPACE))


def u01_oracle_expr(key_sql: str, salt: int = 0) -> str:
    """The DuckDB expression matching u01(key, salt) bit for bit —
    concat_ws skips NULLs in both engines, so even a NULL key hashes
    identically (as the salt alone) instead of NULL-propagating."""
    return (
        f"CAST(concat('0x', substr(md5(concat_ws(':', {key_sql}, '{salt}')),"
        f" 1, {_HEX_DIGITS})) AS UBIGINT) / {float(_SPACE)}"
    )


def quantile_bins(
    df: DataFrame,
    score_col: str,
    n_bins: int = 10,
    bin_col: str = "bin",
    quantize_dp: int | None = None,
) -> DataFrame:
    """Append `bin_col` in [0, n_bins): the row's exact quantile bin of
    `score_col`, computed from the value histogram (no global row
    sort). bin = floor(n_bins * rows_before_this_value / total); all
    rows sharing a value share a bin.

    The histogram window runs over DISTINCT values only — which bounds
    the single-partition sort ONLY when the score is discrete. For a
    continuous double, distinct ~= rows and the "histogram" IS the table
    on one partition. `quantize_dp` is the contract that prevents that:
    the histogram (and the join-back key) use round(score, quantize_dp),
    capping distinct values at span * 10^dp regardless of row count
    (e.g. a [0, 1] score at dp=4 -> <= 10,001 histogram rows at any
    scale). Rows within one quantization cell share a bin — the
    bin-boundary granularity IS the grid. A score that is already
    rounded at <= dp decimals is binned identically with or without
    quantization (round is idempotent), so callers of discrete scores
    lose nothing by passing it. Callers feeding raw continuous scores
    MUST pass quantize_dp; quantize_dp=None keeps exact per-value bins
    for genuinely discrete scores (integer grades, enum levels)."""
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    # NULL scores are excluded EXPLICITLY: left in, the NULL group would
    # enter the histogram (Spark windows sort NULLS FIRST) and shift
    # every real value's cum_before, while the equi-join back would
    # silently drop the NULL rows anyway — mis-binned survivors plus
    # invisible losses. Callers wanting NULLs must bin them themselves.
    df = df.filter(F.col(score_col).isNotNull())
    if quantize_dp is not None:
        key = "_qb_cell"
        keyed = df.withColumn(key, F.round(F.col(score_col), quantize_dp))
    else:
        key = score_col
        keyed = df
    hist = keyed.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    # window over DISTINCT (quantized) score values only —
    # cardinality-bounded, not row-bounded
    edges = hist.withColumn(
        "cum_before", F.sum("cnt").over(W.orderBy(key)) - F.col("cnt")
    ).crossJoin(F.broadcast(hist.agg(F.sum("cnt").alias("total"))))
    bins = edges.select(
        key,
        F.least(
            F.lit(n_bins - 1).cast("long"),
            F.floor(F.lit(n_bins) * F.col("cum_before") / F.col("total")),
        ).alias(bin_col),
    )
    out = keyed.join(F.broadcast(bins), key)
    if quantize_dp is not None:
        # same column order as the exact path (join-key score first)
        rest = [c for c in df.columns if c != score_col]
        out = out.select(score_col, *rest, bin_col)
    return out


def mixture_sample(
    df: DataFrame,
    stratum_col: str,
    key_col: str,
    weight_col: str,
    targets: dict[str, float],
    budget_frac: float,
    salt: int = 0,
) -> DataFrame:
    """Deterministic mixture sampling: stratum s keeps rows at rate
    min(1, targets[s] x budget_frac x total_weight / stratum_weight),
    approximating a sampled corpus whose per-stratum weight shares
    follow `targets` within a budget_frac-of-total budget. Strata
    absent from `targets` are dropped. Two cheap aggregates + one
    broadcast join + one codegen'd filter; the data never shuffles."""
    if not targets:
        raise ValueError("targets must name at least one stratum")
    if not 0.0 < budget_frac <= 1.0:
        raise ValueError(f"budget_frac must be in (0, 1], got {budget_frac}")
    if any(share < 0 for share in targets.values()):
        raise ValueError(f"target shares must be >= 0: {targets}")
    totals = df.groupBy(stratum_col).agg(F.sum(weight_col).alias("stratum_w"))
    grand = totals.agg(F.sum("stratum_w").alias("grand_w"))
    target = F.lit(None).cast("double")
    for value, share in targets.items():
        target = F.when(F.col(stratum_col) == value, F.lit(share)).otherwise(target)
    # filter the untargeted strata BEFORE least(): both Spark and DuckDB
    # define least() to skip NULLs, so least(1.0, NULL) is 1.0 — a NULL
    # target would otherwise keep its whole stratum
    rates = (
        totals.crossJoin(F.broadcast(grand))
        .withColumn("t", target)
        .filter(F.col("t").isNotNull())
        .select(
            stratum_col,
            F.least(
                F.lit(1.0),
                F.col("t") * F.lit(budget_frac) * F.col("grand_w") / F.col("stratum_w"),
            ).alias("rate"),
        )
    )
    return df.join(F.broadcast(rates), stratum_col).filter(
        u01(key_col, salt) < F.col("rate")
    )


def mixture_waterfill(
    df: DataFrame, group_col: str, budget: int
) -> DataFrame:
    """Deterministic waterfill allocation of a document ``budget``
    across groups targeting EQUAL shares — the mixture PLANNER in
    front of `mixture_sample` (which executes given rates): each group
    gets quota = budget/k (remainder to the first groups in key
    order), capped by its actual size; leftover budget then refills
    the unsaturated groups in key order. Output one row per group:
    (group, n_docs, alloc, fill_rate).

    All-integer algebra over the k-row group-count relation: quotas,
    caps, and the leftover walk are BIGINT prefix windows ordered by
    the group key; fill_rate = alloc/n is a single division, raw.
    sum(alloc) = min(budget, sum(n)) by construction.

    Scale shape: ONE map-combined count aggregate over row mass;
    everything after runs on k rows."""
    counts = (
        df.groupBy(F.col(group_col).alias("grp"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .transform(hold)  # feeds k/total AND the walk
    )
    tot = counts.agg(F.count(F.lit(1)).cast("long").alias("k"))
    wr = W.orderBy("grp")
    wcum = W.orderBy("grp").rowsBetween(W.unboundedPreceding, -1)
    b = F.lit(budget)
    phase1 = (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(wr).cast("long"))
        .withColumn(
            "quota",
            F.expr(f"{budget} div k")
            + (F.col("rn") <= F.lit(budget) % F.col("k")).cast("long"),
        )
        .withColumn("alloc1", F.least(F.col("n_docs"), F.col("quota")))
        .transform(hold)  # feeds the leftover total AND the refill walk
    )
    left = phase1.agg(
        (b - F.sum("alloc1")).cast("long").alias("leftover")
    )
    return (
        phase1.crossJoin(F.broadcast(left))
        .withColumn(
            "cum_spare_before",
            F.coalesce(
                F.sum(F.col("n_docs") - F.col("alloc1")).over(wcum), F.lit(0)
            ),
        )
        .withColumn(
            "add2",
            F.greatest(
                F.lit(0),
                F.least(
                    F.col("n_docs") - F.col("alloc1"),
                    F.col("leftover") - F.col("cum_spare_before"),
                ),
            ),
        )
        .select(
            F.col("grp").alias("group"),
            "n_docs",
            (F.col("alloc1") + F.col("add2")).cast("long").alias("alloc"),
            F.expr("CAST(alloc1 + add2 AS DOUBLE) / n_docs").alias(
                "fill_rate"
            ),
        )
    )


def mixture_waterfill_oracle_sql(
    table: str, group_sql: str, budget: int
) -> str:
    """DuckDB mirror of `mixture_waterfill`: identical quota,
    remainder, and refill-walk algebra."""
    return f"""
    WITH counts AS (
        SELECT {group_sql} AS grp, CAST(count(*) AS BIGINT) AS n_docs
        FROM {table} GROUP BY 1
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS k FROM counts),
    phase1 AS (
        SELECT grp, n_docs,
               least(n_docs,
                     {budget} // k
                     + CASE WHEN row_number() OVER (ORDER BY grp)
                                 <= {budget} % k THEN 1 ELSE 0 END)
                   AS alloc1
        FROM counts CROSS JOIN tot
    ),
    left_ AS (
        SELECT CAST({budget} - sum(alloc1) AS BIGINT) AS leftover
        FROM phase1
    )
    SELECT grp AS "group", n_docs,
           CAST(alloc1 + greatest(0, least(n_docs - alloc1,
                leftover - coalesce(sum(n_docs - alloc1) OVER (
                    ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0))) AS BIGINT) AS alloc,
           CAST(alloc1 + greatest(0, least(n_docs - alloc1,
                leftover - coalesce(sum(n_docs - alloc1) OVER (
                    ORDER BY grp ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0))) AS DOUBLE) / n_docs AS fill_rate
    FROM phase1 CROSS JOIN left_
    """
