"""KMV (k-minimum-values) distinct-count and theta-style overlap
sketches — MERGEABLE cardinality estimation that is SQL-exact.

The 100 TB problem: exact count-distinct shuffles every distinct key;
cross-dataset overlap (eval-set contamination, source dedup audits)
joins every raw key. A KMV sketch reduces each partition/dataset to its
k smallest md5 hash values — k rows, mergeable by union + re-take-k —
and estimates cardinality as (k-1)/u_k (u_k = the kth smallest hash
normalized to [0,1)); two sketches estimate their intersection through
the theta rule (count common samples below theta = min of the two kth
values, divide by theta). Only k-sized relations ever meet, never raw
keys.

Engine parity: md5 is bit-identical in Spark and DuckDB (the
operators/sampling.py idiom), so the hash sets, the kth minimum, and
every division are reproduced exactly by the oracle — unlike HLL,
whose register layout is engine-private (q_sketch_accuracy can only
check a bound). Mergeability is exact, not approximate: union of
per-slice k-minima re-cut to k equals the whole-data k-minima
(pinned by tests/test_sketch.py).

Reference analogue: per-partition compact summaries merged at read
time is the reference's partition-split/commit model
(worker storage manifests); here the summary is a cardinality sketch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import hold
from celeborn_spark.operators.sampling import _HEX_DIGITS, _SPACE, hash_bucket


def _u01_sql(hex_sql: str) -> str:
    return f"CAST(concat('0x', {hex_sql}) AS UBIGINT) / {float(_SPACE)}"


def _hash_counts(df: DataFrame, key_col: str, group_col: str) -> DataFrame:
    """(grp, h, nk): distinct md5 hash buckets per group with the
    number of distinct keys sharing each bucket — the relation behind
    both the sketch and its exact companion stats. The distinct over
    (group, key) is the heaviest exchange in the pipeline, so callers
    that need it twice (kmv_distinct) build it ONCE and share it."""
    return (
        df.select(F.col(group_col).alias("grp"), F.col(key_col).alias("key"))
        .groupBy("grp", "key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select("grp", hash_bucket(F.col("key")).alias("h"))
        .groupBy("grp", "h")
        .agg(F.count(F.lit(1)).alias("nk"))
    )


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_col: str,
    k: int,
    fanin: int = 32,
    hx: DataFrame | None = None,
) -> DataFrame:
    """(group, h, nk, rn): the k lexicographically-smallest distinct
    md5 hash buckets per group (rn = rank, nk = number of distinct keys
    sharing the hash — carried so exact counts survive 32-bit hash
    collisions). TWO-STAGE top-k — a single per-group window would pull
    every distinct hash of a group through one task; instead each of
    `fanin` subgroups keeps its local k minima (this IS the sketch's
    own merge: per-slice k-minima unioned and re-cut are exactly the
    global k-minima, pinned by tests/test_sketch.py), and the final
    window ranks at most fanin*k rows per group. The subgroup key is
    xxhash64 of the hash string — NOT a prefix of it, which would
    correlate with the very order being ranked and send all minima to
    one subgroup. Pass a prebuilt ``hx`` (from `_hash_counts`) to
    share the distinct-pair aggregate with other consumers."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if hx is None:
        hx = _hash_counts(df, key_col, group_col)
    sub = F.pmod(F.xxhash64("h"), F.lit(fanin))
    local_rn = F.row_number().over(
        W.partitionBy("grp", sub.alias("_sub")).orderBy("h")
    )
    pruned = hx.withColumn("_lrn", local_rn).filter(F.col("_lrn") <= k)
    rn = F.row_number().over(W.partitionBy("grp").orderBy("h"))
    return (
        pruned.withColumn("rn", rn).filter(F.col("rn") <= k).drop("_lrn")
    )


def kmv_distinct(
    df: DataFrame, key_col: str, group_col: str, k: int = 64
) -> DataFrame:
    """(group, kmv_est, exact_distinct): per-group KMV cardinality
    estimate next to the exact count. Groups with fewer than k distinct
    hashes are exact by construction (the sketch holds the whole hash
    set); larger groups estimate (k-1)/u_k. The exact companion column
    is the honesty check the driver hash-compares; at 100 TB it is the
    column you would DROP, leaving a k-row-per-group plan."""
    # the distinct-pair + hash aggregate is the heaviest exchange in
    # the pipeline; build it ONCE, materialize, and feed both the
    # sketch and the exact stats from it (ADVICE r7 — it ran twice)
    hx = _hash_counts(df, key_col, group_col).transform(hold)
    sk = kmv_sketch(df, key_col, group_col, k, hx=hx)
    stats = hx.groupBy("grp").agg(
        F.sum("nk").cast("long").alias("exact_distinct"),
        F.count(F.lit(1)).alias("nh"),
    )
    kth = sk.filter(F.col("rn") == k).select(
        "grp",
        (F.conv("h", 16, 10).cast("double") / F.lit(float(_SPACE))).alias("uk"),
    )
    return (
        stats.join(kth, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.when(F.col("nh") < k, F.col("nh").cast("double"))
            .otherwise(F.lit(float(k - 1)) / F.col("uk"))
            .alias("kmv_est"),
            "exact_distinct",
        )
    )


def kmv_distinct_oracle_sql(
    table: str, key_sql: str, group_sql: str, group_alias: str, k: int = 64
) -> str:
    """DuckDB mirror of `kmv_distinct`: identical md5 buckets, kth
    minimum, and (k-1)/u_k division — bit-exact."""
    return f"""
    WITH pairs AS (
        SELECT DISTINCT {group_sql} AS grp, CAST({key_sql} AS VARCHAR) AS key
        FROM {table}
    ),
    hx AS (
        SELECT grp, substr(md5(concat_ws(':', key, '0')), 1, {_HEX_DIGITS}) AS h,
               count(*) AS nk
        FROM pairs GROUP BY 1, 2
    ),
    ranked AS (
        SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn
        FROM hx
    ),
    kth AS (
        SELECT grp, {_u01_sql('h')} AS uk FROM ranked WHERE rn = {k}
    ),
    stats AS (
        SELECT grp, CAST(sum(nk) AS BIGINT) AS exact_distinct, count(*) AS nh
        FROM hx GROUP BY 1
    )
    SELECT stats.grp AS {group_alias},
           CASE WHEN stats.nh < {k} THEN CAST(stats.nh AS DOUBLE)
                ELSE CAST({k - 1} AS DOUBLE) / kth.uk END AS kmv_est,
           stats.exact_distinct
    FROM stats LEFT JOIN kth ON stats.grp = kth.grp
    """


def kmv_overlap(
    df_a: DataFrame,
    df_b: DataFrame,
    key_col: str,
    k: int = 64,
) -> DataFrame:
    """One row: theta-sketch intersection estimate between two keyed
    datasets next to the exact overlap.

    theta = min(u_k(A), u_k(B)) (1.0 when a side has < k distinct
    hashes — its sketch is its whole hash set); each side keeps its
    sampled hashes below theta; est_overlap = |samples(A) n samples(B)|
    / theta. At 100 TB only the two k-row sketches meet (a broadcast
    join of 64-row relations); the exact companion — a distinct-key
    inner join — is the oracle honesty column you would drop."""
    # each k-row sketch is read twice (its theta + the common join) —
    # materialize so the hash aggregate never runs once per reference
    a = kmv_sketch(
        df_a.select(F.col(key_col)).withColumn("_g", F.lit(1)), key_col, "_g", k
    ).transform(hold)
    b = kmv_sketch(
        df_b.select(F.col(key_col)).withColumn("_g", F.lit(1)), key_col, "_g", k
    ).transform(hold)
    u = F.conv("h", 16, 10).cast("double") / F.lit(float(_SPACE))

    def theta_of(sk: DataFrame) -> DataFrame:
        # kth hash normalized, or 1.0 when the side holds < k hashes
        return sk.groupBy().agg(
            F.when(F.count(F.lit(1)) < k, F.lit(1.0))
            .otherwise(F.max(F.when(F.col("rn") == k, u)))
            .alias("th")
        )

    theta = (
        theta_of(a)
        .withColumnRenamed("th", "tha")
        .crossJoin(theta_of(b).withColumnRenamed("th", "thb"))
        .select(F.least("tha", "thb").alias("theta"))
    )
    common = (
        a.select("h")
        .join(b.select("h"), "h")
        .crossJoin(F.broadcast(theta))
        .filter(u < F.col("theta"))
        .groupBy()
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    exact = (
        df_a.select(F.col(key_col).alias("key"))
        .distinct()
        .join(df_b.select(F.col(key_col).alias("key")).distinct(), "key")
        .groupBy()
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    return (
        common.crossJoin(F.broadcast(theta))
        .crossJoin(F.broadcast(exact))
        .select(
            "n_common",
            "theta",
            (F.col("n_common").cast("double") / F.col("theta")).alias(
                "est_overlap"
            ),
            "exact_overlap",
        )
    )


def kmv_overlap_oracle_sql(
    table: str, key_sql: str, pred_a: str, pred_b: str, k: int = 64
) -> str:
    """DuckDB mirror of `kmv_overlap` for two predicate-selected slices
    of one table — identical hash sets, theta rule, and divisions."""

    def side(name: str, pred: str) -> str:
        return f"""
    {name}_hx AS (
        SELECT substr(md5(concat_ws(':', CAST({key_sql} AS VARCHAR), '0')),
                      1, {_HEX_DIGITS}) AS h
        FROM (SELECT DISTINCT {key_sql} FROM {table} WHERE {pred})
        GROUP BY 1
    ),
    {name}_top AS (
        SELECT h, row_number() OVER (ORDER BY h) AS rn FROM {name}_hx
    ),
    {name}_sk AS (SELECT h, rn FROM {name}_top WHERE rn <= {k}),
    {name}_th AS (
        SELECT CASE WHEN count(*) < {k} THEN CAST(1.0 AS DOUBLE)
                    ELSE max(CASE WHEN rn = {k} THEN {_u01_sql('h')} END)
               END AS th
        FROM {name}_sk
    )"""

    return f"""
    WITH {side('a', pred_a)},
    {side('b', pred_b)},
    theta AS (
        SELECT CASE WHEN a_th.th < b_th.th THEN a_th.th ELSE b_th.th END AS theta
        FROM a_th CROSS JOIN b_th
    ),
    common AS (
        SELECT count(*) AS n_common
        FROM a_sk JOIN b_sk ON a_sk.h = b_sk.h CROSS JOIN theta
        WHERE {_u01_sql('a_sk.h')} < theta.theta
    ),
    exact AS (
        SELECT count(*) AS exact_overlap
        FROM (SELECT DISTINCT {key_sql} AS key FROM {table} WHERE {pred_a}) x
        JOIN (SELECT DISTINCT {key_sql} AS key FROM {table} WHERE {pred_b}) y
        USING (key)
    )
    SELECT common.n_common, theta.theta,
           CAST(common.n_common AS DOUBLE) / theta.theta AS est_overlap,
           exact.exact_overlap
    FROM common CROSS JOIN theta CROSS JOIN exact
    """
