"""Multinomial naive Bayes text classifier, trained and applied
entirely in-engine.

The token-count factorization makes the whole model a pair of
aggregates: class priors + per-(class, token) counts — training at
100 TB is the same map-side-combined groupBy as word count. Scoring
avoids materializing a doc x class x vocab cube via the smoothing
identity: with Laplace add-one,

    score(d, c) = ln P(c) - len(d) * ln(tot_c + V)
                  + sum_{t in d} cnt_t * ln(count_{c,t} + 1)

where tokens ABSENT from class c contribute ln(0 + 1) = 0, so the
score sum only needs the (doc-token) JOIN (class-token) inner join on
the token key — the sparse postings join, never the dense cube. The
class-level scalars ride a broadcast class-sized relation.

Engine parity: scores are sums of ~doc-length ln() terms (1e-13
accumulation noise), rounded 6 dp before the argmax; the argmax ranks
on the ROUNDED score with the class name as tiebreaker, so both
engines cut identically.

Reference analogue: aggregate-heavy classify workloads are exactly the
combineByKey differential shape of SparkTestBase.scala:111-135.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import hold


def naive_bayes_confusion(
    docs: DataFrame, id_col: str, text_col: str, label_col: str, dp: int = 6
) -> DataFrame:
    """Train multinomial NB on the corpus (label = `label_col`), score
    every document, and return the confusion matrix
    (actual, predicted, n_docs) — the self-consistency readout of the
    classifier (and an honest one: near-uniform synthetic token
    distributions SHOULD confuse it toward the prior class)."""
    # doc_len is size(split(text)) — a pure 1:1 map, identical to
    # counting the exploded tokens per doc, so one whole explode+agg
    # pass of the token stream is gone (r13 reference-count audit).
    # Tried and REVERTED here: a single-tokenize checkpointed-TF form
    # (the eager materialization job cost more than the saved tokenize
    # passes) and a _spread before the explode (split+count is too
    # cheap to pay a shuffle of the text mass — unlike the md5/
    # substring kernels where spread wins).
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("actual"),
        F.explode(F.split(F.col(text_col), " ")).alias("token"),
    )
    dt = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    doc_len = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(label_col).alias("actual"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("doc_len"),
    )
    lt = toks.groupBy(F.col("actual").alias("cls"), "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cls_stats = (
        doc_len.groupBy(F.col("actual").alias("cls"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_len").cast("long").alias("tot_tokens"),
        )
    )
    scalars = dt.select("token").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("vocab")
    ).crossJoin(doc_len.agg(F.count(F.lit(1)).cast("long").alias("n_total")))
    # sparse postings join: only (class, token) pairs the class has seen
    partial = (
        dt.join(lt, "token")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.col("cnt") * F.log(F.col("c") + 1.0)).alias("hit_sum"))
    )
    grid = (
        doc_len.crossJoin(F.broadcast(cls_stats))
        .crossJoin(F.broadcast(scalars))
        .join(partial, ["doc_id", "cls"], "left")
    )
    score = (
        F.log(F.col("n_docs") / F.col("n_total"))
        - F.col("doc_len") * F.log((F.col("tot_tokens") + F.col("vocab")).cast("double"))
        + F.coalesce(F.col("hit_sum"), F.lit(0.0))
    )
    ranked = grid.select(
        "doc_id", "actual", "cls", F.round(score, dp).alias("score")
    ).withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("cls"))
        ),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .groupBy(F.col("actual"), F.col("cls").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


def naive_bayes_oracle_sql(
    table: str, id_col: str, text_col: str, label_col: str, dp: int = 6
) -> str:
    """DuckDB mirror of `naive_bayes_confusion`: identical counts,
    identical smoothing identity, identical rounded-score argmax."""
    return f"""
    WITH toks AS (
        SELECT {id_col} AS doc_id, {label_col} AS actual,
               unnest(string_split({text_col}, ' ')) AS token
        FROM {table}
    ),
    dt AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS cnt
           FROM toks GROUP BY 1, 2),
    doc_len AS (SELECT doc_id, actual, CAST(count(*) AS BIGINT) AS doc_len
                FROM toks GROUP BY 1, 2),
    lt AS (SELECT actual AS cls, token, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2),
    cls_stats AS (SELECT actual AS cls, CAST(count(*) AS BIGINT) AS n_docs,
                         CAST(sum(doc_len) AS BIGINT) AS tot_tokens
                  FROM doc_len GROUP BY 1),
    scalars AS (SELECT (SELECT count(DISTINCT token) FROM dt) AS vocab,
                       (SELECT count(*) FROM doc_len) AS n_total),
    partial AS (
        SELECT dt.doc_id, lt.cls, sum(dt.cnt * ln(lt.c + 1.0)) AS hit_sum
        FROM dt JOIN lt ON dt.token = lt.token
        GROUP BY 1, 2
    ),
    grid AS (
        SELECT d.doc_id, d.actual, cs.cls,
               round(ln(cs.n_docs / CAST(s.n_total AS DOUBLE))
                     - d.doc_len * ln(CAST(cs.tot_tokens + s.vocab AS DOUBLE))
                     + COALESCE(p.hit_sum, 0.0), {dp}) AS score
        FROM doc_len d
        CROSS JOIN cls_stats cs
        CROSS JOIN scalars s
        LEFT JOIN partial p ON p.doc_id = d.doc_id AND p.cls = cs.cls
    ),
    ranked AS (
        SELECT doc_id, actual, cls,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cls) AS rn
        FROM grid
    )
    SELECT actual, cls AS predicted, CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
    GROUP BY 1, 2
    """


def decision_stump(
    df: DataFrame, feature_col: str, label_expr: F.Column
) -> DataFrame:
    """Best single-threshold split of an INTEGER-VALUED feature against
    a boolean label — the depth-1 decision tree (the weak learner of
    boosting, and the quick "is this feature predictive at all"
    screen). Prediction rule: positive iff feature <= threshold.

    Split quality is the ALL-INTEGER association magnitude
    |TP*TN - FP*FN| (the numerator of the phi coefficient / chi-square
    — zero exactly when the split is independent of the label), so the
    argmax is engine-exact with no impurity divisions; ties resolve to
    the smallest threshold. Candidate thresholds are the DISTINCT
    feature values: confusion counts come from running sums over the
    per-value (n_pos, n_neg) aggregate — a window over distinct values
    (cardinality-bounded, the quantile_bins discipline), never over
    rows. Bounds: counts < ~3e9 keep TP*TN below 2^63.

    Output: one row (threshold, tp, fp, fn, tn, split_score, accuracy)
    — accuracy is one exact-integer division, bit-identical."""
    from pyspark.sql import Window as W

    base = df.select(
        F.col(feature_col).cast("long").alias("x"),
        F.when(label_expr, 1).otherwise(0).cast("long").alias("y"),
    )
    per_v = base.groupBy("x").agg(
        F.sum("y").alias("p"),
        F.sum(F.lit(1) - F.col("y")).alias("q"),
    )
    # Totals and the argmax both fold IN-ROW as windows over the
    # bounded distinct-value relation (exact BIGINT sums; the pick is
    # the window max of the same (score, -x) struct the old aggregate
    # ranked, so the filtered row is the identical smallest-threshold
    # argmax) — the totals crossJoin and the best-row join-back each
    # re-ran the whole upstream aggregate (r13 reference-count rule:
    # 4 scans of the row mass per stump, now 1).
    run = W.orderBy("x").rowsBetween(W.unboundedPreceding, W.currentRow)
    full = W.orderBy("x").rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    scored = per_v.select(
        "x",
        F.sum("p").over(run).alias("tp"),
        F.sum("q").over(run).alias("fp"),
        (F.sum("p").over(full) - F.sum("p").over(run)).alias("fn"),
        (F.sum("q").over(full) - F.sum("q").over(run)).alias("tn"),
    )
    scored = scored.withColumn(
        "split_score",
        F.abs(F.col("tp") * F.col("tn") - F.col("fp") * F.col("fn")),
    )
    pick = F.struct(
        F.col("split_score").alias("s"), (-F.col("x")).alias("negx")
    )
    return (
        scored.withColumn("_pick", pick)
        .withColumn("_best", F.max("_pick").over(full))
        .filter(F.col("_pick") == F.col("_best"))
        .select(
            F.col("x").alias("threshold"),
            "tp",
            "fp",
            "fn",
            "tn",
            "split_score",
            (
                (F.col("tp") + F.col("tn")).cast("double")
                / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn"))
            ).alias("accuracy"),
        )
    )


def decision_stump_oracle_sql(
    table: str, feature_sql: str, label_pred: str
) -> str:
    """DuckDB mirror of `decision_stump`: identical per-value running
    sums, |TP*TN - FP*FN| argmax with smallest-threshold tiebreak, and
    the single accuracy division."""
    return f"""
    WITH base AS (
        SELECT CAST({feature_sql} AS BIGINT) AS x,
               CASE WHEN {label_pred} THEN 1 ELSE 0 END AS y
        FROM {table}
    ),
    per_v AS (
        SELECT x, CAST(sum(y) AS BIGINT) AS p,
               CAST(sum(1 - y) AS BIGINT) AS q
        FROM base GROUP BY x
    ),
    cum AS (
        SELECT x,
               CAST(sum(p) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS tp,
               CAST(sum(q) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS fp
        FROM per_v
    ),
    tot AS (
        SELECT CAST(sum(p) AS BIGINT) AS tot_p, CAST(sum(q) AS BIGINT) AS tot_q
        FROM per_v
    ),
    scored AS (
        SELECT x, tp, fp, tot_p - tp AS fn, tot_q - fp AS tn,
               abs(tp * (tot_q - fp) - fp * (tot_p - tp)) AS split_score
        FROM cum CROSS JOIN tot
    ),
    best AS (
        SELECT x, tp, fp, fn, tn, split_score,
               row_number() OVER (ORDER BY split_score DESC, x ASC) AS rn
        FROM scored
    )
    SELECT x AS threshold, tp, fp, fn, tn, split_score,
           CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn) AS accuracy
    FROM best WHERE rn = 1
    """


def classification_report(conf: DataFrame, dp: int = 6) -> DataFrame:
    """Per-class precision/recall/F1 + support from a confusion-matrix
    relation (actual, predicted, n_docs) — the sklearn-style
    classifier report as a relational operator, with micro accuracy
    and macro-F1 repeated on every row (the ECE output pattern).

    All cells are exact BIGINTs; P/R/F1 are per-row chains of one or
    two divisions (CASE-guarded zeros); accuracy is one exact
    division; macro-F1 averages <= k deterministic doubles (bounded
    class catalog) and rounds ``dp``. The confusion input has a single
    consumer (the in-row per-class contribution explode), so only the
    bounded per-class rows relation is checkpointed."""
    # Each confusion cell (a, p, n) contributes IN-ROW to class a
    # (tp when a==p, fn when a!=p) and class p (fp when a!=p) — one
    # explode + ONE BIGINT-exact aggregate replaces the former
    # classes-distinct + three filtered aggregates + three left joins,
    # and leaves conf with a single consumer (its eager checkpoint is
    # gone; r13). The aggregate's class set is exactly
    # distinct(actual ∪ predicted), with the same coalesced-0 cells.
    per = (
        conf.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("actual").alias("cls"),
                        F.when(F.col("actual") == F.col("predicted"), F.col("n_docs"))
                        .otherwise(F.lit(0))
                        .cast("long")
                        .alias("tp"),
                        F.lit(0).cast("long").alias("fp"),
                        F.when(F.col("actual") != F.col("predicted"), F.col("n_docs"))
                        .otherwise(F.lit(0))
                        .cast("long")
                        .alias("fn"),
                    ),
                    F.struct(
                        F.col("predicted").alias("cls"),
                        F.lit(0).cast("long").alias("tp"),
                        F.when(F.col("actual") != F.col("predicted"), F.col("n_docs"))
                        .otherwise(F.lit(0))
                        .cast("long")
                        .alias("fp"),
                        F.lit(0).cast("long").alias("fn"),
                    ),
                )
            ).alias("e")
        )
        .groupBy(F.col("e.cls").alias("cls"))
        .agg(
            F.sum("e.tp").cast("long").alias("tp"),
            F.sum("e.fp").cast("long").alias("fp"),
            F.sum("e.fn").cast("long").alias("fn"),
        )
    )
    p = F.when(
        F.col("tp") + F.col("fp") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fp")),
    )
    r = F.when(
        F.col("tp") + F.col("fn") > 0,
        F.col("tp").cast("double") / (F.col("tp") + F.col("fn")),
    )
    f1 = F.when(
        (2 * F.col("tp") + F.col("fp") + F.col("fn")) > 0,
        2.0 * F.col("tp") / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
    ).otherwise(F.lit(0.0))
    rows = per.select(
        "cls",
        F.col("tp").alias("_tp"),
        (F.col("tp") + F.col("fn")).cast("long").alias("support"),
        p.alias("precision"),
        r.alias("recall"),
        f1.alias("f1"),
    ).transform(hold)  # bounded class catalog; feeds totals + output
    # accuracy folds onto the same bounded rows relation: sum of the
    # per-class tp is the diagonal total and sum of support is the doc
    # total — identical BIGINTs to the former second pass over conf,
    # so ONE aggregate serves macro-F1 and accuracy together
    tot = rows.agg(
        F.round(F.avg("f1"), dp).alias("macro_f1"),
        (F.sum("_tp").cast("double") / F.sum("support")).alias("accuracy"),
    )
    return rows.drop("_tp").crossJoin(F.broadcast(tot))


def classification_report_oracle_sql(confusion_sql: str, dp: int = 6) -> str:
    """DuckDB mirror of `classification_report` over a confusion-matrix
    subquery (actual, predicted, n_docs) — the subquery may carry its
    own WITH clause (wrapped, not inlined)."""
    return f"""
    WITH cr_conf AS MATERIALIZED (
        SELECT * FROM ({confusion_sql})
    ),
    cr_classes AS (
        SELECT DISTINCT cls FROM (
            SELECT actual AS cls FROM cr_conf
            UNION ALL SELECT predicted FROM cr_conf
        )
    ),
    cr_tp AS (SELECT actual AS cls, n_docs AS tp FROM cr_conf
              WHERE actual = predicted),
    cr_fp AS (SELECT predicted AS cls, CAST(sum(n_docs) AS BIGINT) AS fp
              FROM cr_conf WHERE actual <> predicted GROUP BY 1),
    cr_fn AS (SELECT actual AS cls, CAST(sum(n_docs) AS BIGINT) AS fn
              FROM cr_conf WHERE actual <> predicted GROUP BY 1),
    cr_per AS (
        SELECT c.cls,
               coalesce(tp.tp, 0) AS tp,
               coalesce(fp.fp, 0) AS fp,
               coalesce(fn.fn, 0) AS fn
        FROM cr_classes c
        LEFT JOIN cr_tp tp ON tp.cls = c.cls
        LEFT JOIN cr_fp fp ON fp.cls = c.cls
        LEFT JOIN cr_fn fn ON fn.cls = c.cls
    ),
    cr_rows AS MATERIALIZED (
        SELECT cls,
               CAST(tp + fn AS BIGINT) AS support,
               CASE WHEN tp + fp > 0
                    THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
               CASE WHEN tp + fn > 0
                    THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall,
               CASE WHEN 2 * tp + fp + fn > 0
                    THEN 2.0 * tp / (2 * tp + fp + fn)
                    ELSE 0.0 END AS f1
        FROM cr_per
    ),
    cr_tot AS (
        SELECT (SELECT round(avg(f1), {dp}) FROM cr_rows) AS macro_f1,
               (SELECT CAST(sum(CASE WHEN actual = predicted
                                     THEN n_docs ELSE 0 END) AS DOUBLE)
                       / sum(n_docs)
                FROM cr_conf) AS accuracy
    )
    SELECT cls, support, precision, recall, f1, macro_f1, accuracy
    FROM cr_rows CROSS JOIN cr_tot
    """
