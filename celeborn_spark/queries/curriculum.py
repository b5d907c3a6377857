"""Curriculum / data-mixture surface over the documents table
(SURVEY.md §2C): exact quantile binning of a quality score and
deterministic sampling to a target language mixture — the step between
document scoring (queries/text.py) and shard packing
(operators/packing.py) in an LLM data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import curriculum as C
from celeborn_spark.operators import hold
from celeborn_spark.operators import textops as T
from celeborn_spark.queries.text import _SW
from celeborn_spark.registry import query

N_BINS = 10

MIX_TARGETS = {"en": 0.3, "de": 0.1, "es": 0.1, "fr": 0.2, "zh": 0.3}
MIX_BUDGET = 0.8
MIX_SALT = 7

_QUALITY_SQL = f"""
    SELECT doc_id, lang, n_chars,
           round(0.5 * least(n / 100.0, 1.0)
               + 0.5 * least((n_sw / n) / 0.1, 1.0), 6) AS q
    FROM (
        SELECT doc_id, lang, n_chars,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    ) WHERE n > 0
"""


@query(
    "q_quality_curriculum",
    oracle=f"""
    WITH s AS ({_QUALITY_SQL}),
    hist AS (SELECT q, count(*) AS cnt FROM s GROUP BY q),
    edges AS (
        SELECT q, cnt,
               sum(cnt) OVER (ORDER BY q) - cnt AS cum_before,
               sum(cnt) OVER ()                 AS total
        FROM hist
    ),
    b AS (
        SELECT q,
               least({N_BINS - 1},
                     CAST(floor({N_BINS} * cum_before / total) AS BIGINT)) AS bin
        FROM edges
    )
    SELECT b.bin                  AS bin,
           count(*)               AS n_docs,
           CAST(sum(s.n_chars) AS BIGINT) AS sum_chars,
           round(min(s.q), 6)     AS min_q,
           round(max(s.q), 6)     AS max_q
    FROM s JOIN b ON s.q = b.q
    GROUP BY b.bin
    """,
)
def q_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile curriculum over the quality score: exact quantile bins via
    the value-histogram method (operators/curriculum.py — no global row
    sort, unlike ntile), then per-bin corpus stats."""
    d = load_table(spark, sf_dir, "documents")
    scored = (
        d.select("doc_id", "n_chars", T.quality_score("text").alias("q"))
        .filter(F.col("q").isNotNull())
        # quantile_bins consumes the scored relation twice (histogram +
        # join-back); materialize the slim (id, chars, q) projection so
        # the tokenization-heavy scoring runs once, not per branch
        .transform(hold)
    )
    # quantize_dp=6 is idempotent on the already-6dp-rounded score, so
    # bins are bit-identical to the unquantized form (oracle unchanged)
    # while the histogram cardinality is contract-bounded at <= 10^6+1
    # for ANY feed — the continuous-score hardening (VERDICT r5 item 3).
    binned = C.quantile_bins(scored, "q", n_bins=N_BINS, quantize_dp=6)
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.round(F.min("q"), 6).alias("min_q"),
        F.round(F.max("q"), 6).alias("max_q"),
    )


def _mix_rate_sql() -> str:
    target = "CAST(NULL AS DOUBLE)"
    for value, share in MIX_TARGETS.items():
        target = f"CASE WHEN lang = '{value}' THEN {share} ELSE {target} END"
    return target


@query(
    "q_mixture_sample",
    oracle=f"""
    WITH totals AS (
        SELECT lang, sum(n_chars) AS stratum_w FROM documents GROUP BY lang
    ),
    grand AS (SELECT sum(stratum_w) AS grand_w FROM totals),
    rates AS (
        -- targeted strata only, BEFORE least(): least(1.0, NULL) = 1.0
        -- in both engines (least skips NULLs)
        SELECT lang, least(1.0, t * {MIX_BUDGET} * grand_w / stratum_w) AS rate
        FROM (SELECT lang, stratum_w, {_mix_rate_sql()} AS t FROM totals)
        CROSS JOIN grand
        WHERE t IS NOT NULL
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN rates r ON d.lang = r.lang
    WHERE {C.u01_oracle_expr("CAST(d.doc_id AS VARCHAR)", MIX_SALT)} < r.rate
    """,
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus to a target language mixture inside an 80%
    token budget: per-stratum keep-rates derived in-engine from the
    aggregate weights, membership by portable md5 variate
    (operators/curriculum.py mixture_sample)."""
    d = load_table(spark, sf_dir, "documents")
    return C.mixture_sample(
        d, "lang", "doc_id", "n_chars", MIX_TARGETS, MIX_BUDGET, salt=MIX_SALT
    ).select("doc_id", "lang", "n_chars")


@query(
    "q_pipeline_full",
    # the CorpusPipeline facade end to end in one oracle: quality
    # filter -> exact dedup -> mixture sample (token weights, md5
    # variate, salt 0) -> per-lang shard packing. Every stage reuses an
    # already-verified formula (q_text_quality, q_dedup_exact,
    # q_mixture_sample, q_shard_packing).
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    ),
    kept AS (
        SELECT doc_id, lang, text, n FROM scored
        WHERE n > 0
          AND round(0.5 * least(n / 100.0, 1.0)
                  + 0.5 * least((n_sw / n) / 0.1, 1.0), 6) >= 0.3
    ),
    dedup AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    dk AS (SELECT k.* FROM kept k JOIN dedup d ON k.doc_id = d.doc_id),
    totals AS (SELECT lang, sum(n) AS stratum_w FROM dk GROUP BY lang),
    grand AS (SELECT sum(stratum_w) AS grand_w FROM totals),
    rates AS (
        SELECT lang, least(1.0, t * {MIX_BUDGET} * grand_w / stratum_w) AS rate
        FROM (SELECT lang, stratum_w, {_mix_rate_sql()} AS t FROM totals)
        CROSS JOIN grand
        WHERE t IS NOT NULL
    ),
    sampled AS (
        SELECT dk.* FROM dk JOIN rates r ON dk.lang = r.lang
        WHERE {C.u01_oracle_expr("CAST(dk.doc_id AS VARCHAR)", 0)} < r.rate
    )
    SELECT lang, doc_id,
           CAST(n AS BIGINT) AS n_tokens,
           CAST(floor(CAST(coalesce(
               sum(n) OVER (PARTITION BY lang ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) / 512.0) AS BIGINT) AS shard_id
    FROM sampled
    """,
)
def q_pipeline_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CorpusPipeline facade, driver-verified end to end: quality
    filter -> exact dedup -> mixture rebalance -> token-budget shard
    layout (celeborn_spark/pipeline.py)."""
    from celeborn_spark.pipeline import CorpusPipeline

    d = load_table(spark, sf_dir, "documents")
    p = (
        CorpusPipeline(d)
        .filter_quality(0.3)
        .dedup_exact()
        .sample_mixture(MIX_TARGETS, MIX_BUDGET)
    )
    return p.pack_shards(budget=512, stream_col="lang")


@query(
    "q_per_source_cap",
    oracle="""
    SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        FROM documents
    ) WHERE rn <= 10
    """,
)
def q_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (keep at most 10 docs per source) —
    the standard crawl-cleaning guard against a single domain
    dominating the mix. One source-keyed window; Spark's
    WindowGroupLimit prunes past the cap before the full sort."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    w = W.partitionBy("source").orderBy("doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


def _bin5_ctes(name: str, col: str) -> str:
    """Histogram quintile-bin CTE triple over the `base` CTE for one
    RFM dimension — the exact quantile_bins rule (floor(5*cum_before/
    total) over distinct values, capped at 4) in SQL form."""
    return f"""
    hist_{name} AS (SELECT {col} AS v, count(*) AS cnt FROM base GROUP BY 1),
    edges_{name} AS (
        SELECT v, cnt,
               sum(cnt) OVER (ORDER BY v) - cnt AS cum_before,
               sum(cnt) OVER ()                 AS total
        FROM hist_{name}
    ),
    bins_{name} AS (
        SELECT v, least(4, CAST(floor(5 * cum_before / total) AS BIGINT)) AS bin
        FROM edges_{name}
    )"""


@query(
    "q_rfm_segments",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey AS c_custkey,
               max(CAST(o_orderdate AS DATE)) AS last_d,
               CAST(count(*) AS BIGINT) AS f_orders,
               CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS m_cents
        FROM orders GROUP BY 1
    ),
    anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
    base AS (
        SELECT c_custkey,
               CAST(date_diff('day', last_d, d1) AS BIGINT) AS r_days,
               f_orders, m_cents
        FROM per_cust CROSS JOIN anchor
    ),
    {_bin5_ctes("r", "r_days")},
    {_bin5_ctes("f", "f_orders")},
    {_bin5_ctes("m", "m_cents")}
    SELECT b.c_custkey, b.r_days, b.f_orders, b.m_cents,
           br.bin AS r_bin, bf.bin AS f_bin, bm.bin AS m_bin,
           CAST(br.bin * 100 + bf.bin * 10 + bm.bin AS BIGINT) AS rfm_code
    FROM base b
    JOIN bins_r br ON b.r_days = br.v
    JOIN bins_f bf ON b.f_orders = bf.v
    JOIN bins_m bm ON b.m_cents = bm.v
    """,
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days since last order vs the
    corpus anchor), frequency (order count) and monetary (integer-cents
    revenue) quintiled via the exact value-histogram method — the same
    no-global-sort discipline as q_quality_curriculum (ntile would sort
    every row; the histogram windows run over DISTINCT integer values).
    rfm_code packs the three quintiles into one segment label. One
    customer-keyed aggregate + three histogram-bin joins (bin tables
    broadcast — they are distinct-value sized)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
        F.count(F.lit(1)).cast("long").alias("f_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d1"))
    base = (
        per_cust.crossJoin(F.broadcast(anchor))
        .select(
            "c_custkey",
            F.datediff("d1", "last_d").cast("long").alias("r_days"),
            "f_orders",
            "m_cents",
        )
        # three quantile_bins passes re-read this relation (histogram +
        # join-back each): materialize the slim per-customer base once
        .transform(hold)
    )
    b = C.quantile_bins(base, "r_days", n_bins=5, bin_col="r_bin")
    b = C.quantile_bins(b, "f_orders", n_bins=5, bin_col="f_bin")
    b = C.quantile_bins(b, "m_cents", n_bins=5, bin_col="m_bin")
    return b.select(
        "c_custkey",
        "r_days",
        "f_orders",
        "m_cents",
        "r_bin",
        "f_bin",
        "m_bin",
        (F.col("r_bin") * 100 + F.col("f_bin") * 10 + F.col("m_bin"))
        .cast("long")
        .alias("rfm_code"),
    )


_COVERAGE_SHINGLES = """
    SELECT doc_id,
           unnest(list_transform(range(1, len(t) - 1),
                                 i -> array_to_string(t[i:i+2], ' '))) AS g
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE len(t) >= 3
"""


@query(
    "q_coverage_select",
    oracle=T.coverage_select_oracle_sql(_COVERAGE_SHINGLES, k=5),
)
def q_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage selection of 5 documents spanning the
    most distinct 3-token shingles — the submodular seed-corpus
    curation step (MMR diversifies a ranked retrieval; this maximizes
    raw content coverage with no query). Each of the 5 rounds is one
    shingle-keyed anti-join + doc-keyed count + 1-row cut on exact
    integers (operators/textops.coverage_select).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — identical on the
    single-space-normalized testdata word streams; a tab/double-space
    corpus must be normalized first."""
    from celeborn_spark.operators.dedup import _spread
    from celeborn_spark.operators.textops import coverage_select

    # single-split parquet + CPU-heavy tokenize/explode: spread across
    # cores first (the dedup shingle_table discipline; r13 — the sh
    # build was half the query's wall on one core)
    d = _spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i + 1, F.lit(3))
                ),
            )
        ).alias("g"),
    )
    return coverage_select(sh, k=5)


@query(
    "q_mixture_plan",
    oracle=C.mixture_waterfill_oracle_sql("documents", "lang", budget=300),
)
def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture waterfill plan: allocate a 300-doc budget across
    languages targeting equal shares, quota-capped by each language's
    actual size with deterministic leftover refill in key order — the
    mixture PLANNER in front of q_mixture_sample (which executes
    rates). All-integer prefix walks on the k-language relation;
    sum(alloc) = min(budget, corpus) by construction
    (operators/curriculum.mixture_waterfill)."""
    d = load_table(spark, sf_dir, "documents")
    return C.mixture_waterfill(d, "lang", budget=300)
