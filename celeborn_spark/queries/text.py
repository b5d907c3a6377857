"""Text-analysis surface over the documents table (SURVEY.md §2C):
token stats, quality scoring, language ID, fingerprinting, word count.

Every expression is a JVM-side built-in (operators/textops.py) and each
query has an exact DuckDB oracle — the heuristics were chosen to be
reproducible in ANSI-ish SQL on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import hold
from celeborn_spark.operators import textops as T
from celeborn_spark.operators.graph import pagerank_oracle_sql
from celeborn_spark.operators.stats import (
    js_divergence_oracle_sql,
    kl_divergence_oracle_sql,
)
from celeborn_spark.registry import query

_SW = "('the','a','and','of','to','in','is','it')"


@query(
    "q_text_token_stats",
    oracle=f"""
    SELECT doc_id,
           len(string_split(text, ' '))                                    AS n_tokens,
           round(list_sum(list_transform(string_split(text, ' '), x -> len(x)))
                 / len(string_split(text, ' ')), 6)                        AS avg_tok_len,
           len(list_filter(string_split(text, ' '), t -> t IN {_SW}))      AS n_stopwords
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        F.round(T.avg_token_len("text"), 6).alias("avg_tok_len"),
        T.stopword_count("text").alias("n_stopwords"),
    )


@query(
    "q_text_quality",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    )
    SELECT doc_id,
           round(0.5 * least(n / 100.0, 1.0)
               + 0.5 * least((n_sw / n) / 0.1, 1.0), 6) AS quality
    FROM s WHERE n > 0
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.quality_score("text").alias("quality"))


@query(
    "q_text_lang_id",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN n > 0 AND n_sw / n >= 0.02 THEN 'en' ELSE 'other' END AS pred_lang,
           lang AS actual_lang
    FROM s
    """,
)
def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.lang_id("text").alias("pred_lang"),
        F.col("lang").alias("actual_lang"),
    )


@query(
    "q_text_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
               list_prepend(0::BIGINT,
                            list_transform(string_split(text, ' '), x -> len(x)::BIGINT)),
               (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.doc_fingerprint("text").alias("fingerprint"))


@query(
    "q_word_count_topk",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q_word_count_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical shuffle workload (reference IT:
    tests/flink-it/.../WordCountTest.scala) as explode -> groupBy -> topk."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(T.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(20)
    )


@query(
    "q_bpe_token_count",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           len(string_split(text, ' '))                                AS n_ws_tokens
    FROM documents
    """,
)
def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex
    (letter runs / digit runs / single punctuation) — the cheap
    pre-tokenizer estimate a data pipeline uses before real BPE."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(
            F.regexp_extract_all("text", F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_tokens"),
        T.token_count("text").alias("n_ws_tokens"),
    )


@query(
    "q_shard_packing",
    oracle="""
    SELECT source, doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(floor(CAST(coalesce(
               sum(len(string_split(text, ' '))) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) / 2000.0) AS BIGINT) AS shard_id
    FROM documents
    """,
)
def q_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget shard assignment per source stream
    (operators/packing.py) — the pre-write layout step of a training
    data pipeline."""
    from celeborn_spark.operators.packing import greedy_token_shards

    d = load_table(spark, sf_dir, "documents")
    return greedy_token_shards(d, "source", "doc_id", "text", budget=2000)


@query(
    "q_sequence_pack",
    oracle="""
    WITH counted AS (
        SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ),
    span AS (
        SELECT source, doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_start
        FROM counted
    ),
    fan AS (
        SELECT source, doc_id, tok_start, tok_start + n_tokens AS tok_end,
               unnest(range(tok_start // 512,
                            (tok_start + n_tokens - 1) // 512 + 1)) AS seq_id
        FROM span
    )
    SELECT source, doc_id,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(greatest(tok_start, seq_id * 512) - tok_start AS BIGINT)
               AS doc_offset,
           CAST(least(tok_end, (seq_id + 1) * 512)
                - greatest(tok_start, seq_id * 512) AS BIGINT) AS piece_tokens
    FROM fan
    """,
)
def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context (512-token) sequence packing per source stream
    (operators/packing.py pack_sequences): the packed-pretraining
    layout, docs splitting across sequence boundaries via an integer
    span fan-out."""
    from celeborn_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    return pack_sequences(d, "source", "doc_id", "text", ctx=512)


@query(
    "q_corpus_clean_pipeline",
    oracle=f"""
    WITH scored AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    ), kept AS (
        SELECT doc_id, text,
               0.5 * least(n / 100.0, 1.0) + 0.5 * least((n_sw / n) / 0.1, 1.0) AS q
        FROM scored
        WHERE n > 0 AND n_sw / n >= 0.02
    ), deduped AS (
        SELECT md5(text) AS h, min(doc_id) AS doc_id
        FROM kept WHERE round(q, 6) >= 0.3
        GROUP BY md5(text)
    )
    SELECT doc_id FROM deduped
    """,
)
def q_corpus_clean_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM-corpus cleaning pipeline end to end: language filter ->
    quality filter -> exact dedup keeping the smallest doc id. Three
    composed operators, one exchange (the dedup groupBy) — filters are
    map-side and fused by codegen."""
    from celeborn_spark.operators.dedup import exact_dedup

    d = load_table(spark, sf_dir, "documents")
    kept = d.filter(
        (T.lang_id("text") == "en") & (T.quality_score("text") >= 0.3)
    )
    return exact_dedup(kept, "text", "doc_id").select("doc_id")


@query(
    "q_text_stats_by_lang",
    oracle=f"""
    WITH s AS (
        SELECT lang, source,
               len(string_split(text, ' ')) AS n,
               len(list_filter(string_split(text, ' '), t -> t IN {_SW})) AS n_sw
        FROM documents
    )
    SELECT lang, source,
           count(*)                          AS n_docs,
           round(avg(n), 4)                  AS avg_tokens,
           round(avg(n_sw / n), 6)           AS avg_sw_ratio
    FROM s WHERE n > 0
    GROUP BY lang, source
    """,
)
def q_text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n = T.token_count("text")
    sw = T.stopword_count("text")
    return (
        d.select("lang", "source", n.alias("n"), sw.alias("n_sw"))
        .filter(F.col("n") > 0)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n"), 4).alias("avg_tokens"),
            F.round(F.avg(F.col("n_sw") / F.col("n")), 6).alias("avg_sw_ratio"),
        )
    )


@query(
    "q_text_repetition",
    # fractions are raw IEEE quotients on BOTH sides (no round):
    # small-rational ratios can land exactly on half-way digits where
    # engines' rounding rules differ (see operators/textops.py)
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM t WHERE len(toks) >= 2
    ),
    per_bg AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY doc_id, bg),
    per_doc AS (SELECT doc_id, max(n) AS top_n, sum(n) AS total_bg
                FROM per_bg GROUP BY doc_id)
    SELECT t.doc_id,
           len(toks)                                AS n_tokens,
           len(list_distinct(toks)) / len(toks)     AS distinct_ratio,
           top_n / total_bg                         AS top_bigram_frac
    FROM t JOIN per_doc USING (doc_id)
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: distinct-token ratio
    and top-bigram mass fraction per doc (repetitive machine text gets
    filtered before training)."""
    d = load_table(spark, sf_dir, "documents")
    return T.repetition_stats(d, "doc_id", "text")


@query("q_compression_quality")  # rows-only: no SQL engine exposes zlib
def q_compression_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal per doc (the CCNet /
    RefinedWeb-style filter: templated text compresses far below prose,
    near-random noise barely compresses) — the honest Arrow pandas_udf
    slow path for a genuinely Python-only kernel; differential-tested
    against direct zlib in tests/test_textops_extended.py. Rows-only,
    so the output carries its own sanity bound (VERDICT r4 item 7):
    `ratio_in_bounds` pins the structural zlib guarantee
    compressed <= raw + 12 bytes (header/adler/stored-block overhead —
    a ~50-byte doc legitimately hits ratio ~1.1), i.e.
    0 < ratio <= 1 + 12/n_bytes; a broken kernel lands far outside.
    Asserted all-true in pytest."""
    d = load_table(spark, sf_dir, "documents")
    out = T.compression_ratio(d, "doc_id", "text")
    return out.withColumn(
        "ratio_in_bounds",
        (F.col("zlib_ratio") > 0)
        & (F.col("zlib_ratio") * F.col("n_bytes") <= F.col("n_bytes") + 12),
    )


@query(
    "q_tfidf_topk",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
        FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, rnk FROM (
        SELECT doc_id, tok, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rnk
        FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by tf-idf — the classic
    corpus-statistics operator (keyword extraction / doc signatures)."""
    d = load_table(spark, sf_dir, "documents")
    return T.tfidf_topk(d, "doc_id", "text", k=3)


@query(
    "q_bigram_topk",
    oracle="""
    WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT unnest(list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM t WHERE len(toks) >= 2
    )
    SELECT bg, count(*) AS n FROM b GROUP BY bg ORDER BY n DESC, bg LIMIT 20
    """,
)
def q_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-20 bigrams — n-gram word count (vocabulary-building
    pass of a tokenizer pipeline)."""
    d = load_table(spark, sf_dir, "documents")
    return T.bigram_topk(d, "text", k=20)


@query(
    "q_facet_mutual_information",
    # MI(lang; source) from the contingency table: per-cell
    # contributions (c/N) * ln(cN / (row_marginal * col_marginal)),
    # rounded 6dp as group aggregates. Positive cells = over-represented
    # facet pairs (confounded sampling); sum of mi_contrib = total MI.
    oracle="""
    WITH cells AS (
        SELECT lang, source, count(*) AS c FROM documents GROUP BY lang, source
    ),
    tot AS (SELECT sum(c) AS n FROM cells),
    m AS (
        SELECT lang, source, c,
               sum(c) OVER (PARTITION BY lang)   AS rl,
               sum(c) OVER (PARTITION BY source) AS cs
        FROM cells
    )
    SELECT lang, source,
           CAST(c AS BIGINT) AS n_docs,
           round((1.0 * c / n) * ln((1.0 * c * n) / (1.0 * rl * cs)), 6)
               AS mi_contrib
    FROM m CROSS JOIN tot
    """,
)
def q_facet_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between corpus facets (lang x source) — the
    diagnostic that catches confounded sampling (a language arriving
    mostly from one source). One contingency aggregation; marginals via
    windows over the facet-sized cell relation, never over rows."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("c"))
    m = (
        cells.withColumn("rl", F.sum("c").over(W.partitionBy("lang")))
        .withColumn("cs", F.sum("c").over(W.partitionBy("source")))
        .withColumn("n", F.sum("c").over(W.partitionBy()))
    )
    return m.select(
        "lang",
        "source",
        F.col("c").cast("long").alias("n_docs"),
        F.round(
            (F.col("c") / F.col("n"))
            * F.log((F.col("c") * F.col("n")) / (F.col("rl") * F.col("cs"))),
            6,
        ).alias("mi_contrib"),
    )


@query(
    "q_distribution_drift",
    # PSI (population stability index) between the src0 reference slice
    # and the rest of the corpus over width-100 length bins (capped at
    # bin 20). Laplace smoothing over the FIXED 21-bin space keeps both
    # engines' probabilities identical; per-bin contributions are group
    # aggregates, rounded 6dp (ln on identical doubles — same discipline
    # as the tf-idf/surprisal oracles).
    oracle="""
    WITH binned AS (
        SELECT least(n_chars // 100, 20) AS bin,
               CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS is_ref
        FROM documents
    ),
    counts AS (
        SELECT bin,
               sum(is_ref)     AS c_ref,
               sum(1 - is_ref) AS c_cur
        FROM binned GROUP BY bin
    ),
    tot AS (SELECT sum(c_ref) AS n_ref, sum(c_cur) AS n_cur FROM counts)
    SELECT bin,
           CAST(c_ref AS BIGINT) AS c_ref,
           CAST(c_cur AS BIGINT) AS c_cur,
           round(((c_ref + 1.0) / (n_ref + 21) - (c_cur + 1.0) / (n_cur + 21))
                 * ln(((c_ref + 1.0) / (n_ref + 21))
                      / ((c_cur + 1.0) / (n_cur + 21))), 6) AS psi_contrib
    FROM counts CROSS JOIN tot
    """,
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution drift (PSI) of document length between a reference
    corpus slice and the current one — the monitoring op that catches a
    data pipeline silently changing its output distribution. Bin counts
    in one exchange; totals broadcast back; contributions map-side.
    Total PSI = sum(psi_contrib); > 0.25 conventionally means drifted."""
    d = load_table(spark, sf_dir, "documents")
    binned = d.select(
        F.least(F.floor(F.col("n_chars") / 100), F.lit(20)).cast("long").alias("bin"),
        F.when(F.col("source") == "src0", 1).otherwise(0).alias("is_ref"),
    )
    counts = binned.groupBy("bin").agg(
        F.sum("is_ref").alias("c_ref"),
        F.sum(1 - F.col("is_ref")).alias("c_cur"),
    )
    tot = counts.agg(
        F.sum("c_ref").alias("n_ref"), F.sum("c_cur").alias("n_cur")
    )
    p = (F.col("c_ref") + 1.0) / (F.col("n_ref") + 21)
    q = (F.col("c_cur") + 1.0) / (F.col("n_cur") + 21)
    return counts.crossJoin(F.broadcast(tot)).select(
        "bin",
        F.col("c_ref").cast("long").alias("c_ref"),
        F.col("c_cur").cast("long").alias("c_cur"),
        F.round((p - q) * F.log(p / q), 6).alias("psi_contrib"),
    )


@query(
    "q_length_histogram",
    oracle="""
    SELECT CAST(n_chars // 50 AS BIGINT) AS bucket,
           count(*)     AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents GROUP BY bucket
    """,
)
def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of document lengths (corpus profiling):
    pure map-side bucketing + one aggregate exchange."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.floor(F.col("n_chars") / 50).alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@query(
    "q_heavy_hitters",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok)
    SELECT tok, n FROM counts
    WHERE n > (SELECT 0.001 * sum(n) FROM counts)
    """,
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus heavy hitters: tokens above a relative-frequency floor
    (vocabulary pruning / stopword discovery). Explode -> count ->
    scalar-subquery threshold; the token count aggregate is map-side
    partial so the exchange carries one row per distinct token."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split(F.col("text"), " ")).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("t"))
    return counts.join(F.broadcast(total)).filter(
        F.col("n") > 0.001 * F.col("t")
    ).select("tok", "n")


@query(
    "q_vocab_coverage",
    oracle="""
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT sum(cnt) AS total FROM counts),
    ranked AS (
        SELECT token, cnt,
               sum(cnt) OVER (ORDER BY cnt DESC, token) AS cum
        FROM counts
    )
    SELECT token, cnt,
           CAST((cum * 2000000 + total) // (2 * total) AS DOUBLE) / 1e6 AS cum_share
    FROM ranked CROSS JOIN tot
    ORDER BY cnt DESC, token LIMIT 200
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf coverage curve: the 200 most frequent tokens with the
    cumulative share of all token occurrences they cover — the
    vocabulary-sizing artifact for tokenizer design. The running-sum
    window orders DISTINCT tokens only (vocabulary-bounded, not
    corpus-bounded — the same cardinality argument as
    operators/curriculum.py quantile_bins)."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    # The output is the TOP-200 prefix of the desc sort, and prefix
    # sums of a prefix only need the prefix: heap-select the 200
    # (TakeOrderedAndProject) BEFORE the running-sum window, so the
    # window input is 200 rows, not the whole (corpus-growing) vocab.
    w = W.orderBy(F.col("cnt").desc(), "token").rowsBetween(W.unboundedPreceding, 0)
    return (
        counts.orderBy(F.col("cnt").desc(), "token")
        .limit(200)
        .withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(total))
        .select(
            "token",
            "cnt",
            # tie-safe 6dp half-up: all-integer division of exact counts
            # (the finalize_agg tie class), then ONE IEEE /1e6 — not
            # round(), whose half-way rule differs across engines.
            (
                F.expr("cast((cum * 2000000 + total) div (2 * total) as double)")
                / F.lit(1e6)
            ).alias("cum_share"),
        )
        .orderBy(F.col("cnt").desc(), "token")
        .limit(200)
    )


@query(
    "q_text_normalize",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\f\\r]', '', 'g'),
               '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS norm_hash,
           len(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\f\\r]', '', 'g'),
               '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS norm_chars
    FROM documents
    """,
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form fingerprints: lowercase + punctuation strip +
    whitespace collapse, the normalize-before-dedup preprocessing step
    (operators/textops.py normalize_text)."""
    d = load_table(spark, sf_dir, "documents")
    n = T.normalize_text("text")
    return d.select(
        "doc_id",
        F.md5(n).alias("norm_hash"),
        F.length(n).alias("norm_chars"),
    )


@query(
    "q_dedup_normalized",
    oracle="""
    SELECT norm_hash, min(doc_id) AS doc_id, count(*) AS n_copies
    FROM (
        SELECT doc_id,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 \\t\\n\\f\\r]', '', 'g'),
                   '[ \\t\\n\\f\\r]+', ' ', 'g'))) AS norm_hash
        FROM documents
    )
    GROUP BY norm_hash
    """,
)
def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the NORMALIZED form — catches case/punctuation/
    whitespace variants plain exact dedup misses (how production dedup
    actually runs: normalize, then hash)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(T.normalize_text("text")).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


@query(
    "q_unigram_logprob",
    # avg(-ln p) per doc: the sums of ~200 logs differ only in final
    # ulps across libm implementations, so the per-doc aggregate is
    # rounded 6dp on both sides (the repo's aggregate-rounding rule)
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT sum(cnt) AS total FROM vocab)
    SELECT t.doc_id,
           round(avg(-ln(v.cnt / tot.total)), 6) AS avg_neg_logprob,
           count(*) AS n_tokens
    FROM tok t JOIN vocab v ON t.token = v.token CROSS JOIN tot
    GROUP BY t.doc_id
    """,
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM surprisal per doc — the fluency /
    outlier proxy (docs of rare tokens score high): one vocab
    aggregate, one broadcast-able count join, one per-doc mean. The
    cheapest 'perplexity filter' an LLM pipeline runs before a real
    LM scorer."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(T.tokens("text")).alias("token"))
    vocab = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    return (
        tok.join(vocab, "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.round(F.avg(-F.log(F.col("cnt") / F.col("total"))), 6)
            .alias("avg_neg_logprob"),
            F.count(F.lit(1)).alias("n_tokens"),
        )
    )


CHUNK_STRIDE = 64
CHUNK_SIZE = 96  # 32-token overlap between consecutive chunks


@query(
    "q_text_chunks",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    )
    SELECT doc_id,
           CAST(k AS INTEGER) AS chunk_idx,
           CAST(len(toks[(k * {CHUNK_STRIDE} + 1):(k * {CHUNK_STRIDE} + {CHUNK_SIZE})])
                AS INTEGER)   AS n_chunk_tokens,
           md5(array_to_string(
               toks[(k * {CHUNK_STRIDE} + 1):(k * {CHUNK_STRIDE} + {CHUNK_SIZE})],
               ' '))          AS chunk_hash
    FROM (
        SELECT doc_id, toks, n,
               unnest(range(0, CAST(ceil(n / {CHUNK_STRIDE}.0) AS BIGINT))) AS k
        FROM t WHERE n > 0
    )
    """,
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (stride 64, size 96) — the
    RAG / context-window layout step, as a pure-JVM 1->N fan-out:
    tokenize ONCE into a materialized array column, explode a chunk
    index sequence, slice per chunk (no per-element re-tokenization —
    the O(len^2) trap operators/textops.py bigrams documents)."""
    d = load_table(spark, sf_dir, "documents")
    return T.token_chunks(
        d, "doc_id", "text", stride=CHUNK_STRIDE, size=CHUNK_SIZE
    )


@query(
    "q_inverted_index",
    oracle="""
    WITH post AS (
        SELECT DISTINCT token, doc_id FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
    ),
    idx AS (
        SELECT token,
               count(*) AS df,
               string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
                   AS postings
        FROM post GROUP BY token
    )
    SELECT token, df, postings FROM idx
    ORDER BY df DESC, token LIMIT 100
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index layout: per-token document-frequency + sorted
    posting list (joined to a string for cross-engine comparability) —
    the search/retrieval-side artifact of a corpus. One distinct + one
    grouped collect, both keyed on the token."""
    d = load_table(spark, sf_dir, "documents")
    post = (
        d.select("doc_id", F.explode(T.tokens("text")).alias("token")).distinct()
    )
    return (
        post.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_set("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings"),
        )
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


BM25_TERMS = ("hash", "sort", "merge")


@query(
    "q_bm25_topk",
    oracle=T.bm25_oracle_sql("documents", "doc_id", "text", BM25_TERMS, k=25),
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 documents for a fixed query by BM25 — the ranked
    retrieval scorer over the corpus (tf-idf's production sibling;
    pairs with q_inverted_index as the retrieval surface)."""
    d = load_table(spark, sf_dir, "documents")
    return T.bm25_topk(d, "doc_id", "text", BM25_TERMS, k=25)


@query(
    "q_pmi_bigrams",
    oracle=T.pmi_oracle_sql("documents", "text", min_count=5, k=50),
)
def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by PMI — phrase mining / tokenizer merge
    rules from corpus statistics (two count aggregates + broadcast
    totals; see operators/textops.pmi_bigrams)."""
    d = load_table(spark, sf_dir, "documents")
    return T.pmi_bigrams(d, "text", min_count=5, k=50)


@query(
    "q_bigram_lm_score",
    # corpus-trained bigram LM with Laplace smoothing: per-doc
    # avg(-ln P(w2|w1)), P = (c(w1 w2)+1)/(c(w1 .)+|successor vocab|).
    # Counts are exact ints in both engines; the log sum is a per-doc
    # aggregate rounded 6dp (the repo's aggregate-rounding rule).
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    b AS (
        SELECT doc_id, unnest(list_transform(range(1, len(toks)),
                                             i -> toks[i] || ' ' || toks[i+1])) AS bg
        FROM t WHERE len(toks) >= 2
    ),
    c2 AS (SELECT bg, count(*) AS c2 FROM b GROUP BY bg),
    c1 AS (SELECT string_split(bg, ' ')[1] AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1),
    v AS (SELECT count(DISTINCT string_split(bg, ' ')[2]) AS vv FROM c2)
    SELECT b.doc_id,
           round(avg(-ln((c2.c2 + 1.0) / (c1.c1 + v.vv))), 6) AS avg_neg_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM b
    JOIN c2 USING (bg)
    JOIN c1 ON string_split(b.bg, ' ')[1] = c1.w1
    CROSS JOIN v
    GROUP BY b.doc_id
    """,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal per doc — the step up from q_unigram_logprob
    toward a real perplexity filter: P(w2|w1) with Laplace smoothing,
    trained on the corpus itself. Bigram counts shuffle once on the
    bigram key; context totals are a rollup OF THE COUNTS (vocab-sized,
    never re-reading the corpus); the successor-vocab scalar broadcasts.
    High scorers are incoherent/outlier docs; low scorers are
    boilerplate — both ends are what a pipeline prunes."""
    from celeborn_spark.operators.dedup import _spread

    d = load_table(spark, sf_dir, "documents")
    bg_tbl = _spread(d, "doc_id").select(
        "doc_id", F.explode(T.bigrams("text")).alias("bg")
    )
    # the bigram count table is vocab-sized and feeds the context
    # rollup, the successor-vocab scalar AND the scored join-back —
    # materialize once (3 lazy references re-ran the corpus bigram
    # count each; r13 reference-count rule)
    c2 = (
        bg_tbl.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c2"))
        .transform(hold)
    )
    with_w = c2.withColumn("w1", F.substring_index("bg", " ", 1)).withColumn(
        "w2", F.substring_index("bg", " ", -1)
    )
    c1 = with_w.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vv = with_w.agg(F.count_distinct("w2").alias("vv"))
    scored = (
        bg_tbl.join(c2, "bg")
        .withColumn("w1", F.substring_index("bg", " ", 1))
        .join(c1, "w1")
        .crossJoin(F.broadcast(vv))
    )
    return scored.groupBy("doc_id").agg(
        F.round(
            F.avg(-F.log((F.col("c2") + F.lit(1.0)) / (F.col("c1") + F.col("vv")))), 6
        ).alias("avg_neg_logprob"),
        F.count(F.lit(1)).alias("n_bigrams"),
    )


@query("q_bpe_train", oracle=T.bpe_oracle_sql("documents", "text", n_merges=4))
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the corpus's first 4 BPE merges (tokenizer training):
    word-frequency table once, then vocabulary-sized pair statistics +
    a broadcast argmax per round — the Sennrich et al. subword
    pipeline as pure DataFrame aggregates (operators/textops.bpe_train)."""
    return T.bpe_train(load_table(spark, sf_dir, "documents"), "text", n_merges=4)


@query(
    "q_bpe_apply_curve",
    oracle=T.bpe_apply_oracle_sql("documents", "text", n_merges=4),
)
def q_bpe_apply_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-compression curve of the learned BPE merges: corpus
    symbol total after cumulatively applying merges 0..4 — the
    tokenizer-sizing readout (row 0 = character baseline; each merge
    absorbs corpus mass proportional to its pair count)."""
    return T.bpe_apply_curve(load_table(spark, sf_dir, "documents"), "text", n_merges=4)


@query(
    "q_cms_heavy_hitters",
    oracle=T.cms_oracle_sql("documents", "text", depth=4, width=256, k=20),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the exact top-20
    tokens: the bounded-memory (depth x width counters, vocabulary-
    independent) frequency layer, with the CMS >= exact guarantee
    checkable value-for-value because the md5 bucket mapping is
    deterministic in both engines (operators/textops.cms_heavy_hitters)."""
    return T.cms_heavy_hitters(
        load_table(spark, sf_dir, "documents"), "text", depth=4, width=256, k=20
    )


@query(
    "q_feature_hashing",
    oracle=T.feature_hashing_oracle_sql("documents", "doc_id", "text", n_features=16),
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick document features: every doc maps to a fixed
    16-wide signed token-count vector with NO dictionary — the
    corpus-scale featurizer in front of the in-engine logistic quality
    classifier (operators/textops.feature_hashing)."""
    return T.feature_hashing(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n_features=16
    )


@query(
    "q_sparse_cosine_pairs",
    oracle=T.sparse_cosine_oracle_sql(
        "documents", "doc_id", "text", threshold=0.5, max_df=1000,
        block_sql="source",
    ),
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Related-document pairs by TF-IDF cosine >= 0.5 within each
    source shard — weighted similarity where set-Jaccard ignores term
    salience. Blocking by source is the scale bound on THIS corpus's
    31-token vocabulary (every term is hot, so a global postings join
    is quadratic no matter the df cap — the same measured lesson that
    drove set_similarity_join's adaptive strategy); df statistics and
    the pair join both key on (source, term)
    (operators/textops.sparse_cosine_pairs)."""
    d = load_table(spark, sf_dir, "documents")
    return T.sparse_cosine_pairs(
        d, "doc_id", "text", threshold=0.5, max_df=1000, block_col="source"
    )


@query(
    "q_zipf_slope",
    oracle="""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    freq AS (SELECT tok, count(*) AS n FROM toks GROUP BY tok),
    top AS (
        SELECT tok, n, row_number() OVER (ORDER BY n DESC, tok) AS rnk
        FROM freq ORDER BY n DESC, tok LIMIT 100
    ),
    pts AS (SELECT ln(rnk) AS x, ln(n) AS y FROM top),
    s AS (
        SELECT CAST(count(*) AS DOUBLE) AS m, sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM pts
    )
    SELECT CAST(m AS BIGINT) AS n_terms,
           round((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS zipf_slope
    FROM s
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-100 tokens — natural language sits near -1; templated or
    synthetic corpora drift off (the distributional cousin of
    q_vocab_coverage). The top-k cut is TakeOrderedAndProject (per-task
    heaps, no global sort); ranks are assigned on the 100 survivors
    only; ln inputs are exact integers so both engines feed identical
    doubles into the rounded slope."""
    d = load_table(spark, sf_dir, "documents")
    from celeborn_spark.operators.dedup import _spread

    freq = (
        _spread(d, "text")
        .select(F.explode(T.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql import Window as W

    top = freq.orderBy(F.col("n").desc(), "tok").limit(100)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(
            W.orderBy(F.col("n").desc(), "tok")
        ),
    )
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("m").cast("long").alias("n_terms"),
        F.round(
            (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")),
            6,
        ).alias("zipf_slope"),
    )


@query(
    "q_kl_divergence",
    oracle=kl_divergence_oracle_sql(
        "SELECT lang AS g, unnest(string_split(text, ' ')) AS w FROM documents",
        "en",
        group_alias="lang",
    ),
)
def q_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-distribution KL divergence of every language slice
    against the English reference (Laplace-smoothed) — the corpus-drift
    / slice-divergence diagnostic next to q_distribution_drift (PSI on
    a numeric column) and q_zipf_slope. One (lang, token) count
    exchange; the grid is vocabulary x languages sized
    (operators/stats.kl_divergence).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — identical on the
    single-space-normalized testdata word streams; a tab/double-space
    corpus must be normalized first."""
    from celeborn_spark.operators.stats import kl_divergence

    d = load_table(spark, sf_dir, "documents")
    occ = d.select("lang", F.explode(T.tokens("text")).alias("w"))
    return kl_divergence(occ, "lang", "w", ref_value="en")


@query(
    "q_js_divergence",
    oracle=js_divergence_oracle_sql(
        "SELECT source AS g, unnest(string_split(text, ' ')) AS w FROM documents",
        "src0",
        group_alias="source",
    ),
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of every source slice's unigram
    distribution against the 'src0' reference — the SYMMETRIC, bounded
    (0..ln 2) sibling of q_kl_divergence, the standard corpus-similarity
    metric when neither slice is canonical. Same single-exchange
    (source, token) count + vocab x source grid shape
    (operators/stats.js_divergence).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — the testdata documents
    are single-space-normalized word streams, which makes the two
    identical; a tab/double-space corpus must be normalized first."""
    from celeborn_spark.operators.stats import js_divergence

    d = load_table(spark, sf_dir, "documents")
    occ = d.select("source", F.explode(T.tokens("text")).alias("w"))
    return js_divergence(occ, "source", "w", ref_value="src0")


@query(
    "q_ngram_novelty",
    oracle="""
    WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
                  FROM documents),
    sh AS (
        SELECT DISTINCT doc_id, source,
               unnest(list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))) AS g
        FROM toks WHERE len(t) >= 3
    ),
    ref AS (SELECT DISTINCT g FROM sh WHERE source = 'src0'),
    scored AS (
        SELECT s.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN r.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_novel
        FROM sh s LEFT JOIN ref r ON s.g = r.g
        WHERE s.source <> 'src0'
        GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_novel,
           CAST((n_novel * 20000 + n_shingles) // (2 * n_shingles)
                AS DOUBLE) / 1e4 AS novel_frac
    FROM scored
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty vs a reference slice: the fraction of a
    document's distinct 3-token shingles ABSENT from the src0 corpus —
    the inverse of decontamination (there: drop overlap with eval;
    here: measure what new text a source contributes, the dedup-aware
    acquisition signal). Reference shingles are a distinct set the
    corpus side left-anti-checks via a shingle-keyed join (broadcast
    when the reference is slice-sized). novel_frac uses the tie-safe
    all-integer half-up division (the finalize_agg class).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — identical on the
    single-space-normalized testdata word streams; a tab/double-space
    corpus must be normalized first."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.split(F.col("text"), r"\s+").alias("t")
    ).filter(F.size("t") >= 3)
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - 3),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("t"), i + 1, F.lit(3))
                ),
            )
        ).alias("g"),
    ).distinct()
    ref = sh.filter(F.col("source") == "src0").select("g").distinct()
    scored = (
        sh.filter(F.col("source") != "src0")
        .join(ref.withColumn("_hit", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_hit").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_novel"),
        )
    )
    return scored.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.expr(
                "cast((n_novel * 20000 + n_shingles) div (2 * n_shingles) as double)"
            )
            / F.lit(1e4)
        ).alias("novel_frac"),
    )


_TEXTRANK_EDGES = """
    toks AS (SELECT string_split(text, ' ') AS t FROM documents),
    adjp AS (
        SELECT t[i] AS a, t[i + 1] AS b
        FROM (SELECT t, unnest(range(1, len(t))) AS i
              FROM toks WHERE len(t) >= 2)
    ),
    canon AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
              FROM adjp WHERE a <> b),
    e AS (SELECT u AS src, v AS dst FROM canon
          UNION ALL SELECT v, u FROM canon)
"""


@query(
    "q_textrank_keywords",
    oracle="SELECT node AS word, pr FROM ("
    + pagerank_oracle_sql(edges_cte=_TEXTRANK_EDGES, iters=3)
    + ") ORDER BY pr DESC, word LIMIT 20",
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: PageRank over the word
    co-occurrence graph (distinct undirected adjacent-token pairs
    across the corpus), top-20 words by rank — the graph-centrality
    keyword signal next to q_tfidf_topk (frequency-based) and
    q_bm25_topk (query-relevance). Pure composition: the SAME pagerank
    operator the graph family uses (operators/graph.pagerank, r7
    driver-green) runs on a vocabulary-sized token graph — nodes are
    words, so the per-round exchanges are vocab-bounded, never
    corpus-bounded; the adjacency build touches the token mass once.
    Rank on the 6dp-rounded pr with the word as tiebreak.

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — identical on the
    single-space-normalized testdata word streams; a tab/double-space
    corpus must be normalized first."""
    from celeborn_spark.operators.graph import pagerank

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(T.tokens("text").alias("t")).filter(F.size("t") >= 2)
    adj = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("a"),
                        F.element_at("t", i + 2).alias("b"),
                    ),
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    canon = adj.select(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).distinct()
    e = canon.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        canon.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    return (
        pagerank(e, iters=3)
        .select(F.col("node").alias("word"), "pr")
        .orderBy(F.col("pr").desc(), "word")
        .limit(20)
    )


@query(
    "q_type_token_richness",
    oracle="""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    wc AS (SELECT source, w, CAST(count(*) AS BIGINT) AS c
           FROM toks GROUP BY 1, 2)
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(count(*) AS DOUBLE) / sum(c) AS ttr,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS hapax_frac
    FROM wc GROUP BY source
    """,
)
def q_type_token_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical richness per source: type-token ratio and hapax-legomena
    fraction — the vocabulary-diversity screen next to q_zipf_slope
    (rank-frequency law) and q_vocab_coverage (cumulative mass). High
    hapax_frac flags noisy/OCR text; low TTR flags templated spam.
    One (source, token) count exchange; both ratios are single
    divisions of exact integers, raw.

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+ while the oracle splits on ' ' — identical on the
    single-space-normalized testdata word streams."""
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select("source", F.explode(T.tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return wc.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long").alias("n_hapax"),
        (F.count(F.lit(1)).cast("double") / F.sum("c")).alias("ttr"),
        (
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("hapax_frac"),
    )


@query(
    "q_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents
    ),
    cc AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
           FROM ch GROUP BY 1, 2),
    n AS (SELECT doc_id, sum(k) AS n FROM cc GROUP BY 1)
    SELECT cc.doc_id,
           CAST(max(n.n) AS BIGINT) AS n_chars,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(-sum((CAST(k AS DOUBLE) / n.n)
                      * ln(CAST(k AS DOUBLE) / n.n)), 6) AS entropy
    FROM cc JOIN n ON n.doc_id = cc.doc_id
    GROUP BY cc.doc_id
    """,
)
def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-level Shannon entropy — the gibberish/
    binary-junk screen next to q_text_repetition (low entropy =
    template/repeated filler; implausibly high = random bytes or
    wrong-charset text); a standard pretraining quality gate. Each
    term is one exact-integer division through ln (bit-identical),
    6dp per-doc sum; one (doc, char) count exchange bounded by
    character mass, with the per-doc alphabet (<= charset size)
    downstream."""
    d = load_table(spark, sf_dir, "documents")
    cc = (
        d.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("k"))
    )
    n = cc.groupBy("doc_id").agg(F.sum("k").alias("n"))
    p = F.col("k").cast("double") / F.col("n")
    return (
        cc.join(n, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n").cast("long").alias("n_chars"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
        )
    )


_RAKE_STOPWORDS = ("a", "the")


@query(
    "q_rake_keywords",
    oracle=T.rake_oracle_sql(_RAKE_STOPWORDS, k=20),
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction: candidate phrases split at stopword
    boundaries, words scored degree/frequency (long-phrase
    co-occurrence boosts degree) — the phrase-structure keyword signal
    next to q_tfidf_topk (document frequency) and q_textrank_keywords
    (graph centrality). Exact-integer deg/freq, single-division score,
    rank on the 6dp-rounded score with word tiebreak, top-20
    (operators/textops.rake_word_scores).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+, the oracle splits ' ' — identical on the
    single-space-normalized testdata word streams."""
    d = load_table(spark, sf_dir, "documents")
    return T.rake_word_scores(d, "text", _RAKE_STOPWORDS, k=20)


@query("q_good_turing", oracle=T.good_turing_oracle_sql())
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing smoothing table over the corpus unigram counts:
    count-of-counts N_r, smoothed r* = (r+1)N_{r+1}/N_r, and the
    unseen-token mass N_1/total — what the data says an n-gram LM's
    discount SHOULD be (q_bigram_lm_score hard-codes add-one). All
    exact-BIGINT single divisions over the count-of-counts relation
    (operators/textops.good_turing).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.good_turing(d, "text")


@query("q_burrows_delta", oracle=T.burrows_oracle_sql(m=20))
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric deviation per source: mean |z| of
    each source's top-20-token relative frequencies against the
    across-source profile — "which source writes most unlike the
    corpus", the provenance-drift signal next to
    q_facet_mutual_information and q_hellinger_langmix. Exact-integer
    frequencies; every multi-double accumulation rides an ORDERED
    window (source within token, token within source)
    (operators/textops.burrows_delta).

    Tokenization contract: Spark splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.burrows_delta(d, "text", "source", m=20)


@query("q_bigram_entropy", oracle=T.bigram_entropy_oracle_sql())
def q_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram conditional entropy H(next|current) + perplexity:
    token-level predictability between q_char_entropy (characters) and
    q_markov_entropy (event types); low values flag boilerplate.
    Exact-integer ln ratios accumulated over the ordered vocab^2 cell
    window, 6dp (operators/textops.bigram_conditional_entropy).

    Tokenization contract: Spark splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.bigram_conditional_entropy(d, "text")


@query(
    "q_negative_sampling",
    oracle=T.negative_sampling_oracle_sql(),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style negative-sampling table: token probabilities
    proportional to count^(3/4) with cumulative lookup ranges — the
    embedding-training sampler next to q_good_turing's discounts.
    exp((3/4) ln c) identical-text chain rounded 6dp BEFORE the
    ordered-vocab normalization walk
    (operators/textops.negative_sampling_table).

    Tokenization contract: Spark splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.negative_sampling_table(d, "text")


@query("q_token_burstiness", oracle=T.burstiness_oracle_sql(min_cf=5))
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale token burstiness: corpus frequency vs document
    frequency against the Poisson null (df_expected = N(1-e^{-cf/N}))
    — topical/boilerplate tokens concentrate in few documents, a
    signal q_text_repetition (within-doc) and q_heavy_hitters (global
    rate) cannot see. Exact cf/df integers, one exp chain 6dp
    (operators/textops.token_burstiness).

    Tokenization contract: Spark splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.token_burstiness(d, "text", min_cf=5)


@query(
    "q_readability",
    # All three counts are exact int64 sums per language; the Flesch
    # formula then runs ONCE per group over exact operands — every
    # IEEE op in the chain is correctly rounded on identical inputs,
    # so the score is bit-identical with no rounding anywhere.
    # Sentence rule: runs of [.!?] delimit sentences, floor 1 per doc
    # (this synthetic corpus has no terminal punctuation, so each doc
    # counts as one sentence — the formula degrades gracefully).
    oracle="""
    WITH per_doc AS (
        SELECT lang,
               CAST(length(regexp_extract_all(text, '[^ ]+')) AS BIGINT)
                   AS n_words,
               CAST(greatest(length(regexp_extract_all(text, '[.!?]+')), 1)
                   AS BIGINT) AS n_sents,
               CAST(length(regexp_extract_all(lower(text), '[aeiouy]+'))
                   AS BIGINT) AS n_syll
        FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS words,
           CAST(sum(n_sents) AS BIGINT) AS sentences,
           CAST(sum(n_syll) AS BIGINT) AS syllables,
           206.835
             - 1.015 * (CAST(sum(n_words) AS DOUBLE) / sum(n_sents))
             - 84.6 * (CAST(sum(n_syll) AS DOUBLE) / sum(n_words))
               AS flesch
    FROM per_doc GROUP BY lang
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per language: 206.835 - 1.015*(words/
    sentences) - 84.6*(syllables/words), with vowel-group syllable
    counting — the classic corpus-quality screen next to
    q_text_quality's ratio features (a training-data pipeline bins or
    filters sources by readability band). Zero shuffle before the
    5-group aggregate: the three counts are per-row regexp counts that
    combine map-side."""
    d = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.expr("regexp_extract_all(text, '[^ ]+', 0)"))
    n_sents = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    n_syll = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    per_doc = d.select(
        "lang",
        n_words.cast("long").alias("n_words"),
        n_sents.cast("long").alias("n_sents"),
        n_syll.cast("long").alias("n_syll"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("words"),
        F.sum("n_sents").cast("long").alias("sentences"),
        F.sum("n_syll").cast("long").alias("syllables"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        (
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6)
            * (F.col("syllables").cast("double") / F.col("words"))
        ).alias("flesch"),
    )


@query(
    "q_hill_tail",
    # Order statistics come from a deterministic top-101 cut
    # (n_chars DESC, doc_id tiebreak — identical sets in both
    # engines); the ln terms are irrational, so the 6dp round on
    # alpha is tie-safe; the window input is the 101-row post-limit
    # prefix.
    oracle="""
    WITH top AS (
        SELECT n_chars, doc_id FROM documents
        ORDER BY n_chars DESC, doc_id LIMIT 101
    ),
    ranked AS (
        SELECT n_chars,
               row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rk
        FROM top
    ),
    ref AS (SELECT n_chars AS x_ref FROM ranked WHERE rk = 101)
    SELECT CAST(100 AS BIGINT) AS k,
           CAST(r2.x_ref AS BIGINT) AS x_k,
           round(100.0 / sum(ln(CAST(r.n_chars AS DOUBLE) / r2.x_ref)), 6)
               AS alpha
    FROM ranked r CROSS JOIN ref r2
    WHERE r.rk <= 100
    GROUP BY r2.x_ref
    """,
)
def q_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index estimator over document lengths: alpha =
    k / sum_{i<=k} ln(x_(i)/x_(k+1)) for the k=100 largest n_chars —
    the heavy-tail diagnostic (alpha < 2: infinite variance — expect
    stragglers when partitioning by size; q_powerlaw_alpha does the
    same for graph degrees, this covers payload size). Top-(k+1) via
    TakeOrderedAndProject (heap-select, no global sort); everything
    after runs on a 101-row relation."""
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    top = (
        d.select("n_chars", "doc_id")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .limit(101)
    )
    # 101-row post-limit prefix — bounded window
    ranked = top.select(
        "n_chars",
        F.row_number()
        .over(W.orderBy(F.col("n_chars").desc(), "doc_id"))
        .alias("rk"),
    ).localCheckpoint(eager=False)  # referenced twice: ref row + the k-term sum
    ref = ranked.filter(F.col("rk") == 101).select(
        F.col("n_chars").alias("x_ref")
    )
    return (
        ranked.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(ref))
        .groupBy("x_ref")
        .agg(
            F.lit(100).cast("long").alias("k"),
            F.round(
                F.lit(100.0)
                / F.sum(
                    F.log(F.col("n_chars").cast("double") / F.col("x_ref"))
                ),
                6,
            ).alias("alpha"),
        )
        .select("k", F.col("x_ref").cast("long").alias("x_k"), "alpha")
    )


@query("q_rouge_overlap", oracle=T.rouge_oracle_sql("documents"))
def q_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 P/R/F1 + ROUGE-2 F1 of every document against its
    language's reference document (min doc_id per lang) — the n-gram
    overlap eval metric (Lin 2004) as a corpus operator: score a
    candidate pool against gold references with exact clipped counts,
    no model in the loop. Linear tokenize->count passes; the
    reference side is one doc per language and broadcasts; candidates
    never join each other (operators/textops.rouge_vs_reference)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.rouge_vs_reference(docs)


@query("q_bleu_corpus", oracle=T.bleu_oracle_sql("documents"))
def q_bleu_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-BLEU-2 (with brevity penalty, unsmoothed) of every
    document against its language's reference — the precision-oriented
    dual of q_rouge_overlap, sharing the same exact clipped-count core
    (operators/textops.bleu_vs_reference): BP * geometric mean of
    unigram/bigram precisions. Scores a generated-candidate pool
    against gold references without a model in the loop."""
    docs = load_table(spark, sf_dir, "documents")
    return T.bleu_vs_reference(docs)


@query("q_gopher_rules", oracle=T.gopher_oracle_sql("documents"))
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter battery: per-doc boolean
    verdicts (length band, mean word length, numeric ratio, top-token
    repetition, stopword coverage) plus the conjunction — the
    EXPLAINABLE rejection surface beside q_text_quality's blended
    score. Every predicate compares exact integers via
    cross-multiplication; two map-combined aggregates total
    (operators/textops.gopher_rules)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.gopher_rules(docs)


@query("q_heaps_law", oracle=T.heaps_oracle_sql(n_slices=8))
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps' law fit V = K * N^beta of vocabulary growth over 8
    doc-id corpus slices — how fast does vocabulary grow with corpus
    size (beta ~ 0.4-0.6 for natural text; ~1 flags id-like tokens),
    beside q_zipf_slope's frequency view. One tokenize pass, one
    token-min aggregate; slice counts are conditional sums against a
    broadcast threshold grid — no corpus ordering anywhere
    (operators/textops.heaps_law)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.heaps_law(docs, "doc_id", "text", n_slices=8)


@query("q_yule_k", oracle=T.yule_k_oracle_sql())
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's characteristic K of the corpus unigram distribution:
    the sample-size-invariant lexical-repetitiveness constant — TTR
    (q_type_token_richness) decays as the corpus grows, K stays flat
    unless the MIX changes, so K drift between snapshots is a real
    mix-shift alarm. One vocabulary-bounded count exchange, exact
    BIGINT moments, one division (operators/textops.yule_k).

    Tokenization contract (the sparse_cosine_pairs discipline): Spark
    splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.yule_k(d, "text")


@query("q_source_vocab_jaccard", oracle=T.source_vocab_jaccard_oracle_sql())
def q_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document sources: which
    mixture components share a lexicon and which carry unique jargon
    — the type-SET counterpart of q_hellinger_langmix's frequency-
    shape distance, and the overlap matrix a curriculum planner
    (q_mixture_plan) reads before merging sources. Distinct
    (source, token) exchange, token-keyed pair join over the deduped
    vocabulary, exact counts, one division
    (operators/textops.source_vocab_jaccard).

    Tokenization contract: Spark splits \\s+, the oracle splits ' '."""
    d = load_table(spark, sf_dir, "documents")
    return T.source_vocab_jaccard(d, "source", "text")


@query("q_char_trigram_entropy", oracle=T.char_trigram_entropy_oracle_sql())
def q_char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram conditional entropy per language: how
    predictable is the next character given its 2-char context — the
    orthography-level language model beside q_bigram_entropy's word
    model and q_char_entropy's per-doc unigram screen; a language
    whose h_cond drifts between snapshots changed orthography
    (encoding bug, OCR regression, wrong-lang contamination) even if
    token stats look stable. Chain-rule-consistent by construction
    (contexts GROUP the same trigram relation)
    (operators/textops.char_trigram_entropy)."""
    d = load_table(spark, sf_dir, "documents")
    return T.char_trigram_entropy(d, "lang", "text")
