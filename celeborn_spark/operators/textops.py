"""Text-analysis operators for LLM data pipelines (SURVEY.md §2C).

All column expressions — tokenization, quality scoring, language ID,
fingerprinting — are built from `F.*` functions so they run inside
whole-stage codegen on the JVM. No Python touches the hot path; at
100 TB these are embarrassingly parallel map stages with zero shuffle.

DataFrame-level operators (repetition_stats, tfidf_topk, bigram_topk)
use explode -> groupBy rather than per-row array scans: linear work
plus one keyed exchange, where the per-row form is O(doc_len²) — the
difference between fine-at-40-tokens and dead-at-4k-tokens.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from celeborn_spark.operators import _spread, hold

# Tiny deterministic stopword lists for the n-gram language heuristic.
# Real pipelines would plug fasttext/cld3 in via a pandas_udf; the
# heuristic keeps the operator orac­le-expressible in plain SQL.
EN_STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it")
FINGERPRINT_MOD = 1_000_000_007


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization (documents are normalized word streams)."""
    return F.split(text, r"\s+")


def normalize_text(text: Column | str) -> Column:
    """Canonical text form for normalized dedup / matching: lowercase,
    strip non-alphanumeric-space chars, collapse whitespace runs, trim.
    Pure JVM regexps. The whitespace class is spelled out as
    [ \\t\\n\\f\\r] instead of \\s — Java's \\s includes vertical tab
    (\\x0B) while RE2's (DuckDB's) does not, so \\s would hash
    differently across engines on a VT-bearing document."""
    c = F.col(text) if isinstance(text, str) else text
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 \t\n\f\r]", "")
    return F.trim(F.regexp_replace(cleaned, "[ \t\n\f\r]+", " "))


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def stopword_count(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    return F.size(F.filter(tokens(text), lambda t: t.isin(*stopwords)))


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    n = token_count(text)
    return F.when(n > 0, stopword_count(text, stopwords) / n).otherwise(F.lit(0.0))


def avg_token_len(text: Column | str) -> Column:
    toks = tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda acc, x: acc + x
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column | str) -> Column:
    """Heuristic doc-quality score in [0, 1]: favors mid-length docs
    with a natural stopword ratio (C4/Gopher-style rule-based filter,
    reduced to oracle-expressible arithmetic)."""
    n = token_count(text)
    len_score = F.least(n / F.lit(100.0), F.lit(1.0))
    sw = stopword_ratio(text)
    sw_score = F.least(sw / F.lit(0.1), F.lit(1.0))
    return F.round(0.5 * len_score + 0.5 * sw_score, 6)


def lang_id(text: Column | str) -> Column:
    """Stopword-ratio language heuristic: 'en' if English stopwords are
    frequent enough, else 'other'. Deterministic and SQL-expressible;
    swap in a pandas_udf classifier for production multilingual data."""
    return F.when(stopword_ratio(text) >= 0.02, F.lit("en")).otherwise(F.lit("other"))


def bigrams(text: Column | str) -> Column:
    """Adjacent-token bigrams as 'tok_i tok_i+1' strings, via
    zip_with over two shifted slices. NOT transform(sequence,
    element_at): an element_at(toks, i) inside a lambda embeds the
    whole split() subtree per element — O(len²) re-tokenization that
    made this 30x slower than it should be. zip_with references the
    token array a constant number of times. slice() with length 0 is
    an error, hence the <2-token guard."""
    toks = tokens(text)
    n = F.size(toks)
    make = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.when(n >= 2, make).otherwise(F.array().cast("array<string>"))


def distinct_token_ratio(text: Column | str) -> Column:
    """|vocab(doc)| / |tokens(doc)| — the Gopher-style repetition
    signal (low ratio = highly repetitive doc). Raw double division,
    NOT rounded: with token counts this small the ratio is a tiny
    rational and 6-dp rounding can land on exact half-way digits where
    engines' rounding rules differ; the raw IEEE quotient is
    bit-identical in both engines."""
    toks = tokens(text)
    n = F.size(toks)
    return F.when(n > 0, F.size(F.array_distinct(toks)) / n).otherwise(F.lit(None))


def doc_fingerprint(text: Column | str, mod: int = FINGERPRINT_MOD) -> Column:
    """Order-sensitive polynomial rolling hash over token lengths:
    fold(acc*31 + len(tok) mod p). A cheap structural fingerprint —
    robust to word substitutions of equal length, order-sensitive like
    the reference's per-batch CRC32 integrity stamp
    (PushState.getCRC32PerPartition, client/.../PushState.java:111)."""
    return F.aggregate(
        F.transform(tokens(text), lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x) % mod,
    )


def token_chunks(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stride: int = 64,
    size: int = 96,
) -> DataFrame:
    """Overlapping token-window chunks (RAG / context-window layout):
    (id, chunk_idx, n_chunk_tokens, chunk_hash), chunk k covering
    tokens [k*stride, k*stride+size). Tokenizes ONCE into a
    materialized array column, explodes a chunk-index sequence, slices
    per chunk — never re-tokenizes per element (the O(len^2) trap
    `bigrams` documents)."""
    t = df.select(F.col(id_col), tokens(text_col).alias("toks")).select(
        id_col, "toks", F.size("toks").alias("n")
    )
    ks = t.filter(F.col("n") > 0).select(
        id_col,
        "toks",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.ceil(F.col("n") / stride).cast("int") - 1, F.lit(0)),
            )
        ).alias("k"),
    )
    chunk = F.slice(F.col("toks"), F.col("k") * stride + 1, size)
    return ks.select(
        F.col(id_col),
        F.col("k").cast("int").alias("chunk_idx"),
        F.size(chunk).alias("n_chunk_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


def compression_ratio(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_bytes, zlib_ratio): compressed/raw byte ratio per doc —
    the CCNet/RefinedWeb-style quality signal (repetitive or templated
    text compresses far below prose; ratio near 1 means high-entropy
    noise). zlib is a genuine Python-only kernel, so this is the honest
    Arrow pandas_udf slow path: batched transfer, vectorized loop, no
    per-row JVM round-trips. Rows-only in the registry — no SQL engine
    exposes a compression function to oracle against; the differential
    test pins it to direct zlib.

    Scale shape: zero-shuffle map stage; input repartitioned across
    cores first (small parquet arrives as one split, which would
    serialize the whole kernel onto one task)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s: pd.Series) -> pd.Series:
        import zlib

        def one(t: str) -> float:
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return len(zlib.compress(raw, 6)) / len(raw)

        return s.map(one)

    spread = df.select(id_col, text_col).repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )
    return spread.select(
        id_col,
        F.octet_length(text_col).cast("long").alias("n_bytes"),
        _ratio(F.col(text_col)).alias("zlib_ratio"),
    )


def repetition_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc repetition signals (Gopher-style quality rules): token
    count, distinct-token ratio, and the fraction of bigram mass taken
    by the single most frequent bigram. Highly repetitive machine text
    scores low ratio / high top-bigram fraction and gets filtered
    before training.

    Shape: explode bigrams -> count per (doc, bigram) -> per-doc
    max/sum. Docs with <2 tokens drop out (no bigram mass to measure).
    Fractions are RAW double quotients (see distinct_token_ratio)."""
    df = _spread(df, id_col)
    b = df.select(F.col(id_col), F.explode(bigrams(text_col)).alias("bg"))
    per_bg = b.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("n"))
    per_doc = per_bg.groupBy(id_col).agg(
        F.max("n").alias("top_n"), F.sum("n").alias("total_bg")
    )
    base = df.select(
        F.col(id_col),
        token_count(text_col).alias("n_tokens"),
        distinct_token_ratio(text_col).alias("distinct_ratio"),
    )
    return base.join(per_doc, id_col).select(
        id_col,
        "n_tokens",
        "distinct_ratio",
        (F.col("top_n") / F.col("total_bg")).alias("top_bigram_frac"),
    )


def tfidf_topk(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Top-k terms per doc by tf-idf (idf = ln(N/df), no smoothing —
    every term present in the corpus has df >= 1). The tf table is the
    big side (one row per distinct (doc, term)); df is vocabulary-sized
    and joins on term — AQE broadcasts it when small, shuffles on the
    term key when the vocabulary is corpus-scale. Scores are rounded to
    6 dp and ranked with a term tiebreaker so ranking is total and
    engine-independent (ln differs only past the rounding point)."""
    toks = _spread(df, id_col).select(
        F.col(id_col), F.explode(tokens(text_col)).alias("tok")
    )
    tf = toks.groupBy(id_col, "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("tok").agg(F.count_distinct(F.col(id_col)).alias("df"))
    n_docs = df.select(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "tok",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = W.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("tok"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "tok", "tfidf", "rnk")
    )


def bigram_topk(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Global top-k bigrams: the n-gram generalization of word-count
    top-k (one exchange on the bigram key, map-side partial counts,
    TakeOrderedAndProject for the limit)."""
    return (
        _spread(df, text_col).select(F.explode(bigrams(text_col)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bg")
        .limit(k)
    )


BM25_K1 = 1.2
BM25_B = 0.75


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k: int = 25,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Top-k documents for a fixed query-term set by BM25 (the
    retrieval scorer behind Lucene/Elasticsearch; the ranked sibling of
    `tfidf_topk`). idf uses the Robertson-Sparck-Jones smoothed form
    ln((N - df + 0.5)/(df + 0.5) + 1), so it is positive for any df.

    Scale shape: tf is filtered to the query terms BEFORE its
    aggregate, so the exchange carries |terms| rows per doc at most;
    df/N/avgdl are scalar-or-vocabulary sized and broadcast. Every
    input to the score is an exact integer (tf, df, N, sum dl) — the
    one double expression is mirrored token-for-token in the DuckDB
    oracle and rounded to 6 dp after the per-doc sum, so accumulation
    order cannot flip the hash."""
    spread = _spread(df, id_col)
    t = spread.select(F.col(id_col), tokens(text_col).alias("toks"))
    dl = t.select(id_col, F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).select("n_docs", (F.col("sum_dl") * 1.0 / F.col("n_docs")).alias("avgdl"))
    # explode the token EXPRESSION, not the materialized attribute:
    # explode(attr) triggers InferFiltersFromGenerate and pushdown
    # substitutes split(text) twice into a Filter below the spread
    # exchange — the tokenize pass re-runs on the narrow scan (the r13
    # shingle_table lesson); the rule skips non-attribute generators.
    tf = (
        spread.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
        .filter(F.col("tok").isin(*terms))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count_distinct(F.col(id_col)).alias("df"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    norm = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * (F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, id_col)
        .crossJoin(F.broadcast(stats))
        .groupBy(id_col)
        .agg(F.round(F.sum(idf * norm), 6).alias("bm25"))
    )
    # Top-k via orderBy().limit(k) -> TakeOrderedAndProject: each task
    # keeps a k-row heap and only k rows per partition reach the driver
    # merge — a corpus-sized global sort never happens. (The previous
    # form, an unpartitioned row_number window, put EVERY doc's score in
    # one partition — a scale-killer at billions of docs.) The k
    # survivors are then ranked without any window: pack into one
    # sorted array (neg-score makes ascending sort_array = score desc,
    # id asc — the same tiebreak row_number used) and posexplode, so
    # rnk is the 1-based position. Negation is an exact IEEE sign flip.
    topk = scored.orderBy(F.col("bm25").desc(), F.col(id_col)).limit(k)
    packed = topk.agg(
        F.sort_array(
            F.collect_list(F.struct((-F.col("bm25")).alias("neg"), F.col(id_col).alias("doc")))
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s.doc").alias(id_col),
        (-F.col("s.neg")).alias("bm25"),
        (F.col("pos") + 1).alias("rnk"),
    )


def bm25_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    terms: tuple[str, ...],
    k: int = 25,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> str:
    """DuckDB mirror of `bm25_topk` — identical expression tree so the
    doubles agree to well past the 6 dp rounding point."""
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
    WITH t AS (
        SELECT {id_col}, string_split({text_col}, ' ') AS toks FROM {table}
    ),
    dl AS (SELECT {id_col}, len(toks) AS dl FROM t),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
    ),
    tf AS (
        SELECT {id_col}, tok, count(*) AS tf
        FROM (SELECT {id_col}, unnest(toks) AS tok FROM t)
        WHERE tok IN ({in_list})
        GROUP BY {id_col}, tok
    ),
    dfreq AS (SELECT tok, count(DISTINCT {id_col}) AS df FROM tf GROUP BY tok),
    scored AS (
        SELECT tf.{id_col},
               round(sum(
                   ln((stats.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                   * ((tf.tf * ({k1} + 1))
                      / (tf.tf + {k1} * (1 - {b} + {b} * (dl.dl / stats.avgdl))))
               ), 6) AS bm25
        FROM tf JOIN dfreq USING (tok) JOIN dl USING ({id_col}) CROSS JOIN stats
        GROUP BY tf.{id_col}
    )
    SELECT {id_col}, bm25, rnk FROM (
        SELECT {id_col}, bm25,
               row_number() OVER (ORDER BY bm25 DESC, {id_col}) AS rnk
        FROM scored
    ) WHERE rnk <= {k}
    """


def pmi_bigrams(
    df: DataFrame,
    text_col: str,
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information:
    pmi(w1,w2) = ln(p(w1,w2) / (p(w1) p(w2))) with p(w1,w2) over the
    bigram total and p(w) over the unigram total — the phrase-mining /
    tokenizer-merge-rule statistic (SURVEY.md §2C text analysis).

    Two count aggregates (unigrams, bigrams) and two broadcast scalar
    totals; the unigram table joins the bigram table twice on the word
    key. All counts are exact integers; the single ln() expression is
    mirrored in the oracle and rounded to 6 dp (`tfidf_topk`'s ln
    discipline). min_count drops the long noise tail BEFORE the joins —
    at 100 TB this is also the hot-key guard (rare-bigram mass never
    reaches the exchange)."""
    spread = _spread(df, text_col)
    # both count tables are vocab-sized and multi-referenced (uni: the
    # scalar total + two join sides; bg: the total + the scored scan) —
    # materialize each once so the corpus tokenize passes stop re-running
    # per reference (r13 reference-count rule: 5 passes -> 2)
    uni = (
        spread.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(hold)
    )
    tot_uni = uni.agg(F.sum("c").alias("tot_uni"))
    bg = (
        spread.select(F.explode(bigrams(text_col)).alias("bg"))
        .groupBy("bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .transform(hold)
    )
    tot_bg = bg.agg(F.sum("c12").alias("tot_bg"))
    w1 = F.split(F.col("bg"), " ").getItem(0)
    w2 = F.split(F.col("bg"), " ").getItem(1)
    pmi = F.log(
        (F.col("c12") * 1.0 * F.col("tot_uni") * F.col("tot_uni"))
        / (F.col("tot_bg") * 1.0 * F.col("c1") * F.col("c2"))
    )
    scored = (
        bg.filter(F.col("c12") >= min_count)
        .select(w1.alias("w1"), w2.alias("w2"), "c12")
        .join(F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))), "w1")
        .join(F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))), "w2")
        .crossJoin(F.broadcast(tot_uni))
        .crossJoin(F.broadcast(tot_bg))
        .select("w1", "w2", "c12", F.round(pmi, 6).alias("pmi"))
    )
    return (
        scored.orderBy(F.col("pmi").desc(), "w1", "w2").limit(k)
    )


def pmi_oracle_sql(
    table: str, text_col: str, min_count: int = 5, k: int = 50
) -> str:
    """DuckDB mirror of `pmi_bigrams` (same expression association)."""
    return f"""
    WITH t AS (SELECT string_split({text_col}, ' ') AS toks FROM {table}),
    uni AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w
    ),
    tot_uni AS (SELECT sum(c) AS tot_uni FROM uni),
    bg AS (
        SELECT bg, count(*) AS c12 FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                                         i -> toks[i] || ' ' || toks[i+1])) AS bg
            FROM t WHERE len(toks) >= 2
        ) GROUP BY bg
    ),
    tot_bg AS (SELECT sum(c12) AS tot_bg FROM bg),
    scored AS (
        SELECT string_split(bg, ' ')[1] AS w1,
               string_split(bg, ' ')[2] AS w2,
               c12,
               round(ln((c12 * 1.0 * tot_uni.tot_uni * tot_uni.tot_uni)
                        / (tot_bg.tot_bg * 1.0 * u1.c * u2.c)), 6) AS pmi
        FROM bg CROSS JOIN tot_uni CROSS JOIN tot_bg
        JOIN uni u1 ON u1.w = string_split(bg, ' ')[1]
        JOIN uni u2 ON u2.w = string_split(bg, ' ')[2]
        WHERE c12 >= {min_count}
    )
    SELECT w1, w2, c12, pmi FROM scored
    ORDER BY pmi DESC, w1, w2 LIMIT {k}
    """


def bpe_train(
    df: DataFrame, text_col: str, n_merges: int = 4
) -> DataFrame:
    """(merge_rank, pair, merged, pair_count) — the first ``n_merges``
    byte-pair-encoding merges learned from the corpus (Sennrich et al.
    ACL'16, the tokenizer-training step of an LLM data pipeline).
    Classic word-level BPE: count adjacent symbol pairs over the
    word-frequency table (all adjacent occurrences, overlaps included —
    the standard pair-statistics convention), merge the most frequent
    pair everywhere (ties -> lexicographically smallest pair), repeat.

    Determinism/parity: words are restricted to ^[a-z]+$ so symbols
    stay regex-safe alphas; symbol sequences are carried as
    space-separated strings with sentinel spaces (" h e l l o "), so
    applying a merge is replace(" a b " -> " ab ") — non-overlapping
    left-to-right in BOTH engines, which IS the BPE greedy application
    order. Tie-break on the raw pair string is pure ASCII.

    Scale shape: everything after the one word-count exchange is
    VOCABULARY-sized, not corpus-sized — the classic reason BPE trains
    on the word-freq table. Per round: one vocab-scan pair aggregate
    (map-side partials), a 1-row argmax broadcast back, and a map-side
    replace; the words relation is localCheckpoint'ed per round (it
    feeds the pair count, the replace, and the next round)."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
            "freq",
        )
        .transform(hold)
    )
    merges = []
    for r in range(n_merges):
        toks_ = F.split(F.trim(F.col("s")), " ")
        pair_at = lambda i: F.concat_ws(  # noqa: E731
            " ", F.element_at(toks_, i + 1), F.element_at(toks_, i + 2)
        )
        pairs = words.select(
            F.explode(
                F.when(
                    F.size(toks_) >= 2,
                    F.transform(F.sequence(F.lit(0), F.size(toks_) - 2), pair_at),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), F.col("pair"))
            .limit(1)
            .select(
                F.lit(r + 1).alias("merge_rank"),
                "pair",
                F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"),
                "pair_count",
            )
            .localCheckpoint(eager=False)
        )
        merges.append(best)
        words = (
            words.crossJoin(F.broadcast(best.select("pair", "merged")))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
                ).alias("s"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionAll(m)
    return out


def bpe_oracle_sql(table: str, text_col: str, n_merges: int = 4) -> str:
    """DuckDB mirror of `bpe_train`: identical word filter, sentinel-
    space symbol strings, pair statistics and argmax tie-break, with
    each merge round unrolled as chained CTEs."""
    ctes = [
        f"""w0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s,
               CAST(count(*) AS DOUBLE) AS freq
        FROM (SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table})
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY 1
    )"""
    ]
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
        SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(trim(s), ' ') AS t, freq FROM w{r})
    ),
    b{r} AS (
        SELECT {r + 1} AS merge_rank, pair,
               replace(pair, ' ', '') AS merged,
               CAST(sum(freq) AS BIGINT) AS pair_count
        FROM p{r} GROUP BY pair
        ORDER BY sum(freq) DESC, pair LIMIT 1
    ),
    w{r + 1} AS (
        SELECT replace(w.s, ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS s,
               w.freq
        FROM w{r} w CROSS JOIN b{r} b
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT merge_rank, pair, merged, pair_count FROM b{r}"
        for r in range(n_merges)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


def bpe_apply_curve(
    df: DataFrame, text_col: str, n_merges: int = 4
) -> DataFrame:
    """(n_merges_applied, total_symbols) — the vocabulary-compression
    curve of the first ``n_merges`` BPE merges: total corpus symbol
    count (sum over the word-frequency table of freq * symbols-per-
    word) after cumulatively applying merges 0..r. Row 0 is the
    character baseline; each following row shows how much corpus the
    next learned merge absorbs — the curve a tokenizer team reads to
    pick vocab size.

    Same machinery as `bpe_train` (one corpus exchange, then
    vocabulary-sized rounds); the curve rows are 1-row aggregates of
    the evolving words relation."""
    if n_merges < 1:
        raise ValueError(f"n_merges must be >= 1, got {n_merges}")
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("double").alias("freq"))
        .select(
            F.concat(F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")).alias("s"),
            "freq",
        )
        .transform(hold)
    )

    def total(words_df: DataFrame, r: int) -> DataFrame:
        n_sym = F.size(F.split(F.trim(F.col("s")), " "))
        return words_df.agg(
            F.sum(F.col("freq") * n_sym).cast("long").alias("total_symbols")
        ).select(F.lit(r).alias("n_merges_applied"), "total_symbols")

    curve = [total(words, 0)]
    for r in range(n_merges):
        toks_ = F.split(F.trim(F.col("s")), " ")
        pair_at = lambda i: F.concat_ws(  # noqa: E731
            " ", F.element_at(toks_, i + 1), F.element_at(toks_, i + 2)
        )
        pairs = words.select(
            F.explode(
                F.when(
                    F.size(toks_) >= 2,
                    F.transform(F.sequence(F.lit(0), F.size(toks_) - 2), pair_at),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("pair"),
            "freq",
        )
        best = (
            pairs.groupBy("pair")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair"))
            .limit(1)
            .select("pair", F.replace(F.col("pair"), F.lit(" "), F.lit("")).alias("merged"))
            .localCheckpoint(eager=False)
        )
        words = (
            words.crossJoin(F.broadcast(best))
            .select(
                F.replace(
                    F.col("s"),
                    F.concat(F.lit(" "), F.col("pair"), F.lit(" ")),
                    F.concat(F.lit(" "), F.col("merged"), F.lit(" ")),
                ).alias("s"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
        curve.append(total(words, r + 1))
    out = curve[0]
    for c in curve[1:]:
        out = out.unionAll(c)
    return out


def bpe_apply_oracle_sql(table: str, text_col: str, n_merges: int = 4) -> str:
    """DuckDB mirror of `bpe_apply_curve`: same unrolled merge rounds,
    symbol totals per round."""
    ctes = [
        f"""w0 AS (
        SELECT ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s,
               CAST(count(*) AS DOUBLE) AS freq
        FROM (SELECT unnest(string_split({text_col}, ' ')) AS w FROM {table})
        WHERE regexp_matches(w, '^[a-z]+$')
        GROUP BY 1
    )"""
    ]
    for r in range(n_merges):
        ctes.append(
            f"""p{r} AS (
        SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS pair,
               freq
        FROM (SELECT string_split(trim(s), ' ') AS t, freq FROM w{r})
    ),
    b{r} AS (
        SELECT pair, replace(pair, ' ', '') AS merged
        FROM p{r} GROUP BY pair
        ORDER BY sum(freq) DESC, pair LIMIT 1
    ),
    w{r + 1} AS (
        SELECT replace(w.s, ' ' || b.pair || ' ', ' ' || b.merged || ' ') AS s,
               w.freq
        FROM w{r} w CROSS JOIN b{r} b
    )"""
        )
    unions = "\n    UNION ALL ".join(
        f"""SELECT {r} AS n_merges_applied,
               CAST(sum(freq * len(string_split(trim(s), ' '))) AS BIGINT)
                   AS total_symbols FROM w{r}"""
        for r in range(n_merges + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + unions


def cms_heavy_hitters(
    df: DataFrame, text_col: str, depth: int = 4, width: int = 256, k: int = 20
) -> DataFrame:
    """(token, true_count, cms_est) — the exact top-k tokens with their
    count-min-sketch estimates from a depth x width sketch (Cormode &
    Muthukrishnan '05). The bounded-memory frequency layer of a
    streaming/multi-pass pipeline: the sketch is depth*width counters
    REGARDLESS of vocabulary size, where the exact count table grows
    with the vocabulary. CMS guarantees est >= true (only hash
    collisions inflate), which the oracle checks value-for-value since
    the md5 bucket mapping is deterministic in both engines.

    Scale shape: ONE exchange builds the sketch — the (row, bucket)
    relation is depth*width cells after map-side partial counts absorb
    the token stream; the exact top-k (the expensive vocabulary-sized
    side at 100 TB) is here only to label the readout and rides the
    existing heavy-hitter TakeOrderedAndProject path."""
    # 4 md5 calls per token ride the scan's partitioning — spread a
    # single-split input across cores first (conditional no-op on wide
    # scans; the r13 batch-9 discipline)
    toks = _spread(df, text_col).select(F.explode(tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    rows_ = F.array(*[F.lit(j) for j in range(depth)])
    cells = (
        toks.select(F.col("tok"), F.explode(rows_).alias("j"))
        .select(
            "j",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col("tok"))), 1, 8),
                    16,
                    10,
                ).cast("long"),
                F.lit(width),
            ).alias("bucket"),
        )
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cell"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    top = exact.orderBy(F.col("true_count").desc(), F.col("tok")).limit(k)
    probes = top.select(
        "tok", "true_count", F.explode(rows_).alias("j")
    ).select(
        "tok",
        "true_count",
        "j",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.concat_ws(":", F.col("j"), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(width),
        ).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy(F.col("tok").alias("token"), "true_count")
        .agg(F.min("cell").alias("cms_est"))
    )


def cms_oracle_sql(
    table: str, text_col: str, depth: int = 4, width: int = 256, k: int = 20
) -> str:
    """DuckDB mirror of `cms_heavy_hitters`: identical md5 bucket
    arithmetic, sketch cells and min-probe."""
    return f"""
    WITH toks AS (
        SELECT unnest(string_split({text_col}, ' ')) AS tok FROM {table}
    ),
    t AS (SELECT tok FROM toks WHERE tok <> ''),
    rows_ AS (SELECT unnest(range({depth})) AS j),
    cells AS (
        SELECT j,
               ('0x' || substr(md5(j || ':' || tok), 1, 8))::BIGINT % {width} AS bucket,
               count(*) AS cell
        FROM t CROSS JOIN rows_
        GROUP BY 1, 2
    ),
    exact AS (SELECT tok, count(*) AS true_count FROM t GROUP BY tok),
    top AS (SELECT tok, true_count FROM exact
            ORDER BY true_count DESC, tok LIMIT {k}),
    probes AS (
        SELECT top.tok, top.true_count, rows_.j,
               ('0x' || substr(md5(rows_.j || ':' || top.tok), 1, 8))::BIGINT
                   % {width} AS bucket
        FROM top CROSS JOIN rows_
    )
    SELECT p.tok AS token, p.true_count, min(c.cell) AS cms_est
    FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY 1, 2
    """


def feature_hashing(
    df: DataFrame, id_col: str, text_col: str, n_features: int = 16
) -> DataFrame:
    """(id, f0..f{n-1}) — the hashing-trick featurizer (Weinberger et
    al. ICML'09): token t contributes sign(t) at bucket md5(t) %
    n_features, so any vocabulary maps into a FIXED-width dense vector
    with no dictionary to build, ship or version — the classic
    featurizer in front of a linear quality classifier
    (operators/stats.logreg_fit) at corpus scale. Signed hashing keeps
    collision noise zero-mean.

    bucket = md5 hex chars 1-8 as int % n_features; sign = +1 when hex
    char 9 is even, else -1 — both portable. One token explode + one
    id-keyed pivot aggregate (conditional sums, map-side partials)."""
    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("tok")).filter(
        F.col("tok") != ""
    )
    h = toks.select(
        id_col,
        F.pmod(
            F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long"),
            F.lit(n_features),
        ).alias("b"),
        F.when(
            F.conv(F.substring(F.md5("tok"), 9, 1), 16, 10).cast("int") % 2 == 0,
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("sgn"),
    )
    aggs = [
        F.sum(F.when(F.col("b") == j, F.col("sgn")).otherwise(0))
        .cast("long")
        .alias(f"f{j}")
        for j in range(n_features)
    ]
    return h.groupBy(id_col).agg(*aggs)


def feature_hashing_oracle_sql(
    table: str, id_col: str, text_col: str, n_features: int = 16
) -> str:
    """DuckDB mirror: identical md5 bucket/sign arithmetic."""
    cols = ", ".join(
        f"CAST(sum(CASE WHEN b = {j} THEN sgn ELSE 0 END) AS BIGINT) AS f{j}"
        for j in range(n_features)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok FROM {table}
    ),
    h AS (
        SELECT {id_col},
               ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_features} AS b,
               CASE WHEN ('0x' || substr(md5(tok), 9, 1))::INT % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM toks WHERE tok <> ''
    )
    SELECT {id_col}, {cols} FROM h GROUP BY {id_col}
    """


def topk_ranks(df: DataFrame, id_col: str, score_col: str, k: int) -> DataFrame:
    """(id, rnk) for the top-k rows of `df` by (score desc, id asc) —
    TakeOrderedAndProject (per-task k-row heap) + the windowless
    pack/posexplode ranking of bm25_topk; no global sort, no
    unpartitioned window. Order is ENCODED IN VALUES (neg-score struct
    + sort_array), never inferred from collect_list row order, which no
    plan guarantees."""
    topk = df.orderBy(F.col(score_col).desc(), F.col(id_col)).limit(k)
    packed = topk.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col(score_col).cast("double")).alias("neg"),
                    F.col(id_col).alias("doc"),
                )
            )
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s.doc").alias(id_col), (F.col("pos") + 1).alias("rnk")
    )


def rrf_fuse(
    rankings: list[DataFrame], id_col: str, c: int = 60, k: int = 25
) -> DataFrame:
    """Reciprocal-rank fusion of candidate rankings: score(d) =
    sum over lists of 1/(c + rank_in_list), the standard hybrid-search
    combiner (BM25 + dense retrieval and friends) — robust because only
    RANKS cross lists, never incomparable raw scores.

    Each input must carry (id_col, rnk). Lists are top-K-sized (not
    corpus-sized), so the union + id-keyed aggregate is tiny at any
    corpus scale; each 1/(c+rank) is one exact-integer IEEE division
    and a doc appears in <= len(rankings) lists, so fused scores are
    engine-bit-identical without rounding. Final cut ranks on
    (rrf desc, id) via the same windowless pack pattern."""
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(1.0) / (F.lit(c) + F.col("rnk"))).alias("_term"),
            F.lit(i).alias("_src"),
        )
        for i, r in enumerate(rankings)
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    fused = u.groupBy(id_col).agg(
        F.sum("_term").alias("rrf"),
        F.count(F.lit(1)).cast("long").alias("n_lists"),
    )
    topk = fused.orderBy(F.col("rrf").desc(), F.col(id_col)).limit(k)
    packed = topk.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("rrf")).alias("neg"),
                    F.col(id_col).alias("doc"),
                    F.col("n_lists").alias("nl"),
                )
            )
        ).alias("arr")
    )
    return packed.select(F.posexplode("arr").alias("pos", "s")).select(
        F.col("s.doc").alias(id_col),
        (-F.col("s.neg")).alias("rrf"),
        F.col("s.nl").alias("n_lists"),
        (F.col("pos") + 1).alias("rnk"),
    )


def sparse_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    max_df: int = 1000,
    block_col: str | None = None,
) -> DataFrame:
    """Document pairs with TF-IDF cosine >= threshold via the SPARSE
    postings join.

    INPUT CONTRACT: ``text_col`` must be single-space-normalized (one
    ASCII space between tokens, no tabs/newlines/runs — what
    `normalize_text` emits and this corpus satisfies). The Spark side
    tokenizes on \\s+ while the oracle splits on a single space; the
    two agree ONLY under this contract, so a tab- or double-space-
    bearing document would diverge from its own oracle (ADVICE r7).
    Weighted near-duplicate / related-document
    retrieval where set-Jaccard is too crude (it ignores term salience)
    and dense embeddings don't exist yet. sim = sum over SHARED terms
    of w_a * w_b / (|w_a| |w_b|): only the postings self-join on the
    term key touches pairs, so cost is sum of df^2 over terms — the
    `max_df` cap drops stopword-grade terms (their tf-idf weight is
    ~0 anyway), bounding the join exactly like jaccard_pairs'
    max_shingle_freq (the measured quadratic-hot-key lesson).

    Engine parity: weights and norms round to 6 dp (ln divergence dies
    at the round), the final cosine rounds to 6 dp, and the threshold
    compares the ROUNDED value — the tfidf_topk discipline.

    ``block_col`` restricts pairs (and df statistics) to the SAME
    block — the sharded-retrieval discipline for corpora whose
    vocabulary is so small that every term is hot (this testdata: 31
    tokens over 500 docs, so even `max_df` cannot bound a global join;
    blocking divides the df^2 pair space by the block count, the same
    way LSH bands or IVF cells bound their joins). The join key
    becomes (block, term).

    One exchange for tf, one vocabulary-keyed join for df, one
    term-keyed pair join + pair-keyed aggregate."""
    blk = F.col(block_col) if block_col else F.lit(0)
    toks = _spread(df, id_col).select(
        F.col(id_col).alias("id"),
        blk.alias("blk"),
        F.explode(tokens(text_col)).alias("tok"),
    )
    tf = toks.groupBy("id", "blk", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("blk", "tok").agg(
        F.count_distinct(F.col("id")).alias("df")
    )
    n_docs = df.groupBy(blk.alias("blk")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = (
        tf.join(dfreq.filter(F.col("df") <= max_df), ["blk", "tok"])
        .join(n_docs, "blk")
        .select(
            "id",
            "blk",
            "tok",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("w"),
        )
        .transform(hold)  # feeds norms + both sides of the pair join
    )
    norms = w.groupBy("id").agg(
        F.round(F.sqrt(F.sum(F.col("w") * F.col("w"))), 6).alias("nrm")
    )
    pairs = (
        w.alias("a")
        .join(w.alias("b"), ["blk", "tok"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.sum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    scored = (
        pairs.join(norms.select(F.col("id").alias("id_a"), F.col("nrm").alias("na")), "id_a")
        .join(norms.select(F.col("id").alias("id_b"), F.col("nrm").alias("nb")), "id_b")
        # a doc whose every term has idf 0 (uniform block) has norm 0:
        # no similarity is defined for it — drop BEFORE the division
        # (ANSI mode raises on /0; DuckDB would emit inf)
        .filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias(
                "cosine"
            ),
        )
    )
    return scored.filter(F.col("cosine") >= threshold)


def sparse_cosine_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    threshold: float = 0.3,
    max_df: int = 1000,
    block_sql: str = "0",
) -> str:
    """DuckDB mirror of `sparse_cosine_pairs` — identical tokenization
    under the single-space-normalized input contract (see
    `sparse_cosine_pairs`: \\s+ vs single-space split agree only on
    such text), 6dp weights/norms/cosines, rounded threshold
    compare."""
    return f"""
    WITH toks AS (
        SELECT {id_col} AS id, {block_sql} AS blk,
               unnest(string_split({text_col}, ' ')) AS tok
        FROM {table}
    ),
    tf AS (SELECT id, blk, tok, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
    dfreq AS (
        SELECT blk, tok, count(DISTINCT id) AS df FROM toks GROUP BY 1, 2
    ),
    nd AS (SELECT {block_sql} AS blk, count(*) AS n_docs FROM {table} GROUP BY 1),
    w AS (
        SELECT tf.id, tf.blk, tf.tok,
               round(tf.tf * ln(nd.n_docs / dfreq.df), 6) AS w
        FROM tf
        JOIN dfreq ON tf.blk = dfreq.blk AND tf.tok = dfreq.tok
        JOIN nd ON tf.blk = nd.blk
        WHERE dfreq.df <= {max_df}
    ),
    norms AS (
        SELECT id, round(sqrt(sum(w * w)), 6) AS nrm FROM w GROUP BY id
    ),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
        FROM w a JOIN w b ON a.blk = b.blk AND a.tok = b.tok AND a.id < b.id
        GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b,
           round(p.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM pairs p
    JOIN norms na ON na.id = p.id_a
    JOIN norms nb ON nb.id = p.id_b
    WHERE na.nrm > 0 AND nb.nrm > 0
      AND round(p.dot / (na.nrm * nb.nrm), 6) >= {threshold}
    """


def coverage_select(
    shingles: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    sh_col: str = "g",
) -> DataFrame:
    """Greedy maximum-coverage document selection: pick k documents
    that together cover the most DISTINCT shingles — the classic
    (1 - 1/e)-approximate submodular curation step (choose a small,
    diverse seed corpus that spans the most content; MMR diversifies a
    ranked retrieval, this maximizes raw coverage with no query).
    ``shingles`` is a distinct (doc, shingle) relation. Output one row
    per pick: (sel_rank, doc_id, gain, covered_total) where gain =
    newly covered shingles at that round and covered_total the running
    union size (= prefix sum of gains, since each gain counts only
    uncovered shingles).

    The k greedy rounds chain IN ONE LAZY PLAN (r13): per-doc distinct
    shingle SETS ride the state as arrays (one doc-keyed collect_set
    exchange — which also dedupes, replacing the old corpus-wide
    distinct), and each round computes the argmax pick as
    min_by(candidate, (-gain, doc)) OVER () — the exact (gain DESC,
    doc ASC) cut on exact integers — tags it with its rank IN-ROW, and
    shrinks every unpicked doc's array with array_except(arr, pick_arr)
    so gain stays |sh(doc) \\ covered| exactly (the pick's CURRENT
    array IS its disjoint new-cover set). Because the pick is a window
    VALUE rather than a separate 1-row relation, each round references
    the previous state exactly once: no plan doubling, no per-round
    eager localCheckpoint — the whole selection is ONE job (the
    previous 3-checkpoints-per-round form ran ~17 driver-sequential
    jobs; measured 2.1-2.3 s vs ~1 s for this form at sf0.1, identical
    rows). The single-partition window is the bounded-greedy
    discipline: at 100 TB run the greedy over a candidate pool (e.g.
    per-source top-N by quality), which is how the submodular-curation
    literature scales it anyway.

    Docs whose shingles are all covered (gain 0) are never picked on
    either engine: the min_by key is null for them (and for already-
    picked rows), and the aggregate skips null keys."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    st = (
        shingles.select(F.col(id_col).alias("_id"), F.col(sh_col).alias("_g"))
        .groupBy("_id")
        .agg(F.collect_set("_g").alias("_arr"))
        .selectExpr(
            "_id",
            "_arr",
            "CAST(size(_arr) AS BIGINT) AS gain",
            "CAST(NULL AS INT) AS sel_rank",
            "CAST(NULL AS BIGINT) AS sel_gain",
        )
    )
    for t in range(1, k + 1):
        st = st.selectExpr(
            "_id",
            "_arr",
            "gain",
            "sel_rank",
            "sel_gain",
            "min_by(named_struct('i', _id, 'a', _arr),"
            " CASE WHEN sel_rank IS NULL AND gain > 0"
            " THEN named_struct('s', -gain, 't', _id) END) OVER () AS _b",
        ).selectExpr(
            "_id",
            "CASE WHEN sel_rank IS NOT NULL OR _id = _b.i THEN _arr"
            " ELSE array_except(_arr, _b.a) END AS _arr",
            "CASE WHEN sel_rank IS NOT NULL OR _id = _b.i THEN gain"
            " ELSE CAST(size(array_except(_arr, _b.a)) AS BIGINT) END AS gain",
            f"coalesce(sel_rank, CASE WHEN _id = _b.i THEN {t} END) AS sel_rank",
            "coalesce(sel_gain, CASE WHEN _id = _b.i THEN gain END) AS sel_gain",
        )
    w = W.orderBy("sel_rank").rowsBetween(W.unboundedPreceding, 0)
    return (
        st.filter(F.col("sel_rank").isNotNull())
        .select(
            "sel_rank",
            F.col("_id").alias(id_col),
            F.col("sel_gain").alias("gain"),
        )
        .select(
            "sel_rank",
            id_col,
            "gain",
            F.sum("gain").over(w).cast("long").alias("covered_total"),
        )
    )


def coverage_select_oracle_sql(shingles_sql: str, k: int = 5) -> str:
    """DuckDB mirror of `coverage_select` over ``shingles_sql`` (a
    relation with (doc_id, g) columns): the greedy loop unrolled one
    pick + one covered CTE per round. Every round's CTEs are
    AS MATERIALIZED — round t references round t-1 twice (anti-join +
    union), and DuckDB inlines multiply-referenced CTEs, which made
    the unrolled MMR oracle exponential (the r7 lesson)."""
    ctes = [
        f"sh AS MATERIALIZED (SELECT DISTINCT doc_id, g FROM ({shingles_sql}))",
        """p1 AS MATERIALIZED (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS gain, 1 AS sel_rank
        FROM sh GROUP BY doc_id ORDER BY gain DESC, doc_id LIMIT 1
    )""",
        "sel1 AS MATERIALIZED (SELECT * FROM p1)",
        """cov1 AS MATERIALIZED (
        SELECT DISTINCT g FROM sh JOIN p1 USING (doc_id)
    )""",
    ]
    for t in range(2, k + 1):
        p, s_prev, c_prev = f"p{t}", f"sel{t - 1}", f"cov{t - 1}"
        ctes.append(f"""{p} AS MATERIALIZED (
        SELECT s.doc_id, CAST(count(*) AS BIGINT) AS gain, {t} AS sel_rank
        FROM sh s
        WHERE NOT EXISTS (SELECT 1 FROM {s_prev} q WHERE q.doc_id = s.doc_id)
          AND NOT EXISTS (SELECT 1 FROM {c_prev} c WHERE c.g = s.g)
        GROUP BY s.doc_id ORDER BY gain DESC, s.doc_id LIMIT 1
    )""")
        ctes.append(
            f"sel{t} AS MATERIALIZED (SELECT * FROM {s_prev} UNION ALL SELECT * FROM {p})"
        )
        ctes.append(f"""cov{t} AS MATERIALIZED (
        SELECT g FROM {c_prev} UNION SELECT g FROM sh JOIN {p} USING (doc_id)
    )""")
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT sel_rank, doc_id, gain,
           CAST(sum(gain) OVER (ORDER BY sel_rank
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS covered_total
    FROM sel{k}
    """
    )


def rake_word_scores(
    docs: DataFrame,
    text_col: str,
    stopwords: tuple[str, ...],
    k: int = 20,
    dp: int = 6,
) -> DataFrame:
    """RAKE-style keyword scores: split each document into candidate
    phrases at stopword boundaries, then score each word by
    degree/frequency — degree(w) sums the LENGTH of every phrase w
    appears in (words co-occurring in long phrases score up), freq(w)
    counts occurrences. The co-occurrence-structure keyword signal
    next to q_tfidf_topk (document frequency) and q_textrank_keywords
    (graph centrality). Top-``k`` rows (word, deg, freq, score).

    deg and freq are exact BIGINTs; score = deg/freq is a SINGLE
    division (raw); ranking follows the repo rule — row_number over
    (round(score, dp) DESC, word) so the order column is engine-safe.

    Scale shape: tokenize -> per-doc phrase-id prefix windows (token
    mass shuffles once on doc_id) -> one word-keyed aggregate whose
    output is vocabulary-bounded. Tokenization contract: Spark splits
    \\s+, oracles split ' ' — identical on the single-space-normalized
    testdata (the sparse_cosine_pairs discipline)."""
    stops = F.array(*[F.lit(s) for s in stopwords])
    toks = docs.select(
        F.col("doc_id"),
        F.posexplode(tokens(F.col(text_col))).alias("pos", "tok"),
    ).withColumn(
        "stop", F.array_contains(stops, F.col("tok")).cast("long")
    )
    wdoc = W.partitionBy("doc_id").orderBy("pos").rowsBetween(
        W.unboundedPreceding, 0
    )
    phrased = toks.withColumn("phrase_id", F.sum("stop").over(wdoc)).filter(
        F.col("stop") == 0
    )
    plen = phrased.withColumn(
        "plen",
        F.count(F.lit(1)).over(W.partitionBy("doc_id", "phrase_id")),
    )
    scored = plen.groupBy(F.col("tok").alias("word")).agg(
        F.sum("plen").cast("long").alias("deg"),
        F.count(F.lit(1)).cast("long").alias("freq"),
    )
    ranked = scored.select(
        "word",
        "deg",
        "freq",
        F.expr("CAST(deg AS DOUBLE) / freq").alias("score"),
    ).withColumn(
        # vocab-bounded: one row per candidate WORD (stopword-split
        # phrase vocabulary), never rows
        "rn",
        F.row_number().over(
            W.orderBy(
                F.round(F.expr("CAST(deg AS DOUBLE) / freq"), dp).desc(),
                F.col("word"),
            )
        ),
    )
    return ranked.filter(F.col("rn") <= k).drop("rn")


def rake_oracle_sql(
    stopwords: tuple[str, ...], k: int = 20, dp: int = 6
) -> str:
    """DuckDB mirror of `rake_word_scores` over the documents table:
    identical phrase-boundary algebra and ranking."""
    stoplist = ", ".join(f"'{s}'" for s in stopwords)
    return f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, t[i] AS tok,
               CASE WHEN t[i] IN ({stoplist}) THEN 1 ELSE 0 END AS stop
        FROM (SELECT doc_id, string_split(text, ' ') AS t,
                     unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
              FROM documents)
    ),
    phrased AS (
        SELECT doc_id, pos, tok,
               sum(stop) OVER (PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS phrase_id
        FROM toks
        QUALIFY stop = 0
    ),
    plens AS (
        SELECT tok,
               count(*) OVER (PARTITION BY doc_id, phrase_id) AS plen
        FROM phrased
    ),
    scored AS (
        SELECT tok AS word,
               CAST(sum(plen) AS BIGINT) AS deg,
               CAST(count(*) AS BIGINT) AS freq
        FROM plens GROUP BY 1
    )
    SELECT word, deg, freq, CAST(deg AS DOUBLE) / freq AS score
    FROM scored
    QUALIFY row_number() OVER (
        ORDER BY round(CAST(deg AS DOUBLE) / freq, {dp}) DESC, word) <= {k}
    """


def good_turing(
    docs: DataFrame, text_col: str, dp: int = 6
) -> DataFrame:
    """Good-Turing frequency smoothing over the corpus unigram counts:
    for each observed frequency r, the count-of-counts N_r and the
    smoothed estimate r* = (r+1) * N_{r+1} / N_r — the
    unseen-mass/discounting table behind every n-gram LM (the engine's
    q_bigram_lm_score uses fixed add-one smoothing; this measures what
    the data says the discount SHOULD be). Also emits p_unseen =
    N_1 / total-token-mass (the leave-one-out probability of a novel
    token) on every row. Output per distinct r:
    (r, n_r, r_star, p_unseen).

    r* is a single division of exact BIGINTs ((r+1)*N_{r+1} exact),
    raw; NULL where no tokens of frequency r+1 exist (the classic GT
    gap — smoothing those needs a fitted S(r), out of scope). N_{r+1}
    comes from lead() over the count-of-counts ordered by r, matched
    only when the next row IS r+1.

    Scale shape: token aggregate -> frequency histogram (vocab-sized)
    -> count-of-counts (tiny); windows only ever see the
    count-of-counts relation."""
    from pyspark.sql.window import Window as WW

    tok_counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("r"))
    )
    # the count-of-counts feeds p0 AND the lead chain — checkpoint so
    # the token mass aggregates once
    coc = tok_counts.groupBy("r").agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    ).localCheckpoint(eager=False)
    p0 = coc.agg(
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n_1"),
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("mass"),
    ).select(F.expr("CAST(n_1 AS DOUBLE) / mass").alias("p_unseen"))
    # count-of-counts-bounded: coc has one row per frequency-of-
    # frequency value r, never tokens
    w = WW.orderBy("r")
    return (
        coc.withColumn("next_r", F.lead("r").over(w))
        .withColumn("next_n", F.lead("n_r").over(w))
        .crossJoin(F.broadcast(p0))
        .select(
            "r",
            "n_r",
            F.when(
                F.col("next_r") == F.col("r") + 1,
                F.expr("CAST((r + 1) * next_n AS DOUBLE) / n_r"),
            ).alias("r_star"),
            "p_unseen",
        )
    )


def good_turing_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `good_turing` over the documents table."""
    return """
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS r FROM toks GROUP BY 1),
    coc AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM tc GROUP BY 1),
    led AS (
        SELECT r, n_r,
               lead(r) OVER (ORDER BY r) AS next_r,
               lead(n_r) OVER (ORDER BY r) AS next_n
        FROM coc
    ),
    p0 AS (
        SELECT CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS DOUBLE)
                   / sum(r * n_r) AS p_unseen
        FROM coc
    )
    SELECT r, n_r,
           CASE WHEN next_r = r + 1
                THEN CAST((r + 1) * next_n AS DOUBLE) / n_r END AS r_star,
           p_unseen
    FROM led CROSS JOIN p0
    """


def burrows_delta(
    docs: DataFrame,
    text_col: str,
    source_col: str,
    m: int = 20,
    dp: int = 6,
) -> DataFrame:
    """Burrows' Delta stylometric deviation per source: z-score each
    source's relative frequency of the corpus's top-``m`` tokens
    against the across-source mean/sd, then average |z| — the
    authorship/provenance drift score ("which source writes most
    unlike the rest of the corpus?") next to q_facet_mutual_information
    (categorical association) and q_hellinger_langmix (distribution
    distance). Output one row per source: (source, m_eff, delta).

    Engine-parity discipline: relative frequencies are single
    divisions of exact BIGINTs; the across-source mean/var and the
    per-source |z| average accumulate over ORDERED windows (source
    order within token, token order within source — sequential in
    both engines, the pettitt walk rule); sd uses the population form
    sqrt(sum_f2/S - mu*mu) (deterministic chain). Zero-variance
    tokens (identical relative frequency everywhere) drop out of the
    average; m_eff counts the survivors, delta rounds dp.

    Scale shape: one token aggregate (vocab-bounded), top-m cut by
    (count, token) rank, then everything runs on the m x n_sources
    grid — row mass shuffles once."""
    from pyspark.sql.window import Window as WW

    tok = docs.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("tok"),
    )
    counts = tok.groupBy("src", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)  # feeds totals, top-m, and the grid
    totals = counts.groupBy("src").agg(F.sum("c").cast("long").alias("tot"))
    # heap-select the m (TakeOrderedAndProject) — the corpus vocabulary
    # grows with the corpus, so no full-vocab single-partition window.
    topm = (
        counts.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("corpus_c"))
        .orderBy(F.col("corpus_c").desc(), F.col("tok"))
        .limit(m)
        .select("tok")
    )
    grid = (
        totals.crossJoin(F.broadcast(topm))
        .join(counts, ["src", "tok"], "left")
        .select(
            "src",
            "tok",
            "tot",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
        .withColumn("f", F.expr("CAST(c AS DOUBLE) / tot"))
        .localCheckpoint(eager=False)  # feeds the across-source stats AND the z join
    )
    wtok = (
        WW.partitionBy("tok")
        .orderBy("src")
        .rowsBetween(WW.unboundedPreceding, 0)
    )
    n_src = totals.agg(F.count(F.lit(1)).cast("long").alias("s"))
    stats = (
        grid.withColumn("cum_f", F.sum("f").over(wtok))
        .withColumn("cum_f2", F.sum(F.col("f") * F.col("f")).over(wtok))
        .withColumn(
            "rn", F.row_number().over(WW.partitionBy("tok").orderBy("src"))
        )
        .crossJoin(F.broadcast(n_src))
        .filter(F.col("rn") == F.col("s"))
        .select(
            F.col("tok").alias("tok_s"),
            F.expr("cum_f / s").alias("mu"),
            F.expr("sqrt(cum_f2 / s - (cum_f / s) * (cum_f / s))").alias(
                "sd"
            ),
        )
    )
    z = (
        grid.join(stats, grid["tok"] == stats["tok_s"])
        .filter(F.col("sd") > 0)
        .select(
            "src", "tok", F.expr("abs((f - mu) / sd)").alias("abs_z")
        )
    )
    wsrc = (
        WW.partitionBy("src")
        .orderBy("tok")
        .rowsBetween(WW.unboundedPreceding, 0)
    )
    walked = (
        z.withColumn("cum_z", F.sum("abs_z").over(wsrc))
        .withColumn(
            "rn", F.row_number().over(WW.partitionBy("src").orderBy("tok"))
        )
        .withColumn(
            "m_eff",
            F.count(F.lit(1)).over(WW.partitionBy("src")),
        )
    )
    return walked.filter(F.col("rn") == F.col("m_eff")).select(
        F.col("src").alias("source"),
        F.col("m_eff").cast("long").alias("m_eff"),
        F.round(F.expr("cum_z / m_eff"), dp).alias("delta"),
    )


def burrows_oracle_sql(m: int = 20, dp: int = 6) -> str:
    """DuckDB mirror of `burrows_delta` over the documents table:
    identical top-m cut, grid, ordered-window statistics, and walks."""
    return f"""
    WITH tok AS (
        SELECT source AS src, unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    counts AS (
        SELECT src, tok, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    totals AS (SELECT src, CAST(sum(c) AS BIGINT) AS tot
               FROM counts GROUP BY 1),
    topm AS (
        SELECT tok FROM (
            SELECT tok,
                   row_number() OVER (ORDER BY sum(c) DESC, tok) AS rn
            FROM counts GROUP BY tok
        ) WHERE rn <= {m}
    ),
    grid AS (
        SELECT t.src, p.tok, t.tot,
               CAST(coalesce(c.c, 0) AS BIGINT) AS c,
               CAST(coalesce(c.c, 0) AS DOUBLE) / t.tot AS f
        FROM totals t CROSS JOIN topm p
        LEFT JOIN counts c ON c.src = t.src AND c.tok = p.tok
    ),
    n_src AS (SELECT CAST(count(*) AS BIGINT) AS s FROM totals),
    walked_tok AS (
        SELECT tok, f, s,
               sum(f) OVER w AS cum_f,
               sum(f * f) OVER w AS cum_f2,
               row_number() OVER (PARTITION BY tok ORDER BY src) AS rn
        FROM grid CROSS JOIN n_src
        WINDOW w AS (PARTITION BY tok ORDER BY src
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    stats AS (
        SELECT tok AS tok_s, cum_f / s AS mu,
               sqrt(cum_f2 / s - (cum_f / s) * (cum_f / s)) AS sd
        FROM walked_tok WHERE rn = s
    ),
    z AS (
        SELECT g.src, g.tok, abs((g.f - st.mu) / st.sd) AS abs_z
        FROM grid g JOIN stats st ON g.tok = st.tok_s
        WHERE st.sd > 0
    ),
    walked_src AS (
        SELECT src, tok,
               sum(abs_z) OVER w AS cum_z,
               row_number() OVER (PARTITION BY src ORDER BY tok) AS rn,
               count(*) OVER (PARTITION BY src) AS m_eff
        FROM z
        WINDOW w AS (PARTITION BY src ORDER BY tok
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT src AS source, CAST(m_eff AS BIGINT) AS m_eff,
           round(cum_z / m_eff, {dp}) AS delta
    FROM walked_src WHERE rn = m_eff
    """


def bigram_conditional_entropy(
    docs: DataFrame, text_col: str, dp: int = 6
) -> DataFrame:
    """Corpus bigram conditional entropy H(next | current) =
    -(1/T) sum_uv c_uv * ln(c_uv / c_u) — how predictable the next
    token is given the current one, in nats. The TOKEN-level
    predictability scalar between q_char_entropy (characters),
    q_bigram_lm_score (per-doc surprisal), and q_markov_entropy
    (event types); low values flag templated/boilerplate corpora.
    Also emits the perplexity exp(H). Output ONE row:
    (n_bigrams, vocab, h_cond, perplexity).

    Every ln term is a single division of exact BIGINTs (c_uv, c_u);
    the vocab^2-bounded term sum accumulates over the ORDERED (u, v)
    window (sequential in both engines); H and exp(H) round dp.

    Scale shape: one bigram aggregate (vocab^2-bounded output); the
    walk never touches row mass."""
    from pyspark.sql.window import Window as WW

    toks = docs.select(tokens(F.col(text_col)).alias("t")).filter(
        F.size("t") >= 2
    )
    bi = (
        toks.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.struct(
                        F.element_at("t", i + 1).alias("u"),
                        F.element_at("t", i + 2).alias("v"),
                    ),
                )
            ).alias("p")
        )
        .groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_uv"))
        .transform(hold)  # feeds the marginal AND the walk
    )
    marg = bi.groupBy("u").agg(F.sum("c_uv").cast("long").alias("c_u"))
    w = WW.orderBy("u", "v").rowsBetween(WW.unboundedPreceding, 0)
    walked = (
        bi.join(marg, "u")
        .withColumn(
            "term",
            F.expr("c_uv * ln(CAST(c_uv AS DOUBLE) / c_u)"),
        )
        .withColumn("cum", F.sum("term").over(w))
        .withColumn("rn", F.count(F.lit(1)).over(w))
        .withColumn("cells", F.count(F.lit(1)).over(WW.partitionBy()))
        .withColumn("t_tot", F.sum("c_uv").over(WW.partitionBy()))
        .withColumn(
            "vocab",
            F.size(F.collect_set("u").over(WW.partitionBy())),
        )
    )
    return walked.filter(F.col("rn") == F.col("cells")).select(
        F.col("t_tot").cast("long").alias("n_bigrams"),
        F.col("vocab").cast("long").alias("vocab"),
        F.round(F.expr("-cum / t_tot"), dp).alias("h_cond"),
        F.round(F.expr("exp(-cum / t_tot)"), dp).alias("perplexity"),
    )


def bigram_entropy_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `bigram_conditional_entropy` over documents."""
    return f"""
    WITH toks AS (
        SELECT string_split(text, ' ') AS t FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ),
    bi AS (
        SELECT t[i] AS u, t[i + 1] AS v, CAST(count(*) AS BIGINT) AS c_uv
        FROM (SELECT t, unnest(range(1, len(t))) AS i FROM toks)
        GROUP BY 1, 2
    ),
    marg AS (SELECT u, CAST(sum(c_uv) AS BIGINT) AS c_u FROM bi GROUP BY 1),
    walked AS (
        SELECT sum(c_uv * ln(CAST(c_uv AS DOUBLE) / c_u)) OVER w AS cum,
               row_number() OVER (ORDER BY u, v) AS rn,
               count(*) OVER () AS cells,
               sum(c_uv) OVER () AS t_tot,
               (SELECT count(DISTINCT u) FROM bi) AS vocab
        FROM bi JOIN marg USING (u)
        WINDOW w AS (ORDER BY u, v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    )
    SELECT CAST(t_tot AS BIGINT) AS n_bigrams,
           CAST(vocab AS BIGINT) AS vocab,
           round(-cum / t_tot, {dp}) AS h_cond,
           round(exp(-cum / t_tot), {dp}) AS perplexity
    FROM walked WHERE rn = cells
    """


def negative_sampling_table(
    docs: DataFrame, text_col: str, power_num: int = 3, power_den: int = 4,
    dp: int = 6,
) -> DataFrame:
    """word2vec-style negative-sampling distribution: token
    probabilities proportional to count^(3/4) (the unigram power law
    flattened so rare words get sampled), plus each token's cumulative
    probability range [cum_lo, cum_hi) — the lookup table a
    deterministic u01 variate samples against (the repo's md5
    sampling discipline). Output one row per token:
    (tok, c, weight, p_neg, cum_hi).

    c^(3/4) evaluates as exp((3/4) * ln(c)) — identical text both
    engines, rounded dp BEFORE normalization so the partition function
    sums ROUNDED weights deterministically over the ordered vocab
    walk; p_neg = weight/Z and the cumulative ranges are then single
    divisions and ordered prefix sums of those fixed 6dp values.

    Scale shape: one token aggregate; the walk runs on the
    vocab-bounded relation."""
    from pyspark.sql.window import Window as WW

    counts = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # feeds the weight walk AND the Z total
    )
    pw = f"{power_num}.0 / {power_den}"
    weighted = counts.withColumn(
        "weight",
        F.round(F.expr(f"exp(({pw}) * ln(CAST(c AS DOUBLE)))"), dp),
    )
    w = WW.orderBy("tok").rowsBetween(WW.unboundedPreceding, 0)
    wall = WW.partitionBy()
    return (
        weighted.withColumn("z", F.sum("weight").over(w))
        .withColumn("rn", F.count(F.lit(1)).over(w))
        .withColumn("v", F.count(F.lit(1)).over(wall))
        .withColumn(
            "z_tot",
            F.max(F.when(F.col("rn") == F.col("v"), F.col("z"))).over(wall),
        )
        .select(
            "tok",
            "c",
            "weight",
            F.expr("weight / z_tot").alias("p_neg"),
            F.expr("z / z_tot").alias("cum_hi"),
        )
    )


def negative_sampling_oracle_sql(
    power_num: int = 3, power_den: int = 4, dp: int = 6
) -> str:
    """DuckDB mirror of `negative_sampling_table` over documents."""
    pw = f"{power_num}.0 / {power_den}"
    return f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    counts AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
               FROM toks GROUP BY 1),
    weighted AS (
        SELECT tok, c,
               round(exp(({pw}) * ln(CAST(c AS DOUBLE))), {dp}) AS weight
        FROM counts
    ),
    walked AS (
        SELECT tok, c, weight,
               sum(weight) OVER (ORDER BY tok ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS z,
               count(*) OVER (ORDER BY tok ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS rn,
               count(*) OVER () AS v
        FROM weighted
    ),
    final_z AS (
        SELECT max(CASE WHEN rn = v THEN z END) OVER () AS z_tot, *
        FROM walked
    )
    SELECT tok, c, weight,
           weight / z_tot AS p_neg,
           z / z_tot AS cum_hi
    FROM final_z
    """


def token_burstiness(
    docs: DataFrame, text_col: str, min_cf: int = 5, dp: int = 6
) -> DataFrame:
    """Church-Gale token burstiness: corpus frequency vs document
    frequency per token — a word that appears 100 times in 3 documents
    is topical/bursty ("adjacent repetition"), one spread over 90 is
    functional; the Poisson null says df_expected =
    N(1 - exp(-cf/N)), so df/df_expected < 1 flags burstiness that
    q_text_repetition (within-doc) and q_heavy_hitters (global rate)
    cannot see. Output one row per token with cf >= ``min_cf``:
    (tok, cf, df, mean_per_doc, df_over_poisson).

    cf/df are exact BIGINTs; mean_per_doc = cf/df is a single
    division (raw); the Poisson ratio routes through one exp and
    rounds dp. Scale shape: one (doc, token) aggregate then one
    token aggregate — vocabulary-bounded output."""
    per_doc = (
        docs.select(
            "doc_id", F.explode(tokens(F.col(text_col))).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    n_docs = docs.select(F.count(F.lit(1)).cast("long").alias("n"))
    per_tok = per_doc.groupBy("tok").agg(
        F.sum("c").cast("long").alias("cf"),
        F.count(F.lit(1)).cast("long").alias("df"),
    )
    return (
        per_tok.filter(F.col("cf") >= min_cf)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "cf",
            "df",
            F.expr("CAST(cf AS DOUBLE) / df").alias("mean_per_doc"),
            F.round(
                F.expr(
                    "df / (n * (1 - exp(-(CAST(cf AS DOUBLE) / n))))"
                ),
                dp,
            ).alias("df_over_poisson"),
        )
    )


def burstiness_oracle_sql(min_cf: int = 5, dp: int = 6) -> str:
    """DuckDB mirror of `token_burstiness` over documents."""
    return f"""
    WITH per_doc AS (
        SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ),
    n_docs AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    per_tok AS (
        SELECT tok, CAST(sum(c) AS BIGINT) AS cf,
               CAST(count(*) AS BIGINT) AS df
        FROM per_doc GROUP BY 1
    )
    SELECT tok, cf, df,
           CAST(cf AS DOUBLE) / df AS mean_per_doc,
           round(df / (n * (1 - exp(-(CAST(cf AS DOUBLE) / n)))), {dp})
               AS df_over_poisson
    FROM per_tok CROSS JOIN n_docs
    WHERE cf >= {min_cf}
    """


def _overlap_counts(docs: DataFrame) -> DataFrame:
    """Shared clipped-count core for ROUGE/BLEU-vs-reference: per
    candidate doc, the exact BIGINT sextuple (t1, c1, r1, t2, c2, r2)
    = (candidate unigram total, clipped unigram overlap, reference
    unigram total, and the bigram triple) against the doc's language
    reference (min doc_id per lang). See rouge_vs_reference for the
    scale argument (linear count passes, bounded broadcast reference,
    nothing pairwise).

    Engine parity: every clip/total is an exact BIGINT; downstream
    metrics are fixed per-row IEEE chains over those ints (identical
    text in the oracles), so outputs are bit-stable unrounded; clip=0
    guards use CASE ... ELSE (Spark NULL-comparison booleans propagate
    NULL where SQL CASE yields the ELSE — r9 lesson).

    Scale shape: one tokenize pass fans out to unigram+bigram count
    relations (linear); the reference side is one doc per language
    (langs x vocab rows — broadcast); per-doc clips are map-combined
    aggregates keyed by doc_id. Nothing pairwise, nothing quadratic:
    candidates never join each other, only the bounded reference."""
    # repartition BEFORE the tokenize+bigram map fan-out: documents
    # parquet often arrives as few splits, and this is the CPU-heavy
    # stage (the CLAUDE.md repartition-before-heavy-map rule)
    par = docs.sparkSession.sparkContext.defaultParallelism
    base = docs.repartition(par).select(
        "doc_id",
        "lang",
        tokens(F.col("text")).alias("toks"),
        bigrams(F.col("text")).alias("bgs"),
    )
    # ONE tokenize pass + ONE count shuffle for unigrams AND bigrams
    # (r13 optimization, guide §2.3/§2.4): the former separate uni/bg
    # aggregates could not share work — column pruning specializes each
    # consumer's scan+explode subtree, so ReuseExchange never fires and
    # the tokenize ran once per consumer. The merged (kind, gram) count
    # relation is aggregated once, checkpointed (its SIX downstream
    # consumers — totals, clips and reference slices for both kinds —
    # would otherwise each re-run the corpus pass; the kind filter
    # pushes below the aggregate and re-specializes the subtrees), and
    # every count that follows reads the bounded materialized relation.
    counts_all = (
        base.select(
            "doc_id",
            "lang",
            F.explode(
                F.concat(
                    F.transform(
                        "toks",
                        lambda t: F.struct(
                            F.lit(1).alias("kind"), t.alias("g")
                        ),
                    ),
                    F.transform(
                        "bgs",
                        lambda b: F.struct(
                            F.lit(2).alias("kind"), b.alias("g")
                        ),
                    ),
                )
            ).alias("kg"),
        )
        .select(
            "doc_id",
            "lang",
            F.col("kg.kind").alias("kind"),
            F.col("kg.g").alias("g"),
        )
        .groupBy("doc_id", "lang", "kind", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)
    )
    uni = counts_all.filter(F.col("kind") == 1).drop("kind")
    bg = counts_all.filter(F.col("kind") == 2).drop("kind")
    refs = docs.groupBy("lang").agg(F.min("doc_id").alias("ref_id"))

    def ref_counts(counts: DataFrame) -> DataFrame:
        return (
            counts.join(
                F.broadcast(refs),
                (counts["doc_id"] == refs["ref_id"])
                & (counts["lang"] == refs["lang"]),
            )
            .select(counts["lang"].alias("rlang"), "g", F.col("c").alias("rc"))
        )

    runi, rbg = ref_counts(uni), ref_counts(bg)

    def clip_and_total(counts: DataFrame, rcounts: DataFrame, suffix: str):
        total = counts.groupBy("doc_id").agg(
            F.sum("c").cast("long").alias(f"t{suffix}")
        )
        clip = (
            counts.join(
                F.broadcast(rcounts),
                (counts["lang"] == rcounts["rlang"])
                & (counts["g"] == rcounts["g"]),
            )
            .groupBy("doc_id")
            .agg(
                F.sum(F.least(counts["c"], rcounts["rc"]))
                .cast("long")
                .alias(f"c{suffix}")
            )
        )
        rtot = rcounts.groupBy(F.col("rlang").alias("lang")).agg(
            F.sum("rc").cast("long").alias(f"r{suffix}")
        )
        return total, clip, rtot

    t1, c1, r1 = clip_and_total(uni, runi, "1")
    t2, c2, r2 = clip_and_total(bg, rbg, "2")

    cand = (
        docs.select("doc_id", "lang")
        .join(F.broadcast(refs), "lang")
        .filter(F.col("doc_id") != F.col("ref_id"))
        .select("doc_id", "lang")
    )
    j = (
        cand.join(t1, "doc_id", "left")
        .join(c1, "doc_id", "left")
        .join(t2, "doc_id", "left")
        .join(c2, "doc_id", "left")
        .join(F.broadcast(r1), "lang", "left")
        .join(F.broadcast(r2), "lang", "left")
        .select(
            "doc_id",
            "lang",
            F.coalesce("t1", F.lit(0)).alias("t1"),
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("r1", F.lit(0)).alias("r1"),
            F.coalesce("t2", F.lit(0)).alias("t2"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
            F.coalesce("r2", F.lit(0)).alias("r2"),
        )
    )
    return j


def rouge_vs_reference(docs: DataFrame) -> DataFrame:
    """ROUGE-1 precision/recall/F1 and ROUGE-2 F1 of every document
    against its language's REFERENCE document (min doc_id per lang) —
    the n-gram-overlap evaluation metric for generated text, as a
    corpus operator: score a candidate pool against gold references
    without an LLM in the loop. Clipped-count form (Lin 2004):
    clip = sum_g min(count_cand(g), count_ref(g)). Exact BIGINT
    counts, fixed per-row IEEE chains (identical text in the oracle),
    CASE-guarded zero clips. Linear count passes + bounded broadcast
    reference (see _overlap_counts)."""
    j = _overlap_counts(docs)
    # identical expression text in rouge_oracle_sql
    def metrics(c: str, t: str, r: str, name: str):
        p = F.col(c).cast("double") / F.col(t)
        rr = F.col(c).cast("double") / F.col(r)
        f = F.when(
            F.col(c) > 0, 2.0 * p * rr / (p + rr)
        ).otherwise(F.lit(0.0))
        return p, rr, f

    p1, rr1, f1 = metrics("c1", "t1", "r1", "1")
    _, _, f2 = metrics("c2", "t2", "r2", "2")
    return j.select(
        "doc_id",
        "lang",
        F.when(F.col("t1") > 0, p1).otherwise(F.lit(0.0)).alias("r1_p"),
        rr1.alias("r1_r"),
        f1.alias("r1_f"),
        F.when(F.col("c2") > 0, f2).otherwise(F.lit(0.0)).alias("r2_f"),
    )


def _overlap_ctes_sql(table: str) -> str:
    """Shared CTE chain for the vs-reference overlap oracles (mirror
    of `_overlap_counts`): ends with rg_j(doc_id, lang, t1..r2).
    Count relations are AS MATERIALIZED (each feeds a total AND a
    clip join — the r7 CTE-inlining rule)."""
    return f"""
    WITH rg_t AS MATERIALIZED (
        SELECT doc_id, lang, string_split(text, ' ') AS toks FROM {table}
    ),
    rg_refs AS (SELECT lang, min(doc_id) AS ref_id FROM {table} GROUP BY lang),
    rg_uni AS MATERIALIZED (
        SELECT doc_id, lang, g, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, lang, unnest(toks) AS g FROM rg_t)
        GROUP BY doc_id, lang, g
    ),
    rg_bg AS MATERIALIZED (
        SELECT doc_id, lang, g, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT doc_id, lang,
                     unnest(list_transform(range(1, len(toks)),
                                           i -> toks[i] || ' ' || toks[i+1]))
                         AS g
              FROM rg_t WHERE len(toks) >= 2)
        GROUP BY doc_id, lang, g
    ),
    rg_runi AS MATERIALIZED (
        SELECT u.lang AS rlang, u.g, u.c AS rc
        FROM rg_uni u JOIN rg_refs r ON u.doc_id = r.ref_id AND u.lang = r.lang
    ),
    rg_rbg AS MATERIALIZED (
        SELECT u.lang AS rlang, u.g, u.c AS rc
        FROM rg_bg u JOIN rg_refs r ON u.doc_id = r.ref_id AND u.lang = r.lang
    ),
    rg_t1 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t1
              FROM rg_uni GROUP BY doc_id),
    rg_c1 AS (SELECT u.doc_id, CAST(sum(least(u.c, r.rc)) AS BIGINT) AS c1
              FROM rg_uni u JOIN rg_runi r ON u.lang = r.rlang AND u.g = r.g
              GROUP BY u.doc_id),
    rg_r1 AS (SELECT rlang AS lang, CAST(sum(rc) AS BIGINT) AS r1
              FROM rg_runi GROUP BY rlang),
    rg_t2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS t2
              FROM rg_bg GROUP BY doc_id),
    rg_c2 AS (SELECT u.doc_id, CAST(sum(least(u.c, r.rc)) AS BIGINT) AS c2
              FROM rg_bg u JOIN rg_rbg r ON u.lang = r.rlang AND u.g = r.g
              GROUP BY u.doc_id),
    rg_r2 AS (SELECT rlang AS lang, CAST(sum(rc) AS BIGINT) AS r2
              FROM rg_rbg GROUP BY rlang),
    rg_j AS (
        SELECT d.doc_id, d.lang,
               coalesce(t1.t1, 0) AS t1, coalesce(c1.c1, 0) AS c1,
               coalesce(r1.r1, 0) AS r1,
               coalesce(t2.t2, 0) AS t2, coalesce(c2.c2, 0) AS c2,
               coalesce(r2.r2, 0) AS r2
        FROM {table} d
        JOIN rg_refs rf ON d.lang = rf.lang AND d.doc_id <> rf.ref_id
        LEFT JOIN rg_t1 t1 ON t1.doc_id = d.doc_id
        LEFT JOIN rg_c1 c1 ON c1.doc_id = d.doc_id
        LEFT JOIN rg_t2 t2 ON t2.doc_id = d.doc_id
        LEFT JOIN rg_c2 c2 ON c2.doc_id = d.doc_id
        LEFT JOIN rg_r1 r1 ON r1.lang = d.lang
        LEFT JOIN rg_r2 r2 ON r2.lang = d.lang
    )
    """


def rouge_oracle_sql(table: str = "documents") -> str:
    """DuckDB mirror of `rouge_vs_reference`: same clipped-count ints,
    same per-row metric chains."""
    return _overlap_ctes_sql(table) + """
    SELECT doc_id, lang,
           CASE WHEN t1 > 0 THEN CAST(c1 AS DOUBLE) / t1 ELSE 0.0 END AS r1_p,
           CAST(c1 AS DOUBLE) / r1 AS r1_r,
           CASE WHEN c1 > 0
                THEN 2.0 * (CAST(c1 AS DOUBLE) / t1)
                         * (CAST(c1 AS DOUBLE) / r1)
                     / ((CAST(c1 AS DOUBLE) / t1)
                        + (CAST(c1 AS DOUBLE) / r1))
                ELSE 0.0 END AS r1_f,
           CASE WHEN c2 > 0
                THEN 2.0 * (CAST(c2 AS DOUBLE) / t2)
                         * (CAST(c2 AS DOUBLE) / r2)
                     / ((CAST(c2 AS DOUBLE) / t2)
                        + (CAST(c2 AS DOUBLE) / r2))
                ELSE 0.0 END AS r2_f
    FROM rg_j
    """


def bleu_vs_reference(docs: DataFrame, dp: int = 6) -> DataFrame:
    """Sentence-BLEU (n<=2, no smoothing) of every document against
    its language's reference document — the PRECISION-oriented dual of
    rouge_vs_reference, with the brevity penalty that punishes short
    candidates ROUGE-P would reward: BLEU-2 = BP * exp((ln p1 +
    ln p2)/2), BP = min(1, exp(1 - ref_len/cand_len)). Zero clipped
    counts -> 0.0 (unsmoothed; CASE-guarded so Spark never evaluates
    ln(0)). exp/ln are the only irrational steps, rounded ``dp`` on
    both sides. Same linear/broadcast scale shape as the shared
    clipped-count core (_overlap_counts)."""
    j = _overlap_counts(docs)
    p1 = F.col("c1").cast("double") / F.col("t1")
    p2 = F.col("c2").cast("double") / F.col("t2")
    bp = F.when(
        F.col("t1") >= F.col("r1"), F.lit(1.0)
    ).otherwise(F.exp(1.0 - F.col("r1").cast("double") / F.col("t1")))
    ok = (F.col("c1") > 0) & (F.col("c2") > 0) & (F.col("t1") > 0)
    return j.select(
        "doc_id",
        "lang",
        F.when(F.col("t1") > 0, F.round(bp, dp))
        .otherwise(F.lit(0.0))
        .alias("bp"),
        F.when(ok, F.round(bp * F.exp((F.log(p1) + F.log(p2)) / 2.0), dp))
        .otherwise(F.lit(0.0))
        .alias("bleu2"),
    )


def bleu_oracle_sql(table: str = "documents", dp: int = 6) -> str:
    """DuckDB mirror of `bleu_vs_reference` (same chains over rg_j)."""
    return _overlap_ctes_sql(table) + f"""
    SELECT doc_id, lang,
           CASE WHEN t1 > 0 THEN
             round(CASE WHEN t1 >= r1 THEN 1.0
                        ELSE exp(1.0 - CAST(r1 AS DOUBLE) / t1) END, {dp})
           ELSE 0.0 END AS bp,
           CASE WHEN c1 > 0 AND c2 > 0 AND t1 > 0 THEN
             round((CASE WHEN t1 >= r1 THEN 1.0
                         ELSE exp(1.0 - CAST(r1 AS DOUBLE) / t1) END)
                   * exp((ln(CAST(c1 AS DOUBLE) / t1)
                          + ln(CAST(c2 AS DOUBLE) / t2)) / 2.0), {dp})
           ELSE 0.0 END AS bleu2
    FROM rg_j
    """


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter battery (Rae et al. 2021,
    reduced to oracle-expressible exact-integer predicates): per doc,
    one boolean per rule plus the conjunction — the transparent
    alternative to q_text_quality's blended score when a pipeline
    needs to EXPLAIN each rejection. Rules: token count in [50, 1e5];
    mean token length in [3, 10] (cross-multiplied — 3n <= chars <=
    10n, no division); numeric-token ratio <= 20% (5*digits <= n);
    top-token ratio <= 20% (5*max_count <= n, the repetition screen);
    >= 2 distinct English stopword types for 'en' docs (coverage
    screen, waived off-language).

    Every predicate compares exact BIGINTs — zero float anywhere.
    Scale shape: one explode -> (doc, token) count aggregate -> one
    per-doc reduce; both map-side combined, output one row per doc."""
    toks = _spread(docs.select("doc_id", "lang", "text"), "doc_id").select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("tok")
    )
    lvl1 = toks.groupBy("doc_id", "lang", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    stops = list(EN_STOPWORDS)
    per = lvl1.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.length("tok")).cast("long").alias("chars"),
        F.sum(
            F.when(F.col("tok").rlike("^[0-9]+$"), F.col("c")).otherwise(0)
        ).cast("long").alias("n_digit"),
        F.max("c").cast("long").alias("max_c"),
        F.sum(F.col("tok").isin(*stops).cast("long"))
        .cast("long")
        .alias("n_stop_types"),
    )
    r_len = (F.col("n") >= 50) & (F.col("n") <= 100000)
    r_wordlen = (3 * F.col("n") <= F.col("chars")) & (
        F.col("chars") <= 10 * F.col("n")
    )
    r_digit = 5 * F.col("n_digit") <= F.col("n")
    r_rep = 5 * F.col("max_c") <= F.col("n")
    r_stop = (F.col("lang") != "en") | (F.col("n_stop_types") >= 2)
    return per.select(
        "doc_id",
        r_len.alias("r_len"),
        r_wordlen.alias("r_wordlen"),
        r_digit.alias("r_digit"),
        r_rep.alias("r_rep"),
        r_stop.alias("r_stop"),
        (r_len & r_wordlen & r_digit & r_rep & r_stop).alias("pass_all"),
    )


def gopher_oracle_sql(table: str = "documents") -> str:
    """DuckDB mirror of `gopher_rules` (identical integer predicates)."""
    stops = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    return f"""
    WITH gr_toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        FROM {table}
    ),
    gr_lvl1 AS (
        SELECT doc_id, lang, tok, CAST(count(*) AS BIGINT) AS c
        FROM gr_toks GROUP BY doc_id, lang, tok
    ),
    gr_per AS (
        SELECT doc_id, lang,
               CAST(sum(c) AS BIGINT) AS n,
               CAST(sum(c * length(tok)) AS BIGINT) AS chars,
               CAST(sum(CASE WHEN regexp_matches(tok, '^[0-9]+$')
                             THEN c ELSE 0 END) AS BIGINT) AS n_digit,
               CAST(max(c) AS BIGINT) AS max_c,
               CAST(sum(CASE WHEN tok IN ({stops}) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_stop_types
        FROM gr_lvl1 GROUP BY doc_id, lang
    )
    SELECT doc_id,
           n >= 50 AND n <= 100000 AS r_len,
           3 * n <= chars AND chars <= 10 * n AS r_wordlen,
           5 * n_digit <= n AS r_digit,
           5 * max_c <= n AS r_rep,
           lang <> 'en' OR n_stop_types >= 2 AS r_stop,
           (n >= 50 AND n <= 100000)
           AND (3 * n <= chars AND chars <= 10 * n)
           AND (5 * n_digit <= n)
           AND (5 * max_c <= n)
           AND (lang <> 'en' OR n_stop_types >= 2) AS pass_all
    FROM gr_per
    """


# --------------------------------------------------------------------------
# Heaps' law vocabulary-growth fit (id-slice checkpoints)
# --------------------------------------------------------------------------


def heaps_law(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_slices: int = 8,
    dp: int = 6,
) -> DataFrame:
    """Heaps' law fit V = K * N^beta of vocabulary growth: distinct
    token types V against total token count N measured at
    ``n_slices`` corpus prefixes — the how-fast-does-vocabulary-grow
    exponent (beta ~ 0.4-0.6 for natural text; near 1 flags
    synthetic/id-like tokens) beside q_zipf_slope's frequency view
    and q_vocab_coverage's fixed-vocab reading. Output ONE row:
    (n_slices_used, beta, ln_k).

    Prefixes are doc-ID VALUE slices (lo + i*span/n_slices — a
    broadcast threshold grid, NEVER a corpus-ordered row_number):
    each token type contributes to slice i iff its MINIMUM doc id
    falls under the threshold — one token-level min aggregate, then
    ``n_slices`` exact conditional counts. V and N per slice are
    exact BIGINTs; ln quantizes to micro per slice (bounded surface)
    and the log-log OLS runs on exact micro moments, rounded ``dp``.

    Scale shape (100 TB): one tokenize+explode pass, one token-keyed
    aggregate (the vocabulary relation), slice counts map-combined."""
    bounds = df.agg(
        F.min(F.col(id_col)).alias("lo"), F.max(F.col(id_col)).alias("hi")
    )
    tok = (
        _spread(df.select(F.col(id_col).alias("d"), F.col(text_col).alias("txt")), "d")
        .select("d", F.explode(tokens(F.col("txt"))).alias("w"))
        .filter(F.col("w") != "")
    )

    def thr(i: int):
        return F.col("lo") + (F.col("hi") - F.col("lo")) * i / n_slices

    # ONE tokenize pass for BOTH count families: the old ns aggregate
    # was a second reference to the lazy tok relation, so the whole
    # tokenize+explode re-ran for it (multi-reference recompute rule).
    # Per-slice OCCURRENCE counts ride the token-type aggregate as
    # conditional partial sums (o_i) and re-sum in the final agg —
    # integer sums of the identical per-row conditions, so n_i is
    # bit-for-bit the old flat count; v_i uses the same fd as before.
    tokb = tok.crossJoin(F.broadcast(bounds))
    firsts = tokb.groupBy("w").agg(
        F.min("d").alias("fd"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        *[
            F.sum((F.col("d") <= thr(i)).cast("long"))
            .cast("long")
            .alias(f"o{i}")
            for i in range(1, n_slices + 1)
        ],
    )
    wide = firsts.agg(
        *(
            [
                F.sum((F.col("fd") <= thr(i)).cast("long"))
                .cast("long")
                .alias(f"v{i}")
                for i in range(1, n_slices + 1)
            ]
            + [
                F.sum(F.col(f"o{i}")).cast("long").alias(f"n{i}")
                for i in range(1, n_slices + 1)
            ]
        )
    )
    # micro-quantized log pairs as FIXED columns; the 8-term moment
    # sums below are fixed expression trees (no aggregation order)
    for i in range(1, n_slices + 1):
        wide = wide.withColumn(
            f"x{i}",
            F.floor(
                F.log(F.col(f"n{i}").cast("double")) * 1_000_000 + F.lit(0.5)
            ).cast("long"),
        ).withColumn(
            f"y{i}",
            F.floor(
                F.log(F.col(f"v{i}").cast("double")) * 1_000_000 + F.lit(0.5)
            ).cast("long"),
        )
    idx = list(range(1, n_slices + 1))
    mom = wide.select(
        F.lit(len(idx)).cast("long").alias("np"),
        sum((F.col(f"x{i}") for i in idx), F.lit(0)).cast("long").alias("sx"),
        sum((F.col(f"y{i}") for i in idx), F.lit(0)).cast("long").alias("sy"),
        sum((F.col(f"x{i}") * F.col(f"x{i}") for i in idx), F.lit(0))
        .cast("long")
        .alias("sxx"),
        sum((F.col(f"x{i}") * F.col(f"y{i}") for i in idx), F.lit(0))
        .cast("long")
        .alias("sxy"),
    )
    beta = (
        "(CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)"
        " / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)"
    )
    return mom.select(
        F.col("np").alias("n_slices_used"),
        F.round(F.expr(beta), dp).alias("beta"),
        F.round(
            F.expr(
                f"(CAST(sy AS DOUBLE) / np - ({beta}) * sx / np) / 1000000.0"
            ),
            dp,
        ).alias("ln_k"),
    )


def heaps_oracle_sql(n_slices: int = 8, dp: int = 6) -> str:
    """DuckDB mirror of `heaps_law` over documents: identical slice
    thresholds, token firsts, micro logs, and fit text."""
    slice_selects = "\n        UNION ALL\n        ".join(
        f"""SELECT CAST({i} AS BIGINT) AS i,
               (SELECT CAST(sum(CASE WHEN fd <= lo + (hi - lo) * {i} / {n_slices}
                                     THEN 1 ELSE 0 END) AS BIGINT)
                FROM hpl_firsts CROSS JOIN hpl_bounds) AS v,
               (SELECT CAST(sum(CASE WHEN d <= lo + (hi - lo) * {i} / {n_slices}
                                     THEN 1 ELSE 0 END) AS BIGINT)
                FROM hpl_tok CROSS JOIN hpl_bounds) AS nt"""
        for i in range(1, n_slices + 1)
    )
    return f"""
    WITH hpl_bounds AS (
        SELECT CAST(min(doc_id) AS BIGINT) AS lo,
               CAST(max(doc_id) AS BIGINT) AS hi
        FROM documents
    ),
    hpl_tok AS (
        SELECT doc_id AS d, unnest(string_split(text, ' ')) AS w
        FROM documents
    ),
    hpl_tok2 AS (SELECT d, w FROM hpl_tok WHERE w <> ''),
    hpl_firsts AS (
        SELECT w, CAST(min(d) AS BIGINT) AS fd FROM hpl_tok2 GROUP BY 1
    ),
    hpl_slices AS (
        {slice_selects}
    ),
    hpl_xy AS (
        SELECT CAST(floor(ln(CAST(nt AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                   AS x,
               CAST(floor(ln(CAST(v AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
                   AS y
        FROM hpl_slices WHERE v > 0 AND nt > 0
    ),
    hpl_mom AS (
        SELECT CAST(count(*) AS BIGINT) AS np,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM hpl_xy
    )
    SELECT np AS n_slices_used,
           round((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx),
                 {dp}) AS beta,
           round((CAST(sy AS DOUBLE) / np
                  - ((CAST(np AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                     / (CAST(np AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
                    * sx / np) / 1000000.0, {dp}) AS ln_k
    FROM hpl_mom
    """


# --------------------------------------------------------------------------
# Yule's K lexical-repetitiveness characteristic (r13b)
# --------------------------------------------------------------------------


def yule_k(docs: DataFrame, text_col: str, dp: int = 6) -> DataFrame:
    """Yule's characteristic K over the corpus unigram counts:
    K = 10^4 * (S2 - S1) / S1^2 with S1 = total token mass and
    S2 = sum of squared type frequencies — the sample-size-invariant
    repetitiveness constant (expected K is flat as the corpus grows,
    unlike q_type_token_richness's TTR which decays), so drift in K
    between snapshots means the MIX changed, not just the size. High
    K flags templated/spammy corpora the same way q_text_repetition
    does per-document, but at corpus grain. Output ONE row:
    (n_tokens, n_types, yule_k).

    S1/S2 are exact BIGINTs off the vocabulary-sized count relation;
    K is one double expression (S1^2 stays inside 2^53 for any corpus
    whose token mass fits ~9e15 — beyond that S1^2 saturates double
    precision before BIGINT overflows); rounds ``dp``.

    Scale shape (100 TB): explode -> ONE map-combined (token) count
    -> one scalar reduce. Nothing row-sized past the first exchange."""
    wc = (
        _spread(docs.select(F.col(text_col)), text_col)
        .select(F.explode(tokens(F.col(text_col))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return wc.agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    ).select(
        "n_tokens",
        "n_types",
        F.round(
            F.expr(
                "10000 * (CAST(s2 AS DOUBLE) - n_tokens)"
                " / (CAST(n_tokens AS DOUBLE) * n_tokens)"
            ),
            dp,
        ).alias("yule_k"),
    )


def yule_k_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `yule_k` over the documents table."""
    return f"""
    WITH ylk_toks AS (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    ylk_tc AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM ylk_toks GROUP BY 1
    ),
    ylk_mom AS (
        SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
               CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM ylk_tc
    )
    SELECT n_tokens, n_types,
           round(10000 * (CAST(s2 AS DOUBLE) - n_tokens)
                 / (CAST(n_tokens AS DOUBLE) * n_tokens), {dp}) AS yule_k
    FROM ylk_mom
    """


# --------------------------------------------------------------------------
# Cross-source vocabulary Jaccard (r13b)
# --------------------------------------------------------------------------


def source_vocab_jaccard(
    docs: DataFrame, facet_col: str, text_col: str, dp: int = 6
) -> DataFrame:
    """Pairwise Jaccard similarity of token VOCABULARIES between
    corpus facets (sources): |V_a intersect V_b| / |V_a union V_b| —
    the lexical-overlap matrix that says which sources are
    interchangeable mixture components and which carry unique
    vocabulary (q_hellinger_langmix compares frequency SHAPES; this
    compares type SETS, so a tiny source with novel jargon scores
    low here even when its frequency profile looks generic). Output
    one row per unordered facet pair (src_a < src_b):
    (src_a, src_b, n_a, n_b, n_inter, jaccard).

    All counts are exact BIGINTs; jaccard is one division, ``dp``.

    Scale shape (100 TB): ONE distinct (facet, token) exchange
    (vocabulary x facets bounded, never corpus-sized); the pair join
    is token-keyed over the deduped vocabulary with facet^2 fanout
    bounded by the facet vocabulary itself."""
    sv = (
        docs.select(
            F.col(facet_col).alias("src"),
            F.explode(tokens(F.col(text_col))).alias("tok"),
        )
        .distinct()
        .transform(hold)  # vocab catalog: sizes + self-join both read it
    )
    sizes = sv.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = sv.select(F.col("src").alias("src_a"), "tok")
    b = sv.select(F.col("src").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    na = sizes.select(F.col("src").alias("src_a"), F.col("nv").alias("n_a"))
    nb = sizes.select(F.col("src").alias("src_b"), F.col("nv").alias("n_b"))
    return (
        inter.join(F.broadcast(na), "src_a")
        .join(F.broadcast(nb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_a",
            "n_b",
            "n_inter",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                dp,
            ).alias("jaccard"),
        )
    )


def source_vocab_jaccard_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `source_vocab_jaccard` over documents.source."""
    return f"""
    WITH svj_sv AS (
        SELECT DISTINCT source AS src,
               unnest(string_split(text, ' ')) AS tok
        FROM documents
    ),
    svj_sz AS (
        SELECT src, CAST(count(*) AS BIGINT) AS nv FROM svj_sv GROUP BY 1
    ),
    svj_inter AS (
        SELECT a.src AS src_a, b.src AS src_b,
               CAST(count(*) AS BIGINT) AS n_inter
        FROM svj_sv a JOIN svj_sv b
          ON a.tok = b.tok AND a.src < b.src
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, sa.nv AS n_a, sb.nv AS n_b, i.n_inter,
           round(CAST(i.n_inter AS DOUBLE)
                 / (sa.nv + sb.nv - i.n_inter), {dp}) AS jaccard
    FROM svj_inter i
    JOIN svj_sz sa ON sa.src = i.src_a
    JOIN svj_sz sb ON sb.src = i.src_b
    """


# --------------------------------------------------------------------------
# Character-trigram conditional entropy per facet (r13c)
# --------------------------------------------------------------------------


def char_trigram_entropy(
    docs: DataFrame, facet_col: str, text_col: str, dp: int = 6
) -> DataFrame:
    """Character-trigram conditional entropy per facet (language):
    H(c3 | c1 c2) = H(trigram) - H(bigram-context), both measured
    over the SAME position set (positions 1..len-2, docs >= 3 chars)
    so the chain rule holds exactly — the char-level counterpart of
    q_bigram_entropy's word model and the per-LANGUAGE refinement of
    q_char_entropy's unigram screen: low conditional entropy =
    templated/repetitive orthography, implausibly high = wrong
    charset or corrupted text for that language. Output one row per
    facet: (lang, n_tri, n_tri_types, h_tri, h_bi, h_cond).

    Counts are exact BIGINTs over the trigram-vocabulary-bounded
    relation (context counts GROUP the same relation by its 2-char
    prefix — no second extraction pass, so the two entropies are
    chain-rule consistent by construction); each entropy is a
    p*ln(p) sum over the bounded vocabulary, rounded ``dp`` (the
    q_bigram_entropy discipline).

    Scale shape (100 TB): one position fan-out -> ONE map-combined
    (facet, trigram) count; everything downstream is vocabulary-
    bounded."""
    # the per-position substring fan-out rides the scan's partitioning —
    # spread a single-split input across cores first (conditional no-op
    # on wide scans; the r13 batch-9 discipline)
    tri = (
        _spread(docs.filter(F.length(F.col(text_col)) >= 3), text_col)
        .select(
            F.col(facet_col).alias("lang"),
            F.explode(
                F.expr(
                    f"transform(sequence(1, length({text_col}) - 2),"
                    f" i -> substring({text_col}, i, 3))"
                )
            ).alias("g"),
        )
    )
    tc = (
        tri.groupBy("lang", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(hold)  # totals + trigram terms + context counts
    )
    tot = tc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_tri_types"),
    )
    p3 = F.col("c").cast("double") / F.col("n")
    h3 = (
        tc.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg((-F.sum(p3 * F.log(p3))).alias("h_tri_raw"))
    )
    ctx = tc.groupBy("lang", F.substring("g", 1, 2).alias("b")).agg(
        F.sum("c").cast("long").alias("c")
    )
    p2 = F.col("c").cast("double") / F.col("n")
    h2 = (
        ctx.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg((-F.sum(p2 * F.log(p2))).alias("h_bi_raw"))
    )
    return (
        tot.join(h3, "lang")
        .join(h2, "lang")
        .select(
            "lang",
            F.col("n").alias("n_tri"),
            "n_tri_types",
            F.round("h_tri_raw", dp).alias("h_tri"),
            F.round("h_bi_raw", dp).alias("h_bi"),
            F.round(F.col("h_tri_raw") - F.col("h_bi_raw"), dp).alias("h_cond"),
        )
    )


def char_trigram_entropy_oracle_sql(dp: int = 6) -> str:
    """DuckDB mirror of `char_trigram_entropy` over documents.lang."""
    return f"""
    WITH cte_pos AS (
        SELECT lang, text, unnest(range(0, len(text) - 2)) AS p
        FROM documents WHERE len(text) >= 3
    ),
    cte_tc AS (
        SELECT lang, substr(text, CAST(p + 1 AS INTEGER), 3) AS g,
               CAST(count(*) AS BIGINT) AS c
        FROM cte_pos GROUP BY 1, 2
    ),
    cte_tot AS (
        SELECT lang, CAST(sum(c) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_tri_types
        FROM cte_tc GROUP BY 1
    ),
    cte_h3 AS (
        SELECT t.lang,
               -sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                   AS h_tri_raw
        FROM cte_tc t JOIN cte_tot USING (lang) GROUP BY 1
    ),
    cte_ctx AS (
        SELECT lang, substr(g, 1, 2) AS b, CAST(sum(c) AS BIGINT) AS c
        FROM cte_tc GROUP BY 1, 2
    ),
    cte_h2 AS (
        SELECT x.lang,
               -sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                   AS h_bi_raw
        FROM cte_ctx x JOIN cte_tot USING (lang) GROUP BY 1
    )
    SELECT lang, n AS n_tri, n_tri_types,
           round(h_tri_raw, {dp}) AS h_tri,
           round(h_bi_raw, {dp}) AS h_bi,
           round(h_tri_raw - h_bi_raw, {dp}) AS h_cond
    FROM cte_tot JOIN cte_h3 USING (lang) JOIN cte_h2 USING (lang)
    """
