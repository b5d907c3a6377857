"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash
(SURVEY.md §2C).

Scale design (100 TB): every operator is a bounded number of wide
stages with map-side pre-aggregation — no driver-side loops, no
collect. The only shuffles are (a) the content-hash exchange for exact
dedup and (b) the band-bucket exchange for LSH; both key on
high-cardinality hashes, so AQE's coalescing/skew handling (the
engine-side analogue of Celeborn's partition split + skew split,
CelebornPartitionUtil.java:60) keeps partitions balanced.

The exactly-once contract itself — drop replayed batches / losing
attempts — is what the reference implements at the byte level
(CelebornInputStream.java:864-904); relationally it is dropDuplicates
on a content identity, which is what exact_dedup exposes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from celeborn_spark.operators import _spread, hold
from celeborn_spark.operators.textops import tokens


def content_hash(text: Column | str) -> Column:
    """Deterministic content identity (md5 — available in both Spark
    and the DuckDB oracle; swap for xxhash64 when oracle parity is not
    needed and speed matters)."""
    return F.md5(F.col(text) if isinstance(text, str) else text)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content hash.

    groupBy(hash) -> min(id): one exchange on the hash, partial agg
    map-side (reference A3 analogue) so duplicate-heavy partitions
    shrink before the shuffle.
    """
    return (
        df.withColumn("content_hash", content_hash(text_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_index: DataFrame,
    text_col: str,
    id_col: str,
    index_hash_col: str = "content_hash",
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus, the incremental
    form of exact_dedup for rolling ingestion (a new crawl arrives; the
    historical corpus is already hashed): keep one min-id representative
    per content hash within the batch, then left-anti join against the
    corpus hash index.

    At 100 TB the index is a hash-bucketed table of digests only (a few
    % of corpus bytes); the anti-join shuffles slim (hash, id) rows on
    the same key the index is bucketed by, so the corpus itself is
    never re-read — the point of keeping an index instead of re-running
    exact_dedup over old+new. Within-batch dedup happens FIRST so the
    join input is already duplicate-free."""
    batch = (
        new_docs.withColumn(index_hash_col, content_hash(text_col))
        .groupBy(index_hash_col)
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
    )
    return batch.join(
        corpus_index.select(index_hash_col).distinct(),
        index_hash_col,
        "left_anti",
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 20,
    block_chars: int = 32,
) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance with length blocking:
    docs whose lengths fall in the same `block_chars`-wide band are
    candidate pairs (two docs within `max_dist` edits differ by at most
    `max_dist` chars of length, so a wide-enough band catches them
    unless they straddle a boundary — the standard blocking trade-off),
    verified with JVM-side levenshtein. The threshold argument makes
    Spark bail out of the O(len^2) DP early once distance exceeds
    `max_dist` — the scale lever DuckDB's plain levenshtein lacks.

    The band is the join key, so the self-join is one exchange and
    O(N^2) only within a band — same discipline as the signature
    buckets in embedding near-dup (operators/similarity.py)."""
    if max_dist < 0:
        raise ValueError(f"max_dist must be >= 0, got {max_dist}")
    if block_chars < 1:
        raise ValueError(f"block_chars must be >= 1, got {block_chars}")
    t = df.select(
        F.col(id_col),
        F.col(text_col).alias("_txt"),
        F.floor(F.length(text_col) / block_chars).alias("_blk"),
    )
    a = t.select(
        F.col(id_col).alias("id_a"), F.col("_txt").alias("_ta"), "_blk"
    )
    b = t.select(
        F.col(id_col).alias("id_b"), F.col("_txt").alias("_tb"), "_blk"
    )
    return (
        a.join(b, "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("_ta", "_tb", max_dist))
        .filter(F.col("dist") >= 0)  # threshold form returns -1 past max_dist
        .select("id_a", "id_b", "dist")
    )


def shingles_from_tokens(toks: Column, n: int) -> Column:
    """Distinct n-word shingles from an ALREADY-MATERIALIZED token
    array column. `toks` MUST be a plain column reference (projected in
    a prior select), not an inline split(): element_at inside the
    transform lambda embeds its argument subtree per element, so an
    inline tokenization is re-run len(toks)*n times per row — the same
    O(len^2) trap textops.bigrams documents."""
    shingle_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]
    )
    return F.when(
        F.size(toks) >= n,
        F.array_distinct(F.transform(F.sequence(F.lit(0), F.size(toks) - n), shingle_at)),
    ).otherwise(F.array().cast("array<string>"))


def word_shingles(text: Column | str, n: int) -> Column:
    """Distinct n-word shingles of a whitespace-tokenized text.

    NOTE: evaluates tokens(text) inside every element_at — fine for
    tests and one-off expressions; hot paths should project the token
    array first and use shingles_from_tokens (see shingle_table)."""
    return shingles_from_tokens(tokens(text), n)


def shingle_table(
    df: DataFrame, id_col: str, text_col: str, n: int, with_size: bool = False
) -> DataFrame:
    """(id, shingle) pairs, unique per doc — the posting-list layout.
    Tokenization is materialized in its own projection so the shingle
    transform references the token attribute (split runs once per row,
    not once per element_at). array_distinct runs BEFORE the explode,
    so rows are already unique and no distinct-exchange is spent here
    (a full shuffle of the widest intermediate in the pipeline).

    with_size=True additionally emits ``n_shingles`` = the per-doc
    distinct-shingle count, computed IN-ROW off the pre-explode array
    (size of the distinct array == the row count the old per-doc
    ``sizes`` aggregate produced) — zero extra exchange, and consumers
    no longer need a doc-keyed count plus join-back (r13). The array
    projection stays its own select so size() and explode() reference
    one materialized attribute instead of duplicating the transform.

    The explode MUST be explode_outer + isNotNull above the Generate:
    for a plain ``explode(attr)`` InferFiltersFromGenerate injects
    ``size(attr)>0 AND isnotnull(attr)`` and predicate pushdown then
    substitutes the whole shingle transform TWICE into a Filter BELOW
    the spread exchange — the entire tokenize pass re-runs on the
    single-split scan, one core (measured 13.4 s vs 0.5 s at sf0.1).
    The rule skips outer generates; shingles are concat_ws output so
    the only null shingle rows are the empty-array docs the plain
    explode dropped anyway — identical rows out."""
    toked = _spread(df, id_col).select(id_col, tokens(text_col).alias("_toks"))
    if not with_size:
        return toked.select(
            id_col, F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle")
        )
    arr = toked.select(
        id_col, shingles_from_tokens(F.col("_toks"), n).alias("_arr")
    )
    return (
        arr.select(
            id_col,
            F.size("_arr").cast("long").alias("n_shingles"),
            F.explode_outer("_arr").alias("shingle"),
        )
        .filter(F.col("shingle").isNotNull())
    )


def drop_hot_shingles(sh: DataFrame, max_shingle_freq: int) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap BEFORE any
    shingle self-join. One cheap aggregate on the shingle key; without
    it, one boilerplate sentence shared by 10^6 docs makes the self-join
    emit 10^12 candidate rows. Hot shingles carry no near-dup signal
    (they match everything), so the Jaccard DENOMINATOR keeps counting
    them — only candidate generation skips them."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_shingle_freq)
        .select("shingle")
    )
    # broadcast anti-join: the hot set is tiny by construction
    return sh.join(F.broadcast(hot), "shingle", "left_anti")


def _pairs_with_jaccard(
    common: DataFrame, sizes: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, n_common) + per-doc sizes -> jaccard-filtered pairs.
    sizes is one slim row per doc: small enough for AQE to convert these
    to broadcast joins at test SFs, correctly shuffled at corpus scale —
    no hint, the runtime stats decide."""
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs.

    shingle explode -> self-join on shingle -> count common -> filter by
    |A∩B| / (|A|+|B|-|A∩B|) >= threshold. The self-join shuffles on the
    shingle key; at 100 TB set `max_shingle_freq` to drop ultra-frequent
    shingles first (drop_hot_shingles) — they produce quadratic
    candidates and carry no signal. Pairs whose overlap is ONLY hot
    shingles are then missed by construction; sizes still count every
    shingle, so reported jaccard values are exact for surviving pairs
    minus the hot overlap (a strict lower bound).

    r13: per-doc sizes ride the shingle rows IN-ROW (shingle_table
    with_size) — the doc-keyed ``sizes`` aggregate and both post-agg
    size joins are gone — and a size-band prefilter drops candidate
    rows BEFORE the pair shuffle: n_common <= least(n_a, n_b), and for
    fixed (n_a, n_b) the rounded jaccard is nondecreasing in n_common
    (real quotient increasing; IEEE division and round(,6) are
    monotone), so any pair whose BEST-CASE jaccard — least/(n_a+n_b-
    least), the same expression shape the final filter evaluates —
    rounds below threshold could never survive. Identical output pairs
    and values; strictly fewer rows ride the (id_a, id_b) exchange.
    """
    # the posting list feeds both join sides — hold it, not re-explode 2x
    sh = shingle_table(df, id_col, text_col, n, with_size=True).transform(hold)
    joinable = sh if max_shingle_freq is None else drop_hot_shingles(sh, max_shingle_freq)

    a = joinable.select(
        F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"), "shingle"
    )
    b = joinable.select(
        F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"), "shingle"
    )
    least = F.least(F.col("n_a"), F.col("n_b"))
    best_case = F.round(
        least / (F.col("n_a") + F.col("n_b") - least), 6
    )
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(best_case >= threshold)
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """num_hashes-wide MinHash signature as a single array expression:
    for seed s, min over shingles of xxhash64(shingle, s).

    Convenience form for ad-hoc column use. The LSH pipeline uses the
    exploded formulation in minhash_lsh_candidates instead — this
    expression re-hashes every shingle string once per lane, which is
    num_hashes x more string hashing than necessary."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda t, s=s: F.xxhash64(t, F.lit(s))))
            for s in range(num_hashes)
        ]
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_kind: str = "xxhash64",
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: signature -> `bands` bands of rows
    (num_hashes/bands each) -> hash each band -> exchange on
    (band_idx, band_key) -> pairs within a bucket.

    One shuffle total (the band-bucket exchange). Docs agreeing on any
    band collide; with 32 hashes / 8 bands the ~0.5-Jaccard cutoff
    suits near-dup mining. Candidates must be verified (jaccard_pairs
    or verified_lsh_dedup) — LSH alone admits false positives.

    hash_kind:
      - "xxhash64" (default, fastest): hash each shingle STRING once,
        derive every lane by re-mixing the 64-bit base hash with the
        lane seed — 12 bytes per xxhash64 call instead of a full
        string. Engine-specific values.
      - "md5": lane value = md5 hex digest of "<lane>:<shingle>"; the
        min of fixed-width hex strings is a valid min-hash, and DuckDB
        computes the identical digests, so the whole LSH pipeline is
        oracle-checkable bit-for-bit. ~num_hashes string hashes per
        shingle — the portability tax.
    """
    rows = num_hashes // bands
    banded = banded_signatures(
        df, id_col, text_col, n, num_hashes, bands, hash_kind,
        max_shingle_freq, shingles,
    )
    left = banded.select(F.col("doc").alias("id_a"), "band_idx", "band_key")
    right = banded.select(F.col("doc").alias("id_b"), "band_idx", "band_key")
    return (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def banded_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    hash_kind: str = "xxhash64",
    max_shingle_freq: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc, band_idx, band_key): the LSH band-bucket index relation —
    the persistable artifact of an incremental near-dup pipeline (store
    it; new batches join against it instead of re-signing the corpus).
    Factored out of minhash_lsh_candidates so the self-join (batch
    dedup) and index-join (incremental) paths share one signature
    implementation."""
    rows = num_hashes // bands
    sh = shingles if shingles is not None else shingle_table(df, id_col, text_col, n)
    if max_shingle_freq is not None:
        sh = drop_hot_shingles(sh, max_shingle_freq)
    # The per-doc min over each lane is num_hashes MIN aggregates in ONE
    # groupBy exchange (map-side partial mins shrink the shuffle,
    # reference A3 analogue).
    if hash_kind == "xxhash64":
        base = sh.select(F.col(id_col).alias("doc"), F.xxhash64("shingle").alias("h"))
        lanes = [
            F.min(F.xxhash64(F.col("h"), F.lit(s))).alias(f"m{s}")
            for s in range(num_hashes)
        ]
    elif hash_kind == "md5":
        # one md5 digest yields FOUR independent 32-bit lanes (8 hex
        # chars each; fixed width makes lexicographic min numeric min),
        # so num_hashes lanes cost ceil(num_hashes/4) digests per
        # shingle — the portability tax divided by 4.
        base = sh.select(F.col(id_col).alias("doc"), "shingle")

        def md5_lane(lane: int):
            digest = F.md5(F.concat_ws(":", F.lit(str(lane // 4)), F.col("shingle")))
            return F.substring(digest, 1 + 8 * (lane % 4), 8)

        lanes = [F.min(md5_lane(s)).alias(f"m{s}") for s in range(num_hashes)]
    else:
        raise ValueError(f"hash_kind must be 'xxhash64' or 'md5', got {hash_kind!r}")
    sig = base.groupBy("doc").agg(*lanes)
    return sig.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|", *[F.col(f"m{b * rows + r}").cast("string") for r in range(rows)]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )


def incremental_lsh_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    hash_kind: str = "md5",
) -> DataFrame:
    """Rolling-ingestion NEAR-dup: which new-batch docs near-duplicate
    the existing corpus — (id_new, id_old, jaccard) pairs above the
    threshold. The near-dup twin of incremental_dedup (which catches
    exact digests only).

    Scale shape: the corpus's banded signatures are the INDEX (at scale
    persisted once by `banded_signatures` and appended per batch, never
    recomputed); candidates come from a batch-vs-index band join —
    batch-sized × bucket occupancy, NOT corpus self-pairs — and only
    candidates pay the exact-Jaccard verification (shingle joins with
    map-side counts)."""
    sh_c = shingle_table(corpus, id_col, text_col, n).transform(hold)
    sh_b = shingle_table(batch, id_col, text_col, n).transform(hold)
    bc = banded_signatures(
        corpus, id_col, text_col, n, num_hashes, bands, hash_kind, shingles=sh_c
    )
    bb = banded_signatures(
        batch, id_col, text_col, n, num_hashes, bands, hash_kind, shingles=sh_b
    )
    cand = (
        bb.select(F.col("doc").alias("id_new"), "band_idx", "band_key")
        .join(
            bc.select(F.col("doc").alias("id_old"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .select("id_new", "id_old")
        .distinct()
    )
    sizes_b = sh_b.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_new"))
    sizes_c = sh_c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_old"))
    a = sh_b.select(F.col(id_col).alias("id_new"), "shingle")
    b = sh_c.select(F.col(id_col).alias("id_old2"), F.col("shingle").alias("shingle_b"))
    common = (
        cand.join(a, "id_new")
        .join(
            b,
            (F.col("id_old") == F.col("id_old2"))
            & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        common.join(sizes_b, common["id_new"] == sizes_b[id_col])
        .drop(id_col)
        .join(sizes_c, common["id_old"] == sizes_c[id_col])
        .drop(id_col)
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("n_new") + F.col("n_old") - F.col("n_common")),
                6,
            ),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_new", "id_old", "jaccard"
    )


def verified_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    hash_kind: str = "xxhash64",
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard — the scale path for
    near-dup mining: LSH prunes the O(N^2) pair space to bucket
    collisions, the exact check removes false positives.
    `max_shingle_freq` caps hot shingles in BOTH the candidate
    generation and the verification join (drop_hot_shingles)."""
    # one materialized posting list feeds signature lanes, sizes and
    # both verification join sides (otherwise re-exploded 4x)
    sh = shingle_table(df, id_col, text_col, n).transform(hold)
    cand = minhash_lsh_candidates(
        df, id_col, text_col, n, num_hashes, bands, hash_kind, max_shingle_freq,
        shingles=sh,
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    joinable = sh if max_shingle_freq is None else drop_hot_shingles(sh, max_shingle_freq)

    a = joinable.select(F.col(id_col).alias("id_a"), "shingle")
    b = joinable.select(
        F.col(id_col).alias("id_b2"), F.col("shingle").alias("shingle_b")
    )
    common = (
        cand.join(a, "id_a")
        .join(
            b,
            (F.col("id_b") == F.col("id_b2")) & (F.col("shingle") == F.col("shingle_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return _pairs_with_jaccard(common, sizes, id_col, threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash: explode tokens, hash each with xxhash64, then per
    bit sum +1/-1 across tokens and take the sign. The per-doc bit
    aggregation is `bits` SUM aggregates in ONE groupBy — a single
    exchange on the doc id, all JVM-side."""
    tok = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
        .withColumn("h", F.xxhash64("tok"))
    )

    bit_sums = tok.groupBy("doc").agg(
        *[
            F.sum(
                F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    fingerprint = sum(
        [F.when(F.col(f"b{i}") > 0, F.lit(2**i).cast("long")).otherwise(F.lit(0).cast("long"))
         for i in range(bits - 1)],  # skip the sign bit to stay in signed 64
        F.lit(0).cast("long"),
    )
    return bit_sums.select(F.col("doc").alias(id_col), fingerprint.alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_md5(df: DataFrame, id_col: str, text_col: str, bits: int = 32) -> DataFrame:
    """Portable SimHash: token hash = first bits/4 hex chars of
    md5(token), identical in any engine (same portability trick as the
    md5 MinHash mode), so the fingerprint is oracle-checkable. Same
    plan shape as simhash(): one exchange, `bits` SUM aggregates.

    Bit j reads hex digit j//4 (value v via base-16 conv) at position
    j%4: (v >> (j%4)) & 1."""
    if bits % 4 or bits > 64:
        raise ValueError("bits must be a multiple of 4, at most 64")
    tok = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("tok"))
        .select("doc", F.substring(F.md5("tok"), 1, bits // 4).alias("h"))
    )

    def bit(j: int) -> Column:
        v = F.conv(F.substring(F.col("h"), 1 + j // 4, 1), 16, 10).cast("int")
        return F.shiftright(v, j % 4).bitwiseAND(F.lit(1))

    bit_sums = tok.groupBy("doc").agg(
        *[F.sum(F.when(bit(j) == 1, 1).otherwise(-1)).alias(f"b{j}") for j in range(bits)]
    )
    fingerprint = sum(
        [
            F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
            for j in range(bits)
        ],
        F.lit(0).cast("long"),
    )
    return bit_sums.select(F.col("doc").alias(id_col), fingerprint.alias("simhash"))


def simhash_md5_oracle_sql(table: str, id_col: str, text_col: str, bits: int = 32) -> str:
    """The DuckDB mirror of simhash_md5, generated for `bits` lanes."""
    hexcase = (
        "CASE {c} "
        + " ".join(f"WHEN '{d}' THEN {int(d, 16)}" for d in "0123456789abcdef")
        + " END"
    )
    bit_exprs = []
    for j in range(bits):
        digit = f"substr(h, {1 + j // 4}, 1)"
        v = hexcase.format(c=digit)
        bit_exprs.append(
            f"sum(CASE WHEN (({v}) // {1 << (j % 4)}) % 2 = 1 THEN 1 ELSE -1 END) AS b{j}"
        )
    fp = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(bits)
    )
    return f"""
    WITH toks AS (
        SELECT {id_col}, unnest(string_split({text_col}, ' ')) AS tok FROM {table}
    ),
    h AS (SELECT {id_col}, substr(md5(tok), 1, {bits // 4}) AS h FROM toks),
    sums AS (SELECT {id_col}, {", ".join(bit_exprs)} FROM h GROUP BY {id_col})
    SELECT {id_col}, {fp} AS simhash FROM sums
    """


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------


def ngram_decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Training-corpus decontamination: flag training docs that share
    any n-gram with an evaluation set (the standard guard against
    benchmark leakage into training data — the same shingle machinery
    as near-dup mining, but joined against a SMALL reference corpus).

    Returns (id, n_shared) — one row per CONTAMINATED training doc with
    the count of distinct shared n-grams. The eval shingle set is tiny
    relative to the corpus (benchmarks are MBs, corpora are TBs), so it
    broadcasts: the training side streams through a broadcast-hash
    semi-aggregate with NO shuffle of the corpus. If the eval side ever
    outgrows the broadcast threshold, drop the hint and Spark falls
    back to a shuffle join keyed on the shingle.
    """
    train_sh = shingle_table(train, id_col, text_col, n)
    eval_sh = (
        eval_set.select(tokens(text_col).alias("_toks"))
        .select(F.explode(shingles_from_tokens(F.col("_toks"), n)).alias("shingle"))
        .distinct()
    )
    return (
        train_sh.join(F.broadcast(eval_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def dup_span_profile(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """Per-doc exact-substring duplication profile: of a doc's distinct
    n-token spans, how many also occur in ANOTHER doc — the
    span-granular dedup signal of Lee et al.'s "Deduplicating Training
    Data" (exact substring duplication localizes boilerplate and
    copied passages that whole-doc Jaccard misses when the rest of the
    doc differs). Output: (id, n_spans, n_dup_spans, dup_frac 4dp).

    Plan shape: one shingle exchange builds the span document-frequency
    relation (map-side partial counts absorb hot boilerplate spans);
    docs join it on the span key and aggregate back per doc — no
    pair-space is ever materialized, so the profile is linear where
    pairwise dedup is quadratic."""
    sh = shingle_table(df, id_col, text_col, n).transform(hold)
    df_counts = sh.groupBy("shingle").agg(
        F.count_distinct(id_col).alias("_df")
    )
    return (
        sh.join(df_counts, "shingle")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_spans"),
            F.sum(F.when(F.col("_df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .withColumn(
            # 4dp HALF-UP via all-integer division, not round(): the
            # ratio of two counts is an exact rational that can land on
            # a half-way point (x/32 = 0.xxxx5), where Spark's decimal
            # HALF_UP and DuckDB's binary-double rounding disagree (the
            # finalize_agg tie class, VERDICT r7). The final /1e4 is one
            # IEEE op on an exact integer — identical in every engine.
            "dup_frac",
            F.expr(
                "cast((n_dup_spans * 20000 + n_spans) div (2 * n_spans) as double)"
            )
            / F.lit(1e4),
        )
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float,
    strategy: str = "auto",
) -> DataFrame:
    """EXACT token-set Jaccard join via prefix filtering (AllPairs /
    PPJoin, Bayardo et al. WWW'07; Xiao et al. ICDE'08) — the third
    dedup path: exact like `jaccard_pairs` but SUBQUADRATIC like LSH.

    Each doc's distinct tokens are ordered by global document
    frequency (rarest first, token tiebreak); with prefix length
    p = n - ceil(t*n) + 1, any pair with Jaccard >= t must share a
    PREFIX token (if the smallest-ordered common element sat outside
    either prefix, ALL common elements would fit in that doc's
    ceil(t*n)-1 suffix slots — fewer than the >= ceil(t*n) overlap the
    threshold forces). So the candidate join runs prefix-vs-prefix
    only, and frequency ordering makes prefixes rare tokens —
    candidates per token are df_prefix(token)-choose-2, tiny exactly
    where a naive token join explodes. Verification computes true
    Jaccard on the full sets, so the output is EXACT (identical to the
    quadratic all-pairs oracle), at bucket-join cost.

    PREFIX FILTERING NEEDS A LONG-TAIL VOCABULARY. On a corpus whose
    vocabulary is tiny (every token hot — e.g. the 31-word synthetic
    testdata corpus), "rarest-first" prefixes are still hot and the
    prefix join degenerates to worse-than-quadratic (measured at
    sf0.1: 22M candidate pairs from 14k prefix rows over 31 tokens).
    For that regime the LENGTH-BAND plan is exact and bounded: a pair
    with Jaccard >= t must satisfy ceil(t*na) <= nb <= floor(na/t), so
    each doc emits its <= n*(1/t - 1)+1 compatible sizes and candidates
    come from an ordinary equi-join on the size key (3.8M candidates on
    the same corpus). ``strategy``:

    - "prefix": AllPairs prefix join (the large-vocabulary winner);
    - "length": length-band equi-join (the dense/tiny-vocabulary
      winner; also the right choice for short-set corpora);
    - "auto" (default): measure both candidate counts with two cheap
      aggregates over the already-built relations and take the
      smaller — the reference's fallback-policy pattern (A28,
      SparkShuffleManager.registerShuffle:213-234 picks a shuffle
      implementation per workload from cheap runtime stats; two scalar
      driver reads here are exactly AQE-style stats-driven planning).

    Scale shape: one vocab agg + one token-keyed join + one doc-keyed
    sort/collect + ONE candidate equi-join (token- or size-keyed). No
    windows; verification computes true Jaccard on the full sets, so
    every strategy returns identical pairs. Reference analogue: the
    band-bucket exchange discipline of minhash_lsh_candidates with an
    exactness guarantee instead of a probabilistic one."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    toks = (
        _spread(df, id_col)
        .select(F.col(id_col).alias("_id"), F.explode(F.array_distinct(tokens(text_col))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("_tf"))
    ordered = (
        toks.join(vocab, "tok")
        .groupBy("_id")
        .agg(
            F.sort_array(F.collect_list(F.struct(F.col("_tf"), F.col("tok")))).alias("st"),
            F.count(F.lit(1)).alias("n"),
        )
        .withColumn(
            "p",
            (F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1).cast("int"),
        )
        # sets + prefixes feed three branches (prefix explode x2 via
        # self-join + verification join-back) — materialize once
        .transform(hold)
    )
    if strategy not in ("auto", "prefix", "length"):
        raise ValueError(f"unknown strategy {strategy!r}")

    def prefix_candidates(dedup: bool = True) -> DataFrame:
        # a pair is generated once per SHARED prefix token; callers
        # that verify with the ~ns-scale mask kernel skip this distinct
        # (the candidate-mass exchange was the sf1 spill) and dedup the
        # tiny survivor set after verification instead
        pref = ordered.select(
            "_id", F.explode(F.slice("st", F.lit(1), F.col("p"))).alias("s")
        ).select("_id", F.col("s.tok").alias("ptok"))
        cand = (
            pref.alias("a")
            .join(pref.alias("b"), "ptok")
            .filter(F.col("a._id") < F.col("b._id"))
            .select(F.col("a._id").alias("ia"), F.col("b._id").alias("ib"))
        )
        return cand.distinct() if dedup else cand

    def length_candidates() -> DataFrame:
        # each doc emits its compatible LARGER-OR-EQUAL set sizes
        # (bounded fan-out <= n*(1/t - 1) + 1); the unordered pair is
        # generated exactly once, by the smaller-n side (id tiebreak
        # on equal sizes)
        emits = ordered.select(
            "_id",
            F.col("n").alias("na"),
            F.explode(
                F.sequence(
                    F.col("n"), F.floor(F.col("n") / F.lit(threshold)).cast("long")
                )
            ).alias("m"),
        )
        right = ordered.select(F.col("_id").alias("ib"), F.col("n").alias("m"))
        return (
            emits.join(right, "m")
            .filter(
                (F.col("na") < F.col("m"))
                | ((F.col("na") == F.col("m")) & (F.col("_id") < F.col("ib")))
            )
            # generation is keyed smaller-SIZE-first; normalize to the
            # id_a < id_b output contract (each unordered pair is
            # generated exactly once, so no distinct is needed)
            .select(
                F.least(F.col("_id"), F.col("ib")).alias("ia"),
                F.greatest(F.col("_id"), F.col("ib")).alias("ib"),
            )
        )

    degenerate = False
    if strategy == "auto":
        # Bounded collect: two 1-row scalar stats over the
        # checkpointed relation pick the plan (A28 fallback)
        pref_cnt = (
            ordered.select(
                "_id", F.explode(F.slice("st", F.lit(1), F.col("p"))).alias("s")
            )
            .groupBy(F.col("s.tok"))
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2).alias("est"))
            .first()["est"]
            or 0
        )
        # Bounded collect: this is the doc-LENGTH histogram — one row
        # per distinct token count, cardinality <= max tokens per doc
        # (a few thousand), NOT row data. The A28 strategy pick needs
        # it driver-side to cost the length-band candidate count.
        hist = {
            r["n"]: r["c"]
            for r in ordered.groupBy("n").agg(F.count(F.lit(1)).alias("c")).collect()
        }
        import math as _math

        len_cnt = 0
        for na, ca in hist.items():
            for nb in range(na, int(_math.floor(na / threshold)) + 1):
                cb = hist.get(nb, 0)
                len_cnt += ca * (ca - 1) // 2 if nb == na else ca * cb
        strategy = "prefix" if pref_cnt <= len_cnt else "length"
        # Degenerate-vocabulary detector, free off the stats already
        # collected: when BOTH candidate estimates dwarf the corpus
        # (every token hot, e.g. replica-scale synthetic data), even
        # the winning strategy floods — worth paying one vocab count
        # to see whether the mask kernel applies (sf1 rung finding:
        # 48 s / 19.6 GB candidate-distinct spill in this regime).
        degenerate = min(pref_cnt, len_cnt) > 20 * sum(hist.values())

    # Verification kernel, picked by a measured stat (A28 again): a
    # candidate FLOOD regime (length-band pick, or an auto pick whose
    # candidate estimates dwarf the corpus) means a tiny-to-small
    # vocabulary, and when every distinct token fits one bit of a
    # <=8-long mask (V <= 512) the exact intersection is a sum of
    # bit_count(maskA & maskB) words — ~100 ns-1 µs/pair vs ~10 µs for
    # array_intersect over that flood (measured r13: 38 s of the
    # operator's 45 s CPU was the intersect; the sf1 310-token regime
    # fell back to it). Same exact integers -> the identical raw-ratio
    # filter and 6dp output. V counts over the CHECKPOINTED ordered
    # relation (no re-tokenize); the long-tail prefix regime never
    # pays any of this.
    vocab_small = False
    words = 0
    if strategy == "length" or degenerate:
        v_count = (
            ordered.select(F.explode("st").alias("s"))
            .select("s.tok")
            .distinct()
            .count()
        )
        words = (v_count + 63) // 64
        # 0 < bound: an empty vocabulary would build a zero-column
        # mask aggregate; the array kernel handles the empty corpus
        vocab_small = 0 < v_count <= 512
    # mask verification is idempotent per pair, so the prefix path can
    # skip its candidate distinct (the heaviest exchange of the flood
    # regime) and dedup the tiny survivor set after the filter
    dedup_late = vocab_small and strategy == "prefix"
    cand = (
        prefix_candidates(dedup=not dedup_late)
        if strategy == "prefix"
        else length_candidates()
    )
    if vocab_small:
        from pyspark.sql.window import Window as W

        idxs = (
            ordered.select(F.explode("st").alias("s"))
            .select(F.col("s.tok").alias("tok"))
            .distinct()
            .withColumn(
                "idx", F.row_number().over(W.orderBy("tok")) - 1
            )  # V-row window, only ever evaluated when V <= 512
        )
        masks = (
            ordered.select("_id", "n", F.explode("st").alias("s"))
            .join(F.broadcast(idxs), F.col("s.tok") == F.col("tok"))
            .groupBy("_id", "n")
            .agg(
                *[
                    F.expr(
                        f"bit_or(CASE WHEN idx DIV 64 = {w}"
                        f" THEN shiftleft(1L, CAST(idx % 64 AS INT))"
                        f" ELSE 0L END)"
                    ).alias(f"mask{w}")
                    for w in range(words)
                ]
            )
        )
        inter_sql = " + ".join(
            f"bit_count(ma{w} & mb{w})" for w in range(words)
        )
        verified = (
            cand.join(
                masks.select(
                    F.col("_id").alias("ia"),
                    F.col("n").alias("na_"),
                    *[F.col(f"mask{w}").alias(f"ma{w}") for w in range(words)],
                ),
                "ia",
            )
            .join(
                masks.select(
                    F.col("_id").alias("ib"),
                    F.col("n").alias("nb_"),
                    *[F.col(f"mask{w}").alias(f"mb{w}") for w in range(words)],
                ),
                "ib",
            )
            .withColumn("inter", F.expr(inter_sql))
            .withColumn(
                "raw_jac",
                F.col("inter") / (F.col("na_") + F.col("nb_") - F.col("inter")),
            )
            .filter(F.col("raw_jac") >= threshold)
        )
        out = verified.select(
            F.col("ia").alias("id_a"),
            F.col("ib").alias("id_b"),
            F.round("raw_jac", 6).alias("jac"),
        )
        # every repeat of a candidate pair verifies to the identical
        # row, so the survivor distinct is exact
        return out.distinct() if dedup_late else out
    sets = ordered.select(
        "_id", F.transform("st", lambda s: s["tok"]).alias("toks")
    )
    verified = (
        cand.join(sets.select(F.col("_id").alias("ia"), F.col("toks").alias("ta")), "ia")
        .join(sets.select(F.col("_id").alias("ib"), F.col("toks").alias("tb")), "ib")
        .withColumn("inter", F.size(F.array_intersect("ta", "tb")))
        # filter on the RAW ratio (a correctly-rounded division of two
        # exact ints — bit-identical in any IEEE engine), NOT the 6dp
        # rounded value: a true-Jaccard just under t can round UP to t,
        # and the prefix filter (correctly) never generates that pair
        .withColumn(
            "raw_jac",
            F.col("inter") / (F.size("ta") + F.size("tb") - F.col("inter")),
        )
        .filter(F.col("raw_jac") >= threshold)
    )
    return verified.select(
        F.col("ia").alias("id_a"),
        F.col("ib").alias("id_b"),
        F.round("raw_jac", 6).alias("jac"),
    )


def set_similarity_oracle_sql(
    table: str, id_col: str, text_col: str, threshold: float
) -> str:
    """DuckDB mirror: brute-force all-pairs token-set Jaccard — the
    quadratic ground truth the prefix-filtered join must match exactly
    (same pairs, same 6dp values). Intersection via list_filter +
    list_contains (order-insensitive set semantics, like Spark's
    array_intersect on distinct arrays)."""
    return f"""
    WITH t AS (
        SELECT {id_col} AS id,
               list_distinct(list_filter(string_split({text_col}, ' '),
                                         x -> x <> '')) AS s
        FROM {table}
    ),
    nz AS (SELECT id, s, len(s) AS n FROM t WHERE len(s) > 0),
    pairs AS (
        SELECT a.id AS id_a, b.id AS id_b,
               len(list_filter(a.s, x -> list_contains(b.s, x))) AS inter,
               a.n + b.n AS tot
        FROM nz a JOIN nz b ON a.id < b.id
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (tot - inter), 6) AS jac
    FROM pairs
    WHERE inter * 1.0 / (tot - inter) >= {threshold}
    """


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 4, w: int = 8
) -> DataFrame:
    """(id, pos, fp) — winnowing document fingerprints (Schleimer,
    Wilkerson & Aiken, SIGMOD'03 — the MOSS algorithm): hash every
    positional k-token gram, slide a w-hash window, and keep the
    RIGHTMOST minimal hash of each window. Winnowing guarantees any
    shared run of w+k-1 tokens between two docs yields at least one
    shared selected fingerprint, at expected density 2/(w+1) — the
    robust local-similarity signature that whole-doc hashes miss and
    full k-gram inverted indexes overpay for.

    fp = first 8 hex chars of md5(gram) (lexicographic min == numeric
    min on fixed-width lowercase hex, identical in both engines); the
    rightmost-of-ties rule is the struct-min trick: min over the
    window frame of (h, -pos) picks the smallest hash, then the
    largest position. Docs with fewer than w grams winnow their single
    clipped window (the frame clips at the partition end in both
    engines).

    Scale shape: tokenize+hash is a zero-shuffle map stage (input
    spread across cores first); ONE doc-keyed window exchange computes
    every frame min; distinct dedups per doc. Window state is the doc's
    OWN gram list — bounded by document length, never corpus-sized."""
    from pyspark.sql.window import Window as W

    gram_at = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("_toks"), i + F.lit(j + 1)) for j in range(k)]
    )
    toked = _spread(df, id_col).select(id_col, tokens(text_col).alias("_toks"))
    grams = toked.select(
        id_col,
        F.posexplode(
            F.when(
                F.size("_toks") >= k,
                F.transform(F.sequence(F.lit(0), F.size("_toks") - k), gram_at),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "gram"),
    )
    hashed = grams.select(
        id_col,
        "pos",
        F.substring(F.md5("gram"), 1, 8).alias("h"),
        (-F.col("pos")).alias("np"),
    )
    win = W.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    sel = hashed.select(
        id_col,
        F.col("pos").alias("start"),
        F.min(F.struct("h", "np")).over(win).alias("m"),
        F.count(F.lit(1)).over(W.partitionBy(id_col)).alias("_n"),
    ).filter(F.col("start") <= F.greatest(F.col("_n") - w, F.lit(0)))
    return sel.select(
        id_col,
        (-F.col("m.np")).cast("int").alias("pos"),
        F.col("m.h").alias("fp"),
    ).distinct()


def winnow_oracle_sql(
    table: str, id_col: str, text_col: str, k: int = 4, w: int = 8
) -> str:
    """DuckDB mirror of `winnow_fingerprints`: same positional grams,
    same struct-min-over-frame rightmost-tie rule."""
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(k))
    return f"""
    WITH toks AS (SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}),
    grams AS (
        SELECT {id_col},
               unnest(range(1, greatest(len(t) - {k - 1}, 0) + 1)) - 1 AS pos,
               unnest(list_transform(range(1, greatest(len(t) - {k - 1}, 0) + 1),
                      i -> {gram})) AS gram
        FROM toks
    ),
    hashed AS (
        SELECT {id_col}, pos, substr(md5(gram), 1, 8) AS h, -pos AS np FROM grams
    ),
    sel AS (
        SELECT {id_col}, pos AS start,
               min({{'h': h, 'np': np}}) OVER (
                   PARTITION BY {id_col} ORDER BY pos
                   ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS m,
               count(*) OVER (PARTITION BY {id_col}) AS n
        FROM hashed
    )
    SELECT DISTINCT {id_col}, CAST(-m.np AS INT) AS pos, m.h AS fp
    FROM sel WHERE start <= greatest(n - {w}, 0)
    """


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 4,
    threshold_den: int = 5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """DIRECTED containment near-dup pairs: (contained, container) where
    |A ∩ B| / |A| >= threshold_num/threshold_den, A != B. Symmetric
    Jaccard misses exactly this case — a short document quoted whole
    inside a long one has tiny Jaccard but containment ~1; this is the
    quote/subset/boilerplate-inclusion detector (the directed sibling of
    jaccard_pairs, sharing its posting-list machinery).

    The threshold is rational and the filter compares
    n_common * den >= num * |A| in INTEGER arithmetic — no float
    boundary can disagree between engines; the reported containment is
    then one exact-integer IEEE division (unrounded, bit-identical).

    Scale shape: same shingle-keyed self-join as jaccard_pairs;
    `max_shingle_freq` drops no-signal hot shingles before the join
    (containment values for surviving pairs then undercount hot overlap
    — a strict lower bound, same contract as jaccard_pairs). Pairs are
    DIRECTED, so both orders of each unordered pair are evaluated from
    the one n_common relation — no second join."""
    sh = shingle_table(df, id_col, text_col, n).transform(hold)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    joinable = sh if max_shingle_freq is None else drop_hot_shingles(sh, max_shingle_freq)

    a = joinable.select(F.col(id_col).alias("id_a"), "shingle")
    b = joinable.select(F.col(id_col).alias("id_b"), "shingle")
    # one undirected count per pair; both directions derive from it
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    directed = common.select(
        F.col("id_a").alias("contained"), F.col("id_b").alias("container"), "n_common"
    ).unionAll(
        common.select(
            F.col("id_b").alias("contained"), F.col("id_a").alias("container"), "n_common"
        )
    )
    sz = sizes.select(
        F.col(id_col).alias("contained"), F.col("n_shingles").cast("long").alias("n_contained")
    )
    return (
        directed.join(sz, "contained")
        .filter(
            F.col("n_common") * F.lit(threshold_den)
            >= F.lit(threshold_num) * F.col("n_contained")
        )
        .select(
            "contained",
            "container",
            "n_common",
            "n_contained",
            (F.col("n_common") / F.col("n_contained")).alias("containment"),
        )
    )


def containment_oracle_sql(
    table: str,
    id_col: str,
    text_col: str,
    threshold_num: int = 4,
    threshold_den: int = 5,
) -> str:
    """DuckDB mirror of `containment_join` (n=3 shingles): identical
    posting join, integer threshold filter and exact division."""
    return f"""
    WITH toks AS (SELECT {id_col}, string_split({text_col}, ' ') AS t FROM {table}),
    sh AS (
        SELECT DISTINCT {id_col},
               unnest(list_transform(range(1, len(t) - 1),
                                     i -> array_to_string(t[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT {id_col}, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY {id_col}),
    common AS (
        SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
        GROUP BY 1, 2
    ),
    directed AS (
        SELECT id_a AS contained, id_b AS container, n_common FROM common
        UNION ALL
        SELECT id_b, id_a, n_common FROM common
    )
    SELECT d.contained, d.container, d.n_common,
           s.n_sh AS n_contained,
           d.n_common / CAST(s.n_sh AS DOUBLE) AS containment
    FROM directed d JOIN sizes s ON s.{id_col} = d.contained
    WHERE d.n_common * {threshold_den} >= {threshold_num} * s.n_sh
    """


def minhash_accuracy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    panel_k: int = 2000,
    dp: int = 6,
) -> DataFrame:
    """MinHash estimator accuracy QA over a fixed-size panel of the
    LSH candidate tier: lane-agreement estimate k/num_hashes against
    the EXACT shingle Jaccard, reduced to one calibration row — the
    sketch-error audit for the near-dup desk (the KMV desk has
    q_sketch_accuracy; this is the same discipline for the pairwise-
    similarity sketch: it answers 'is 16 lanes enough at MY corpus's
    similarity profile', which decides signature width before a
    100 TB signing pass). md5 hash mode so both engines produce
    identical lanes. Output ONE row:
    (n_pairs, mean_est, mean_exact, mae, bias, max_abs_err).

    PANEL, not census (the r10 fixed-SIZE sampling lesson + the r13
    sf1 broadcast-OOM it caused as a census): calibration does not
    need exact Jaccard on every candidate — the panel is the
    md5-minimal ``panel_k`` pairs (deterministic, order-free,
    constant-bounded on the driver via TakeOrdered), so every
    downstream exact-verification join is O(panel) at ANY corpus
    size. est = k/num_hashes is an exact binary fraction; exact
    Jaccard is a raw BIGINT/BIGINT IEEE quotient; aggregate means
    round ``dp``.

    Scale shape (100 TB): one signature aggregate (map-combined lane
    minima) consumes the shingle stream ONCE (no corpus-sized
    localCheckpoint — on a memory-tight driver the resident blocks
    starve every later broadcast build; recomputing the filtered
    stream is cheaper than pinning it), band-bucket candidate join
    (never all-pairs), fixed-size panel cut, wide in-row lane
    comparison (no lane fan-out join), and exact verification over a
    SEMI-JOIN-reduced shingle slice (<= 2*panel_k docs) only."""
    sh = shingle_table(df, id_col, text_col, n)

    def md5_lane(lane: int):
        digest = F.md5(F.concat_ws(":", F.lit(str(lane // 4)), F.col("shingle")))
        return F.substring(digest, 1 + 8 * (lane % 4), 8)

    rows = num_hashes // bands
    sig = (
        sh.select(F.col(id_col).alias("doc"), "shingle")
        .groupBy("doc")
        .agg(*[F.min(md5_lane(s)).alias(f"m{s}") for s in range(num_hashes)])
        .transform(hold)  # bands + both pair sides read it
    )
    banded = sig.select(
        "doc",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[F.col(f"m{b * rows + r}") for r in range(rows)],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    cand = (
        banded.select(F.col("doc").alias("id_a"), "band_idx", "band_key")
        .join(
            banded.select(F.col("doc").alias("id_b"), "band_idx", "band_key"),
            ["band_idx", "band_key"],
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .withColumn(
            "_r",
            F.md5(
                F.concat_ws(
                    ":", F.col("id_a").cast("string"), F.col("id_b").cast("string")
                )
            ),
        )
        .orderBy("_r")
        .limit(panel_k)
        .drop("_r")
        .transform(hold)  # est join + exact join both read it
    )
    siga = sig.select(
        F.col("doc").alias("id_a"), *[F.col(f"m{s}").alias(f"a{s}") for s in range(num_hashes)]
    )
    sigb = sig.select(
        F.col("doc").alias("id_b"), *[F.col(f"m{s}").alias(f"b{s}") for s in range(num_hashes)]
    )
    k = sum(
        (F.col(f"a{s}") == F.col(f"b{s}")).cast("long") for s in range(num_hashes)
    )
    est = cand.join(siga, "id_a").join(sigb, "id_b").select(
        "id_a", "id_b", (k / F.lit(num_hashes)).alias("est")
    )
    # exact verification reads only the panel docs' shingles: the
    # semi-join keeps the slice <= 2*panel_k docs at ANY corpus size,
    # and the bounded slice is what gets pinned (not the corpus)
    panel_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionAll(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh_panel = sh.join(F.broadcast(panel_ids), id_col, "leftsemi").transform(hold)
    sizes = sh_panel.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    common = (
        cand.join(sh_panel.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
        .join(
            sh_panel.select(
                F.col(id_col).alias("id_b2"), F.col("shingle").alias("sh_b")
            ),
            (F.col("id_b") == F.col("id_b2"))
            & (F.col("shingle") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    exact = (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common"))
            ).alias("exact"),
        )
    )
    pairs = est.join(exact, ["id_a", "id_b"])
    return pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(F.avg("est"), dp).alias("mean_est"),
        F.round(F.avg("exact"), dp).alias("mean_exact"),
        F.round(F.avg(F.abs(F.col("est") - F.col("exact"))), dp).alias("mae"),
        F.round(F.avg(F.col("est") - F.col("exact")), dp).alias("bias"),
        F.round(F.max(F.abs(F.col("est") - F.col("exact"))), dp).alias(
            "max_abs_err"
        ),
    )


def minhash_accuracy_oracle_sql(
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    panel_k: int = 2000,
    dp: int = 6,
) -> str:
    """DuckDB mirror of `minhash_accuracy` (md5 lanes; mha_-prefixed
    CTEs; est computed from the lane relation, same values as the
    wide in-row comparison)."""
    rows = num_hashes // bands
    return f"""
    WITH mha_toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    mha_sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(1, len(t) - {n - 2}),
                      i -> array_to_string(t[i:i+{n - 1}], ' '))) AS shingle
        FROM mha_toks WHERE len(t) >= {n}
    ),
    mha_lanes AS (
        SELECT doc_id, l,
               min(substr(md5(CAST(l // 4 AS VARCHAR) || ':' || shingle),
                          1 + 8 * (l % 4), 8)) AS mh
        FROM mha_sh CROSS JOIN (SELECT unnest(range({num_hashes})) AS l)
        GROUP BY doc_id, l
    ),
    mha_bands AS (
        SELECT doc_id, l // {rows} AS band_idx,
               string_agg(mh, '|' ORDER BY l) AS band_key
        FROM mha_lanes GROUP BY doc_id, l // {rows}
    ),
    mha_all AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM mha_bands a JOIN mha_bands b
          ON a.band_idx = b.band_idx AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    ),
    mha_cand AS (
        SELECT id_a, id_b FROM mha_all
        ORDER BY md5(CAST(id_a AS VARCHAR) || ':' || CAST(id_b AS VARCHAR))
        LIMIT {panel_k}
    ),
    mha_est AS (
        SELECT c.id_a, c.id_b,
               CAST(sum(CASE WHEN la.mh = lb.mh THEN 1 ELSE 0 END)
                    AS DOUBLE) / {num_hashes} AS est
        FROM mha_cand c
        JOIN mha_lanes la ON la.doc_id = c.id_a
        JOIN mha_lanes lb ON lb.doc_id = c.id_b AND lb.l = la.l
        GROUP BY 1, 2
    ),
    mha_sizes AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
        FROM mha_sh GROUP BY doc_id
    ),
    mha_common AS (
        SELECT c.id_a, c.id_b, CAST(count(*) AS BIGINT) AS n_common
        FROM mha_cand c
        JOIN mha_sh a ON a.doc_id = c.id_a
        JOIN mha_sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
        GROUP BY 1, 2
    ),
    mha_pairs AS (
        SELECT e.id_a, e.id_b, e.est,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
                   AS exact
        FROM mha_est e
        JOIN mha_common c ON c.id_a = e.id_a AND c.id_b = e.id_b
        JOIN mha_sizes sa ON sa.doc_id = e.id_a
        JOIN mha_sizes sb ON sb.doc_id = e.id_b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           round(avg(est), {dp}) AS mean_est,
           round(avg(exact), {dp}) AS mean_exact,
           round(avg(abs(est - exact)), {dp}) AS mae,
           round(avg(est - exact), {dp}) AS bias,
           round(max(abs(est - exact)), {dp}) AS max_abs_err
    FROM mha_pairs
    """
