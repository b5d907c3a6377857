"""Similarity search over embedding columns (SURVEY.md §2C).

Baseline: brute-force cosine top-k — broadcast the (small) query side,
crossJoin, JVM-side dot product via zip_with/aggregate, window top-k.
Scale path: IVF-style partition pruning — assign vectors to centroid
cells (one map stage vs a broadcast centroid table), search only the
query's cell. At 100 TB the cell assignment is the partition key, so a
query touches 1/n_cells of the data; the brute-force path stays as the
exact fallback and the recall oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from celeborn_spark.operators import _spread, hold


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot_cast(a: Column, b: Column) -> Column:
    """`dot()` over RAW (possibly float) array columns: each element is
    cast to double INSIDE the lambda — float->double widening is
    exact, so the fold produces bit-identical doubles to
    `dot(as_double_array(a), as_double_array(b))` while the raw float
    arrays ride through any exchange at half the bytes (guide §2.3).

    Two r14 measurement notes pinned here:
    - do NOT unroll these into `a[0]*b[0] + ...` SQL strings: the
      ~3k-node trees made DRIVER planning/codegen the bottleneck
      (4.2 s wall vs 0.38 s of executor time for the whole verified
      near-dup query) and the per-pair runtime was EQUAL to the HOF
      fold once inputs were materialized;
    - never INDEX into `cast(col AS array<double>)` repeatedly in one
      stage — the whole-array cast re-evaluates per access (a
      2000-row build stage measured 3.5 s of CPU). HOFs evaluate
      their input array once per row, so they are immune."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm_cast(a: Column) -> Column:
    """`l2_norm()` over a RAW (possibly float) array column — the
    dot_cast twin: per-element cast inside the lambda, identical
    doubles, no whole-array cast."""
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def as_double_array(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("array<double>")


def quantize_embeddings(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
) -> DataFrame:
    """Per-dimension min-max scalar quantization to `bits` levels — the
    4x compression step before serving/ANN over a float32 corpus.

    Output is the exploded (id, pos, q) form: integer codes are
    engine-exact (scaling is IEEE double arithmetic identical in both
    engines; floor(x + 0.5) is explicit half-up, immune to round()'s
    engine-varying half-way rule), so the whole operator hash-compares.

    Scale shape: one explode (N x dim rows), one partial-agg exchange
    producing the dim-sized stats relation, broadcast back — the
    quantize map stage never shuffles the vector mass. Constant
    dimensions (maxv == minv) code to 0."""
    levels = (1 << bits) - 1
    v = vectors.select(
        id_col, F.posexplode(as_double_array(vec_col)).alias("pos", "val")
    )
    stats = v.groupBy("pos").agg(F.min("val").alias("minv"), F.max("val").alias("maxv"))
    return v.join(F.broadcast(stats), "pos").select(
        id_col,
        F.col("pos").cast("int").alias("pos"),
        F.when(F.col("maxv") == F.col("minv"), F.lit(0))
        .otherwise(
            F.floor(
                levels * (F.col("val") - F.col("minv"))
                / (F.col("maxv") - F.col("minv"))
                + F.lit(0.5)
            )
        )
        .cast("int")
        .alias("q"),
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    broadcast(queries) x vectors -> cosine -> row_number window per
    query. The fact side streams once; no shuffle of the vector table
    (the window partitions by query_id, exchanging only the slim
    (query, id, score) projection).
    """
    v = _spread(
        vectors.select(F.col(id_col), as_double_array(vec_col).alias("v")),
        id_col,
    ).withColumn("v_norm", l2_norm(F.col("v")))
    q = queries.select(
        F.col(query_id_col), as_double_array(query_vec_col).alias("q"),
    ).withColumn("q_norm", l2_norm(F.col("q")))

    scored = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.round(dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine", "rnk")
    )


def _peek_dims(vectors: DataFrame, vec_col: str) -> int:
    """Vector length from the first row — one tiny driver action at
    plan time (limit-1 pushdown; no full scan)."""
    row = vectors.select(F.size(as_double_array(vec_col)).alias("d")).first()
    return int(row["d"]) if row and row["d"] is not None else 0


def _xx_weight_sql(p: int, b: int) -> str:
    """Hyperplane weight as a constant-foldable SQL fragment:
    (xxhash64(pos, b) mod 2001 - 1000)/1000 — literals in, so Catalyst
    folds each weight to a double at plan time."""
    return f"(pmod(xxhash64({p}, {b}), 2001) - 1000) / 1000.0"


def _md5_weight_sql(p: int, b: int) -> str:
    """Portable md5 hyperplane weight, computed AT PLAN TIME in Python
    and emitted as a double literal: md5 of the constant '<pos>:<b>'
    is a fixed standard digest, so int(hex4, 16) % 2001 here equals
    Spark's conv(substring(md5(..), 1, 4), 16, 10) % 2001 and DuckDB's
    digit-CASE mirror integer for integer — the emitted literal is the
    exact same double the old per-row Spark md5()/conv() pipeline
    produced (repr() is shortest-roundtrip; Spark parses double
    literals correctly rounded)."""
    import hashlib

    val = int(hashlib.md5(f"{p}:{b}".encode()).hexdigest()[:4], 16)
    return repr((val % 2001 - 1000) / 1000.0) + "D"


def _signature_expr(weight_sql, dims: int, bits: int) -> str:
    """One parsed SQL string for the full bit signature over an
    array<double> column named ``v`` instead of py4j-composed Columns:
    bits*dims nested Column constructors cost thousands of py4j
    round-trips (~6 s of DRIVER time at 12x64 — measured), while
    parsing a single expression string is milliseconds. Each bit's dot
    product is an aggregate/zip_with fold over a FLAT array literal of
    weights (each weight fragment constant-folds at plan time) — NOT
    an unrolled `v[0]*w + v[1]*w + ...` sum: the r14 unroll experiment
    made DRIVER planning/codegen the bottleneck (~3k-node trees, 4.2 s
    wall vs 0.38 s executor time) with zero runtime gain. The lambda
    casts each element to double (exact float widening), so raw float
    vectors ride through unchanged. The fold accumulates left-to-right
    in pos order from 0.0 — the exact order the old posexplode+groupBy
    partial agg summed (all dims of one id sit consecutively in one
    partition), so every dot-product double is bit-identical."""

    def dot_b(b: int) -> str:
        warr = ", ".join(weight_sql(p, b) for p in range(dims))
        return (
            f"aggregate(zip_with(v, array({warr}), "
            "(x, wt) -> CAST(x AS DOUBLE) * wt), "
            "0.0D, (acc, x) -> acc + x)"
        )

    return " + ".join(
        f"CAST(CASE WHEN {dot_b(b)} > 0 THEN {2**b} ELSE 0 END AS BIGINT)"
        for b in range(bits)
    ) or "CAST(0 AS BIGINT)"


def embedding_near_dup_pairs(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: bucket by bit signature
    (one exchange), verify candidates with exact cosine. O(N^2) only
    within a bucket — 2^bits buckets spread a uniform corpus."""
    sig_sql = _signature_expr(_xx_weight_sql, _peek_dims(vectors, vec_col), bits)
    return _verify_bucket_pairs(vectors, sig_sql, id_col, vec_col, threshold)


def _verify_bucket_pairs(
    vectors: DataFrame,
    sig_sql: str,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Same-signature candidate pairs verified by exact cosine.

    The signature is an IN-ROW expression over the row's own vector
    (r14), so each self-join side derives (id, v, norm, signature)
    straight from its own scan: the former vectors-to-signature join,
    the signature relation's eager localCheckpoint job, and the
    posexplode/groupBy exchange behind it are all gone — the only
    exchange left is the signature-keyed self-join itself. Per-side L2
    norms are precomputed BEFORE the pair expansion (the r13 knn_join
    lesson): norm(va)*norm(vb) multiplies the same two doubles
    cosine() would derive per pair, so every emitted double is
    identical while the per-pair kernel drops to one dot product."""
    # RAW array column rides through the exchange (float vectors stay
    # float — half the shuffle bytes); the kernels cast per ELEMENT
    # inside their lambdas (see dot_cast), so the doubles are
    # unchanged.
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("v")).select(
        F.col(id_col),
        "v",
        l2_norm_cast(F.col("v")).alias("v_norm"),
        F.expr(sig_sql).alias("signature"),
    )
    a = v.select(
        F.col(id_col).alias("id_a"),
        F.col("v").alias("va"),
        F.col("v_norm").alias("na"),
        "signature",
    )
    b = v.select(
        F.col(id_col).alias("id_b"),
        F.col("v").alias("vb"),
        F.col("v_norm").alias("nb"),
        "signature",
    )
    return (
        a.join(b, "signature")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.round(
                dot_cast(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_near_dup_pairs_md5(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    threshold: float = 0.9,
) -> DataFrame:
    """embedding_near_dup_pairs with the portable md5 hyperplanes —
    same bucket-then-verify plan, oracle-checkable end to end (the
    xxhash64 form stays the fast production default)."""
    sig_sql = _signature_expr(_md5_weight_sql, _peek_dims(vectors, vec_col), bits)
    return _verify_bucket_pairs(vectors, sig_sql, id_col, vec_col, threshold)


def ivf_assign(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "centroid_vec",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector to its `n_probe` max-cosine centroids (ties ->
    lowest centroid id). Centroids are broadcast; one map-side stage
    plus the slim top-n window exchange. Data vectors use n_probe=1
    (disjoint cells); query vectors use n_probe>1 for multi-probe
    search."""
    v = _spread(
        vectors.select(F.col(id_col), as_double_array(vec_col).alias("v")),
        id_col,
    )
    c = centroids.select(
        F.col(centroid_id_col), as_double_array(centroid_vec_col).alias("c")
    )
    scored = v.crossJoin(F.broadcast(c)).withColumn(
        "sim", F.round(cosine(F.col("v"), F.col("c")), 6)
    )
    w = W.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col(centroid_id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n_probe)
        .select(id_col, centroid_id_col)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    n_probe: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's `n_probe` nearest centroid
    cells. Recall < 1 by design (tests pin recall vs brute_force_topk;
    nprobe=3 recovers >=0.9 while touching ~n_probe/n_cells of the
    vectors). The cell id is the join key, so at scale the vector table
    is bucketed by cell and the probe is a pruned scan; raising n_probe
    trades scan fraction for recall without replanning. Vector cells
    are disjoint (data side keeps n_probe=1), so multi-probe never
    produces duplicate (query, vector) pairs."""
    assign_v = ivf_assign(vectors, centroids, id_col, vec_col)
    assign_q = ivf_assign(
        queries.select(
            F.col(query_id_col).alias(id_col),
            F.col(query_vec_col).alias(vec_col),
        ),
        centroids,
        id_col,
        vec_col,
        n_probe=n_probe,
    ).select(F.col(id_col).alias(query_id_col), F.col("centroid_id"))

    # norms once per vector/query, not once per scored pair
    v = vectors.join(assign_v, id_col).select(
        id_col, "centroid_id", as_double_array(vec_col).alias("v")
    ).withColumn("v_norm", l2_norm(F.col("v")))
    q = queries.join(F.broadcast(assign_q), query_id_col).select(
        query_id_col, "centroid_id", as_double_array(query_vec_col).alias("q")
    ).withColumn("q_norm", l2_norm(F.col("q")))
    scored = (
        v.join(F.broadcast(q), "centroid_id")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn(
            "cosine",
            F.round(dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id_col, id_col, "cosine", "rnk")
    )


def embedding_bit_signature_md5(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
) -> DataFrame:
    """Portable random-hyperplane signature: weight w(pos, b) is
    derived from the first 4 hex chars of md5('<pos>:<b>') — integer
    arithmetic identical in any engine (the same md5 trick as
    dedup.simhash_md5), so the signature is oracle-checkable
    bit-for-bit. xxhash64 stays the fast production default.

    The weight depends only on (pos, b) — dims x bits CONSTANTS — so
    the digests are computed at PLAN TIME in Python (hashlib.md5 of
    the same '<pos>:<b>' text yields the identical standard digest)
    and inlined as double literals, making the plan MAP-ONLY exactly
    like the xxhash64 form: zero exchanges, no weight relation, no
    broadcast. The former posexplode+groupBy form exchanged rows*dims
    rows and summed x*w in pos order per id inside one partition; the
    in-row aggregate accumulates left-to-right in the same pos order,
    so every dot-product double (and therefore every signature bit)
    is unchanged. At 100 TB this is the difference between a map pass
    over the vector mass and shuffling the widest relation in the
    pipeline."""
    v = vectors.select(F.col(id_col), F.col(vec_col).alias("v"))
    sig_sql = _signature_expr(_md5_weight_sql, _peek_dims(vectors, vec_col), bits)
    return v.select(F.col(id_col), F.expr(sig_sql).alias("signature"))


def embedding_signature_oracle_sql(
    table: str, id_col: str, vec_col: str, bits: int = 12
) -> str:
    """DuckDB mirror of embedding_bit_signature_md5, generated for
    `bits` hyperplanes (hex -> int via digit CASE, as DuckDB lacks a
    conv())."""
    hv = (
        "(CASE {c} "
        + " ".join(f"WHEN '{d}' THEN {int(d, 16)}" for d in "0123456789abcdef")
        + " END)"
    )

    def val4(h: str) -> str:
        parts = [hv.format(c=f"substr({h}, {i}, 1)") for i in range(1, 5)]
        return f"((({parts[0]} * 16 + {parts[1]}) * 16 + {parts[2]}) * 16 + {parts[3]})"

    sums = []
    for b in range(bits):
        digest = f"md5(CAST(u.pos AS VARCHAR) || ':' || '{b}')"
        w = f"(({val4(digest)} % 2001 - 1000) / 1000.0)"
        sums.append(f"sum(u.x * {w}) AS s{b}")
    sig = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
    WITH dims AS (
        SELECT {id_col},
               unnest(list_transform(range(1, len(e) + 1),
                                     i -> {{'pos': i - 1, 'x': e[i]}})) AS u
        FROM (SELECT {id_col}, {vec_col}::DOUBLE[] AS e FROM {table})
    ),
    sums AS (SELECT {id_col}, {", ".join(sums)} FROM dims GROUP BY {id_col})
    SELECT {id_col}, {sig} AS signature FROM sums
    """


def embedding_near_dup_oracle_sql(
    table: str,
    id_col: str,
    vec_col: str,
    bits: int = 12,
    threshold: float = 0.9,
) -> str:
    """DuckDB mirror of embedding_near_dup_pairs_md5: the generated
    md5-hyperplane signature as a CTE, self-joined on equal signatures,
    verified with list_cosine_similarity."""
    sig_sql = embedding_signature_oracle_sql(table, id_col, vec_col, bits)
    return f"""
    WITH sig AS ({sig_sql}),
    v AS (SELECT {id_col} AS vid, {vec_col}::DOUBLE[] AS e FROM {table})
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           round(list_cosine_similarity(va.e, vb.e), 6) AS cosine
    FROM sig a
    JOIN sig b ON a.signature = b.signature AND a.{id_col} < b.{id_col}
    JOIN v va ON va.vid = a.{id_col}
    JOIN v vb ON vb.vid = b.{id_col}
    WHERE round(list_cosine_similarity(va.e, vb.e), 6) >= {threshold}
    """


def project_embeddings(
    vectors: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to `k` dims: y_j =
    sum_i x_i * w(i, j) / sqrt(k), hyperplane weights w derived from
    md5(pos ':' j) exactly like embedding_bit_signature_md5 — so the
    projection is deterministic, engine-portable and oracle-checkable.

    The scale move BEFORE similarity search: a 768-dim corpus projected
    to 64 dims shrinks ANN memory and dot-product cost ~12x while JL
    preserves pairwise distances within (1 +- eps). Same plan shape as
    the signature: weights computed once on the distinct-pos relation
    (dims x k values) and broadcast back; ONE groupBy exchange with k
    sum aggregates. Output unpivoted as (id, out_dim, y) rounded 6dp
    (the sum is the only order-sensitive float op; addends are O(1))."""
    import math

    spread = vectors.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, id_col
    )
    dims = spread.select(
        F.col(id_col), F.posexplode(as_double_array(vec_col)).alias("pos", "x")
    )

    def w(j: int) -> Column:
        digest = F.md5(F.concat_ws(":", F.col("pos").cast("string"), F.lit(str(j))))
        val = F.conv(F.substring(digest, 1, 4), 16, 10).cast("long")
        return (val % 2001 - 1000) / F.lit(1000.0)

    weights = dims.select("pos").distinct().select(
        "pos", *[w(j).alias(f"w{j}") for j in range(k)]
    )
    scale = math.sqrt(k)
    sums = (
        dims.join(F.broadcast(weights), "pos")
        .groupBy(id_col)
        .agg(
            *[
                F.round(F.sum(F.col("x") * F.col(f"w{j}")) / scale, 6).alias(f"y{j}")
                for j in range(k)
            ]
        )
    )
    stack = ", ".join(f"{j}, y{j}" for j in range(k))
    return sums.selectExpr(
        id_col, f"stack({k}, {stack}) AS (out_dim, y)"
    ).select(id_col, F.col("out_dim").cast("long").alias("out_dim"), "y")


def projection_oracle_sql(
    table: str, id_col: str, vec_col: str, k: int = 8
) -> str:
    """DuckDB mirror of project_embeddings (same hex->int CASE trick as
    embedding_signature_oracle_sql)."""
    hv = (
        "(CASE {c} "
        + " ".join(f"WHEN '{d}' THEN {int(d, 16)}" for d in "0123456789abcdef")
        + " END)"
    )

    def val4(h: str) -> str:
        parts = [hv.format(c=f"substr({h}, {i}, 1)") for i in range(1, 5)]
        return f"((({parts[0]} * 16 + {parts[1]}) * 16 + {parts[2]}) * 16 + {parts[3]})"

    digest = "md5(CAST(u.pos AS VARCHAR) || ':' || CAST(j.j AS VARCHAR))"
    w = f"(({val4(digest)} % 2001 - 1000) / 1000.0)"
    return f"""
    WITH dims AS (
        SELECT {id_col},
               unnest(list_transform(range(1, len(e) + 1),
                                     i -> {{'pos': i - 1, 'x': e[i]}})) AS u
        FROM (SELECT {id_col}, {vec_col}::DOUBLE[] AS e FROM {table})
    )
    SELECT {id_col}, CAST(j.j AS BIGINT) AS out_dim,
           round(sum(u.x * {w}) / sqrt(CAST({k} AS DOUBLE)), 6) AS y
    FROM dims CROSS JOIN (SELECT unnest(range({k})) AS j) j
    GROUP BY {id_col}, j.j
    """


def knn_join(
    vectors: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 2,
) -> DataFrame:
    """All-vectors k-nearest-neighbor JOIN through IVF cells:
    (query_id, vec_id, cosine, rnk<=k) for EVERY vector — the
    neighbor-graph construction behind embedding near-dup clustering,
    label propagation and kNN classification at corpus scale.

    Unlike `ivf_topk` (few queries, query side broadcast), BOTH sides
    here are the full table, so the cell id becomes the SHUFFLE key:
    data vectors keep their 1 nearest cell (disjoint), query vectors
    probe `n_probe` cells, and the cell-keyed equi-join scores
    ~N^2 * n_probe / n_cells pairs instead of N^2 — the same
    bucketed-pruning contract as ivf_topk, but resilient to a query
    side too big to broadcast. At 100 TB both sides arrive bucketed by
    cell id and the join co-locates; hot cells split under AQE skew
    handling like any equality join."""
    # ONE scored+ranked pass yields both assignments (top-1 for the
    # data side is a subset of the query side's top-n_probe) — half the
    # centroid crossJoin/window cost of two ivf_assign calls; the slim
    # (id, cell, rn) relation is checkpointed because it feeds both
    # sides of the cell join. Norms are computed ONCE per side before
    # the pair expansion (same expression on the same array → identical
    # doubles; recomputing them per pair tripled the kernel cost).
    vv = _spread(
        vectors.select(F.col(id_col), as_double_array(vec_col).alias("_v")), id_col
    ).withColumn("_vn", l2_norm(F.col("_v")))
    cc = centroids.select(
        F.col("centroid_id"), as_double_array("centroid_vec").alias("_c")
    ).withColumn("_cn", l2_norm(F.col("_c")))
    ranked = (
        vv.crossJoin(F.broadcast(cc))
        .withColumn(
            "sim",
            F.round(dot(F.col("_v"), F.col("_c")) / (F.col("_vn") * F.col("_cn")), 6),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy(id_col).orderBy(
                    F.col("sim").desc(), F.col("centroid_id")
                )
            ),
        )
        .filter(F.col("rn") <= n_probe)
        .select(id_col, "centroid_id", "rn")
        .transform(hold)
    )
    assign_v = ranked.filter(F.col("rn") == 1).select(id_col, "centroid_id")
    assign_q = ranked.select(id_col, "centroid_id")
    v = (
        vectors.join(assign_v, id_col)
        .select(id_col, "centroid_id", as_double_array(vec_col).alias("v"))
        .withColumn("v_norm", l2_norm(F.col("v")))
    )
    q = (
        vectors.join(
            assign_q.select(
                F.col(id_col).alias("query_id"), F.col("centroid_id")
            ),
            vectors[id_col] == F.col("query_id"),
        )
        .select(
            "query_id",
            "centroid_id",
            as_double_array(vec_col).alias("q"),
        )
        .withColumn("q_norm", l2_norm(F.col("q")))
    )
    # Cell-count-adaptive salt (A28 pattern): with fewer cells than
    # ~2x the core count, the cell-keyed join cannot fill the cluster
    # and one hot partition serializes the O(cell^2) scoring — split
    # each cell's DATA side into n_salt slices and replicate the query
    # side across them (each (q, v) pair still joins exactly once:
    # v carries one salt, q carries all). At corpus scale n_cells >>
    # cores, so n_salt == 1 and the plain cell join stands unchanged.
    sc = vectors.sparkSession.sparkContext
    par = sc.defaultParallelism
    n_cells = cc.count()
    n_salt = max(1, (2 * par) // max(int(n_cells), 1))
    if n_salt > 1:
        v = v.withColumn("_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt)))
        q = q.withColumn(
            "_salt",
            F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)).cast("array<bigint>")),
        )
        v = v.repartition(par, "centroid_id", "_salt")
        q = q.repartition(par, "centroid_id", "_salt")
        join_keys = ["centroid_id", "_salt"]
    else:
        join_keys = ["centroid_id"]
    scored = (
        v.join(q, join_keys)
        .filter(F.col(id_col) != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("v"), F.col("q")) / (F.col("v_norm") * F.col("q_norm")), 6
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", id_col, "cosine", "rnk")
    )


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dp: int = 6,
) -> DataFrame:
    """(id, codes array<int>, recon_err) — product-quantization encode:
    split each vector into ``m`` contiguous subspaces and replace every
    subvector with the id of its nearest codeword (squared L2, rounded
    ``dp`` before the argmin, ties -> lowest codeword id). With k
    codewords per subspace a d-dim float vector compresses to m code
    bytes — 64x at d=64/m=4 — the memory layout ANN indexes (IVF-PQ)
    store; recon_err (the summed quantization distortion) is the
    quality readout that picks m and k.

    ``codebooks`` is (j, cb_id, cvec) with 0 <= j < m and cvec of
    dims/m doubles — deterministic sampled codewords keep the operator
    oracle-exact (a production refinement would Lloyd-polish each
    subspace codebook with operators/kmeans, same as IVF centroids).

    Scale shape: subspace explode is a map stage (m rows per vector of
    dims/m doubles — same bytes as the input); codebooks broadcast; ONE
    (id, j)-keyed window exchange picks argmins; the final per-id
    rollup rides the same key. Nothing vector-sized ever shuffles
    wider than the input row."""
    dims_per = F.size(as_double_array(vec_col)) / m
    subs = vectors.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    as_double_array(vec_col),
                    (j * dims_per + 1).cast("int"),
                    dims_per.cast("int"),
                ),
            )
        ).alias("j", "sub"),
    )
    cb = codebooks.select(
        F.col("j"), F.col("cb_id"), as_double_array("cvec").alias("cvec")
    )
    scored = subs.join(F.broadcast(cb), "j").withColumn(
        "d2",
        F.round(
            F.aggregate(
                F.zip_with(F.col("sub"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            dp,
        ),
    )
    w = W.partitionBy(id_col, "j").orderBy(F.col("d2"), F.col("cb_id"))
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("j"), F.col("cb_id")))
            ).alias("_jc"),
            F.round(F.sum("d2"), dp).alias("recon_err"),
        )
        .select(
            id_col,
            F.transform(F.col("_jc"), lambda s: s["cb_id"].cast("int")).alias("codes"),
            "recon_err",
        )
    )


def sampled_codebooks(
    vectors: DataFrame,
    m: int = 4,
    step: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic PQ codebooks: every ``step``-th vector's subvectors
    become codewords, cb_id = source vector id (the IVF-centroid
    sampling convention that keeps the pipeline SQL-replicable)."""
    dims_per = F.size(as_double_array(vec_col)) / m
    return (
        vectors.filter(F.col(id_col) % step == 0)
        .select(
            F.col(id_col).alias("cb_id"),
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(m - 1)),
                    lambda j: F.slice(
                        as_double_array(vec_col),
                        (j * dims_per + 1).cast("int"),
                        dims_per.cast("int"),
                    ),
                )
            ).alias("j", "cvec"),
        )
        .select("j", "cb_id", "cvec")
    )


def mmr_select(
    vectors: DataFrame,
    query_df: DataFrame,
    k: int = 8,
    lam: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance: greedily select k vectors balancing
    relevance to the query against redundancy with what is already
    selected — score(c) = lam * cos(c, q) - (1-lam) * max cos(c, s in
    S). THE retrieval-diversification step (RAG context assembly,
    eval-set curation): plain top-k returns k near-copies of the best
    hit; MMR forces coverage.

    Engine parity: every cosine rounds to 6 dp (the brute_force_topk
    idiom); lam = .5 halves exactly, so scores are bit-identical and
    each greedy argmax (score DESC, id ASC — TakeOrderedAndProject,
    never a global window) picks the same vector as the unrolled-CTE
    oracle.

    Scale shape: candidates are scored once against the broadcast
    1-row query; the k greedy rounds then chain IN ONE LAZY PLAN as
    window passes over the bounded candidate relation (at 100 TB you
    run MMR over the top-N prefilter — brute_force_topk / ann_ivf —
    not the corpus, so a single-partition window over candidates is
    the bounded-tail discipline, not a scale risk). Each round
    computes the argmax pick as min_by(candidate, (-score, id))
    OVER () — the exact (score DESC, id ASC) cut — tags it with its
    rank IN-ROW, and folds it into the incremental max-diversity
    column dv with greatest() (max over the selected set is
    associative, r13). Because the pick is a window VALUE rather than
    a separate 1-row relation, every round references the previous
    state exactly once: no plan doubling, no per-round eager
    localCheckpoint — the whole selection is ONE job (the r8/r13
    15-job checkpoint chain measured 1.7-1.9 s against 0.9-1.1 s for
    this form at sf0.1, identical rows). Consecutive rounds reuse one
    SinglePartition exchange. Round bodies are built as SQL strings
    (F.expr/selectExpr): the per-round lambda-HOF Column trees cost
    py4j round-trips per node (the r6 lesson) — parsing is ms and the
    operator tree is identical."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    q = query_df.select(as_double_array(vec_col).alias("q")).withColumn(
        "qn", l2_norm(F.col("q"))
    )
    cands = (
        vectors.select(F.col(id_col), as_double_array(vec_col).alias("v"))
        .withColumn("vn", l2_norm(F.col("v")))
        .crossJoin(F.broadcast(q))
        .withColumn(
            "rel",
            F.round(dot(F.col("v"), F.col("q")) / (F.col("vn") * F.col("qn")), 6),
        )
        .select(id_col, "v", "vn", "rel")
    )
    # the SQL twin of dot() above — same aggregate/zip_with tree
    dot_sql = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    i, lam_s, om_s = f"`{id_col}`", repr(float(lam)), repr(float(1 - lam))
    val = f"named_struct('i', {i}, 'bv', v, 'bvn', vn)"
    # round 1: pick by (rel DESC, id ASC); rows with a null min_by key
    # (picked rows in later rounds) are skipped by the aggregate, so
    # the CASE key restricts the argmax to the unpicked set.
    st = cands.selectExpr(
        i,
        "v",
        "vn",
        "rel",
        f"min_by({val}, named_struct('s', -rel, 't', {i})) OVER () AS _b",
    ).selectExpr(
        i,
        "v",
        "vn",
        "rel",
        f"CASE WHEN {i} = _b.i THEN 1 END AS mmr_rank",
        f"CASE WHEN {i} != _b.i THEN"
        f" round({dot_sql.format(a='v', b='_b.bv')} / (vn * _b.bvn), 6) END AS dv",
    )
    for t in range(2, k + 1):
        score = f"({lam_s} * rel - {om_s} * dv)"
        st = st.selectExpr(
            i,
            "v",
            "vn",
            "rel",
            "mmr_rank",
            "dv",
            f"min_by({val}, CASE WHEN mmr_rank IS NULL THEN"
            f" named_struct('s', -{score}, 't', {i}) END) OVER () AS _b",
        ).selectExpr(
            i,
            "v",
            "vn",
            "rel",
            f"coalesce(mmr_rank, CASE WHEN {i} = _b.i THEN {t} END) AS mmr_rank",
            f"CASE WHEN mmr_rank IS NOT NULL OR {i} = _b.i THEN dv"
            f" ELSE greatest(dv, round({dot_sql.format(a='v', b='_b.bv')}"
            f" / (vn * _b.bvn), 6)) END AS dv",
        )
    return st.filter(F.col("mmr_rank").isNotNull()).select(id_col, "rel", "mmr_rank")


def mmr_oracle_sql(k: int = 8, lam: float = 0.5, query_id: int = 0) -> str:
    """DuckDB mirror of `mmr_select` over the embeddings table with the
    query vector = embedding of ``query_id``: the same greedy rounds
    unrolled, cosines rounded 6 dp, (score DESC, id) cuts."""
    ctes = [
        "v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings)",
        f"q AS (SELECT vec FROM v WHERE vec_id = {query_id})",
        f"""cands AS MATERIALIZED (
        SELECT v.vec_id, v.vec,
               round(list_cosine_similarity(v.vec, q.vec), 6) AS rel
        FROM v CROSS JOIN q WHERE v.vec_id != {query_id}
    )""",
        """sel1 AS MATERIALIZED (
        SELECT vec_id, vec, rel, 1 AS mmr_rank FROM cands
        ORDER BY rel DESC, vec_id LIMIT 1
    )""",
    ]
    prev = "sel1"
    for t in range(2, k + 1):
        ctes.append(
            f"""d{t} AS MATERIALIZED (
        SELECT c.vec_id, c.vec, c.rel,
               max(round(list_cosine_similarity(c.vec, s.vec), 6)) AS dv
        FROM cands c CROSS JOIN {prev} s
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})
        GROUP BY c.vec_id, c.vec, c.rel
    )"""
        )
        ctes.append(
            f"""pick{t} AS (
        SELECT vec_id, vec, rel, {t} AS mmr_rank FROM d{t}
        ORDER BY {lam} * rel - {1 - lam} * dv DESC, vec_id LIMIT 1
    )"""
        )
        ctes.append(
            f"""sel{t} AS MATERIALIZED (
        SELECT * FROM {prev} UNION ALL SELECT * FROM pick{t}
    )"""
        )
        prev = f"sel{t}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT vec_id, rel, mmr_rank FROM {prev}"
    )


def cluster_medoid(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    cap: int = 50,
) -> DataFrame:
    """Per-cluster MEDOID — the real member minimizing total cosine
    distance to its cluster — over a deterministic md5-capped sample
    of each cluster. The centroid (q_label_centroids) is an average
    that may sit in empty space; the medoid is the exemplar you can
    actually show, dedup against, or seed a curriculum with. Output
    (label, medoid_id, n_sampled, sum_micro, avg_dist).

    Engine parity: per-pair cosine distance passes through sqrt norms
    (irrational), so quantizing to exact micro-units
    (round(dist * 1e6) as BIGINT) is tie-safe; the per-candidate SUM
    is then exact-integer, the argmin struct is (sum_micro, id) —
    fully deterministic — and avg_dist = sum_micro / ((n-1) * 1e6) is
    one IEEE division of exact integers, emitted raw.

    Scale shape: the pairwise join is capped at ``cap`` rows per
    cluster by an md5-ordered per-label window (deterministic, not
    first-seen), so cost is clusters * cap^2 regardless of corpus
    size; vectors shuffle once, keyed by label."""
    pts = emb.select(
        F.col(label_col).alias("label"),
        F.col(id_col).alias("id"),
        as_double_array(vec_col).alias("vec"),
    ).withColumn(
        "norm",
        F.sqrt(
            F.aggregate(
                F.transform(F.col("vec"), lambda x: x * x),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ),
    )
    rn = F.row_number().over(
        W.partitionBy("label").orderBy(F.md5(F.col("id").cast("string")), "id")
    )
    # the capped sample (clusters x cap, bounded) feeds both pair join
    # sides + the per-label count + the singleton fallback — 4 lazy
    # references re-ran the scan + label window each; materialize once
    capped = (
        pts.withColumn("rn", rn).filter(F.col("rn") <= cap).drop("rn")
        .transform(hold)
    )
    dot = F.aggregate(
        F.zip_with(F.col("i.vec"), F.col("j.vec"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    micro = F.round(
        (F.lit(1.0) - dot / (F.col("i.norm") * F.col("j.norm"))) * 1e6, 0
    ).cast("long")
    sums = (
        capped.alias("i")
        .join(capped.alias("j"), "label")
        .filter(F.col("i.id") != F.col("j.id"))
        .select("label", F.col("i.id").alias("id"), micro.alias("micro"))
        .groupBy("label", "id")
        .agg(F.sum("micro").alias("sum_micro"))
    )
    n_s = capped.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled")
    )
    best = sums.groupBy("label").agg(
        F.min(F.struct("sum_micro", "id")).alias("m")
    )
    # Singleton clusters have no pairs, hence no `sums` row — their
    # medoid is their only member (sum 0, avg NULL), via a left join
    # against the per-label min id instead of silently dropping them.
    solo = capped.groupBy("label").agg(F.min("id").alias("solo_id"))
    return (
        n_s.join(F.broadcast(solo), "label")
        .join(best, "label", "left")
        .select(
            "label",
            F.coalesce(F.col("m.id"), F.col("solo_id")).alias("medoid_id"),
            "n_sampled",
            F.coalesce(F.col("m.sum_micro"), F.lit(0)).cast("long").alias("sum_micro"),
            F.when(
                F.col("n_sampled") > 1,
                F.col("m.sum_micro") / ((F.col("n_sampled") - 1) * F.lit(1e6)),
            ).alias("avg_dist"),
        )
    )


def cluster_medoid_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    cap: int = 50,
) -> str:
    """DuckDB mirror of `cluster_medoid`: identical md5 cap, per-pair
    micro-unit quantization, and (sum_micro, id) argmin."""
    return f"""
    WITH capped AS (
        SELECT {label_col} AS label, {id_col} AS id, {vec_col} AS v
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY {label_col}
                ORDER BY md5(CAST({id_col} AS VARCHAR)), {id_col}
            ) AS rn
            FROM {table}
        ) WHERE rn <= {cap}
    ),
    dims AS (
        SELECT label, id,
               generate_subscripts(v, 1) AS pos,
               CAST(unnest(v) AS DOUBLE) AS x
        FROM capped
    ),
    norms AS (
        SELECT label, id, sqrt(sum(x * x)) AS norm
        FROM dims GROUP BY 1, 2
    ),
    pair AS (
        SELECT i.label, i.id AS id, j.id AS jd,
               sum(i.x * j.x) AS dot
        FROM dims i JOIN dims j
          ON i.label = j.label AND i.pos = j.pos AND i.id <> j.id
        GROUP BY 1, 2, 3
    ),
    micro AS (
        SELECT p.label, p.id,
               CAST(round((1.0 - p.dot / (ni.norm * nj.norm)) * 1e6)
                    AS BIGINT) AS micro
        FROM pair p
        JOIN norms ni ON ni.label = p.label AND ni.id = p.id
        JOIN norms nj ON nj.label = p.label AND nj.id = p.jd
    ),
    sums AS (
        SELECT label, id, sum(micro) AS sum_micro
        FROM micro GROUP BY 1, 2
    ),
    n_s AS (SELECT label, CAST(count(*) AS BIGINT) AS n_sampled
            FROM capped GROUP BY 1),
    best AS (
        SELECT label, id AS medoid_id, sum_micro,
               row_number() OVER (PARTITION BY label
                                  ORDER BY sum_micro, id) AS rk
        FROM sums
    ),
    solo AS (SELECT label, min(id) AS solo_id FROM capped GROUP BY 1),
    top AS (SELECT label, medoid_id, sum_micro FROM best WHERE rk = 1)
    SELECT n_s.label,
           coalesce(t.medoid_id, solo.solo_id) AS medoid_id,
           n_s.n_sampled,
           CAST(coalesce(t.sum_micro, 0) AS BIGINT) AS sum_micro,
           CASE WHEN n_s.n_sampled > 1
                THEN CAST(t.sum_micro AS DOUBLE) / ((n_s.n_sampled - 1) * 1e6)
           END AS avg_dist
    FROM n_s
    JOIN solo ON solo.label = n_s.label
    LEFT JOIN top t ON t.label = n_s.label
    """
