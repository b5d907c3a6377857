"""Similarity-search surface over the embeddings table (SURVEY.md §2C).

Brute-force cosine top-k is the exact baseline and is oracle-checked
against DuckDB's list_cosine_similarity (both engines computed in
double precision, scores rounded to 6 dp, rank ties broken by vec_id).
The IVF variant is approximate by design — rows-only here, recall
tested against the brute-force result in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from celeborn_spark.catalog import load_table
from celeborn_spark.operators import hold
from celeborn_spark.operators import kmeans as K
from celeborn_spark.operators import similarity as S
from celeborn_spark.registry import query

N_QUERIES = 5          # query side: vec_id < 5
CENTROID_STEP = 100    # IVF centroids: every 100th vector


def _queries_df(emb: DataFrame) -> DataFrame:
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


@query(
    "q_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, v.vec_id,
               round(list_cosine_similarity(v.vec, q.qvec), 6) AS cosine
        FROM v CROSS JOIN q WHERE v.vec_id != q.query_id
    ),
    ranked AS (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    )
    SELECT query_id, vec_id, cosine, rnk FROM ranked WHERE rnk <= 10
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.brute_force_topk(emb, _queries_df(emb), k=10)


@query(
    "q_embedding_quantize",
    oracle="""
    WITH raw AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS valf
        FROM embeddings
    ),
    v AS (SELECT vec_id, pos, CAST(valf AS DOUBLE) AS val FROM raw),
    stats AS (
        SELECT pos, min(val) AS minv, max(val) AS maxv FROM v GROUP BY pos
    )
    SELECT v.vec_id,
           CAST(v.pos AS INTEGER) AS pos,
           CAST(CASE WHEN maxv = minv THEN 0
                     ELSE floor(255 * (val - minv) / (maxv - minv) + 0.5)
                END AS INTEGER) AS q
    FROM v JOIN stats USING (pos)
    """,
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 min-max scalar quantization of the embedding corpus
    (operators/similarity.py quantize_embeddings): per-dim stats in one
    partial-agg exchange, broadcast back, quantize map-side."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantize_embeddings(emb)


@query(
    "q_ann_ivf_topk",
    # The IVF pipeline is fully deterministic (centroids = every
    # CENTROID_STEP-th vector; cell assignment = argmax cosine rounded
    # 6dp, ties -> lowest centroid id), so "approximate" ANN is still
    # exactly reproducible in SQL: same assignment, same pruned search.
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
          WHERE vec_id % {CENTROID_STEP} = 0),
    sims AS (
        SELECT v.vec_id, c.centroid_id,
               round(list_cosine_similarity(v.vec, c.cvec), 6) AS sim
        FROM v CROSS JOIN c
    ),
    cell AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, centroid_id) AS rn
            FROM sims
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, vec AS qvec FROM v
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, v.vec_id,
               round(list_cosine_similarity(v.vec, q.qvec), 6) AS cosine
        FROM v
        JOIN cell vc ON vc.vec_id = v.vec_id
        JOIN cell qc ON qc.centroid_id = vc.centroid_id
        JOIN q ON q.query_id = qc.vec_id
        WHERE v.vec_id != q.query_id
    )
    SELECT query_id, vec_id, cosine, rnk FROM (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 10
    """,
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with deterministic centroids — oracle-checkable because
    every step (assignment, pruning, scoring, ranking) is exact; the
    'approximation' is WHICH vectors get scored, not how."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_STEP == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return S.ivf_topk(emb, _queries_df(emb), centroids, k=10)


@query("q_embedding_near_dup")  # rows-only: bucketing hash is engine-specific
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-bucketed near-dup pairs (the fast xxhash64 path; the md5
    variant is the oracle-checked one). Rows-only, so the output carries
    its own recall claim (VERDICT r4 item 7): `sampled_recall_ok` is a
    constant column computed by brute-forcing a deterministic
    FIXED-SIZE sample of 64 vectors (the 64 smallest md5(vec_id) —
    TakeOrderedAndProject, no global sort) against the whole corpus and
    checking >= 60% of their exact above-threshold partners surfaced in
    the bucketed output (12-bit signatures trade recall for candidate
    pruning; the planted-dup pytest pins the high-recall regime).
    The guard is O(64 * N): the broadcast sample is CONSTANT-sized, so
    the probe stays linear in N at any scale. (The r9 form sampled a
    fixed RATE — vec_id % 29, ~3.4% — making the probe O(N^2/29) with a
    linearly growing broadcast side; VERDICT r9 item 2.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs(emb, bits=12, threshold=0.5).transform(hold)

    # the 64-vector brute-force guard streams N x 64 dot products — a
    # single-split scan would run them all on one core (r13: 2.8 s).
    # Per-SIDE norms are precomputed BEFORE the pair expansion (the
    # r13 knn_join lesson): norm(v)*norm(vs) multiplies the same two
    # doubles cosine() would derive per pair, so the filter sees
    # identical values while the per-pair kernel drops from three
    # array passes to one (r14). Raw float arrays ride through the
    # spread exchange (half the bytes); kernels cast per element.
    v = S._spread(
        emb.select("vec_id", F.col("embedding").alias("v")),
        "vec_id",
    ).withColumn("vn", S.l2_norm_cast(F.col("v")))
    # the 64-row sample heap-selects straight off the raw scan
    # (TakeOrderedAndProject) — the old form re-derived the SPREAD
    # relation, paying the repartition exchange a second time; norms
    # are computed on the 64 survivors only (r14)
    sample = (
        emb.select("vec_id", F.col("embedding").alias("v"))
        .withColumn("_h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("_h", "vec_id")
        .limit(64)
        .select(
            F.col("vec_id").alias("id_s"),
            F.col("v").alias("vs"),
            S.l2_norm_cast(F.col("v")).alias("ns"),
        )
    )
    exact = (
        v.crossJoin(F.broadcast(sample))
        .filter(F.col("vec_id") != F.col("id_s"))
        .withColumn(
            "cosine_x",
            S.dot_cast(F.col("v"), F.col("vs")) / (F.col("vn") * F.col("ns")),
        )
        .filter(F.col("cosine_x") >= 0.5)
        .select(
            F.least("vec_id", "id_s").alias("id_a"),
            F.greatest("vec_id", "id_s").alias("id_b"),
        )
        .distinct()
    )
    # ONE left join + ONE aggregate reads `exact` exactly once (both
    # sides emit unique pairs, so a left-join match count equals the
    # former semi-join count) — the old semi-join + two counts
    # referenced `exact` twice and needed an eager localCheckpoint
    # (a driver-blocking job) to avoid recomputing the brute-force
    # pass (r14).
    recall = (
        exact.join(
            pairs.select("id_a", "id_b", F.lit(1).alias("_hit")),
            ["id_a", "id_b"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("_hit").alias("n_found"),
        )
        .select(
            (
                (F.col("n_exact") == 0)
                | (F.col("n_found") >= 0.6 * F.col("n_exact"))
            ).alias("sampled_recall_ok")
        )
    )
    return pairs.crossJoin(F.broadcast(recall))


@query(
    "q_label_centroids",
    oracle="""
    WITH dims AS (
        SELECT label, unnest(list_transform(range(1, len(e)+1),
                                            i -> {'pos': i-1, 'x': e[i]})) AS u
        FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings)
    )
    SELECT label, u.pos AS pos, round(avg(u.x), 6) AS centroid_val
    FROM dims GROUP BY label, u.pos
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension): posexplode
    + groupBy — the distributed form of vector averaging (no UDF, no
    driver-side math)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode(S.as_double_array("embedding")).alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("centroid_val"))
    )


@query(
    "q_embedding_norms",
    oracle="""
    SELECT label,
           count(*)                                                   AS n,
           round(avg(sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                  x -> x * x)))), 6) AS avg_norm
    FROM embeddings
    GROUP BY label
    """,
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column aggregation: JVM-side array math + groupBy."""
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", S.l2_norm(S.as_double_array("embedding")).alias("norm"))
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg("norm"), 6).alias("avg_norm"))
    )


@query(
    "q_embedding_signature",
    # generated mirror of the md5 hyperplane arithmetic (12 planes)
    oracle=S.embedding_signature_oracle_sql("embeddings", "vec_id", "embedding", bits=12),
)
def q_embedding_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable (md5-hyperplane) near-dup bucket signature per vector —
    the oracle-checkable core of embedding near-dup detection; the
    xxhash64 form (q_embedding_near_dup) stays the production bucketing
    with planted-duplicate recall tests."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_bit_signature_md5(emb, "vec_id", "embedding", bits=12)


@query(
    "q_kmeans_clusters",
    # Deterministic fit (lowest-id seeds, 6dp-rounded distances and
    # centroid components, id tie-breaks) makes the full iterative
    # algorithm SQL-replicable — the generated CTE chain mirrors every
    # Lloyd round exactly.
    oracle=K.kmeans_oracle_sql("embeddings", "vec_id", "embedding", k=4, iters=2),
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-means (2 Lloyd rounds, k=4) over the embeddings table: the
    iterative-algorithm class beyond connected components — broadcast
    centroids, one vector-table pass per round, localCheckpoint'ed
    lineage (operators/kmeans.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return K.lloyd_iterations(emb, k=4, iters=2)


@query(
    "q_embedding_near_dup_verified",
    oracle=S.embedding_near_dup_oracle_sql(
        "embeddings", "vec_id", "embedding", bits=12, threshold=0.9
    ),
)
def q_embedding_near_dup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-then-verify embedding near-dup with the portable md5
    hyperplanes: the full pipeline (signature buckets -> candidate
    pairs -> exact-cosine filter) is replicated in SQL, so unlike the
    xxhash64 q_embedding_near_dup this one is driver-verifiable."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs_md5(
        emb, "vec_id", "embedding", bits=12, threshold=0.9
    )


@query(
    "q_embedding_project",
    oracle=S.projection_oracle_sql("embeddings", "vec_id", "embedding", k=8),
)
def q_embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection of the embedding corpus to 8
    dims (md5-derived hyperplanes, digit-exact in both engines) — the
    dimensionality-reduction step that shrinks ANN memory and
    dot-product cost before similarity search at scale
    (operators/similarity.project_embeddings: one groupBy exchange,
    weights broadcast from a dims x k relation)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.project_embeddings(emb, k=8)


KNN_K = 5
KNN_PROBE = 3


@query(
    "q_knn_join",
    # Deterministic IVF makes the full kNN-join pipeline SQL-exact:
    # data side keeps its 1 nearest cell, the query side (every vector)
    # probes its 3 nearest cells; disjoint data cells mean multi-probe
    # never duplicates a (query, vector) pair.
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, vec AS cvec FROM v
          WHERE vec_id % {CENTROID_STEP} = 0),
    sims AS (
        SELECT v.vec_id, c.centroid_id,
               round(list_cosine_similarity(v.vec, c.cvec), 6) AS sim
        FROM v CROSS JOIN c
    ),
    ranked AS (
        SELECT vec_id, centroid_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, centroid_id) AS rn
        FROM sims
    ),
    vcell AS (SELECT vec_id, centroid_id FROM ranked WHERE rn = 1),
    qcell AS (SELECT vec_id AS query_id, centroid_id FROM ranked
              WHERE rn <= {KNN_PROBE}),
    scored AS (
        SELECT qc.query_id, v.vec_id,
               round(list_cosine_similarity(v.vec, q.vec), 6) AS cosine
        FROM v
        JOIN vcell vc ON vc.vec_id = v.vec_id
        JOIN qcell qc ON qc.centroid_id = vc.centroid_id
        JOIN v q ON q.vec_id = qc.query_id
        WHERE v.vec_id != qc.query_id
    )
    SELECT query_id, vec_id, cosine, rnk FROM (
        SELECT query_id, vec_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= {KNN_K}
    """,
)
def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor JOIN of the whole embedding table against
    itself through IVF cells — the neighbor-graph builder. The cell id
    is the shuffle key (neither side broadcasts); multi-probe on the
    query side recovers cross-cell neighbors while scoring only
    ~n_probe/n_cells of the pair space (operators/similarity.knn_join)."""
    emb = load_table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") % CENTROID_STEP == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    return S.knn_join(emb, centroids, k=KNN_K, n_probe=KNN_PROBE)


PQ_M = 4


@query(
    "q_pq_encode",
    # Deterministic sampled codebooks (every CENTROID_STEPth vector's
    # subvectors) make the whole PQ pipeline SQL-exact; codes are
    # serialized to a comma string (the harness's array convention).
    oracle=f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vec FROM embeddings),
    dims AS (SELECT len(vec) // {PQ_M} AS dp FROM v LIMIT 1),
    subs AS (
        SELECT v.vec_id, j.j,
               v.vec[j.j * d.dp + 1 : (j.j + 1) * d.dp] AS sub
        FROM v CROSS JOIN dims d
        CROSS JOIN (SELECT unnest(range({PQ_M})) AS j) j
    ),
    cb AS (
        SELECT s.vec_id AS cb_id, s.j, s.sub AS cvec
        FROM subs s WHERE s.vec_id % {CENTROID_STEP} = 0
    ),
    scored AS (
        SELECT s.vec_id, s.j, c.cb_id,
               round(list_sum(list_transform(range(1, len(s.sub) + 1),
                     i -> (s.sub[i] - c.cvec[i]) * (s.sub[i] - c.cvec[i]))), 6) AS d2
        FROM subs s JOIN cb c ON s.j = c.j
    ),
    best AS (
        SELECT vec_id, j, cb_id, d2 FROM (
            SELECT vec_id, j, cb_id, d2,
                   row_number() OVER (PARTITION BY vec_id, j
                                      ORDER BY d2, cb_id) AS rn
            FROM scored
        ) WHERE rn = 1
    )
    SELECT vec_id,
           array_to_string(list(CAST(cb_id AS INT) ORDER BY j), ',') AS codes,
           round(sum(d2), 6) AS recon_err
    FROM best GROUP BY vec_id
    """,
)
def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode of the embedding table: each vector
    becomes 4 codeword ids (64x compression at 64 dims) plus the summed
    quantization distortion — the IVF-PQ memory layout. Codebooks are
    deterministic sampled subvectors (a production run Lloyd-polishes
    them with operators/kmeans); codebooks broadcast, ONE (id, subspace)
    keyed window exchange (operators/similarity.pq_encode)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = S.sampled_codebooks(emb, m=PQ_M, step=CENTROID_STEP)
    out = S.pq_encode(emb, cb, m=PQ_M)
    return out.select(
        "vec_id",
        F.array_join(F.transform("codes", lambda c: c.cast("string")), ",").alias(
            "codes"
        ),
        "recon_err",
    )


@query("q_mmr_select", oracle=S.mmr_oracle_sql(k=8, lam=0.5, query_id=0))
def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified top-8 against vector 0:
    greedy rounds trade relevance (6dp cosine to the query) against
    redundancy (max 6dp cosine to the already-selected set), lam=0.5
    so every score is an exact half-sum — bit-identical to the
    unrolled greedy oracle. The retrieval-diversification layer over
    q_cosine_topk (operators/similarity.mmr_select)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0)
    return S.mmr_select(
        emb.filter(F.col("vec_id") != 0), qv, k=8, lam=0.5
    )


@query(
    "q_centroid_similarity",
    oracle="""
    WITH dims AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    c AS (
        SELECT label, pos, round(avg(x), 6) AS v
        FROM dims GROUP BY label, pos
    ),
    p AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.v * b.v) AS dot,
               sqrt(sum(a.v * a.v)) AS na, sqrt(sum(b.v * b.v)) AS nb
        FROM c a JOIN c b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2
    )
    SELECT label_a, label_b, round(dot / (na * nb), 6) AS cosine
    FROM p
    """,
)
def q_centroid_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-centroid cosine matrix: how separable are the embedding
    classes? Centroids are per-dim 6dp means (the q_label_centroids
    relation), pairs join on the DIMENSION key — one label²·dims-sized
    aggregate over class-count-bounded relations, never touching row
    vectors twice. The cluster-quality readout for curriculum/mixture
    decisions."""
    emb = load_table(spark, sf_dir, "embeddings")
    c = (
        emb.select(
            "label", F.posexplode(S.as_double_array("embedding")).alias("pos", "x")
        )
        .groupBy("label", "pos")
        .agg(F.round(F.avg("x"), 6).alias("v"))
        .transform(hold)  # both sides of the pair join
    )
    p = (
        c.alias("a")
        .join(c.alias("b"), "pos")
        .filter(F.col("a.label") < F.col("b.label"))
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.sum(F.col("a.v") * F.col("b.v")).alias("dot"),
            F.sqrt(F.sum(F.col("a.v") * F.col("a.v"))).alias("na"),
            F.sqrt(F.sum(F.col("b.v") * F.col("b.v"))).alias("nb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
    )


@query(
    "q_silhouette",
    oracle="""
    WITH dims AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    c AS (
        SELECT label AS clabel, pos, round(avg(x), 6) AS v
        FROM dims GROUP BY label, pos
    ),
    d AS (
        SELECT dims.vec_id, dims.label, c.clabel,
               round(sqrt(sum((dims.x - c.v) * (dims.x - c.v))), 6) AS dist
        FROM dims JOIN c ON dims.pos = c.pos
        GROUP BY dims.vec_id, dims.label, c.clabel
    ),
    ab AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN dist END) AS a,
               min(CASE WHEN clabel != label THEN dist END) AS b
        FROM d GROUP BY vec_id, label
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n,
           round(avg((b - a) / greatest(a, b)), 6) AS avg_silhouette
    FROM ab WHERE greatest(a, b) > 0
    GROUP BY label
    """,
)
def q_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based (simplified) silhouette per label: s = (b - a) /
    max(a, b) with a = distance to the OWN label centroid, b = nearest
    OTHER centroid — the cluster-separation readout behind curriculum
    and stratification decisions. Centroids (6dp per-dim means) ride a
    BROADCAST label-count-sized array relation; each point computes
    all label distances via one codegen'd zip_with pass — never a
    points x labels x dims row explosion. Distances round 6dp; the
    silhouette ratio and its per-label mean are then engine-exact."""
    emb = load_table(spark, sf_dir, "embeddings")
    pts = emb.select(
        "vec_id", "label", S.as_double_array("embedding").alias("vec")
    )
    cent = (
        pts.select("label", F.posexplode("vec").alias("pos", "x"))
        .groupBy(F.col("label").alias("clabel"), "pos")
        .agg(F.round(F.avg("x"), 6).alias("v"))
        .groupBy("clabel")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "v"))),
                lambda s: s["v"],
            ).alias("cvec")
        )
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("vec"), F.col("cvec"), lambda x, v: (x - v) * (x - v)
                ),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ),
        6,
    )
    d = pts.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (
        ab.filter(F.greatest("a", "b") > 0)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg(sil), 6).alias("avg_silhouette"),
        )
    )


@query(
    "q_cluster_medoid",
    oracle=S.cluster_medoid_oracle_sql(),
)
def q_cluster_medoid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label cluster MEDOID — the real member minimizing total
    cosine distance over a deterministic md5-capped 50-vector sample —
    the showable exemplar next to q_label_centroids (an average that
    may sit in empty space). Pairwise distances quantize to exact
    micro-units so the argmin struct (sum_micro, id) is deterministic
    cross-engine; cost is labels x cap^2 regardless of corpus size
    (operators/similarity.cluster_medoid)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cluster_medoid(emb)


@query(
    "q_quantized_recall",
    oracle=f"""
    WITH raw AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS valf
        FROM embeddings
    ),
    v AS (SELECT vec_id, pos, CAST(valf AS DOUBLE) AS val FROM raw),
    stats AS (
        SELECT pos, min(val) AS minv, max(val) AS maxv FROM v GROUP BY pos
    ),
    deq AS (
        SELECT v.vec_id, v.pos,
               CASE WHEN maxv = minv THEN minv
                    ELSE minv + floor(255 * (val - minv) / (maxv - minv)
                                      + 0.5) * (maxv - minv) / 255
               END AS val
        FROM v JOIN stats USING (pos)
    ),
    vl AS (SELECT vec_id, list(val ORDER BY pos) AS vec
           FROM v GROUP BY vec_id),
    dl AS (SELECT vec_id, list(val ORDER BY pos) AS vec
           FROM deq GROUP BY vec_id),
    exact AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(v.vec, q.vec),
                                      6) DESC, v.vec_id) AS rnk
            FROM vl v CROSS JOIN vl q
            WHERE q.vec_id < 5 AND v.vec_id != q.vec_id
        ) WHERE rnk <= 10
    ),
    approx AS (
        SELECT query_id, vec_id FROM (
            SELECT q.vec_id AS query_id, v.vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                       ORDER BY round(list_cosine_similarity(v.vec, q.vec),
                                      6) DESC, v.vec_id) AS rnk
            FROM dl v CROSS JOIN dl q
            WHERE q.vec_id < 5 AND v.vec_id != q.vec_id
        ) WHERE rnk <= 10
    )
    SELECT e.query_id,
           CAST(10 AS BIGINT) AS k,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_match,
           CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS DOUBLE) / 10 AS recall_at_10
    FROM exact e
    LEFT JOIN approx a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY e.query_id
    """,
)
def q_quantized_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8-quantized search vs exact cosine search —
    the compression-QA readout over q_embedding_quantize ("how much
    retrieval quality does 4x compression cost?"), per query vector.
    Both rankings use the SAME sequential-fold cosine rounded 6dp with
    id tiebreaks (the q_cosine_topk discipline); the dequantized
    vector minv + q*(maxv-minv)/255 is identical IEEE arithmetic in
    both engines. Recall is |top10_exact ∩ top10_quantized| / 10 —
    exact integers, one division.

    Scale shape: the per-dim stats broadcast; both searches are the
    brute_force_topk plan (fact side streams once, slim projections
    shuffle); the corpus-side vector mass never shuffles."""
    from pyspark.sql import Window as W

    emb = load_table(spark, sf_dir, "embeddings")
    codes = S.quantize_embeddings(emb)  # (vec_id, pos, q)
    v = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    stats = v.groupBy("pos").agg(
        F.min("val").alias("minv"), F.max("val").alias("maxv")
    )
    deq = (
        codes.join(F.broadcast(stats), "pos")
        .select(
            "vec_id",
            "pos",
            F.when(F.col("maxv") == F.col("minv"), F.col("minv"))
            .otherwise(
                F.col("minv")
                + F.col("q") * (F.col("maxv") - F.col("minv")) / 255
            )
            .alias("val"),
        )
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("pos"), F.col("val")))
                ),
                lambda s: s["val"],
            ).alias("embedding")
        )
        .transform(hold)  # feeds both sides of the approx search
    )
    def _topk(df):
        qs = df.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return S.brute_force_topk(df, qs, k=10).select("query_id", "vec_id")

    exact = _topk(emb)
    approx = _topk(deq)
    return (
        exact.join(
            approx.withColumn("_hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.lit(10).cast("long").alias("k"),
            F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_match"),
            (
                F.sum(
                    F.when(F.col("_hit").isNotNull(), 1).otherwise(0)
                ).cast("double")
                / 10
            ).alias("recall_at_10"),
        )
    )


@query(
    "q_embedding_drift",
    # Per-dim means round 6dp BEFORE the cosine (the q_label_centroids
    # discipline: float-sum accumulation order differs between
    # engines, 6dp absorbs it), so both engines feed the dot/norm
    # sums IDENTICAL 64 operands; the final cosine rounds 6dp.
    oracle="""
    WITH halves AS (
        SELECT label, vec_id % 2 AS half,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings
    ),
    dims AS (
        SELECT label, half, pos, round(avg(x), 6) AS m
        FROM halves GROUP BY 1, 2, 3
    ),
    paired AS (
        SELECT a.label, a.pos, a.m AS ma, b.m AS mb
        FROM dims a JOIN dims b
          ON b.label = a.label AND b.pos = a.pos
        WHERE a.half = 0 AND b.half = 1
    ),
    counts AS (
        SELECT label,
               CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_b
        FROM embeddings GROUP BY 1
    )
    SELECT c.label, c.n_a, c.n_b,
           round(sum(p.ma * p.mb)
                 / (sqrt(sum(p.ma * p.ma)) * sqrt(sum(p.mb * p.mb))), 6)
               AS centroid_cosine
    FROM paired p JOIN counts c ON c.label = p.label
    GROUP BY 1, 2, 3
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: per-label cosine between the centroid
    of one half of the corpus (even vec_id — in production, the
    reference window) and the other (odd — the current window). PSI /
    Wasserstein (q_psi_drift, q_wasserstein_drift) watch SCALAR score
    drift; this is the vector-space analogue that catches an embedding
    model or upstream-content shift: a healthy split has cosine ~1.0
    per label. One posexplode + (label, half, pos) aggregate — the
    vector mass shuffles once, centroids are a (labels x 64)-row
    relation after."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = (F.col("vec_id") % 2).alias("half")
    # referenced twice (half 0 / half 1 sides of the self-join) —
    # checkpoint the tiny (labels x 2 x 64)-row centroid relation so
    # the vector-mass posexplode aggregate runs ONCE
    dims = (
        emb.select("label", half, F.posexplode(S.as_double_array("embedding")).alias("pos", "x"))
        .groupBy("label", "half", "pos")
        .agg(F.round(F.avg("x"), 6).alias("m"))
        .transform(hold)
    )
    a = dims.filter(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("ma")
    )
    b = dims.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"), F.col("m").alias("mb")
    )
    paired = a.join(
        b, (F.col("label") == F.col("lb")) & (F.col("pos") == F.col("pb"))
    )
    counts = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    cos = paired.groupBy("label").agg(
        F.round(
            F.sum(F.col("ma") * F.col("mb"))
            / (
                F.sqrt(F.sum(F.col("ma") * F.col("ma")))
                * F.sqrt(F.sum(F.col("mb") * F.col("mb")))
            ),
            6,
        ).alias("centroid_cosine")
    )
    return counts.join(cos, "label").select(
        "label", "n_a", "n_b", "centroid_cosine"
    )


@query(
    "q_geometric_median",
    # Engine parity across the iteration: each round's median vector
    # is rounded 6dp per dimension BEFORE the next distance pass, so
    # both engines feed identical constants into every sqrt — float
    # accumulation drift cannot compound (the q_embedding_drift /
    # q_label_centroids discipline, applied per Weiszfeld round).
    # E and the distance relations are MATERIALIZED: multi-referenced
    # CTEs inline per reference in DuckDB (CLAUDE.md r7 lesson).
    oracle="""
    WITH e AS MATERIALIZED (
        SELECT vec_id,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings
    ),
    m0 AS MATERIALIZED (
        SELECT pos, round(avg(x), 6) AS m FROM e GROUP BY 1
    ),
    d1 AS MATERIALIZED (
        SELECT e.vec_id, sqrt(sum((e.x - m0.m) * (e.x - m0.m))) AS d
        FROM e JOIN m0 ON m0.pos = e.pos GROUP BY 1
    ),
    m1 AS MATERIALIZED (
        SELECT e.pos, round(sum(e.x / d1.d) / sum(1.0 / d1.d), 6) AS m
        FROM e JOIN d1 ON d1.vec_id = e.vec_id
        WHERE d1.d > 0 GROUP BY 1
    ),
    d2 AS MATERIALIZED (
        SELECT e.vec_id, sqrt(sum((e.x - m1.m) * (e.x - m1.m))) AS d
        FROM e JOIN m1 ON m1.pos = e.pos GROUP BY 1
    )
    SELECT e.pos, round(sum(e.x / d2.d) / sum(1.0 / d2.d), 6) AS med
    FROM e JOIN d2 ON d2.vec_id = e.vec_id
    WHERE d2.d > 0 GROUP BY 1
    """,
)
def q_geometric_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric median of the embedding corpus (two Weiszfeld
    iterations from the coordinate mean): the ROBUST centroid — the
    mean chases outlier vectors, the per-cluster medoid
    (q_cluster_medoid) is restricted to existing points; Weiszfeld's
    L1-optimal point is the anomaly-resistant corpus summary used for
    drift baselines and poisoning screens. Vector mass shuffles once
    per round on pos/vec keys; each round's 64-value median relation
    is checkpointed and re-broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode(S.as_double_array("embedding")).alias("pos", "x")
    ).transform(hold)  # read by every distance/median pass
    m = (
        e.groupBy("pos").agg(F.round(F.avg("x"), 6).alias("m")).transform(hold)
    )
    for _ in range(2):
        d = (
            e.join(F.broadcast(m), "pos")
            .groupBy("vec_id")
            .agg(F.sqrt(F.sum((F.col("x") - F.col("m")) * (F.col("x") - F.col("m")))).alias("d"))
        )
        m = (
            e.join(d, "vec_id")
            .filter(F.col("d") > 0)
            .groupBy("pos")
            .agg(
                F.round(
                    F.sum(F.col("x") / F.col("d")) / F.sum(F.lit(1.0) / F.col("d")),
                    6,
                ).alias("m")
            )
            .localCheckpoint(eager=False)  # next round (or output) re-reads it
        )
    return m.select("pos", F.col("m").alias("med"))


@query(
    "q_davies_bouldin",
    # mirrors q_silhouette's centroid machinery: 6dp per-dim means,
    # 6dp distances, then every ratio is a chain over rounded values
    oracle="""
    WITH dims AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    c AS (
        SELECT label AS clabel, pos, round(avg(x), 6) AS v
        FROM dims GROUP BY label, pos
    ),
    d AS (
        SELECT dims.vec_id, dims.label,
               round(sqrt(sum((dims.x - c.v) * (dims.x - c.v))), 6) AS dist
        FROM dims JOIN c ON dims.pos = c.pos AND dims.label = c.clabel
        GROUP BY dims.vec_id, dims.label
    ),
    s AS (
        SELECT label, round(avg(dist), 6) AS scatter,
               CAST(count(*) AS BIGINT) AS n
        FROM d GROUP BY label
    ),
    m AS (
        SELECT c1.clabel AS i, c2.clabel AS j,
               round(sqrt(sum((c1.v - c2.v) * (c1.v - c2.v))), 6) AS m_ij
        FROM c c1 JOIN c c2 ON c1.pos = c2.pos AND c1.clabel <> c2.clabel
        GROUP BY c1.clabel, c2.clabel
    ),
    r AS (
        SELECT m.i AS label,
               max(round((si.scatter + sj.scatter) / m.m_ij, 6))
                   AS db_component
        FROM m JOIN s si ON si.label = m.i JOIN s sj ON sj.label = m.j
        WHERE m.m_ij > 0 GROUP BY m.i
    )
    SELECT s.label, s.n, s.scatter, r.db_component
    FROM s JOIN r ON r.label = s.label
    """,
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-quality components per label: scatter
    S_i (mean member-to-centroid distance) and the DB component
    max_{j!=i}(S_i+S_j)/M_ij — the worst-separated-neighbor readout
    beside q_silhouette (which averages per-point margins; DB punishes
    the single most-confusable cluster pair, the failure mode that
    matters when clusters gate mixture weights). Centroids are 6dp
    per-dim means over one posexplode aggregate; the pairwise part
    touches only the BOUNDED label catalog (k^2 rows). Row mass is
    scanned twice (centroid pass + distance pass), never joined to
    itself."""
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        "label",
        F.posexplode(S.as_double_array("embedding")).alias("pos", "x"),
    )
    # the centroid grid (labels x dims, bounded) feeds the distance
    # join AND both sides of the pairwise M_ij join — materialize once
    # (r13 reference-count rule: 3 lazy references re-ran the centroid
    # pass over the row mass each)
    c = dims.groupBy(F.col("label").alias("clabel"), F.col("pos").alias("cpos")).agg(
        F.round(F.avg("x"), 6).alias("v")
    ).transform(hold)
    d = (
        dims.join(
            F.broadcast(c),
            (dims["pos"] == c["cpos"]) & (dims["label"] == c["clabel"]),
        )
        .groupBy("vec_id", "label")
        .agg(
            F.round(
                F.sqrt(
                    F.sum((F.col("x") - F.col("v")) * (F.col("x") - F.col("v")))
                ),
                6,
            ).alias("dist")
        )
    )
    # the scatter table (label-sized) feeds s_i, s_j and the final
    # join — 3 references re-ran the WHOLE member-distance pass each
    s = d.groupBy("label").agg(
        F.round(F.avg("dist"), 6).alias("scatter"),
        F.count(F.lit(1)).cast("long").alias("n"),
    ).transform(hold)
    c1 = c.select(
        F.col("clabel").alias("i"), F.col("cpos").alias("p1"), F.col("v").alias("v1")
    )
    c2 = c.select(
        F.col("clabel").alias("j"), F.col("cpos").alias("p2"), F.col("v").alias("v2")
    )
    m = (
        c1.join(c2, (F.col("p1") == F.col("p2")) & (F.col("i") != F.col("j")))
        .groupBy("i", "j")
        .agg(
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("v1") - F.col("v2")) * (F.col("v1") - F.col("v2"))
                    )
                ),
                6,
            ).alias("m_ij")
        )
    )
    si = s.select(F.col("label").alias("i"), F.col("scatter").alias("s_i"))
    sj = s.select(F.col("label").alias("j"), F.col("scatter").alias("s_j"))
    r = (
        m.filter(F.col("m_ij") > 0)
        .join(F.broadcast(si), "i")
        .join(F.broadcast(sj), "j")
        .groupBy(F.col("i").alias("rlabel"))
        .agg(
            F.max(
                F.round((F.col("s_i") + F.col("s_j")) / F.col("m_ij"), 6)
            ).alias("db_component")
        )
    )
    return s.join(r, s["label"] == r["rlabel"]).select(
        "label", "n", "scatter", "db_component"
    )


@query(
    "q_embedding_whiten",
    # exact-integer micros moments -> deterministic closed-form 2x2
    # eigen -> per-row IEEE chains; no rounding needed anywhere
    oracle="""
    WITH ew_pts AS (
        SELECT vec_id,
               CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000)
                    AS BIGINT) AS xi,
               CAST(floor(CAST(embedding[2] AS DOUBLE) * 1000000)
                    AS BIGINT) AS yi
        FROM embeddings
    ),
    ew_m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
               CAST(sum(xi * xi) AS BIGINT) AS sxx,
               CAST(sum(yi * yi) AS BIGINT) AS syy,
               CAST(sum(xi * yi) AS BIGINT) AS sxy
        FROM ew_pts
    ),
    ew_e AS (
        SELECT n, CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
               (sxx - CAST(sx AS DOUBLE) * sx / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS vx,
               (syy - CAST(sy AS DOUBLE) * sy / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS vy,
               (sxy - CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) - 1) AS cxy
        FROM ew_m
    ),
    ew_q AS (
        SELECT n, mx, my, cxy,
               (vx + vy + sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)) / 2
                   AS lam1,
               (vx + vy - sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)) / 2
                   AS lam2,
               vx, vy
        FROM ew_e
    ),
    ew_v AS (
        SELECT n, mx, my, lam1, lam2,
               CASE WHEN cxy <> 0 THEN
                 cxy / sqrt(cxy * cxy + (lam1 - vx) * (lam1 - vx))
               WHEN vx >= vy THEN 1.0 ELSE 0.0 END AS q1x,
               CASE WHEN cxy <> 0 THEN
                 (lam1 - vx) / sqrt(cxy * cxy + (lam1 - vx) * (lam1 - vx))
               WHEN vx >= vy THEN 0.0 ELSE 1.0 END AS q1y
        FROM ew_q
    )
    SELECT p.vec_id,
           CASE WHEN v.lam1 > 0 THEN
             ((p.xi - v.mx) * v.q1x + (p.yi - v.my) * v.q1y) / sqrt(v.lam1)
           END AS w1,
           CASE WHEN v.lam2 > 0 THEN
             ((p.xi - v.mx) * (-v.q1y) + (p.yi - v.my) * v.q1x)
                 / sqrt(v.lam2)
           END AS w2
    FROM ew_pts p CROSS JOIN ew_v v
    """,
)
def q_embedding_whiten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA whitening of the first two embedding dimensions: rotate
    onto the closed-form 2x2 eigenbasis and scale each axis to unit
    variance — the decorrelation step in front of drift monitors and
    distance thresholds (q_pca_2d gives the eigenstructure readout;
    this APPLIES it per vector). Coordinates quantize to exact integer
    micros so the moment matrix is all-BIGINT and the eigen chain is
    deterministic — the per-row transform then needs no rounding at
    all. One moment aggregate (broadcast scalar) + one map pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    arr = S.as_double_array("embedding")
    pts = emb.select(
        "vec_id",
        F.floor(F.element_at(arr, 1) * 1000000).cast("long").alias("xi"),
        F.floor(F.element_at(arr, 2) * 1000000).cast("long").alias("yi"),
    )
    m = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("yi").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum(F.col("yi") * F.col("yi")).cast("long").alias("syy"),
        F.sum(F.col("xi") * F.col("yi")).cast("long").alias("sxy"),
    )
    n = F.col("n").cast("double")
    mx, my = F.col("sx").cast("double") / n, F.col("sy").cast("double") / n
    vx = (F.col("sxx") - F.col("sx").cast("double") * F.col("sx") / n) / (n - 1)
    vy = (F.col("syy") - F.col("sy").cast("double") * F.col("sy") / n) / (n - 1)
    cxy = (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / n) / (n - 1)
    disc = F.sqrt((vx - vy) * (vx - vy) + 4 * cxy * cxy)
    lam1, lam2 = (vx + vy + disc) / 2, (vx + vy - disc) / 2
    q1norm = F.sqrt(cxy * cxy + (lam1 - vx) * (lam1 - vx))
    q1x = (
        F.when(cxy != 0, cxy / q1norm)
        .when(vx >= vy, F.lit(1.0))
        .otherwise(F.lit(0.0))
    )
    q1y = (
        F.when(cxy != 0, (lam1 - vx) / q1norm)
        .when(vx >= vy, F.lit(0.0))
        .otherwise(F.lit(1.0))
    )
    basis = m.select(
        mx.alias("mx"), my.alias("my"),
        lam1.alias("lam1"), lam2.alias("lam2"),
        q1x.alias("q1x"), q1y.alias("q1y"),
    )
    return pts.crossJoin(F.broadcast(basis)).select(
        "vec_id",
        F.when(
            F.col("lam1") > 0,
            (
                (F.col("xi") - F.col("mx")) * F.col("q1x")
                + (F.col("yi") - F.col("my")) * F.col("q1y")
            ) / F.sqrt(F.col("lam1")),
        ).alias("w1"),
        F.when(
            F.col("lam2") > 0,
            (
                (F.col("xi") - F.col("mx")) * (-F.col("q1y"))
                + (F.col("yi") - F.col("my")) * F.col("q1x")
            ) / F.sqrt(F.col("lam2")),
        ).alias("w2"),
    )
