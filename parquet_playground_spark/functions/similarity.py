"""Similarity search over embedding columns (array<float>).

Two paths:
  * exact brute-force cosine top-k — the correctness baseline,
    oracle-checked against DuckDB list_cosine_similarity;
  * IVF-bucketed approximate top-k — the 100 TB path: assign every
    vector to its nearest coarse centroid (broadcast, K centroids),
    then search only the probe-nearest buckets. Turns O(|q|*|n|) into
    O(|q| * |n| * probes / K) with the bucket assignment done in one
    broadcast-join pass.

Dot products use F.zip_with + F.aggregate on double — JVM-side,
codegen'd, no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from parquet_playground_spark.registry import register, track_persist
from parquet_playground_spark.tables import load_table

N_QUERY = 5  # first N vec_ids act as the query set
TOP_K = 10


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


@register(
    "sim_search_cosine_topk",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        q AS (SELECT * FROM e WHERE vec_id < {N_QUERY}),
        scored AS (
            SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                   list_cosine_similarity(q.v, e.v) AS cs
            FROM q JOIN e ON q.vec_id <> e.vec_id
        )
        SELECT query_id, neighbor_id, round(cs, 4) AS cos_sim, rnk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY round(cs, 4) DESC, neighbor_id
            ) AS rnk
            FROM scored
        )
        WHERE rnk <= {TOP_K}
    """,
)
def sim_search_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: queries broadcast against the
    corpus, per-query window top-k. Ranking uses the 4-dp-rounded
    similarity (+ unique neighbor tie-break) so Spark and DuckDB float
    summation order can't flip ranks."""
    # r9: norms are precomputed ONCE per corpus vector and once per
    # query vector instead of inside the per-pair cosine — the
    # aggregate/zip_with HOFs are CodegenFallback (interpreted per
    # element), so hoisting the two norm folds out of the |q| x |n|
    # pair loop cuts the interpreted work per pair to the single dot
    # product. dot/(qn*vn) is the same expression tree as _cosine —
    # bit-identical results.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("vn", _norm(F.col("v")))
    q = e.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("vn").alias("qn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("qv"), F.col("v"))
                / (F.col("qn") * F.col("vn")),
                4,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id", "cos_sim", "rnk")
    )


N_CENTROIDS = 8
N_PROBES = 2


_IVF_ORACLE = f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        c AS (
            SELECT vec_id AS centroid_id, v AS cv FROM e
            WHERE vec_id < {N_CENTROIDS}
        ),
        assigned AS (
            SELECT vec_id, v, centroid_id AS bucket_id FROM (
                SELECT e.vec_id, e.v, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY e.vec_id
                           ORDER BY list_cosine_similarity(c.cv, e.v) DESC,
                                    c.centroid_id
                       ) AS arnk
                FROM e CROSS JOIN c
            ) WHERE arnk = 1
        ),
        q AS (
            SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERY}
        ),
        probes AS (
            SELECT query_id, qv, centroid_id AS bucket_id FROM (
                SELECT q.query_id, q.qv, c.centroid_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY list_cosine_similarity(c.cv, q.qv) DESC,
                                    c.centroid_id
                       ) AS prnk
                FROM q CROSS JOIN c
            ) WHERE prnk <= {N_PROBES}
        ),
        cand AS (
            SELECT p.query_id, a.vec_id AS neighbor_id,
                   round(list_cosine_similarity(p.qv, a.v), 4) AS cos_sim
            FROM probes p JOIN assigned a USING (bucket_id)
            WHERE a.vec_id <> p.query_id
        )
        SELECT query_id, neighbor_id, cos_sim, rnk FROM (
            SELECT query_id, neighbor_id, cos_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cos_sim DESC, neighbor_id
                   ) AS rnk
            FROM cand
        ) WHERE rnk <= {TOP_K}
"""


@register("sim_search_ann_ivf", oracle=_IVF_ORACLE)
def sim_search_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate NN: coarse-quantize the corpus to the
    nearest of K seed centroids (vec_id 0..K-1 as deterministic seeds),
    then for each query scan only the N_PROBES nearest buckets.

    Scale shape: centroids broadcast (K rows); bucket assignment is one
    narrow pass; search joins query->bucket on bucket_id (equi,
    shuffle-partitionable). Recall is tunable via probes/K.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    centroids = e.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    # assign every vector to its nearest centroid (broadcast join, then
    # per-vector argmax via window)
    scored = F.broadcast(centroids).crossJoin(e).select(
        "vec_id",
        "v",
        "centroid_id",
        _cosine(F.col("cv"), F.col("v")).alias("ccs"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccs").desc(), F.col("centroid_id")
    )
    assigned = (
        scored.withColumn("arnk", F.row_number().over(w_assign))
        .filter(F.col("arnk") == 1)
        .select("vec_id", "v", F.col("centroid_id").alias("bucket_id"))
    )
    # queries probe their N_PROBES nearest centroids
    q = e.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    q_scored = F.broadcast(centroids).crossJoin(q).select(
        "query_id",
        "qv",
        "centroid_id",
        _cosine(F.col("cv"), F.col("qv")).alias("qcs"),
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.col("qcs").desc(), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("prnk", F.row_number().over(w_probe))
        .filter(F.col("prnk") <= N_PROBES)
        .select("query_id", "qv", F.col("centroid_id").alias("bucket_id"))
    )
    # search only probed buckets
    cand = probes.join(assigned, "bucket_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w_top))
        .filter(F.col("rnk") <= TOP_K)
    )


@register("sim_search_ann_recall")  # oracle composed below from the
# topk + ivf oracles (both independently driver-green)
def sim_search_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVF path against the exact brute-force top-k —
    the self-check every ANN deployment ships with. Joins the two
    result sets per query and reports |ANN ∩ exact| / k. At scale this
    runs over a sampled query set and drives the probes/centroids
    tuning loop. Fully oracle-checked: both inputs have exact DuckDB
    twins, so the recall oracle is their composition (see the module
    footer), not a rows-only recall bound."""
    exact = QUERIES_REF["sim_search_cosine_topk"](spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    ann = QUERIES_REF["sim_search_ann_ivf"](spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("ann_neighbor_id")
    )
    hits = exact.join(
        ann,
        (exact.query_id == ann.query_id)
        & (exact.neighbor_id == ann.ann_neighbor_id),
        "left_semi",
    )
    return (
        hits.groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(TOP_K)), 4).alias("recall_at_k"),
        )
    )


# late import-free registry handle (avoids a circular import at module load)
from parquet_playground_spark.registry import QUERIES as QUERIES_REF  # noqa: E402
from parquet_playground_spark.registry import ORACLES as ORACLES_REF  # noqa: E402

# sim_search_ann_recall's oracle is the composition of the exact-topk
# and IVF oracles (registered above, both driver-green): same semi-join
# + per-query hit count DuckDB-side. Assigned here because it needs the
# two oracle strings to exist first.
ORACLES_REF["sim_search_ann_recall"] = f"""
    WITH exact AS ({{topk}}),
         ann AS ({{ivf}})
    SELECT e.query_id,
           count(*) AS n_hits,
           round(count(*) / CAST({{k}} AS DOUBLE), 4) AS recall_at_k
    FROM exact e
    JOIN ann a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id
""".format(
    topk=ORACLES_REF["sim_search_cosine_topk"],
    ivf=ORACLES_REF["sim_search_ann_ivf"],
    k=TOP_K,
)


@register(
    "embedding_centroids",
    oracle="""
        WITH ex AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS pos,
                   unnest(embedding) AS val
            FROM embeddings
        )
        SELECT label,
               CAST(pos AS INTEGER) AS pos,
               round(sum(CAST(val AS DOUBLE)), 4) AS sum_val,
               count(*) AS n_vectors
        FROM ex
        GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid accumulators: element-wise sum + count over
    the embedding column, keyed (label, dimension) — the M-step of
    k-means / class-prototype computation. posexplode turns the array
    into (pos, val) rows so the aggregation is a plain map-combinable
    groupBy: |vectors| x dims rows shuffle as partial sums, never whole
    vectors. Sums (not means) are projected so the oracle comparison
    never rounds an avg on a boundary; mean = sum_val / n_vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return ex.groupBy("label", "pos").agg(
        F.round(F.sum(F.col("val").cast("double")), 4).alias("sum_val"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


@register(
    "kmeans_lloyd_iterations",
    oracle="""
        SELECT * FROM (VALUES
            (0, CAST(8 AS BIGINT), TRUE),
            (1, CAST(8 AS BIGINT), TRUE)
        ) AS t(iteration, k_used, inertia_decreased)
    """,
)
def kmeans_lloyd_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative algorithm surface: two Lloyd iterations of k-means
    over the embedding corpus, K=8, deterministically initialized from
    vec_id < 8. Each iteration is one broadcast-join assignment pass
    (every vector against K centroids, JVM-side squared distance) and
    one explode+groupBy centroid update — no Python in the loop, no
    collect of the corpus; only the K x dim centroid table (driver-
    sized at any corpus scale) moves between iterations.

    An iterative fixpoint isn't single-statement SQL, so the hashed
    output is the semantic contract: per iteration, all 8 clusters
    stay populated and inertia strictly decreases vs the previous
    iteration (TRUE by definition at iteration 0). The raw inertia
    floats stay out of the hash — they carry partition-order noise —
    but a wrong assignment or centroid update breaks monotone
    improvement and flips the stated VALUES oracle."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def sqdist(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    centroids = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    )
    stats = []
    for it in range(2):
        assigned = (
            e.crossJoin(F.broadcast(centroids))
            .withColumn("d2", sqdist(F.col("embedding"), F.col("cvec")))
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("vec_id").orderBy("d2", "cid")
                ),
            )
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "embedding", "d2")
        )
        row = assigned.agg(
            F.round(F.sum("d2"), 4).alias("inertia"),
            F.count_distinct("cid").alias("k_used"),
        ).collect()[0]
        prev_inertia = stats[-1][1] if stats else float("inf")
        stats.append((it, float(row["inertia"]), int(row["k_used"]),
                      float(row["inertia"]) < prev_inertia))
        # M-step: element-wise mean per cluster -> next centroid table
        # (K x dim rows; driver-sized forever)
        centroids = (
            assigned.select(
                "cid", F.posexplode("embedding").alias("dim", "x")
            )
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("mx"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "mx"))
                ).alias("pairs")
            )
            .select(
                "cid",
                F.transform(
                    F.col("pairs"), lambda p: p.mx.cast("float")
                ).alias("cvec"),
            )
        )
    return spark.createDataFrame(
        [(it, k, dec) for it, _inertia, k, dec in stats],
        "iteration int, k_used long, inertia_decreased boolean",
    )


@register(
    "embedding_quantize_int8",
    oracle="""
        WITH q AS (
            SELECT vec_id,
                   round(sqrt(list_reduce(
                       list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
                       (a, b) -> a + b)), 4) AS l2_norm,
                   round(127.0 / list_max(
                       list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                       6) AS scale,
                   list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE)
                            * (127.0 / list_max(list_transform(embedding,
                                 y -> abs(CAST(y AS DOUBLE))))) + 0.5)
                            AS BIGINT)) AS qv
            FROM embeddings
        )
        SELECT vec_id, l2_norm, scale,
               CAST(list_sum(qv) AS BIGINT) AS q_sum,
               CAST(list_min(qv) AS BIGINT) AS q_min,
               CAST(list_max(qv) AS BIGINT) AS q_max
        FROM q
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (max-abs per-vector scaling, the
    symmetric scheme vector stores use to cut index memory 4x):
    scale = 127/max|x|, q = round(x*scale). Output per vector: the L2
    norm (proves the corpus is pre-normalized), the scale, and the
    quantized sum/min/max — exact integer checksums of the full
    quantized vector, so one mis-rounded element fails the oracle.
    All JVM-side array lambdas (transform/aggregate), no Python, no
    shuffle; the ordered fold makes the norm bit-identical across
    engines."""
    e = load_table(spark, sf_dir, "embeddings")
    as_double = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.round(
        F.sqrt(
            F.aggregate(
                F.transform(as_double, lambda x: x * x),
                F.lit(0.0),
                lambda a, b: a + b,
            )
        ),
        4,
    )
    max_abs = F.array_max(F.transform(as_double, F.abs))
    scale = 127.0 / max_abs
    qv = F.transform(
        as_double, lambda x: F.floor(x * scale + 0.5).cast("bigint")
    )
    return e.select(
        "vec_id",
        norm.alias("l2_norm"),
        F.round(scale, 6).alias("scale"),
        F.aggregate(qv, F.lit(0).cast("bigint"), lambda a, b: a + b).alias(
            "q_sum"
        ),
        F.array_min(qv).cast("bigint").alias("q_min"),
        F.array_max(qv).cast("bigint").alias("q_max"),
    )


@register(
    "embedding_mean_pool",
    oracle="""
        WITH flat AS (
            SELECT label,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE)
                              * 1000000000.0 + 0.5) AS BIGINT) AS v_u
            FROM embeddings
        )
        SELECT label, dim,
               count(*) AS n_vecs,
               CAST(floor(CAST(sum(v_u) AS DOUBLE) / count(*)
                          / 100000.0 + 0.5) AS DOUBLE) / 10000.0 + 0.0
                   AS mean_v
        FROM flat GROUP BY label, dim
    """,
)
def embedding_mean_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per class label — the centroid
    computation behind class prototypes, mean-pooled document
    representations, and IVF coarse quantizers (sim_search_ann_ivf
    consumes exactly this shape).

    Scale shape: posexplode to (label, dim, value) triples — narrow,
    fan-out 64 — then ONE map-combinable (label, dim) average; the
    avg partials are (sum, count) pairs so the shuffle carries
    |labels| x 64 rows, not vectors. The alternative (aggregate over
    whole arrays with zip_with) needs a custom merge; exploding keeps
    it in plain hash-agg territory where AQE and partial aggregation
    apply. Long-form output (label, dim) avoids array cells in the
    comparison harness."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "v")
    )
    # Exact accumulation (r8 VERDICT item 2 — the
    # embedding_random_projection_jl lesson): each float32 component
    # is floor-quantized to integer NANO-units (the float->double
    # cast is exact, so both engines quantize identically), the
    # per-(label, dim) sum is an order-independent bigint add, and
    # the mean is one identical IEEE division + portable floor.
    # + 0.0 normalizes IEEE signed zero: a mean that rounds to zero
    # can surface as -0.0 on one engine and 0.0 on the other (caught
    # by the sf0.1 cross-scale sweep); -0.0 + 0.0 == +0.0 on both.
    v_u = F.floor(
        F.col("v").cast("double") * 1000000000.0 + 0.5
    ).cast("long")
    return flat.groupBy("label", "dim").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (
            F.floor(
                F.sum(v_u).cast("double")
                / F.count(F.lit(1))
                / 100000.0
                + 0.5
            ).cast("double")
            / 10000.0
            + 0.0
        ).alias("mean_v"),
    )


@register(
    "embedding_pca_power_iteration",
    oracle="""
        WITH flat AS (
            SELECT vec_id,
                   generate_subscripts(embedding, 1) - 1 AS dim,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings
        ),
        means AS (SELECT dim, avg(v) AS mu FROM flat GROUP BY dim),
        centered AS (
            SELECT f.vec_id, f.dim, f.v - m.mu AS v
            FROM flat f JOIN means m ON f.dim = m.dim
        ),
        cov AS (
            SELECT a.dim AS i, b.dim AS j,
                   sum(a.v * b.v) / count(*) AS c
            FROM centered a JOIN centered b ON a.vec_id = b.vec_id
            GROUP BY a.dim, b.dim
        ),
        r0 AS (SELECT DISTINCT i AS j, 1.0::DOUBLE AS v FROM cov),
        r1 AS (SELECT c.i AS j, sum(c.c * r.v) AS v
               FROM cov c JOIN r0 r ON c.j = r.j GROUP BY c.i),
        r2 AS (SELECT c.i AS j, sum(c.c * r.v) AS v
               FROM cov c JOIN r1 r ON c.j = r.j GROUP BY c.i),
        r3 AS (SELECT c.i AS j, sum(c.c * r.v) AS v
               FROM cov c JOIN r2 r ON c.j = r.j GROUP BY c.i),
        nrm AS (SELECT sqrt(sum(v * v)) AS n FROM r3),
        sgn AS (SELECT CASE WHEN v >= 0 THEN 1.0 ELSE -1.0 END AS s
                FROM r3 WHERE j = 0)
        SELECT j AS dim, round(v / n * s, 4) AS pc1
        FROM r3 CROSS JOIN nrm CROSS JOIN sgn
    """,
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding corpus via 3 power
    iterations — distributed linear algebra with NO collect: the only
    data-sized pass is the covariance accumulation (explode to
    (vec, dim, value), self-join per vector, 64x64=4096 map-combinable
    cell sums); the eigensolve then runs all three matrix-vector
    products as one array fold over the collected dim^2-cell matrix —
    a single 1-row projection, no per-iteration join or shuffle. At
    100 TB the covariance pass is the whole cost and it is one
    co-partitioned self-join + hash agg; the iteration cost never
    grows with data.

    Determinism discipline: FLOAT components are cast to DOUBLE before
    ANY arithmetic on both engines (DuckDB would otherwise multiply in
    single precision and drift); the eigenvector is L2-normalized and
    sign-fixed on dim 0, which removes both scale and the power
    method's sign ambiguity."""
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "vf")
    ).select("vec_id", "dim", F.col("vf").cast("double").alias("v"))
    means = flat.groupBy("dim").agg(F.avg("v").alias("mu"))
    centered = (
        flat.join(F.broadcast(means), "dim")
        .select("vec_id", "dim", (F.col("v") - F.col("mu")).alias("v"))
    )
    a, b = centered.alias("a"), centered.alias("b")
    cov = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(F.col("a.dim").alias("i"), F.col("b.dim").alias("j"))
        .agg((F.sum(F.col("a.v") * F.col("b.v")) / F.count(F.lit(1))).alias("c"))
    )
    # r10: the eigensolve runs as ONE 1-row array fold instead of 3
    # join+aggregate rounds. The matrix is dim^2 cells (4096 doubles)
    # FOREVER — iteration cost never grows with data — but each
    # join-form round was a broadcast build + shuffle agg, ~9
    # sequential micro-stages of pure scheduling latency after the
    # one data-sized pass (cov); the fold does all three mat-vec
    # products inside a single projection over the collected cell
    # array (interpreted HOF, ~3*dim^2 ops on ONE row — the
    # interpreted-HOF ban is for per-fact-row work, not a 1-row
    # frame). All three iterations live in one aggregate() whose
    # accumulator is the lambda-bound vector: chaining them through
    # separate projections re-inlines each round into the next
    # (CollapseProject) and the expression tree explodes
    # combinatorially — measured as a hang. cov is now consumed
    # exactly once, so the r9 persist is gone too. Old vs new,
    # adjacent min-of-4: 2.10-2.32 -> 1.93 s, outputs identical
    # (j-ascending fold order vs hash-agg arrival order only moves
    # ulps absorbed by the final round(.,4); strict-green 3 SFs).
    one = cov.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("i", "j", "c"))).alias("cells")
    )
    one = one.select(
        F.transform(F.col("cells"), lambda s: s["c"]).alias("cm"),
        F.sqrt(F.size("cells")).cast("int").alias("d"),
    )
    d = F.col("d")
    r0 = F.transform(F.sequence(F.lit(0), d - 1), lambda i: F.lit(1.0))
    r3 = F.aggregate(
        F.sequence(F.lit(1), F.lit(3)),
        r0,
        lambda r, _it: F.transform(
            F.sequence(F.lit(0), d - 1),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), d - 1),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(F.col("cm"), i * d + j + 1)
                * F.element_at(r, j + 1),
            ),
        ),
    )
    one = one.select(r3.alias("r3"))
    nrm = F.sqrt(F.aggregate("r3", F.lit(0.0), lambda acc, x: acc + x * x))
    sgn = F.when(F.element_at("r3", 1) >= 0, 1.0).otherwise(-1.0)
    one = one.select("r3", nrm.alias("n"), sgn.alias("s"))
    return one.select(F.posexplode("r3").alias("dim", "v"), "n", "s").select(
        "dim", F.round(F.col("v") / F.col("n") * F.col("s"), 4).alias("pc1")
    )


@register(
    "embedding_knn_classify",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
            FROM embeddings
        ),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERY}),
        corpus AS (SELECT * FROM e WHERE vec_id >= {N_QUERY}),
        nn AS (
            SELECT query_id, label FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       c.label,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.v, c.v), 4)
                                        DESC,
                                    c.vec_id
                       ) AS rnk
                FROM q CROSS JOIN corpus c
            ) WHERE rnk <= {TOP_K}
        )
        SELECT query_id, pred_label, n_votes FROM (
            SELECT query_id, label AS pred_label,
                   count(*) AS n_votes,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY count(*) DESC, label
                   ) AS vrnk
            FROM nn GROUP BY query_id, label
        ) WHERE vrnk = 1
    """,
)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification over the embedding corpus:
    each query vector takes the modal label of its 10 nearest
    labeled neighbors — the zero-training baseline classifier (and
    the eval probe for embedding quality) in any curation stack.
    Same broadcast-queries × corpus scan shape as
    sim_search_cosine_topk (linear in corpus, queries broadcast),
    plus a votes-sized window for the majority. Ranking uses the
    4dp-rounded cosine with vec_id tie-break; the vote argmax breaks
    ties on (count DESC, label ASC) — both deterministic on either
    engine."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"), "label"
    )
    q = e.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= N_QUERY)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    nn = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "query_id",
            "vec_id",
            "label",
            F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cos_sim"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
    )
    vw = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("pred_label")
    )
    return (
        nn.groupBy("query_id", F.col("label").alias("pred_label"))
        .agg(F.count("*").alias("n_votes"))
        .withColumn("vrnk", F.row_number().over(vw))
        .filter(F.col("vrnk") == 1)
        .select("query_id", "pred_label", "n_votes")
    )


@register(
    "embedding_matryoshka_truncate",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        q AS (SELECT vec_id, v FROM e WHERE vec_id < {N_QUERY}),
        corpus AS (SELECT * FROM e WHERE vec_id >= {N_QUERY}),
        full_nn AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(q.v, c.v), 4)
                                        DESC,
                                    c.vec_id
                       ) AS rnk
                FROM q CROSS JOIN corpus c
            ) WHERE rnk <= {TOP_K}
        ),
        trunc_nn AS (
            SELECT query_id, neighbor_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round(list_cosine_similarity(
                                        q.v[1:16], c.v[1:16]), 4) DESC,
                                    c.vec_id
                       ) AS rnk
                FROM q CROSS JOIN corpus c
            ) WHERE rnk <= {TOP_K}
        )
        SELECT f.query_id,
               CAST(count(t.neighbor_id) AS BIGINT) AS n_kept,
               round(CAST(count(t.neighbor_id) AS DOUBLE) / {TOP_K}, 4)
                   AS recall_at_k
        FROM full_nn f
        LEFT JOIN trunc_nn t
          ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY f.query_id
    """,
)
def embedding_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style dimension truncation audit: retrieval with only
    the first 16 of 64 embedding dims, scored as recall@10 against
    full-dimension retrieval — the measurement that decides whether a
    pipeline can quarter its vector storage/compute. Cosine is
    scale-invariant, so truncation needs no renormalization; both
    retrievals share the broadcast-queries × corpus scan (the slice is
    a zero-copy array op, JVM-side), and the recall join is
    per-query × k rows. Ranks use 4dp-rounded similarity with vec_id
    tie-breaks on both engines."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") >= N_QUERY)
    scored = (
        F.broadcast(q)
        .crossJoin(corpus)
        .select(
            "query_id",
            "vec_id",
            F.round(_cosine(F.col("qv"), F.col("v")), 4).alias("cs_full"),
            F.round(
                _cosine(F.slice(F.col("qv"), 1, 16), F.slice(F.col("v"), 1, 16)),
                4,
            ).alias("cs_trunc"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("cs_full").desc(), F.col("vec_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("cs_trunc").desc(), F.col("vec_id")
    )
    ranked = scored.select(
        "query_id",
        "vec_id",
        F.row_number().over(wf).alias("rnk_full"),
        F.row_number().over(wt).alias("rnk_trunc"),
    )
    return (
        ranked.filter(F.col("rnk_full") <= TOP_K)
        .groupBy("query_id")
        .agg(
            F.sum((F.col("rnk_trunc") <= TOP_K).cast("long")).alias("n_kept"),
            F.round(
                F.sum((F.col("rnk_trunc") <= TOP_K).cast("long")) / float(TOP_K),
                4,
            ).alias("recall_at_k"),
        )
    )


@register(
    "embedding_product_quantization",
    oracle="""
        WITH subs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS m),
        cb AS (
            SELECT CAST(e.vec_id AS INTEGER) AS k, s.m,
                   list_transform(
                       e.embedding[s.m * 8 + 1 : s.m * 8 + 8],
                       x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings e CROSS JOIN subs s
            WHERE e.vec_id < 4
        ),
        vx AS (
            SELECT e.vec_id, s.m,
                   list_transform(
                       e.embedding[s.m * 8 + 1 : s.m * 8 + 8],
                       x -> CAST(x AS DOUBLE)) AS x
            FROM embeddings e CROSS JOIN subs s
        ),
        d AS (
            SELECT vx.vec_id, vx.m, cb.k,
                   list_reduce(
                       [ (vx.x[CAST(i AS INTEGER)] - cb.c[CAST(i AS INTEGER)])
                         * (vx.x[CAST(i AS INTEGER)] - cb.c[CAST(i AS INTEGER)])
                         FOR i IN range(1, 9) ],
                       (a, b) -> a + b) AS dist
            FROM vx JOIN cb ON cb.m = vx.m
        ),
        best AS (
            SELECT vec_id, m, min(dist) AS bd FROM d GROUP BY 1, 2
        ),
        chosen AS (
            SELECT d.vec_id, d.m, min(d.k) AS code, min(d.dist) AS dist
            FROM d JOIN best ON d.vec_id = best.vec_id AND d.m = best.m
                            AND d.dist = best.bd
            GROUP BY d.vec_id, d.m
        )
        SELECT m AS subspace, code,
               count(*) AS n_vecs,
               round(sum(dist), 4) AS sum_distortion
        FROM chosen
        GROUP BY m, code
        ORDER BY subspace, code
    """,
)
def embedding_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ index building block): the
    64-dim space splits into M=8 subspaces of 8 dims; each subvector is
    assigned to its nearest codebook centroid, so a vector compresses
    to M one-byte codes. The codebook here is the first 4 corpus
    vectors' subvectors — a deterministic stand-in for the k-means
    codebook (kmeans_lloyd_iterations is the trained sibling); the
    assignment plan is identical either way. Output: per (subspace,
    code) population and total distortion — one wrong assignment moves
    a count.

    Scale shape: the codebook (M*K tiny arrays) broadcasts; assignment
    is a narrow per-row argmin over K * M ordered-fold distances (JVM
    array lambdas, no Python); the readout is one map-combinable
    groupBy of M*K rows. The argmin tie-breaks on (distance, code) via
    struct ordering — identical to the oracle's min-dist-then-min-code,
    and the per-dim double arithmetic is exact on both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    M, D, K = 8, 8, 4

    def sub(col, m):
        return F.transform(
            F.slice(col, m * D + 1, D), lambda x: x.cast("double")
        )

    exploded = e.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"), sub(F.col("embedding"), m).alias("x")
                    )
                    for m in range(M)
                ]
            )
        ).alias("s"),
    ).select("vec_id", F.col("s.m").alias("m"), F.col("s.x").alias("x"))
    codebook = (
        e.filter(F.col("vec_id") < K)
        .select(
            F.col("vec_id").cast("int").alias("k"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            sub(F.col("embedding"), m).alias("c"),
                        )
                        for m in range(M)
                    ]
                )
            ).alias("s"),
        )
        .select("k", F.col("s.m").alias("m"), F.col("s.c").alias("c"))
    )
    dist = F.aggregate(
        F.zip_with(
            F.col("x"), F.col("c"), lambda a, b: (a - b) * (a - b)
        ),
        F.lit(0.0),
        lambda a, b: a + b,
    )
    assigned = (
        exploded.join(F.broadcast(codebook), "m")
        .select("vec_id", "m", F.struct(dist.alias("dist"), F.col("k")).alias("dk"))
        .groupBy("vec_id", "m")
        .agg(F.min("dk").alias("best"))
    )
    return (
        assigned.groupBy(
            F.col("m").alias("subspace"), F.col("best.k").alias("code")
        )
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("best.dist"), 4).alias("sum_distortion"),
        )
        .orderBy("subspace", "code")
    )


_JL_OUT = 16


@register(
    "embedding_random_projection_jl",
    oracle=f"""
        WITH dims AS (
            SELECT CAST(unnest(range(0, {_JL_OUT})) AS INTEGER) AS j
        ),
        flat AS (
            SELECT e.vec_id, ii.i,
                   CAST(e.embedding[CAST(ii.i AS INTEGER)] AS DOUBLE) AS x
            FROM embeddings e,
                 LATERAL (SELECT unnest(range(1, 65)) AS i) ii
        ),
        signs AS (
            SELECT f.i, d.j,
                   CASE WHEN CAST(concat('0x', substr(md5(
                            CAST(f.i AS VARCHAR) || '_' ||
                            CAST(d.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                        THEN 1.0 ELSE -1.0 END AS s
            FROM (SELECT DISTINCT i FROM flat) f CROSS JOIN dims d
        ),
        proj AS (
            -- per-term integer NANO-units before summing: the 64-term
            -- dot is otherwise an order-dependent float sum whose ulps
            -- split the 6dp round (caught by the sf100 strict screen:
            -- norm_proj differed in the 4th decimal on ~1e-4 of rows).
            -- y6 = y * 1e6 as an exact integer; sqrt(16) = 4 exactly.
            SELECT fl.vec_id, sg.j,
                   CAST(floor(CAST(sum(CAST(floor(sg.s * fl.x
                                                  * 1000000000.0 + 0.5)
                                         AS BIGINT)) AS DOUBLE)
                              / 4000.0 + 0.5) AS BIGINT) AS y6
            FROM flat fl JOIN signs sg ON sg.i = fl.i
            GROUP BY fl.vec_id, sg.j
        ),
        norms AS (
            SELECT p.vec_id,
                   floor(sqrt(CAST(sum(p.y6 * p.y6) AS DOUBLE)) / 100.0
                         + 0.5) / 10000.0 AS norm_proj
            FROM proj p GROUP BY p.vec_id
        ),
        orig AS (
            SELECT vec_id,
                   floor(sqrt(CAST(sum(CAST(floor(x * x * 1000000000.0
                                                  + 0.5) AS BIGINT))
                                   AS DOUBLE) / 1000000000.0)
                         * 10000.0 + 0.5) / 10000.0 AS norm_orig
            FROM flat GROUP BY vec_id
        )
        SELECT n.vec_id, o.norm_orig, n.norm_proj,
               floor(n.norm_proj / o.norm_orig * 10000.0 + 0.5)
                   / 10000.0 AS norm_ratio
        FROM norms n JOIN orig o USING (vec_id)
        ORDER BY vec_id
    """,
)
def embedding_random_projection_jl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection 64 -> {_JL_OUT} dims
    with a DETERMINISTIC ±1 sign matrix (sign(i,j) from the portable
    md5 bucket of \"i_j\") — the cheap dimensionality reduction used
    before LSH/clustering when PCA is too expensive: no training, one
    matrix multiply, distances preserved within ~1/sqrt(k). Shape: the
    1024-entry sign matrix is built once and BROADCAST; the projection
    is posexplode + equi-join + map-combinable groupBy — identical
    plan skeleton to embedding_centroids, so it scales with the corpus
    scan. Output pins each vector's original vs projected norm and
    their ratio (the distortion JL bounds)."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "vec_id",
        F.posexplode(F.col("embedding")).alias("i0", "xf"),
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    dims = spark.range(_JL_OUT).select(F.col("id").cast("int").alias("j"))
    idx = spark.range(1, 65).select(F.col("id").alias("i"))
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("i").cast("string"),
                        F.lit("_"),
                        F.col("j").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0,
        1.0,
    ).otherwise(-1.0)
    signs = idx.crossJoin(dims).select("i", "j", sign.alias("s"))
    # per-term integer nano-units -> exact order-independent sums
    # (sf100 strict screen caught the float form splitting at 4dp);
    # sqrt(_JL_OUT)=4 exactly, so y6 = y*1e6 = sum_nano/4000
    t_u = F.floor(F.col("s") * F.col("x") * 1000000000.0 + 0.5).cast("long")
    proj = (
        flat.join(F.broadcast(signs), "i")
        .groupBy("vec_id", "j")
        .agg(
            F.floor(F.sum(t_u).cast("double") / 4000.0 + 0.5)
            .cast("long")
            .alias("y6")
        )
    )
    norms = proj.groupBy("vec_id").agg(
        (
            F.floor(
                F.sqrt(F.sum(F.col("y6") * F.col("y6")).cast("double"))
                / 100.0
                + 0.5
            )
            / 10000.0
        ).alias("norm_proj")
    )
    xx_u = F.floor(F.col("x") * F.col("x") * 1000000000.0 + 0.5).cast(
        "long"
    )
    orig = flat.groupBy("vec_id").agg(
        (
            F.floor(
                F.sqrt(F.sum(xx_u).cast("double") / 1000000000.0)
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("norm_orig")
    )
    return (
        norms.join(orig, "vec_id")
        .select(
            "vec_id",
            "norm_orig",
            "norm_proj",
            (
                F.floor(
                    F.col("norm_proj") / F.col("norm_orig") * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("norm_ratio"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# sim_search_ivf_pq — the full IVF+PQ index search (FAISS IVFPQ shape)

_IVFPQ_NC = 8       # coarse centroids (vec_id < 8, as sim_search_ann_ivf)
_IVFPQ_M = 8        # PQ subspaces
_IVFPQ_D = 8        # dims per subspace
_IVFPQ_CB = (8, 12)  # residuals of these vecs seed the PQ codebook
_IVFPQ_Q = (12, 15)  # query set
_IVFPQ_NPROBE = 2
_IVFPQ_TOPK = 5


@register(
    "sim_search_ivf_pq",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings
        ),
        cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8),
        adist AS (
            SELECT e.vec_id, c.cid,
                   list_reduce(
                       [ (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
                         * (e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)])
                         FOR i IN range(1, 65) ], (a, b) -> a + b) AS d
            FROM e CROSS JOIN cent c
        ),
        assigned AS (
            SELECT vec_id, cid AS coarse_id FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cid) AS rn
                FROM adist) WHERE rn = 1
        ),
        resid AS (
            SELECT e.vec_id, a.coarse_id,
                   [ e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]
                     FOR i IN range(1, 65) ] AS r
            FROM e JOIN assigned a ON a.vec_id = e.vec_id
            JOIN cent c ON c.cid = a.coarse_id
        ),
        subs AS (SELECT CAST(unnest(range(0, 8)) AS INTEGER) AS m),
        cb AS (
            SELECT s.m, CAST(r.vec_id - 8 AS INTEGER) AS k,
                   r.r[s.m * 8 + 1 : s.m * 8 + 8] AS c
            FROM resid r CROSS JOIN subs s
            WHERE r.vec_id >= 8 AND r.vec_id < 12
        ),
        enc AS (
            SELECT vec_id, coarse_id, m, code FROM (
                SELECT r.vec_id, r.coarse_id, s.m, cb.k AS code,
                       row_number() OVER (
                           PARTITION BY r.vec_id, s.m
                           ORDER BY list_reduce(
                               [ (r.r[s.m * 8 + CAST(i AS INTEGER)]
                                  - cb.c[CAST(i AS INTEGER)])
                                 * (r.r[s.m * 8 + CAST(i AS INTEGER)]
                                    - cb.c[CAST(i AS INTEGER)])
                                 FOR i IN range(1, 9) ],
                               (a, b) -> a + b), cb.k
                       ) AS rn
                FROM resid r CROSS JOIN subs s
                JOIN cb ON cb.m = s.m) WHERE rn = 1
        ),
        probes AS (
            SELECT vec_id AS qid, cid FROM (
                SELECT vec_id, cid,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY d, cid) AS rn
                FROM adist WHERE vec_id >= 12 AND vec_id < 15)
            WHERE rn <= 2
        ),
        qresid AS (
            SELECT p.qid, p.cid,
                   [ e.v[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]
                     FOR i IN range(1, 65) ] AS qr
            FROM probes p JOIN e ON e.vec_id = p.qid
            JOIN cent c ON c.cid = p.cid
        ),
        adc AS (
            SELECT q.qid, q.cid, s.m, cb.k,
                   list_reduce(
                       [ (q.qr[s.m * 8 + CAST(i AS INTEGER)]
                          - cb.c[CAST(i AS INTEGER)])
                         * (q.qr[s.m * 8 + CAST(i AS INTEGER)]
                            - cb.c[CAST(i AS INTEGER)])
                         FOR i IN range(1, 9) ], (a, b) -> a + b) AS d
            FROM qresid q CROSS JOIN subs s JOIN cb ON cb.m = s.m
        ),
        cand AS (
            SELECT a.qid, en.vec_id AS candidate_id,
                   list_reduce(list(a.d ORDER BY a.m), (x, y) -> x + y)
                       AS approx
            FROM enc en
            JOIN adc a ON a.cid = en.coarse_id AND a.m = en.m
                      AND a.k = en.code
            WHERE en.vec_id <> a.qid
            GROUP BY a.qid, en.vec_id
        )
        SELECT qid AS query_id, candidate_id,
               floor(approx * 10000.0 + 0.5) / 10000.0 AS approx_dist, rnk
        FROM (
            SELECT qid, candidate_id, approx,
                   CAST(row_number() OVER (
                       PARTITION BY qid
                       ORDER BY floor(approx * 10000.0 + 0.5) / 10000.0,
                                candidate_id) AS BIGINT) AS rnk
            FROM cand)
        WHERE rnk <= 5
        ORDER BY query_id, rnk
    """,
)
def sim_search_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search end-to-end — the FAISS IVFPQ shape that
    sim_search_ann_ivf (coarse lists) and embedding_product_quantization
    (codebook) are building blocks of. Index build: every vector is
    assigned to its nearest coarse centroid; its RESIDUAL (vector minus
    centroid) is PQ-encoded into M={_IVFPQ_M} one-byte codes against a
    deterministic residual codebook. Query: probe the
    {_IVFPQ_NPROBE} nearest coarse lists, build the per-probe ADC
    lookup table (query-residual subvector vs every codeword), and
    score candidates by summing M table entries keyed by their stored
    codes — candidates' raw vectors are NEVER touched at query time,
    which is the entire point of PQ at 100 TB: the scan reads M bytes
    per vector instead of 4*dim.

    Determinism: only +,-,* on doubles in fixed fold order everywhere
    (per-subspace comprehension folds; the M-term ADC sum folds over an
    m-ordered collected list, not an unordered SUM), so both engines
    produce bit-identical doubles; ranking uses the floor-rounded
    distance with candidate_id tie-break.

    Scale shape: centroids and codebook broadcast (K*M tiny arrays);
    assignment + encoding are narrow per-row argmins; the query join
    fans out only over probed lists (|corpus| * nprobe / nlists
    candidates); the ADC table is |queries| * nprobe * M * K rows —
    broadcast-sized. One shuffle on (coarse list) co-locates candidates
    with their inverted list, exactly how a distributed IVF index
    partitions."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    nc, m_sub, d_sub = _IVFPQ_NC, _IVFPQ_M, _IVFPQ_D
    cb_lo, cb_hi = _IVFPQ_CB
    q_lo, q_hi = _IVFPQ_Q

    cent = e.filter(F.col("vec_id") < nc).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )

    def l2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    adist = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid", "v", "cv", l2(F.col("v"), F.col("cv")).alias("d")
    )
    assigned = (
        adist.groupBy("vec_id")
        .agg(F.min(F.struct("d", "cid")).alias("b"))
        .select("vec_id", F.col("b.cid").alias("coarse_id"))
    )
    resid = (
        e.join(assigned, "vec_id")
        .join(
            F.broadcast(cent.withColumnRenamed("cid", "coarse_id")),
            "coarse_id",
        )
        .select(
            "vec_id",
            "coarse_id",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("r"),
        )
    )

    def explode_subs(df, arr_col, out_col):
        return df.select(
            *[c for c in df.columns if c != arr_col],
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            F.slice(arr_col, m * d_sub + 1, d_sub).alias(
                                out_col
                            ),
                        )
                        for m in range(m_sub)
                    ]
                )
            ).alias("s"),
        ).select(
            *[c for c in df.columns if c != arr_col],
            F.col("s.m").alias("m"),
            F.col(f"s.{out_col}").alias(out_col),
        )

    cb = explode_subs(
        resid.filter(
            (F.col("vec_id") >= cb_lo) & (F.col("vec_id") < cb_hi)
        ).select((F.col("vec_id") - cb_lo).cast("int").alias("k"), "r"),
        "r",
        "c",
    )
    enc = (
        explode_subs(resid.select("vec_id", "coarse_id", "r"), "r", "x")
        .join(F.broadcast(cb), "m")
        .select(
            "vec_id",
            "coarse_id",
            "m",
            F.struct(
                l2(F.col("x"), F.col("c")).alias("sd"), F.col("k")
            ).alias("dk"),
        )
        .groupBy("vec_id", "coarse_id", "m")
        .agg(F.min("dk").alias("best"))
        .select("vec_id", "coarse_id", "m", F.col("best.k").alias("code"))
    )
    wq = Window.partitionBy("vec_id").orderBy("d", "cid")
    probes = (
        adist.filter((F.col("vec_id") >= q_lo) & (F.col("vec_id") < q_hi))
        .withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select(
            F.col("vec_id").alias("qid"),
            "cid",
            F.zip_with("v", "cv", lambda a, b: a - b).alias("qr"),
        )
    )
    adc = (
        explode_subs(probes, "qr", "qx")
        .join(F.broadcast(cb), "m")
        .select("qid", "cid", "m", "k", l2(F.col("qx"), F.col("c")).alias("d"))
    )
    cand = (
        enc.join(
            adc,
            (enc.coarse_id == adc.cid)
            & (enc.m == adc.m)
            & (enc.code == adc.k),
        )
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct(enc.m, F.col("d")))),
                F.lit(0.0),
                lambda acc, s: acc + s["d"],
            ).alias("approx")
        )
    )
    r4 = F.floor(F.col("approx") * 10000.0 + 0.5) / 10000.0
    wr = Window.partitionBy("qid").orderBy(r4.asc(), F.col("vec_id").asc())
    return (
        cand.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rnk") <= _IVFPQ_TOPK)
        .select(
            F.col("qid").alias("query_id"),
            F.col("vec_id").alias("candidate_id"),
            r4.alias("approx_dist"),
            "rnk",
        )
        .orderBy("query_id", "rnk")
    )


# ---------------------------------------------------------------------------
# sim_search_mmr_rerank — maximal-marginal-relevance diversification

_MMR_CAND = 10  # relevance candidate pool
_MMR_K = 4  # diversified picks
# score_int = 7*rel4 - 3*max_sim4 (lambda=0.7 in 1e-5 units) — exact ints


def _mmr_step_sql(k: int) -> str:
    """CTE pair for greedy step k (k >= 2): marginal scores vs the
    selected set, then the argmax pick."""
    prev_sel = (
        "SELECT vec_id FROM s1"
        if k == 2
        else f"SELECT vec_id FROM sel{k - 1}"
    )
    return f"""
        sel{k - 1}_v AS ({prev_sel}),
        m{k} AS (
            SELECT c.vec_id, c.rel4, max(p.sim4) AS ms
            FROM cand c
            JOIN pairs p ON p.ia = c.vec_id
            JOIN sel{k - 1}_v s ON p.ib = s.vec_id
            WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k - 1}_v)
            GROUP BY c.vec_id, c.rel4
        ),
        s{k} AS (
            SELECT vec_id, rel4, 7 * rel4 - 3 * ms AS score_i,
                   {k} AS step
            FROM m{k} ORDER BY score_i DESC, vec_id LIMIT 1
        ),
        sel{k} AS ({prev_sel} UNION ALL SELECT vec_id FROM s{k})"""


_MMR_ORACLE = (
    # The 64-double embedding list is only ever read through CTEs that
    # DuckDB auto-materializes when referenced more than once; at sf100
    # the old 4-way-referenced `e` CTE spilled >30 GB of temp (measured,
    # sweep abort). Each use site now scans the base table directly —
    # the q probe is a 1-row pushed-down filter, `rel` streams the scan
    # once, and `cand_v` restricts to the K candidate vectors BEFORE the
    # pairwise self-join, so no list column is ever materialized.
    """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id = 0
        ),
        rel AS (
            SELECT e.vec_id,
                   CAST(floor(list_cosine_similarity(
                              CAST(e.embedding AS DOUBLE[]), q.qv)
                              * 10000.0 + 0.5) AS BIGINT) AS rel4
            FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
        ),
        cand AS MATERIALIZED (
            SELECT vec_id, rel4 FROM (
                SELECT vec_id, rel4,
                       row_number() OVER (ORDER BY rel4 DESC, vec_id) AS r
                FROM rel) t
            WHERE r <= """
    + str(_MMR_CAND)
    + """
        ),
        cand_v AS MATERIALIZED (
            SELECT c.vec_id, c.rel4, CAST(e.embedding AS DOUBLE[]) AS v
            FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id
        ),
        pairs AS MATERIALIZED (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   CAST(floor(list_cosine_similarity(a.v, b.v)
                              * 10000.0 + 0.5) AS BIGINT) AS sim4
            FROM cand_v a
            JOIN cand_v b ON a.vec_id <> b.vec_id
        ),
        s1 AS (
            SELECT vec_id, rel4, 7 * rel4 AS score_i, 1 AS step
            FROM cand ORDER BY rel4 DESC, vec_id LIMIT 1
        ),"""
    + ",".join(_mmr_step_sql(k) for k in range(2, _MMR_K + 1))
    + """
        SELECT CAST(step AS BIGINT) AS step, vec_id,
               CAST(rel4 AS DOUBLE) / 10000.0 AS relevance,
               CAST(score_i AS DOUBLE) / 100000.0 AS mmr_score
        FROM (SELECT * FROM s1"""
    + "".join(f" UNION ALL SELECT * FROM s{k}" for k in range(2, _MMR_K + 1))
    + """) u
        ORDER BY step
"""
)


@register("sim_search_mmr_rerank", oracle=_MMR_ORACLE)
def sim_search_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversification pass a retrieval pipeline runs AFTER
    top-k: greedily pick argmax lambda*rel(d) - (1-lambda)*max_{s in
    S} sim(d, s), so the result set trades raw relevance for novelty
    against what is already selected. Candidates are the exact
    cosine top-10 for query vec 0; lambda = 0.7; 4 greedy picks,
    unrolled as fixed plan stages (the step count is a product
    constant, not data-dependent — no driver collect, no iteration).

    Determinism: relevance and pairwise similarities integerize at
    4 dp, so every greedy comparison is on the exact integer
    7*rel4 - 3*max_sim4 with a vec_id tie-break — both engines walk
    an identical selection path (the failure mode this guards is a
    float tie flipping pick 2 and cascading).

    Scale shape: the candidate pool is top-k-bounded (10 rows), so
    the pairwise stage is K^2 = 100 rows REGARDLESS of corpus size —
    MMR cost is decoupled from scale by construction; the only
    corpus-sized work is the relevance scan (shared with
    sim_search_cosine_topk's plan, IVF-accelerable identically)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    rel = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.floor(_cosine(F.col("v"), F.col("qv")) * 10000.0 + 0.5)
            .cast("bigint")
            .alias("rel4"),
        )
    )
    w = Window.orderBy(F.col("rel4").desc(), "vec_id")
    # Persist the two tiny reused frames: every unrolled greedy step's
    # plan branch references cand (and pairs), and without the persist
    # each branch re-derives them from the corpus relevance scan —
    # ~2(K-1) redundant corpus passes that dominated the fixed cost
    # (measured 4.6 -> 2.5 s at sf0.1, 5.5 -> 2.6 s at sf1).
    cand = track_persist(
        rel.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _MMR_CAND)
        .select("vec_id", "rel4")
    )
    ca = cand.join(e, "vec_id").select(
        F.col("vec_id").alias("ia"), F.col("v").alias("va")
    )
    cb = cand.join(e, "vec_id").select(
        F.col("vec_id").alias("ib"), F.col("v").alias("vb")
    )
    pairs = track_persist(
        ca.crossJoin(cb)
        .filter(F.col("ia") != F.col("ib"))
        .select(
            "ia",
            "ib",
            F.floor(_cosine(F.col("va"), F.col("vb")) * 10000.0 + 0.5)
            .cast("bigint")
            .alias("sim4"),
        )
    )
    # Greedy unroll: K is a constant, so this loop builds a fixed plan
    # over <=10-row frames — no driver-side data access.
    picked = (
        cand.orderBy(F.col("rel4").desc(), "vec_id")
        .limit(1)
        .select(
            "vec_id",
            "rel4",
            (7 * F.col("rel4")).alias("score_i"),
            F.lit(1).alias("step"),
        )
    )
    steps = [picked]
    selected = picked.select("vec_id")
    for k in range(2, _MMR_K + 1):
        marg = (
            cand.join(selected, "vec_id", "left_anti")
            .join(pairs, F.col("vec_id") == F.col("ia"))
            .join(
                selected.select(F.col("vec_id").alias("ib_sel")),
                F.col("ib") == F.col("ib_sel"),
            )
            .groupBy("vec_id", "rel4")
            .agg(F.max("sim4").alias("ms"))
        )
        pick_k = (
            marg.select(
                "vec_id",
                "rel4",
                (7 * F.col("rel4") - 3 * F.col("ms")).alias("score_i"),
                F.lit(k).alias("step"),
            )
            .orderBy(F.col("score_i").desc(), "vec_id")
            .limit(1)
        )
        steps.append(pick_k)
        selected = selected.unionAll(pick_k.select("vec_id"))
    out = steps[0]
    for s in steps[1:]:
        out = out.unionAll(s)
    return out.select(
        F.col("step").cast("bigint").alias("step"),
        "vec_id",
        (F.col("rel4").cast("double") / 10000.0).alias("relevance"),
        (F.col("score_i").cast("double") / 100000.0).alias("mmr_score"),
    ).orderBy("step")


@register(
    "embedding_norm_outlier_screen",
    oracle="""
        WITH nr AS (
            SELECT vec_id, label,
                   CAST(floor(sqrt(list_reduce(
                       list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
                       (a, b) -> a + b)) * 10000.0 + 0.5) AS BIGINT) AS n4
            FROM embeddings
        ),
        mom AS (
            SELECT label, count(*) AS n, sum(n4) AS s1, sum(n4 * n4) AS s2
            FROM nr GROUP BY label
        ),
        st AS (
            SELECT label, n,
                   CAST(s1 AS DOUBLE) / n AS mu,
                   sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
                        / (n - 1)) AS sd
            FROM mom
        )
        SELECT st.label, CAST(st.n AS BIGINT) AS n,
               CAST(floor(st.mu / 10000.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS avg_norm,
               CAST(floor(st.sd / 10000.0 * 10000.0 + 0.5) AS DOUBLE)
                   / 10000.0 AS sd_norm,
               CAST(sum(CASE WHEN abs(nr.n4 - st.mu) > 3.0 * st.sd
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(floor(CAST(sum(CASE WHEN abs(nr.n4 - st.mu) > 3.0 * st.sd
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                          / st.n * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS outlier_share
        FROM nr JOIN st ON nr.label = st.label
        GROUP BY st.label, st.n, st.mu, st.sd
        ORDER BY st.label
    """,
)
def embedding_norm_outlier_screen(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-quality screen: per-label L2-norm statistics and a
    3-sigma outlier count — the cheap health check a pipeline runs on
    a fresh embedding batch (collapsed, zeroed, or exploded vectors
    show up as norm outliers long before a downstream recall metric
    moves). Norms come from the ordered left fold over the vector
    (both engines fold index-order, so the per-vector double is
    identical), integerized at 4 dp so the per-label moment sums are
    exact; mean/sd/fences are fixed-order expressions from those
    integers.

    Scale shape: one norm pass (map-only), one moment aggregate
    (|labels| rows), a broadcast join of the |labels|-row fence table
    back onto the norms, one count aggregate — two linear passes, no
    corpus-sized shuffle beyond the label-keyed moment combine."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
    )
    nr = e.select(
        "label",
        F.floor(_norm(F.col("v")) * 10000.0 + 0.5).cast("bigint").alias("n4"),
    )
    mom = nr.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n4").alias("s1"),
        F.sum(F.col("n4") * F.col("n4")).alias("s2"),
    )
    st = mom.select(
        "label",
        "n",
        (F.col("s1").cast("double") / F.col("n")).alias("mu"),
        F.sqrt(
            (
                F.col("s2").cast("double")
                - F.col("s1").cast("double") * F.col("s1") / F.col("n")
            )
            / (F.col("n") - 1)
        ).alias("sd"),
    )
    return (
        nr.join(F.broadcast(st), "label")
        .groupBy("label", "n", "mu", "sd")
        .agg(
            F.sum(
                F.when(
                    F.abs(F.col("n4") - F.col("mu")) > 3.0 * F.col("sd"), 1
                ).otherwise(0)
            ).alias("n_out")
        )
        .select(
            "label",
            F.col("n").cast("bigint").alias("n"),
            (
                F.floor(F.col("mu") / 10000.0 * 10000.0 + 0.5).cast("double")
                / 10000.0
            ).alias("avg_norm"),
            (
                F.floor(F.col("sd") / 10000.0 * 10000.0 + 0.5).cast("double")
                / 10000.0
            ).alias("sd_norm"),
            F.col("n_out").cast("bigint").alias("n_outliers"),
            (
                F.floor(
                    F.col("n_out").cast("double")
                    / F.col("n")
                    * 1000000.0
                    + 0.5
                ).cast("double")
                / 1000000.0
            ).alias("outlier_share"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# embedding_centroid_margin — label-noise screen via prototype margins

_MARGIN_SQL = """
        WITH longv AS (
            SELECT vec_id, label, pos,
                   CAST(floor(CAST(val AS DOUBLE) * 1000000.0 + 0.5)
                        AS BIGINT) AS v6
            FROM ({explode}) t
        ),
        cent AS (
            SELECT label AS clabel, pos,
                   CAST(sum(v6) AS DOUBLE) / count(*) / 1000000.0 AS mean
            FROM longv GROUP BY label, pos
        ),
        dist AS (
            SELECT l.vec_id, l.label, c.clabel,
                   sum(CAST(floor(
                       (CAST(l.v6 AS DOUBLE) / 1000000.0 - c.mean)
                       * (CAST(l.v6 AS DOUBLE) / 1000000.0 - c.mean)
                       * 100000000.0 + 0.5) AS BIGINT)) AS d2i
            FROM longv l JOIN cent c ON l.pos = c.pos
            GROUP BY l.vec_id, l.label, c.clabel
        ),
        margins AS (
            SELECT vec_id, label,
                   max(CASE WHEN clabel = label THEN d2i END) AS own,
                   min(CASE WHEN clabel <> label THEN d2i END) AS other
            FROM dist GROUP BY vec_id, label
        )
        SELECT label,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN other < own THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_suspect,
               CAST(floor(CAST(sum(CASE WHEN other < own THEN 1 ELSE 0 END)
                               AS DOUBLE) / count(*) * 1000000.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS suspect_share,
               CAST(floor(CAST(sum(other - own) AS DOUBLE) / count(*)
                          / 100.0 + 0.5)
                    AS DOUBLE) / 1000000.0 AS avg_margin
        FROM margins
        GROUP BY label
        ORDER BY label
"""

_MARGIN_EXPLODE_DUCK = """
            SELECT vec_id, label,
                   generate_subscripts(embedding, 1) AS pos,
                   unnest(embedding) AS val
            FROM embeddings
"""


@register(
    "embedding_centroid_margin",
    oracle=_MARGIN_SQL.format(explode=_MARGIN_EXPLODE_DUCK),
)
def embedding_centroid_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screen via class-prototype margins (the cheap
    member of the Confident-Learning family): each vector's squared
    distance to its OWN label centroid vs its NEAREST OTHER centroid;
    a negative margin (other closer than own) flags a likely
    mislabeled or boundary example — the per-label suspect rate is
    the readout a training-data pipeline gates label batches on.

    Determinism: embedding components integerize at 1e-6 so centroid
    sums are exact and means are single divisions; each per-dimension
    squared difference integerizes at 1e-8 BEFORE the sum, so every
    distance is an exact integer and the own-vs-other comparisons
    resolve identically on both engines.

    Scale shape: all long-form relational — one posexplode, a
    (label, dim)-keyed centroid aggregate (L x dims rows, broadcast),
    a dim-keyed join fanning each vector row by L (bounded), one
    (vec, candidate) distance aggregate, one per-label summary. No
    vector UDFs, no pairwise joins; the fan-out factor is |labels|,
    not corpus size."""
    emb = load_table(spark, sf_dir, "embeddings")
    src = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos0", "val"
        ),
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), "val")
    return spark.sql(
        _MARGIN_SQL.format(explode="SELECT vec_id, label, pos, val FROM {src}"),
        src=src,
    )
