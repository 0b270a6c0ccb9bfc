"""Similarity search over the embeddings table (BASELINE.json north star).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.  The
  query side is tiny (broadcast), so the "cross join" is a broadcast
  nested-loop over one pass of the candidate table: at 100 TB the cost is
  one scan, no shuffle.
- ``ann_ivf_topk``: the scale path.  IVF = coarse quantize (centroid per
  partition key), probe the top-nprobe nearest centroids, search only those
  buckets.  Candidate set shrinks by ~nlist/nprobe; the bucket join is an
  equi-join on the cluster id, so Spark shuffles candidates once instead of
  scoring everything.
- ``emb_near_dup_bruteforce`` (alias ``emb_near_dup``): embedding-cosine
  near-duplicate pairs above a threshold — the O(n^2) ORACLE SPEC only;
  ``emb_near_dup_lsh`` is the production scale path (the dedup-by-embedding
  variant of plans/text.py's lexical dedup family).
"""

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vectors import as_double, cosine

_DIM = 64
_NPROBE = 2


def emb_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding (sanity surface for the vector math library)."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    return (
        emb.select(
            "vec_id",
            F.round(F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x)), 6).alias("l2_norm"),
            F.size("embedding").cast("long").alias("dim"),
            "label",
        )
        .orderBy("vec_id")
    )


EMB_NORMS_ORACLE = """
SELECT vec_id,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
           AS l2_norm,
       CAST(len(embedding) AS BIGINT) AS dim,
       label
FROM embeddings
ORDER BY vec_id
"""


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-3 nearest neighbors by cosine for query vectors vec_id < 5.

    Broadcast the (tiny) query side; candidates stream through in one scan.
    Ranking uses the ROUNDED score so ordering is reproducible across
    engines/precisions (ties broken by vec_id).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    cand = emb.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("cvec"))
    scored = (
        cand.crossJoin(F.broadcast(queries))
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(as_double("qvec"), as_double("cvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


COSINE_TOPK_ORACLE = """
WITH scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS cand_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[],
                                        c.embedding::DOUBLE[]), 6) AS cos_sim
    FROM embeddings q
    JOIN embeddings c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 5
), ranked AS (
    SELECT query_id, cand_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, cand_id) AS BIGINT) AS rnk
    FROM scored
)
SELECT query_id, cand_id, cos_sim, rnk
FROM ranked WHERE rnk <= 3
ORDER BY query_id, rnk
"""


def emb_near_dup_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with cosine >= 0.4 — the BRUTE-FORCE ORACLE SPEC, not a
    production operator.

    This is an intentional O(n^2) all-pairs ``crossJoin``: it exists only
    as ground truth the scale path is verified against, and it must never
    appear in the headline bench set (``tests/test_plans.py``'s
    no-cartesian assertion pins that).  The production path for
    near-duplicate detection at scale is ``emb_near_dup_lsh``
    (hyperplane-LSH bands, bucket-local pairing — see
    operators/similarity.py), whose recall is measured against this spec
    in tests/test_similarity.py.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine(as_double("va"), as_double("vb")), 6).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= 0.4)
        .orderBy("vec_a", "vec_b")
    )


EMB_NEAR_DUP_ORACLE = """
SELECT a.vec_id AS vec_a,
       b.vec_id AS vec_b,
       round(list_cosine_similarity(a.embedding::DOUBLE[],
                                    b.embedding::DOUBLE[]), 6) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.vec_id < b.vec_id
WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]), 6) >= 0.4
ORDER BY vec_a, vec_b
"""


def emb_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup groups: cosine-similarity pairs
    (>= 0.4) -> connected components -> one representative per cluster.

    Near-duplication is not transitive, so semantic dedup needs the
    transitive closure just like the lexical family (plans/graph.py's
    ``dedup_clusters``).  Components run through the O(log n)
    large-star/small-star algorithm.  Pair generation here reuses the
    brute-force oracle spec so the WHOLE query is exactly checkable
    against the recursive-CTE DuckDB oracle; the production swap at 100 TB
    is ``emb_near_dup_lsh``'s banded pairs feeding the same component +
    representative tail (identical downstream plan, recall measured in
    tests/test_similarity.py).
    """
    from .graph import connected_components_star

    pairs = emb_near_dup_bruteforce(spark, sf_dir).select("vec_a", "vec_b")
    comp = connected_components_star(pairs, src="vec_a", dst="vec_b")
    return _component_summary(comp)


def _component_summary(comp: DataFrame) -> DataFrame:
    """(id, comp) -> one row per cluster: size + sorted member roster.
    Shared tail of the brute-force oracle twin and the LSH production
    lane, so the two differ ONLY in pair generation."""
    return (
        comp.groupBy(F.col("comp").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("id")), lambda c: c.cast("string")
                ),
                ",",
            ).alias("members"),
        )
        .orderBy("cluster_id")
    )


def emb_dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION SemDeDup path (VERDICT r11 next #4): the exact swap
    ``emb_dedup_components``' docstring promises — hyperplane-LSH banded
    pair generation (``operators/similarity.near_dup_lsh``: seeded random
    hyperplanes, banded signatures, bucket-local candidate join, exact
    re-score) feeding the IDENTICAL large-star/small-star component +
    representative tail (``_component_summary``).

    At 100 TB the brute-force twin's all-pairs scan is impossible; this
    lane's cost is the banded candidate join (bucket-local, like the
    lexical LSH) plus O(log n) component rounds.  Recall vs the
    brute-force twin is pinned in tests/test_similarity.py, and the
    component tail is independently verified there against a pure-Python
    union-find over the same recalled pair set.  Deterministic (seeded
    hyperplanes, fixed banding), hence driver-checkable via the
    scale-keyed VALUES pin in plans/pinned.py.
    """
    from ..operators.similarity import near_dup_lsh
    from .graph import connected_components_star

    pairs = near_dup_lsh(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    ).select("vec_a", "vec_b")
    comp = connected_components_star(pairs, src="vec_a", dst="vec_b")
    return _component_summary(comp)


EMB_DEDUP_COMPONENTS_ORACLE = """
WITH RECURSIVE pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]), 6) >= 0.4
), edges AS (
    SELECT vec_a AS src, vec_b AS dst FROM pairs
    UNION ALL
    SELECT vec_b, vec_a FROM pairs
), reach AS (
    SELECT DISTINCT src AS id, src AS r FROM edges
    UNION
    SELECT e.src AS id, reach.r FROM edges e JOIN reach ON reach.id = e.dst
), comp AS (
    SELECT id, min(r) AS cluster_id FROM reach GROUP BY id
)
SELECT cluster_id,
       count(*) AS n_members,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
FROM comp
GROUP BY cluster_id
ORDER BY cluster_id
"""


def ann_ivf_topk(
    spark: SparkSession, sf_dir: str, nprobe: int = _NPROBE
) -> DataFrame:
    """IVF-style ANN: coarse centroids (one per label), probe top-``nprobe``
    (default 2 — the registered contract), search only probed buckets,
    exact re-rank inside them.

    The centroid build is a posexplode + (cluster, dim) average — one
    shuffle over nlist*dim rows regardless of table size (partial aggregation
    does the heavy lifting map-side).  Probing turns the full scan into an
    equi-join on cluster id.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    # --- build: centroid per label (the coarse quantizer) ---
    cent = (
        emb.select("label", F.posexplode(as_double("embedding")).alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.avg("x").alias("v"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "v"))), lambda s: s["v"]
            ).alias("cvec")
        )
        .withColumnRenamed("label", "cluster")
    )
    # --- probe: top-2 clusters per query by rounded cosine ---
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    qc = (
        queries.crossJoin(F.broadcast(cent))
        .select(
            "query_id",
            "qvec",
            "cluster",
            F.round(cosine(as_double("qvec"), F.col("cvec")), 6).alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("ccos").desc(), F.col("cluster"))
    probed = qc.withColumn("crnk", F.row_number().over(wq)).where(
        F.col("crnk") <= nprobe
    )
    # --- search: exact cosine inside probed buckets only ---
    cand = emb.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("cvec_raw"),
        F.col("label").alias("cluster"),
    )
    scored = (
        probed.select("query_id", "qvec", "cluster")
        .join(cand, "cluster")
        .where(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(cosine(as_double("qvec"), as_double("cvec_raw")), 6).alias(
                "cos_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


ANN_IVF_ORACLE = f"""
WITH flat AS (
    SELECT label, i, e[i] AS x
    FROM (SELECT label, embedding::DOUBLE[] AS e FROM embeddings),
         unnest(generate_series(1, {_DIM})) AS t(i)
), cent AS (
    SELECT label AS cluster, list(v ORDER BY i) AS cvec
    FROM (SELECT label, i, avg(x) AS v FROM flat GROUP BY label, i)
    GROUP BY label
), qc AS (
    SELECT q.vec_id AS query_id, q.embedding AS qvec, c.cluster,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.cvec), 6) AS ccos
    FROM embeddings q, cent c
    WHERE q.vec_id < 5
), probed AS (
    SELECT query_id, qvec, cluster
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
               ORDER BY ccos DESC, cluster) AS crnk FROM qc)
    WHERE crnk <= 2
), scored AS (
    SELECT p.query_id, e.vec_id AS cand_id,
           round(list_cosine_similarity(p.qvec::DOUBLE[],
                                        e.embedding::DOUBLE[]), 6) AS cos_sim
    FROM probed p
    JOIN embeddings e ON e.label = p.cluster AND e.vec_id != p.query_id
)
SELECT query_id, cand_id, cos_sim,
       CAST(rnk AS BIGINT) AS rnk
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           ORDER BY cos_sim DESC, cand_id) AS rnk FROM scored)
WHERE rnk <= 3
ORDER BY query_id, rnk
"""


def emb_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup (the 100 TB path for emb_near_dup).

    Approximate candidate generation -> exact re-score; the banding is not
    SQL-expressible but fully deterministic, so a scale-keyed VALUES pin (plans/pinned.py) lets the driver hash-check it value-level,
    with precision/recall pinned against the brute-force plan in
    tests/test_similarity.py."""
    from ..operators.similarity import near_dup_lsh

    return near_dup_lsh(load_table(spark, sf_dir, "embeddings"), threshold=0.4)


def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (fixed 5 Lloyd rounds, k=8) over the embedding column.

    Iterative — not SQL-expressible but deterministic (seeded init, fixed
    rounds), so a scale-keyed VALUES pin (plans/pinned.py) lets the driver hash-check it value-level (always k
    rows); the algorithm is pinned exactly against a numpy reference in
    tests/test_clustering.py."""
    from ..operators.clustering import kmeans_summary

    return kmeans_summary(load_table(spark, sf_dir, "embeddings"), k=8, iters=5)


def emb_quantize_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 neighbors by INT8-quantized dot product (the bandwidth path).

    Per-vector symmetric scalar quantization: scale = 127 / max|x|,
    q_i = round(x_i * scale).  The integer dot product is rescaled by
    1/(scale_a * scale_b) to approximate the true dot product — at 100 TB
    this is 4× less scan bandwidth and SIMD-friendly integer math; recall
    loss is bounded by the quantization step.  Quantized components are
    small exact integers, so the dot product is order-independent and the
    cross-engine check is exact (ranking on the rounded rescaled score,
    vec_id tie-break).  Same broadcast-queries/one-scan shape as
    cosine_topk.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    scale = F.lit(127.0) / F.greatest(
        F.array_max(F.transform(v, F.abs)), F.lit(1e-12)
    )
    base = emb.select(
        "vec_id",
        scale.alias("scale"),
        F.transform(v, lambda x: F.round(x * scale)).alias("qvec"),
    )
    queries = base.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("scale").alias("qscale"),
        F.col("qvec").alias("qq"),
    )
    scored = (
        base.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("qq"), F.col("qvec"), lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                / (F.col("qscale") * F.col("scale")),
                4,
            ).alias("qdot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("qdot").desc(), F.col("cand_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= 3)
        .orderBy("query_id", "rnk")
    )


EMB_QUANTIZE_ORACLE = """
WITH qz AS (
    SELECT vec_id,
           127.0 / greatest(list_max(list_transform(embedding::DOUBLE[],
                                                    x -> abs(x))), 1e-12)
               AS scale,
           list_transform(embedding::DOUBLE[],
                          x -> round(x * (127.0 / greatest(
                              list_max(list_transform(embedding::DOUBLE[],
                                                      y -> abs(y))), 1e-12))))
               AS qvec
    FROM embeddings
), scored AS (
    SELECT q.vec_id AS query_id,
           c.vec_id AS cand_id,
           round(list_dot_product(q.qvec, c.qvec) / (q.scale * c.scale), 4)
               AS qdot
    FROM qz q JOIN qz c ON c.vec_id != q.vec_id
    WHERE q.vec_id < 5
), ranked AS (
    SELECT query_id, cand_id, qdot,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY qdot DESC, cand_id) AS BIGINT) AS rnk
    FROM scored)
SELECT query_id, cand_id, qdot, rnk
FROM ranked WHERE rnk <= 3
ORDER BY query_id, rnk
"""


def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection (top-2 components, vec_id < 20).

    Partial-Gramian reduce + driver eigendecomposition + mapInPandas
    projection — not SQL-expressible but deterministic (sign-fixed
    eigenvectors), so a scale-keyed VALUES pin (plans/pinned.py) lets the driver hash-check it value-level; the
    operator is pinned exactly against a single-node numpy reference in
    tests/test_clustering.py."""
    from ..operators.clustering import pca_summary

    return pca_summary(load_table(spark, sf_dir, "embeddings"), n_components=2)


def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid via a GROUPED_AGG pandas UDAF — the
    one member of the UDF surface the engine hadn't exercised (scalar
    pandas_udf, mapInPandas/applyInPandas, mapInArrow, and the UDTF all
    have operators; SURVEY 2.1 names GROUPED_AGG as the custom-UDAF
    shape).  The UDAF receives each group's vector column as a pandas
    Series of lists and returns one array — Arrow-batched both ways,
    partial aggregation handled by Spark's Aggregator plumbing.

    Numeric discipline: float64 accumulate, per-dimension round(6) on
    BOTH engines; the oracle computes the same centroid relationally
    (posexplode-style unnest + per-(label, dim) avg).

    Driver-visible shape: the centroid array is POSEXPLODED to one
    ``(label, dim, val)`` row per dimension — round 6 proved the
    driver's canonicalizer cannot sort top-level array columns
    (pandas ``sort_values`` on lists -> TypeError), so every column
    here is scalar.  ``n_vectors`` and ``centroid_norm`` repeat
    per-label across the exploded rows.
    """
    import numpy as np
    import pandas as pd  # the UDF type hints below read it at def time
    from pyspark.sql.functions import pandas_udf

    def centroid_fn(v: pd.Series) -> list:
        m = np.mean(np.stack(v.to_numpy()), axis=0)
        return [float(x) for x in np.round(m, 6)]

    def count_fn(v: pd.Series) -> int:
        return len(v)

    centroid = pandas_udf(centroid_fn, "array<double>")
    # Spark refuses to mix a GROUPED_AGG pandas UDAF with JVM aggregates
    # in one agg() — the count rides a second pandas UDAF
    n_fn = pandas_udf(count_fn, "long")
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", as_double("embedding").alias("v"))
        .groupBy("label")
        .agg(
            n_fn("v").alias("n_vectors"),
            centroid("v").alias("centroid"),
        )
        .select(
            "label",
            "n_vectors",
            F.round(
                F.sqrt(
                    F.aggregate(
                        F.transform(F.col("centroid"), lambda x: x * x),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                ),
                6,
            ).alias("centroid_norm"),
            F.posexplode("centroid").alias("dim", "val"),
        )
        .orderBy("label", "dim")
    )


EMB_LABEL_CENTROIDS_ORACLE = """
WITH e AS (
    SELECT label, embedding FROM embeddings
), d AS (
    SELECT label,
           unnest(generate_series(1, len(embedding))) AS i,
           embedding
    FROM e
), per_dim AS (
    SELECT label, i, round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS m
    FROM d GROUP BY label, i
), norms AS (
    SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm
    FROM per_dim GROUP BY label
), counts AS (
    SELECT label, count(*) AS n_vectors FROM e GROUP BY label
)
SELECT c.label, c.n_vectors, n.centroid_norm,
       CAST(p.i - 1 AS INTEGER) AS dim, p.m AS val
FROM counts c
JOIN norms n ON n.label = c.label
JOIN per_dim p ON p.label = c.label
ORDER BY c.label, dim
"""


def emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 for query vectors vec_id < 5
    (``operators/pq.py``): sample-trained codebooks, distributed encode
    to M one-byte codes, ADC table-lookup scoring.  Rows-only — PQ is a
    lossy approximation with no SQL restatement; the contract is the
    recall-vs-exact bound pinned in tests/test_similarity.py, alongside
    ``cosine_topk`` (exact oracle) and ``ann_ivf_topk`` (pruning)."""
    from ..operators.pq import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, query_ids=[0, 1, 2, 3, 4], m=8, k_codes=16, k=3, refine=32
    )


# PQ is a lossy ANN with no SQL restatement, but its output is
# deterministic per corpus (seeded sample-trained codebooks, pinned
# rank tie-breaks), so the expected rows are pinned per
# embeddings-table cardinality (sf0.01=500 vectors, sf0.1=2000) --
# the scale-keyed VALUES-oracle trick (see subtitle_cue_stats).
EMB_PQ_TOPK_ORACLE = '''
SELECT query_id, cand_id, cos_sim, rnk FROM (VALUES
    (500, CAST(0 AS BIGINT), CAST(334 AS BIGINT), CAST(0.362722 AS DOUBLE), CAST(1 AS BIGINT)),
    (500, CAST(0 AS BIGINT), CAST(387 AS BIGINT), CAST(0.331139 AS DOUBLE), CAST(2 AS BIGINT)),
    (500, CAST(0 AS BIGINT), CAST(320 AS BIGINT), CAST(0.287861 AS DOUBLE), CAST(3 AS BIGINT)),
    (500, CAST(1 AS BIGINT), CAST(386 AS BIGINT), CAST(0.371485 AS DOUBLE), CAST(1 AS BIGINT)),
    (500, CAST(1 AS BIGINT), CAST(27 AS BIGINT), CAST(0.348208 AS DOUBLE), CAST(2 AS BIGINT)),
    (500, CAST(1 AS BIGINT), CAST(407 AS BIGINT), CAST(0.32701 AS DOUBLE), CAST(3 AS BIGINT)),
    (500, CAST(2 AS BIGINT), CAST(117 AS BIGINT), CAST(0.318143 AS DOUBLE), CAST(1 AS BIGINT)),
    (500, CAST(2 AS BIGINT), CAST(450 AS BIGINT), CAST(0.266344 AS DOUBLE), CAST(2 AS BIGINT)),
    (500, CAST(2 AS BIGINT), CAST(145 AS BIGINT), CAST(0.263494 AS DOUBLE), CAST(3 AS BIGINT)),
    (500, CAST(3 AS BIGINT), CAST(130 AS BIGINT), CAST(0.399872 AS DOUBLE), CAST(1 AS BIGINT)),
    (500, CAST(3 AS BIGINT), CAST(343 AS BIGINT), CAST(0.308472 AS DOUBLE), CAST(2 AS BIGINT)),
    (500, CAST(3 AS BIGINT), CAST(207 AS BIGINT), CAST(0.291702 AS DOUBLE), CAST(3 AS BIGINT)),
    (500, CAST(4 AS BIGINT), CAST(114 AS BIGINT), CAST(0.398513 AS DOUBLE), CAST(1 AS BIGINT)),
    (500, CAST(4 AS BIGINT), CAST(496 AS BIGINT), CAST(0.341212 AS DOUBLE), CAST(2 AS BIGINT)),
    (500, CAST(4 AS BIGINT), CAST(408 AS BIGINT), CAST(0.322753 AS DOUBLE), CAST(3 AS BIGINT)),
    (2000, CAST(0 AS BIGINT), CAST(1204 AS BIGINT), CAST(0.406472 AS DOUBLE), CAST(1 AS BIGINT)),
    (2000, CAST(0 AS BIGINT), CAST(291 AS BIGINT), CAST(0.391932 AS DOUBLE), CAST(2 AS BIGINT)),
    (2000, CAST(0 AS BIGINT), CAST(510 AS BIGINT), CAST(0.344458 AS DOUBLE), CAST(3 AS BIGINT)),
    (2000, CAST(1 AS BIGINT), CAST(1175 AS BIGINT), CAST(0.370337 AS DOUBLE), CAST(1 AS BIGINT)),
    (2000, CAST(1 AS BIGINT), CAST(173 AS BIGINT), CAST(0.310885 AS DOUBLE), CAST(2 AS BIGINT)),
    (2000, CAST(1 AS BIGINT), CAST(665 AS BIGINT), CAST(0.306598 AS DOUBLE), CAST(3 AS BIGINT)),
    (2000, CAST(2 AS BIGINT), CAST(1303 AS BIGINT), CAST(0.394011 AS DOUBLE), CAST(1 AS BIGINT)),
    (2000, CAST(2 AS BIGINT), CAST(953 AS BIGINT), CAST(0.369105 AS DOUBLE), CAST(2 AS BIGINT)),
    (2000, CAST(2 AS BIGINT), CAST(337 AS BIGINT), CAST(0.357443 AS DOUBLE), CAST(3 AS BIGINT)),
    (2000, CAST(3 AS BIGINT), CAST(720 AS BIGINT), CAST(0.365554 AS DOUBLE), CAST(1 AS BIGINT)),
    (2000, CAST(3 AS BIGINT), CAST(1542 AS BIGINT), CAST(0.324235 AS DOUBLE), CAST(2 AS BIGINT)),
    (2000, CAST(3 AS BIGINT), CAST(1617 AS BIGINT), CAST(0.30282 AS DOUBLE), CAST(3 AS BIGINT)),
    (2000, CAST(4 AS BIGINT), CAST(995 AS BIGINT), CAST(0.358859 AS DOUBLE), CAST(1 AS BIGINT)),
    (2000, CAST(4 AS BIGINT), CAST(660 AS BIGINT), CAST(0.319719 AS DOUBLE), CAST(2 AS BIGINT)),
    (2000, CAST(4 AS BIGINT), CAST(913 AS BIGINT), CAST(0.319517 AS DOUBLE), CAST(3 AS BIGINT))
) AS t(n_emb, query_id, cand_id, cos_sim, rnk)
WHERE n_emb = (SELECT count(*) FROM embeddings)
ORDER BY query_id, rnk
'''



QUERIES = {
    "emb_pq_topk": emb_pq_topk,
    "emb_label_centroids": emb_label_centroids,
    "emb_kmeans": emb_kmeans,
    "emb_pca_project": emb_pca_project,
    "emb_quantize_topk": emb_quantize_topk,
    "emb_norms": emb_norms,
    "cosine_topk": cosine_topk,
    # "emb_near_dup" stays as an alias so the driver's query-key set is
    # stable across rounds; both names point at the brute-force oracle spec.
    "emb_near_dup": emb_near_dup_bruteforce,
    "emb_near_dup_bruteforce": emb_near_dup_bruteforce,
    "emb_near_dup_lsh": emb_near_dup_lsh,
    "emb_dedup_components": emb_dedup_components,
    "emb_dedup_components_lsh": emb_dedup_components_lsh,
    "ann_ivf_topk": ann_ivf_topk,
}

from .pinned import (  # noqa: E402  (VALUES pins live in their own module)
    EMB_DEDUP_COMPONENTS_LSH_ORACLE,
    EMB_KMEANS_ORACLE,
    EMB_NEAR_DUP_LSH_ORACLE,
    EMB_PCA_PROJECT_ORACLE,
)

ORACLES = {
    "emb_pq_topk": EMB_PQ_TOPK_ORACLE,
    "emb_kmeans": EMB_KMEANS_ORACLE,
    "emb_near_dup_lsh": EMB_NEAR_DUP_LSH_ORACLE,
    "emb_pca_project": EMB_PCA_PROJECT_ORACLE,
    "emb_label_centroids": EMB_LABEL_CENTROIDS_ORACLE,
    "emb_norms": EMB_NORMS_ORACLE,
    "emb_quantize_topk": EMB_QUANTIZE_ORACLE,
    "cosine_topk": COSINE_TOPK_ORACLE,
    "emb_near_dup": EMB_NEAR_DUP_ORACLE,
    "emb_near_dup_bruteforce": EMB_NEAR_DUP_ORACLE,
    "emb_dedup_components": EMB_DEDUP_COMPONENTS_ORACLE,
    "emb_dedup_components_lsh": EMB_DEDUP_COMPONENTS_LSH_ORACLE,
    "ann_ivf_topk": ANN_IVF_ORACLE,
}
