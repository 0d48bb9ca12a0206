"""IVF (inverted-file) approximate nearest neighbor search.

The second scale path next to sign-LSH (``ann.py``): partition the
corpus by nearest coarse centroid (seeded KMeans), then search only the
``nprobe`` centroid lists closest to the query.

Scale shape:
  * training samples the corpus (KMeans on a bounded sample — MLlib's
    distributed KMeans, seeded);
  * the centroid set is tiny (k × d) → broadcast to assignment, which is
    one long-form join + argmax per vector, shuffling (id, pos, v) once;
  * at query time only ``nprobe``/k of the corpus is scored, reranked
    exactly by ``brute_force_knn`` — with ``nprobe == k`` IVF degrades to
    exhaustive search, which the tests exploit as an exact differential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from goodreads_pyspark_spark.functions.vectors import explode_vector
from goodreads_pyspark_spark.operators.partitioning import fan_out
from goodreads_pyspark_spark.operators.relational import bounded_rank
from goodreads_pyspark_spark.similarity.ann import brute_force_knn

#: Decimal-exact component sum: accumulation order (Spark partial/final
#: agg vs any oracle) cannot perturb centroid assignment or probe ranking,
#: so nprobe < k candidate sets are bit-reproducible across engines.
_ACC = "decimal(38,12)"


def _dsum(col):  # noqa: ANN001, ANN201 — Column in, Column out
    return F.sum(col.cast(_ACC)).cast("double")


def build_ivf_centroids(
    df: DataFrame,
    k: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_iter: int = 8,
) -> DataFrame:
    """Train coarse centroids; returns long-form (cid, pos, cval) rows.

    Long form keeps the downstream assignment a plain join — no UDF, no
    vector-type coupling for callers.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    train = df if sample_fraction is None else df.sample(sample_fraction, seed=seed)
    # The coarse-quantizer fit runs ~20 Lloyd iterations, each a job over
    # the training partitioning — on a sampled/small training set spread
    # across many partitions the per-task scheduling overhead dwarfs the
    # math. 8 partitions keeps the fit parallel but cheap; at corpus scale
    # callers bound the input via sample_fraction first.
    # max_iter bounds the Lloyd jobs: a COARSE quantizer only routes
    # vectors into probe lists, so centroid convergence past a few
    # iterations buys recall nothing — it is not the ranking.
    feats = train.select(array_to_vector(F.col(vec_col)).alias("features")).coalesce(8)
    model = KMeans(k=k, seed=seed, maxIter=max_iter, featuresCol="features").fit(feats)
    spark = df.sparkSession
    cents = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        ["cid", "cvec"],
    )
    return cents.select(
        "cid", F.posexplode("cvec").alias("pos", "cval")
    )


def sampled_centroids(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer that IS k corpus vectors (the lowest-id ones).

    The classic cheap alternative to Lloyd iterations: pick data points as
    the centroids. Routing quality is worse than KMeans but the quantizer
    is fully deterministic and engine-portable — which is what lets the
    driver oracle replay the complete nprobe < k IVF path (assignment →
    probe selection → candidate restriction → rerank) in pure SQL (e08).
    Long-form (cid, pos, cval) output, drop-in for ``ivf_knn``.
    """
    return (
        df.filter(F.col(id_col) < k)
        .select(
            F.col(id_col).cast("int").alias("cid"),
            F.posexplode(vec_col).alias("pos", "cval"),
        )
        .withColumn("cval", F.col("cval").cast("double"))
    )


def ivf_assign(
    df: DataFrame,
    centroids_long: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cid): nearest centroid per vector by cosine (ties → lowest cid)."""
    e = fan_out(df).select(
        F.col(id_col), F.posexplode(vec_col).alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    scored = (
        e.join(F.broadcast(centroids_long), "pos")
        .groupBy(id_col, "cid")
        .agg(
            _dsum(F.col("v") * F.col("cval")).alias("dot"),
            _dsum(F.col("v") * F.col("v")).alias("n2"),
            _dsum(F.col("cval") * F.col("cval")).alias("c2"),
        )
        .withColumn("cos", F.col("dot") / (F.sqrt("n2") * F.sqrt("c2")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("cos").desc(), F.col("cid"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cid")
    )


def query_cell_ranks(
    df: DataFrame,
    query_id: int,
    centroids_long: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cid, rn): every cell ranked for ``query_id``'s vector by the
    unrounded cosine of its centroid (ties -> lowest cid), the scoring
    ``ivf_assign`` uses. Probing ``nprobe`` lists keeps ``rn <= nprobe``;
    the ranks of one query serve every probe depth."""
    qe = explode_vector(df.filter(F.col(id_col) == query_id), id_col, vec_col)
    scored = (
        qe.join(F.broadcast(centroids_long), "pos")
        .groupBy("cid")
        .agg(
            _dsum(F.col("v") * F.col("cval")).alias("dot"),
            _dsum(F.col("v") * F.col("v")).alias("n2"),
            _dsum(F.col("cval") * F.col("cval")).alias("c2"),
        )
        .select("cid", (F.col("dot") / (F.sqrt("n2") * F.sqrt("c2"))).alias("qcos"))
    )
    return bounded_rank(scored, [("qcos", "desc"), ("cid", "asc")], "rn").select(
        "cid", "rn"
    )


def ivf_knn(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    nprobe: int = 2,
    centroids_long: DataFrame | None = None,
    n_centroids: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k neighbors of ``query_id`` probing ``nprobe`` lists."""
    if centroids_long is None:
        centroids_long = build_ivf_centroids(
            df, k=n_centroids, seed=seed, id_col=id_col, vec_col=vec_col
        )
    assign = ivf_assign(df, centroids_long, id_col, vec_col)
    probes = query_cell_ranks(df, query_id, centroids_long, id_col, vec_col).filter(
        F.col("rn") <= nprobe
    )
    # Dedup on ids BEFORE rejoining the vectors: distinct() over full rows
    # would shuffle every embedding array; ids are 8 bytes. The query's own
    # id is added explicitly — its cluster may not be among the probed
    # lists, but the rerank needs the query vector present.
    cand_ids = (
        assign.join(F.broadcast(probes), "cid")
        .select(id_col)
        .union(df.filter(F.col(id_col) == query_id).select(id_col))
        .distinct()
    )
    cand = df.join(cand_ids, id_col, "left_semi")
    return brute_force_knn(cand, query_id=query_id, k=k, id_col=id_col, vec_col=vec_col)
