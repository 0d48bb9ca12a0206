"""Driver-gated ML queries (SURVEY.md §2.11) — the MLlib surface (ALS,
KMeans, LDA, PIC, the TF-IDF/PCA pipeline) under the driver's
correctness gate.

MLlib models are iterative numeric optimizers: their exact floats depend
on partitioning, so no cross-engine SQL oracle exists for the fitted
values themselves. Since round 7 these queries are gated the u01 way
instead of rows-only: each one MEASURES the invariants a correct fit
must satisfy — completeness counts the oracle recomputes independently
from the source tables (every vector assigned, train+test partitions the
ratings), plus in-query booleans for the model-shape/metric-band checks
(silhouette ∈ [-1,1], RMSE in band, k respected, seeded refit stability,
topic weights descending) — and the oracle pins the booleans TRUE. A
broken fit flips a measured cell and hash-mismatches; the old internal
assertions also remain, so a pathological model errors loudly. Sources
are the testdata tables: ratings are (supplier, part, quantity) triples
from ``lineitem``, text comes from ``documents``, vectors from
``embeddings``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import tbl


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, book_id, rating) triples from lineitem: supplier→part
    with mean quantity as the score — the testdata stand-in for the
    reference's user→book ratings (goodreads.py:228-236). Sampled by
    orderkey so the registered query stays bench-sized at sf0.1."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 10 == 0)
        .groupBy(
            F.col("l_suppkey").cast("int").alias("user_id"),
            F.col("l_partkey").cast("int").alias("book_id"),
        )
        .agg(F.avg("l_quantity").alias("rating"))
    )


# --- M1-M3: ALS + RMSE ------------------------------------------------------
@query(
    "m01_als_rmse",
    oracle="""
    WITH r AS (
      SELECT l_suppkey, l_partkey FROM lineitem
      WHERE l_orderkey % 10 = 0 GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ratings,
           TRUE AS split_partitions,
           TRUE AS rmse_in_band,
           TRUE AS factors_cover_train,
           TRUE AS holdout_nonempty
    FROM r
    """,
    doc="M1-M3: seeded 80/20 split, explicit-feedback ALS (rank 8, 5 "
    "sweeps, nonnegative, coldStartStrategy=drop), RMSE on the holdout "
    "(ml/recommend.py; reference goodreads.py:236-270, RMSE 0.8344 "
    "there). HASH-GATED via measured invariants (the u01 discipline, "
    "upgrading the r2-r6 rows-only record): the ratings count is "
    "independently recomputed by DuckDB from lineitem and must equal "
    "train+test (split partitions the input); the booleans MEASURE "
    "that the holdout RMSE sits in the quantity scale's (0,25) band, "
    "that the fitted user-factor matrix covers exactly the train-side "
    "users, and that the holdout scored at least one prediction — the "
    "oracle pins them TRUE, so a broken fit/split flips a cell.",
)
def m01_als_rmse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.ml.recommend import fit_als, rmse, train_test_split

    from goodreads_pyspark_spark.operators.concurrency import run_concurrent

    ratings = _ratings(spark, sf_dir).cache()
    n_ratings = ratings.count()
    train, test = train_test_split(ratings, seed=42)
    model = fit_als(train, rank=8, maxIter=5, regParam=0.1, seed=42)
    err = rmse(model, test)
    assert 0.0 < err < 25.0, f"ALS RMSE {err} outside sanity band"
    # the five post-fit invariant counts are independent bounded actions
    # over cached/model-sized frames — overlap them (guide §2.6)
    n_train, n_test, n_users_train, n_factors, n_preds = run_concurrent(
        [
            train.count,
            test.count,
            train.select("user_id").distinct().count,
            model.userFactors.count,
            model.transform(test).filter(~F.isnan("prediction")).count,
        ]
    )
    ratings.unpersist()
    return spark.createDataFrame(
        [
            (
                n_ratings,
                n_train + n_test == n_ratings,
                bool(0.0 < err < 25.0),
                n_factors == n_users_train,
                n_preds > 0,
            )
        ],
        "n_ratings bigint, split_partitions boolean, rmse_in_band boolean, "
        "factors_cover_train boolean, holdout_nonempty boolean",
    )


# --- M11-M12: seeded KMeans + silhouette ------------------------------------
# maxIter=8, not the pyspark default 20, keeps the gated fit cheap. The
# gate's invariants hold at any fixed iteration count, and both fits
# share the constant, so a run at maxIter=20 checks the same properties.
_M02_MAX_ITER = 8


@query(
    "m02_kmeans_silhouette",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(COUNT(*) AS BIGINT) AS assignments_total,
           TRUE AS k_respected,
           TRUE AS silhouette_in_bounds,
           TRUE AS seed_stable
    FROM embeddings
    """,
    doc="M11-M12: seeded KMeans(k=8, seed=1) over the embeddings table + "
    "squared-euclidean silhouette (ml/features.py kmeans_cluster/"
    "silhouette; reference goodreads.py:346-353 with k=20 seed=1 on "
    "book features). HASH-GATED via measured invariants (u01 "
    "discipline): assignments_total is the Spark-side sum of cluster "
    "sizes and must equal the embeddings count DuckDB recomputes "
    "(every vector assigned exactly once); the booleans MEASURE "
    "cluster count ≤ k, silhouette ∈ [-1,1], and that a same-seed "
    "refit reproduces the identical cluster-size multiset.",
)
def m02_kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import array_to_vector

    from goodreads_pyspark_spark.ml.features import kmeans_cluster, silhouette

    # coalesce(8): the fit runs ~10 Lloyd/init jobs over this frame — at
    # 32 partitions the per-task scheduling dwarfs the math on a
    # model-training-sized input (build_ivf_centroids' measured fix).
    emb = (
        tbl(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            array_to_vector(F.col("embedding").cast("array<double>")).alias(
                "features"
            ),
        )
        .coalesce(8)
        .cache()
    )
    from goodreads_pyspark_spark.operators.concurrency import run_concurrent

    n_vectors = emb.count()
    clustered = kmeans_cluster(emb, k=8, seed=1, max_iter=_M02_MAX_ITER).cache()

    def sizes_of(frame):
        return sorted(
            (r["prediction"], r["n"])
            for r in frame.groupBy("prediction")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )

    # the silhouette, the first fit's size histogram, and the entire
    # same-seed refit are mutually independent — overlap them
    # (guide §2.6; seeded KMeans is deterministic per fit, so the refit
    # result is unchanged by when it runs)
    sil, sizes, sizes2 = run_concurrent(
        [
            lambda: silhouette(clustered),
            lambda: sizes_of(clustered),
            lambda: sizes_of(
                kmeans_cluster(emb, k=8, seed=1, max_iter=_M02_MAX_ITER)
            ),
        ]
    )
    assert -1.0 <= sil <= 1.0, f"silhouette {sil} out of bounds"
    clustered.unpersist()
    emb.unpersist()
    return spark.createDataFrame(
        [
            (
                n_vectors,
                sum(n for _, n in sizes),
                len(sizes) <= 8,
                bool(-1.0 <= sil <= 1.0),
                sizes == sizes2,
            )
        ],
        "n_vectors bigint, assignments_total bigint, k_respected boolean, "
        "silhouette_in_bounds boolean, seed_stable boolean",
    )


# --- M5/M6/M9/M14: Tokenizer -> StopWordsRemover -> CountVectorizer -> LDA --
@query(
    "m03_lda_topics",
    oracle="""
    SELECT CAST(5 AS BIGINT) AS n_topics,
           TRUE AS terms_per_topic_ok,
           TRUE AS indices_distinct_ok,
           TRUE AS weights_descending,
           TRUE AS weights_positive
    FROM (SELECT 1)
    """,
    doc="M5/M6/M9/M14: ML Tokenizer + StopWordsRemover feed "
    "CountVectorizer -> seeded LDA(k=5), describeTopics(3) "
    "(ml/features.py description_topics_lda; reference "
    "goodreads.py:388-400). HASH-GATED via measured invariants (u01 "
    "discipline): the query MEASURES that the model produced exactly "
    "k=5 topics, each topic exposes exactly 3 distinct term indices, "
    "and every topic's term weights are positive and non-increasing "
    "(describeTopics' contract); the oracle pins the expected values. "
    "The indices/weights themselves are optimizer-state-dependent, so "
    "only the structural contract is portable — but any LDA/vectorizer "
    "breakage (empty vocab, degenerate topics, wrong k) flips a cell.",
)
def m03_lda_topics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import StopWordsRemover, Tokenizer

    from goodreads_pyspark_spark.ml.features import description_topics_lda

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    tok = Tokenizer(inputCol="text", outputCol="words")
    sw = StopWordsRemover(inputCol="words", outputCol="filtered")
    prepped = sw.transform(tok.transform(docs))
    _transformed, topics = description_topics_lda(
        prepped, k=5, max_iter=5, seed=1, words_col="filtered"
    )
    rows = topics.select("topic", "termIndices", "termWeights").collect()
    terms_ok = all(len(r["termIndices"]) == 3 for r in rows)
    distinct_ok = all(len(set(r["termIndices"])) == 3 for r in rows)
    desc_ok = all(
        all(a >= b for a, b in zip(r["termWeights"], r["termWeights"][1:]))
        for r in rows
    )
    pos_ok = all(all(w > 0 for w in r["termWeights"]) for r in rows)
    return spark.createDataFrame(
        [(len(rows), terms_ok, distinct_ok, desc_ok, pos_ok)],
        "n_topics bigint, terms_per_topic_ok boolean, indices_distinct_ok "
        "boolean, weights_descending boolean, weights_positive boolean",
    )


# --- M18: PowerIterationClustering ------------------------------------------
@query(
    "m04_pic_clusters",
    oracle="""
    WITH r AS (
      SELECT l_suppkey, l_partkey FROM lineitem
      WHERE l_orderkey % 10 = 0 GROUP BY 1, 2),
    v AS (SELECT l_suppkey AS id FROM r
          UNION SELECT l_partkey + 10000000 FROM r)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vertices,
           CAST(COUNT(*) AS BIGINT) AS assignments_total,
           TRUE AS k_respected
    FROM v
    """,
    doc="M18: PowerIterationClustering(k=4) over the supplier→part "
    "quantity graph (ml/features.py power_iteration_clusters; reference "
    "goodreads.py:632-635 over rating edges). HASH-GATED via measured "
    "invariants (u01 discipline): assignments_total sums Spark's "
    "cluster sizes and must equal the graph's vertex count DuckDB "
    "recomputes from lineitem (PIC assigns every vertex exactly once); "
    "k_respected MEASURES cluster count ≤ k.",
)
def m04_pic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.ml.features import power_iteration_clusters

    edges = _ratings(spark, sf_dir).select(
        F.col("user_id").alias("src"),
        (F.col("book_id") + 10_000_000).alias("dst"),
        F.col("rating"),
    )
    from goodreads_pyspark_spark.operators.concurrency import run_concurrent

    # the vertex count and the PIC fit+histogram are independent — the
    # count's stage tail back-fills with the fit's first jobs (guide §2.6)
    n_vertices, sizes = run_concurrent(
        [
            edges.select(F.col("src").alias("id"))
            .unionByName(edges.select(F.col("dst").alias("id")))
            .distinct()
            .count,
            lambda: power_iteration_clusters(edges, k=4, max_iter=8)
            .groupBy("cluster")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
        ]
    )
    return spark.createDataFrame(
        [(n_vertices, sum(r["n"] for r in sizes), len(sizes) <= 4)],
        "n_vertices bigint, assignments_total bigint, k_respected boolean",
    )


# --- M5-M8, M10, M17: the TF-IDF -> PCA pipeline -----------------------------
@query(
    "m05_tfidf_pca_norms",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS rows_out,
           TRUE AS dims_ok,
           TRUE AS norms_finite_nonneg,
           TRUE AS some_variance_captured
    FROM documents
    """,
    doc="M5-M8/M10/M17: the full Tokenizer -> StopWordsRemover -> "
    "HashingTF(20) -> IDF -> PCA(5) Pipeline (ml/features.py "
    "description_vector_pipeline; reference goodreads.py:315-335) over "
    "document text. HASH-GATED via measured invariants (u01 "
    "discipline): rows_out counts the transformed frame and must equal "
    "the documents count DuckDB recomputes (the pipeline is total — "
    "no rows dropped); the booleans MEASURE that every PCA vector has "
    "exactly 5 dims, every L2 norm (sign-invariant under basis flips) "
    "is finite and non-negative, and at least one norm is strictly "
    "positive (the projection captured variance).",
)
def m05_tfidf_pca_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.functions import vector_to_array

    from goodreads_pyspark_spark.ml.features import description_vector_pipeline

    docs = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").alias("description")
    )
    n_docs = docs.count()
    model = description_vector_pipeline(num_features=20, pca_k=5).fit(docs)
    out = model.transform(docs)
    arr = vector_to_array(F.col("features"))
    norm = F.sqrt(F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x))
    stats = out.select(
        F.size(arr).alias("dim"), norm.alias("norm")
    ).agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.min("dim").alias("min_dim"),
        F.max("dim").alias("max_dim"),
        F.min("norm").alias("min_norm"),
        F.max("norm").alias("max_norm"),
        F.max(F.isnan("norm").cast("int")).alias("any_nan"),
    ).first()
    return spark.createDataFrame(
        [
            (
                n_docs,
                stats["rows_out"],
                stats["min_dim"] == 5 and stats["max_dim"] == 5,
                stats["any_nan"] == 0 and stats["min_norm"] >= 0.0,
                stats["max_norm"] > 0.0,
            )
        ],
        "n_docs bigint, rows_out bigint, dims_ok boolean, "
        "norms_finite_nonneg boolean, some_variance_captured boolean",
    )


# --- U2: seeded randomSplit -------------------------------------------------
@query(
    "u01_seeded_split_invariants",
    oracle="""
    WITH r AS (
      SELECT l_suppkey AS user_id, l_partkey AS book_id
      FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1, 2)
    SELECT CAST(COUNT(*) AS BIGINT) AS union_rows,
           CAST(0 AS BIGINT) AS overlap_rows,
           CAST(0 AS BIGINT) AS seed_instability,
           TRUE AS train_frac_in_band
    FROM r
    """,
    doc="U2 seeded randomSplit (ml/recommend.train_test_split; reference "
    "goodreads.py:239). HASH-GATED (upgraded from rows-only, VERDICT "
    "r3 #3): the per-side counts are Spark-RNG-specific, but the "
    "invariants a correct split must satisfy are not — the query "
    "MEASURES each one (union-complete: train+test row count; "
    "disjoint: join overlap; seed-stable: symmetric exceptAll count; "
    "fraction band) and the oracle pins the expected values, with the "
    "union count independently recomputed by DuckDB from lineitem. A "
    "broken split changes a measured cell and hash-mismatches.",
)
def u01_seeded_split_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.ml.recommend import train_test_split

    ratings = _ratings(spark, sf_dir).cache()
    total = ratings.count()
    train, test = train_test_split(ratings, seed=42)
    train2, _ = train_test_split(ratings, seed=42)
    n_train, n_test = train.count(), test.count()
    if n_train + n_test != total:
        raise AssertionError("split sides do not partition the input")
    overlap = train.join(test, ["user_id", "book_id"]).count()
    instability = train2.exceptAll(train).count() + train.exceptAll(train2).count()
    frac = n_train / max(total, 1)
    ratings.unpersist()
    return spark.createDataFrame(
        [(n_train + n_test, overlap, instability, bool(0.7 <= frac <= 0.9))],
        "union_rows bigint, overlap_rows bigint, "
        "seed_instability bigint, train_frac_in_band boolean",
    )


# --- closed-form OLS via normal equations (new in r6) -------------------------
#: Cramer's-rule solve of the 3x3 normal equations, written ONCE and spliced
#: verbatim into both the Spark projection and the DuckDB oracle: identical
#: expression trees over identical doubles evaluate bit-identically (IEEE
#: ops are deterministic), so even the division results match exactly.
_M06_DET = (
    "(nn*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + s2*(s1*s12 - s11*s2))"
)
_M06_DET0 = (
    "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y))"
)
_M06_DET1 = (
    "(nn*(s1y*s22 - s12*s2y) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2))"
)
_M06_DET2 = (
    "(nn*(s11*s2y - s1y*s12) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2))"
)
_M06_B = {
    "b0": f"({_M06_DET0} / {_M06_DET})",
    "b1": f"({_M06_DET1} / {_M06_DET})",
    "b2": f"({_M06_DET2} / {_M06_DET})",
}
_M06_SSE = f"(syy - ({_M06_B['b0']}*sy + {_M06_B['b1']}*s1y + {_M06_B['b2']}*s2y))"
_M06_SST = "(syy - sy*sy/nn)"

_M06_DSUM = "CAST(SUM(CAST({e} AS DECIMAL(38,12))) AS DOUBLE)"


@query(
    "m06_ols_normal_equations",
    oracle=f"""
    WITH m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS nn,
             {_M06_DSUM.format(e="l_quantity")} AS s1,
             {_M06_DSUM.format(e="l_discount")} AS s2,
             {_M06_DSUM.format(e="l_quantity * l_quantity")} AS s11,
             {_M06_DSUM.format(e="l_quantity * l_discount")} AS s12,
             {_M06_DSUM.format(e="l_discount * l_discount")} AS s22,
             {_M06_DSUM.format(e="l_extendedprice")} AS sy,
             {_M06_DSUM.format(e="l_quantity * l_extendedprice")} AS s1y,
             {_M06_DSUM.format(e="l_discount * l_extendedprice")} AS s2y,
             {_M06_DSUM.format(e="l_extendedprice * l_extendedprice")} AS syy
      FROM lineitem)
    SELECT CAST(nn AS BIGINT) AS n_rows,
           ROUND({_M06_B["b0"]}, 6) AS beta_intercept,
           ROUND({_M06_B["b1"]}, 6) AS beta_qty,
           ROUND({_M06_B["b2"]}, 6) AS beta_disc,
           ROUND(1.0 - {_M06_SSE} / {_M06_SST}, 6) AS r2
    FROM m
    """,
    doc="Closed-form distributed OLS — linear regression of "
    "l_extendedprice on (l_quantity, l_discount) solved by normal "
    "equations: one decimal-exact aggregation pass builds the 3x3 "
    "moment matrix, Cramer's rule solves it, R² falls out of the same "
    "moments (SSE = Σy² − β·Xᵀy, no residual pass). THE counterexample "
    "to 'ML fits can't be hash-oracled' (m01-m05 are rows-only because "
    "iterative optimizers are partition-order-sensitive): a closed-form "
    "fit over order-independent exact sums is deterministic to the "
    "bit, so this model is FULLY hash-gated cross-engine — the solve "
    "formula is a single shared string evaluated by both engines. "
    "Scale shape: the entire fit is ONE map-side partial-agg pass "
    "producing 10 numbers (the classic 'statistical queries' "
    "formulation every distributed analytics engine uses for linear "
    "models); no iteration, no driver matrix beyond 3x3. Extends to "
    "p features as one p²-moment agg + driver-side solve.",
)
def m06_ols_normal_equations(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ACC = "decimal(38,12)"

    def dsum(e):
        return F.sum(F.expr(e).cast(_ACC)).cast("double")

    li = tbl(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        dsum("l_quantity").alias("s1"),
        dsum("l_discount").alias("s2"),
        dsum("l_quantity * l_quantity").alias("s11"),
        dsum("l_quantity * l_discount").alias("s12"),
        dsum("l_discount * l_discount").alias("s22"),
        dsum("l_extendedprice").alias("sy"),
        dsum("l_quantity * l_extendedprice").alias("s1y"),
        dsum("l_discount * l_extendedprice").alias("s2y"),
        dsum("l_extendedprice * l_extendedprice").alias("syy"),
    )
    return m.selectExpr(
        "CAST(nn AS BIGINT) AS n_rows",
        f"ROUND({_M06_B['b0']}, 6) AS beta_intercept",
        f"ROUND({_M06_B['b1']}, 6) AS beta_qty",
        f"ROUND({_M06_B['b2']}, 6) AS beta_disc",
        f"ROUND(1.0 - {_M06_SSE} / {_M06_SST}, 6) AS r2",
    )


# --- frequent itemsets via FPGrowth (new in r9) --------------------------------
#: Fraction-of-baskets support threshold (FPGrowth's native parameter).
_M07_MINSUP = 0.05
#: Basket-size cap shared with t14 — bounds any user's pair contribution.
_M07_MAX_BASKET = 50


@query(
    "m07_fpgrowth_itemsets",
    oracle=f"""
    WITH pur AS (
      SELECT DISTINCT user_id, CAST(props->>'k' AS INTEGER) AS item
      FROM events
      WHERE event_type = 'purchase'
        AND CAST(props->>'k' AS INTEGER) IS NOT NULL),
    ok_users AS (SELECT user_id FROM pur GROUP BY user_id
                 HAVING COUNT(*) <= {_M07_MAX_BASKET}),
    basket AS (SELECT pur.user_id, item FROM pur JOIN ok_users USING (user_id)),
    nb AS (SELECT CAST(CEIL({_M07_MINSUP} * COUNT(DISTINCT user_id)) AS BIGINT)
             AS minc FROM basket),
    s1 AS (SELECT 1 AS n_items, item AS item_a,
                  CAST(NULL AS INTEGER) AS item_b, COUNT(*) AS freq
           FROM basket GROUP BY item),
    s2 AS (SELECT 2 AS n_items, a.item AS item_a, b.item AS item_b,
                  COUNT(*) AS freq
           FROM basket a JOIN basket b
             ON a.user_id = b.user_id AND a.item < b.item
           GROUP BY 1, 2, 3)
    SELECT CAST(n_items AS INTEGER) AS n_items, item_a, item_b,
           CAST(freq AS BIGINT) AS freq
    FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
    CROSS JOIN nb WHERE freq >= minc
    """,
    doc="Frequent itemsets via pyspark.ml.fpm.FPGrowth (SURVEY §2.11 "
    "family; Han et al. 2000's FP-tree, MLlib's PFP parallelization) "
    "over the t14 market baskets (distinct purchased items per user, "
    "basket cap shared). FPGrowth is an EXACT algorithm — its itemset "
    "supports are integer basket counts, so unlike the iterative ML "
    "fits this gets a full differential SQL oracle: the 1- and "
    "2-itemsets (size capped so the oracle's pair join stays readable; "
    "the model itself also mines longer ones) must match the "
    "enumerated counts row-for-row, minCount = ceil(minSupport * "
    "n_baskets) mirrored on both engines. Scale shape: MLlib PFP "
    "group-partitions the item alphabet and mines per-group "
    "conditional FP-trees (one shuffle of cap-bounded transaction "
    "suffixes), vs the oracle's m^2/user pair join — at 100 TB the "
    "FP-tree path wins exactly where basket caps can't be lowered.",
)
def m07_fpgrowth_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.fpm import FPGrowth

    from goodreads_pyspark_spark.queries._helpers import events_tbl

    ev = events_tbl(spark, sf_dir)
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        # NULL items (purchase events missing props.k) would be dropped
        # silently by collect_list but kept by the oracle's basket-size
        # HAVING and 1-itemset counts; exclude them explicitly on BOTH
        # sides so the two engines agree by construction (ADVICE r9).
        .filter(F.col("item").isNotNull())
        .distinct()
    )
    baskets = (
        pur.groupBy("user_id")
        .agg(F.collect_list("item").alias("items"))
        .filter(F.size("items") <= _M07_MAX_BASKET)
        .select("items")
    )
    model = FPGrowth(
        itemsCol="items", minSupport=_M07_MINSUP, minConfidence=0.1
    ).fit(baskets)
    fi = model.freqItemsets.filter(F.size("items") <= 2)
    items = F.array_sort("items")
    return fi.select(
        F.size("items").alias("n_items"),
        F.element_at(items, 1).cast("int").alias("item_a"),
        F.when(F.size("items") == 2, F.element_at(items, 2))
        .cast("int")
        .alias("item_b"),
        F.col("freq").cast("bigint").alias("freq"),
    )


# --- Word2Vec embeddings (new in r9) --------------------------------------------
_M08_MIN_COUNT = 5
_M08_DIMS = 16
_M08_TOKS = (
    "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
)


@query(
    "m08_word2vec_vocab",
    oracle=f"""
    WITH tk AS (SELECT unnest({_M08_TOKS}) AS tok
                FROM documents WHERE doc_id % 20 = 0),
    c AS (SELECT tok, COUNT(*) AS cnt FROM tk GROUP BY tok)
    SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST({_M08_DIMS} AS INTEGER) AS dims,
           TRUE AS norms_ok, TRUE AS refit_stable
    FROM c WHERE cnt >= {_M08_MIN_COUNT}
    """,
    doc="Word2Vec (pyspark.ml.feature, MLlib's skip-gram; Mikolov et al. "
    "2013, public) over a 5% document sample — widens the §2.11 MLlib "
    "surface with learned word embeddings, gated the m01-m05 way: the "
    "oracle independently recomputes the EXACT vocabulary size (tokens "
    f"with corpus count >= {_M08_MIN_COUNT} — the model's own admission "
    "rule, a pure SQL count), and pins TRUE two measured in-query "
    "booleans: every learned vector has a positive finite L2 norm, and "
    "a same-seed refit reproduces every vector bit-for-bit (u01's "
    "seeded-reproducibility discipline; numPartitions=1 removes the "
    "merge-order nondeterminism MLlib documents for multi-partition "
    "fits). Scale shape: training at scale raises numPartitions (and "
    "accepts documented nondeterminism) — the gate deliberately pins "
    "the deterministic single-partition configuration; vocab counting "
    "is one tokenize + keyed count either way.",
)
def m08_word2vec_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import Word2Vec
    from pyspark.ml.functions import vector_to_array

    from goodreads_pyspark_spark.functions.text import tokens

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") % 20 == 0)
    tk = docs.select(tokens("text").alias("words"))

    def fit():
        return (
            Word2Vec(
                vectorSize=_M08_DIMS,
                minCount=_M08_MIN_COUNT,
                seed=42,
                numPartitions=1,
                maxIter=1,
                inputCol="words",
                outputCol="v",
            )
            .fit(tk)
            .getVectors()
            .select("word", vector_to_array("vector").alias("vec"))
        )

    v1, v2 = fit(), fit().withColumnRenamed("vec", "vec2")
    joined = v1.join(v2, "word", "full")
    norm2 = F.aggregate(
        "vec", F.lit(0.0), lambda acc, x: acc + x * x
    )
    same = F.coalesce(
        F.size(F.col("vec")) == F.size(F.col("vec2")), F.lit(False)
    ) & F.coalesce(
        F.size(
            F.filter(
                F.zip_with("vec", "vec2", lambda a, b: (a == b).cast("int")),
                lambda z: z == 0,
            )
        )
        == 0,
        F.lit(False),
    )
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.min(F.size("vec")).cast("int").alias("dims"),
        F.min(
            ((norm2 > 0.0) & ~F.isnan(norm2)).cast("int")
        ).cast("boolean").alias("norms_ok"),
        F.min(same.cast("int")).cast("boolean").alias("refit_stable"),
    )
