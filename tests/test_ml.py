"""ML module tests (SURVEY.md §2.11, §5 item 4): seeded determinism,
metric sanity bands, and end-to-end pipeline composition on fixtures.
Small k / maxIter everywhere — CI exercises the surface, not the quality.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodreads_pyspark_spark.ml import (
    als_grid_cv,
    explode_recommendations,
    fit_als,
    rmse,
    train_test_split,
)
from goodreads_pyspark_spark.ml.features import (
    description_topics_lda,
    description_vector_pipeline,
    kmeans_cluster,
    lsh_nearest_books,
    power_iteration_clusters,
    prepare_book_features,
    book_feature_pipeline,
    silhouette,
)


@pytest.fixture(scope="module")
def split(goodreads_tables):
    return train_test_split(goodreads_tables.ratings_small, seed=42)


def test_seeded_split_reproducible(goodreads_tables):
    a1, b1 = train_test_split(goodreads_tables.ratings_small, seed=42)
    a2, b2 = train_test_split(goodreads_tables.ratings_small, seed=42)
    assert a1.count() == a2.count() and b1.count() == b2.count()


def test_als_fit_and_rmse(split):
    train, test = split
    model = fit_als(train, rank=4, maxIter=4, seed=42)
    err = rmse(model, test)
    assert 0.0 < err < 3.0  # sanity band on a 1-5 rating scale


def test_als_recommendations_explode(split):
    train, _ = split
    model = fit_als(train, rank=4, maxIter=2, seed=42)
    recs = model.recommendForAllUsers(3)
    flat = explode_recommendations(recs)
    assert set(flat.columns) == {"user_id", "book_id", "score"}
    per_user = flat.groupBy("user_id").count().agg(F.max("count")).first()[0]
    assert per_user <= 3


def test_unknown_serve_ids_give_defined_answers(spark, goodreads_tables, split):
    """Every serve request kind answers an id it has never seen with a
    defined empty result, not an exception."""
    from goodreads_pyspark_spark.pipelines.goodreads import (
        get_book_title,
        get_to_read_titles,
        recommend_by_book,
    )
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    books, users = goodreads_tables.books, goodreads_tables.users
    unknown = -1
    clustered = books.select("book_id", "title", F.lit(0).alias("prediction"))
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(5)],
        "vec_id int, embedding array<double>",
    )
    model = fit_als(split[0], rank=4, maxIter=2, seed=42)
    unseen = spark.createDataFrame([(unknown,)], "user_id int")

    assert get_book_title(books, unknown) is None
    assert get_to_read_titles(books, users, unknown).count() == 0
    assert recommend_by_book(clustered, unknown).count() == 0
    assert brute_force_knn(emb, unknown).count() == 0
    recs = model.recommendForUserSubset(unseen, 3)
    assert explode_recommendations(recs).count() == 0


def test_als_grid_cv_surface(split):
    # the notebook builds a 4x4x4 grid (goodreads.py:244-262) but never fits
    # it; we fit a deliberately tiny grid to prove the surface works.
    train, test = split
    cv = als_grid_cv(
        train, ranks=(2,), max_iters=(2,), reg_params=(0.1, 0.5), num_folds=2
    )
    model = cv.fit(train)
    assert len(model.avgMetrics) == 2
    assert rmse(model.bestModel, test) > 0


def test_description_vectors_and_kmeans(goodreads_tables):
    docs = goodreads_tables.books.select("book_id", "description").dropna()
    pipe = description_vector_pipeline(num_features=20, pca_k=5)
    data = pipe.fit(docs).transform(docs)
    first = data.select("features").first()["features"]
    assert len(first) == 5  # PCA k
    clustered = kmeans_cluster(data, k=5, seed=1)
    s = silhouette(clustered)
    assert -1.0 <= s <= 1.0
    # seeded: same k/seed → same assignment counts
    again = kmeans_cluster(data, k=5, seed=1)
    c1 = sorted(r["count"] for r in clustered.groupBy("prediction").count().collect())
    c2 = sorted(r["count"] for r in again.groupBy("prediction").count().collect())
    assert c1 == c2


def test_lda_topics(goodreads_tables):
    docs = goodreads_tables.books.select("book_id", "description").dropna()
    pipe = description_vector_pipeline(num_features=20, pca_k=5)
    data = pipe.fit(docs).transform(docs)
    with_topics, topics = description_topics_lda(data, k=4, max_iter=3, seed=1)
    assert topics.count() == 4
    assert "topicDistribution" in with_topics.columns


def test_book_feature_pipeline_and_lsh(goodreads_tables):
    prepped = prepare_book_features(goodreads_tables.books)
    data = book_feature_pipeline().fit(prepped).transform(prepped)
    key = data.select("features").first()["features"]
    nn = lsh_nearest_books(data, key, num_neighbors=5, bucket_length=4.0, num_hash_tables=8)
    assert nn.count() <= 5
    assert "distCol" in nn.columns


def test_power_iteration_clustering(goodreads_tables):
    edges = goodreads_tables.ratings_small.select(
        F.col("user_id").alias("src"), F.col("book_id").alias("dst"), "rating"
    ).limit(2000)
    clusters = power_iteration_clusters(edges, k=5, max_iter=4)
    assert set(clusters.columns) == {"id", "cluster"}
    assert clusters.select(F.countDistinct("cluster")).first()[0] <= 5


def test_recommend_by_book(goodreads_tables):
    from goodreads_pyspark_spark.pipelines.goodreads import recommend_by_book

    docs = goodreads_tables.books.select("book_id", "title", "description").dropna()
    pipe = description_vector_pipeline(num_features=20, pca_k=5)
    data = pipe.fit(docs).transform(docs)
    clustered = kmeans_cluster(data, k=3, seed=1)
    some_id = clustered.select("book_id").first()["book_id"]
    recs = recommend_by_book(clustered, some_id, n=5).collect()
    assert len(recs) <= 5
    assert all(r["book_id"] != some_id for r in recs)
    # every recommendation shares the target's cluster
    target_cluster = (
        clustered.filter(F.col("book_id") == some_id).first()["prediction"]
    )
    rec_ids = [r["book_id"] for r in recs]
    rec_clusters = {
        r["prediction"]
        for r in clustered.filter(F.col("book_id").isin(rec_ids)).collect()
    }
    assert rec_clusters <= {target_cluster}


def test_m06_ols_matches_numpy_lstsq(spark):
    """Differential: the normal-equations/Cramer fit must agree with
    numpy.linalg.lstsq on the same rows — proving the distributed
    moments + closed-form solve produce the TRUE least-squares
    solution, not merely a cross-engine-consistent number."""
    import numpy as np

    from goodreads_pyspark_spark.queries.ml import m06_ols_normal_equations

    sf = "/root/testdata/sf0.001"
    row = m06_ols_normal_equations(spark, sf).collect()[0]

    from goodreads_pyspark_spark.queries._helpers import tbl

    pdf = (
        tbl(spark, sf, "lineitem")
        .select("l_quantity", "l_discount", "l_extendedprice")
        .toPandas()
    )
    X = np.column_stack(
        [np.ones(len(pdf)), pdf["l_quantity"], pdf["l_discount"]]
    )
    y = pdf["l_extendedprice"].to_numpy()
    beta, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ beta
    r2 = 1.0 - (resid @ resid) / ((y - y.mean()) @ (y - y.mean()))

    assert row["n_rows"] == len(pdf)
    assert abs(row["beta_intercept"] - beta[0]) < 1e-4 * max(1, abs(beta[0]))
    assert abs(row["beta_qty"] - beta[1]) < 1e-4 * max(1, abs(beta[1]))
    assert abs(row["beta_disc"] - beta[2]) < 1e-4 * max(1, abs(beta[2]))
    assert abs(row["r2"] - r2) < 1e-6


def test_d49_logistic_fit_matches_pure_python(spark):
    """Differential test of the distributed logistic fit: re-run the
    exact recurrence (tokenize -> hashed buckets -> L1-normalized
    counts -> 2 full-batch rounds with the algebraic sigmoid) in pure
    Python floats and require per-bucket weight agreement, plus an
    actual learning signal (Brier score strictly decreases)."""
    import hashlib
    import re
    from collections import Counter, defaultdict

    from goodreads_pyspark_spark.functions.logistic import (
        ETA,
        N_ROUNDS,
        feature_matrix,
        logistic_fit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    got = {
        r["b"]: r["w"]
        for r in logistic_fit(feature_matrix(docs), labels).collect()
    }

    rows = docs.select("doc_id", "text", "lang").collect()
    X, y = {}, {}
    for r in rows:
        toks = [t for t in re.split(r"[^a-z0-9]+", r["text"].lower()) if t]
        feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
        if not feats:
            continue
        c = Counter(
            int(hashlib.md5(f"qv1_{f}".encode()).hexdigest()[:8], 16) % 4096
            for f in feats
        )
        n = sum(c.values())
        X[r["doc_id"]] = {b: cnt / n for b, cnt in c.items()}
        y[r["doc_id"]] = 1.0 if r["lang"] == "en" else 0.0

    w = dict.fromkeys({b for f in X.values() for b in f}, 0.0)
    n_docs = float(len(X))
    briers = []
    for _ in range(N_ROUNDS):
        g = defaultdict(float)
        brier = 0.0
        for d, f in X.items():
            z = sum(w[b] * x for b, x in f.items())
            p = 0.5 + z / (2.0 * (1.0 + abs(z)))
            brier += (y[d] - p) ** 2
            for b, x in f.items():
                g[b] += (y[d] - p) * x
        briers.append(brier / n_docs)
        for b in w:
            w[b] = w[b] + (ETA * g[b]) / n_docs

    # final-round Brier after the last update, for the learning check
    final = (
        sum(
            (
                y[d]
                - (
                    0.5
                    + (z := sum(w[b] * x for b, x in f.items()))
                    / (2.0 * (1.0 + abs(z)))
                )
            )
            ** 2
            for d, f in X.items()
        )
        / n_docs
    )
    assert final < briers[0], "fit did not reduce Brier score"

    assert set(got) == set(w)
    for b, wv in w.items():
        assert abs(got[b] - wv) < 1e-9, f"bucket {b}: spark {got[b]} vs py {wv}"


def test_d49_fit_invariant_to_partitioning(spark):
    """The fit's whole determinism story is that decimal-exact sums make
    each round a pure function of the data, not the partitioning — so
    refitting on an adversarially repartitioned input must reproduce
    every weight BIT-for-bit (not within tolerance)."""
    from goodreads_pyspark_spark.functions.logistic import (
        feature_matrix,
        logistic_fit,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    w1 = {
        r["b"]: r["w"]
        for r in logistic_fit(feature_matrix(docs), labels).collect()
    }
    shuffled = docs.repartition(17, "lang")  # skewed, different layout
    w2 = {
        r["b"]: r["w"]
        for r in logistic_fit(
            feature_matrix(shuffled), labels, n_rounds=2
        ).collect()
    }
    assert w1 == w2  # exact equality, including float bits
