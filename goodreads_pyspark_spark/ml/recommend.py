"""Collaborative filtering (SURVEY.md §2.11 M1-M4; reference:
goodreads.py:228-294).

Differences from the notebook, on purpose (SURVEY.md §4):
  * every random operation is seeded — the reference's unseeded
    ``randomSplit`` makes its RMSE irreproducible;
  * the 64-model grid + 5-fold CV the notebook builds but never fits
    (goodreads.py:244-263) is exposed as a real, runnable builder;
  * per-user recommendation expansion is a broadcast-joined batch op,
    not a driver loop of point lookups (goodreads.py:280-285);
  * a fitted model answers ``recommendForUserSubset`` /
    ``recommendForItemSubset`` from driver copies of its own factors
    (:class:`ServingALSModel`): one job to collect the subset's ids, where
    MLlib's semi-join + blockify + cross join + top-k takes six.

ALS itself is Spark MLlib's distributed implicit/explicit factorizer —
blocked alternating least squares; at 100 TB the knobs that matter are
``numUserBlocks``/``numItemBlocks`` (shuffle width) and checkpointing
(lineage across sweeps), both exposed here.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.ml.evaluation import RegressionEvaluator
from pyspark.ml.recommendation import ALS, ALSModel
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    NumericType,
    StructField,
    StructType,
)

#: Scores per scoring block: bounds the driver memory one block
#: of subset ids takes against every factor row of the other side.
_BLOCK_CELLS = 1 << 22


@dataclass(frozen=True)
class _Factors:
    """One side's factor matrix on the driver, rows in ascending id order."""

    ids: np.ndarray  # int32
    mat: np.ndarray  # float64, (len(ids), rank)
    row: dict  # id -> row of ``mat``


def _pull_factors(factors: DataFrame, rank: int) -> _Factors:
    t = factors.toArrow()
    ids = t.column("id").to_numpy()
    feats = t.column("features").combine_chunks().flatten()
    mat = feats.to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(ids), rank)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    return _Factors(ids, mat, {v: i for i, v in enumerate(ids.tolist())})


def _top_k(scores: np.ndarray, k: int) -> np.ndarray:
    """Column indices of each row's ``k`` best scores, ordered by (score
    desc, column asc); columns are in ascending id order, so ties go to the
    smaller id."""
    n = scores.shape[1]
    if k >= n:
        return np.argsort(-scores, axis=1, kind="stable")
    part = np.sort(np.argpartition(-scores, k - 1, axis=1)[:, :k], axis=1)
    order = np.argsort(-np.take_along_axis(scores, part, 1), axis=1, kind="stable")
    top = np.take_along_axis(part, order, 1)
    # a score tied with the k-th may have been left out of the partition
    kth = np.take_along_axis(scores, top[:, -1:], 1)
    tied = (scores >= kth).sum(axis=1) > k
    if tied.any():
        top[tied] = np.argsort(-scores[tied], axis=1, kind="stable")[:, :k]
    return top


class ServingALSModel(ALSModel):
    """MLlib's ``ALSModel`` whose subset recommendations are answered on the
    driver from the model's own factors.

    The first subset call pulls both factor matrices over Arrow (two jobs,
    once per model, under a lock); a fitted model's factors never change,
    so the copy cannot go stale. Each call then collects the subset's ids
    (one job), scores blocks of them with one matmul, rounded to float32 as
    MLlib's ratings are, and takes the top ``k`` by (score desc, id asc). The answer has MLlib's schema, one
    row per known distinct id; unknown and null ids drop out, as from
    MLlib's semi-join. ``transform``, ``recommendForAll*`` and save/load
    are MLlib's.
    """

    def __init__(self, java_model=None):
        super().__init__(java_model)
        self._factors_lock = threading.Lock()
        self._factors = None

    def recommendForUserSubset(self, dataset: DataFrame, numItems: int) -> DataFrame:
        return self._recommend_subset(dataset, numItems, ALSModel.recommendForUserSubset, True)

    def recommendForItemSubset(self, dataset: DataFrame, numUsers: int) -> DataFrame:
        return self._recommend_subset(dataset, numUsers, ALSModel.recommendForItemSubset, False)

    def _driver_factors(self) -> tuple[_Factors, _Factors]:
        with self._factors_lock:
            if self._factors is None:
                rank = self.rank
                self._factors = (
                    _pull_factors(self.userFactors, rank),
                    _pull_factors(self.itemFactors, rank),
                )
        return self._factors

    def _recommend_subset(self, dataset, num, mllib, by_user: bool) -> DataFrame:
        src_col, dst_col = self.getUserCol(), self.getItemCol()
        if not by_user:
            src_col, dst_col = dst_col, src_col
        ids = dataset.select(src_col)
        if num <= 0 or not isinstance(ids.schema[0].dataType, NumericType):
            # MLlib rejects num <= 0, and owns the cast of non-numeric ids
            return mllib(self, dataset, num)
        users, items = self._driver_factors()
        src, dst = (users, items) if by_user else (items, users)
        rows = sorted({src.row[v] for (v,) in ids.collect() if v in src.row})
        k = min(num, len(dst.ids))
        top_ids = np.empty((len(rows), k), np.int32)
        top_scores = np.empty((len(rows), k), np.float32)
        step = max(1, _BLOCK_CELLS // max(len(dst.ids), 1))
        for lo in range(0, len(rows), step):
            # a float32 matmul rounds differently from MLlib's float32 dot
            # (3 ulps apart on serve-sized factors); the float64 product
            # rounded once to float32 is within MLlib's own rounding of it
            scores = (src.mat[rows[lo : lo + step]] @ dst.mat.T).astype(np.float32)
            cols = _top_k(scores, k)
            top_ids[lo : lo + step] = dst.ids[cols]
            top_scores[lo : lo + step] = np.take_along_axis(scores, cols, 1)
        recs = pa.ListArray.from_arrays(
            pa.array(np.arange(len(rows) + 1, dtype=np.int32) * k),
            pa.StructArray.from_arrays(
                [pa.array(top_ids.ravel()), pa.array(top_scores.ravel())], names=[dst_col, "rating"]
            ),
        )
        table = pa.table({src_col: pa.array(src.ids[rows]), "recommendations": recs})
        return dataset.sparkSession.createDataFrame(table, schema=_subset_schema(src_col, dst_col))


def _subset_schema(src_col: str, dst_col: str) -> StructType:
    """MLlib's subset-recommendation schema."""
    rec = StructType([StructField(dst_col, IntegerType()), StructField("rating", FloatType())])
    return StructType(
        [StructField(src_col, IntegerType(), False), StructField("recommendations", ArrayType(rec))]
    )


class ServingALS(ALS):
    """MLlib's ``ALS``, fitting a :class:`ServingALSModel`."""

    def _create_model(self, java_model) -> ServingALSModel:
        return ServingALSModel(java_model)


def train_test_split(
    ratings: DataFrame, weights=(0.8, 0.2), seed: int = 42
) -> tuple[DataFrame, DataFrame]:
    """Seeded 80/20 split (reference: goodreads.py:239 — unseeded there)."""
    train, test = ratings.randomSplit(list(weights), seed=seed)
    return train, test


def fit_als(
    train: DataFrame,
    user_col: str = "user_id",
    item_col: str = "book_id",
    rating_col: str = "rating",
    seed: int = 42,
    num_blocks: int | None = None,
    **params,
) -> ServingALSModel:
    """Explicit-feedback ALS, nonnegative, coldStartStrategy=drop
    (reference: goodreads.py:236-237,263)."""
    als = ServingALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        nonnegative=True,
        coldStartStrategy="drop",
        seed=seed,
        **params,
    )
    if num_blocks is not None:
        als.setNumUserBlocks(num_blocks).setNumItemBlocks(num_blocks)
    return als.fit(train)


def rmse(model: ALSModel, test: DataFrame, rating_col: str = "rating") -> float:
    """reference: goodreads.py:250-252,269."""
    preds = model.transform(test)
    ev = RegressionEvaluator(
        metricName="rmse", labelCol=rating_col, predictionCol="prediction"
    )
    return ev.evaluate(preds)


def als_grid_cv(
    train: DataFrame,
    user_col: str = "user_id",
    item_col: str = "book_id",
    rating_col: str = "rating",
    ranks=(10, 50, 100, 150),
    max_iters=(5, 50, 100, 200),
    reg_params=(0.01, 0.05, 0.1, 0.15),
    num_folds: int = 5,
    seed: int = 42,
):
    """The notebook's 4×4×4 grid + 5-fold CV (goodreads.py:244-262 — built
    but never fit there; fit it here only with a deliberately small grid)."""
    als = ServingALS(
        userCol=user_col,
        itemCol=item_col,
        ratingCol=rating_col,
        nonnegative=True,
        coldStartStrategy="drop",
        seed=seed,
    )
    grid = (
        ParamGridBuilder()
        .addGrid(als.rank, list(ranks))
        .addGrid(als.maxIter, list(max_iters))
        .addGrid(als.regParam, list(reg_params))
        .build()
    )
    ev = RegressionEvaluator(
        metricName="rmse", labelCol=rating_col, predictionCol="prediction"
    )
    return CrossValidator(
        estimator=als,
        estimatorParamMaps=grid,
        evaluator=ev,
        numFolds=num_folds,
        seed=seed,
    )


def explode_recommendations(recs: DataFrame, user_col: str = "user_id") -> DataFrame:
    """``recommendForAllUsers`` output → flat (user, book_id, score) rows
    (reference explodes per-user in a Python loop, goodreads.py:280-285)."""
    item_field = [f.name for f in recs.schema["recommendations"].dataType.elementType.fields][0]
    return recs.select(
        F.col(user_col),
        F.explode("recommendations").alias("rec"),
    ).select(
        user_col,
        F.col(f"rec.{item_field}").alias("book_id"),
        F.col("rec.rating").alias("score"),
    )
