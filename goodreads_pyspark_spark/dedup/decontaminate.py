"""Benchmark decontamination — flag training documents that share n-gram
shingles with an evaluation/benchmark set.

The standard pretraining hygiene step: any train document containing a
shingle that also appears in the eval set is contamination-suspect and
gets a count + ratio for thresholding.

Scale shape (and why this is NOT the d06 self-join): the join is keyed
on the shingle with the eval side made DISTINCT first, so every train
shingle row matches at most one eval row — output ≤ |train shingles|,
strictly linear. The m² blowup of the Jaccard self-join cannot happen
here, which is why no document-frequency cap is needed. The eval side is
typically orders of magnitude smaller than train; Spark's AQE/stats will
pick a broadcast when it fits and a shuffle join when it doesn't — both
are correct, neither is quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.shingles import shingle_rows


def contamination_stats(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, n_shared, n_shingles, contamination) for train docs
    sharing ≥1 distinct ``shingle_n``-word shingle with the eval set.

    ``contamination`` = shared / total distinct shingles of the doc —
    1.0 means every shingle of the document appears in the eval set.

    ``shingles``: optional precomputed corpus-wide ``(id, sh)`` table
    covering both sides; restricted per side by semi-join so a pipeline
    tokenizes the corpus once (see drop_near_duplicates). When passed,
    it takes the place of self-computed shingling entirely, so
    ``shingle_n`` and ``text_col`` are IGNORED — the table must have
    been built from the same text column with the same shingle width the
    caller intends, or the reported contamination ratios silently
    describe a different n-gram space. (Same contract in
    drop_near_duplicates.)
    """
    if shingles is not None and not {"id", "sh"} <= set(shingles.columns):
        raise ValueError(
            f"precomputed shingles must have (id, sh) columns, got {shingles.columns}"
        )
    if shingles is None:
        tsh = shingle_rows(train, id_col, text_col, shingle_n, out_id="id")
        esh = (
            shingle_rows(eval_df, id_col, text_col, shingle_n, out_id="eid")
            .select("sh")
            .distinct()
        )
    else:
        tsh = shingles.join(train.select(F.col(id_col).alias("id")), "id", "left_semi")
        esh = (
            shingles.join(
                eval_df.select(F.col(id_col).alias("id")), "id", "left_semi"
            )
            .select("sh")
            .distinct()
        )
    hits = tsh.join(esh, "sh").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    sizes = tsh.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    return (
        hits.join(sizes, "id")
        .select(
            F.col("id").alias(id_col),
            "n_shared",
            "n_shingles",
            (F.col("n_shared").cast("double") / F.col("n_shingles").cast("double")).alias(
                "contamination"
            ),
        )
    )
