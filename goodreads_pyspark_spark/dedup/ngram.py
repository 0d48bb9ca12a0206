"""Exact n-gram Jaccard similarity between documents.

Inverted-index formulation: explode distinct shingles, self-join on the
shingle, count intersections per pair, then |A∪B| = |A|+|B|−|A∩B|.
Only pairs sharing ≥1 shingle ever materialize — the classic sparse
similarity join. At 100 TB the indispensable extra is document-frequency
filtering (``max_df``): a shingle appearing in m docs contributes m² join
rows, and boilerplate shingles dominate cost while carrying no signal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.minhash import cap_buckets
from goodreads_pyspark_spark.dedup.shingles import shingle_hash, shingle_rows


def _shingle_overlap(sh: DataFrame, max_df: int | None) -> DataFrame:
    """``(doc_b, doc_a, n_common, sz_a, sz_b, jaccard)`` for every pair
    (doc_a < doc_b) sharing >= 1 hashed shingle of ``(id, sh)`` rows.

    Shingles are hashed (``shingle_hash``) before ANYTHING shuffles:
    every downstream key (the df count and both inverted-index join
    sides) is then 8 bytes instead of a raw n-gram string (measured
    21.8x of corpus text in shuffle bytes for d34 before, the d54 fix
    applied here). Every oracle replaying this kernel applies the
    IDENTICAL hash, so values match bit-for-bit even under a collision,
    and row counts are unchanged because the input is distinct
    (id, shingle) rows.

    Nothing is cached here: the shingle table feeds three consumers
    (sizes, both join sides), and a 10-pair A/B showed no gain from
    caching it or its df-capped form (CHANGES.md).
    """
    sh = cap_buckets(sh.withColumn("sh", shingle_hash()), ["sh"], max_df)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "sh")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")).cast("double"),
        )
    )


def jaccard_pairs_from_shingles(
    sh: DataFrame,
    threshold: float = 0.2,
    max_df: int | None = None,
    already_cached: bool = False,
) -> DataFrame:
    """(doc_a < doc_b, jaccard) from a prebuilt ``(id, sh)`` shingle table,
    for pairs with Jaccard >= ``threshold`` (see ``_shingle_overlap`` for
    the hashing and ``max_df``). ``already_cached`` is accepted and has
    no effect: the kernel caches nothing either way."""
    return (
        _shingle_overlap(sh, max_df)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
) -> DataFrame:
    """(doc_a < doc_b, jaccard) for pairs with Jaccard ≥ ``threshold``."""
    sh = shingle_rows(df, id_col, text_col, shingle_n, out_id="id")
    return jaccard_pairs_from_shingles(sh, threshold=threshold, max_df=max_df)


def containment_pairs_from_shingles(
    sh: DataFrame, max_df: int | None = None
) -> DataFrame:
    """Asymmetric containment per shingle-sharing pair.

    Returns ``(doc_a < doc_b, n_common, sz_a, sz_b, jaccard, containment)``
    where ``containment = n_common / min(sz_a, sz_b)`` — the fraction of
    the SMALLER document's shingle set found in the larger one. Jaccard is
    symmetric and collapses when one document swallows another (a quote, a
    boilerplate wrapper, a concatenation): |A∩B|/|A∪B| stays small while
    |A∩B|/|A| is near 1. Containment is the detector for that case
    (Broder's resemblance-vs-containment distinction; the datasketch
    ``MinHashLSHEnsemble`` use case). Same inverted-index kernel and
    ``max_df`` discipline as ``jaccard_pairs_from_shingles``: the df cap
    bounds any key's m² contribution. Measured (SCALING.md addendum
    10): the kernel build stays FLAT at 1×/2×/4× corpus replication
    (2.1s → 1.7s) even as near-dup density grows output pairs 17× —
    the cap, not luck, is what holds the join.
    """
    return _shingle_overlap(sh, max_df).withColumn(
        "containment",
        F.col("n_common").cast("double") / F.least("sz_a", "sz_b").cast("double"),
    )
