"""Shared shingle-table builder for the dedup family.

MinHash banding and exact Jaccard verification both consume the same
distinct ``(doc_id, shingle)`` rows. Building the table once (and caching
it when multiple consumers exist) removes the duplicated
tokenize -> shingle -> explode subtree that otherwise runs per consumer —
at 100 TB the tokenizer pass over the corpus is the dominant linear cost,
so it must run exactly once per pipeline.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.functions.text import tokens, word_shingles
from goodreads_pyspark_spark.operators.partitioning import fan_out


def shingle_rows(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    out_id: str = "id",
) -> DataFrame:
    """Distinct ``(out_id, sh)`` rows — one per document x n-word shingle.

    Documents with fewer than ``shingle_n`` tokens produce no rows (nothing
    to compare) — same convention as the DuckDB oracles. ``word_shingles``
    already dedups within a document, so no extra DISTINCT is needed.
    """
    # Tokenize into an attribute FIRST, then shingle from the attribute.
    # Higher-order functions (transform) evaluate interpreted — no codegen
    # subexpression elimination — so passing the raw tokenize expression
    # into word_shingles re-splits the document once per element_at call
    # (~3x per shingle: quadratic in document length, measured 10x slower).
    # CollapseProject keeps the multi-referenced non-cheap alias intact.
    base = fan_out(df).select(
        F.col(id_col).alias(out_id), tokens(text_col).alias("__toks")
    )
    sh = word_shingles(F.col("__toks"), shingle_n)
    return base.select(F.col(out_id), F.explode(sh).alias("sh"))


def shingle_hash(col: str = "sh") -> Column:
    """A shingle string as an engine-portable 60-bit int: the first 15
    hex digits of its md5, ``conv(substring(md5(sh),1,15),16,10)::bigint``.

    Every shuffle keyed by shingle carries these 8 bytes instead of the
    raw n-gram, and every DuckDB oracle replaying a shingle join applies
    the identical hash, so both engines collide identically.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")
