"""SimHash document signatures (Charikar's random-hyperplane sketch over
token features — public technique, cf. Manku et al., WWW'07).

Each distinct token votes ±1 on each signature bit; the bit is 1 when the
vote sum is positive. Near-duplicate docs differ in few bits (compare by
Hamming distance). Bit j's vote for a token is derived from hex digit j
of md5(token) — deterministic, engine-portable, no RNG.

Scale: one explode + one groupBy per corpus; the aggregate carries
``bits`` small integer columns per doc. For 64-bit production signatures
raise ``bits`` and store as two longs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.minhash import band_pairs
from goodreads_pyspark_spark.functions.text import tokens
from goodreads_pyspark_spark.operators.partitioning import fan_out


def simhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """One row per doc: ``simhash`` (bigint, ``bits`` wide).

    Bits 0-31 vote from the hex digits of ``md5(token)``; bits 32+ from a
    second salted hash ``md5('b_' || token)`` — 62 bits max (bit 63 is
    the BIGINT sign). Wide signatures matter at scale: the banded search
    (:func:`simhash_neardup_pairs`) gets ``2^(bits/bands)`` buckets per
    band, and bucket population — the quadratic term in the candidate
    join — shrinks proportionally.
    """
    assert bits <= 62, "bigint sign bit; 62 max"
    ex = (
        fan_out(df)
        .select(
            F.col(id_col),
            F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
        )
        .withColumn("h", F.md5("tok"))
    )
    if bits > 32:
        ex = ex.withColumn("h2", F.md5(F.concat(F.lit("b_"), F.col("tok"))))

    def digit(j: int):
        return (
            F.ascii(F.substring("h", j + 1, 1))
            if j < 32
            else F.ascii(F.substring("h2", j - 31, 1))
        )

    votes = [
        F.sum(F.when(digit(j) % 2 == 1, 1).otherwise(-1)).alias(f"s{j}")
        for j in range(bits)
    ]
    agg = ex.groupBy(id_col).agg(*votes)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select(F.col(id_col), sig.cast("bigint").alias("simhash"))


def hamming_distance(a, b):
    """Hamming distance between two simhash columns (bigint)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 48,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by banded SimHash Hamming search.

    The ``bits``-wide signature splits into ``bands`` equal slices; docs
    agreeing on ≥1 slice become candidates, then a full Hamming check
    verifies ``bit_count(xor) <= max_hamming``. Pigeonhole gives exact
    recall when ``max_hamming < bands``: a pair differing in ≤ bands-1
    bits must agree on at least one whole slice.

    Scale: per doc only ``bands`` rows of (id, band, slice_value) shuffle
    into the candidate join — document bytes never move. ``max_bucket``
    drops degenerate slice buckets (m docs in a bucket ⇒ m² join rows)
    before the self-join; mirror any cap in downstream oracles.

    Output: ``doc_a < doc_b``, ``hamming`` (int).
    """
    if bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide bits ({bits}) evenly")
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}) for the "
            "banded search to guarantee exact recall"
        )
    width = bits // bands
    mask = (1 << width) - 1
    sigs = simhash_signatures(df, id_col, text_col, bits)
    slices = [
        F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask))
        for b in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.posexplode(F.array(*slices)).alias("band", "val")
    )
    cand = band_pairs(banded, id_col, ["band", "val"], max_bucket)
    sa = sigs.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("__sig_a"))
    sb = sigs.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("__sig_b"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "hamming",
            hamming_distance(F.col("__sig_a"), F.col("__sig_b")).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
