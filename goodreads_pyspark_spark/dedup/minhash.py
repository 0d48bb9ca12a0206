"""MinHash + LSH near-duplicate candidate generation.

Pipeline (all DataFrame ops, one pass over shingles):
  shingle → K salted min-hashes per doc → B bands of R hashes →
  band-key equi-join → candidate pairs.

Scale notes:
  * The only data that shuffles is (doc_id, band, 16-byte key) — B rows
    per document regardless of document size.
  * The band join is a plain equi-join on (band, key): AQE handles skew;
    a degenerate hot bucket (boilerplate text) can be capped with a
    per-key count filter before the self-join (``max_bucket`` arg).
  * Salted-md5 min-hashing is deterministic across engines and runs —
    no RNG state to ship. md5 is uniform enough for Jaccard estimation;
    the salt family {s0_, s1_, ...} gives K independent permutations.

Reference basis: standard MinHash/LSH banding (Broder; Leskovec et al.,
Mining of Massive Datasets ch.3) — public-domain technique.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.shingles import shingle_rows


def minhash_aggs(num_hashes: int = 8) -> list[Column]:
    """The ``mh0..mh{K-1}`` salted min-hash aggregates over an ``sh``
    column, for a ``groupBy`` of per-document shingle rows."""
    return [
        F.min(F.md5(F.concat(F.lit(f"s{i}_"), F.col("sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]


def minhash_signatures_from_shingles(
    sh: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """Min-hash signatures from a prebuilt ``(id_col, sh)`` shingle table."""
    return sh.groupBy(id_col).agg(*minhash_aggs(num_hashes))


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """One row per doc: ``mh0..mh{K-1}`` salted min-hash columns.

    Documents with fewer than ``shingle_n`` tokens produce no shingles and
    drop out (nothing to compare) — same convention as the oracle.
    """
    ex = shingle_rows(df, id_col, text_col, shingle_n, out_id=id_col)
    return minhash_signatures_from_shingles(ex, id_col, num_hashes)


def lsh_candidate_pairs_from_shingles(
    sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs from a prebuilt ``(id_col, sh)`` shingle table.

    Pass an already-cached ``sh`` when other consumers (e.g. the Jaccard
    verifier) share it — the signature aggregation then reads the cached
    shingles instead of re-tokenizing the corpus.
    """
    sigs = minhash_signatures_from_shingles(sh, id_col, num_hashes)
    return lsh_candidate_pairs_from_signatures(
        sigs, id_col, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )


def lsh_candidate_pairs_from_signatures(
    sigs: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs from a prebuilt ``mh0..mh{K-1}`` signature table.

    The banding entry point for band-tuning sweeps (d34): the signature
    aggregation is the expensive pass (one min-hash scan over every
    shingle), and it is identical for every (bands, rows) split of the
    same ``num_hashes`` — so a sweep computes signatures ONCE and calls
    this per config.
    """
    # Both sides of the self-join read the banded keys; the planner reuses
    # the signature exchange, so the signatures are computed once uncached.
    banded = band_signatures(sigs, id_col, num_hashes, bands)
    return band_pairs(banded, id_col, ["band", "key"], max_bucket)


def _check_bands(num_hashes: int, bands: int) -> None:
    if bands > num_hashes or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes}) evenly; "
            "a non-divisible split would silently drop trailing hashes "
            "from every band and change candidate recall"
        )


def cap_buckets(rows: DataFrame, keys: list[str], max_bucket: int | None) -> DataFrame:
    """``rows`` without those in buckets (equal ``keys``) of more than
    ``max_bucket`` rows; all of them when ``max_bucket`` is None.

    The degenerate-bucket guard of every banded search (MinHash, SimHash,
    LSH-Ensemble, sign-LSH): a bucket of m rows yields m^2 join rows, and
    boilerplate-heavy corpora concentrate mass in a few buckets.
    """
    if max_bucket is None:
        return rows
    counts = rows.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    return rows.join(counts.filter(F.col("__n") <= max_bucket).drop("__n"), keys)


def band_pairs(
    banded: DataFrame,
    id_col: str,
    keys: list[str],
    max_bucket: int | None = None,
    keep: Column | None = None,
) -> DataFrame:
    """Distinct ``(doc_a < doc_b)`` pairs of ``banded`` rows sharing a
    bucket (equal ``keys``), hot buckets capped by :func:`cap_buckets`.
    ``keep`` verifies each pair inside the self-join: a predicate over
    the two rows' columns, qualified ``a.`` and ``b.``."""
    banded = cap_buckets(banded, keys, max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    pair = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    return (
        a.join(b, keys)
        .filter(pair if keep is None else pair & keep)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing ≥1 LSH band bucket."""
    sh = shingle_rows(df, id_col, text_col, shingle_n, out_id=id_col)
    return lsh_candidate_pairs_from_shingles(
        sh, id_col, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )


def _banded_keys(
    sh: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id_col, band, key) rows from a shingle table — the LSH index form."""
    sigs = minhash_signatures_from_shingles(sh, id_col, num_hashes)
    return band_signatures(sigs, id_col, num_hashes, bands)


def band_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """The standing corpus's (id_col, band, key) LSH index, hot buckets
    capped: what an ingest batch is matched against."""
    sh = shingle_rows(docs, id_col, text_col, shingle_n, out_id=id_col)
    keys = _banded_keys(sh, id_col, num_hashes, bands)
    return cap_buckets(keys, ["band", "key"], max_bucket)


def band_signatures(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int,
    bands: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id_col, *carry, band, key) rows from a signature table: ``bands``
    md5 keys over consecutive runs of its ``mh0..mh{K-1}`` columns, the
    ``carry`` columns riding along."""
    _check_bands(num_hashes, bands)
    rows_per_band = num_hashes // bands
    band_keys = [
        F.md5(
            F.concat(*[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)])
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col), *carry, F.posexplode(F.array(*band_keys)).alias("band", "key")
    )


def incremental_lsh_matches(
    corpus: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = None,
) -> DataFrame:
    """Ingestion-time dedup: incoming docs that LSH-collide with the corpus.

    The incremental variant of :func:`lsh_candidate_pairs` — instead of an
    all-pairs self-join over one table, the (small) incoming batch's band
    keys are broadcast against the (huge) standing corpus index. At 100 TB
    the corpus side is a precomputed, partitioned band table updated
    append-only; each new batch costs one broadcast hash join over it, not
    a corpus self-join. ``max_bucket`` drops degenerate hot corpus buckets
    (boilerplate) before the join, same guard as the batch path.

    Returns distinct (new_id, corpus_id) collision pairs.
    """
    cb = band_index(
        corpus, id_col, text_col, num_hashes, bands, shingle_n, max_bucket
    ).withColumnRenamed(id_col, "corpus_id")
    ib = _banded_keys(
        shingle_rows(incoming, id_col, text_col, shingle_n, out_id=id_col),
        id_col, num_hashes, bands,
    ).withColumnRenamed(id_col, "new_id")
    return (
        cb.join(F.broadcast(ib), ["band", "key"])
        .select("new_id", "corpus_id")
        .distinct()
    )
