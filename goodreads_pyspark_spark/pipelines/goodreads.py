"""The Goodreads analytics pipeline — the reference notebook's ETL and SQL
surface rebuilt as composable, deterministic engine calls.

Reference mapping (SURVEY.md §2, §4):
  * ``build_books``       — reference: goodreads.py:41-117 (curated books_df)
  * ``dominant_genre``    — goodreads.py:52-58, UD1: Python-UDF argmax →
    native first-max-in-column-order expression (no Python workers)
  * ``build_users``       — goodreads.py:94 (collect_set of to_read)
  * ``build_ratings_small`` — goodreads.py:99-106,151 (offset ids, restrict
    to curated books)
  * ``SQL_QUERIES``       — the ten %sql cells, goodreads.py:162-224
  * dedup-per-key uses the window fix (goodreads.py:83 is
    orderBy+dropDuplicates — unspecified survivor; see operators/relational)

Scale posture: curated books is a small dimension (broadcast); ratings is
the fact table and is never collected; all derived tables are returned as
DataFrames for the caller to persist (partitioned parquet at scale).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators.relational import dedup_latest, semi_join

#: Book-id offset making user and book id spaces disjoint in one graph
#: vertex space (reference: goodreads.py:105-106; min book id becomes
#: BOOK_ID_OFFSET+1, verified goodreads.py:107-108).
BOOK_ID_OFFSET = 100_000

#: language_code values kept by the curation filter (goodreads.py:84).
ENGLISH_CODES = ("en-US", "en-GB", "eng", "en-CA")


@dataclass
class GoodreadsTables:
    """Curated outputs of the ETL stage."""

    books: DataFrame
    users: DataFrame
    ratings_small: DataFrame


def dominant_genre(genre_cols: list[str]) -> F.Column:
    """Name of the genre column holding the row's maximum count.

    Native replacement for the reference's row-wise Python UDF
    (goodreads.py:55-57). Tie-break preserved exactly: Python's
    ``list.index(max(...))`` returns the FIRST maximum, and a chained
    CASE WHEN col==greatest(...) matches columns in the same order.
    """
    mx = F.greatest(*[F.col(c) for c in genre_cols])
    expr = None
    for c in genre_cols:
        cond = F.col(c) == mx
        expr = F.when(cond, c) if expr is None else expr.when(cond, c)
    return expr


def flatten_genres(genres_raw: DataFrame) -> DataFrame:
    """goodreads.py:45-58: star-expand the nested genres struct, fill null
    counts with 0, and attach the dominant-genre label."""
    flat = genres_raw.select(
        F.col("book_id").alias("goodreads_book_id"), F.col("genres.*")
    ).na.fill(0)
    genre_cols = [c for c in flat.columns if c != "goodreads_book_id"]
    return flat.withColumn("genre", dominant_genre(genre_cols)).select(
        "goodreads_book_id", "genre"
    )


def build_books(
    books_small: DataFrame, books_full: DataFrame, genres_raw: DataFrame
) -> DataFrame:
    """Curated books dimension (reference: goodreads.py:78-117).

    Join the 10k catalog against the full metadata dump and genre labels,
    keep one edition per work (max publication_year — deterministic window
    form), restrict to English, split authors, offset ids, harden types.
    Output schema matches ipynb cell 18 (SURVEY.md §1).
    """
    meta = books_full.withColumnRenamed("book_id", "goodreads_book_id").select(
        "goodreads_book_id",
        "publication_year",
        "description",
        "popular_shelves",
        "num_pages",
        "similar_books",
    )
    genres = flatten_genres(genres_raw)
    joined = (
        books_small.join(meta, "goodreads_book_id", "inner")
        .join(genres, "goodreads_book_id", "left")
    )
    # publication_year arrives as a string (sometimes empty) from the JSON
    # dump; sort numerically, nulls last, unlike the reference's implicit
    # string sort. try_cast: Spark 4 runs ANSI mode, where the reference's
    # Spark 2.x ''→null cast behavior must be requested explicitly.
    deduped = dedup_latest(
        joined,
        ["work_id"],
        [
            F.col("publication_year").try_cast("double").desc_nulls_last(),
            F.col("goodreads_book_id"),
        ],
    )
    curated = deduped.filter(F.col("language_code").isin(*ENGLISH_CODES))
    return curated.select(
        (F.col("book_id") + BOOK_ID_OFFSET).cast("int").alias("book_id"),
        F.col("work_id").cast("int").alias("work_id"),
        F.split(F.col("authors"), ", ").alias("authors"),
        F.col("original_publication_year").try_cast("double").alias(
            "original_publication_year"
        ),
        "title",
        "description",
        "popular_shelves",
        "genre",
        F.col("num_pages").try_cast("int").alias("num_pages"),
        "similar_books",
        F.col("average_rating").try_cast("double").alias("average_rating"),
        F.col("work_ratings_count").try_cast("int").alias("work_ratings_count"),
    )


def build_users(to_read: DataFrame) -> DataFrame:
    """users(user_id, to_read array) — goodreads.py:94 (collect_set)."""
    return to_read.groupBy("user_id").agg(
        F.collect_set("book_id").alias("to_read")
    )


def build_ratings_small(ratings: DataFrame, books: DataFrame) -> DataFrame:
    """Ratings restricted to curated books, ids offset into book space
    (goodreads.py:105-106,151). ``left_semi`` against the broadcastable
    books dimension — never duplicates, never shuffles the dimension.
    Broadcast is dataset-bounded, not corpus-proportional: the goodreads
    dump's books table is a fixed ~2.4M-id dimension (tens of MB as a
    bare id column) while interactions (~229M) carry the data growth."""
    offset = ratings.withColumn(
        "book_id", (F.col("book_id") + BOOK_ID_OFFSET).cast("int")
    )
    return semi_join(offset, F.broadcast(books.select("book_id")), "book_id")


# --- the ten %sql cells (reference: goodreads.py:162-224) -------------------
SQL_QUERIES: dict[str, str] = {
    # goodreads.py:162 (DataFrame form) — ratings histogram
    "ratings_histogram": """
        SELECT rating, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(rating) AS avg_rating
        FROM {ratings} GROUP BY rating ORDER BY rating
    """,
    # goodreads.py:167-168 — top reviewers
    "top_reviewers": """
        SELECT user_id, COUNT(book_id) AS books_rated
        FROM {ratings} GROUP BY user_id
        ORDER BY books_rated DESC, user_id LIMIT 10
    """,
    # goodreads.py:173-174 — highest rated books
    "highest_rated_books": """
        SELECT book_id, title, average_rating
        FROM {books} GROUP BY book_id, title, average_rating
        ORDER BY average_rating DESC, book_id LIMIT 5
    """,
    # goodreads.py:179-180 — most-rated books
    "most_rated_books": """
        SELECT title, work_ratings_count, average_rating
        FROM {books} ORDER BY work_ratings_count DESC, book_id LIMIT 10
    """,
    # goodreads.py:185-187 — reviews per publication year
    "reviews_per_year": """
        SELECT original_publication_year, COUNT(*) AS n_books
        FROM {books} WHERE original_publication_year > 1900
        GROUP BY original_publication_year
        ORDER BY original_publication_year
    """,
    # goodreads.py:192-194 — average rating per publication year
    "avg_rating_per_year": """
        SELECT original_publication_year, MEAN(average_rating) AS avg_rating
        FROM {books} WHERE original_publication_year > 1900
        GROUP BY original_publication_year
        ORDER BY original_publication_year
    """,
    # goodreads.py:198-202 — authors with most distinct books
    "prolific_authors": """
        SELECT authors[0] AS author, COUNT(DISTINCT title) AS n_books
        FROM {books} GROUP BY authors[0]
        ORDER BY n_books DESC, author LIMIT 10
    """,
    # goodreads.py:206-210 — top-rated authors
    "top_rated_authors": """
        SELECT authors[0] AS author, MEAN(average_rating) AS avg_rating
        FROM {books} GROUP BY authors[0]
        ORDER BY avg_rating DESC, author LIMIT 10
    """,
    # goodreads.py:214-218 — best Stephen King books
    "best_stephen_king": """
        SELECT title, MEAN(average_rating) AS avg_rating
        FROM {books} WHERE authors[0] LIKE 'Stephen King'
        GROUP BY title ORDER BY avg_rating DESC, title LIMIT 5
    """,
    # goodreads.py:222-224 — books per year
    "books_per_year": """
        SELECT original_publication_year, COUNT(*) AS n
        FROM {books} GROUP BY original_publication_year
        ORDER BY n DESC, original_publication_year LIMIT 10
    """,
}


def run_sql_suite(
    spark: SparkSession, tables: GoodreadsTables, ratings: DataFrame | None = None
) -> dict[str, DataFrame]:
    """Run all ten reference SQL queries over the curated tables.

    The tables bind as temp views named uniquely per call and dropped
    through the session catalog once the queries are analysed; unlike
    ``spark.catalog.dropTempView`` (which ``spark.sql``'s DataFrame
    arguments use), that drop does not uncache the caller's tables.
    Every ORDER BY carries a unique tiebreak (unlike the notebook).
    """
    frames = dict(
        books=tables.books,
        ratings=ratings if ratings is not None else tables.ratings_small,
    )
    views = {k: f"{k}_{uuid.uuid4().hex}" for k in frames}
    for k, df in frames.items():
        df.createOrReplaceTempView(views[k])
    try:
        return {name: spark.sql(q.format(**views)) for name, q in SQL_QUERIES.items()}
    finally:
        catalog = spark._jsparkSession.sessionState().catalog()
        for view in views.values():
            catalog.dropTempView(view)


# --- point-lookup / recommendation helpers (reference §2.10) ----------------
def get_book_title(books: DataFrame, book_id: int) -> str | None:
    """goodreads.py:145-146 — single-title lookup; ``collect`` on the key
    filter is one job (``head``'s incremental limit scan can take more)."""
    rows = books.filter(F.col("book_id") == book_id).select("title").collect()
    return rows[0]["title"] if rows else None


def titles_for_ids(books: DataFrame, ids: DataFrame, id_col: str = "book_id") -> DataFrame:
    """Bulk form of the reference's per-id title loop (goodreads.py:280-294):
    one broadcast join instead of N driver round-trips."""
    return ids.join(
        F.broadcast(books.select(F.col("book_id").alias(id_col), "title")), id_col, "left"
    )


def recommend_by_book(
    clustered_books: DataFrame, book_id: int, n: int = 10
) -> DataFrame:
    """Content-based recommendation: other titles in ``book_id``'s cluster
    (reference: goodreads.py:357-363 — looks up the book's KMeans
    ``prediction`` then filters the clustered frame to it).

    ``clustered_books`` is the output of ``ml.features.kmeans_cluster``
    over the books dimension (columns ``book_id``, ``title``,
    ``prediction``). One broadcast of the single-row cluster lookup; no
    driver round-trip. Deterministic order: title then id tiebreak.
    """
    target = clustered_books.filter(F.col("book_id") == book_id).select(
        F.col("prediction").alias("target_cluster")
    )
    return (
        clustered_books.join(
            F.broadcast(target), F.col("prediction") == F.col("target_cluster")
        )
        .filter(F.col("book_id") != book_id)
        .select("book_id", "title")
        .orderBy("title", "book_id")
        .limit(n)
    )


def get_to_read_titles(
    books: DataFrame, users: DataFrame, user_id: int
) -> DataFrame:
    """goodreads.py:289-294 — titles on a user's to-read shelf (ids are in
    raw space; offset applied here, mirroring the reference)."""
    wanted = (
        users.filter(F.col("user_id") == user_id)
        .select(F.explode("to_read").alias("raw_id"))
        .select((F.col("raw_id") + BOOK_ID_OFFSET).cast("int").alias("book_id"))
    )
    return titles_for_ids(books, wanted)
