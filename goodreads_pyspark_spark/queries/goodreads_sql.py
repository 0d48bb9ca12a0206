"""Driver-gated goodreads SQL suite (SURVEY.md §2.9) — the ten %sql cells
of the reference notebook (goodreads.py:162-224) run through the real
``run_sql_suite`` code path against deterministic goodreads-shaped tables
derived from testdata, with DuckDB oracles built from the same derivation.

The driver's testdata has no goodreads dump, so ``books``/``ratings`` are
synthesized *in-query* from ``part``/``lineitem`` by pure SQL-expressible
rules both engines can reproduce (precedent: c01's composite pipeline).

Exactness: every double in the derived tables is a dyadic rational
(k/128) and Spark/DuckDB sums of exactly-representable dyadics incur NO
rounding at these magnitudes, so ``MEAN(average_rating)`` is bit-identical
cross-engine without the dsum/davg decimal detour — the averages
themselves, not rounded shadows, are under the hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.pipelines.goodreads import (
    SQL_QUERIES,
    GoodreadsTables,
    build_users,
    run_sql_suite,
)
from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import tbl


def _books(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic books dimension from ``part``.

    Shapes mirror the curated reference schema the suite touches:
    ``authors`` is a real array (the suite indexes ``authors[0]``), every
    37th part is Stephen King (so the LIKE query is non-empty), years span
    1896-2043 (so the ``> 1900`` filter actually filters), and
    ``average_rating`` is ``(partkey mod 400)/128`` — dyadic, hence
    exactly summable.
    """
    p = tbl(spark, sf_dir, "part")
    author = F.when(
        F.col("p_partkey") % 37 == 0, F.lit("Stephen King")
    ).otherwise(F.concat(F.lit("Author#"), (F.col("p_partkey") % 97).cast("string")))
    return p.select(
        F.col("p_partkey").cast("int").alias("book_id"),
        (F.col("p_partkey") % 1000).cast("int").alias("work_id"),
        F.array(author, F.lit("Co-Writer")).alias("authors"),
        (F.lit(1893) + F.col("p_size") * 3).cast("double").alias(
            "original_publication_year"
        ),
        F.col("p_name").alias("title"),
        ((F.col("p_partkey") % 400).cast("double") / 128).alias("average_rating"),
        (F.col("p_size") * 100 + F.col("p_partkey") % 100).cast("int").alias(
            "work_ratings_count"
        ),
    )


def _ratings(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_suppkey") % 500).cast("int").alias("user_id"),
        F.col("l_partkey").cast("int").alias("book_id"),
        (1 + (F.col("l_orderkey") + F.col("l_linenumber")) % 5).cast("int").alias(
            "rating"
        ),
    )


def _suite(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Build the derived tables and return all ten suite DataFrames
    (lazy — only the one the registered query returns ever executes)."""
    ratings = _ratings(spark, sf_dir)
    tables = GoodreadsTables(
        books=_books(spark, sf_dir),
        users=build_users(ratings),  # schema-compatible; suite never reads it
        ratings_small=ratings,
    )
    return run_sql_suite(spark, tables)


#: DuckDB mirror of _books/_ratings. ``author`` is pre-extracted because
#: DuckDB lists are 1-indexed — the scalar is the semantic equivalent of
#: Spark's ``authors[0]``.
_CTES = """
    books AS (
      SELECT CAST(p_partkey AS INT) AS book_id,
             CASE WHEN p_partkey % 37 = 0 THEN 'Stephen King'
                  ELSE 'Author#' || CAST(p_partkey % 97 AS VARCHAR) END AS author,
             CAST(1893 + p_size * 3 AS DOUBLE) AS original_publication_year,
             p_name AS title,
             CAST(p_partkey % 400 AS DOUBLE) / 128 AS average_rating,
             CAST(p_size * 100 + p_partkey % 100 AS INT) AS work_ratings_count
      FROM part),
    ratings AS (
      SELECT CAST(l_suppkey % 500 AS INT) AS user_id,
             CAST(l_partkey AS INT) AS book_id,
             CAST(1 + (l_orderkey + l_linenumber) % 5 AS INT) AS rating
      FROM lineitem)
"""

#: query-name -> DuckDB oracle body (same semantics as SQL_QUERIES, with
#: ``author`` standing in for ``authors[0]`` and counts cast to BIGINT).
_ORACLES = {
    "ratings_histogram": """
        SELECT rating, CAST(COUNT(*) AS BIGINT) AS n,
               AVG(rating) AS avg_rating
        FROM ratings GROUP BY rating ORDER BY rating
    """,
    "top_reviewers": """
        SELECT user_id, CAST(COUNT(book_id) AS BIGINT) AS books_rated
        FROM ratings GROUP BY user_id
        ORDER BY books_rated DESC, user_id LIMIT 10
    """,
    "highest_rated_books": """
        SELECT book_id, title, average_rating
        FROM books GROUP BY book_id, title, average_rating
        ORDER BY average_rating DESC, book_id LIMIT 5
    """,
    "most_rated_books": """
        SELECT title, work_ratings_count, average_rating
        FROM books ORDER BY work_ratings_count DESC, book_id LIMIT 10
    """,
    "reviews_per_year": """
        SELECT original_publication_year, CAST(COUNT(*) AS BIGINT) AS n_books
        FROM books WHERE original_publication_year > 1900
        GROUP BY original_publication_year
        ORDER BY original_publication_year
    """,
    "avg_rating_per_year": """
        SELECT original_publication_year, AVG(average_rating) AS avg_rating
        FROM books WHERE original_publication_year > 1900
        GROUP BY original_publication_year
        ORDER BY original_publication_year
    """,
    "prolific_authors": """
        SELECT author, CAST(COUNT(DISTINCT title) AS BIGINT) AS n_books
        FROM books GROUP BY author
        ORDER BY n_books DESC, author LIMIT 10
    """,
    "top_rated_authors": """
        SELECT author, AVG(average_rating) AS avg_rating
        FROM books GROUP BY author
        ORDER BY avg_rating DESC, author LIMIT 10
    """,
    "best_stephen_king": """
        SELECT title, AVG(average_rating) AS avg_rating
        FROM books WHERE author LIKE 'Stephen King'
        GROUP BY title ORDER BY avg_rating DESC, title LIMIT 5
    """,
    "books_per_year": """
        SELECT original_publication_year, CAST(COUNT(*) AS BIGINT) AS n
        FROM books GROUP BY original_publication_year
        ORDER BY n DESC, original_publication_year LIMIT 10
    """,
}

assert set(_ORACLES) == set(SQL_QUERIES), "oracle drifted from SQL_QUERIES"


def _register(i: int, name: str) -> None:
    ref_lines = {
        "ratings_histogram": "162", "top_reviewers": "167-168",
        "highest_rated_books": "173-174", "most_rated_books": "179-180",
        "reviews_per_year": "185-187", "avg_rating_per_year": "192-194",
        "prolific_authors": "198-202", "top_rated_authors": "206-210",
        "best_stephen_king": "214-218", "books_per_year": "222-224",
    }[name]

    @query(
        f"gr{i:02d}_{name}",
        oracle=f"WITH {_CTES} {_ORACLES[name]}",
        doc=f"Goodreads SQL suite '{name}' (reference goodreads.py:"
        f"{ref_lines}) run verbatim through pipelines.goodreads."
        "run_sql_suite over tables derived deterministically from "
        "part/lineitem; doubles are dyadic so averages hash bit-exact.",
    )
    def _q(spark: SparkSession, sf_dir: str, _name: str = name) -> DataFrame:
        return _suite(spark, sf_dir)[_name]


for _i, _name in enumerate(SQL_QUERIES, start=1):
    _register(_i, _name)
