"""Expected answers, computed outside Spark.

* ``notebook`` — DuckDB replays the curation rules and the ten SQL cells
  on the same generated files (the pattern of
  ``queries/goodreads_sql.py``: ``author`` stands in for ``authors[0]``,
  counts are cast to BIGINT, and ascending sorts over a nullable column
  say NULLS FIRST, which is Spark's default and not DuckDB's).
* ``serve`` — titles and to-read shelves come from the same DuckDB
  replay; kNN and ALS top-k from exact NumPy scoring.
* ``ingest`` — exact 3-shingle Jaccard in pure Python over each planted
  family, plus the quality gate and normalised exact-duplicate rule.
"""

from __future__ import annotations

import math
import re
import zlib

import duckdb
import numpy as np

from gen import BOOK_ID_OFFSET, ENGLISH, Corpus

#: The ten SQL cells in DuckDB form, keyed like ``pipelines.goodreads.SQL_QUERIES``.
SQL_ORACLES = {
    "ratings_histogram": """
        SELECT rating, CAST(COUNT(*) AS BIGINT), AVG(rating)
        FROM ratings GROUP BY rating ORDER BY rating""",
    "top_reviewers": """
        SELECT user_id, CAST(COUNT(book_id) AS BIGINT) AS n
        FROM ratings GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10""",
    "highest_rated_books": """
        SELECT book_id, title, average_rating FROM books
        GROUP BY book_id, title, average_rating
        ORDER BY average_rating DESC, book_id LIMIT 5""",
    "most_rated_books": """
        SELECT title, work_ratings_count, average_rating FROM books
        ORDER BY work_ratings_count DESC, book_id LIMIT 10""",
    "reviews_per_year": """
        SELECT original_publication_year, CAST(COUNT(*) AS BIGINT) FROM books
        WHERE original_publication_year > 1900
        GROUP BY original_publication_year ORDER BY original_publication_year""",
    "avg_rating_per_year": """
        SELECT original_publication_year, AVG(average_rating) FROM books
        WHERE original_publication_year > 1900
        GROUP BY original_publication_year ORDER BY original_publication_year""",
    "prolific_authors": """
        SELECT author, CAST(COUNT(DISTINCT title) AS BIGINT) AS n FROM books
        GROUP BY author ORDER BY n DESC, author LIMIT 10""",
    "top_rated_authors": """
        SELECT author, AVG(average_rating) AS a FROM books
        GROUP BY author ORDER BY a DESC, author LIMIT 10""",
    "best_stephen_king": """
        SELECT title, AVG(average_rating) AS a FROM books
        WHERE author LIKE 'Stephen King'
        GROUP BY title ORDER BY a DESC, title LIMIT 5""",
    "books_per_year": """
        SELECT original_publication_year, CAST(COUNT(*) AS BIGINT) AS n FROM books
        GROUP BY original_publication_year
        ORDER BY n DESC, original_publication_year NULLS FIRST LIMIT 10""",
}

_CURATE = f"""
CREATE TABLE books AS
WITH bs AS (
  SELECT CAST(book_id AS INT) AS book_id,
         CAST(goodreads_book_id AS INT) AS goodreads_book_id,
         CAST(work_id AS INT) AS work_id, authors, title, language_code,
         TRY_CAST(original_publication_year AS DOUBLE) AS original_publication_year,
         TRY_CAST(average_rating AS DOUBLE) AS average_rating,
         TRY_CAST(work_ratings_count AS INT) AS work_ratings_count
  FROM read_csv($books_small, header = true, all_varchar = true)),
meta AS (
  SELECT CAST(book_id AS INT) AS goodreads_book_id,
         TRY_CAST(NULLIF(publication_year, '') AS DOUBLE) AS py
  FROM read_json($books, columns = {{book_id: 'VARCHAR', publication_year: 'VARCHAR'}})),
ranked AS (
  SELECT bs.*, row_number() OVER (
           PARTITION BY work_id ORDER BY py DESC NULLS LAST, goodreads_book_id) AS rn
  FROM bs JOIN meta USING (goodreads_book_id))
SELECT book_id + {BOOK_ID_OFFSET} AS book_id,
       string_split(authors, ', ')[1] AS author,
       original_publication_year, title, average_rating, work_ratings_count
FROM ranked WHERE rn = 1 AND language_code IN {tuple(ENGLISH)};

CREATE TABLE to_read AS
  SELECT * FROM read_csv($to_read, header = true,
                         columns = {{user_id: 'INT', book_id: 'INT'}});
CREATE TABLE ratings AS
  SELECT r.user_id, r.book_id + {BOOK_ID_OFFSET} AS book_id, r.rating
  FROM read_csv($ratings, header = true,
                columns = {{user_id: 'INT', book_id: 'INT', rating: 'INT'}}) r
  WHERE r.book_id + {BOOK_ID_OFFSET} IN (SELECT book_id FROM books);
"""


class GoodreadsOracle:
    """DuckDB replay of the ETL stage and SQL suite on the generated files."""

    def __init__(self, paths: dict[str, str]):
        con = duckdb.connect()
        sql = _CURATE
        for k, v in paths.items():
            sql = sql.replace(f"${k}", "'" + v.replace("'", "''") + "'")
        con.execute(sql)
        one = lambda sql: con.execute(sql).fetchone()[0]  # noqa: E731
        self.n_books = one("SELECT COUNT(*) FROM books")
        self.n_users = one("SELECT COUNT(DISTINCT user_id) FROM to_read")
        self.n_ratings = one("SELECT COUNT(*) FROM ratings")
        self.n_rating_users = one("SELECT COUNT(DISTINCT user_id) FROM ratings")
        self.sql = {name: con.execute(q).fetchall() for name, q in SQL_ORACLES.items()}
        self.titles = dict(con.execute("SELECT book_id, title FROM books").fetchall())
        self.shelves: dict[int, list[int]] = {}
        for u, b in con.execute("SELECT user_id, book_id FROM to_read").fetchall():
            self.shelves.setdefault(u, []).append(b + BOOK_ID_OFFSET)
        self.rating_users = [r[0] for r in con.execute("SELECT DISTINCT user_id FROM ratings ORDER BY 1").fetchall()]
        con.close()


def same_rows(got: list[tuple], want: list[tuple], rel: float = 1e-9) -> bool:
    """Ordered row equality; floats compare to ``rel`` relative tolerance."""
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-12):
                    return False
            elif a != b:
                return False
    return True


def topk_ok(got: list[tuple[int, float]], ref: dict[int, float], k: int, tol: float) -> bool:
    """``got`` is a valid top-``k`` of ``ref`` (id -> exact score): right
    length, distinct ids, each score within ``tol`` of the exact one, no
    returned id scored below the exact k-th best by more than ``tol``, and
    descending order up to ``tol``. Near-ties may legitimately swap."""
    want = min(k, len(ref))
    ids = [i for i, _ in got]
    if len(got) != want or len(set(ids)) != want:
        return False
    if want == 0:
        return True
    kth = sorted(ref.values(), reverse=True)[want - 1]
    prev = math.inf
    for i, s in got:
        if i not in ref or abs(s - ref[i]) > tol or ref[i] < kth - tol or s > prev + tol:
            return False
        prev = s
    return True


def knn_scores(vecs: np.ndarray, q: int) -> dict[int, float]:
    """Exact cosine of every other vector against vector ``q``."""
    v = vecs.astype(np.float64)
    cos = (v @ v[q]) / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[q]))
    return {i: float(c) for i, c in enumerate(cos) if i != q}


# --- corpus ---------------------------------------------------------------------
_SPLIT = re.compile(r"[^a-z0-9]+")


def _tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def _shingles(text: str, n: int = 3) -> set[str]:
    t = _tokens(text)
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


class CorpusOracle:
    """Survivor rules of ``clean_corpus`` at its defaults (min 20 tokens,
    unique ratio ≥ 0.3, exact dedup on lower(trim(text)), near-dup drop at
    3-shingle Jaccard ≥ 0.8), evaluated exactly outside Spark.

    ``must_keep`` is what survives with perfect near-dup recall;
    ``near_drops`` are the documents a Jaccard-verified pair removes. MinHash
    banding may miss a few of them, so :meth:`check_survivors` accepts a
    survivor set that keeps at most ``max_missed_frac`` of ``near_drops``
    and nothing else extra — and never loses a document that must stay.
    """

    def __init__(self, c: Corpus, threshold: float = 0.8, max_missed_frac: float = 0.01):
        def gate(text: str) -> bool:
            t = _tokens(text)
            return len(t) >= 20 and len(set(t)) * 10_000 >= 3000 * len(t)

        first_by_norm: dict[str, int] = {}
        for i in sorted(c.texts):
            if gate(c.texts[i]):
                first_by_norm.setdefault(c.texts[i].strip(" ").lower(), i)
        exact_survivors = set(first_by_norm.values())
        self.exact_planted = set(c.exact_of)
        self.near_drops = {
            i for i, orig in c.near_of.items()
            if i in exact_survivors and jaccard(c.texts[orig], c.texts[i]) >= threshold
        }
        self.must_keep = exact_survivors - self.near_drops
        self.max_missed = int(max_missed_frac * len(self.near_drops))
        self.corpus = c

    def check_survivors(self, ids: list[int]) -> bool:
        s = set(ids)
        extra = s - self.must_keep
        return (
            len(s) == len(ids)
            and self.must_keep <= s
            and extra <= self.near_drops
            and len(extra) <= self.max_missed
            and not (s & self.exact_planted)
        )

    def next_snapshot(self, survivors: list[int]) -> tuple[int, int, int]:
        """(count, sum of ids, sum of crc32(text)) of the snapshot after the
        CDC batch is applied to ``survivors``."""
        c = self.corpus
        rows = {i: c.texts[i] for i in survivors}
        for i in c.cdc_ops["D"]:
            rows.pop(i, None)
        for i in c.cdc_ops["U"] + c.cdc_ops["I"]:
            rows[i] = c.cdc_text[i]
        return len(rows), sum(rows), sum(zlib.crc32(t.encode()) for t in rows.values())
