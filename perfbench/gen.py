"""Seeded input generators for the benchmark.

Everything here is pure Python/NumPy and runs before Spark starts, so
generation is outside every timed region. The same seed always yields
byte-identical files and request streams. Each generator returns the
file paths the program reads plus the facts the checks need (planted
duplicates, request ids); the program itself only ever sees the files.
"""

from __future__ import annotations

import csv
import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BOOK_ID_OFFSET = 100_000
ENGLISH = ("en-US", "en-GB", "eng", "en-CA")
OTHER_LANGS = ("spa", "fre", "ger")
GENRES = (
    "children",
    "comics, graphic",
    "fantasy, paranormal",
    "fiction",
    "history, historical fiction, biography",
    "mystery, thriller, crime",
    "non-fiction",
    "poetry",
    "romance",
    "young-adult",
)
SOURCES = ("web", "books", "news", "forum", "wiki", "code", "papers", "mail")


def _words(rng: np.random.Generator, n: int) -> list[str]:
    """``n`` distinct pronounceable pseudo-words."""
    syl = [c + v for c in "bcdfghjklmnprstvz" for v in "aeiou"]
    out: set[str] = set()
    while len(out) < n:
        k = int(rng.integers(2, 4))
        out.add("".join(syl[i] for i in rng.integers(0, len(syl), k)))
    return sorted(out)


def _skewed(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from 1..n with P(rank r) proportional to r**-s."""
    w = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size, p=w / w.sum()).astype(np.int64) + 1


# --- Goodreads-shaped files --------------------------------------------------
@dataclass
class GoodreadsSize:
    books: int
    users: int
    ratings: int
    to_read: int


@dataclass
class GoodreadsFiles:
    paths: dict[str, str]
    n_raw_ratings: int


def goodreads(root: Path, seed: int, size: GoodreadsSize) -> GoodreadsFiles:
    """The five reference inputs: books_small/ratings/to_read as CSV,
    books/genres as JSON lines, shaped like ``tests/fixtures_goodreads.py``.

    Ratings carry a low-rank signal (user and book factors plus noise) so
    ALS has something to fit and its RMSE lands in a fixed band.
    ``average_rating`` values are multiples of 1/64, so every sum the SQL
    suite takes is exact in double and both engines agree bit for bit.
    """
    rng = np.random.default_rng(seed)
    root.mkdir(parents=True, exist_ok=True)
    vocab = _words(rng, 600)
    authors = ["Stephen King"] + [
        f"{vocab[i].title()} {vocab[-1 - i].title()}" for i in range(1, 120)
    ]
    nb = size.books

    # books_small.csv
    work_ids: list[int] = []
    for i in range(1, nb + 1):
        dup = i > 10 and rng.random() < 0.10
        work_ids.append(int(rng.choice(work_ids)) if dup else 50_000 + i)
    langs = [
        ENGLISH[int(rng.integers(0, 4))]
        if rng.random() < 0.85
        else OTHER_LANGS[int(rng.integers(0, 3))]
        for _ in range(nb)
    ]
    pub_years = rng.integers(1850, 2018, nb)
    paths = {}
    p = root / "books_small.csv"
    with p.open("w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow([
            "book_id", "goodreads_book_id", "best_book_id", "work_id",
            "books_count", "isbn", "isbn13", "authors",
            "original_publication_year", "original_title", "title",
            "language_code", "average_rating", "ratings_count",
            "work_ratings_count", "work_text_reviews_count",
            "ratings_1", "ratings_2", "ratings_3", "ratings_4", "ratings_5",
            "image_url", "small_image_url",
        ])
        for i in range(1, nb + 1):
            a = int(rng.integers(0, len(authors)))
            author = authors[a] if rng.random() < 0.8 else f"{authors[a]}, {authors[(a + 7) % len(authors)]}"
            year = int(pub_years[i - 1]) if rng.random() > 0.02 else ""
            title = f"{vocab[int(rng.integers(0, 600))].title()} {vocab[int(rng.integers(0, 600))]} {i}"
            w.writerow([
                i, i, i, work_ids[i - 1],
                int(rng.integers(1, 300)), f"isbn{i:07d}", 9_780_000_000_000 + i, author,
                year, f"orig {i}", title,
                langs[i - 1], int(rng.integers(64, 321)) / 64, int(rng.integers(100, 10_000)),
                int(rng.integers(1000, 5_000_000)), int(rng.integers(10, 1000)),
                *rng.integers(0, 1000, 5).tolist(),
                f"http://img/{i}", f"http://img/s{i}",
            ])
    paths["books_small"] = str(p)

    # books.json — full metadata dump; publication_year drives the dedup
    p = root / "books.json"
    with p.open("w") as fh:
        for i in range(1, nb + 1):
            n_desc = int(rng.integers(0, 40)) if rng.random() > 0.05 else 0
            rec = {
                "asin": "", "authors": [{"author_id": str(i)}],
                "average_rating": "4.0", "book_id": str(i), "country_code": "US",
                "description": " ".join(vocab[j] for j in rng.integers(0, 600, n_desc)),
                "format": "Paperback", "is_ebook": "false", "isbn": "",
                "language_code": langs[i - 1], "link": "",
                "num_pages": str(int(rng.integers(50, 1500))) if rng.random() > 0.1 else "",
                "popular_shelves": [
                    {"count": str(int(rng.integers(1, 2000))), "name": str(rng.choice(["to-read", "fantasy", "owned"]))}
                    for _ in range(int(rng.integers(0, 4)))
                ],
                "publication_year": str(int(rng.integers(1850, 2018))) if rng.random() > 0.1 else "",
                "publisher": "pub",
                "similar_books": [str(int(x)) for x in rng.integers(1, nb + 1, int(rng.integers(0, 5)))],
                "title": f"t{i}", "work_id": str(work_ids[i - 1]),
            }
            fh.write(json.dumps(rec) + "\n")
    paths["books"] = str(p)

    # genres.json
    p = root / "genres.json"
    with p.open("w") as fh:
        for i in range(1, nb + 1):
            picked = set(rng.choice(len(GENRES), int(rng.integers(0, 4)), replace=False).tolist())
            g = {name: (int(rng.integers(1, 2000)) if k in picked else None) for k, name in enumerate(GENRES)}
            fh.write(json.dumps({"book_id": str(i), "genres": g}) + "\n")
    paths["genres"] = str(p)

    # ratings.csv — skewed popularity, low-rank signal, unique (user, book)
    rank = 4
    uf = rng.normal(0, 0.6, (size.users + 1, rank))
    bf = rng.normal(0, 0.6, (nb + 1, rank))
    ub = rng.normal(0, 0.4, size.users + 1)
    bb = rng.normal(0, 0.4, nb + 1)
    draw = int(size.ratings * 1.5)
    users = _skewed(rng, size.users, 0.8, draw)
    books = _skewed(rng, nb, 0.9, draw)
    pair = rng.permutation(np.unique(users * (nb + 1) + books))[: size.ratings]
    u, b = pair // (nb + 1), pair % (nb + 1)
    score = 3.2 + ub[u] + bb[b] + (uf[u] * bf[b]).sum(1) + rng.normal(0, 0.5, len(u))
    rating = np.clip(np.rint(score), 1, 5).astype(np.int64)
    p = root / "ratings.csv"
    lines = ["user_id,book_id,rating"]
    lines += [f"{x},{y},{z}" for x, y, z in zip(u.tolist(), b.tolist(), rating.tolist())]
    p.write_text("\n".join(lines) + "\n")
    paths["ratings"] = str(p)

    # to_read.csv
    tu = rng.integers(1, size.users + 1, int(size.to_read * 1.2))
    tb = rng.integers(1, nb + 1, len(tu))
    tpair = np.sort(rng.permutation(np.unique(tu * (nb + 1) + tb))[: size.to_read])
    p = root / "to_read.csv"
    lines = ["user_id,book_id"] + [f"{x // (nb + 1)},{x % (nb + 1)}" for x in tpair.tolist()]
    p.write_text("\n".join(lines) + "\n")
    paths["to_read"] = str(p)
    return GoodreadsFiles(paths=paths, n_raw_ratings=len(u))


# --- embeddings ----------------------------------------------------------------
def embeddings(root: Path, seed: int, n: int, dim: int) -> tuple[str, np.ndarray]:
    """Clustered float32 vectors as parquet ``(vec_id, embedding array<float>)``.
    Returns the path and the matrix (row i is ``vec_id == i``)."""
    rng = np.random.default_rng(seed + 1)
    root.mkdir(parents=True, exist_ok=True)
    centers = rng.normal(0, 1, (16, dim))
    vecs = (centers[rng.integers(0, 16, n)] + rng.normal(0, 0.6, (n, dim))).astype(np.float32)
    p = root / "embeddings.parquet"
    table = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    pq.write_table(table, p)
    return str(p), vecs


# --- corpus with planted duplicates -------------------------------------------
@dataclass
class Corpus:
    path: str
    changes_path: str
    n_docs: int
    texts: dict[int, str]
    #: id -> id of the document it was copied from (planted copies only)
    exact_of: dict[int, int] = field(default_factory=dict)
    near_of: dict[int, int] = field(default_factory=dict)
    #: the CDC batch: op -> ids, plus the new text of every upserted id
    cdc_ops: dict[str, list[int]] = field(default_factory=dict)
    cdc_text: dict[int, str] = field(default_factory=dict)
    source_of: dict[int, str] = field(default_factory=dict)


def corpus(root: Path, seed: int, n_docs: int, n_changes: int) -> Corpus:
    """``n_docs`` documents: ~87% unique originals, 5% exact copies (case
    and surrounding whitespace changed, so only normalisation makes them
    equal), 5% near copies (one word replaced: 3-shingle Jaccard ≈ 0.90
    to 0.96) and 3% that fail the quality gate (too short or repetitive).
    Every copy gets a higher id than its original, so the original is the
    survivor the pipeline must keep. Also writes one CDC batch over the
    originals: updates, deletes and inserts of new ids.
    """
    rng = np.random.default_rng(seed + 2)
    root.mkdir(parents=True, exist_ok=True)
    vocab = _words(rng, 4000)
    n_exact = n_near = n_docs // 20
    n_bad = (n_docs * 3) // 100
    n_orig = n_docs - n_exact - n_near - n_bad
    ids = rng.permutation(np.arange(1, n_docs + 1)).tolist()

    def doc(lo: int = 60, hi: int = 140) -> list[str]:
        return [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(lo, hi)))]

    orig_words = [doc() for _ in range(n_orig)]
    # families: original + its copies; the original takes the family's min id
    kinds = ["exact"] * n_exact + ["near"] * n_near
    parents = rng.integers(0, n_orig, len(kinds)).tolist()
    fam: dict[int, list[int]] = {i: [] for i in range(n_orig)}
    for c, par in enumerate(parents):
        fam[par].append(c)
    pos = 0
    orig_id: list[int] = [0] * n_orig
    copy_id: list[int] = [0] * len(kinds)
    for par in range(n_orig):
        members = sorted(ids[pos:pos + 1 + len(fam[par])])
        pos += 1 + len(fam[par])
        orig_id[par] = members[0]
        for c, i in zip(fam[par], members[1:]):
            copy_id[c] = i
    bad_ids = ids[pos:]

    texts: dict[int, str] = {}
    out = Corpus(path="", changes_path="", n_docs=n_docs, texts=texts)
    for par, words in enumerate(orig_words):
        texts[orig_id[par]] = " ".join(words)
    for c, (kind, par) in enumerate(zip(kinds, parents)):
        words = list(orig_words[par])
        if kind == "exact":
            text = " ".join(words)
            texts[copy_id[c]] = ("  " + text.upper() + " ") if c % 2 else (text.title() + "  ")
            out.exact_of[copy_id[c]] = orig_id[par]
        else:
            words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))] + "x"
            texts[copy_id[c]] = " ".join(words)
            out.near_of[copy_id[c]] = orig_id[par]
    for k, i in enumerate(bad_ids):
        texts[i] = " ".join(doc(3, 15)) if k % 2 else " ".join([vocab[k % len(vocab)]] * 40)

    doc_ids = sorted(texts)
    out.source_of = {i: SOURCES[int(x)] for i, x in zip(doc_ids, rng.integers(0, len(SOURCES), len(doc_ids)))}
    p = root / "corpus.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array(doc_ids, type=pa.int64()),
            "source": pa.array([out.source_of[i] for i in doc_ids]),
            "text": pa.array([texts[i] for i in doc_ids]),
        }),
        p,
    )
    out.path = str(p)

    # CDC batch: 45% updates, 10% deletes (distinct originals), 45% inserts
    n_upd, n_del = (n_changes * 45) // 100, n_changes // 10
    n_ins = n_changes - n_upd - n_del
    touched = rng.choice(orig_id, n_upd + n_del, replace=False).tolist()
    upd, dele = touched[:n_upd], touched[n_upd:]
    ins = list(range(n_docs + 1, n_docs + 1 + n_ins))
    out.cdc_ops = {"U": upd, "D": dele, "I": ins}
    rows = []
    for i in upd + ins:
        out.cdc_text[i] = " ".join(doc())
        src = out.source_of.get(i, SOURCES[i % len(SOURCES)])
        rows.append((i, src, out.cdc_text[i], "U" if i in out.source_of else "I"))
    rows += [(i, out.source_of[i], None, "D") for i in dele]
    p = root / "changes.parquet"
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
            "source": pa.array([r[1] for r in rows]),
            "text": pa.array([r[2] for r in rows], type=pa.string()),
            "op": pa.array([r[3] for r in rows]),
        }),
        p,
    )
    out.changes_path = str(p)
    return out


# --- request stream -------------------------------------------------------------
#: (kind, requests per block of :data:`MIX_BLOCK`) of the serving mix:
#: 40% / 20% / 15% / 15% / 10%
REQUEST_MIX = (
    ("get_book_title", 8),
    ("get_to_read_titles", 4),
    ("recommend_by_book", 3),
    ("recommend_for_user", 3),
    ("knn", 2),
)
MIX_BLOCK = sum(n for _, n in REQUEST_MIX)


def zipf_stream(
    seed: int, n_blocks: int, universes: dict[str, list[int]], s: float = 1.1
) -> list[tuple[str, int]]:
    """``n_blocks`` blocks of requests ``(kind, id)``. Each block holds
    exactly the counts of :data:`REQUEST_MIX` in a seeded order, so any
    whole number of blocks has the same mix whatever the seed. Within a
    kind, ids follow a Zipf(``s``) law over a seed-shuffled ranking of that
    kind's id universe, so a few hot keys dominate."""
    rng = np.random.default_rng(seed + 3)
    block = [k for k, (_, c) in enumerate(REQUEST_MIX) for _ in range(c)]
    picks = [k for _ in range(n_blocks) for k in rng.permutation(block).tolist()]
    ids = {}
    for k, (kind, c) in enumerate(REQUEST_MIX):
        ranked = rng.permutation(np.asarray(universes[kind]))
        w = 1.0 / np.arange(1, len(ranked) + 1) ** s
        ids[k] = iter(ranked[rng.choice(len(ranked), n_blocks * c, p=w / w.sum())].tolist())
    return [(REQUEST_MIX[k][0], next(ids[k])) for k in picks]
