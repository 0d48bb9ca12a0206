"""The workloads, each driven only through the package's public API.

A workload has four phases the runner calls in order:

* ``generate`` — seeded inputs and expected answers (no Spark; untimed);
* ``prepare`` — the untimed preparation a user pays once per session
  (tables, models, indexes for ``serve``); counted in ``setup_s``;
* ``warm`` — warm-up units, also counted in ``setup_s``;
* ``unit`` — one timed unit: a full pass for ``batch``, one request for
  ``serve``. It returns ``(name, ok)`` correctness checks.

``batch`` runs two passes: ``Notebook``, shuffle- and compute-bound work
over the reader, ETL, SQL, ML and graph layers, and ``Ingest``, which
drives the sources layer in the write direction through dedup and CDC.
``serve`` is point requests whose cost is Spark job planning and launch.
A gain in one layer shows on its workload, and a cost it pushes onto the
other shows there; the traced run splits ``batch`` by layer.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import gen
import oracle
from goodreads_pyspark_spark.dedup.exact import exact_dedup
from goodreads_pyspark_spark.dedup.minhash import lsh_candidate_pairs_from_shingles
from goodreads_pyspark_spark.dedup.ngram import jaccard_pairs_from_shingles
from goodreads_pyspark_spark.dedup.shingles import shingle_rows
from goodreads_pyspark_spark.graph.frames import build_ratings_graph
from goodreads_pyspark_spark.graph.pregel import label_propagation, pagerank
from goodreads_pyspark_spark.ml.features import (
    description_vector_pipeline,
    kmeans_cluster,
    lsh_nearest_books,
)
from goodreads_pyspark_spark.ml.recommend import (
    explode_recommendations,
    fit_als,
    rmse,
    train_test_split,
)
from goodreads_pyspark_spark.operators.cdc import apply_cdc
from goodreads_pyspark_spark.operators.relational import anti_join
from goodreads_pyspark_spark.pipelines.corpus import clean_corpus, quality_gate
from goodreads_pyspark_spark.pipelines.goodreads import (
    GoodreadsTables,
    build_books,
    build_ratings_small,
    build_users,
    get_book_title,
    get_to_read_titles,
    recommend_by_book,
    run_sql_suite,
    titles_for_ids,
)
from goodreads_pyspark_spark.similarity.ann import brute_force_knn
from goodreads_pyspark_spark.sources.readers import read_csv, read_json, read_parquet
from goodreads_pyspark_spark.sources.sinks import write_parquet_table

#: ALS settings shared by ``notebook`` and ``serve``.
ALS_PARAMS = dict(rank=8, maxIter=3, regParam=0.1)
#: Iteration counts, cut from the library defaults so one notebook pass
#: stays a few seconds: Spark's per-job overhead, not data volume, sets
#: the cost of each extra round at this size.
KMEANS_ITER, PAGERANK_ITER, LPA_ITER = 3, 2, 2
#: ``ml.als_rmse`` must land in this band on the generated ratings
#: (noise sd 0.5 plus rounding to whole stars).
RMSE_BAND = (0.5, 1.3)
KMEANS_K = 20


def _warehouse_usage(spark) -> tuple[int, int]:
    """(bytes, data files) in the session's warehouse, ignoring Spark's
    marker files."""
    path = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


#: Explicit schemas (DDL) of the generated files — the readers' hot-path
#: mode: inference is an extra pass per file, and job-bound at this size.
SCHEMAS = {
    "books_small": (
        "book_id INT, goodreads_book_id INT, best_book_id INT, work_id INT, "
        "books_count INT, isbn STRING, isbn13 BIGINT, authors STRING, "
        "original_publication_year INT, original_title STRING, title STRING, "
        "language_code STRING, average_rating DOUBLE, ratings_count INT, "
        "work_ratings_count INT, work_text_reviews_count INT, ratings_1 INT, "
        "ratings_2 INT, ratings_3 INT, ratings_4 INT, ratings_5 INT, "
        "image_url STRING, small_image_url STRING"
    ),
    "books": (
        "book_id STRING, publication_year STRING, description STRING, "
        "popular_shelves ARRAY<STRUCT<count: STRING, name: STRING>>, "
        "num_pages STRING, similar_books ARRAY<STRING>"
    ),
    "genres": "book_id STRING, genres STRUCT<"
    + ", ".join(f"`{g}`: BIGINT" for g in gen.GENRES)
    + ">",
    "ratings": "user_id INT, book_id INT, rating INT",
    "to_read": "user_id INT, book_id INT",
}


def _read_goodreads(spark, paths):
    """The five source scans (goodreads.py:33-37), with explicit schemas."""
    schema = {k: StructType.fromDDL(v) for k, v in SCHEMAS.items()}
    return (
        read_csv(spark, paths["books_small"], schema["books_small"]),
        read_json(spark, paths["books"], schema["books"]),
        read_json(spark, paths["genres"], schema["genres"]),
        read_csv(spark, paths["ratings"], schema["ratings"]),
        read_csv(spark, paths["to_read"], schema["to_read"]),
    )


def _build_tables(bs, bf, genres, ratings, to_read) -> GoodreadsTables:
    books = build_books(bs, bf, genres).cache()
    return GoodreadsTables(
        books=books,
        users=build_users(to_read).cache(),
        ratings_small=build_ratings_small(ratings, books).cache(),
    )


def _parallel(*fns):
    """Run each of ``fns`` on its own thread and return their results in
    order. Only set-up uses it: its cost is mostly one-off class loading
    and code generation, which overlaps well across threads."""
    with ThreadPoolExecutor(len(fns)) as pool:
        return [f.result() for f in [pool.submit(fn) for fn in fns]]


def _drop_tables(spark, *names) -> None:
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    spark.catalog.clearCache()


def _content_clusters(books, seed: int = 1):
    """TF-IDF + PCA description vectors, then KMeans (goodreads.py:315-349)."""
    vec = description_vector_pipeline().fit(books).transform(books)
    return kmeans_cluster(vec, k=KMEANS_K, seed=seed, max_iter=KMEANS_ITER)


class Workload:
    name = ""
    #: items one unit processes (ratings, documents or 1 request)
    items_per_unit = 1
    #: the timed loop stops only after a multiple of this many units
    unit_block = 1

    def __init__(self, work: Path, seed: int):
        self.work = work
        self.seed = seed

    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self, spark, tr) -> None:
        pass

    def warm(self, spark, tr) -> list[tuple[str, bool]]:
        return []

    def unit(self, spark, tr, i: int) -> list[tuple[str, bool]]:
        raise NotImplementedError

    def metrics_for(self, tr, root_idx: int) -> dict[str, float]:
        """Per-layer values of one traced unit (span ``root_idx``)."""
        return {}


# --- notebook ---------------------------------------------------------------------
class Notebook(Workload):
    """One pass of the paper's pipeline: read → ETL → parquet tables → SQL
    suite → ALS → TF-IDF/KMeans/LSH → PageRank/LPA."""

    SIZE = gen.GoodreadsSize(books=1500, users=3000, ratings=30_000, to_read=6000)

    def generate(self) -> None:
        files = gen.goodreads(self.work / "in", self.seed, self.SIZE)
        self.paths = files.paths
        self.items_per_unit = files.n_raw_ratings
        self.expect = oracle.GoodreadsOracle(self.paths)
        self.n_checks = 3 + len(oracle.SQL_ORACLES) + 5

    TABLES = ("nb_books", "nb_users", "nb_ratings")

    def unit(self, spark, tr, i):
        ex = self.expect
        with tr.span("sources.read"):
            raw = tr.materialize(*_read_goodreads(spark, self.paths))
        with tr.span("pipelines.build_tables"):
            t = _build_tables(*raw)
            counts = (t.books.count(), t.users.count(), t.ratings_small.count())
        checks = [
            ("books_rows", counts[0] == ex.n_books),
            ("users_rows", counts[1] == ex.n_users),
            ("ratings_rows", counts[2] == ex.n_ratings),
        ]
        with tr.span("sources.write"):
            for name, df in zip(self.TABLES, (t.books, t.users, t.ratings_small)):
                write_parquet_table(df, name)
        if tr.enabled:
            self.written = _warehouse_usage(spark)
        with tr.span("pipelines.sql_suite"):
            got = {k: [tuple(r) for r in df.collect()] for k, df in run_sql_suite(spark, t).items()}
        checks += [(f"sql.{k}", oracle.same_rows(got[k], want)) for k, want in ex.sql.items()]

        with tr.span("ml.als_fit"):
            train, test = train_test_split(t.ratings_small, seed=42)
            model = fit_als(train, seed=42, **ALS_PARAMS)
            err = rmse(model, test)
        self.rmse = err
        checks.append(("als_rmse_band", RMSE_BAND[0] <= err <= RMSE_BAND[1]))

        with tr.span("ml.content_fit"):
            clustered = _content_clusters(t.books).cache()
            n_clusters = clustered.select(F.countDistinct("prediction")).first()[0]
        checks.append(("kmeans_clusters", 1 <= n_clusters <= KMEANS_K))
        with tr.span("ml.lsh_query"):
            key = clustered.orderBy("book_id").select("features").first()["features"]
            nn = lsh_nearest_books(clustered, key, num_neighbors=5).select("distCol").collect()
        dists = [r[0] for r in nn]
        checks.append(("lsh_self_nearest", 1 <= len(dists) <= 5 and dists[0] == 0.0 and dists == sorted(dists)))

        n_vertices = ex.n_users + ex.n_books
        with tr.span("graph.pagerank"):
            g = build_ratings_graph(t)
            pr = pagerank(g, tol=0, max_iter=PAGERANK_ITER).agg(
                F.count("*"), F.count("pagerank"), F.min("pagerank")
            ).first()
        checks.append(("pagerank_invariants", pr[0] == n_vertices and pr[1] == n_vertices and pr[2] >= 0.15 - 1e-9))
        with tr.span("graph.lpa"):
            lp = label_propagation(g, max_iter=LPA_ITER).agg(
                F.count("*"), F.count("label"), F.countDistinct("label")
            ).first()
        checks.append(("lpa_invariants", lp[0] == n_vertices and lp[1] == n_vertices and 1 <= lp[2] <= n_vertices))

        _drop_tables(spark, *self.TABLES)
        return checks

    def metrics_for(self, tr, root_idx):
        out = {"ml.als_rmse": self.rmse}
        out["sources.bytes_written"], out["sources.files_written"] = self.written
        return out


# --- serve ------------------------------------------------------------------------
class Serve(Workload):
    """Closed loop, one client: point requests with Zipf-skewed ids against
    tables, an ALS model, KMeans clusters and an embedding set built once."""

    name = "serve"
    SIZE = gen.GoodreadsSize(books=1000, users=2000, ratings=15_000, to_read=4000)
    N_VECTORS, DIM, K = 1000, 16, 10
    #: timed requests end on a whole block, so every run has the same mix
    unit_block = gen.MIX_BLOCK
    #: warm-up blocks: request latency keeps falling for the first hundred
    #: or so requests as the JVM compiles the hot paths
    WARM_BLOCKS = 1

    def generate(self) -> None:
        files = gen.goodreads(self.work / "in", self.seed, self.SIZE)
        self.paths = files.paths
        self.emb_path, self.vecs = gen.embeddings(self.work / "in", self.seed, self.N_VECTORS, self.DIM)
        self.expect = ex = oracle.GoodreadsOracle(self.paths)
        curated = sorted(ex.titles)
        universes = {
            "get_book_title": [b + gen.BOOK_ID_OFFSET for b in range(1, self.SIZE.books + 1)],
            "get_to_read_titles": sorted(ex.shelves),
            "recommend_by_book": curated,
            "recommend_for_user": ex.rating_users,
            "knn": list(range(self.N_VECTORS)),
        }
        self.stream = gen.zipf_stream(self.seed, 1000, universes)
        self.warm_stream = gen.zipf_stream(self.seed + 1000, self.WARM_BLOCKS, universes)
        self.n_checks = 1

    def prepare(self, spark, tr):
        with tr.span("sources.read"):
            raw = tr.materialize(*_read_goodreads(spark, self.paths))
            emb = read_parquet(spark, self.emb_path).cache()
        with tr.span("pipelines.build_tables"):
            self.t = t = _build_tables(*raw)
            t.books.count(), t.users.count(), t.ratings_small.count(), emb.count()
        self.emb = emb

        def content():
            with tr.span("ml.content_fit"):
                self.clustered = _content_clusters(t.books).select("book_id", "title", "prediction").cache()
                self.clustered.count()

        def als():
            with tr.span("ml.als_fit"):
                # few blocks: a serving model is scored one user at a time,
                # and each block is a task every request pays for
                self.model = fit_als(t.ratings_small, seed=42, num_blocks=2, **ALS_PARAMS)

        # the two models are independent; a service would build them at once
        _parallel(content, als)

    def snapshot_model(self) -> None:
        """Pull what the checks need out of the prepared state (untimed)."""
        self.clusters = {}
        self.by_cluster: dict[int, list[tuple[str, int]]] = {}
        for b, title, c in self.clustered.collect():
            self.clusters[b] = c
            self.by_cluster.setdefault(c, []).append((title, b))
        for v in self.by_cluster.values():
            v.sort()
        uf = {r[0]: np.asarray(r[1], dtype=np.float64) for r in self.model.userFactors.collect()}
        items = self.model.itemFactors.collect()
        self.item_ids = [r[0] for r in items]
        self.item_mat = np.asarray([r[1] for r in items], dtype=np.float64)
        self.user_factors = uf

    def warm(self, spark, tr):
        return [c for req in self.warm_stream for c in self._request(spark, tr, req, -1)]

    def unit(self, spark, tr, i):
        return self._request(spark, tr, self.stream[i % len(self.stream)], i)

    def _request(self, spark, tr, req, i):
        kind, key = req
        ex = self.expect
        t = self.t
        if kind == "get_book_title":
            with tr.span("pipelines.get_book_title", i):
                got = get_book_title(t.books, key)
            ok = got == ex.titles.get(key)
        elif kind == "get_to_read_titles":
            with tr.span("pipelines.get_to_read_titles", i):
                rows = get_to_read_titles(t.books, t.users, key).select("book_id", "title").collect()
            want = sorted((b, ex.titles.get(b)) for b in ex.shelves.get(key, []))
            ok = sorted((r[0], r[1]) for r in rows) == want
        elif kind == "recommend_by_book":
            with tr.span("pipelines.recommend_by_book", i):
                rows = recommend_by_book(self.clustered, key, n=self.K).collect()
            members = self.by_cluster.get(self.clusters.get(key), [])
            want = [(b, title) for title, b in members if b != key][: self.K]
            ok = [(r[0], r[1]) for r in rows] == want
        elif kind == "recommend_for_user":
            with tr.span("ml.recommend_for_user", i):
                users = spark.createDataFrame([(key,)], "user_id int")
                recs = explode_recommendations(self.model.recommendForUserSubset(users, self.K))
                rows = titles_for_ids(t.books, recs).select("book_id", "score", "title").collect()
            u = self.user_factors.get(key)
            ref = {} if u is None else dict(zip(self.item_ids, (self.item_mat @ u).tolist()))
            ok = oracle.topk_ok([(r[0], r[1]) for r in rows], ref, self.K, 1e-4) and all(
                r[2] == ex.titles.get(r[0]) for r in rows
            )
        else:
            with tr.span("similarity.knn", i):
                rows = brute_force_knn(self.emb, key, k=self.K).collect()
            ok = oracle.topk_ok([(r[0], r[1]) for r in rows], oracle.knn_scores(self.vecs, key), self.K, 2e-6)
        return [(kind, ok)]


# --- ingest -----------------------------------------------------------------------
class Ingest(Workload):
    """Clean a corpus with planted duplicates, write the survivors as a
    partitioned parquet table, apply one CDC batch and write the next
    snapshot."""

    N_DOCS, N_CHANGES = 2000, 200

    def generate(self) -> None:
        self.corpus = gen.corpus(self.work / "in", self.seed, self.N_DOCS, self.N_CHANGES)
        self.expect = oracle.CorpusOracle(self.corpus)
        self.items_per_unit = self.N_DOCS
        self.n_checks = 2

    def _clean_traced(self, docs, tr):
        """``clean_corpus`` stage by stage, one span per dedup layer. Same
        composition as ``pipelines.corpus.clean_corpus`` at its defaults;
        the survivor check guards the two against drifting apart."""
        with tr.span("pipelines.quality_gate"):
            gated = tr.materialize(quality_gate(docs))
        with tr.span("dedup.exact"):
            exact = tr.materialize(exact_dedup(gated))
        with tr.span("dedup.lsh"):
            sh = tr.materialize(shingle_rows(exact, out_id="id"))
            cands = tr.materialize(
                lsh_candidate_pairs_from_shingles(sh.withColumnRenamed("id", "doc_id"))
            )
            self.n_candidates = cands.count()
        with tr.span("dedup.verify"):
            ids = cands.select(F.col("doc_a").alias("id")).unionByName(
                cands.select(F.col("doc_b").alias("id"))
            ).distinct()
            verified = tr.materialize(
                jaccard_pairs_from_shingles(
                    sh.join(ids, "id", "left_semi"), threshold=0.8, already_cached=True
                ).join(cands, ["doc_a", "doc_b"], "left_semi")
            )
            self.n_verified = verified.count()
            drop = verified.select(F.col("doc_b").alias("doc_id")).distinct()
            return tr.materialize(anti_join(exact, drop, "doc_id"))

    def unit(self, spark, tr, i):
        docs = read_parquet(spark, self.corpus.path)
        if tr.enabled:
            cleaned = self._clean_traced(docs, tr)
        else:
            cleaned, _ = clean_corpus(docs)
        with tr.span("sources.write"):
            write_parquet_table(cleaned, "corpus_snap", partition_by=["source"])
        snap = spark.table("corpus_snap")
        survivors = [r[0] for r in snap.select("doc_id").collect()]
        checks = [("clean_survivors", self.expect.check_survivors(survivors))]
        with tr.span("operators.cdc_merge"):
            nxt = tr.materialize(
                apply_cdc(snap, read_parquet(spark, self.corpus.changes_path), "doc_id")
            )
        with tr.span("sources.write"):
            write_parquet_table(nxt, "corpus_next", partition_by=["source"])
        if tr.enabled:
            self.written = _warehouse_usage(spark)
        got = spark.table("corpus_next").agg(
            F.count("*"), F.sum("doc_id"), F.sum(F.crc32(F.col("text").cast("binary")))
        ).first()
        checks.append(("cdc_snapshot", tuple(got) == self.expect.next_snapshot(survivors)))
        _drop_tables(spark, "corpus_snap", "corpus_next")
        return checks

    def metrics_for(self, tr, root_idx):
        out = {
            "dedup.candidates": self.n_candidates,
            "dedup.verified": self.n_verified,
            "dedup.verify_yield": self.n_verified / self.n_candidates if self.n_candidates else 0.0,
        }
        out["sources.bytes_written"], out["sources.files_written"] = self.written
        return out


# --- batch ------------------------------------------------------------------------
class Batch(Workload):
    """One notebook pass, then one ingest pass, in a fresh session. There
    is no warm-up: a notebook is run once per session, so its first pass
    is the one its user waits for."""

    name = "batch"

    def __init__(self, work: Path, seed: int):
        super().__init__(work, seed)
        self.parts = (Notebook(work / "notebook", seed), Ingest(work / "ingest", seed))

    def generate(self) -> None:
        for p in self.parts:
            p.generate()
        self.items_per_unit = sum(p.items_per_unit for p in self.parts)
        self.n_checks = sum(p.n_checks for p in self.parts)

    def unit(self, spark, tr, i):
        return [c for p in self.parts for c in p.unit(spark, tr, i)]

    def metrics_for(self, tr, root_idx):
        nb, ing = (p.metrics_for(tr, root_idx) for p in self.parts)
        return {**nb, **ing, **{k: nb[k] + ing[k] for k in ("sources.bytes_written", "sources.files_written")}}


WORKLOADS = {w.name: w for w in (Batch, Serve)}


def clean_dir(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
