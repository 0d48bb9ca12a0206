"""Similarity search over embedding columns (``array<float>``).

Three tiers, in increasing scale-readiness:

1. ``brute_force_knn`` — exact cosine top-k against one query vector.
   Per-row formulation: the 1-row query side is broadcast, each row's
   dot product and norm are decimal-exact folds over its array
   (``_dot_decimal``), and the final top-k is a
   ``TakeOrderedAndProject``. Exact answer; O(N·d) work — the
   correctness baseline every ANN variant is judged against.

2. ``cosine_neardup_pairs`` — exact all-pairs cosine ≥ threshold. O(N²·d);
   fine for a partition-sized block, not for a corpus. At 100 TB this is
   what you run WITHIN an LSH bucket, never globally.

3. ``sign_lsh_buckets`` — random-hyperplane (sign) LSH bucketing
   (Charikar SimHash family for cosine — public technique). Hyperplane
   signs are derived from md5(plane, dim): deterministic, no RNG state,
   reproducible across engines and runs. Candidates = same bucket;
   probing multiple band tables raises recall. The bucket id computation
   is one explode + grouped decimal sums — shuffle carries (id, bucket)
   only. For production dims (≥768), precompute the ±1 plane matrix and
   broadcast it into a Pandas-UDF matmul instead of per-element md5 —
   same semantics, BLAS throughput.

Every exact cosine (``all_cosines``, ``cosine_range_search``,
``batch_knn``, ``cosine_neardup_pairs``, ``bucketed_neardup_pairs``) is
one per-row kernel, ``_cosine``; the long form (``_long_form``) stays
where rows aggregate per plane or centroid (``sign_lsh_buckets``, lloyd).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.minhash import cap_buckets
from goodreads_pyspark_spark.functions.vectors import explode_vector
from goodreads_pyspark_spark.operators.partitioning import fan_out

_ACC = "decimal(38,12)"
#: Per-row dot-product accumulator (see :func:`_dot_decimal`).
_SUM = "decimal(37,12)"


def _long_form(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return explode_vector(fan_out(df), id_col, vec_col)


def all_cosines(
    df: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """(id, cosine) of EVERY other vector against ``query_id``'s vector —
    the full scoring pass behind :func:`brute_force_knn` and the shared
    substrate for recall audits that cut the same ranking several ways
    (e19's nprobe sweep scores ONCE and derives every curve point).
    The query row is broadcast and every other row scores against it
    with :func:`_cosine`; an unknown ``query_id`` yields no rows.
    Cosine is rounded to ``round_to`` digits — the rounding defines a
    deterministic total order for any later cut, and 6dp absorbs the
    ~1e-14 Spark-vs-DuckDB double->decimal divergence (see e05's
    docstring) with negligible flip risk."""
    rows = _vectors(df, id_col, vec_col)
    q = rows.filter(F.col(id_col) == query_id).select(
        F.col("vec").alias("qv"), F.col("n2").alias("q2")
    )
    cos = _cosine("vec", "n2", "qv", "q2", round_to)
    return (
        rows.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), cos.alias("cosine"))
    )


def brute_force_knn(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors of ``query_id``'s vector (see
    :func:`all_cosines` for the scoring/rounding contract)."""
    return (
        all_cosines(df, query_id, id_col, vec_col, round_to)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def _q(name: str) -> str:
    """``name`` as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _dot_decimal(a: str, b: str) -> str:
    """SQL for the decimal-exact dot product of two array<double> columns,
    as DOUBLE.

    ``zip_with`` + ``aggregate`` fold per row — no explode, no shuffle.
    Each product rounds to 12 places, as the long form's
    ``cast(v * q AS decimal(38,12))`` does, and decimal sums are exact, so
    any summation order gives the same answer. A null product is skipped,
    as SQL ``sum`` skips it. The accumulator is decimal(37,12): Spark types
    a lambda's ``decimal(38,12) + decimal(38,12)`` as decimal(38,11).
    The kernels are SQL text, parsed once, rather than Python lambdas,
    which take a JVM round trip per expression node to build.
    """
    return (
        f"CAST(aggregate(zip_with({_q(a)}, {_q(b)}, (x, y) -> CAST(x * y AS {_SUM})), "
        f"CAST(NULL AS {_SUM}), (x, y) -> CAST(coalesce(x + y, x, y) AS {_SUM})) "
        "AS DOUBLE)"
    )


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, vec, n2) — each row's vector as array<double> and its squared
    norm. Rows with a null or empty vector drop out, as they do from the
    long form (``posexplode`` yields no row for them)."""
    vec = F.expr(f"transform({_q(vec_col)}, x -> CAST(x AS DOUBLE))")
    return (
        df.select(F.col(id_col), vec.alias("vec"))
        .filter(F.size("vec") > 0)
        .withColumn("n2", F.expr(_dot_decimal("vec", "vec")))
    )


def _cosine(a: str, na: str, b: str, nb: str, round_to: int) -> Column:
    """Cosine of vector columns ``a`` and ``b`` (squared norms ``na`` and
    ``nb`` from :func:`_vectors`), rounded to ``round_to`` digits. Vectors
    of different lengths raise: there is no one cosine for them."""
    return F.expr(
        f"round(CASE WHEN size({_q(a)}) = size({_q(b)}) "
        f"THEN {_dot_decimal(a, b)} / (sqrt({_q(na)}) * sqrt({_q(nb)})) "
        "ELSE raise_error('cosine of vectors of different lengths') END, "
        f"{int(round_to)})"
    )


def _dot_double_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product as a flat ``dim``-term expression.

    Higher-order functions (zip_with/aggregate) materialize an intermediate
    array per invocation and stay outside whole-stage codegen — on an
    O(N²) pair stream that allocation dominates. An unrolled
    element_at-product chain is pure codegen: no allocation, just fused
    multiply-adds. Only viable when ``dim`` is known and modest (≤ a few
    hundred terms); the screen path qualifies.
    """
    terms = [
        F.element_at(a, i + 1) * F.element_at(b, i + 1) for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


#: Hard cap on the broadcast comparison side of the numpy screen. 200k
#: 128-dim double vectors ≈ 200 MB — the edge of sane broadcast. The cap
#: is enforced, not advisory: beyond it the caller MUST shard the corpus
#: (``sign_lsh_buckets`` → per-bucket screen) instead of scaling this up.
MAX_SCREEN_ROWS = 200_000


def _screen_pairs_numpy(
    df: DataFrame,
    threshold: float,
    margin: float,
    id_col: str,
    vec_col: str,
    max_rows: int = MAX_SCREEN_ROWS,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs with cosine ≥ threshold − margin.

    Broadcast-matrix screen: the comparison side is collected once and
    broadcast (legitimate ONLY for a bucket-sized side — the same
    contract as any broadcast join, and enforced by ``max_rows``); each
    Arrow batch of the streaming side scores against it with one BLAS
    matmul. BLAS summation order is unspecified, but its error (~1e-13
    here) is far inside ``margin``, so the candidate set provably
    contains every true pair — exactness comes from the decimal rescore
    downstream.
    """
    import numpy as np

    rows = df.select(id_col, vec_col).limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"cosine screen: comparison side exceeds {max_rows} rows — a "
            "driver broadcast this size is the scale-killer. Shard the "
            "corpus first (similarity.ann.sign_lsh_buckets, then screen "
            "per bucket) instead of raising the cap."
        )
    ids_b = np.array([r[0] for r in rows], dtype=np.int64)
    m = np.array([r[1] for r in rows], dtype=np.float64)
    nb = np.sqrt((m * m).sum(axis=1))
    bc = df.sparkSession.sparkContext.broadcast((ids_b, m, nb))

    def screen(batches):
        import pandas as pd

        b_ids, b_m, b_n = bc.value
        for pdf in batches:
            a = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            na = np.sqrt((a * a).sum(axis=1))
            s = (a @ b_m.T) / np.outer(na, b_n)
            ia, ib = np.nonzero(s >= threshold - margin)
            keep = a_ids[ia] < b_ids[ib]
            yield pd.DataFrame(
                {"id_a": a_ids[ia][keep], "id_b": b_ids[ib][keep]}
            )

    return df.select(id_col, vec_col).mapInPandas(screen, "id_a long, id_b long")


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    use_numpy_screen: bool = True,
) -> DataFrame:
    """Exact (id_a < id_b, cosine) pairs with cosine ≥ threshold.

    Two-phase exactness: a fast screen proposes candidates with a 1e-6
    safety margin (screen error is ≤ ~1e-12), then ONLY candidates are
    rescored with decimal-exact dot products — output is bit-identical to
    the all-decimal formulation at a fraction of the cost.

    Screens: ``use_numpy_screen`` (default) broadcasts the comparison
    matrix into an Arrow-batched BLAS matmul — the production path for
    real dims; the fallback is a pure-codegen unrolled expression over a
    crossJoin (no Python workers). Both are quadratic: at corpus scale
    run this per LSH bucket (``sign_lsh_buckets``), never globally.
    """
    dbl = _vectors(fan_out(df), id_col, vec_col)
    a = dbl.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("va"), F.col("n2").alias("na")
    )
    b = dbl.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vb"), F.col("n2").alias("nb")
    )
    margin = 1e-6
    if use_numpy_screen:
        cand_ids = _screen_pairs_numpy(dbl, threshold, margin, id_col, "vec")
        cand = cand_ids.join(a, "id_a").join(b, "id_b")
    else:
        dim = df.select(F.size(vec_col).alias("d")).first()["d"]
        fdot = _dot_double_unrolled(F.col("va"), F.col("vb"), dim)
        cand = (
            a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(fdot / (F.sqrt("na") * F.sqrt("nb")) >= threshold - margin)
        )
    cos = _cosine("va", "na", "vb", "nb", round_to)
    return (
        cand.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def sign_lsh_buckets(
    df: DataFrame,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) — ``planes``-bit sign-LSH bucket per vector.

    Plane p's sign for dimension d is the parity of the first hex digit
    of md5('p{p}_{d}') — a fixed ±1 hyperplane, identical in any engine.
    """
    e = _long_form(df, id_col, vec_col)
    signed = [
        F.sum(
            F.when(
                F.ascii(
                    F.substring(
                        F.md5(F.concat(F.lit(f"p{p}_"), F.col("pos").cast("string"))),
                        1,
                        1,
                    )
                )
                % 2
                == 1,
                F.col("v"),
            )
            .otherwise(-F.col("v"))
            .cast(_ACC)
        )
        .cast("double")
        .alias(f"s{p}")
        for p in range(planes)
    ]
    agg = e.groupBy(id_col).agg(*signed)
    bucket = None
    for p in range(planes):
        term = F.when(F.col(f"s{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = term if bucket is None else bucket + term
    return agg.select(F.col(id_col), bucket.cast("int").alias("bucket"))


def batch_knn(
    df: DataFrame,
    n_queries: int = 8,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for a BATCH of query vectors at once.

    Queries are the rows with ``id < n_queries``; returns
    (qid, vec_id, cosine, rnk) with k rows per query. The batch
    generalization of ``brute_force_knn``: the query block (Q rows) is
    broadcast, the corpus streams past it once scoring each row against
    every query, and the per-query cut is a window rank — so Q queries
    cost ONE corpus scan + one qid-keyed shuffle, not Q scans. This
    is the shape batch inference/labeling runs at 100 TB: queries are
    always the small side, so they ride the broadcast; the corpus never
    re-partitions per query.
    """
    from pyspark.sql import Window

    rows = _vectors(df, id_col, vec_col)
    q = rows.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("qid"), F.col("vec").alias("qv"), F.col("n2").alias("q2")
    )
    cos = _cosine("vec", "n2", "qv", "q2", round_to)
    scored = (
        rows.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("qid"))
        .select("qid", F.col(id_col), cos.alias("cosine"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", id_col, "cosine", F.col("rnk").cast("int").alias("rnk"))
    )


def bucketed_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-dup pairs WITHIN sign-LSH buckets — the production form of
    ``cosine_neardup_pairs`` that the latter's docstring promises.

    Candidates are pairs sharing a bucket (the only self-join, keyed by
    bucket — pair volume is Σ bucket_size², bounded by the bucketing,
    never corpus²); survivors are rescored with decimal-exact cosine and
    cut at ``threshold``. Trades recall (cross-bucket pairs are lost;
    raise recall with multiple band tables) for a join that scales
    linearly with corpus size at fixed bucket occupancy. ``max_bucket``
    is the degenerate-occupancy guard (same contract as the MinHash /
    SimHash caps): a bucket of m vectors costs m² pair rows, and
    near-identical corpora concentrate mass in a few buckets — SCALING.md
    measures exactly that regime blowing up 4x-replicated input. Returns
    (id_a, id_b, cosine) with id_a < id_b.
    """
    buckets = cap_buckets(
        sign_lsh_buckets(df, planes, id_col, vec_col), ["bucket"], max_bucket
    )
    a = buckets.select(F.col(id_col).alias("id_a"), "bucket")
    b = buckets.select(F.col(id_col).alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    rows = _vectors(df, id_col, vec_col)
    a = rows.select(
        F.col(id_col).alias("id_a"), F.col("vec").alias("va"), F.col("n2").alias("na")
    )
    b = rows.select(
        F.col(id_col).alias("id_b"), F.col("vec").alias("vb"), F.col("n2").alias("nb")
    )
    cos = _cosine("va", "na", "vb", "nb", round_to)
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_range_search(
    df: DataFrame,
    query_id: int,
    min_cosine: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """All vectors with cosine(v, query) >= ``min_cosine`` — radius search,
    the dual of top-k: the caller fixes quality, not count (dedup
    thresholds, "anything this similar is a duplicate" contracts).

    Same decimal-exact kernel and 6dp rounding as ``brute_force_knn``, so
    the threshold boundary is engine-deterministic. Scale path: run
    per-LSH-bucket (sign_lsh_buckets) exactly like top-k — the kernel is
    the rerank step, never the global scan.
    """
    return (
        all_cosines(df, query_id, id_col, vec_col, round_to)
        .filter(F.col("cosine") >= min_cosine)
        .orderBy(F.col("cosine").desc(), F.col(id_col))
    )


def recall_at_k(
    approx: DataFrame,
    exact: DataFrame,
    k: int,
    by: tuple[str, ...] = (),
    grid: DataFrame | None = None,
) -> DataFrame:
    """The recall audit's gate rows: (``by``..., k, n_hits, recall).

    Per ``by`` group of ``approx``, ``n_hits`` counts its rows found in
    ``exact`` — joined on all of ``exact``'s columns, e.g. ``vec_id``, or
    (``qid``, ``vec_id``) for a query block — and ``recall`` is
    ``n_hits / k``. With ``grid`` (frame of the ``by`` columns) there is
    one row per grid row, 0 hits where a group matched nothing; without
    ``by`` it is the single global row. Both sides are top-k sized, so
    ``exact`` broadcasts."""
    hits = (
        approx.join(F.broadcast(exact), exact.columns)
        .groupBy(*by)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    if grid is not None:
        hits = grid.join(F.broadcast(hits), list(by), "left").withColumn(
            "n_hits", F.coalesce("n_hits", F.lit(0).cast("bigint"))
        )
    return hits.select(
        *by,
        F.lit(k).cast("int").alias("k"),
        "n_hits",
        (F.col("n_hits").cast("double") / k).alias("recall"),
    )
