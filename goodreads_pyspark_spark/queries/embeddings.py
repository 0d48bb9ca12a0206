"""Similarity-search queries over ``embeddings`` (array<float>, 64-dim).

Cosine math is mirrored between engines via long-form (position, value)
joins and decimal-exact component sums — see ``similarity/ann.py``. The
oracle's ``generate_subscripts`` is 1-based while Spark's ``posexplode``
is 0-based; position is only a join key except in the LSH plane hash,
where the oracle subtracts 1 to match.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import (
    _materialize,
    _released,
    sql_cc_labels,
    tbl,
)
from goodreads_pyspark_spark.similarity.ann import (
    brute_force_knn,
    cosine_neardup_pairs,
    recall_at_k,
    sign_lsh_buckets,
)

_LONG = """
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings)
"""

_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS DOUBLE)"

# --- the family's DuckDB replay ----------------------------------------------
# Every oracle below is composed from these plain-SQL builders over ``_LONG``
# (numbers and CTE names in, CTE text out). Each Spark body mirrors them
# with similarity/ (brute_force_knn, batch_knn, ivf, quantize) and reports
# through ``recall_at_k``.

#: The 6dp-rounded cosine of a ``_sql_cosines`` row, best first: the total
#: order (vec_id breaks ties) both engines rank by.
_BY_COS = "ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC"
#: e07's per-dimension int8 scale.
_AMAX = """amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos)"""


def _sql_query(qid: int) -> str:
    """``q`` (pos, qv): vector ``qid`` in long form."""
    return f"q AS (SELECT pos, v AS qv FROM e WHERE vec_id = {qid})"


def _sql_query_block(n: int) -> str:
    """``q`` (qid, pos, qv): the query block ``vec_id < n`` in long form."""
    return f"q AS (SELECT vec_id AS qid, pos, v AS qv FROM e WHERE vec_id < {n})"


def _sql_cosines(
    out: str, qid: int | None = None, src: str = "e", where: str = "TRUE"
) -> str:
    """``out`` (vec_id, dot, n2, q2): decimal-exact cosine components of
    every ``src`` vector matching ``where`` against the query ``qid`` in
    ``q``, itself excluded; with ``qid=None``, against each vector of the
    query block, keyed (qid, vec_id)."""
    keys = "vec_id" if qid is not None else "qid, vec_id"
    me = qid if qid is not None else "qid"
    return f"""{out} AS (
      SELECT {keys},
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM {src} JOIN q USING (pos)
      WHERE vec_id <> {me} AND {where}
      GROUP BY {keys})"""


def _sql_top(
    out: str, src: str, order: str, k: int, where: str = "TRUE", by: str = ""
) -> str:
    """``out``: the ``k`` rows of ``src`` matching ``where`` that come
    first by ``order`` (vec_id breaks ties) — vec_id, or (``by``, vec_id)
    with ``k`` per ``by`` group."""
    cols = f"{by}, vec_id" if by else "vec_id"
    part = f"PARTITION BY {by} " if by else ""
    return f"""{out} AS (SELECT {cols} FROM (
        SELECT {cols}, ROW_NUMBER() OVER ({part}ORDER BY {order}, vec_id) AS rn
        FROM {src} WHERE {where}) WHERE rn <= {k})"""


def _sql_knn(
    out: str, k: int, qid: int | None = None, src: str = "e", where: str = "TRUE"
) -> str:
    """``{out}_c`` (``_sql_cosines``) and ``out``: its exact cosine
    top-``k`` — per query of the block when ``qid`` is None."""
    return f"""{_sql_cosines(f"{out}_c", qid, src, where)},
    {_sql_top(out, f"{out}_c", _BY_COS, k, by="" if qid is not None else "qid")}"""


def _sql_l2(out: str, qid: int) -> str:
    """``out`` (vec_id, d2): decimal-exact squared L2 distance of every
    vector but ``qid`` to the query in ``q``."""
    return f"""{out} AS (
      SELECT vec_id, {_DSUM.format(expr='(v - qv) * (v - qv)')} AS d2
      FROM e JOIN q USING (pos) WHERE vec_id <> {qid}
      GROUP BY vec_id)"""


def _sql_values(col: str, values) -> str:
    """A one-column INTEGER table of ``values``."""
    return f"(SELECT CAST(unnest({list(values)}) AS INTEGER) AS {col})"


def _sql_recall(
    approx: str,
    k: int,
    by: str = "",
    grid: str = "",
    exact: str = "exact",
    on: str = "vec_id",
) -> str:
    """The gate rows (``by``..., k, n_hits, recall): per ``by`` group of
    ``approx``, how many of its rows ``exact`` holds (joined on ``on``),
    and that count over ``k``. With ``grid`` (a table of the ``by``
    columns), one row per grid row, 0 where nothing hit. Mirror of
    ``similarity.ann.recall_at_k``."""
    keys = f"{by}, " if by else ""
    hits = (
        f"(SELECT {keys}COUNT(*) AS n FROM {approx} JOIN {exact} USING ({on})"
        + (f" GROUP BY {by})" if by else ")")
    )
    src = f"{grid} g LEFT JOIN {hits} h USING ({by})" if grid else hits
    return f"""SELECT {keys}CAST({k} AS INTEGER) AS k,
           CAST(COALESCE(n, 0) AS BIGINT) AS n_hits,
           CAST(COALESCE(n, 0) AS DOUBLE) / {k} AS recall
    FROM {src}"""


def _sql_bucket_cand(qid: int) -> str:
    """``cand`` (vec_id, pos, v): the vectors sharing query ``qid``'s
    sign-LSH bucket (``_bucket_cte``), the query excluded."""
    return f"""cand AS (
      SELECT e.vec_id, pos, v FROM e
      JOIN buckets USING (vec_id)
      WHERE bucket = (SELECT bucket FROM buckets WHERE vec_id = {qid})
        AND vec_id <> {qid})"""


def _sql_ivf(cents: str = "vec_id < 8") -> str:
    """Sampled-centroid IVF: ``cents`` (cid, pos, cval), the vectors
    matching ``cents`` as centroids; ``scored`` (vec_id, cid, dot, n2,
    c2), every vector against every centroid; ``best`` (vec_id, cid),
    each vector's cell by unrounded cosine, ties to the lowest cid."""
    return f"""cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE {cents}),
    scored AS (
      SELECT e.vec_id, c.cid,
             {_DSUM.format(expr='v * cval')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='cval * cval')} AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1)"""


def _sql_cell_ranks(qid: int) -> str:
    """``qcent`` (cid, rn): the ``_sql_ivf`` cells ranked for query
    ``qid`` by unrounded centroid cosine, ties to the lowest cid.
    Mirror of ``similarity.ivf.query_cell_ranks``."""
    return f"""qcent AS (
      SELECT cid,
             ROW_NUMBER() OVER (
               ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
      FROM scored WHERE vec_id = {qid})"""


def _sql_probed(nprobe: int) -> str:
    """Predicate: the vector lies in one of the ``nprobe`` first cells
    of ``qcent``."""
    return f"vec_id IN (SELECT vec_id FROM best JOIN qcent USING (cid) WHERE rn <= {nprobe})"


def _sql_pq(qid: int | None = None) -> str:
    """Flat PQ (4 subspaces of 16 dims; the 16 lowest-id vectors' sub-
    vectors are the codewords): ``c`` (cid, pos, cval); ``d2`` (vec_id,
    sub, cid, d2); ``best`` (the same with rn = 1 for each (vec_id, sub)'s
    nearest codeword, ties to the lowest cid). For query ``qid`` (in
    ``q``) also ``lut`` (sub, cid, lut_d2) and ``adc`` (vec_id, adc_d2)
    of every other vector, LUT sums kept DECIMAL to the last addend."""
    index = f"""c AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < 16),
    d2 AS (
      SELECT e.vec_id, (e.pos - 1) // 16 AS sub, c.cid,
             {_DSUM.format(expr='(e.v - c.cval) * (e.v - c.cval)')} AS d2
      FROM e JOIN c USING (pos)
      GROUP BY e.vec_id, (e.pos - 1) // 16, c.cid),
    best AS (SELECT vec_id, sub, cid, d2,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                       ORDER BY d2, cid) AS rn
             FROM d2)"""
    if qid is None:
        return index
    return f"""{index},
    lut AS (
      SELECT (q.pos - 1) // 16 AS sub, c.cid,
             SUM(CAST((q.qv - c.cval) * (q.qv - c.cval)
                      AS DECIMAL(38,12))) AS lut_d2
      FROM q JOIN c USING (pos)
      GROUP BY 1, 2),
    adc AS (
      SELECT b.vec_id, CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
      FROM best b JOIN lut USING (sub, cid)
      WHERE b.rn = 1 AND b.vec_id <> {qid}
      GROUP BY b.vec_id)"""


#: The IVFADC index (8 coarse cells, the vectors 0-7; residual codewords
#: of the vectors 0-15; 4x16-dim subspaces): ``cc`` (ccid, pos, cval),
#: ``ad2`` (vec_id, ccid, d2), ``asg`` (each vector's cell by exact L2,
#: ties to the lowest ccid), ``res`` (residuals v - c(v)), ``cw``
#: (residual codewords), ``ed2`` and ``enc`` (vec_id, ccid, sub, cid).
_SQL_IVFPQ = f"""cc AS (SELECT vec_id AS ccid, pos, v AS cval FROM e WHERE vec_id < 8),
    ad2 AS (SELECT e.vec_id, cc.ccid,
                   {_DSUM.format(expr='(e.v - cc.cval) * (e.v - cc.cval)')}
                     AS d2
            FROM e JOIN cc USING (pos) GROUP BY e.vec_id, cc.ccid),
    asg AS (SELECT vec_id, ccid FROM (
              SELECT vec_id, ccid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d2, ccid) AS rn
              FROM ad2) WHERE rn = 1),
    res AS (SELECT e.vec_id, a.ccid, e.pos, e.v - cc.cval AS r
            FROM e JOIN asg a ON a.vec_id = e.vec_id
            JOIN cc ON cc.ccid = a.ccid AND cc.pos = e.pos),
    cw AS (SELECT vec_id AS cid, pos, r AS cwv FROM res WHERE vec_id < 16),
    ed2 AS (SELECT res.vec_id, res.ccid, (res.pos - 1) // 16 AS sub, cw.cid,
                   {_DSUM.format(expr='(res.r - cw.cwv) * (res.r - cw.cwv)')}
                     AS d2
            FROM res JOIN cw ON cw.pos = res.pos
            GROUP BY res.vec_id, res.ccid, (res.pos - 1) // 16, cw.cid),
    enc AS (SELECT vec_id, ccid, sub, cid FROM (
              SELECT vec_id, ccid, sub, cid,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d2, cid) AS rn
              FROM ed2) WHERE rn = 1)"""


def _sql_ivfpq_search(qid: int, nprobe: int) -> str:
    """``adc{nprobe}`` (vec_id, ccid, adc_d2): residual-ADC distance to
    query ``qid`` of every other vector in its ``nprobe`` nearest cells,
    through ``probe{nprobe}``, ``qr{nprobe}`` (the query's residual per
    probed cell) and ``lut{nprobe}`` (per-cell LUT) over ``_SQL_IVFPQ``."""
    p = nprobe
    return f"""probe{p} AS (SELECT ccid FROM ad2 WHERE vec_id = {qid}
                 ORDER BY d2, ccid LIMIT {p}),
    qr{p} AS (SELECT pp.ccid, e.pos, e.v - cc.cval AS qr
              FROM e CROSS JOIN probe{p} pp
              JOIN cc ON cc.ccid = pp.ccid AND cc.pos = e.pos
              WHERE e.vec_id = {qid}),
    lut{p} AS (SELECT qr{p}.ccid, (qr{p}.pos - 1) // 16 AS sub, cw.cid,
                      SUM(CAST((qr{p}.qr - cw.cwv) * (qr{p}.qr - cw.cwv)
                               AS DECIMAL(38,12))) AS lut_d2
               FROM qr{p} JOIN cw ON cw.pos = qr{p}.pos
               GROUP BY qr{p}.ccid, (qr{p}.pos - 1) // 16, cw.cid),
    adc{p} AS (SELECT enc.vec_id, enc.ccid,
                      CAST(SUM(lut_d2) AS DOUBLE) AS adc_d2
               FROM enc JOIN lut{p} ON lut{p}.ccid = enc.ccid
                                   AND lut{p}.sub = enc.sub
                                   AND lut{p}.cid = enc.cid
               WHERE enc.vec_id <> {qid}
               GROUP BY enc.vec_id, enc.ccid)"""


def _sql_pairs(out: str, tau: float) -> str:
    """``out`` (id_a < id_b, cosine): every vector pair whose 6dp exact
    cosine is at least ``tau`` (``norms`` and ``dots`` CTEs)."""
    cos = "ROUND(dot / (SQRT(na.n2) * SQRT(nb.n2)), 6)"
    return f"""norms AS (SELECT vec_id, {_DSUM.format(expr='v * v')} AS n2
              FROM e GROUP BY vec_id),
    dots AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             {_DSUM.format(expr='a.v * b.v')} AS dot
      FROM e a JOIN e b USING (pos) WHERE a.vec_id < b.vec_id
      GROUP BY 1, 2),
    {out} AS (
      SELECT id_a, id_b, {cos} AS cosine FROM dots
      JOIN norms na ON na.vec_id = id_a
      JOIN norms nb ON nb.vec_id = id_b
      WHERE {cos} >= {tau})"""


def _sql_bucket_pairs(out: str, tau: float) -> str:
    """``out`` (id_a < id_b, cosine): ``_sql_pairs`` restricted to pairs
    sharing a sign-LSH bucket (``_bucket_cte``; ``cand`` and ``comps``)."""
    cos = "ROUND(dot / (SQRT(na) * SQRT(nb)), 6)"
    return f"""cand AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id),
    comps AS (
      SELECT c.id_a, c.id_b,
             {_DSUM.format(expr='ea.v * eb.v')} AS dot,
             {_DSUM.format(expr='ea.v * ea.v')} AS na,
             {_DSUM.format(expr='eb.v * eb.v')} AS nb
      FROM cand c
      JOIN e ea ON ea.vec_id = c.id_a
      JOIN e eb ON eb.vec_id = c.id_b AND eb.pos = ea.pos
      GROUP BY c.id_a, c.id_b),
    {out} AS (SELECT id_a, id_b, {cos} AS cosine FROM comps WHERE {cos} >= {tau})"""


# --- exact brute-force k-NN -------------------------------------------------
@query(
    "e01_knn_vec0",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(0)},
    {_sql_cosines("comps", 0)}
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="Exact cosine top-10 of vec 0 — the ANN correctness baseline "
    "(similarity/ann.py brute_force_knn).",
)
def e01_knn_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return brute_force_knn(emb, query_id=0, k=10)


# --- exact near-dup pairs ---------------------------------------------------
@query(
    "e02_cosine_neardup_pairs",
    oracle=f"""
    WITH {_LONG},
    {_sql_pairs("pairs", 0.4)}
    SELECT * FROM pairs
    """,
    doc="All-pairs cosine ≥0.4 (embedding near-dup). Exact form; at scale "
    "this runs within LSH buckets only.",
)
def e02_cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return cosine_neardup_pairs(emb, threshold=0.4)


# --- sign-LSH bucketing (the ANN scale path) --------------------------------
def _bucket_cte(planes: int = 8) -> str:
    votes = ",\n           ".join(
        f"{_DSUM.format(expr=f_case)} AS s{p}"
        for p, f_case in (
            (
                p,
                f"CASE WHEN ascii(substr(md5('p{p}_' || CAST(pos - 1 AS VARCHAR)), 1, 1)) % 2 = 1 "
                f"THEN v ELSE -v END",
            )
            for p in range(planes)
        )
    )
    bucket = " + ".join(f"CASE WHEN s{p} > 0 THEN {1 << p} ELSE 0 END" for p in range(planes))
    return f"""
    v AS (SELECT vec_id,
           {votes}
           FROM e GROUP BY vec_id),
    buckets AS (SELECT vec_id, CAST({bucket} AS INTEGER) AS bucket FROM v)
    """


@query(
    "e03_lsh_buckets",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()}
    SELECT vec_id, bucket FROM buckets
    """,
    doc="8-plane sign-LSH bucket per vector (similarity/ann.py): the "
    "shuffle-light candidate generator for ANN at scale.",
)
def e03_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return sign_lsh_buckets(emb, planes=8)


# --- ANN: exact rerank within the query's bucket ----------------------------
@query(
    "e04_ann_topk_vec0",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    {_sql_bucket_cand(0)},
    {_sql_query(0)},
    {_sql_cosines("comps", 0, src="cand")}
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 5
    """,
    doc="ANN query: LSH bucket as candidate set, exact cosine rerank, "
    "top-5. Recall vs e01 is the bucketing quality measure.",
)
def e04_ann_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bucket_knn(tbl(spark, sf_dir, "embeddings"), query_id=0, k=5)


def _bucket_knn(emb: DataFrame, query_id: int, k: int) -> DataFrame:
    """Exact cosine top-``k`` of ``query_id`` among the vectors sharing its
    8-plane sign-LSH bucket (the ``_sql_bucket_cand`` candidates)."""
    buckets = sign_lsh_buckets(emb, planes=8)
    qb = buckets.filter(F.col("vec_id") == query_id).select(
        F.col("bucket").alias("qbucket")
    )
    cand = (
        emb.join(buckets, "vec_id")
        .join(F.broadcast(qb), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != query_id)
        .select("vec_id", "embedding")
    )
    with_query = cand.unionByName(
        emb.filter(F.col("vec_id") == query_id).select("vec_id", "embedding")
    )
    return brute_force_knn(with_query, query_id=query_id, k=k)


# --- per-label centroids (long form) ----------------------------------------
@query(
    "e05_label_centroids",
    oracle=f"""
    WITH {_LONG}
    SELECT label, pos,
           ROUND({_DSUM.format(expr='v')} / COUNT(*), 6) AS centroid_val
    FROM e JOIN embeddings USING (vec_id)
    GROUP BY label, pos
    """,
    doc="Per-label centroid components (long form): the embedding-space "
    "aggregation primitive behind IVF coarse quantizers and cluster "
    "audits. Rounded to 6dp: Spark's double->decimal cast rounds via the "
    "shortest string repr while DuckDB expands the exact binary value, so "
    "raw 12dp sums can differ ~1e-14; the final rounding absorbs that.",
)
def e05_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _label_centroids(spark, sf_dir).withColumnRenamed("c", "centroid_val")


def _label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(label, pos, c): per-label centroid components, 6dp-rounded."""
    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    # pos is an OUTPUT column here: shift posexplode's 0-based index to the
    # oracle's 1-based generate_subscripts convention.
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    joined = e.join(emb.select("vec_id", "label"), "vec_id")
    return joined.groupBy("label", "pos").agg(
        F.round(
            F.sum(F.col("v").cast("decimal(38,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("c")
    )


# --- IVF ANN, oracle'd via the full-probe == exhaustive differential --------
@query(
    "e06_ivf_knn_vec1",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(1)},
    {_sql_cosines("comps", 1)}
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="IVF ANN (similarity/ivf.py): KMeans coarse quantizer, probe-list "
    "candidate gen, exact rerank. Registered at nprobe == n_centroids, "
    "where IVF provably degrades to exhaustive search — so the exact "
    "brute-force SQL is a true oracle for the whole IVF path (centroid "
    "build, assignment, probe selection, rerank). Partial-probe recall "
    "is covered by tests/test_corpus_pipeline.py.",
)
def e06_ivf_knn_vec1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn

    emb = tbl(spark, sf_dir, "embeddings")
    return ivf_knn(emb, query_id=1, k=10, nprobe=8, n_centroids=8)


# --- IVF ANN at nprobe < n_centroids (the actual approximate regime) --------
@query(
    "e08_ivf_partial_probe_vec1",
    oracle=f"""
    WITH {_LONG},
    {_sql_ivf()},
    {_sql_cell_ranks(1)},
    {_sql_query(1)},
    {_sql_cosines("comps", 1, where=_sql_probed(2))}
    SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    doc="IVF ANN in its actual approximate regime — nprobe=2 of 8 probe "
    "lists (similarity/ivf.py ivf_knn), the recall-vs-cost path e06's "
    "full-probe differential cannot see. Centroids are sampled corpus "
    "vectors (ids 0-7, similarity/ivf.py sampled_centroids) so the "
    "oracle replays the identical quantizer in SQL; every cosine is a "
    "decimal-exact component sum, making assignment and probe ranking "
    "bit-reproducible across engines. Candidate restriction (the "
    "IN-probes semi join) is the part that scales: at 100 TB only "
    "nprobe/k of the corpus is scored.",
)
def e08_ivf_partial_probe_vec1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn, sampled_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8)
    return ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents)


# --- int8 quantization ------------------------------------------------------
@query(
    "e07_int8_quantization",
    oracle=f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    q AS (SELECT e.vec_id, e.pos,
                 CAST(floor(e.v * 127.0 / amax + 0.5) AS BIGINT) AS code,
                 abs(e.v - floor(e.v * 127.0 / amax + 0.5) * amax / 127.0)
                   AS err
          FROM e JOIN amax USING (pos))
    SELECT vec_id,
           string_agg(code, ',' ORDER BY pos) AS codes,
           MAX(err) AS max_abs_err
    FROM q GROUP BY vec_id
    """,
    doc="Embedding int8 quantization (similarity/quantize.py): symmetric "
    "per-dimension scale, floor(x+0.5) rounding (engine-portable, unlike "
    "round-half), codes integer-exact across engines and reconstruction "
    "error bit-identical (pure IEEE double ops in the same order). The "
    "4-8x storage compression step of a vector pipeline.",
)
def e07_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import int8_quantize

    emb = tbl(spark, sf_dir, "embeddings")
    return int8_quantize(emb)


# --- batch exact kNN ---------------------------------------------------------
@query(
    "e09_batch_knn",
    oracle=f"""
    WITH {_LONG},
    {_sql_query_block(8)},
    {_sql_cosines("comps")},
    r AS (SELECT qid, vec_id,
                 ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
          FROM comps),
    ranked AS (SELECT qid, vec_id, cosine,
                      ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY cosine DESC, vec_id) AS rnk
               FROM r)
    SELECT qid, vec_id, cosine, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="Exact top-3 cosine neighbors for a BATCH of 8 query vectors in "
    "one corpus pass (similarity/ann.py batch_knn): query rows broadcast, "
    "each corpus row scored against them, per-query window cut — "
    "Q queries never cost Q corpus scans.",
)
def e09_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = tbl(spark, sf_dir, "embeddings")
    return batch_knn(emb, n_queries=8, k=3)


# --- product quantization ----------------------------------------------------
@query(
    "e10_pq_codes",
    oracle=f"""
    WITH {_LONG},
    {_sql_pq()}
    SELECT vec_id,
           string_agg(CAST(cid AS VARCHAR), ',' ORDER BY sub) AS pq_code,
           {_DSUM.format(expr='d2')} AS total_d2
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
    doc="Product-quantization codes (similarity/quantize.py pq_codes): "
    "64-dim vectors → 4 subspace centroid ids + decimal-exact "
    "reconstruction error. Deterministic sampled codebooks (the IVF "
    "convention) let the oracle replay L2 assignment bit-exactly. "
    "Storage-compression stage of a 100 TB vector pipeline: 256 bytes "
    "→ 4 small ints per vector.",
)
def e10_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import pq_codes

    emb = tbl(spark, sf_dir, "embeddings")
    return pq_codes(emb, n_sub=4, sub_dim=16, ksub=16)


# --- ANN recall audit --------------------------------------------------------
@query(
    "e11_ann_recall_audit",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    {_sql_bucket_cand(0)},
    {_sql_query(0)},
    {_sql_knn("ann", 5, 0, src="cand")},
    {_sql_knn("exact", 5, 0)}
    {_sql_recall("ann", 5)}
    """,
    doc="ANN quality audit: recall@5 of the LSH-bucketed ANN (e04) "
    "against the exact top-5 (e01's kernel) for the same query vector — "
    "'measure, don't guess' applied to the index itself. Both sides are "
    "deterministic, so even the recall number is hash-gated. At scale "
    "this runs over a sampled query set; the shape (two top-k sets, "
    "inner join, count ratio) is unchanged.",
)
def e11_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    ann = _bucket_knn(emb, query_id=0, k=5).select("vec_id")
    exact = brute_force_knn(emb, query_id=0, k=5).select("vec_id")
    return recall_at_k(ann, exact, 5)


# --- IVF recall audit --------------------------------------------------------
@query(
    "e12_ivf_recall_audit",
    oracle=f"""
    WITH {_LONG},
    {_sql_ivf()},
    {_sql_cell_ranks(1)},
    {_sql_query(1)},
    {_sql_knn("exact", 10, 1)},
    {_sql_top("ivf", "exact_c", _BY_COS, 10, where=_sql_probed(2))}
    {_sql_recall("ivf", 10)}
    """,
    doc="IVF quality audit: recall@10 of the nprobe=2-of-8 partial-probe "
    "IVF (e08) against the exact top-10 for the same query — the "
    "recall side of the recall-vs-cost dial, itself hash-gated "
    "(deterministic sampled quantizer + decimal-exact scoring). "
    "Companion to e11's LSH recall audit.",
)
def e12_ivf_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn, sampled_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8)
    ivf = ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents)
    exact = brute_force_knn(emb, query_id=1, k=10)
    return recall_at_k(ivf.select("vec_id"), exact.select("vec_id"), 10)


# --- bucketed near-dup pairs (the scale path of e02) -------------------------
@query(
    "e13_bucketed_neardup_pairs",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    {_sql_bucket_pairs("pairs", 0.4)}
    SELECT * FROM pairs
    """,
    doc="Embedding near-dup pairs WITHIN sign-LSH buckets "
    "(similarity/ann.py bucketed_neardup_pairs) — the production form "
    "e02's global all-pairs docstring promises: the only self-join is "
    "keyed by bucket (pair volume = sum of bucket sizes squared, "
    "linear at fixed occupancy), survivors rescored decimal-exact. "
    "Recall vs e02 is the bucketing trade, measurable by diffing the "
    "two result sets.",
)
def e13_bucketed_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import bucketed_neardup_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    return bucketed_neardup_pairs(emb, threshold=0.4, planes=8)


# --- PQ asymmetric-distance top-k search -------------------------------------
@query(
    "e14_pq_adc_topk",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(2)},
    {_sql_pq(2)}
    SELECT vec_id, adc_d2 FROM adc ORDER BY adc_d2, vec_id LIMIT 10
    """,
    doc="ADC top-10 for query vec_id=2 over PQ codes (similarity/"
    "quantize.py pq_adc_topk): the query stays exact, database vectors "
    "are their per-subspace centroids, and distance is 4 lookups into "
    "a 64-row LUT — the IVF-PQ search kernel that completes the e10 "
    "compression story (codes -> search). LUT sums stay DECIMAL "
    "through the final 4-addend per-vector sum, so the ranking (id "
    "tiebreak) is bit-identical across engines. Scale shape: LUT and "
    "codebooks broadcast; the scan touches integer codes only — "
    "~256x less IO than raw vectors.",
)
def e14_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import pq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    return pq_adc_topk(emb, query_id=2, k=10)


# --- ADC recall audit --------------------------------------------------------
@query(
    "e15_adc_recall_audit",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(2)},
    {_sql_pq(2)},
    {_sql_top("adc10", "adc", "adc_d2", 10)},
    {_sql_l2("l2", 2)},
    {_sql_top("exact", "l2", "d2", 10)}
    {_sql_recall("adc10", 10)}
    """,
    doc="PQ quality audit: recall@10 of ADC search (e14) against the "
    "exact L2 top-10 for the same query — quantifies what 256x "
    "compression costs in ranking fidelity, same-metric (L2 vs L2, "
    "unlike the cosine-based e11). Deterministic on both sides, so "
    "the recall number itself is hash-gated.",
)
def e15_adc_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import exact_l2_knn, pq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    adc = pq_adc_topk(emb, query_id=2, k=10).select("vec_id")
    exact = exact_l2_knn(emb, query_id=2, k=10).select("vec_id")
    return recall_at_k(adc, exact, 10)


# --- dimension-truncation (matryoshka) recall audit --------------------------
_E16_DIMS = 32
_E16_K = 5


@query(
    "e16_truncated_dim_recall",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(0)},
    {_sql_knn("trunc", _E16_K, 0, where=f"pos <= {_E16_DIMS}")},
    {_sql_knn("exact", _E16_K, 0)}
    SELECT CAST({_E16_DIMS} AS INTEGER) AS n_dims, *
    FROM ({_sql_recall("trunc", _E16_K)})
    """,
    doc="Dimension-truncation recall audit (the matryoshka-embedding "
    "question): top-5 by cosine over only the first 32 of 64 dims vs "
    "the exact full-dimension top-5. Truncating dims halves index "
    "bytes and doubles ANN throughput IF recall holds — this measures "
    "it instead of assuming, same discipline as the e11/e12/e15 "
    "audits. Truncation is a metadata-only F.slice before the kernel; "
    "both sides reuse the e01 decimal-exact cosine.",
)
def e16_truncated_dim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    truncated = emb.select(
        "vec_id", F.slice("embedding", 1, _E16_DIMS).alias("embedding")
    )
    tr = brute_force_knn(truncated, query_id=0, k=_E16_K).select("vec_id")
    exact = brute_force_knn(emb, query_id=0, k=_E16_K).select("vec_id")
    return recall_at_k(tr, exact, _E16_K).select(
        F.lit(_E16_DIMS).cast("int").alias("n_dims"), "*"
    )


# --- cosine range (radius) search --------------------------------------------
_E17_MIN_COS = 0.25


@query(
    "e17_cosine_range_search",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(0)},
    {_sql_cosines("comps", 0)}
    SELECT vec_id,
           ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine
    FROM comps
    WHERE ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) >= {_E17_MIN_COS}
    ORDER BY cosine DESC, vec_id
    """,
    doc="Radius (range) search: every vector with cosine >= 0.25 to the "
    "query — the fixed-quality dual of top-k (similarity/ann.py "
    "cosine_range_search), the API a dedup threshold contract calls. "
    "The 6dp-rounded decimal-exact cosine makes the >= boundary "
    "engine-deterministic; at scale the kernel runs per LSH bucket "
    "exactly like e04.",
)
def e17_cosine_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import cosine_range_search

    emb = tbl(spark, sf_dir, "embeddings")
    return cosine_range_search(emb, query_id=0, min_cosine=_E17_MIN_COS)


# --- embedding population drift audit ----------------------------------------
@query(
    "e18_centroid_drift",
    oracle=f"""
    WITH {_LONG},
    cents AS (
      SELECT label, pos,
             ROUND({_DSUM.format(expr='CASE WHEN vec_id % 2 = 0 THEN v END')}
                   / COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END), 6) AS ca,
             ROUND({_DSUM.format(expr='CASE WHEN vec_id % 2 = 1 THEN v END')}
                   / COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END), 6) AS cb
      FROM e JOIN embeddings USING (vec_id)
      GROUP BY label, pos),
    d AS (SELECT label,
                 SUM(CAST(ca - cb AS DECIMAL(18,9))
                     * CAST(ca - cb AS DECIMAL(18,9))) AS sq
          FROM cents GROUP BY label)
    SELECT label,
           ROUND(SQRT(CAST(sq AS DOUBLE)), 6) AS drift_l2
    FROM d
    """,
    doc="Embedding-population drift audit: per label, the L2 distance "
    "between the centroid of even vec_ids and odd vec_ids (stand-ins "
    "for two embedding-model versions / time slices) — the monitoring "
    "signal that catches a re-embedding or upstream-model change "
    "before an ANN index silently degrades. Exactness: per-component "
    "centroids are 6dp-rounded (e05 convention), diffs re-quantized "
    "to decimal(18,9) so the squared sum is exact and order-"
    "independent, one final sqrt+round.",
)
def e18_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    joined = e.join(emb.select("vec_id", "label"), "vec_id")
    even = F.when(F.col("vec_id") % 2 == 0, F.col("v"))
    odd = F.when(F.col("vec_id") % 2 == 1, F.col("v"))
    cents = joined.groupBy("label", "pos").agg(
        F.round(
            F.sum(even.cast("decimal(38,12)")).cast("double") / F.count(even), 6
        ).alias("ca"),
        F.round(
            F.sum(odd.cast("decimal(38,12)")).cast("double") / F.count(odd), 6
        ).alias("cb"),
    )
    diff = (F.col("ca") - F.col("cb")).cast("decimal(18,9)")
    d = cents.groupBy("label").agg(F.sum(diff * diff).alias("sq"))
    return d.select(
        "label",
        F.round(F.sqrt(F.col("sq").cast("double")), 6).alias("drift_l2"),
    )


# --- IVF recall-vs-cost curve ------------------------------------------------
_E19_PROBES = (1, 2, 4, 8)


@query(
    "e19_ivf_nprobe_sweep",
    oracle=f"""
    WITH {_LONG},
    {_sql_ivf()},
    {_sql_cell_ranks(1)},
    {_sql_query(1)},
    {_sql_knn("exact", 10, 1)},
    nps AS {_sql_values("nprobe", _E19_PROBES)},
    swept AS (SELECT nprobe, exact_c.* FROM nps
              JOIN qcent ON rn <= nprobe
              JOIN best USING (cid) JOIN exact_c USING (vec_id)),
    {_sql_top("ivf", "swept", _BY_COS, 10, by="nprobe")}
    {_sql_recall("ivf", 10, by="nprobe", grid="nps")}
    ORDER BY nprobe
    """,
    doc="IVF recall-vs-cost CURVE: recall@10 for the same query at "
    "nprobe = 1, 2, 4, 8 of 8 lists (e12 pins one point; this pins "
    "the whole dial, including the nprobe = nlist end where IVF "
    "provably equals exhaustive search — recall 1.0 is asserted "
    "below, so a routing regression anywhere on the curve fails the "
    "gate). Work scales with the probed fraction: the candidate "
    "restriction is a semi-join on the assignment table before any "
    "distance math, which is the entire point of IVF at 100 TB.",
)
def e19_ivf_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import all_cosines
    from goodreads_pyspark_spark.similarity.ivf import (
        ivf_assign,
        query_cell_ranks,
        sampled_centroids,
    )

    # ONE exact scoring pass + ONE assignment pass serve the whole curve:
    # the nprobe=p candidate set is just "assigned cell ranks <= p", so
    # every sweep point is a filter + window-rank over the same scored
    # table (same scoring/tie-break conventions as ivf_knn, which e08/e12
    # gate directly).
    emb = tbl(spark, sf_dir, "embeddings")
    with _released() as caches:
        cents = sampled_centroids(emb, k=8).cache()
        caches.append(cents)
        scores = all_cosines(emb, query_id=1).localCheckpoint(eager=True)
        exact = scores.orderBy(F.col("cosine").desc(), "vec_id").limit(10)
        cand = ivf_assign(emb, cents).join(
            F.broadcast(query_cell_ranks(emb, 1, cents)), "cid"
        )
        nps = spark.createDataFrame([(n,) for n in _E19_PROBES], "nprobe int")
        sweep = nps.join(cand, cand.rn <= nps.nprobe).join(scores, "vec_id")
        wr = Window.partitionBy("nprobe").orderBy(F.col("cosine").desc(), "vec_id")
        ivf10 = (
            sweep.withColumn("rk", F.row_number().over(wr))
            .filter(F.col("rk") <= 10)
            .select("nprobe", "vec_id")
        )
        out = _materialize(
            "e19_ivf_nprobe_sweep",
            recall_at_k(ivf10, exact.select("vec_id"), 10, by=("nprobe",), grid=nps)
            .orderBy("nprobe"),
        )
    full_probe = [r for r in out.collect() if r["nprobe"] == 8]
    if not full_probe or full_probe[0]["recall"] != 1.0:
        raise AssertionError("nprobe == nlist must equal exhaustive search")
    return out


@query(
    "e20_centroid_separation",
    oracle=f"""
    WITH {_LONG},
    cents AS (
      SELECT label, pos,
             ROUND({_DSUM.format(expr='v')} / COUNT(*), 6) AS c
      FROM e JOIN embeddings USING (vec_id)
      GROUP BY label, pos),
    d AS (
      SELECT c1.label AS l1, c2.label AS l2,
             SUM(CAST(c1.c - c2.c AS DECIMAL(18,9))
                 * CAST(c1.c - c2.c AS DECIMAL(18,9))) AS sq
      FROM cents c1 JOIN cents c2
        ON c1.pos = c2.pos AND c1.label <> c2.label
      GROUP BY 1, 2),
    dist AS (SELECT l1, l2, ROUND(SQRT(CAST(sq AS DOUBLE)), 6) AS dd FROM d),
    ranked AS (
      SELECT l1, l2, dd,
             ROW_NUMBER() OVER (PARTITION BY l1 ORDER BY dd, l2) AS rn
      FROM dist)
    SELECT r.l1 AS label, r.l2 AS nearest_label, r.dd AS nearest_dist,
           CAST(SUM(CAST(a.dd AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS mean_separation
    FROM ranked r JOIN dist a ON a.l1 = r.l1
    WHERE r.rn = 1
    GROUP BY r.l1, r.l2, r.dd
    """,
    doc="Inter-centroid separation audit: per label, the nearest other "
    "label's centroid distance and the mean distance to all others — "
    "the index-health metric that says whether an IVF/cluster routing "
    "layer can discriminate classes at all (companion to e18's "
    "temporal drift: e18 watches one label move, this watches the "
    "geometry between labels collapse). Exactness: 6dp-rounded "
    "centroid components (e05 convention), diffs re-quantized to "
    "decimal so squared sums are order-independent; the per-label "
    "mean runs over 6dp-quantized distances.",
)
def e20_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = _label_centroids(spark, sf_dir)
    c1 = cents.select(
        F.col("label").alias("l1"), "pos", F.col("c").alias("ca")
    )
    c2 = cents.select(
        F.col("label").alias("l2"), "pos", F.col("c").alias("cb")
    )
    diff = (F.col("ca") - F.col("cb")).cast("decimal(18,9)")
    dist = (
        c1.join(c2, "pos")
        .filter(F.col("l1") != F.col("l2"))
        .groupBy("l1", "l2")
        .agg(F.round(F.sqrt(F.sum(diff * diff).cast("double")), 6).alias("dd"))
    )
    w = Window.partitionBy("l1").orderBy("dd", "l2")
    nearest = (
        dist.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l1", F.col("l2").alias("nearest_label"),
                F.col("dd").alias("nearest_dist"))
    )
    means = dist.groupBy("l1").agg(
        (
            F.sum(F.col("dd").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_separation")
    )
    return (
        nearest.join(means, "l1")
        .select(
            F.col("l1").alias("label"),
            "nearest_label",
            "nearest_dist",
            "mean_separation",
        )
    )


# --- SemDeDup-style semantic dedup clusters ----------------------------------
_E21_TAU = 0.4
_E21_CC_ROUNDS = 12


def _sql_clusters(pairs: str) -> str:
    """The per-cluster retention ledger (cluster_id, n_members,
    n_dropped) of the connected components of the ``pairs`` (id_a, id_b)
    graph over every vector (``sql_cc_labels``). 12 rounds cover radius
    8191: 8 rounds (radius 255) under-converged at sf0.1 — at tau=0.4
    the pair graph grows CHAINS, not just near-cliques, and the local
    sf0.1 sweep caught the oracle 10 clusters short (the same lesson as
    g05; near-clique intuition does not survive a loose threshold). The
    bucketed pair graph (e22) keeps a subset of the edges, which can
    lengthen paths within a component; 12 doublings still cover radius
    8191."""
    l0 = "SELECT vec_id AS id, vec_id AS label FROM embeddings"
    return f"""und AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM {pairs}
            UNION ALL SELECT id_b, id_a FROM {pairs}),
    {sql_cc_labels("und", l0, _E21_CC_ROUNDS)}
    SELECT CAST(label AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped
    FROM l{_E21_CC_ROUNDS}
    GROUP BY label
    """


@query(
    "e21_semdedup_clusters",
    oracle=f"""
    WITH {_LONG},
    {_sql_pairs("pairs", _E21_TAU)},
    {_sql_clusters("pairs")}""",
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023, public "
    "literature): connected components over the exact cosine>= "
    f"{_E21_TAU} pair graph, keeping the min-id vector per cluster — "
    "cluster_id IS the survivor, n_dropped is the dedup yield. "
    "Composition of two already-gated primitives, end to end: e02's "
    "decimal-exact pair generation (two-phase numpy screen + decimal "
    "rescore; at corpus scale the pairs come from LSH buckets, e13) "
    "feeds the alternating-star CC loop (g05's operator), whose "
    "min-reachable-id fixpoint is algorithm-independent — so the "
    "DuckDB oracle replays it as unrolled pointer-doubling "
    "min-propagation and the cluster rollup hash-matches exactly. "
    "Singleton clusters are reported too (n_dropped = 0): the output "
    "is the complete per-cluster retention ledger for the corpus.",
)
def e21_semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    return _clusters(emb, cosine_neardup_pairs(emb, threshold=_E21_TAU))


def _clusters(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """The per-cluster retention ledger of the ``pairs`` graph's connected
    components over every vector. Mirror of ``_sql_clusters``."""
    from goodreads_pyspark_spark.graph.frames import PropertyGraph
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )

    vertices = emb.select(F.col("vec_id").alias("id"))
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components_alternating(PropertyGraph(vertices, edges))
    return comp.groupBy(F.col("component").cast("bigint").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
    )


# --- scale-true SemDeDup: bucketed pairs -> CC -> ledger ---------------------
@query(
    "e22_semdedup_bucketed",
    oracle=f"""
    WITH {_LONG},
    {_bucket_cte()},
    {_sql_bucket_pairs("pairs", _E21_TAU)},
    {_sql_clusters("pairs")}""",
    doc="Scale-true SemDeDup (VERDICT r5 #2): the SAME cluster->retention "
    "ledger as e21, but the pair source is the production kernel — "
    "sign-LSH buckets (similarity/ann.py bucketed_neardup_pairs), so "
    "the only self-join is keyed by bucket (pair volume = sum of "
    "bucket sizes squared, linear at fixed occupancy) and NOTHING in "
    "the plan is quadratic in the corpus. e21 stays registered as the "
    "exact-recall audit of this query's pair source (e23 measures the "
    "gap). Survivor = min vec_id per component; singleton clusters "
    "reported (n_dropped = 0) so the ledger is complete.",
)
def e22_semdedup_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import bucketed_neardup_pairs

    emb = tbl(spark, sf_dir, "embeddings")
    return _clusters(emb, bucketed_neardup_pairs(emb, threshold=_E21_TAU, planes=8))


# --- recall of the bucketed pair source vs the exact pair set ----------------
@query(
    "e23_semdedup_recall",
    oracle=f"""
    WITH {_LONG},
    {_sql_pairs("exact", _E21_TAU)},
    {_bucket_cte()},
    bucketed AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM buckets a JOIN buckets b USING (bucket)
      WHERE a.vec_id < b.vec_id),
    hit AS (SELECT id_a, id_b FROM exact JOIN bucketed USING (id_a, id_b))
    SELECT CAST({_E21_TAU} AS DOUBLE) AS tau,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_exact,
           CAST((SELECT COUNT(*) FROM hit) AS BIGINT) AS n_hit,
           CAST((SELECT COUNT(*) FROM hit) AS DOUBLE)
             / (SELECT COUNT(*) FROM exact) AS recall
    """,
    doc="The e21-vs-e22 gap, measured (VERDICT r5 #2): recall of the "
    "sign-LSH bucketed candidate generator against the exact "
    "cosine>=tau pair set — |bucket-candidates ∩ exact| / |exact|. "
    "This is the number that licenses (or prices) swapping e21's "
    "quadratic screen for e22's linear one: lost pairs are exactly "
    "the cross-bucket edges, recoverable with more band tables. Both "
    "counts are exact integers, so the division is bit-equal across "
    "engines.",
)
def e23_semdedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tbl(spark, sf_dir, "embeddings")
    exact = cosine_neardup_pairs(emb, threshold=_E21_TAU).select("id_a", "id_b")
    buckets = sign_lsh_buckets(emb, planes=8)
    a = buckets.select(F.col("vec_id").alias("id_a"), "bucket")
    b = buckets.select(F.col("vec_id").alias("id_b"), "bucket")
    cand = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    hit = exact.join(cand, ["id_a", "id_b"], "left_semi")
    n_exact = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    n_hit = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hit"))
    return (
        n_exact.crossJoin(F.broadcast(n_hit))
        .select(
            F.lit(_E21_TAU).cast("double").alias("tau"),
            "n_exact",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_exact")).alias("recall"),
        )
    )


# --- DataFrame-native Lloyd k-means, bit-exact across engines ----------------
_E24_K = 8
_E24_ROUNDS = 2


def _e24_oracle(k: int = _E24_K, rounds: int = _E24_ROUNDS) -> str:
    """Unrolled Lloyd rounds: decimal-exact squared distances, argmin by
    (d2, cid), mean update = one IEEE division of the exact decimal sum
    — every round bit-reproducible, so the fit itself hash-gates."""
    steps = []
    for r in range(1, rounds + 1):
        p = r - 1
        steps.append(f"""
    a{r} AS (
      SELECT e.vec_id, c.cid,
             SUM(CAST((e.v - c.cval) * (e.v - c.cval) AS DECIMAL(38,12))) AS d2
      FROM e JOIN c{p} c USING (pos)
      GROUP BY e.vec_id, c.cid),
    g{r} AS MATERIALIZED (
      SELECT vec_id, cid, d2 FROM (
        SELECT vec_id, cid, d2,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM a{r}) WHERE rn = 1)""")
        if r < rounds:
            steps.append(f"""
    c{r} AS MATERIALIZED (
      SELECT g.cid, e.pos,
             CAST(SUM(CAST(e.v AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS cval
      FROM g{r} g JOIN e ON e.vec_id = g.vec_id
      GROUP BY g.cid, e.pos)""")
    return f"""
    WITH {_LONG},
    c0 AS (SELECT vec_id AS cid, pos, v AS cval FROM e WHERE vec_id < {k}),{",".join(steps)}
    SELECT CAST(cid AS BIGINT) AS cid,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           ROUND(CAST(SUM(d2) AS DOUBLE), 6) AS inertia
    FROM g{rounds}
    GROUP BY cid
    """


@query(
    "e24_lloyd_kmeans",
    oracle=_e24_oracle(),
    doc="Distributed Lloyd k-means whose FIT hash-gates across engines "
    "(similarity/lloyd.py) — the existence proof that iterative ML is "
    "not inherently rows-only (ml/'s ALS/LDA ceiling is unconstrained "
    "float accumulation, not iteration): deterministic lowest-id init, "
    "decimal-exact distance sums, argmin tie-broken by cid, mean "
    "update as one IEEE division of the exact decimal total. Two "
    "rounds unrolled in the oracle; output is the final per-cluster "
    "membership + inertia. Per round the corpus shuffles (id, cid, "
    "partial-d2) against broadcast k·d centroid rows — linear, "
    "centroid state independent of corpus size.",
)
def e24_lloyd_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.lloyd import lloyd_fit

    emb = tbl(spark, sf_dir, "embeddings")
    return lloyd_fit(emb, k=_E24_K, rounds=_E24_ROUNDS)


# --- MMR diversity re-rank over int8 codes -----------------------------------
_E25_POOL = 20
_E25_K = 8


def _e25_oracle(pool: int = _E25_POOL, k: int = _E25_K) -> str:
    """Unrolled greedy MMR: one (candidate-pick, selected-set) CTE pair
    per step — the same oracle idiom as the CC / Lloyd round chains."""
    steps = []
    for j in range(2, k + 1):
        p = j - 1
        steps.append(f"""
    c{j} AS MATERIALIZED (SELECT p.vec_id, p.rel, CAST(MAX(d.dot) AS BIGINT) AS maxsim,
                    CAST(7 * p.rel - 3 * MAX(d.dot) AS BIGINT) AS mmr
             FROM pool p JOIN pd d ON d.ia = p.vec_id
                  AND d.ib IN (SELECT vec_id FROM s{p})
             WHERE p.vec_id NOT IN (SELECT vec_id FROM s{p})
             GROUP BY p.vec_id, p.rel
             ORDER BY mmr DESC, p.vec_id LIMIT 1),
    s{j} AS MATERIALIZED (SELECT vec_id FROM s{p} UNION ALL SELECT vec_id FROM c{j})""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({j} AS INTEGER) AS rank, vec_id, rel AS rel_dot, "
        f"maxsim AS max_sim_prev, mmr AS mmr_scaled FROM c{j}"
        for j in range(1, k + 1)
    )
    return f"""
    WITH {_LONG},
    amax AS (SELECT pos, greatest(MAX(abs(v)), 1e-30) AS amax
             FROM e GROUP BY pos),
    cd AS MATERIALIZED (SELECT vec_id, e.pos,
                  CAST(floor(v * 127.0 / amax + 0.5) AS BIGINT) AS code
           FROM e JOIN amax USING (pos)),
    q AS (SELECT pos, code AS qc FROM cd WHERE vec_id = 0),
    rel AS (SELECT cd.vec_id, CAST(SUM(code * qc) AS BIGINT) AS rel
            FROM cd JOIN q USING (pos) WHERE vec_id <> 0
            GROUP BY cd.vec_id),
    pool AS MATERIALIZED (SELECT vec_id, rel FROM rel ORDER BY rel DESC, vec_id
             LIMIT {pool}),
    pc AS (SELECT cd.vec_id, pos, code FROM cd JOIN pool USING (vec_id)),
    pd AS MATERIALIZED (SELECT a.vec_id AS ia, b.vec_id AS ib,
                  CAST(SUM(a.code * b.code) AS BIGINT) AS dot
           FROM pc a JOIN pc b ON a.pos = b.pos AND a.vec_id <> b.vec_id
           GROUP BY 1, 2),
    c1 AS MATERIALIZED (SELECT vec_id, rel, CAST(0 AS BIGINT) AS maxsim,
                  CAST(7 * rel AS BIGINT) AS mmr
           FROM pool ORDER BY rel DESC, vec_id LIMIT 1),
    s1 AS MATERIALIZED (SELECT vec_id FROM c1),{",".join(steps)}
    {finals}
    """


@query(
    "e25_mmr_rerank",
    oracle=_e25_oracle(),
    doc="Maximal Marginal Relevance re-rank (Carbonell & Goldstein 1998) "
    "— the diversity pass between ANN retrieval and the consumer "
    "(similarity/mmr.py): greedy top-8 from a top-20 relevance pool, "
    "each step maximizing 7*rel - 3*max_sim_to_selected. Both rel and "
    "sim are INTEGER dot products of the e07 int8 codes and lambda=0.7 "
    "is the rational 7/10, so every score is BIGINT-exact — no float "
    "cosine in the gate. Scale shape: one corpus pass for the pool "
    "(query codes broadcast, TakeOrdered), distributed pool-squared "
    "pair dots, then an enforced-cap driver greedy over <=pool^2 tiny "
    "integer rows — per-query bounded by construction, corpus side "
    "fully distributed. The oracle unrolls the greedy as one CTE pair "
    "per step.",
)
def e25_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.mmr import mmr_rerank

    emb = tbl(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, query_id=0, pool=_E25_POOL, k=_E25_K)


# --- int8 retrieval-pool recall audit ----------------------------------------
@query(
    "e26_int8_pool_recall",
    oracle=f"""
    WITH {_LONG},
    {_sql_query(0)},
    {_sql_knn("exact20", 20, 0)},
    {_AMAX},
    cd AS (SELECT vec_id, e.pos,
                  CAST(floor(v * 127.0 / amax + 0.5) AS BIGINT) AS code
           FROM e JOIN amax USING (pos)),
    qc AS (SELECT pos, code AS qcode FROM cd WHERE vec_id = 0),
    int820 AS (SELECT cd.vec_id
               FROM cd JOIN qc USING (pos) WHERE vec_id <> 0
               GROUP BY cd.vec_id
               ORDER BY SUM(code * qcode) DESC, cd.vec_id
               LIMIT 20),
    ov AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap
           FROM exact20 JOIN int820 USING (vec_id))
    SELECT n_overlap,
           CAST(20 - n_overlap AS BIGINT) AS exact_only,
           CAST(20 - n_overlap AS BIGINT) AS int8_only,
           CAST(n_overlap * 10000 // (40 - n_overlap) AS BIGINT)
             AS jaccard_pct_scaled
    FROM ov
    """,
    doc="Recall audit of e25's int8 retrieval pool against the EXACT "
    "decimal-cosine top-20 (the e01 kernel) — the e23 pattern applied "
    "to retrieval: every lossy speedup ships with a query that prices "
    "it. Overlap@20 between two deterministically-ordered lists (both "
    "unique total orders), Jaccard reported as an integer-scaled pct "
    "(overlap*10000 DIV (40-overlap)) so the gate stays BIGINT-exact. "
    "Scale shape: both rankings are one corpus pass with the query "
    "broadcast + TakeOrdered; the intersection joins two 20-row "
    "frames.",
)
def e26_int8_pool_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.mmr import int8_relevance_pool

    emb = tbl(spark, sf_dir, "embeddings")
    exact = brute_force_knn(emb, query_id=0, k=20).select("vec_id")
    pool = int8_relevance_pool(emb, query_id=0, pool=20).select("vec_id")
    return (
        exact.join(pool, "vec_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
        .select(
            "n_overlap",
            (F.lit(20) - F.col("n_overlap")).cast("bigint").alias("exact_only"),
            (F.lit(20) - F.col("n_overlap")).cast("bigint").alias("int8_only"),
            F.expr(
                "CAST(n_overlap * 10000 DIV (40 - n_overlap) AS BIGINT)"
            ).alias("jaccard_pct_scaled"),
        )
    )


# --- matryoshka dimension sweep ----------------------------------------------
_E27_DIMS = (8, 16, 32, 48, 64)
_E27_K = 10


def _e27_oracle() -> str:
    prefixes = ",\n    ".join(
        _sql_knn(f"t{d}", _E27_K, 0, where=f"pos <= {d}") for d in _E27_DIMS
    )
    tagged = " UNION ALL ".join(
        f"SELECT {d} AS n_dims, vec_id FROM t{d}" for d in _E27_DIMS
    )
    return f"""
    WITH {_LONG},
    {_sql_query(0)},
    {_sql_knn("exact", _E27_K, 0)},
    {prefixes},
    approx AS ({tagged})
    {_sql_recall("approx", _E27_K, by="n_dims", grid=_sql_values("n_dims", _E27_DIMS))}
    """


@query(
    "e27_matryoshka_dim_sweep",
    oracle=_e27_oracle(),
    doc="Matryoshka dimension SWEEP — e16's single truncation point "
    "extended to the full serving-dimension curve (8/16/32/48/64 dims, "
    "recall@10 vs the exact full-dimension ranking for each): the "
    "measurement that picks an MRL serving dimension, where index "
    "bytes and ANN throughput scale 1/dims IF the recall curve holds. "
    "One long-form pass computes every prefix kernel: the per-dim "
    "cosine is a conditional decimal sum over the SAME (vec_id)-keyed "
    "aggregation (pos<=d partial sums share the scan), so the sweep "
    "costs one corpus pass + a 5-branch aggregate, not 5 scans. "
    "Audit-shape caveat as e11/e12: the exact top-k baseline is "
    "deliberately the quadratic-free brute-force kernel, fine at any "
    "sf because it is one broadcast-query pass.",
)
def e27_matryoshka_dim_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out
    from goodreads_pyspark_spark.similarity.ann import _ACC

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    q = e.filter(F.col("vec_id") == 0).select(
        "pos", F.col("v").alias("qv")
    )
    joined = e.filter(F.col("vec_id") != 0).join(F.broadcast(q), "pos")

    def psum(expr, d):
        cond = F.when(F.col("pos") <= d, expr).otherwise(F.lit(0.0))
        return F.sum(cond.cast(_ACC)).cast("double")

    aggs = []
    for d in _E27_DIMS:
        aggs += [
            psum(F.col("v") * F.col("qv"), d).alias(f"dot{d}"),
            psum(F.col("v") * F.col("v"), d).alias(f"n2_{d}"),
            psum(F.col("qv") * F.col("qv"), d).alias(f"q2_{d}"),
        ]
    with _released() as caches:
        comps = joined.groupBy("vec_id").agg(*aggs).cache()
        caches.append(comps)

        def topk(d):
            cos = F.round(
                F.col(f"dot{d}")
                / (F.sqrt(F.col(f"n2_{d}")) * F.sqrt(F.col(f"q2_{d}"))),
                6,
            )
            return (
                comps.select("vec_id", cos.alias("cosine"))
                .orderBy(F.col("cosine").desc(), "vec_id")
                .limit(_E27_K)
                .select("vec_id")
            )

        exact = topk(64).cache()
        caches.append(exact)
        approx = reduce(
            DataFrame.unionByName,
            [topk(d).select(F.lit(d).alias("n_dims"), "vec_id") for d in _E27_DIMS],
        )
        dims = spark.createDataFrame([(d,) for d in _E27_DIMS], "n_dims int")
        # The 5-row sweep result is the only consumer of the cached kernel
        # aggregate and exact baseline, which are released once it is
        # checkpointed.
        return _materialize(
            "e27_matryoshka_dim_sweep",
            recall_at_k(approx, exact, _E27_K, by=("n_dims",), grid=dims),
        )


# --- contrastive-pair mining -------------------------------------------------
#: Anchor batch size and per-role depth.
_E28_ANCHORS = 8
_E28_K = 3


@query(
    "e28_hard_negative_mining",
    oracle=f"""
    WITH {_LONG},
    {_sql_query_block(_E28_ANCHORS)},
    {_sql_cosines("comps")},
    lab AS (SELECT doc_id AS vec_id, lang FROM documents),
    scored AS (
      SELECT c.qid, c.vec_id,
             ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine, l.lang,
             CASE WHEN l.lang = ql.lang THEN 'pos' ELSE 'neg' END AS role
      FROM comps c JOIN lab l USING (vec_id)
      JOIN lab ql ON ql.vec_id = c.qid),
    ranked AS (SELECT qid, role, vec_id, cosine, lang,
                      ROW_NUMBER() OVER (PARTITION BY qid, role
                                         ORDER BY cosine DESC, vec_id) AS rnk
               FROM scored)
    SELECT qid, role, CAST(rnk AS INTEGER) AS rnk, vec_id, cosine, lang
    FROM ranked WHERE rnk <= {_E28_K}
    """,
    doc="Contrastive-pair mining for embedding training (hard negatives "
    "a la DPR/SimCSE, public literature): for each of 8 anchor vectors, "
    "the top-3 most-similar SAME-label neighbors (positives) and top-3 "
    "most-similar DIFFERENT-label neighbors (hard negatives — the "
    "near-boundary examples that make contrastive training work), with "
    "label = the document's lang. The training-data side of the ANN "
    "stack: e09's one-pass batch kernel (anchors broadcast long-form, "
    "ONE corpus scan for the whole batch) + a label join + a per-"
    "(anchor,role) window cut — the window partitions by the anchor "
    "batch, so parallelism scales with anchors, never a global sort. "
    "Exactness: decimal-summed cosine rounded to 6 before ranking, "
    "vec_id tie-break (the e-series discipline).",
)
def e28_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import _ACC, _long_form

    emb = tbl(spark, sf_dir, "embeddings")
    docs = tbl(spark, sf_dir, "documents")
    e = _long_form(emb, "vec_id", "embedding")
    q = e.filter(F.col("vec_id") < _E28_ANCHORS).select(
        F.col("vec_id").alias("qid"), "pos", F.col("v").alias("qv")
    )
    comps = (
        e.join(F.broadcast(q), "pos")
        .filter(F.col("vec_id") != F.col("qid"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum((F.col("v") * F.col("qv")).cast(_ACC)).cast("double").alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast(_ACC)).cast("double").alias("n2"),
            F.sum((F.col("qv") * F.col("qv")).cast(_ACC)).cast("double").alias("q2"),
        )
    )
    lab = docs.select(F.col("doc_id").alias("vec_id"), "lang")
    qlab = docs.select(
        F.col("doc_id").alias("qid"), F.col("lang").alias("qlang")
    )
    cos = F.round(F.col("dot") / (F.sqrt("n2") * F.sqrt("q2")), 6)
    scored = (
        comps.join(lab, "vec_id")
        .join(F.broadcast(qlab.filter(F.col("qid") < _E28_ANCHORS)), "qid")
        .select(
            "qid",
            "vec_id",
            cos.alias("cosine"),
            "lang",
            F.when(F.col("lang") == F.col("qlang"), "pos")
            .otherwise("neg")
            .alias("role"),
        )
    )
    w = Window.partitionBy("qid", "role").orderBy(
        F.col("cosine").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _E28_K)
        .select("qid", "role", F.col("rnk").cast("int").alias("rnk"),
                "vec_id", "cosine", "lang")
    )


# --- incremental IVF index maintenance ---------------------------------------
#: Batch membership: every vec_id ending in 7 arrives later.
_E29_MOD, _E29_REM = 10, 7


@query(
    "e29_ivf_incremental_add",
    oracle=f"""
    WITH {_LONG},
    {_sql_ivf(f"vec_id < 9 AND vec_id % {_E29_MOD} <> {_E29_REM}")},
    tagged AS (
      SELECT cid, vec_id % {_E29_MOD} = {_E29_REM} AS is_new FROM best),
    cells AS (
      SELECT cid,
             CAST(COUNT(*) FILTER (NOT is_new) AS BIGINT) AS n_base,
             CAST(COUNT(*) FILTER (is_new) AS BIGINT) AS n_new
      FROM tagged GROUP BY cid)
    SELECT c.cid, n_base, n_new, n_base + n_new AS n_total,
           CAST(n_new AS DOUBLE) / (n_base + n_new) AS new_share
    FROM cells c
    """,
    doc="Incremental IVF index maintenance — the vector-store twin of "
    "d19/c05's ingest admission: a later-arriving batch (vec_id ending "
    "in 7) is assigned to the EXISTING coarse cells (deterministic "
    "base-sampled centroids, the e08 quantizer convention) without "
    "touching the base assignment, and the gate emits the per-cell "
    "growth ledger (base size, additions, new share) that index "
    "maintenance decisions — rebalance, split, retrain — read. "
    "Assignment ties break to the smallest cell id in BOTH engines "
    "(similarity/ivf.py ivf_assign's window order == the oracle's "
    "ROW_NUMBER order). Scale shape: the batch assignment is one pass over the "
    "BATCH with the k×d centroid table broadcast (the base is never "
    "rescanned in production — here the base pass exists only to "
    "report the ledger's denominators); cosines are decimal-exact "
    "component sums, so cell routing is bit-reproducible.",
)
def e29_ivf_incremental_add(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ivf import ivf_assign, sampled_centroids

    emb = tbl(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % _E29_MOD != _E29_REM)
    best = ivf_assign(emb, sampled_centroids(base, k=9))
    tagged = best.select(
        "cid", (F.col("vec_id") % _E29_MOD == _E29_REM).alias("is_new")
    )
    return (
        tagged.groupBy("cid")
        .agg(
            F.sum((~F.col("is_new")).cast("int")).cast("bigint").alias("n_base"),
            F.sum(F.col("is_new").cast("int")).cast("bigint").alias("n_new"),
        )
        .select(
            "cid",
            "n_base",
            "n_new",
            (F.col("n_base") + F.col("n_new")).alias("n_total"),
            (
                F.col("n_new").cast("double")
                / (F.col("n_base") + F.col("n_new"))
            ).alias("new_share"),
        )
    )


# --- embedding outlier pruning -----------------------------------------------
@query(
    "e30_embedding_outliers",
    oracle=f"""
    WITH {_LONG},
    {_AMAX},
    q AS (SELECT e.vec_id, e.pos,
                 CAST(floor(e.v * 127.0 / amax + 0.5) AS BIGINT) AS code
          FROM e JOIN amax USING (pos)),
    lab AS (SELECT vec_id, label FROM embeddings),
    cen AS (SELECT label, pos,
                   CAST(FLOOR(CAST(SUM(code) AS DOUBLE) / COUNT(*)) AS BIGINT)
                     AS cen
            FROM q JOIN lab USING (vec_id) GROUP BY label, pos),
    d2 AS (SELECT q.vec_id, lab.label,
                  CAST(SUM((code - cen) * (code - cen)) AS BIGINT) AS dist2
           FROM q JOIN lab USING (vec_id)
           JOIN cen ON cen.label = lab.label AND cen.pos = q.pos
           GROUP BY q.vec_id, lab.label),
    stats AS (SELECT label,
                     CAST(FLOOR(CAST(SUM(dist2) AS DOUBLE) / COUNT(*))
                          AS BIGINT) AS mean_dist2
              FROM d2 GROUP BY label)
    SELECT d2.label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           stats.mean_dist2,
           MAX(dist2) AS max_dist2,
           CAST(SUM(CASE WHEN dist2 > 2 * stats.mean_dist2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM d2 JOIN stats USING (label)
    GROUP BY d2.label, stats.mean_dist2
    """,
    doc="Embedding-space outlier pruning: flag vectors far from their "
    "label centroid — the standard screen for mislabeled / junk "
    "examples before a corpus ships (the aggregate analog of "
    "CLIP-score-style filtering, on the label structure the fixture "
    "provides). Everything is INTEGER-exact end to end via the e07 "
    "trick: int8-quantize first (per-dim symmetric scale, floor(x+0.5)), "
    "then centroids (floored integer mean), squared distances, the "
    "data-derived threshold (2x label mean dist2), and outlier counts "
    "are all bigint arithmetic — a hash-gate with no float tolerance "
    "anywhere past quantization. Scale shape: pos-keyed scale agg, "
    "(label,pos)-keyed centroid agg, vec-keyed distance agg — three "
    "linear keyed shuffles; the (labels x dims) centroid table "
    "broadcasts.",
)
def e30_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import int8_codes_long

    emb = tbl(spark, sf_dir, "embeddings")
    q = int8_codes_long(emb)
    lab = emb.select("vec_id", "label")
    cen = (
        q.join(lab, "vec_id")
        .groupBy("label", "pos")
        .agg(
            F.floor(
                F.sum("code").cast("double") / F.count(F.lit(1))
            )
            .cast("bigint")
            .alias("cen")
        )
    )
    d2 = (
        q.join(lab, "vec_id")
        .join(F.broadcast(cen), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("code") - F.col("cen")) * (F.col("code") - F.col("cen")))
            .cast("bigint")
            .alias("dist2")
        )
    )
    stats = d2.groupBy("label").agg(
        F.floor(F.sum("dist2").cast("double") / F.count(F.lit(1)))
        .cast("bigint")
        .alias("mean_dist2")
    )
    return (
        d2.join(F.broadcast(stats), "label")
        .groupBy("label", "mean_dist2")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.max("dist2").alias("max_dist2"),
            F.sum((F.col("dist2") > 2 * F.col("mean_dist2")).cast("int"))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select("label", "n_vecs", "mean_dist2", "max_dist2", "n_outliers")
    )


# --- Matryoshka prefix-dim recall audit --------------------------------------
_E31_DIMS = (8, 16, 32)
_E31_Q = 8
_E31_K = 10


def _e31_oracle() -> str:
    prefixes = ",\n    ".join(
        _sql_knn(f"t_p{d}", _E31_K, where=f"pos <= {d}") for d in _E31_DIMS
    )
    tagged = " UNION ALL ".join(
        f"SELECT qid, {d} AS prefix_dim, vec_id FROM t_p{d}" for d in _E31_DIMS
    )
    recall = _sql_recall(
        "approx", _E31_K, by="qid, prefix_dim", grid="grid", exact="t_full",
        on="qid, vec_id",
    )
    return f"""
    WITH {_LONG},
    {_sql_query_block(_E31_Q)},
    {_sql_knn("t_full", _E31_K)},
    {prefixes},
    approx AS ({tagged}),
    grid AS (SELECT DISTINCT qid, prefix_dim
             FROM q CROSS JOIN {_sql_values("prefix_dim", _E31_DIMS)})
    SELECT * EXCLUDE (k) FROM ({recall})
    """


@query(
    "e31_matryoshka_recall",
    oracle=_e31_oracle(),
    doc="Matryoshka prefix-dimension recall audit (MRL — Kusupati et al. "
    "2022, arXiv 2205.13147, public): exact top-10 cosine neighbors "
    "computed at embedding PREFIXES (8/16/32 of 64 dims) vs the "
    "full-dimension exact top-10, per-query recall@10 for each prefix — "
    "the measurement that decides how far a deployment can truncate "
    "stored vectors before retrieval quality pays. The SWEEP "
    "generalization of e16 (which gates one query at the single 32-dim "
    "point): a query batch x a dim grid yields the full storage/recall "
    "frontier curve, not one sample of it. Reuses the e09 batch-kNN "
    "kernel at each prefix: ONE "
    "corpus scan per prefix with the 8-query block broadcast, per-query "
    "window cut, integer hit counts joined against the full-dim list — "
    "deterministic end to end, so recall itself is hash-gated (e11's "
    "audit discipline, extended across the dim axis).",
)
def e31_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = tbl(spark, sf_dir, "embeddings")
    full = batch_knn(emb, n_queries=_E31_Q, k=_E31_K).select("qid", "vec_id")
    approx = reduce(
        DataFrame.unionByName,
        [
            batch_knn(
                emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding")),
                n_queries=_E31_Q,
                k=_E31_K,
            ).select("qid", F.lit(d).alias("prefix_dim"), "vec_id")
            for d in _E31_DIMS
        ],
    )
    return _query_grid_recall(spark, approx, full, "prefix_dim", _E31_DIMS, _E31_K)


def _query_grid_recall(
    spark: SparkSession,
    approx: DataFrame,
    full: DataFrame,
    col: str,
    values: tuple[int, ...],
    k: int,
) -> DataFrame:
    """(qid, ``col``, n_hits, recall) for every query of ``full`` (qid,
    vec_id) and every ``col`` value: recall@k of ``approx`` (qid, ``col``,
    vec_id) against ``full``. All sides are Q*k rows or fewer, so the
    broadcasts are constant-bounded, never corpus-sized."""
    axis = spark.createDataFrame([(v,) for v in values], f"{col} int")
    grid = full.select("qid").distinct().crossJoin(F.broadcast(axis))
    return recall_at_k(approx, full, k, by=("qid", col), grid=grid).drop("k")


# --- quantization-bits recall sweep ------------------------------------------
_E32_LEVELS = ((8, 127), (4, 7))  # (bits, max symmetric code)
_E32_Q = 8
_E32_K = 10
#: The 6dp cosine of BIGINT code dot products, best first.
_BY_CODE_COS = """ROUND(CAST(dot AS DOUBLE)
                       / (SQRT(CAST(n2 AS DOUBLE)) * SQRT(CAST(q2 AS DOUBLE))), 6) DESC"""


def _e32_code_cte(tag: str, cmax: int) -> str:
    """Quantized-code kNN CTE pair: integer-code dot products are exact
    BIGINTs, and sqrt is correctly rounded in IEEE-754, so the cosine —
    and therefore the ranking — is bit-deterministic on both engines
    with no decimal accumulators needed."""
    return f"""
    c_{tag} AS (SELECT e.vec_id, e.pos,
                       CAST(floor(e.v * {cmax}.0 / amax + 0.5) AS BIGINT)
                         AS code
                FROM e JOIN amax USING (pos)),
    qq_{tag} AS (SELECT vec_id AS qid, pos, code AS qcode FROM c_{tag}
                 WHERE vec_id < {_E32_Q}),
    d_{tag} AS (
      SELECT qid, vec_id,
             CAST(SUM(code * qcode) AS BIGINT) AS dot,
             CAST(SUM(code * code) AS BIGINT) AS n2,
             CAST(SUM(qcode * qcode) AS BIGINT) AS q2
      FROM c_{tag} JOIN qq_{tag} USING (pos)
      WHERE vec_id <> qid GROUP BY qid, vec_id),
    {_sql_top(f"t_{tag}", f"d_{tag}", _BY_CODE_COS, _E32_K, "n2 > 0 AND q2 > 0", by="qid")}"""


def _e32_oracle() -> str:
    code_ctes = ",".join(
        _e32_code_cte(f"b{bits}", cmax) for bits, cmax in _E32_LEVELS
    )
    tagged = " UNION ALL ".join(
        f"SELECT qid, {bits} AS bits, vec_id FROM t_b{bits}" for bits, _ in _E32_LEVELS
    )
    bits = _sql_values("bits", [b for b, _ in _E32_LEVELS])
    recall = _sql_recall(
        "approx", _E32_K, by="qid, bits", grid="grid", exact="t_full",
        on="qid, vec_id",
    )
    return f"""
    WITH {_LONG},
    {_AMAX},
    {_sql_query_block(_E32_Q)},
    {_sql_knn("t_full", _E32_K)},
    {code_ctes},
    approx AS ({tagged}),
    grid AS (SELECT DISTINCT qid, bits FROM q CROSS JOIN {bits})
    SELECT * EXCLUDE (k) FROM ({recall})
    """


@query(
    "e32_quantization_recall_sweep",
    oracle=_e32_oracle(),
    doc="Quantization-bits recall sweep: exact top-10 cosine under int8 "
    "and int4 symmetric per-dim quantization (e07's floor(x+0.5) "
    "construction) vs the full-precision top-10, per-query recall@10 "
    "per bit width — with e31's prefix-dim sweep this completes the "
    "storage/recall frontier (truncate dims x shrink cells), the two "
    "knobs a 100 TB vector store actually turns. Determinism without "
    "decimal accumulators: integer CODE dot products are exact BIGINTs "
    "and IEEE sqrt is correctly rounded, so the quantized cosines — and "
    "the ranking — are bit-identical on both engines (the no-libm "
    "discipline; sqrt is the one libm function IEEE-754 pins). One "
    "corpus scan per bit width with the 8-query code block joined "
    "pos-wise; per-query WindowGroupLimit cuts.",
)
def e32_quantization_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.functions.vectors import explode_vector
    from goodreads_pyspark_spark.operators.partitioning import fan_out
    from goodreads_pyspark_spark.similarity.ann import batch_knn

    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    full = batch_knn(emb, n_queries=_E32_Q, k=_E32_K).select("qid", "vec_id")
    e = explode_vector(emb, "vec_id").withColumn("pos", F.col("pos") + 1)
    amax = e.groupBy("pos").agg(
        F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("amax")
    )
    ea = e.join(amax, "pos")
    approx = []
    for bits, cmax in _E32_LEVELS:
        codes = ea.select(
            "vec_id",
            "pos",
            F.floor(F.col("v") * float(cmax) / F.col("amax") + 0.5)
            .cast("bigint")
            .alias("code"),
        )
        qcodes = codes.filter(F.col("vec_id") < _E32_Q).select(
            F.col("vec_id").alias("qid"), "pos", F.col("code").alias("qcode")
        )
        d = (
            codes.join(F.broadcast(qcodes), "pos")
            .filter(F.col("vec_id") != F.col("qid"))
            .groupBy("qid", "vec_id")
            .agg(
                F.sum(F.col("code") * F.col("qcode")).cast("bigint").alias("dot"),
                F.sum(F.col("code") * F.col("code")).cast("bigint").alias("n2"),
                F.sum(F.col("qcode") * F.col("qcode")).cast("bigint").alias("q2"),
            )
            .filter((F.col("n2") > 0) & (F.col("q2") > 0))
        )
        cos = F.round(
            F.col("dot").cast("double")
            / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("q2").cast("double"))),
            6,
        )
        w = Window.partitionBy("qid").orderBy(cos.desc(), F.col("vec_id"))
        approx.append(
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= _E32_K)
            .select("qid", F.lit(bits).alias("bits"), "vec_id")
        )
    return _query_grid_recall(
        spark,
        reduce(DataFrame.unionByName, approx),
        full,
        "bits",
        tuple(b for b, _ in _E32_LEVELS),
        _E32_K,
    )


# --- residual IVF-PQ (IVFADC) search -----------------------------------------
@query(
    "e33_ivfpq_residual_adc",
    oracle=f"""
    WITH {_LONG},
    {_SQL_IVFPQ},
    {_sql_ivfpq_search(3, 2)}
    SELECT vec_id, CAST(ccid AS INTEGER) AS cell, adc_d2
    FROM adc2 ORDER BY adc_d2, vec_id LIMIT 10
    """,
    doc="Residual-encoded IVF-PQ search — the full IVFADC structure "
    "(Jegou, Douze & Schmid 2011, public; FAISS IndexIVFPQ) that e06 "
    "(IVF routing) and e14 (flat-PQ ADC) each cover half of: vectors "
    "route to a coarse cell, PQ encodes the RESIDUAL v - c(v) (same "
    "code budget, far more precision near the origin), and search "
    "builds a PER-PROBED-CELL LUT from the query's residual against "
    "that cell. Top-10 for query vec_id=3 probing 2 of 8 cells, "
    "4x16-dim subspaces, 16 residual codewords. Deterministic sampled "
    "centroids/codewords (the e08/e10 convention) let the oracle "
    "replay routing, residual encode and per-cell ADC bit-exactly "
    "(decimal-exact distance sums, id tiebreaks). Scale shape: "
    "centroids, codebooks and the nprobe*4*16-row LUT broadcast; "
    "shuffles carry (id, cell/sub, cid, distance) rows only; the "
    "candidate restriction is the enc-to-LUT broadcast join on the "
    "probed cells — raw vectors are never rescanned at query time.",
)
def e33_ivfpq_residual_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import ivfpq_adc_topk

    emb = tbl(spark, sf_dir, "embeddings")
    with _released() as caches:
        return _materialize(
            "e33_ivfpq_residual_adc",
            ivfpq_adc_topk(
                emb, query_id=3, k=10, nlist=8, nprobe=2, n_sub=4, sub_dim=16,
                ksub=16, cache_registry=caches,
            ),
        )


# --- IVFADC recall audit -----------------------------------------------------
@query(
    "e34_ivfpq_recall_audit",
    oracle=f"""
    WITH {_LONG},
    {_SQL_IVFPQ},
    {_sql_ivfpq_search(3, 2)},
    {_sql_top("ivfpq", "adc2", "adc_d2", 10)},
    {_sql_query(3)},
    {_sql_pq(3)},
    {_sql_top("flat", "adc", "adc_d2", 10)},
    {_sql_l2("l2", 3)},
    {_sql_top("exact", "l2", "d2", 10)}
    SELECT a.k, a.n_hits AS ivfpq_hits, a.recall AS ivfpq_recall,
           b.n_hits AS flatpq_hits, b.recall AS flatpq_recall
    FROM ({_sql_recall("ivfpq", 10)}) a, ({_sql_recall("flat", 10)}) b
    """,
    doc="IVFADC quality audit: recall@10 of the residual IVF-PQ search "
    "(e33, nprobe=2 of 8) AND of flat-PQ ADC (the e14 kernel, same "
    "query vec_id=3) against the exact L2 top-10, side by side — the "
    "e11/e12/e15 'measure, don't guess' discipline applied to the "
    "completed index family. The pair of numbers separates the two "
    "error sources the combined index carries: routing loss (probing 2 "
    "cells) and code loss (16 codewords x 4 subspaces), vs flat PQ's "
    "code loss alone. All three rankings are deterministic, so both "
    "recall values are hash-gated, not banded. Scale shape: three "
    "already-audited kernels + two 10-row joins.",
)
def e34_ivfpq_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import (
        exact_l2_knn,
        ivfpq_adc_topk,
        pq_adc_topk,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    exact = exact_l2_knn(emb, query_id=3, k=10).select("vec_id")
    flat = recall_at_k(pq_adc_topk(emb, query_id=3, k=10).select("vec_id"), exact, 10)
    with _released() as caches:
        ivfpq = ivfpq_adc_topk(emb, query_id=3, k=10, cache_registry=caches)
        out = recall_at_k(ivfpq.select("vec_id"), exact, 10).crossJoin(
            F.broadcast(
                flat.select(
                    F.col("n_hits").alias("flatpq_hits"),
                    F.col("recall").alias("flatpq_recall"),
                )
            )
        )
        return _materialize(
            "e34_ivfpq_recall_audit",
            out.select(
                "k",
                F.col("n_hits").alias("ivfpq_hits"),
                F.col("recall").alias("ivfpq_recall"),
                "flatpq_hits",
                "flatpq_recall",
            ),
        )


# --- IVFADC nprobe recall curve ----------------------------------------------
def _e35_oracle(probes: tuple[int, ...] = (1, 4, 8), k: int = 10) -> str:
    searches = ",\n    ".join(_sql_ivfpq_search(3, p) for p in probes)
    tops = ",\n    ".join(_sql_top(f"top{p}", f"adc{p}", "adc_d2", k) for p in probes)
    tagged = " UNION ALL ".join(
        f"SELECT {p} AS nprobe, vec_id FROM top{p}" for p in probes
    )
    return f"""
    WITH {_LONG},
    {_SQL_IVFPQ},
    {searches},
    {tops},
    {_sql_query(3)},
    {_sql_l2("l2", 3)},
    {_sql_top("exact", "l2", "d2", k)},
    approx AS ({tagged})
    {_sql_recall("approx", k, by="nprobe", grid=_sql_values("nprobe", probes))}
    """


@query(
    "e35_ivfpq_nprobe_curve",
    oracle=_e35_oracle(),
    doc="The nprobe dial for the combined IVFADC index (e33): recall@10 "
    "vs the exact L2 top-10 at probe depths 1/4/8 of 8 cells — e19's "
    "probe-depth discipline applied to the residual-PQ index. ONE "
    "assignment pass and ONE residual-encode pass serve the whole "
    "curve (similarity/quantize.py ivfpq_recall_curve; each depth adds "
    "only its own broadcast LUT build and ADC ranking). At nprobe=8 "
    "(== nlist) routing loss vanishes and the residual remaining gap "
    "is pure code loss — together with e34's flat-PQ column this "
    "separates all three error sources of the production index. All "
    "rankings deterministic, recalls hash-gated. Scale shape: the "
    "index build is e33's; per depth only nprobe*4*16 LUT rows and "
    "the code-table ADC join are added.",
)
def e35_ivfpq_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.quantize import ivfpq_recall_curve

    emb = tbl(spark, sf_dir, "embeddings")
    with _released() as caches:
        return _materialize(
            "e35_ivfpq_nprobe_curve",
            ivfpq_recall_curve(
                emb, query_id=3, k=10, probes=(1, 4, 8), nlist=8,
                n_sub=4, sub_dim=16, ksub=16, cache_registry=caches,
            ),
        )
