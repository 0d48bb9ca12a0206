"""Driver-gated graph queries (SURVEY.md §2.12) — degrees, motifs, label
propagation, PageRank over a testdata-derived graph, each with a DuckDB
oracle.

The graph is the bipartite order→part structure from ``lineitem``
(``l_orderkey → l_partkey + 10_000_000``) — the same shape as the
reference's user→book ratings graph (goodreads.py:473-489) at testdata
scale.

Oracle strategy for the iterative algorithms: both LPA and the scaled
PageRank use only integer arithmetic (counts / fixed-point bigints), so a
DuckDB CTE unrolling the same fixed number of supersteps reproduces every
value bit-for-bit — no float-accumulation-order divergence possible.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.graph.frames import graph_of, undirected
from goodreads_pyspark_spark.graph.pregel import label_propagation, pagerank_scaled
from goodreads_pyspark_spark.operators.partitioning import fan_out
from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import (
    _materialize,
    _released,
    session_memo,
    sql_cc_labels,
    tbl,
)
from goodreads_pyspark_spark.queries.timeseries import T14_MAX_BASKET

#: Part-vertex id offset — disjoint id spaces, the reference's +100000 trick.
_OFFSET = 10_000_000

#: The 1-in-5-orderkey subgraph (g05, g14, g15, g18): same bipartite
#: shape, more components (sparser), and bench-sized round counts. Like
#: every fixture predicate here, one lineitem filter read by both engines.
_SAMPLE = "l_orderkey % 5 = 0"


def _sql_graph(
    where: str = "TRUE", *, vertices: bool = False, und: bool = False, **extra: str
) -> str:
    """The order→part test graph as CTEs: ``edges`` (src, dst, *extra)
    of the lineitem rows matching ``where`` (``extra`` maps a column name
    to its SQL over lineitem) and, for callers that read them,
    ``vertices`` (id) — their distinct endpoints — and ``und`` (src, dst,
    *extra), both directions of every edge. MATERIALIZED: the iterative
    oracles reference these CTEs once per unrolled round; without
    materialization DuckDB re-plans each reference as a fresh parquet
    scan and can exhaust file descriptors. DuckDB builds a materialized
    CTE even when nothing reads it, hence the flags. Mirror of ``_edges``
    with ``graph_of``/``undirected``."""
    cols = "".join(f", {sql} AS {name}" for name, sql in extra.items())
    rest = "".join(f", {name}" for name in extra)
    ctes = [
        f"""edges AS MATERIALIZED (SELECT l_orderkey AS src, l_partkey + {_OFFSET} AS dst{cols}
              FROM lineitem WHERE {where})"""
    ]
    if vertices:
        ctes.append("""vertices AS MATERIALIZED (SELECT src AS id FROM edges
                 UNION
                 SELECT dst AS id FROM edges)""")
    if und:
        ctes.append(f"""und AS MATERIALIZED (SELECT src, dst{rest} FROM edges
            UNION ALL SELECT dst, src{rest} FROM edges)""")
    return "\n    " + ",\n    ".join(ctes) + "\n"


def _edges(
    spark: SparkSession, sf_dir: str, where: str = "TRUE", **extra: Column
) -> DataFrame:
    """(src, dst, *extra) edges of the lineitem rows matching ``where``:
    order ``l_orderkey`` → part ``l_partkey + _OFFSET``. Mirror of
    ``_sql_graph``."""
    return (
        tbl(spark, sf_dir, "lineitem")
        .filter(where)
        .select(
            F.col("l_orderkey").alias("src"),
            (F.col("l_partkey") + _OFFSET).alias("dst"),
            *[c.alias(name) for name, c in extra.items()],
        )
    )


# --- G2: degrees ------------------------------------------------------------
@query(
    "g01_degrees",
    oracle=f"""
    WITH {_sql_graph()},
    deg AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT src AS id FROM edges
                  UNION ALL SELECT dst FROM edges) GROUP BY id),
    ind AS (SELECT dst AS id, CAST(COUNT(*) AS BIGINT) AS in_degree
            FROM edges GROUP BY dst),
    outd AS (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS out_degree
             FROM edges GROUP BY src)
    SELECT d.id, d.degree,
           CAST(COALESCE(in_degree, 0) AS BIGINT) AS in_degree,
           CAST(COALESCE(out_degree, 0) AS BIGINT) AS out_degree
    FROM deg d LEFT JOIN ind USING (id) LEFT JOIN outd USING (id)
    """,
    doc="G2 degrees/inDegrees/outDegrees (graph/frames.py:30-44; reference "
    "goodreads.py:547,552): three groupBy-counts joined per vertex — "
    "degree counting IS aggregation, no graph machinery needed.",
)
def g01_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_of(_edges(spark, sf_dir))
    d = g.degrees()
    i = g.in_degrees().withColumnRenamed("inDegree", "in_degree")
    o = g.out_degrees().withColumnRenamed("outDegree", "out_degree")
    return (
        d.join(i, "id", "left")
        .join(o, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
        )
    )


# --- G5: motif find (k edges sharing a destination) -------------------------
@query(
    "g02_motif_common_dst",
    oracle=f"""
    WITH {_sql_graph()},
    pairs AS (SELECT a.src AS u1, b.src AS u2, a.dst AS b
              FROM edges a JOIN edges b ON a.dst = b.dst)
    SELECT b, CAST(COUNT(*) AS BIGINT) AS n_motifs
    FROM pairs GROUP BY b
    ORDER BY n_motifs DESC, b LIMIT 100
    """,
    doc="G5 motif find('(u1)-[]->(b); (u2)-[]->(b)') — ordered edge pairs "
    "sharing a destination (graph/frames.py:62; reference "
    "goodreads.py:582), aggregated per hub. GraphFrames semantics: "
    "tuples may repeat vertices/edges, so a hub with in-degree m "
    "contributes m² rows.",
)
def g02_motif_common_dst(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_of(_edges(spark, sf_dir))
    motifs = g.common_dst_motif(k=2)
    return (
        motifs.groupBy("b")
        .agg(F.count(F.lit(1)).alias("n_motifs"))
        .orderBy(F.col("n_motifs").desc(), F.col("b"))
        .limit(100)
    )


# --- G7: label propagation (2 synchronous rounds, deterministic ties) -------
def _lpa_oracle(rounds: int = 2) -> str:
    steps = []
    for r in range(1, rounds + 1):
        steps.append(f"""
    n{r} AS MATERIALIZED (SELECT b.src AS id, l.label, COUNT(*) AS n
             FROM und b JOIN l{r - 1} l ON l.id = b.dst
             GROUP BY 1, 2),
    b{r} AS (SELECT id, label FROM (
               SELECT id, label,
                      ROW_NUMBER() OVER (PARTITION BY id
                        ORDER BY n DESC, label ASC) AS rn
               FROM n{r}) WHERE rn = 1),
    l{r} AS MATERIALIZED (SELECT v.id, COALESCE(b{r}.label, v.id) AS label
             FROM l{r - 1} v LEFT JOIN b{r} USING (id))""")
    return f"""
    WITH {_sql_graph(vertices=True, und=True)},
    l0 AS MATERIALIZED (SELECT id, id AS label FROM vertices),{",".join(steps)}
    SELECT id, CAST(label AS BIGINT) AS label FROM l{rounds}
    """


@query(
    "g03_lpa_labels",
    oracle=_lpa_oracle(rounds=2),
    doc="G7 label propagation, 2 synchronous rounds (graph/pregel.py "
    "label_propagation; reference goodreads.py:594-599). Ties break to "
    "the smallest label — a deterministic pin GraphX leaves to map "
    "order — so integer counts make the unrolled DuckDB CTE exact.",
)
def g03_lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_of(_edges(spark, sf_dir))
    return label_propagation(g, max_iter=2).select(
        "id", F.col("label").cast("bigint").alias("label")
    )


# --- G8: PageRank (fixed-point integer arithmetic, 3 supersteps) ------------
#: PPR seed predicate — order vertices whose key is a multiple of 50.
_PPR_SEED_MOD = 50
_PPR_SEEDS = f"id < {_OFFSET} AND id % {_PPR_SEED_MOD} = 0"


def _sql_pagerank(
    n_iter: int = 3, seeds: str = "TRUE", columns: str = "pr AS pr_scaled"
) -> str:
    """Unrolled fixed-point (personalized) PageRank recurrence with the
    reset mass confined to the vertices matching ``seeds``: seeds get
    scale at t0 and the full teleport term each round; non-seeds only
    accumulate damped messages. ``seeds`` TRUE is global PageRank (the
    ``pagerank_scaled`` = all-seeds PPR identity). Pure BIGINT
    arithmetic, so every score matches bit-for-bit. ``columns`` is the
    final projection over (id, pr). Scores are scaled by 1e12."""
    scale = 10**12
    reset = (15 * scale) // 100
    steps = []
    for r in range(1, n_iter + 1):
        steps.append(f"""
    m{r} AS MATERIALIZED (SELECT e.dst AS id, SUM(p.pr // d.outdeg) AS msg
             FROM edges e
             JOIN p{r - 1} p ON p.id = e.src
             JOIN outd d ON d.id = e.src
             GROUP BY e.dst),
    p{r} AS MATERIALIZED (SELECT s.id,
                    CAST(s.is_seed * {reset}
                         + (85 * COALESCE(m{r}.msg, 0)) // 100
                         AS BIGINT) AS pr
             FROM seeds s LEFT JOIN m{r} USING (id))""")
    return f"""
    WITH {_sql_graph(vertices=True)},
    outd AS MATERIALIZED (SELECT src AS id, COUNT(*) AS outdeg FROM edges GROUP BY src),
    seeds AS MATERIALIZED (SELECT id,
                    CASE WHEN {seeds} THEN 1 ELSE 0 END AS is_seed
             FROM vertices),
    p0 AS MATERIALIZED (SELECT id, CAST(is_seed * {scale} AS BIGINT) AS pr
                        FROM seeds),{",".join(steps)}
    SELECT id, {columns} FROM p{n_iter}
    """


# --- connected components (alternating star contraction) --------------------
#: Pointer-doubling rounds of the CC oracles: 12 rounds ⇒ radius 8191.
#: 8 rounds (radius 255) was NOT enough at sf0.1 — the sparser 1-in-5
#: subgraph grows chains past it and the oracle under-converged while
#: Spark's alternating contraction reached the true fixpoint (caught by
#: the local sf0.1 sweep; the margin now covers any plausible testdata
#: scale).
_CC_ROUNDS = 12


def _sql_components(where: str) -> str:
    """Min-label fixpoint (component = min reachable id) of the test
    graph's ``where`` edges, as (id, component)."""
    return f"""
    WITH {_sql_graph(where, vertices=True, und=True)},
    {sql_cc_labels("und", "SELECT id, id AS label FROM vertices", _CC_ROUNDS)}
    SELECT id, CAST(label AS BIGINT) AS component FROM l{_CC_ROUNDS}
    """


@query(
    "g05_connected_components",
    oracle=_sql_components(_SAMPLE),
    doc="Connected components via alternating large-star/small-star "
    "contraction (graph/pregel.py connected_components_alternating; "
    "Kiveris et al. SoCC'14), O(log² n) rounds vs hash-min's "
    "O(diameter). Oracle: DuckDB unrolled min-propagation with pointer "
    "doubling — both engines reach the algorithm-independent fixpoint "
    "(component = min reachable id), so the gate checks the labels "
    "exactly despite the different algorithms.",
)
def g05_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )

    g = graph_of(_edges(spark, sf_dir, _SAMPLE))
    return connected_components_alternating(g).select(
        "id", F.col("component").cast("bigint").alias("component")
    )


@query(
    "g04_pagerank",
    oracle=_sql_pagerank(n_iter=3),
    doc="G8 PageRank, 3 fixed supersteps in 1e12 fixed-point integers "
    "(graph/pregel.py pagerank_scaled; reference goodreads.py:618-619). "
    "Integer addition is exact and order-independent, so the unrolled "
    "DuckDB recurrence matches every score bit-for-bit — the decimal-"
    "accumulation answer to float PageRank's partition-order drift.",
)
def g04_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = graph_of(_edges(spark, sf_dir))
    return pagerank_scaled(g, n_iter=3)


# --- G6: BFS shortest paths -------------------------------------------------
@query(
    "g06_bfs_shortest_paths",
    oracle=f"""
    WITH RECURSIVE {_sql_graph(und=True)},
    src AS (SELECT MIN(l_orderkey) AS id FROM lineitem),
    walk(endv, path, len) AS (
      SELECT id, [id], 0 FROM src
      UNION ALL
      SELECT e.dst, list_append(w.path, e.dst), w.len + 1
      FROM walk w JOIN und e ON e.src = w.endv
      WHERE w.len < 3 AND NOT list_contains(w.path, e.dst)
    ),
    hits AS (SELECT * FROM walk WHERE endv >= {_OFFSET} AND endv % 100 = 7)
    SELECT (SELECT id FROM src) AS start_id, endv AS end_id,
           CAST(len AS INTEGER) AS length,
           array_to_string(path, '-') AS path_str
    FROM hits WHERE len = (SELECT MIN(len) FROM hits)
    """,
    doc="G6 BFS (graph/pregel.py bfs; reference goodreads.py:588): all "
    "shortest paths from the min order vertex to any part vertex with "
    "partkey%100=7, over the symmetrized edge set, max 3 hops. Both "
    "engines enumerate simple paths (within-path cycle pruning only) "
    "and keep the first hit level, so the path multisets — including "
    "parallel-edge duplicates, GraphFrames semantics — match exactly. "
    "Path arrays flatten to strings for the driver canon (the q05 "
    "array-cell lesson).",
)
def g06_bfs_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import bfs

    edges = _edges(spark, sf_dir)
    start = edges.agg(F.min("src")).first()[0]
    res = bfs(
        graph_of(undirected(edges)),
        f"id = {start}",
        f"id >= {_OFFSET} AND id % 100 = 7",
        max_path_length=3,
    )
    return res.select(
        F.col("start").alias("start_id"),
        F.col("end").alias("end_id"),
        F.col("length").cast("int").alias("length"),
        F.array_join(
            F.transform("path", lambda x: x.cast("string")), "-"
        ).alias("path_str"),
    )


# --- G-extension: triangle counting ------------------------------------------
@session_memo
def _copart_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT part co-occurrence pairs (src < dst) from the lineitem
    self-join, shared by g07/g08/g11/g12. Mirror of ``_SQL_COPART``."""
    li = fan_out(tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("dst"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


#: The co-part graph as CTEs: ``pairs`` (pa < pb, distinct), the same
#: pairs as ``_copart_pairs``; ``_SQL_COPART_DEG`` adds ``deg`` (id, d);
#: ``_SQL_COPART_ORIENTED`` adds ``o`` (lo, hi), each pair oriented by
#: (degree, id) — the ``triangle_count`` orientation.
_SQL_COPART = """pairs AS (
      SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""
_SQL_COPART_DEG = f"""{_SQL_COPART},
    deg AS (SELECT id, COUNT(*) AS d FROM (
              SELECT pa AS id FROM pairs UNION ALL SELECT pb AS id FROM pairs)
            GROUP BY id)"""
_SQL_COPART_ORIENTED = f"""{_SQL_COPART_DEG},
    o AS (SELECT CASE WHEN (da.d, pa) < (db.d, pb) THEN pa ELSE pb END AS lo,
                 CASE WHEN (da.d, pa) < (db.d, pb) THEN pb ELSE pa END AS hi
          FROM pairs JOIN deg da ON da.id = pa JOIN deg db ON db.id = pb)"""


@query(
    "g07_triangle_count",
    oracle=f"""
    WITH {_SQL_COPART_ORIENTED},
    tri AS (SELECT COUNT(*) AS n_triangles
            FROM o e1 JOIN o e2 ON e2.lo = e1.hi
                      JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_vertices,
           CAST((SELECT COUNT(*) FROM o) AS BIGINT) AS n_edges,
           CAST(n_triangles AS BIGINT) AS n_triangles FROM tri
    """,
    doc="Exact triangle count of the part co-occurrence graph (parts "
    "sharing an order) by degree-ordered forward counting "
    "(graph/frames.py triangle_count). The co-occurrence projection is "
    "the bipartite graph's one-mode projection — the same construction "
    "as item-item graphs from user-item ratings. Integer-only output.",
)
def g07_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.frames import triangle_count

    return triangle_count(_copart_pairs(spark, sf_dir), pre_deduped=True)


# --- G-extension: fixed-round k-core peeling ---------------------------------
_KCORE_K = 90
_KCORE_ROUNDS = 3


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    ctes = [f"{_SQL_COPART},\n    e0 AS (SELECT pa AS a, pb AS b FROM pairs)"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""d{r} AS (SELECT id, COUNT(*) AS d FROM (
              SELECT a AS id FROM e{r - 1}
              UNION ALL SELECT b AS id FROM e{r - 1}) GROUP BY id),
    k{r} AS (SELECT id FROM d{r} WHERE d >= {k}),
    e{r} AS (SELECT e{r - 1}.* FROM e{r - 1}
             JOIN k{r} ka ON ka.id = e{r - 1}.a
             JOIN k{r} kb ON kb.id = e{r - 1}.b)"""
        )
    joined = ",\n    ".join(ctes)
    return f"""
    WITH {joined}
    SELECT id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      SELECT a AS id FROM e{rounds}
      UNION ALL SELECT b AS id FROM e{rounds}) GROUP BY id
    """


@query(
    "g08_kcore_trim",
    oracle=_kcore_oracle(),
    doc=f"Fixed-round k-core peeling (graph/frames.py kcore_trim): {_KCORE_ROUNDS} "
    f"rounds of drop-degree<{_KCORE_K} on the part co-occurrence graph, "
    "survivors with final degree. Fixed rounds make the iterative "
    "algorithm a deterministic input function replayable as an "
    "unrolled integer-exact CTE chain — the engine's LPA/PageRank "
    "oracle discipline. Each round is two keyed aggregations + two "
    "semi-joins over a monotonically shrinking edge set.",
)
def g08_kcore_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.frames import kcore_trim

    return kcore_trim(
        _copart_pairs(spark, sf_dir),
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
        pre_deduped=True,
    )


# --- G-extension: weighted SSSP, fixed Bellman-Ford rounds -------------------
_SSSP_ROUNDS = 3


def _sql_relax(seeds: str, rounds: int, w: str = "1") -> str:
    """CTEs ``d0`` .. ``d{rounds}``: (seed, id, dist) after ``rounds``
    synchronous min-plus relaxations over ``und`` from every id of the
    ``seeds`` query, an edge costing ``w`` (SQL over ``und``). Mirror of
    the one relaxation loop behind ``sssp_rounds`` and
    ``multi_source_bfs``."""
    ctes = [f"d0 AS (SELECT id AS seed, id, CAST(0 AS BIGINT) AS dist FROM ({seeds}))"]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""m{r} AS (SELECT d.seed, und.dst AS id, MIN(d.dist + {w}) AS nd
             FROM und JOIN d{r - 1} d ON d.id = und.src
             GROUP BY d.seed, und.dst),
    d{r} AS MATERIALIZED (
        SELECT COALESCE(d.seed, m.seed) AS seed,
               COALESCE(d.id, m.id) AS id,
               CASE WHEN d.dist IS NULL THEN m.nd
                    WHEN m.nd IS NULL THEN d.dist
                    ELSE LEAST(d.dist, m.nd) END AS dist
        FROM d{r - 1} d FULL JOIN m{r} m ON m.id = d.id AND m.seed = d.seed)"""
        )
    return ",\n    ".join(ctes)


@query(
    "g09_sssp_rounds",
    oracle=f"""
    WITH {_sql_graph(und=True, w="CAST(l_quantity AS BIGINT)")},
    {_sql_relax("SELECT MIN(src) AS id FROM edges", _SSSP_ROUNDS, "und.w")}
    SELECT id, dist FROM d{_SSSP_ROUNDS}
    """,
    doc=f"Weighted single-source shortest paths, {_SSSP_ROUNDS} synchronous "
    "Bellman-Ford rounds from the minimum order vertex over the "
    "undirected bipartite order-part graph with l_quantity weights "
    "(graph/pregel.py sssp_rounds). Fixed rounds + integer weights "
    "make the frontier expansion replayable as an unrolled min-plus "
    "CTE chain, bit-exact — the weighted companion to g06's BFS.",
)
def g09_sssp_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import sssp_rounds

    edges = fan_out(_edges(spark, sf_dir, w=F.col("l_quantity").cast("bigint")))
    source = edges.agg(F.min("src").alias("id"))
    return sssp_rounds(undirected(edges), source, rounds=_SSSP_ROUNDS)


# --- G-extension: personalized (topic-sensitive) PageRank --------------------
@contextmanager
def _reliable_checkpoint_dir(sc):
    """A temp dir for reliable checkpoints, removed on exit, with the
    context's checkpoint dir put back as it was. The dir is
    context-global: left pointing at the removed one, every later
    reliable checkpoint of the session recreates it and writes there
    (once a dir is set, ALS checkpoints its factors on its first
    iteration and every 10th: m01 did)."""
    prev, prev_raw = sc.getCheckpointDir(), getattr(sc, "_gps_checkpoint_dir", None)
    path = tempfile.mkdtemp(prefix="g10_ckpt_")
    try:
        yield path
    finally:
        # a set dir is "<raw>/<uuid>"; setting <raw> again gives a fresh uuid
        sc.setCheckpointDir(prev and os.path.dirname(prev))
        sc._gps_checkpoint_dir = prev_raw
        shutil.rmtree(path, ignore_errors=True)


@query(
    "g10_personalized_pagerank",
    oracle=_sql_pagerank(
        n_iter=3,
        seeds=_PPR_SEEDS,
        columns="pr AS ppr_scaled, TRUE AS ckpt_equals_local",
    ),
    doc="Personalized PageRank from the orderkey%50=0 seed set, 3 fixed "
    "supersteps in 1e12 fixed-point integers (graph/pregel.py "
    "personalized_pagerank_scaled). Same Pregel loop as g04 with the "
    "teleport mass confined to seeds — the query-anchored ranking/"
    "recommendation primitive. Vertices outside the seeds' 3-hop "
    "neighborhood score exactly 0; integer arithmetic keeps both "
    "engines bit-identical. Scale: per-superstep state is (id, "
    "bigint); overflow headroom is |seeds|*scale, not |V|*scale. "
    "Since r10 the gated run ALSO exercises the RELIABLE checkpoint "
    "path (frames._truncate with checkpoint_dir — the fault-tolerant "
    "mode a spot-executor cluster needs, VERDICT r9 item 6): the same "
    "PPR runs once with reliable checkpoint() and once with "
    "localCheckpoint, and the measured ckpt_equals_local boolean "
    "(oracle-pinned TRUE) asserts the two modes are bit-identical — "
    "checkpoint_every=1 forces a truncation every superstep so the "
    "reliable path is exercised three times, not just at the end.",
)
def g10_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import (
        personalized_pagerank_scaled,
        ppr_base,
    )

    from goodreads_pyspark_spark.operators.concurrency import run_concurrent

    g = graph_of(_edges(spark, sf_dir))
    # The edges/deg/seeds inputs are cached ONCE at this level and
    # released after both runs settle (ADVICE r12: per-run caches with
    # identical canonicalized plans are deduped by the CacheManager, so
    # the first run's finally-unpersist evicted entries the sibling was
    # still using — a silent nondeterministic recompute, never a wrong
    # result). The checkpoint-path independence the equality gate
    # certifies is untouched: both runs read identical base data by
    # construction; what differs is the truncation path.
    with _released() as caches, _reliable_checkpoint_dir(
        spark.sparkContext
    ) as ckpt_dir:
        base = ppr_base(g, _PPR_SEEDS)
        caches += [base["edges"], base["deg"], base["seeds"]]
        # the two checkpoint-mode runs are independent by construction
        # — that independence is what the equality gate certifies — so
        # their per-superstep job chains overlap on a driver thread pool
        # instead of running the same 3-round loop twice back-to-back
        reliable, local = run_concurrent(
            [
                lambda: personalized_pagerank_scaled(
                    g,
                    _PPR_SEEDS,
                    n_iter=3,
                    checkpoint_every=1,
                    checkpoint_dir=ckpt_dir,
                    base=base,
                ),
                lambda: personalized_pagerank_scaled(
                    g, _PPR_SEEDS, n_iter=3, checkpoint_every=1, base=base
                ).localCheckpoint(),
            ]
        )
        # bit-identity: same row count and zero (id, score) rows on
        # one side only — integer PPR is deterministic, so any
        # divergence is a checkpoint-path bug. Driver-side bounded
        # action (two counts), evaluated BEFORE the reliable
        # checkpoint dir is deleted.
        n_diff = (
            reliable.unionByName(local)
            .groupBy("id", "ppr_scaled")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") != 2)
            .count()
        )
    # return the local-mode frame (its blocks don't live in ckpt_dir)
    return local.select(
        "id", "ppr_scaled", F.lit(n_diff == 0).alias("ckpt_equals_local")
    )


# --- G-extension: per-vertex clustering coefficient --------------------------
@query(
    "g11_clustering_coefficient",
    oracle=f"""
    WITH {_SQL_COPART_ORIENTED},
    tri AS (SELECT e1.lo AS x, e1.hi AS y, e2.hi AS z
            FROM o e1 JOIN o e2 ON e2.lo = e1.hi
                      JOIN o e3 ON e3.lo = e1.lo AND e3.hi = e2.hi),
    pv AS (SELECT id, COUNT(*) AS t FROM (
             SELECT x AS id FROM tri UNION ALL SELECT y FROM tri
             UNION ALL SELECT z FROM tri) GROUP BY id)
    SELECT deg.id, CAST(d AS BIGINT) AS degree,
           CAST(COALESCE(t, 0) AS BIGINT) AS n_triangles,
           2.0 * COALESCE(t, 0) / (CAST(d AS DOUBLE) * (d - 1))
             AS clustering_coeff
    FROM deg LEFT JOIN pv ON deg.id = pv.id
    WHERE d >= 2
    """,
    doc="Per-vertex local clustering coefficient of the part "
    "co-occurrence graph (graph/frames.py clustering_coefficients): "
    "g07's degree-ordered forward counting with the intersection "
    "EXPLODED so each triangle attributes to its three corners — "
    "edge-linear + triangle-linear, the exact-count lower bound. "
    "cc = 2*tri/(d*(d-1)) from exact integers through identical "
    "double ops.",
)
def g11_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.frames import clustering_coefficients

    return clustering_coefficients(_copart_pairs(spark, sf_dir), pre_deduped=True)


# --- G-extension: exact degree distribution ----------------------------------
@query(
    "g12_degree_distribution",
    oracle=f"""
    WITH {_SQL_COPART_DEG}
    SELECT CAST(d AS BIGINT) AS degree,
           CAST(COUNT(*) AS BIGINT) AS n_vertices
    FROM deg GROUP BY d
    """,
    doc="Exact degree distribution of the part co-occurrence graph — the "
    "first thing to read before choosing join/skew strategy on any "
    "graph: a heavy-tail histogram here is what justifies g07/g11's "
    "degree-ordered orientation and the salting/AQE-skew machinery. "
    "Two integer aggregates, nothing else.",
)
def g12_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    deg = graph_of(_copart_pairs(spark, sf_dir)).degrees()
    return deg.groupBy(F.col("degree").cast("bigint").alias("degree")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vertices")
    )


# --- G-extension: link prediction (common neighbors + Jaccard) --------------
_G13_DEG_CAP = 40
_G13_MIN_SUPPORT = 2
_G13_TOP = 20


@query(
    "g13_link_prediction",
    oracle=f"""
    WITH ok_orders AS (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING COUNT(*) <= {T14_MAX_BASKET}),
    li AS (SELECT l.l_orderkey, l.l_partkey
           FROM lineitem l JOIN ok_orders USING (l_orderkey)),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING COUNT(*) >= {_G13_MIN_SUPPORT}),
    deg AS (SELECT id, COUNT(*) AS d FROM (
      SELECT pa AS id FROM pairs UNION ALL SELECT pb AS id FROM pairs)
      GROUP BY id),
    keep AS (SELECT id FROM deg WHERE d <= {_G13_DEG_CAP}),
    e AS (SELECT pa, pb FROM pairs
          JOIN keep ka ON ka.id = pa JOIN keep kb ON kb.id = pb),
    und AS (SELECT pa AS s, pb AS t FROM e
            UNION ALL SELECT pb AS s, pa AS t FROM e),
    cn AS (
      SELECT u1.t AS lo, u2.t AS hi, COUNT(*) AS common_cnt
      FROM und u1 JOIN und u2 ON u1.s = u2.s AND u1.t < u2.t
      GROUP BY u1.t, u2.t),
    nonadj AS (
      SELECT cn.* FROM cn
      WHERE NOT EXISTS (SELECT 1 FROM e
                        WHERE e.pa = cn.lo AND e.pb = cn.hi)),
    kd AS (SELECT id, COUNT(*) AS d FROM (
      SELECT pa AS id FROM e UNION ALL SELECT pb AS id FROM e) GROUP BY id)
    SELECT lo, hi, CAST(common_cnt AS BIGINT) AS common_cnt,
           CAST(common_cnt AS DOUBLE)
             / (d1.d + d2.d - common_cnt) AS jaccard
    FROM nonadj JOIN kd d1 ON d1.id = lo JOIN kd d2 ON d2.id = hi
    ORDER BY common_cnt DESC, lo, hi
    LIMIT {_G13_TOP}
    """,
    doc="Link prediction on the part co-occurrence graph: common-neighbor "
    "count and neighborhood Jaccard for the top non-adjacent pairs — "
    "the classic 'customers who bought X also bought Y' candidate "
    f"generator. THREE scale guards. (0) Orders with more than "
    f"{T14_MAX_BASKET} lineitems are dropped BEFORE the per-order pair "
    "self-join (reusing t14's basket cap), bounding every order's "
    "contribution at b(b-1)/2 pairs — TPC-H caps baskets at 7, but "
    "arbitrary 100 TB data does not, and one mega-order would "
    f"otherwise be quadratic. (1) Edges need co-occurrence "
    f"support >= {_G13_MIN_SUPPORT}: a raw co-occurrence graph "
    "DENSIFIES as data grows (10x the orders ~ 10x every part's "
    "degree), so single co-occurrences — which are noise for "
    "recommendation anyway — must be thresholded out or any fixed "
    "budget eventually empties/explodes; the support filter is what "
    "keeps the graph sparse at every sf (measured: ~4k edges at both "
    f"sf0.01 and sf0.1). (2) Vertices with degree > {_G13_DEG_CAP} "
    "are dropped BEFORE wedge enumeration (the hub-cap discipline of "
    "d06's max_df / LSH's max_bucket — wedge count is sum(deg²)). "
    "One wedge shuffle on the center vertex, one (lo,hi) count "
    "shuffle, an anti-join to drop existing edges; integer counts and "
    "a single exact-integer-derived division.",
)
def g13_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = fan_out(tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    ok = (
        raw.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__b"))
        .filter(F.col("__b") <= T14_MAX_BASKET)
        .select("l_orderkey")
    )
    li = raw.join(ok, "l_orderkey", "left_semi")
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("__sup"))
        .filter(F.col("__sup") >= _G13_MIN_SUPPORT)
        .select("pa", "pb")
    )
    deg = (
        pairs.select(F.col("pa").alias("id"))
        .unionAll(pairs.select(F.col("pb").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    keep = deg.filter(F.col("d") <= _G13_DEG_CAP).select("id")
    e = pairs.join(
        keep.withColumnRenamed("id", "pa"), "pa", "left_semi"
    ).join(keep.withColumnRenamed("id", "pb"), "pb", "left_semi")
    und = e.select(F.col("pa").alias("s"), F.col("pb").alias("t")).unionAll(
        e.select(F.col("pb").alias("s"), F.col("pa").alias("t"))
    )
    u1 = und.alias("u1")
    u2 = und.alias("u2")
    cn = (
        u1.join(
            u2,
            (F.col("u1.s") == F.col("u2.s")) & (F.col("u1.t") < F.col("u2.t")),
        )
        .groupBy(F.col("u1.t").alias("lo"), F.col("u2.t").alias("hi"))
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    nonadj = cn.join(
        e.select(F.col("pa").alias("lo"), F.col("pb").alias("hi")),
        ["lo", "hi"],
        "left_anti",
    )
    kd = (
        e.select(F.col("pa").alias("id"))
        .unionAll(e.select(F.col("pb").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    d1 = kd.select(F.col("id").alias("lo"), F.col("d").alias("d1"))
    d2 = kd.select(F.col("id").alias("hi"), F.col("d").alias("d2"))
    return (
        nonadj.join(d1, "lo")
        .join(d2, "hi")
        .select(
            "lo",
            "hi",
            F.col("common_cnt").cast("bigint").alias("common_cnt"),
            (
                F.col("common_cnt").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("common_cnt"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("common_cnt").desc(), "lo", "hi")
        .limit(_G13_TOP)
    )


# --- HITS hubs & authorities -------------------------------------------------
_HITS_SCALE = 10**6


def _hits_oracle(n_iter: int = 2, scale: int = _HITS_SCALE) -> str:
    """Unrolled fixed-point HITS: per round an in-edge hub sum, a HUGEINT
    ×scale sum-normalization (floor division — exact), then the symmetric
    out-edge authority sum. Same integer-recurrence strategy as
    ``_sql_pagerank``: every value matches Spark bit-for-bit."""
    steps = []
    for r in range(1, n_iter + 1):
        p = r - 1
        steps.append(f"""
    ar{r} AS MATERIALIZED (SELECT e.dst AS id, SUM(s.hub) AS araw
              FROM edges e JOIN s{p} s ON s.id = e.src GROUP BY e.dst),
    at{r} AS MATERIALIZED (SELECT SUM(araw) AS atot FROM ar{r}),
    a{r} AS MATERIALIZED (SELECT v.id,
                    CAST((CAST(COALESCE(ar.araw, 0) AS HUGEINT) * {scale})
                         // at.atot AS BIGINT) AS auth
             FROM vertices v LEFT JOIN ar{r} ar ON ar.id = v.id
             CROSS JOIN at{r} at),
    hr{r} AS MATERIALIZED (SELECT e.src AS id, SUM(a.auth) AS hraw
              FROM edges e JOIN a{r} a ON a.id = e.dst GROUP BY e.src),
    ht{r} AS MATERIALIZED (SELECT SUM(hraw) AS htot FROM hr{r}),
    s{r} AS MATERIALIZED (SELECT v.id,
                    CAST((CAST(COALESCE(hr.hraw, 0) AS HUGEINT) * {scale})
                         // ht.htot AS BIGINT) AS hub
             FROM vertices v LEFT JOIN hr{r} hr ON hr.id = v.id
             CROSS JOIN ht{r} ht)""")
    return f"""
    WITH {_sql_graph(_SAMPLE, vertices=True)},
    s0 AS MATERIALIZED (SELECT id, CAST({scale} AS BIGINT) AS hub
                        FROM vertices),{",".join(steps)}
    SELECT s.id, s.hub AS hub_scaled, a.auth AS auth_scaled
    FROM s{n_iter} s JOIN a{n_iter} a USING (id)
    """


@query(
    "g14_hits_scores",
    oracle=_hits_oracle(n_iter=2),
    doc="HITS hubs & authorities (Kleinberg 1999) in 1e6 fixed-point "
    "integers, 2 rounds (graph/pregel.py hits_scaled) — the classic "
    "companion to PageRank the graph stack lacked, and on this "
    "bipartite order→part graph exactly the co-HITS user-item "
    "importance shape. Each half-round is one edge⋈score join + one "
    "keyed sum + an integer sum-normalization against a broadcast "
    "one-row total; per-round cost is O(|E|) with no shuffle wider "
    "than the vertex id, same as g04 (run on the g05 1-in-5 "
    "subgraph to stay bench-sized). Integer floor-division "
    "normalization is exact and order-independent, so the unrolled "
    "DuckDB recurrence (HUGEINT rescale) matches bit-for-bit.",
)
def g14_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import hits_scaled

    g = graph_of(_edges(spark, sf_dir, _SAMPLE))  # bench-sized, like g05
    return hits_scaled(g, n_iter=2, scale=_HITS_SCALE)


# --- landmark harmonic centrality ---------------------------------------------
_G15_SEEDS = 4
_G15_ROUNDS = 3
#: LCM(1..3): 6 div dist is an exact integer for every reachable distance,
#: so the per-vertex harmonic sum is pure integer addition — order-free.
_G15_LCM = 6


@query(
    "g15_landmark_harmonic",
    oracle=f"""
    WITH {_sql_graph(_SAMPLE, und=True)},
    {_sql_relax(f"SELECT DISTINCT src AS id FROM edges ORDER BY id LIMIT {_G15_SEEDS}", _G15_ROUNDS)}
    SELECT id,
           CAST(COUNT(CASE WHEN dist > 0 THEN 1 END) AS BIGINT) AS n_reached,
           CAST(COALESCE(SUM(CASE WHEN dist > 0 THEN {_G15_LCM} // dist END), 0)
                AS BIGINT) AS harmonic_x{_G15_LCM}
    FROM d{_G15_ROUNDS} GROUP BY id
    """,
    doc="Landmark harmonic-centrality estimate: BFS from 4 deterministic "
    "landmark vertices at once (graph/pregel.py multi_source_bfs, the "
    "multi-source generalization of g09's relaxation loop) on the g05 "
    "1-in-5 subgraph, then per vertex the harmonic sum over reached "
    "landmarks. Exact closeness/harmonic centrality is O(V·E) — at "
    "scale everyone ships the landmark estimate (Eppstein-Wang shape) "
    "instead, and this is that operator. Exactness trick: distances "
    "within 3 rounds are in {{1,2,3}}, so the sum of LCM(1..3)/dist "
    "terms is pure INTEGER addition (harmonic_x6) — order-independent, "
    "bit-equal to the unrolled DuckDB recurrence, no float harmonic "
    "drift. One loop costs O(|E|·|seeds|) per round keyed by "
    "(seed, id); landmark count scales with partitions, not rounds.",
)
def g15_landmark_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import multi_source_bfs

    edges = _edges(spark, sf_dir, _SAMPLE)
    seeds = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .orderBy("id")
        .limit(_G15_SEEDS)
    )
    dist = multi_source_bfs(undirected(edges), seeds, rounds=_G15_ROUNDS)
    reached = F.when(F.col("dist") > 0, 1)
    out = dist.groupBy("id").agg(
        F.count(reached).cast("bigint").alias("n_reached"),
        F.coalesce(
            F.sum(F.when(F.col("dist") > 0, F.expr(f"{_G15_LCM} div dist"))),
            F.lit(0),
        )
        .cast("bigint")
        .alias(f"harmonic_x{_G15_LCM}"),
    )
    return _materialize("g15_landmark_harmonic", out)


# --- SIGN-style k-hop feature propagation -------------------------------------
@query(
    "g16_feature_propagation",
    oracle=f"""
    WITH {_sql_graph(und=True)},
    x0 AS MATERIALIZED (SELECT src AS id, CAST(COUNT(*) AS BIGINT) AS x0
            FROM und GROUP BY src),
    x1 AS MATERIALIZED (SELECT und.src AS id, CAST(SUM(x0.x0) AS BIGINT) AS x1
            FROM und JOIN x0 ON x0.id = und.dst GROUP BY und.src),
    x2 AS (SELECT und.src AS id, CAST(SUM(x1.x1) AS BIGINT) AS x2
           FROM und JOIN x1 ON x1.id = und.dst GROUP BY und.src)
    SELECT x0.id, x0.x0, x1.x1, x2.x2,
           CAST(x1.x1 AS DOUBLE) / x0.x0 AS mean_neighbor_deg
    FROM x0 JOIN x1 USING (id) JOIN x2 USING (id)
    """,
    doc="GNN training-data precompute, SIGN shape (Frasca et al. 2020, "
    "public literature): k-hop neighbor-feature aggregation X, A·X, "
    "A²·X materialized as columns so downstream model training needs "
    "no message passing at all — THE way graph features ship to a "
    "trainer at 100 TB (precompute once relationally, train on a flat "
    "table). Base feature x0 = degree (exact integer), x1/x2 = 1-hop/"
    "2-hop neighborhood sums; every hop is one edge join + one "
    "id-keyed integer aggregation — linear in |E| per hop, no "
    "iteration state, bit-equal to the oracle's CTE chain (integer "
    "addition is order-independent; the one double is a final exact "
    "division). BIGINT headroom: x2 <= max_deg^2 * max_deg-ish; at "
    "production degrees swap the sums to DECIMAL(38,0), semantics "
    "unchanged (the hits_scaled discipline).",
)
def g16_feature_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ue = undirected(_edges(spark, sf_dir))
    x0 = ue.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("x0"))
    x0 = x0.withColumnRenamed("src", "id")
    x1 = (
        ue.join(x0.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src")
        .agg(F.sum("x0").cast("bigint").alias("x1"))
        .withColumnRenamed("src", "id")
    )
    x2 = (
        ue.join(x1.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src")
        .agg(F.sum("x1").cast("bigint").alias("x2"))
        .withColumnRenamed("src", "id")
    )
    return (
        x0.join(x1, "id")
        .join(x2, "id")
        .select(
            "id",
            "x0",
            "x1",
            "x2",
            (F.col("x1").cast("double") / F.col("x0")).alias("mean_neighbor_deg"),
        )
    )


# --- incremental connected-components maintenance -----------------------------
#: Base graph and new-edge batch: disjoint order slices. The increment ==
#: full-recompute equivalence holds at any scale, so the base stays small
#: (rebuilding base CC state, which production persists, dominates).
_G17_BASE_MOD, _G17_BATCH_MOD = 20, 23
_G17_BASE = f"l_orderkey % {_G17_BASE_MOD} = 0"
_G17_BATCH = f"l_orderkey % {_G17_BASE_MOD} = 1 AND l_orderkey % {_G17_BATCH_MOD} = 0"


@query(
    "g17_incremental_components",
    oracle=_sql_components(f"{_G17_BASE} OR ({_G17_BATCH})"),
    doc="INCREMENTAL connected-components maintenance — the table-"
    "maintenance move that makes graph dedup state affordable at "
    "100 TB: instead of re-running CC on base ∪ batch (every CC round "
    "touches every edge), contract the base graph to its existing "
    "labels (g05's alternating-star output), map the new-edge batch's "
    "endpoints through those labels, run CC on the CONTRACTED graph — "
    "whose size is O(touched components + batch), not O(|E|) — and "
    "compose the relabeling back over the old assignment. Exactness: "
    "a base component's label IS its minimum member id, so the min-id "
    "fixpoint of the contracted graph equals the min-id fixpoint of "
    "the full union graph vertex-for-vertex — the oracle recomputes "
    "the union fixpoint from scratch and every label must match "
    "bit-for-bit (the gate literally checks incremental == full "
    "recompute). Scale shape: one broadcast-friendly label lookup on "
    "the batch endpoints, CC rounds on a batch-sized graph, one "
    "map-side relabel join of the old assignment.",
)
def g17_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )

    base = graph_of(_edges(spark, sf_dir, _G17_BASE))
    batch_e = _edges(spark, sf_dir, _G17_BATCH)
    labels = connected_components_alternating(base).localCheckpoint(eager=True)

    # map batch endpoints through the existing labels (unseen vertices
    # label themselves), contract, and solve the batch-sized graph
    ls = labels.select(F.col("id").alias("src"), F.col("component").alias("cs"))
    ld = labels.select(F.col("id").alias("dst"), F.col("component").alias("cd"))
    contracted = (
        batch_e.join(ls, "src", "left")
        .join(ld, "dst", "left")
        .select(
            F.coalesce("cs", F.col("src")).alias("src"),
            F.coalesce("cd", F.col("dst")).alias("dst"),
        )
        .distinct()
    )
    # alternating star contraction, NOT hash-min: a batch that merges many
    # base components transitively gives the contracted graph a long
    # label-chain diameter, and hash-min pays O(diameter) rounds for it
    # (measured 11.7s on a 603-edge contracted graph at sf0.1); the
    # alternating form converges in O(log² n) rounds on the same input.
    # Both return min-id labels, so the composition is unchanged.
    relabel = connected_components_alternating(graph_of(contracted)).select(
        F.col("id").alias("old_label"), F.col("component").alias("new_label")
    ).localCheckpoint(eager=True)

    # compose: old vertices follow their component's relabel (identity if
    # their component was untouched); batch-only vertices take theirs
    old_final = labels.join(
        relabel, labels["component"] == relabel["old_label"], "left"
    ).select(
        "id", F.coalesce("new_label", "component").alias("component")
    )
    batch_only = (
        graph_of(batch_e)
        .vertices.join(base.vertices, "id", "left_anti")
        .join(relabel, F.col("id") == F.col("old_label"))
        .select("id", F.col("new_label").alias("component"))
    )
    return old_final.unionByName(batch_only).select(
        "id", F.col("component").cast("bigint").alias("component")
    )


# --- degree-stratified edge sampling ------------------------------------------
#: Keep 1-in-4 edges per degree stratum (md5-portable, key-stable).
_G18_MOD, _G18_KEEP = 4, 1


@query(
    "g18_degree_stratified_edge_sample",
    oracle=f"""
    WITH {_sql_graph(_SAMPLE)},
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS d FROM edges GROUP BY src),
    strat AS (
      SELECT e.src, e.dst, CAST(floor(log2(d)) AS INTEGER) AS stratum,
             ('0x' || substr(md5(e.src || '_' || e.dst || '_g18'), 1, 8))::BIGINT
               % {_G18_MOD} < {_G18_KEEP} AS kept
      FROM edges e JOIN deg USING (src))
    SELECT stratum,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(*) FILTER (kept) AS BIGINT) AS n_sampled,
           CAST(COUNT(DISTINCT src) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT CASE WHEN kept THEN src END) AS BIGINT)
             AS n_sources_sampled
    FROM strat GROUP BY stratum
    """,
    doc="Degree-stratified edge sampling — how graph training data is "
    "thinned without destroying its degree distribution (GraphSAGE-"
    "style neighborhood subsampling, public literature): edges are "
    "stratified by the source's log2-degree bucket and each stratum "
    "keeps a deterministic 1-in-4 by md5 of the (src,dst) pair — the "
    "d14/d29 portable-hash sampling convention, so membership is "
    "key-stable across runs AND engines (never Spark's murmur3 "
    "sample()). The gate emits the per-stratum ledger: edges, sampled "
    "edges, and source coverage before/after — the distribution-"
    "preservation evidence a sampler must show. log2(d) of an exact "
    "integer is IEEE-identical cross-engine; floor pins the stratum. "
    "Scale shape: one degree aggregation + one map-side hash filter — "
    "linear, no shuffle beyond the (src)-keyed degree count.",
)
def g18_degree_stratified_edge_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.pipelines.sampling import portable_bucket

    edges = _edges(spark, sf_dir, _SAMPLE)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    strat = edges.join(deg, "src").select(
        "src",
        F.floor(F.log2("d")).cast("int").alias("stratum"),
        (
            portable_bucket(
                F.concat(
                    F.col("src").cast("string"),
                    F.lit("_"),
                    F.col("dst").cast("string"),
                    F.lit("_g18"),
                ),
                buckets=_G18_MOD,
            )
            < _G18_KEEP
        ).alias("kept"),
    )
    return strat.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.col("kept").cast("int")).cast("bigint").alias("n_sampled"),
        F.countDistinct("src").cast("bigint").alias("n_sources"),
        F.countDistinct(F.when(F.col("kept"), F.col("src")))
        .cast("bigint")
        .alias("n_sources_sampled"),
    )


# --- GraphSAGE-style fanout neighborhood sampling -----------------------------
#: Per-hop fanout cap and the seed/edge thinning moduli. Seeds are a
#: deterministic sliver of orders; edges the %3 slice of the bipartite
#: order->part graph (the g18 fixture family).
_G19_FANOUT = 4
_G19_SEED_MOD = 211
_G19_EDGES = "l_orderkey % 3 = 0"


def _g19_oracle() -> str:
    return f"""
    WITH {_sql_graph(_G19_EDGES)},
    ed AS (SELECT DISTINCT src, dst FROM edges),
    seeds AS (SELECT DISTINCT src AS seed FROM ed
              WHERE src % {_G19_SEED_MOD} = 0),
    h1r AS (SELECT s.seed, ed.dst,
                   ROW_NUMBER() OVER (
                     PARTITION BY s.seed
                     ORDER BY md5('g19a_' || CAST(s.seed AS VARCHAR) || '_'
                                  || CAST(ed.dst AS VARCHAR)), ed.dst) AS rn
            FROM seeds s JOIN ed ON ed.src = s.seed),
    h1 AS (SELECT seed, dst FROM h1r WHERE rn <= {_G19_FANOUT}),
    h2r AS (SELECT h1.seed, h1.dst AS via, ed.src AS nbr,
                   ROW_NUMBER() OVER (
                     PARTITION BY h1.seed, h1.dst
                     ORDER BY md5('g19b_' || CAST(h1.dst AS VARCHAR) || '_'
                                  || CAST(ed.src AS VARCHAR)), ed.src) AS rn
            FROM h1 JOIN ed ON ed.dst = h1.dst AND ed.src <> h1.seed),
    h2 AS (SELECT seed, via, nbr FROM h2r WHERE rn <= {_G19_FANOUT})
    SELECT s.seed,
           CAST((SELECT COUNT(*) FROM h1 WHERE h1.seed = s.seed) AS BIGINT)
             AS n_hop1,
           CAST((SELECT COUNT(*) FROM h2 WHERE h2.seed = s.seed) AS BIGINT)
             AS n_hop2,
           CAST((SELECT COUNT(DISTINCT nbr) FROM h2 WHERE h2.seed = s.seed)
                AS BIGINT) AS n_hop2_distinct,
           CAST(CAST(COALESCE((SELECT SUM(('0x' || substr(md5(
                     CAST(h2.nbr AS VARCHAR)), 1, 15))::BIGINT)
                FROM h2 WHERE h2.seed = s.seed), 0) AS DECIMAL(38,0))
                AS VARCHAR) AS frontier_checksum
    FROM seeds s
    """


@query(
    "g19_fanout_neighborhood_sample",
    oracle=_g19_oracle(),
    doc="GraphSAGE-style fixed-fanout neighborhood sampling (Hamilton et "
    "al. 2017, arXiv 1706.02216, public — the GNN minibatch primitive; "
    "complements g18's edge thinning and g16's full-neighborhood SIGN "
    "precompute): per seed, at most k=4 deterministic hop-1 neighbors "
    "(md5-ranked with id tiebreak — portable, reproducible across runs "
    "and engines), then at most k of each sampled neighbor's OTHER "
    "endpoints for hop 2; ledger = per-seed frontier sizes, distinct "
    "hop-2 count, and an order-independent md5-prefix checksum of the "
    "sampled frontier (io15 convention), so the exact sampled node set "
    "is hash-gated, not just its size. Scale shape: the per-key rank<=k "
    "cuts are WindowGroupLimit-pushed (map-side truncation before the "
    "shuffle), hop 2 is one dst-keyed join bounded by k x seeds x "
    "per-part degree — never the full 2-hop closure.",
)
def g19_fanout_neighborhood_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.relational import top_k_per_group

    ed = _edges(spark, sf_dir, _G19_EDGES).distinct()
    seeds = (
        ed.filter(F.col("src") % _G19_SEED_MOD == 0)
        .select(F.col("src").alias("seed"))
        .distinct()
    )
    h1_ranked = ed.join(seeds, ed["src"] == seeds["seed"]).select(
        "seed",
        "dst",
        F.md5(
            F.concat(
                F.lit("g19a_"),
                F.col("seed").cast("string"),
                F.lit("_"),
                F.col("dst").cast("string"),
            )
        ).alias("rk"),
    )
    h1 = top_k_per_group(
        h1_ranked, ["seed"], _G19_FANOUT, [F.col("rk"), F.col("dst")]
    ).select("seed", "dst")
    h2_ranked = h1.join(
        ed.select(F.col("dst").alias("via"), F.col("src").alias("nbr")),
        (F.col("via") == F.col("dst")) & (F.col("nbr") != F.col("seed")),
    ).select(
        "seed",
        "via",
        "nbr",
        F.md5(
            F.concat(
                F.lit("g19b_"),
                F.col("via").cast("string"),
                F.lit("_"),
                F.col("nbr").cast("string"),
            )
        ).alias("rk"),
    )
    h2 = top_k_per_group(
        h2_ranked, ["seed", "via"], _G19_FANOUT, [F.col("rk"), F.col("nbr")]
    ).select("seed", "via", "nbr")
    nbr_int = F.conv(
        F.substring(F.md5(F.col("nbr").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    h2_stats = h2.groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hop2"),
        F.countDistinct("nbr").cast("bigint").alias("n_hop2_distinct"),
        F.sum(nbr_int.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("cks"),
    )
    h1_stats = h1.groupBy("seed").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hop1")
    )
    return (
        seeds.join(h1_stats, "seed", "left")
        .join(h2_stats, "seed", "left")
        .select(
            "seed",
            F.coalesce("n_hop1", F.lit(0)).cast("bigint").alias("n_hop1"),
            F.coalesce("n_hop2", F.lit(0)).cast("bigint").alias("n_hop2"),
            F.coalesce("n_hop2_distinct", F.lit(0))
            .cast("bigint")
            .alias("n_hop2_distinct"),
            F.coalesce("cks", F.lit("0")).alias("frontier_checksum"),
        )
    )
