"""Property graph as two DataFrames — the engine's GraphFrames-free graph
layer (SURVEY.md §2.12 G1-G5).

The reference's non-iterative graph ops are all 1-2 line DataFrame
compositions (the notebook itself demonstrates degrees ≡ groupBy().count(),
goodreads.py:547/552) — so the "graph" here is just a named pair of
DataFrames plus those compositions, keeping Catalyst in charge. Iterative
algorithms (BFS/PageRank/label propagation) live in ``graph/pregel.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators.relational import semi_join
from goodreads_pyspark_spark.pipelines.goodreads import GoodreadsTables


def _truncate(
    df: DataFrame, *, eager: bool = True, checkpoint_dir: str | None = None
) -> DataFrame:
    """Truncate lineage at a superstep boundary.

    ``checkpoint_dir=None`` (default) uses ``localCheckpoint``: blocks
    live in executor storage — fastest, and correct on a healthy
    cluster, but an executor loss mid-run invalidates its blocks and
    fails the job (lineage is gone, there is nothing to recompute from).
    Setting ``checkpoint_dir`` switches every truncation to a RELIABLE
    ``checkpoint()`` into that directory (HDFS/S3/DBFS on a cluster):
    each superstep's state is persisted to fault-tolerant storage, so
    lost executors merely re-read it. That is the right trade for long
    Pregel runs on preemptible/spot executors; locally it just costs a
    disk round-trip per truncation.
    """
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    # setCheckpointDir stores a fully-qualified path + random UUID subdir,
    # so getCheckpointDir() never equals the raw argument — comparing
    # against it would re-set (and re-create a fresh UUID subdir) on every
    # truncation. Track the last RAW dir on the context instead; one UUID
    # subdir then serves the whole run. (Old checkpoint data within it is
    # reclaimed by spark.cleaner.referenceTracking.cleanCheckpoints=true
    # once the RDDs are GC'd, or by deleting the dir after the job.)
    if getattr(sc, "_gps_checkpoint_dir", None) != checkpoint_dir:
        sc.setCheckpointDir(checkpoint_dir)
        sc._gps_checkpoint_dir = checkpoint_dir
    return df.checkpoint(eager=eager)


@dataclass
class PropertyGraph:
    """vertices(id, ...) + edges(src, dst, ...)."""

    vertices: DataFrame
    edges: DataFrame

    # -- degrees (G2; reference: goodreads.py:552,563) -----------------------
    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("outDegree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("inDegree")
        )

    def degrees(self) -> DataFrame:
        both = self.edges.select(F.col("src").alias("id")).unionAll(
            self.edges.select(F.col("dst").alias("id"))
        )
        return both.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))

    # -- subgraphs (G3/G4; reference: goodreads.py:569,541,575) --------------
    def filter_vertices(self, cond: Column) -> "PropertyGraph":
        """Keep vertices matching ``cond`` and edges whose BOTH endpoints
        survive (GraphFrames filterVertices semantics). Edge filtering is
        two semi-joins against the (typically much smaller) vertex set."""
        v = self.vertices.filter(cond)
        ids = v.select("id")
        e = semi_join(self.edges, ids.withColumnRenamed("id", "src"), "src")
        e = semi_join(e, ids.withColumnRenamed("id", "dst"), "dst")
        return PropertyGraph(v, e)

    def filter_edges(self, cond: Column) -> "PropertyGraph":
        """Keep all vertices, restrict edges (GraphFrames filterEdges)."""
        return PropertyGraph(self.vertices, self.edges.filter(cond))

    # -- motif: k sources sharing a destination (G5) -------------------------
    def common_dst_motif(self, k: int = 3) -> DataFrame:
        """All ordered k-tuples of edges sharing a destination — the native
        form of ``find("(u1)-[r1]->(b); ...; (uk)-[rk]->(b)")``
        (reference: goodreads.py:582). Like GraphFrames, tuples may repeat
        a vertex; the notebook's follow-up ``r1 == r2`` filter (keeping
        *identical* edges, ipynb cell 77) is reproducible by equating the
        u columns."""
        out = self.edges.select(F.col("src").alias("u1"), F.col("dst").alias("b"))
        for i in range(2, k + 1):
            ei = self.edges.select(
                F.col("src").alias(f"u{i}"), F.col("dst").alias("b")
            )
            out = out.join(ei, "b")
        return out.select(*[f"u{i}" for i in range(1, k + 1)], "b")


def build_ratings_graph(tables: GoodreadsTables) -> PropertyGraph:
    """users ∪ books vertices + rating edges (reference: goodreads.py:473-489).

    The reference pads each side with 13 chained ``withColumn(lit(None))``
    calls; here one ``unionByName(allowMissingColumns=True)`` does the
    null-padding in a single projection (SURVEY.md §4 fix).
    """
    users_v = (
        tables.users.withColumnRenamed("user_id", "id")
        .withColumn("type", F.lit("User"))
        .distinct()
    )
    books_v = (
        tables.books.withColumnRenamed("book_id", "id")
        .withColumn("type", F.lit("Book"))
        .distinct()
    )
    vertices = users_v.unionByName(books_v, allowMissingColumns=True)
    edges = tables.ratings_small.select(
        F.col("user_id").alias("src"),
        F.col("book_id").alias("dst"),
        "rating",
    )
    return PropertyGraph(vertices, edges)


def plot_edge_sample(graph: PropertyGraph, n: int = 1000) -> list:
    """Driver-side edge sample feeding visualization (G9; reference:
    goodreads.py:506-541 takes 1000 edges into NetworkX). The engine's
    role ends at ``take(n)`` — rendering is a driver concern."""
    return graph.edges.select("src", "dst").take(n)


def graph_of(edges: DataFrame) -> PropertyGraph:
    """The graph of an edge list over its distinct endpoints."""
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return PropertyGraph(ids, edges)


def undirected(edges: DataFrame) -> DataFrame:
    """Both directions of every (src, dst, ...) edge; other columns ride
    along unchanged."""
    rest = [c for c in edges.columns if c not in ("src", "dst")]
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *rest)
    )


def _canonical_pairs(edges: DataFrame, pre_deduped: bool) -> DataFrame:
    """Each undirected edge of (src, dst) ``edges`` once, as (a, b) with
    a < b and no self-loops — cached and materialized; the caller
    unpersists it. ``pre_deduped``: the caller passes an ALREADY
    (src<dst)-distinct, already-materialized pair table (e.g. the
    queries/graph.py session memo) — skip the dedup shuffle and its
    cache. The distinct pairs feed several downstream subtrees; without
    the cache the dedup shuffle re-executes once per consumer."""
    if pre_deduped:
        return edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    und = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .cache()
    )
    und.count()
    return und


def _pair_degrees(und: DataFrame) -> DataFrame:
    """(id, d): every vertex's degree in the (a, b) pair list."""
    return (
        und.select(F.col("a").alias("id"))
        .unionAll(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _forward_wedges(und: DataFrame, deg: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Degree-ordered (forward) orientation of ``und`` and its closing
    join: ``o`` (lo, hi), cached and materialized (the caller unpersists
    it), and (lo, hi, nbrs_lo, nbrs_hi) — every oriented edge with both
    endpoints' forward neighbor arrays, whose intersection is the set of
    triangles closing on that edge.

    Each edge points from its (degree, id)-smaller endpoint to the
    larger, compared tuple-wise — no global window/rank, so every stage
    is a keyed shuffle join. ``o`` feeds the adjacency fold, the closing
    join and the caller's counts; it is materialized NOW, after ``und``,
    because siblings left lazy race to fill the cache and each
    recomputes the distinct-pairs shuffle (measured ~2.5x cost)."""
    da = deg.select(F.col("id").alias("a"), F.col("d").alias("da"))
    db = deg.select(F.col("id").alias("b"), F.col("d").alias("db"))
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("lo"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("hi"),
        )
        .cache()
    )
    o.count()
    adj = o.groupBy(F.col("lo").alias("v")).agg(F.collect_list("hi").alias("nbrs"))
    a_lo = adj.select(F.col("v").alias("lo"), F.col("nbrs").alias("nbrs_lo"))
    a_hi = adj.select(F.col("v").alias("hi"), F.col("nbrs").alias("nbrs_hi"))
    return o, o.join(a_lo, "lo").join(a_hi, "hi")


def triangle_count(edges: DataFrame, pre_deduped: bool = False) -> DataFrame:
    """Exact global triangle count via degree-ordered (forward) counting.

    ``edges`` is an undirected edge list (src, dst) — duplicates and
    self-loops are removed here. Each edge is oriented from its
    (degree, id)-smaller endpoint to the larger; every triangle then has
    exactly one canonical wedge at its lowest-ordered edge. The classic
    Schank–Wagner/forward bound applies: out-degree under this
    orientation is O(sqrt(m)) regardless of hubs, so candidate volume is
    bounded without dropping any vertex.

    Execution is adjacency-list intersection, NOT a wedge self-join:
    oriented edges fold into per-vertex neighbor arrays (one groupBy),
    each edge picks up both endpoints' arrays (two joins keyed by
    vertex), and the triangle count is ``size(array_intersect(...))``
    inside whole-stage codegen. On a dense co-occurrence graph the
    materialized-wedge formulation shuffles Σ outdeg² rows (~100M at
    sf0.1, measured 65s); this shape shuffles only m edge rows carrying
    two arrays and fell to ~8s on the same input — the per-candidate
    work rides codegen instead of the exchange.

    Returns ONE row: (n_vertices, n_edges, n_triangles), checkpointed so
    the working caches are released before returning.
    """
    und = _canonical_pairs(edges, pre_deduped)
    deg = _pair_degrees(und)
    o, closing = _forward_wedges(und, deg)
    tri = closing.select(
        F.size(F.array_intersect("nbrs_lo", "nbrs_hi")).alias("n_common")
    ).agg(F.coalesce(F.sum("n_common"), F.lit(0)).cast("bigint").alias("n_triangles"))
    nv = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_vertices"))
    ne = o.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    result = _truncate(nv.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(tri)))
    o.unpersist()
    und.unpersist()
    return result


def kcore_trim(
    edges: DataFrame,
    k: int,
    rounds: int,
    checkpoint_dir: str | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling: iteratively drop vertices with
    degree < k, ``rounds`` times; return survivors with final degree.

    The exact k-core needs peeling to a fixpoint; a FIXED round count
    makes the result a deterministic function of the input — the same
    convention as the engine's fixed-iteration LPA/PageRank, which is
    what lets a DuckDB oracle replay it as an unrolled CTE chain
    bit-for-bit. In practice a handful of rounds converges: each round
    is two keyed aggregations (degree, filter) + two semi-joins — work
    ∝ surviving edges, shrinking monotonically. The loop is a driver
    loop over lazy frames; with small fixed ``rounds`` the lineage
    stays shallow enough to skip checkpointing.

    Returns (id, degree) of vertices alive after ``rounds`` trims,
    with their degree in the surviving subgraph.
    """
    # Per-round cache + eager materialization (the Pregel superstep
    # pattern, graph/pregel.py): each round's edge set feeds BOTH the
    # next degree count and the next semi-join base — left lazy, round r
    # re-executes round r-1 twice and the recomputation nests
    # geometrically with depth. A pre_deduped (checkpointed) input is
    # already materialized — rounds still cache their own shrinking sets.
    cur = _canonical_pairs(edges, pre_deduped)
    for _ in range(rounds):
        keep = _pair_degrees(cur).filter(F.col("d") >= k).select("id")
        prev = cur
        cur = (
            cur.join(keep.select(F.col("id").alias("a")), "a", "left_semi")
            .join(keep.select(F.col("id").alias("b")), "b", "left_semi")
            .cache()
        )
        cur.count()
        prev.unpersist()
    deg = _pair_degrees(cur).select("id", F.col("d").cast("bigint").alias("degree"))
    # Per-vertex result is small: checkpoint it eagerly so the final
    # round's cached edge set can be released before returning — no
    # leaked executor blocks across repeated calls.
    deg = _truncate(deg, checkpoint_dir=checkpoint_dir)
    cur.unpersist()
    return deg


def clustering_coefficients(
    edges: DataFrame,
    checkpoint_dir: str | None = None,
    pre_deduped: bool = False,
) -> DataFrame:
    """Per-vertex local clustering coefficient, exactly.

    Same degree-ordered forward counting as ``triangle_count`` (see its
    docstring for the O(sqrt(m)) bound), but instead of summing
    ``size(array_intersect(...))`` it EXPLODES the intersection: each
    (lo, hi, w) row is one triangle, attributed to all three corners
    with one unpivot + keyed count. Cost is therefore edge-linear plus
    triangle-linear — the lower bound for exact per-vertex counts.
    cc(v) = 2*tri(v) / (deg(v)*(deg(v)-1)) over the vertex's full
    undirected degree; vertices with deg < 2 are excluded (undefined).

    Returns (id, degree, n_triangles, clustering_coeff).
    """
    und = _canonical_pairs(edges, pre_deduped)
    deg = _pair_degrees(und).cache()
    deg.count()
    o, closing = _forward_wedges(und, deg)
    triangles = closing.select(
        "lo",
        "hi",
        F.explode(F.array_intersect("nbrs_lo", "nbrs_hi")).alias("w"),
    )
    per_vertex = (
        triangles.select(F.col("lo").alias("id"))
        .unionAll(triangles.select(F.col("hi").alias("id")))
        .unionAll(triangles.select(F.col("w").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("tri"))
    )
    result = (
        deg.filter(F.col("d") >= 2)
        .join(per_vertex, "id", "left")
        .select(
            "id",
            F.col("d").cast("bigint").alias("degree"),
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("n_triangles"),
            (
                2.0
                * F.coalesce("tri", F.lit(0)).cast("double")
                / (F.col("d").cast("double") * (F.col("d") - 1))
            ).alias("clustering_coeff"),
        )
    )
    # Eager checkpoint of the (small, per-vertex) result lets the three
    # working caches be dropped before returning — repeated calls in a
    # bench loop or scaling probe no longer accumulate executor blocks.
    result = _truncate(result, checkpoint_dir=checkpoint_dir)
    o.unpersist()
    deg.unpersist()
    und.unpersist()
    return result
