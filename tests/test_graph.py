"""Graph module tests (SURVEY.md §2.12) — including the reference's one
genuine differential test (degrees two ways, ipynb cells 71-74) and a
from-first-principles PageRank cross-check.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodreads_pyspark_spark.graph import (
    PropertyGraph,
    bfs,
    build_ratings_graph,
    frames,
    label_propagation,
    pagerank,
    pregel,
)
from goodreads_pyspark_spark.pipelines.goodreads import BOOK_ID_OFFSET


@pytest.fixture(scope="module")
def graph(goodreads_tables):
    g = build_ratings_graph(goodreads_tables)
    g.edges.cache().count()
    return g


def test_degrees_differential(graph):
    # groupBy().count() must equal outDegrees/inDegrees exactly
    # (the reference's own cross-check, goodreads.py:547/552, 558/563).
    via_group = {
        (r["src"], r["count"]) for r in graph.edges.groupBy("src").count().collect()
    }
    via_degrees = {
        (r["id"], r["outDegree"]) for r in graph.out_degrees().collect()
    }
    assert via_group == via_degrees
    in_group = {
        (r["dst"], r["count"]) for r in graph.edges.groupBy("dst").count().collect()
    }
    in_deg = {(r["id"], r["inDegree"]) for r in graph.in_degrees().collect()}
    assert in_group == in_deg


def test_filter_vertices_subgraph(graph):
    sub = graph.filter_vertices(F.col("original_publication_year") > 2000)
    assert sub.vertices.filter(F.col("original_publication_year") <= 2000).count() == 0
    # every surviving edge has both endpoints in the surviving vertex set
    ids = {r["id"] for r in sub.vertices.select("id").collect()}
    for row in sub.edges.select("src", "dst").collect():
        assert row["src"] in ids and row["dst"] in ids


def test_filter_edges_subgraph(graph):
    sub = graph.filter_edges(F.col("rating") == 1)
    assert sub.edges.filter(F.col("rating") != 1).count() == 0
    assert sub.vertices.count() == graph.vertices.count()


def test_motif_common_dst(graph):
    motifs = graph.common_dst_motif(k=3)
    # the quirky reference filter (r1==r2==r3 → identical edges) must keep
    # exactly one row per edge: u1=u2=u3
    identical = motifs.filter(
        (F.col("u1") == F.col("u2")) & (F.col("u2") == F.col("u3"))
    )
    assert identical.count() == graph.edges.count()
    # and the planted trio (users 2,3,4 → book 7) appears
    b7 = BOOK_ID_OFFSET + 7
    trio = motifs.filter(
        (F.col("u1") == 2) & (F.col("u2") == 3) & (F.col("u3") == 4) & (F.col("b") == b7)
    )
    assert trio.count() == 1


def test_bfs_direct_edge(graph):
    # planted: user 1 rated book 4 → 1-hop path (reference golden,
    # BASELINE.md: BFS User 1 → Book 100004 is a direct edge)
    res = bfs(graph, "id = 1", f"id = {BOOK_ID_OFFSET + 4}", max_path_length=10)
    rows = res.collect()
    assert len(rows) == 1
    assert rows[0]["length"] == 1
    assert rows[0]["path"] == [1, BOOK_ID_OFFSET + 4]


def test_bfs_two_hops(spark):
    v = spark.createDataFrame([(i,) for i in range(1, 6)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 4), (4, 5), (5, 3)], ["src", "dst"])
    g = PropertyGraph(v, e)
    res = bfs(g, "id = 1", "id = 3", max_path_length=10).collect()
    assert {tuple(r["path"]) for r in res} == {(1, 2, 3)}  # shortest only


def test_bfs_paths_graphframes_shape(spark):
    # the reference displays bfs output as from/e0/v1/e1/to structs
    # (goodreads.py:588) — bfs_paths reproduces that layout
    from goodreads_pyspark_spark.graph.pregel import bfs_paths

    v = spark.createDataFrame(
        [(i, f"n{i}") for i in range(1, 6)], ["id", "name"]
    )
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (1, 4, 3.0), (4, 5, 4.0), (5, 3, 5.0)],
        ["src", "dst", "w"],
    )
    g = PropertyGraph(v, e)
    out = bfs_paths(g, "id = 1", "id = 3", max_path_length=10)
    assert out.columns == ["from", "e0", "v1", "e1", "to"]
    row = out.collect()[0]
    assert (row["from"]["id"], row["v1"]["id"], row["to"]["id"]) == (1, 2, 3)
    assert row["from"]["name"] == "n1"
    assert (row["e0"]["src"], row["e0"]["dst"], row["e0"]["w"]) == (1, 2, 1.0)
    assert (row["e1"]["src"], row["e1"]["dst"]) == (2, 3)
    # no path → empty frame with from/to structs
    none = bfs_paths(g, "id = 3", "id = 1", max_path_length=3)
    assert none.columns == ["from", "to"] and none.count() == 0


def test_pagerank_against_reference_iteration(spark):
    """Differential test: our Pregel loop vs a straight NumPy-free Python
    iteration of the same recurrence on a small graph."""
    edges = [(1, 3), (2, 3), (3, 4), (4, 1), (2, 4)]
    v = spark.createDataFrame([(i,) for i in range(1, 5)], ["id"])
    e = spark.createDataFrame(edges, ["src", "dst"])
    # fixed 25 iterations on both sides → identical trajectories
    got = {
        r["id"]: r["pagerank"]
        for r in pagerank(PropertyGraph(v, e), 0.15, tol=0, max_iter=25).collect()
    }

    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    pr = {i: 1.0 for i in range(1, 5)}
    for _ in range(25):
        pr = {
            i: 0.15 + 0.85 * sum(pr[u] / outdeg[u] for u, d in edges if d == i)
            for i in range(1, 5)
        }
    for i in pr:
        assert abs(got[i] - pr[i]) < 1e-9, (i, got[i], pr[i])


def test_label_propagation_converges_on_two_cliques(spark):
    # two 4-cliques joined by nothing → 2 communities
    cliq1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    cliq2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    v = spark.createDataFrame(
        [(i,) for i in list(range(1, 5)) + list(range(11, 15))], ["id"]
    )
    e = spark.createDataFrame(cliq1 + cliq2, ["src", "dst"])
    out = label_propagation(PropertyGraph(v, e), max_iter=4)
    labels = {r["id"]: r["label"] for r in out.collect()}
    assert len({labels[i] for i in range(1, 5)}) == 1
    assert len({labels[i] for i in range(11, 15)}) == 1
    assert labels[1] != labels[11]


def test_label_propagation_community_count(graph):
    out = label_propagation(graph, max_iter=2)
    n = out.select(F.countDistinct("label")).first()[0]
    assert 1 <= n <= graph.vertices.count()


def _hygiene_graph(spark):
    """Triangle 1-2-3, path 3-4-5, isolated 6."""
    v = spark.createDataFrame([(i,) for i in range(1, 7)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)], ["src", "dst"])
    return PropertyGraph(v, e)


#: Every graph entry point, as a call on the ``_hygiene_graph``.
_ENTRY_POINTS = {
    "pagerank": lambda g: pagerank(g, tol=0.01, max_iter=3),
    "pagerank_tol0": lambda g: pagerank(g, tol=0, max_iter=3),
    "pagerank_scaled": lambda g: pregel.pagerank_scaled(g, n_iter=2),
    "personalized_pagerank_scaled": lambda g: (
        pregel.personalized_pagerank_scaled(g, "id = 1", n_iter=2)
    ),
    "label_propagation": lambda g: label_propagation(g, max_iter=2),
    "bfs": lambda g: bfs(g, "id = 1", "id = 4"),
    "bfs_paths": lambda g: pregel.bfs_paths(g, "id = 1", "id = 4"),
    "connected_components": lambda g: pregel.connected_components(g),
    "connected_components_alternating": lambda g: (
        pregel.connected_components_alternating(g)
    ),
    "hits_scaled": lambda g: pregel.hits_scaled(g, n_iter=2),
    "sssp_rounds": lambda g: pregel.sssp_rounds(
        g.edges.withColumn("w", F.lit(2)), g.vertices.filter("id = 1"), rounds=2
    ),
    "multi_source_bfs": lambda g: pregel.multi_source_bfs(
        g.edges, g.vertices.filter("id <= 2"), rounds=2
    ),
    "triangle_count": lambda g: frames.triangle_count(g.edges),
    "kcore_trim": lambda g: frames.kcore_trim(g.edges, k=2, rounds=2),
    "clustering_coefficients": lambda g: frames.clustering_coefficients(g.edges),
}


@pytest.mark.parametrize("name", sorted(_ENTRY_POINTS))
def test_entry_point_leaves_no_cached_blocks(spark, name):
    """A long-lived session calling graph entry points over many graphs
    must not accumulate cached blocks: from a cleared cache, a call and
    a collect of its result leave the cache manager empty."""
    g = _hygiene_graph(spark)
    spark.catalog.clearCache()
    rows = _ENTRY_POINTS[name](g).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left cached plans behind"
    )
    if name == "clustering_coefficients":
        got = {r["id"]: r["clustering_coeff"] for r in rows}
        assert abs(got[1] - 1.0) < 1e-12 and abs(got[3] - 1 / 3) < 1e-12


def test_connected_components(spark):
    from goodreads_pyspark_spark.graph.pregel import connected_components

    # chain 1-2-3, chain 10-11, isolate 20
    v = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 20]], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["src", "dst"])
    out = connected_components(PropertyGraph(v, e))
    comp = {r["id"]: r["component"] for r in out.collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10
    assert comp[20] == 20


def test_connected_components_alternating_matches_hashmin(spark):
    """Differential: alternating star contraction vs hash-min on a mixed
    random-ish graph — same labels (both fixpoints are min reachable id)."""
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components,
        connected_components_alternating,
    )

    # three components: a clique-ish blob, a ring, an isolate
    edges = [(i, (i * 7) % 10) for i in range(10) if i != (i * 7) % 10]
    edges += [(100 + i, 100 + (i + 1) % 6) for i in range(6)]
    v = spark.createDataFrame(
        [(i,) for i in range(10)] + [(100 + i,) for i in range(6)] + [(999,)],
        ["id"],
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(v, e)
    a = {r["id"]: r["component"] for r in connected_components_alternating(g).collect()}
    h = {r["id"]: r["component"] for r in connected_components(g).collect()}
    assert a == h
    assert a[999] == 999


def test_connected_components_alternating_long_chain(spark):
    """A 300-vertex path has diameter 299: hash-min needs 299 supersteps,
    alternating contraction must label it in its default round budget —
    the O(log² n) claim, exercised."""
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )

    n = 300
    v = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    e = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])
    out = connected_components_alternating(PropertyGraph(v, e))
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}


def test_kcore_trim_peels_pendants(spark):
    from goodreads_pyspark_spark.graph.frames import kcore_trim

    # K5 (every vertex degree 4) plus a pendant chain 5-100-101.
    edges = [(a, b) for a in range(5) for b in range(5) if a < b]
    edges += [(0, 100), (100, 101)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    # k=2: first round drops 101 (deg 1); second drops 100 (deg now 1).
    out = {r.id: r.degree for r in kcore_trim(df, k=2, rounds=2).collect()}
    assert out == {i: 4 for i in range(5)}
    # k=5 empties K5 entirely.
    assert kcore_trim(df, k=5, rounds=1).count() == 0


def test_sssp_rounds_weighted_relaxation(spark):
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.graph.pregel import sssp_rounds

    # 1 -2-> 2 -3-> 3; direct 1 -9-> 3 found first, relaxed to 5 by round 2.
    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, 3), (1, 3, 9), (3, 4, 1)], ["src", "dst", "w"]
    )
    src = spark.createDataFrame([(1,)], ["id"])
    d1 = {r.id: r.dist for r in sssp_rounds(edges, src, rounds=1).collect()}
    assert d1 == {1: 0, 2: 2, 3: 9}
    d3 = {r.id: r.dist for r in sssp_rounds(edges, src, rounds=3).collect()}
    assert d3 == {1: 0, 2: 2, 3: 5, 4: 6}


def test_personalized_pagerank_hand_computed_path(spark):
    """a->b->c with seed {a}, scale=100, 2 rounds — every value checked
    against the integer recurrence by hand; isolated vertex stays 0."""
    from goodreads_pyspark_spark.graph.pregel import personalized_pagerank_scaled

    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    out = {
        r["id"]: r["ppr_scaled"]
        for r in personalized_pagerank_scaled(
            PropertyGraph(v, e), "id = 1", n_iter=2, scale=100
        ).collect()
    }
    # r1: a=15, b=(85*100)div100=85, c=0; r2: a=15, b=(85*15)div100=12,
    # c=(85*85)div100=72; vertex 4 is unreachable -> 0
    assert out == {1: 15, 2: 12, 3: 72, 4: 0}


def test_personalized_pagerank_rejects_base_for_other_seeds(spark):
    """A ``ppr_base`` built for one seed predicate must not silently
    answer a run with another: that would return the first seed set's
    ranks under the second predicate's name."""
    from goodreads_pyspark_spark.graph.pregel import (
        personalized_pagerank_scaled,
        ppr_base,
    )

    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["id"])
    e = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
    g = PropertyGraph(v, e)
    base = ppr_base(g, "id = 1")
    try:
        with pytest.raises(ValueError, match="seed_expr"):
            personalized_pagerank_scaled(g, "id = 2", n_iter=2, scale=100, base=base)
        shared = personalized_pagerank_scaled(g, "id = 1", n_iter=2, scale=100, base=base)
        assert {r["id"]: r["ppr_scaled"] for r in shared.collect()} == {
            1: 15, 2: 12, 3: 72, 4: 0
        }
    finally:
        for k in ("edges", "deg", "seeds"):
            base[k].unpersist()


def test_clustering_coefficients_known_graph(spark):
    """Triangle 1-2-3 plus pendant 4 attached to 3: cc(1)=cc(2)=1,
    cc(3)=1/3 (one triangle over C(3,2) possible), 4 excluded (deg 1)."""
    from goodreads_pyspark_spark.graph.frames import clustering_coefficients

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4), (2, 1)],  # dup edge collapses
        ["src", "dst"],
    )
    out = {r["id"]: r for r in clustering_coefficients(e).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["n_triangles"] == 1 and out[1]["clustering_coeff"] == 1.0
    assert out[2]["n_triangles"] == 1 and out[2]["clustering_coeff"] == 1.0
    assert out[3]["degree"] == 3 and out[3]["n_triangles"] == 1
    assert abs(out[3]["clustering_coeff"] - 1 / 3) < 1e-12


def test_checkpoint_dir_mode_matches_local(spark, tmp_path):
    """Differential: every Pregel-family loop produces IDENTICAL results
    whether lineage is truncated by localCheckpoint (default; fast, but
    executor loss invalidates the blocks mid-run) or by a reliable
    checkpoint() into ``checkpoint_dir`` (cluster-hardening mode: state
    persists to fault-tolerant storage, lost executors re-read it)."""
    from goodreads_pyspark_spark.graph.frames import kcore_trim
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
        label_propagation,
        pagerank_scaled,
    )

    edges = [(i, (i * 7) % 10) for i in range(10) if i != (i * 7) % 10]
    edges += [(100 + i, 100 + (i + 1) % 6) for i in range(6)]
    v = spark.createDataFrame(
        [(i,) for i in range(10)] + [(100 + i,) for i in range(6)], ["id"]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(v, e)
    ckpt = str(tmp_path / "reliable_ckpt")

    # checkpoint_every=1 so the reliable path actually exercises every round
    pr_local = {
        r["id"]: r["pr_scaled"]
        for r in pagerank_scaled(g, n_iter=3, checkpoint_every=1).collect()
    }
    pr_rel = {
        r["id"]: r["pr_scaled"]
        for r in pagerank_scaled(
            g, n_iter=3, checkpoint_every=1, checkpoint_dir=ckpt
        ).collect()
    }
    assert pr_local == pr_rel

    lpa_local = {
        r["id"]: r["label"]
        for r in label_propagation(g, max_iter=3, checkpoint_every=1).collect()
    }
    lpa_rel = {
        r["id"]: r["label"]
        for r in label_propagation(
            g, max_iter=3, checkpoint_every=1, checkpoint_dir=ckpt
        ).collect()
    }
    assert lpa_local == lpa_rel

    cc_local = {
        r["id"]: r["component"] for r in connected_components_alternating(g).collect()
    }
    cc_rel = {
        r["id"]: r["component"]
        for r in connected_components_alternating(g, checkpoint_dir=ckpt).collect()
    }
    assert cc_local == cc_rel

    kc_local = {
        r["id"]: r["degree"] for r in kcore_trim(e, k=2, rounds=3).collect()
    }
    kc_rel = {
        r["id"]: r["degree"]
        for r in kcore_trim(e, k=2, rounds=3, checkpoint_dir=ckpt).collect()
    }
    assert kc_local == kc_rel

    # the reliable mode actually wrote checkpoint data
    import os

    assert any(os.scandir(ckpt))


def test_hits_scaled_hand_computed(spark):
    """1->3, 2->3, 2->4 at scale=100, 1 round — every value checked
    against the integer recurrence by hand. Round 1: araw={3:200,4:100},
    atot=300 -> auth 3=(200*100)div300=66, 4=33; hraw={1:66,2:99},
    htot=165 -> hub 1=(66*100)div165=40, 2=60. Pure sources carry no
    authority, pure sinks no hub mass."""
    from goodreads_pyspark_spark.graph.pregel import hits_scaled

    v = spark.createDataFrame([(1,), (2,), (3,), (4,)], ["id"])
    e = spark.createDataFrame([(1, 3), (2, 3), (2, 4)], ["src", "dst"])
    out = {
        r["id"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_scaled(PropertyGraph(v, e), n_iter=1, scale=100).collect()
    }
    assert out == {1: (40, 0), 2: (60, 0), 3: (0, 66), 4: (0, 33)}


def test_hits_scaled_checkpoint_dir_matches_local(spark, tmp_path):
    """Same differential as the other Pregel loops: reliable-checkpoint
    mode must reproduce localCheckpoint results exactly."""
    from goodreads_pyspark_spark.graph.pregel import hits_scaled

    edges = [(i, 10 + (i * 3) % 7) for i in range(10)]
    v = spark.createDataFrame(
        [(i,) for i in range(10)] + [(10 + i,) for i in range(7)], ["id"]
    )
    e = spark.createDataFrame(edges, ["src", "dst"])
    g = PropertyGraph(v, e)
    ckpt = str(tmp_path / "hits_ckpt")
    local = {
        r["id"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_scaled(g, n_iter=2).collect()
    }
    rel = {
        r["id"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_scaled(g, n_iter=2, checkpoint_dir=ckpt).collect()
    }
    assert local == rel


def test_multi_source_bfs_hand_computed(spark):
    """Path 1-2-3-4 plus isolated 9, seeds {1,3}: distances checked by
    hand; pairs beyond `rounds` hops are absent, seeds are dist 0."""
    from goodreads_pyspark_spark.graph.pregel import multi_source_bfs

    e0 = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    ue = e0.unionAll(e0.selectExpr("dst AS src", "src AS dst"))
    seeds = spark.createDataFrame([(1,), (3,)], ["id"])
    out = {
        (r["seed"], r["id"]): r["dist"]
        for r in multi_source_bfs(ue, seeds, rounds=2).collect()
    }
    assert out == {
        (1, 1): 0, (1, 2): 1, (1, 3): 2,
        (3, 3): 0, (3, 2): 1, (3, 4): 1, (3, 1): 2,
    }


def test_hits_scaled_degenerate_graph_fails_loudly(spark):
    """A graph with no edges has zero authority mass every round; the
    rescale must raise (ADVICE r6) instead of silently emitting all-NULL
    hub/auth scores that would poison downstream joins."""
    import pytest

    from goodreads_pyspark_spark.graph.pregel import hits_scaled

    v = spark.createDataFrame([(1,), (2,)], ["id"])
    e = spark.createDataFrame([], "src bigint, dst bigint")
    # Spark 4 surfaces raise_error as USER_RAISED_EXCEPTION (wrapper class
    # varies by deploy mode) — match on the message, not the type.
    with pytest.raises(Exception, match="zero/NULL"):
        hits_scaled(PropertyGraph(v, e), n_iter=1, scale=100).collect()


def test_hits_scaled_rescale_survives_large_mass(spark):
    """The araw·scale product runs in DECIMAL(38,0): a hub whose raw
    authority mass exceeds 2^63/scale must still rescale exactly (the
    pre-fix BIGINT multiply overflowed here)."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.graph.pregel import hits_scaled

    # one sink fed by many sources at a huge scale: araw = n_src * scale,
    # araw * scale = n * scale^2 > 2^63 for scale=10^9, n=10
    n = 10
    scale = 10**9
    v = spark.createDataFrame([(i,) for i in range(n)] + [(100,)], ["id"])
    e = spark.createDataFrame([(i, 100) for i in range(n)], ["src", "dst"])
    out = {
        r["id"]: r["auth_scaled"]
        for r in hits_scaled(PropertyGraph(v, e), n_iter=1, scale=scale).collect()
    }
    # all mass lands on the single sink: auth = (n*scale * scale) div (n*scale)
    assert out[100] == scale


def test_g10_leaves_no_checkpoint_dir_behind(spark):
    """g10 checkpoints reliably into a temp dir and puts the context's
    checkpoint dir back as it was: a later reliable checkpoint in the
    session (an RDD checkpoint, as ALS takes on its first iteration once
    a dir is set) must not recreate a ``_g10_ckpt_*`` dir under the
    working directory."""
    import glob
    import os

    from goodreads_pyspark_spark.queries import REGISTRY
    from tests.test_oracle_parity import SF_SMOKE

    def ckpt_dirs():
        return set(glob.glob(os.path.join(os.getcwd(), "spark-warehouse", "_g10_ckpt_*")))

    sc = spark.sparkContext
    before, dirs_before = sc.getCheckpointDir(), ckpt_dirs()
    REGISTRY["g10_personalized_pagerank"].spark_fn(spark, SF_SMOKE).collect()
    if sc.getCheckpointDir() is not None:
        rdd = sc.parallelize(range(4))
        rdd.checkpoint()
        rdd.count()
    assert ckpt_dirs() == dirs_before
    assert (sc.getCheckpointDir() is None) == (before is None)
