"""Iterative graph algorithms as DataFrame Pregel loops (SURVEY.md §2.12
G6-G8) — PageRank, label propagation, BFS without the GraphFrames jar.

Each superstep is one join (messages along edges) + one aggregation
(combine at the destination) — the exact shuffle pattern GraphX's Pregel
produces, expressed declaratively. Scale guards built in:

* vertex state is only (id, value): shuffles carry no payload columns;
* state is cached per superstep and the previous iteration unpersisted —
  without this the lineage doubles per iteration and stage planning
  blows up long before data size matters;
* ``checkpoint_every`` truncates lineage for long runs (tol-driven
  PageRank on adversarial graphs) — via ``localCheckpoint`` by
  default, or a RELIABLE ``checkpoint()`` when ``checkpoint_dir`` is
  set (survives executor loss; see ``frames._truncate``).

Algorithm bases are the public formulations: PageRank (Page et al.;
GraphX's resetProb form), LPA (Raghavan et al.), BFS frontier expansion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.graph.frames import PropertyGraph, _truncate, undirected


def _out_degrees(edges: DataFrame) -> DataFrame:
    return edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )


def pagerank(
    graph: PropertyGraph,
    reset_probability: float = 0.15,
    tol: float = 0.01,
    max_iter: int = 40,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """GraphX-style PageRank: PR(v) = ρ + (1−ρ)·Σ PR(u)/outdeg(u).

    Matches GraphFrames ``pageRank(resetProbability, tol)`` semantics
    (reference: goodreads.py:618): un-normalized scores (sinks keep ρ, no
    dangling-mass redistribution), iterated until the largest per-vertex
    delta falls below ``tol``. ``tol <= 0`` switches to fixed-iteration
    mode (GraphFrames ``maxIter`` form) which runs fully lazily — no
    per-round driver action. Returns vertices + ``pagerank``.
    """
    edges = graph.edges.select("src", "dst").cache()
    deg = _out_degrees(edges).cache()
    seed = graph.vertices.select("id").withColumn("pr", F.lit(1.0)).cache()
    ranks = seed

    for i in range(max_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("msg"))
        )
        new_ranks = (
            ranks.select("id")
            .join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.lit(reset_probability)
                    + F.lit(1 - reset_probability) * F.coalesce("msg", F.lit(0.0))
                ).alias("pr"),
            )
        )
        if tol <= 0:
            # Fixed-iteration mode: no per-round action at all — the loop
            # stays lazy, with eager checkpoints truncating lineage. One
            # driver round-trip per checkpoint instead of two per round.
            if (i + 1) % checkpoint_every == 0 or i == max_iter - 1:
                new_ranks = _truncate(new_ranks, checkpoint_dir=checkpoint_dir)
            ranks = new_ranks
            continue
        if (i + 1) % checkpoint_every == 0:
            new_ranks = _truncate(new_ranks, eager=False, checkpoint_dir=checkpoint_dir)
        new_ranks = new_ranks.cache()
        delta = (
            new_ranks.join(ranks.withColumnRenamed("pr", "prev"), "id")
            .select(F.max(F.abs(F.col("pr") - F.col("prev"))).alias("d"))
            .first()["d"]
        )
        ranks.unpersist()
        ranks = new_ranks
        if (delta is not None and delta < tol) or i == max_iter - 1:
            # checkpoint the final ranks so their superstep cache is released
            ranks = _truncate(new_ranks, checkpoint_dir=checkpoint_dir)
            new_ranks.unpersist()
            break

    out = graph.vertices.join(ranks.withColumnRenamed("pr", "pagerank"), "id", "left")
    edges.unpersist()
    deg.unpersist()
    if ranks is not seed:
        # tol-driven mode unpersists the seed on round 1; the fixed-iter
        # (tol<=0) path never did — drop it once the final checkpoint has
        # materialized so long runs don't leak the seed block.
        seed.unpersist()
    return out


def pagerank_scaled(
    graph: PropertyGraph,
    n_iter: int = 3,
    scale: int = 10**12,
    reset_num: int = 15,
    reset_den: int = 100,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank in fixed-point integer arithmetic — bit-identical across
    engines and runs.

    Works on scores scaled by ``scale`` as BIGINTs: contributions are
    ``pr div outdeg`` (integer division) and the damping step is
    ``reset·scale/den + ((den−reset)·Σmsg) div den``. Integer addition is
    exact and order-independent, so an external engine (the DuckDB oracle)
    unrolling the same recurrence reproduces every score exactly — unlike
    double accumulation, whose sum order differs per partitioning. Error
    vs true PageRank is ≤ n_iter·outdeg/scale — irrelevant at 1e12.

    This is :func:`personalized_pagerank_scaled` with every vertex a seed
    (initial mass ``scale`` and the full reset term everywhere); the two
    run one loop. Iterations run lazily and the plan is truncated every
    ``checkpoint_every`` rounds via :func:`frames._truncate` —
    ``checkpoint_dir=None`` uses ``localCheckpoint`` (executor blocks),
    a directory switches to reliable ``checkpoint()`` for fault-tolerant
    long runs (see the _truncate docstring for the trade-off).

    Returns (id, pr_scaled) — divide by ``scale`` for real scores.
    Overflow headroom: total mass ≈ |V|·scale must stay under 2^63/den;
    with the default scale that's ~10^5 vertices — lower ``scale`` for
    larger graphs (1e9 supports ~10^8 vertices).
    """
    ranks = personalized_pagerank_scaled(
        graph,
        "TRUE",
        n_iter,
        scale,
        reset_num,
        reset_den,
        checkpoint_every,
        checkpoint_dir,
    )
    return ranks.select("id", F.col("ppr_scaled").alias("pr_scaled"))


def ppr_base(graph: PropertyGraph, seed_expr: str) -> dict:
    """Cache the PPR inputs for one graph and one seed predicate ONCE
    for several runs. ``seeds`` depends on ``seed_expr``, which the base
    records so a run with a different predicate fails instead of reusing
    this seed set.

    ADVICE r12 (medium): when two concurrent PPR runs each built and
    cached their own ``edges``/``deg``/``seeds``, Spark's CacheManager
    deduped the identical canonicalized plans into SHARED cache entries
    — so the first run to finish unpersisted blocks the sibling was
    still reading mid-job (correct via lineage recompute, but the
    recompute silently eats the overlap win, nondeterministically by
    thread timing). Orchestrators running >1 PPR over the same graph
    build the base here, pass it to each run, and unpersist it once
    after ALL runs settle.
    """
    edges = graph.edges.select("src", "dst").cache()
    deg = _out_degrees(edges).cache()
    seeds = graph.vertices.select(
        "id", F.when(F.expr(seed_expr), 1).otherwise(0).alias("is_seed")
    ).cache()
    return {"edges": edges, "deg": deg, "seeds": seeds, "seed_expr": seed_expr}


def personalized_pagerank_scaled(
    graph: PropertyGraph,
    seed_expr: str,
    n_iter: int = 3,
    scale: int = 10**12,
    reset_num: int = 15,
    reset_den: int = 100,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
    base: dict | None = None,
) -> DataFrame:
    """Topic-sensitive (personalized) PageRank in the same fixed-point
    integer arithmetic as :func:`pagerank_scaled`.

    Differs from global PageRank in exactly one place: the teleport/reset
    mass lands only on the seed set (``seed_expr``, a SQL predicate over
    vertex columns), and the initial mass is ``scale`` on seeds, 0
    elsewhere. Vertices unreachable from the seeds within ``n_iter`` hops
    end at 0 — the locality that makes PPR the similarity/recommendation
    primitive (reference goodreads.py:618's pageRank generalized to a
    query-anchored ranking).

    Overflow headroom is |seeds|·scale rather than |V|·scale, so the
    default 1e12 scale supports ~10^5 seeds at any graph size.

    ``base`` — a :func:`ppr_base` dict — lets an orchestrator running
    several PPRs over the same graph and seed predicate share ONE set of
    cached inputs; the caller then owns their lifetime (see ppr_base
    docstring). A base built for another ``seed_expr`` raises ValueError.
    """
    own_base = base is None
    if own_base:
        base = ppr_base(graph, seed_expr)
    elif base["seed_expr"] != seed_expr:
        raise ValueError(
            f"ppr_base was built for seed_expr {base['seed_expr']!r}, "
            f"not {seed_expr!r}"
        )
    edges, deg, seeds = base["edges"], base["deg"], base["seeds"]
    reset_scaled = (reset_num * scale) // reset_den
    keep_num = reset_den - reset_num
    ranks = seeds.select(
        "id", (F.col("is_seed").cast("bigint") * scale).alias("pr")
    )

    for i in range(n_iter):
        contrib = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.expr("pr div outdeg")).alias("msg"))
        )
        ranks = (
            seeds.join(contrib, "id", "left")
            .select(
                "id",
                (
                    F.col("is_seed").cast("bigint") * reset_scaled
                    + F.expr(f"({keep_num} * coalesce(msg, 0L)) div {reset_den}")
                ).cast("bigint").alias("pr"),
            )
        )
        if (i + 1) % checkpoint_every == 0 or i == n_iter - 1:
            ranks = _truncate(ranks, checkpoint_dir=checkpoint_dir)

    if own_base:
        edges.unpersist()
        deg.unpersist()
        seeds.unpersist()
    return ranks.select("id", F.col("pr").alias("ppr_scaled"))


def label_propagation(
    graph: PropertyGraph,
    max_iter: int = 4,
    checkpoint_every: int = 8,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Community detection by label propagation (GraphFrames
    ``labelPropagation``, reference: goodreads.py:594). Synchronous LPA
    over the undirected view: each vertex adopts the most frequent
    neighbor label; ties break to the smallest label (GraphX breaks ties
    by map iteration order — we pin a deterministic rule instead).
    Returns vertices + ``label``.
    """
    both = graph.edges.select("src", "dst").unionAll(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    both = both.cache()
    labels = graph.vertices.select("id").withColumn("label", F.col("id"))

    # Lazy fixed-iteration shape (same as pagerank_scaled): each round's
    # plan references the previous labels exactly once, so no per-round
    # action/cache is needed — the whole run is ONE job unless the round
    # count crosses checkpoint_every (then an eager localCheckpoint
    # truncates lineage). Tie-break via max_by over (count, -label):
    # hash aggregation instead of a row_number sort-window — one less
    # sort, same deterministic smallest-label-wins rule.
    for i in range(max_iter):
        best = (
            both.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("id")
            .agg(F.expr("max_by(label, struct(n, -label))").alias("label"))
        )
        labels = (
            labels.select("id")
            .join(best, "id", "left")
            .select("id", F.coalesce("label", "id").alias("label"))
        )
        if (i + 1) % checkpoint_every == 0:
            labels = _truncate(labels, checkpoint_dir=checkpoint_dir)

    # Eager final checkpoint materializes the label fixpoint so the
    # undirected edge view can be unpersisted NOW (same hygiene as
    # pagerank_scaled): a long-lived session running LPA over many graphs
    # no longer accumulates cached executor blocks.
    labels = _truncate(labels, checkpoint_dir=checkpoint_dir)
    both.unpersist()
    return graph.vertices.join(labels, "id", "left")


def bfs(
    graph: PropertyGraph,
    from_expr: str,
    to_expr: str,
    max_path_length: int = 10,
) -> DataFrame:
    """Shortest paths from vertices matching ``from_expr`` to vertices
    matching ``to_expr`` (GraphFrames ``bfs``; reference: goodreads.py:588).

    Frontier expansion: each round joins the frontier against edges and
    prunes already-visited vertices per start. Returns
    (start, end, length, path array<id>) for the first (shortest) level at
    which any target is reached — all equal-length paths are returned,
    checkpointed so the last frontier's cache is released.
    """
    starts = graph.vertices.filter(from_expr).select(
        F.col("id").alias("start"),
        F.col("id").alias("frontier"),
        F.array(F.col("id")).alias("path"),
    )
    targets = graph.vertices.filter(to_expr).select(F.col("id").alias("frontier"))

    # Level 0: a start may itself satisfy the target predicate.
    hits = starts.join(targets, "frontier").select(
        "start", F.col("frontier").alias("end"), F.lit(0).alias("length"), "path"
    )
    if hits.take(1):
        return hits

    frontier = starts.cache()
    for depth in range(1, max_path_length + 1):
        prev = frontier
        frontier = (
            prev.join(
                graph.edges.select(
                    F.col("src").alias("frontier"), F.col("dst").alias("next")
                ),
                "frontier",
            )
            .filter(~F.array_contains(F.col("path"), F.col("next")))
            .select(
                "start",
                F.col("next").alias("frontier"),
                F.concat("path", F.array("next")).alias("path"),
            )
            .cache()
        )
        # Materialize fully before dropping the parent: take(1) alone fills
        # only one partition, and unpersisting prev under a half-built cache
        # would force recomputes from the root. Then the predecessor block
        # can go — without this, cached frontiers pile up one per level.
        n_frontier = frontier.count()
        prev.unpersist()
        hits = frontier.join(targets, "frontier").select(
            "start",
            F.col("frontier").alias("end"),
            F.lit(depth).alias("length"),
            "path",
        )
        if hits.take(1):
            hits = _truncate(hits)
            frontier.unpersist()
            return hits
        if n_frontier == 0:
            break
    frontier.unpersist()
    return hits.limit(0)


def bfs_paths(
    graph: PropertyGraph,
    from_expr: str,
    to_expr: str,
    max_path_length: int = 10,
) -> DataFrame:
    """:func:`bfs` re-shaped to GraphFrames' column layout — ``from``,
    ``e0``, ``v1``, ``e1``, …, ``to`` structs (reference goodreads.py:588
    displays exactly this shape).

    One driver action reads the shortest-path length (all returned paths
    share it — bfs stops at the first hit level), then the path id array
    is expanded by joining vertices per position and edges per hop, the
    same per-level join construction GraphFrames itself builds. Parallel
    edges between one (src, dst) pair multiply rows, matching GraphFrames'
    semantics. No path found → empty frame with ``from``/``to`` structs.
    """
    res = bfs(graph, from_expr, to_expr, max_path_length)
    head = res.select("length").take(1)
    v, e = graph.vertices, graph.edges
    v_struct = F.struct(*[F.col(c) for c in v.columns])
    if not head:
        return v.limit(0).select(v_struct.alias("from"), v_struct.alias("to"))
    length = head[0]["length"]

    out = res
    names: list[str] = []
    for i in range(length + 1):
        name = "from" if i == 0 else ("to" if i == length else f"v{i}")
        names.append(name)
        side = v.select(v_struct.alias(name), F.col("id").alias(f"__id{i}"))
        out = out.join(
            side, F.element_at(F.col("path"), i + 1) == F.col(f"__id{i}")
        ).drop(f"__id{i}")
        if i < length:
            names.append(f"e{i}")
            e_struct = F.struct(*[F.col(c) for c in e.columns])
            hop = e.select(
                e_struct.alias(f"e{i}"),
                F.col("src").alias(f"__s{i}"),
                F.col("dst").alias(f"__d{i}"),
            )
            out = out.join(
                hop,
                (F.element_at(F.col("path"), i + 1) == F.col(f"__s{i}"))
                & (F.element_at(F.col("path"), i + 2) == F.col(f"__d{i}")),
            ).drop(f"__s{i}", f"__d{i}")
    return out.select(*names)


def connected_components(
    graph: PropertyGraph,
    max_iter: int = 20,
    checkpoint_every: int = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by iterated min-id propagation (the classic
    hash-min Pregel algorithm; GraphFrames exposes the same surface as
    ``connectedComponents``). Undirected view; converges in O(diameter)
    supersteps. Returns vertices + ``component`` (the minimum vertex id
    reachable). Stops early when no vertex's component changed.
    """
    both = undirected(graph.edges.select("src", "dst")).cache()
    comp = graph.vertices.select("id").withColumn("component", F.col("id")).cache()

    for i in range(max_iter):
        neighbor_min = (
            both.join(comp.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("component").alias("nbr_min"))
        )
        new_comp = (
            comp.join(neighbor_min, "id", "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("nbr_min", F.col("component"))
                ).alias("component"),
            )
        )
        if (i + 1) % checkpoint_every == 0:
            new_comp = _truncate(new_comp, eager=False, checkpoint_dir=checkpoint_dir)
        new_comp = new_comp.cache()
        changed = (
            new_comp.join(
                comp.withColumnRenamed("component", "prev"), "id"
            )
            .filter(F.col("component") != F.col("prev"))
            .take(1)
        )
        comp.unpersist()
        comp = new_comp
        if not changed:
            break

    # checkpoint the labels so the last superstep's cache is released
    labels = _truncate(comp, checkpoint_dir=checkpoint_dir)
    comp.unpersist()
    both.unpersist()
    return graph.vertices.join(labels, "id", "left")


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) edges → for every u, attach each strictly-larger neighbor to
    ``min(N(u) ∪ {u})``."""
    nb = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = (
        nb.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        nb.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small; attach every smaller neighbor AND u
    itself to ``min(N_small(u))``."""
    pts = e.where(F.col("u") != F.col("v")).select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    mins = pts.groupBy("u").agg(F.min("v").alias("m"))
    return (
        pts.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionAll(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components_alternating(
    graph: PropertyGraph,
    max_rounds: int = 16,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", ACM SoCC 2014 — public literature, not reference-derived).

    Converges in O(log² n) rounds regardless of graph structure — the
    scale path for long-chain graphs where hash-min
    (:func:`connected_components`) needs O(diameter) supersteps. Each
    round shuffles (u, v) id pairs only. At fixpoint the edge set is a
    star forest: every vertex points at its component's minimum id.

    Fixpoint detection: (count, xxhash64 bit_xor) of the oriented edge
    set — one aggregate action per round, order-independent, and a
    collision would need two distinct edge sets agreeing on both count
    and 64-bit XOR. Raises if ``max_rounds`` is hit without convergence
    (loud beats silently-partial labels).
    """
    from pyspark.sql import Observation

    e = (
        graph.edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .cache()
    )

    # Signature metrics ride the materializing count() via observe() —
    # ONE action per round, not a separate aggregate job. bit_xor, not
    # sum: order-independent, cannot overflow under ANSI, and the edge
    # set is distinct so XOR self-cancellation can't occur.
    def _sig_metrics():
        return (
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        )

    prev_sig = None
    for _ in range(max_rounds):
        obs = Observation()
        # ONE materialization per round: the eager localCheckpoint runs the
        # round's job (firing the observation — no separate count() action),
        # stores the result blocks the next round reads, and truncates
        # lineage. Per-round truncation is mandatory here: a star-contraction
        # round references its input several times, so an untruncated plan
        # grows COMBINATORIALLY with round count (measured: the loop stops
        # completing at ~8 rounds). The earlier cache+lazy-checkpoint+count
        # formulation stored every round's edge set twice and ran two jobs.
        nxt = _truncate(
            _small_star(_large_star(e)).observe(obs, *_sig_metrics()),
            checkpoint_dir=checkpoint_dir,
        )
        got = obs.get
        sig = (got["n"], got["h"])
        e.unpersist()
        e = nxt
        if sig == prev_sig:
            star = e
            break
        prev_sig = sig
    else:
        e.unpersist()
        raise RuntimeError(
            f"alternating CC did not converge in {max_rounds} rounds"
        )

    # The star forest is one row per non-root vertex: checkpoint it eagerly
    # (data is already cached, so this is a copy not a recompute) and
    # release the loop's final cached edge set before returning — no
    # leaked executor blocks across repeated calls.
    roots = _truncate(
        star.select(F.col("u").alias("id"), F.col("v").alias("root")),
        checkpoint_dir=checkpoint_dir,
    )
    star.unpersist()
    out = graph.vertices.join(roots, "id", "left").select(
        *[F.col(c) for c in graph.vertices.columns],
        F.coalesce("root", F.col("id")).alias("component"),
    )
    return out


def _relax(edges: DataFrame, seeds: DataFrame, rounds: int) -> DataFrame:
    """``rounds`` synchronous min-plus relaxations from every seed at once
    over (src, dst, w) ``edges``: (seed, id, dist) for the pairs reached
    within ``rounds`` hops (dist 0 = the seed itself).

    Each round is one join edges⋈state + a (seed, id)-keyed
    min-aggregate + a min-merge into the running distance table. State
    is cached per round and materialized before its predecessor is
    released (the superstep pattern); the final state is checkpointed so
    its cache is released before returning.
    """
    dist = seeds.select(
        F.col("id").alias("seed"), "id", F.lit(0).cast("bigint").alias("dist")
    ).cache()
    dist.count()
    for _ in range(rounds):
        msgs = (
            edges.join(dist.withColumnRenamed("id", "src"), "src")
            .select(
                "seed",
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("w")).alias("nd"),
            )
            .groupBy("seed", "id")
            .agg(F.min("nd").alias("nd"))
        )
        prev = dist
        dist = (
            dist.join(msgs, ["seed", "id"], "full")
            .select(
                "seed",
                "id",
                F.when(F.col("dist").isNull(), F.col("nd"))
                .when(F.col("nd").isNull(), F.col("dist"))
                .otherwise(F.least("dist", "nd"))
                .alias("dist"),
            )
            .cache()
        )
        dist.count()
        prev.unpersist()
    out = _truncate(dist)
    dist.unpersist()
    return out


def sssp_rounds(
    edges: DataFrame,
    source: DataFrame,
    rounds: int,
) -> DataFrame:
    """Weighted single-source shortest paths, ``rounds`` synchronous
    Bellman-Ford relaxations — distances reachable within that many hops.

    ``edges`` is (src, dst, w) with integer weights; ``source`` is a
    1-row (id) frame. Fixed rounds (not to-convergence) keep the result
    a deterministic input function with pure integer arithmetic, so a
    DuckDB CTE unrolling the same relaxations is bit-exact — the same
    oracle discipline as the fixed-iteration LPA/PageRank/k-core. This
    is :func:`multi_source_bfs`'s loop with one seed and weights.
    Returns (id, dist) for vertices reached within ``rounds`` hops.
    """
    return _relax(edges, source, rounds).select("id", "dist")


def hits_scaled(
    graph: PropertyGraph,
    n_iter: int = 2,
    scale: int = 10**6,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) in fixed-point integer
    arithmetic — bit-identical across engines and runs.

    Per round: ``auth_raw(v) = Σ hub(u) over u→v`` then sum-normalize in
    integers (``auth = auth_raw·scale div Σauth_raw``), symmetrically for
    hubs over the fresh authorities. Like :func:`pagerank_scaled`, every
    step is integer addition + floor division, so a DuckDB CTE unrolling
    the same recurrence (HUGEINT for the ×scale rescale) reproduces every
    score exactly — float HITS would drift by partial-aggregation order.

    Overflow headroom: the rescale multiplicand peaks at |E|·scale² on
    round one, so the ``raw·scale`` product runs in DECIMAL(38,0) (exact
    integers to 1e38, matching the oracle's HUGEINT) rather than BIGINT —
    at scale=1e6 that lifts the safe edge count from ~1e6 to ~1e26.
    Degenerate graphs (no edges, or a round where all mass dies) make the
    normalization total zero/NULL; that raises loudly instead of silently
    emitting all-NULL scores.

    On a bipartite src→dst graph (orders→parts here) this is the co-HITS
    shape used for user-item importance: sources carry hub mass, sinks
    authority mass. Returns (id, hub_scaled, auth_scaled).
    """
    edges = graph.edges.select("src", "dst").cache()
    ids = graph.vertices.select("id")
    scores = ids.select(
        "id",
        F.lit(scale).cast("bigint").alias("hub"),
        F.lit(scale).cast("bigint").alias("auth"),
    )

    def _rescale(raw: str, tot: str) -> Column:
        # raw·scale in DECIMAL(38,0) (exact, HUGEINT-parity with the
        # oracle); zero/NULL mass fails loudly rather than NULLing out.
        return F.expr(
            f"CASE WHEN coalesce({tot}, 0L) <= 0L THEN "
            f"CAST(raise_error('hits_scaled: zero/NULL {tot} — degenerate "
            f"graph (no edges or all mass died this round)') AS BIGINT) "
            f"ELSE CAST((CAST(coalesce({raw}, 0L) AS DECIMAL(38,0)) "
            f"* {scale}) div {tot} AS BIGINT) END"
        )

    for i in range(n_iter):
        # Each half-round frame feeds BOTH its normalization total and the
        # next join — without a cache every reuse doubles the recompute
        # tree (4 doubling levels per round made the uncached loop ~10x
        # slower at sf0.1). Cache per round, truncate the round's output
        # eagerly, then release the round's caches — the alternating-CC
        # discipline.
        araw = (
            edges.join(
                scores.select(F.col("id").alias("src"), "hub"), "src"
            )
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum("hub").alias("araw"))
            .cache()
        )
        atot = araw.agg(F.sum("araw").alias("atot"))
        with_auth = (
            scores.select("id", "hub")
            .join(araw, "id", "left")
            .crossJoin(F.broadcast(atot))
            .select("id", "hub", _rescale("araw", "atot").alias("auth"))
            .cache()
        )
        hraw = (
            edges.join(
                with_auth.select(F.col("id").alias("dst"), "auth"), "dst"
            )
            .groupBy(F.col("src").alias("id"))
            .agg(F.sum("auth").alias("hraw"))
            .cache()
        )
        htot = hraw.agg(F.sum("hraw").alias("htot"))
        scores = _truncate(
            with_auth.select("id", "auth")
            .join(hraw, "id", "left")
            .crossJoin(F.broadcast(htot))
            .select("id", _rescale("hraw", "htot").alias("hub"), "auth"),
            checkpoint_dir=checkpoint_dir,
        )
        for frame in (araw, with_auth, hraw):
            frame.unpersist()

    edges.unpersist()
    return scores.select(
        "id",
        F.col("hub").alias("hub_scaled"),
        F.col("auth").alias("auth_scaled"),
    )


def multi_source_bfs(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
) -> DataFrame:
    """Unweighted BFS from EVERY seed at once: ``rounds`` synchronous
    frontier relaxations over (seed, id)-keyed state.

    ``edges`` is (src, dst) (pass both directions for undirected);
    ``seeds`` is a 1-column (id) frame. The multi-source generalization
    of :func:`sssp_rounds` — one loop costs O(|E|·|seeds|) per round
    worst-case instead of |seeds| separate traversals, and the state
    shuffle is keyed by (seed, id) so landmark counts scale by adding
    partitions, not rounds. Same fixed-round integer-exact oracle
    discipline as sssp/LPA/PageRank. Returns (seed, id, dist) for pairs
    reached within ``rounds`` hops (dist 0 = the seed itself).
    """
    return _relax(edges.withColumn("w", F.lit(1)), seeds, rounds)
