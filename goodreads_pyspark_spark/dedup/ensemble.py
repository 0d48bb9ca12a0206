"""LSH-Ensemble: size-partitioned containment LSH (Zhu, Nargesian, Pu &
Miller, "LSH Ensemble: Internet-Scale Domain Search", VLDB 2016 — public).

WHY a plain MinHash/banding index cannot find containment pairs: banding
collision probability is a function of JACCARD, and a containment pair
(a quote, a boilerplate wrapper, a concatenation) has high containment
with arbitrarily low Jaccard — the bigger the container, the lower the
Jaccard. d64 measures this on our corpus: the d07 banding index recovers
100% of jaccard>=0.5 pairs but only 0-9% of containment-only pairs.

The ensemble fix: partition the indexed sets BY SIZE and give each
partition its own banding scheme. Within a partition the container size
is bounded by the partition's upper edge, so the Jaccard equivalent of a
containment threshold t is bounded below (J >= t*q / (q + u_p - t*q)),
and a per-partition (bands, rows) choice can target it — small-container
partitions keep cheap high-r banding, large-container partitions switch
to aggressive low-r banding that plain LSH could never afford globally.
A query (the potential CONTAINED doc) probes every partition that could
hold a container at least its size, using THAT partition's scheme.

Differences from the paper, chosen for oracle replayability:
  * size boundaries are either static geometric edges (d65's gate — a
    pure CASE expression) or EXACT equi-depth quantile edges computed
    distributedly from the size histogram (``equi_depth_edges``, d66's
    gate — the partitioning the paper proves near-optimal; exact
    value-at-rank stays replayable where an approx-quantile sketch
    would not, and costs one tiny-histogram pass);
  * per-partition rows-per-band from a fixed table rather than the
    paper's per-query optimization (fixed (b,r) is what an INDEX can
    precompute; the optimization chooses among the same splits).

Scale shape: signatures are one min-hash aggregation over the shingle
pass (shared with every other MinHash consumer); the only thing that
shuffles afterwards is (doc_id, size, partition, band, 8-byte md5-prefix int key)
— sum(b_p) rows per doc on the probe side, b_own on the index side.
The per-(partition, band, key) bucket cap bounds any bucket's m^2 join
contribution exactly like d07's ``max_bucket``; candidate volume is
measured, not hoped (d65 gates it).

Reference parity: the reference notebook has no containment index at
all; this is part of the beyond-reference LLM-data-pipeline surface
(SURVEY.md LLM-ops), motivated quantitatively by d64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.minhash import (
    cap_buckets,
    minhash_signatures_from_shingles,
)
from goodreads_pyspark_spark.dedup.shingles import shingle_hash

#: Static size-partition upper edges (shingle-set size, 2-gram corpus
#: quartile-ish geometric edges) — partition p holds sizes in
#: [edges[p-1], edges[p]); the last partition is unbounded.
DEFAULT_SIZE_EDGES: tuple[int, ...] = (24, 48, 72)

#: rows-per-band per partition (bands = num_hashes // rows). Larger
#: containers → lower worst-case Jaccard for the same containment →
#: fewer rows per band (more, shorter bands: the S-curve moves left).
DEFAULT_ROWS_PER_BAND: tuple[int, ...] = (2, 2, 1, 1)


def _pin(df: DataFrame, registry: list) -> DataFrame:
    """cache() that hands the unpersist handle back to the caller: every
    function here pins its per-call caches in ``registry``, and the
    caller unpersists them once it has materialized what it needs —
    otherwise per-call caches accumulate for the session's lifetime."""
    df = df.cache()
    registry.append(df)
    return df


def _partition_of(sz: Column, edges: tuple[int, ...]) -> Column:
    """Static range partitioning of set sizes — a map-side CASE chain."""
    out = F.lit(len(edges))  # last (unbounded) partition
    for p in reversed(range(len(edges))):
        out = F.when(sz < edges[p], F.lit(p)).otherwise(out)
    return out.cast("int")


def lsh_ensemble_candidate_pairs(
    sh: DataFrame | None,
    id_col: str = "id",
    num_hashes: int = 16,
    size_edges: tuple[int, ...] = DEFAULT_SIZE_EDGES,
    rows_per_band: tuple[int, ...] = DEFAULT_ROWS_PER_BAND,
    max_bucket: int | None = 100,
    max_probe: int | None = None,
    sig_sizes: DataFrame | None = None,
    *,
    cache_registry: list,
) -> DataFrame:
    """Oriented containment candidates ``(contained, container)`` from a
    prebuilt ``(id_col, sh)`` distinct-shingle table — or, when
    ``sig_sizes`` (a precomputed (id_col, sz, mh0..mh{K-1}) table) is
    given, without touching ``sh`` at all (the signature aggregation is
    the expensive corpus pass; several queries share one).

    Every doc is INDEXED once under its own partition's scheme and
    PROBES every partition that could hold a container at least its
    size (a container is never smaller than what it contains), using
    that partition's scheme. A pair is a candidate when any band key
    collides under the container's partition scheme; orientation is
    (smaller, larger) with id as the equal-size tiebreak — the d63
    convention. ``max_bucket`` caps index-side bucket sizes per
    (partition, band, key); ``max_probe`` (default ``4 * max_bucket``)
    drops probe-side buckets above that size — a key probed by that
    many docs carries no discriminative signal (the df-cap rationale),
    and uncapped it multiplies the join by the probe bucket size
    (measured 1.4x wall on the d65 gate with ZERO candidate change at
    both test sfs).
    """
    if len(rows_per_band) != len(size_edges) + 1:
        raise ValueError(
            f"rows_per_band has {len(rows_per_band)} entries for "
            f"{len(size_edges) + 1} partitions"
        )
    for r in rows_per_band:
        if r <= 0 or num_hashes % r != 0:
            raise ValueError(
                f"rows-per-band {r} must divide num_hashes ({num_hashes})"
            )

    if sig_sizes is not None:
        docs = sig_sizes.withColumn(
            "part", _partition_of(F.col("sz"), size_edges)
        )
    else:
        sigs = minhash_signatures_from_shingles(sh, id_col, num_hashes)
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
        docs = sigs.join(sizes, id_col).withColumn(
            "part", _partition_of(F.col("sz"), size_edges)
        )

    # One exploded (id, sz, part, p, band, key) frame carrying, per doc,
    # the band keys of EVERY partition scheme — index and probe sides
    # are then filters over the same subtree (cached: two consumers).
    entries = []
    for p, r in enumerate(rows_per_band):
        bands = num_hashes // r
        for b in range(bands):
            # 60-bit md5-prefix int, not the 32-char hex string: band
            # keys are pure join keys, and 8-byte ints shuffle ~4x
            # cheaper (the d54 hashed-shingle discipline; measured in
            # SCALING.md addendum 10b)
            key = F.conv(
                F.substring(
                    F.md5(
                        F.concat(*[F.col(f"mh{b * r + k}") for k in range(r)])
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            entries.append(
                F.struct(
                    F.lit(p).alias("p"), F.lit(b).alias("band"), key.alias("key")
                )
            )
    keyed = (
        docs.select(
            F.col(id_col),
            "sz",
            "part",
            F.explode(F.array(*entries)).alias("e"),
        )
        .select(id_col, "sz", "part", "e.p", "e.band", "e.key")
    )
    keyed = _pin(keyed, cache_registry)

    bucket = ["p", "band", "key"]
    index = cap_buckets(keyed.filter(F.col("part") == F.col("p")), bucket, max_bucket)
    if max_probe is None and max_bucket is not None:
        max_probe = 4 * max_bucket
    probe = cap_buckets(keyed.filter(F.col("p") >= F.col("part")), bucket, max_probe)

    q, x = probe.alias("q"), index.alias("x")
    return (
        q.join(x, ["p", "band", "key"])
        .filter(
            (F.col("q.sz") < F.col("x.sz"))
            | (
                (F.col("q.sz") == F.col("x.sz"))
                & (F.col(f"q.{id_col}") < F.col(f"x.{id_col}"))
            )
        )
        .select(
            F.col(f"q.{id_col}").alias("contained"),
            F.col(f"x.{id_col}").alias("container"),
        )
        .distinct()
    )


def equi_depth_edges(
    sh: DataFrame | None,
    id_col: str = "id",
    n_partitions: int = 4,
    sizes: DataFrame | None = None,
    with_hist: bool = False,
) -> list[int] | tuple[list[int], list[tuple[int, int]]]:
    """Equi-depth size-partition edges from the shingle table — the
    partitioning Zhu et al. prove near-optimal (each partition holds
    ~the same number of sets, so no scheme is tuned for a size range
    that barely exists).

    Exact distributed value-at-rank WITHOUT a global sort: set sizes are
    small integers (bounded by document length), so the size histogram
    is a tiny table — one groupBy shuffle builds it, a window over the
    ~100 distinct sizes cumulates it, and the edge for quantile q is the
    smallest size whose cumulative count reaches ceil(q·n), plus one
    (edges are exclusive upper bounds for ``_partition_of``). Only the
    n_partitions-1 edge scalars reach the driver — at 100 TB this is
    the same one-histogram-pass + broadcast-scalars shape.
    """
    from pyspark.sql import Window

    if sizes is None:
        sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("sz").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("c").over(w))
    # ONE action: the cumulated histogram is ~|distinct sizes| rows
    # (bounded by max document length) — collect it once and read every
    # edge out of it, instead of one Spark job per edge (the 4-job form
    # measured 2.4x the shuffle volume of d65 in the r10 audit).
    rows = sorted(
        ((r["sz"], r["cum"]) for r in cum.collect()), key=lambda t: t[0]
    )
    if not rows:
        # would otherwise surface as a bare StopIteration from next()
        raise ValueError("equi_depth_edges: empty size table")
    n = rows[-1][1]
    edges = []
    for k in range(1, n_partitions):
        rank = -(-k * n // n_partitions)  # ceil(k*n/P), integer-exact
        edge_sz = next(sz for sz, c in rows if c >= rank)
        edges.append(int(edge_sz) + 1)
    if with_hist:
        # callers auditing sketch edges (d70) read the SAME collected
        # cumulated histogram instead of re-collecting it
        return edges, rows
    return edges


def incremental_containment_matches(
    corpus_sh: DataFrame | None,
    incoming_sh: DataFrame,
    id_col: str = "id",
    num_hashes: int = 16,
    size_edges: tuple[int, ...] = DEFAULT_SIZE_EDGES,
    rows_per_band: tuple[int, ...] = DEFAULT_ROWS_PER_BAND,
    max_bucket: int | None = 100,
    max_df: int | None = 100,
    threshold: float = 0.8,
    prebuilt_standing: dict[str, DataFrame] | None = None,
    *,
    cache_registry: list,
) -> DataFrame:
    """Ingestion-time containment dedup: incoming docs that are
    ``threshold``-contained in a STANDING corpus doc — the d19
    (incremental MinHash) pattern applied to the ensemble index.

    The standing corpus is indexed ONCE (each doc keyed under its own
    partition's scheme, bucket-capped) — in production that index is a
    persisted table maintained across batches. Each incoming doc probes
    only the partitions that could hold a ``threshold``-container of its
    size (|q∩x| <= |x|, so containment(q) >= t forces |x| >= t·|q|;
    with integer-exact ceil the probe floor is partition_of(ceil(t·q))).
    The batch's probe keys BROADCAST against the standing index — the
    corpus never reshuffles per batch. Exact containment is then
    verified ONLY on candidate pairs, in the df-capped shingle space
    (df computed over the standing corpus; both sides filtered to the
    surviving shingles, incoming sizes measured in the same space —
    d63's convention).

    Returns (incoming ``id_col``, container, n_common, sz_in,
    containment_in) for matches with ``containment_in >= threshold``.

    ``prebuilt_standing`` (the dict from
    :func:`build_containment_standing`) skips every standing-state
    build — the production shape, where the index, the hot-shingle set
    and the corpus shingle table are maintained across batches;
    ``corpus_sh`` may then be ``None`` (it is only read to build
    standing state).
    """
    if prebuilt_standing is None and corpus_sh is None:
        raise ValueError("corpus_sh is required without prebuilt_standing")
    standing = prebuilt_standing or build_containment_standing(
        corpus_sh,
        id_col,
        num_hashes,
        size_edges,
        rows_per_band,
        max_bucket,
        max_df,
        cache_registry=cache_registry,
    )
    return _containment_probe(
        standing,
        incoming_sh,
        id_col,
        num_hashes,
        size_edges,
        rows_per_band,
        threshold,
        cache_registry,
    )


def _band_struct_expr(num_hashes: int, rows_per_band: tuple[int, ...]):
    """All band-key structs of every partition scheme as ONE parsed SQL
    expression (nested Column construction costs thousands of py4j
    round-trips — ~6s of driver time measured at any sf)."""
    structs = []
    for p, r in enumerate(rows_per_band):
        for b in range(num_hashes // r):
            cat = ", ".join(f"mh{b * r + k}" for k in range(r))
            structs.append(
                f"struct({p} as p, {b} as band, "
                f"cast(conv(substring(md5(concat({cat})), 1, 15), 16, 10)"
                f" as bigint) as key)"
            )
    return F.explode(F.expr("array(" + ", ".join(structs) + ")"))


def build_containment_standing(
    corpus_sh: DataFrame,
    id_col: str = "id",
    num_hashes: int = 16,
    size_edges: tuple[int, ...] = DEFAULT_SIZE_EDGES,
    rows_per_band: tuple[int, ...] = DEFAULT_ROWS_PER_BAND,
    max_bucket: int | None = 100,
    max_df: int | None = 100,
    *,
    cache_registry: list,
    sig_sizes: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The ENTIRE standing half of incremental containment admission,
    i.e. everything a production system persists across ingestion
    batches: ``index`` — every corpus doc keyed under its OWN
    partition's scheme, bucket-capped, (container, p, band, key) rows;
    ``hot`` — the over-``max_df`` shingle hashes (excluded from
    verification on both sides); ``st`` — the hashed corpus shingle
    table with hot shingles removed (what exact verification reads,
    restricted to candidate containers per batch); ``counts`` — PRE-cap
    per-(p, band, key) bucket entry counts, the one piece of state the
    cap makes non-recoverable from the capped index (needed by
    :func:`extend_containment_standing` to fold admitted batches in
    without a rebuild — bucket counts are additive, the capped index
    alone is not); ``dfreq`` — exact per-shingle document frequency
    over the full corpus (hot shingles included), so fold-in can detect
    newly-hot shingles from the BATCH's shingles alone instead of
    re-counting ``st``. Batches only probe and join these; none of
    them is recomputed per batch.

    ``sig_sizes`` — an optional precomputed ``(id_col, sz, mh0..)``
    table (the shared signature kernel) — skips the 16-hash
    aggregation, the expensive corpus pass; ``corpus_sh`` is still
    required (the shingle table is state). Signatures depend only on a
    doc's own shingles, so a kernel slice is bit-identical to
    recomputing."""
    if sig_sizes is not None:
        docs_c = sig_sizes.withColumn(
            "part", _partition_of(F.col("sz"), size_edges)
        )
    else:
        sigs_c = minhash_signatures_from_shingles(
            corpus_sh, id_col, num_hashes
        )
        sz_c = corpus_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
        docs_c = sigs_c.join(sz_c, id_col).withColumn(
            "part", _partition_of(F.col("sz"), size_edges)
        )
    index = _pin(
        docs_c.select(
            F.col(id_col).alias("container"),
            "part",
            _band_struct_expr(num_hashes, rows_per_band).alias("e"),
        )
        .filter(F.col("part") == F.col("e.p"))
        .select("container", "e.p", "e.band", "e.key"),
        # cache: the bucket count and the cap join both consume this
        # subtree, and uncached each re-runs the 16-min-hash aggregation
        cache_registry,
    )
    counts = index.groupBy("p", "band", "key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    if max_bucket is not None:
        index = index.join(
            counts.filter(F.col("n") <= max_bucket).drop("n"),
            ["p", "band", "key"],
        )
    st = _pin(
        corpus_sh.withColumn("sh", shingle_hash()).withColumnRenamed(
            id_col, "container"
        ),
        cache_registry,
    )
    dfreq = st.groupBy("sh").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    if max_df is not None:
        hot = dfreq.filter(F.col("df") > max_df).select("sh")
        st = st.join(hot, "sh", "left_anti")
    else:
        hot = st.select("sh").limit(0)
    return {"index": index, "hot": hot, "st": st, "counts": counts,
            "dfreq": dfreq}


def extend_containment_standing(
    standing: dict[str, DataFrame],
    admitted_sh: DataFrame,
    id_col: str = "id",
    num_hashes: int = 16,
    size_edges: tuple[int, ...] = DEFAULT_SIZE_EDGES,
    rows_per_band: tuple[int, ...] = DEFAULT_ROWS_PER_BAND,
    max_bucket: int | None = 100,
    max_df: int | None = 100,
    *,
    cache_registry: list,
) -> dict[str, DataFrame]:
    """Fold an ADMITTED batch into the standing containment state —
    the index-maintenance step that closes the production ingest loop
    (publish -> probe batch -> admit -> FOLD IN -> re-publish), so the
    index grows per batch instead of requiring a full corpus rebuild
    (VERDICT r11 item 2).

    Row-identical to ``build_containment_standing(corpus ∪ batch)``
    (io21 gates the equivalence; the two-batch pytest pins
    composability), because every per-doc quantity (min-hashes, size,
    partition, band keys) depends only on that doc's own shingles and
    every cross-doc quantity is additive:

    * ``counts`` — pre-cap bucket counts are a sum of per-doc
      contributions: the batch's bucket deltas (batch-sized) broadcast
      against the standing counts, merged in one map-side pass.
    * ``index`` — a rebuild's capped index is (all entries) filtered by
      merged count <= cap, and only buckets the batch TOUCHES can
      change: entries leave exactly in buckets the batch pushed over
      the cap (broadcast anti-join of the old index against that
      batch-sized key set), batch entries enter exactly in buckets
      still under it. Buckets only grow, so no dropped entry ever needs
      resurrecting — which is exactly why the capped index alone is
      insufficient state and ``counts`` is persisted beside it.
    * ``hot``/``dfreq`` — document frequency is additive and hotness is
      monotone (df only grows), and df can only change for shingles the
      batch CONTAINS: newly hot = batch shingles whose (standing df +
      batch df) crosses ``max_df``, from a broadcast of the batch's
      per-shingle deltas against the standing ``dfreq`` (exact df incl.
      hot shingles — persisted as standing state for exactly this).
    * ``st`` — (old ``st`` ∪ batch rows) minus the new hot set; old
      rows already exclude the old hot set, which the new one contains.

    Scale shape: one min-hash aggregation over the batch, then pure
    DELTA maintenance — every standing table is only ever SCANNED with
    a broadcast hash join or anti-join against a batch-sized key set;
    nothing repartitions the standing state by key, nothing
    re-shingles the corpus. At 100 TB a fold-in costs one linear
    map-side pass per standing table plus batch-sized work — the d19
    incremental discipline applied to index maintenance itself (a
    naive union+groupBy merge would reshuffle the full index per
    batch; the r12 stress probe prices the difference).
    """
    # the batch shingle subtree feeds three consumers (signatures,
    # sizes, the hashed row table); pinned, the tokenize/explode pass
    # over the batch runs once instead of three times
    admitted_sh = _pin(admitted_sh, cache_registry)
    sigs_b = minhash_signatures_from_shingles(admitted_sh, id_col, num_hashes)
    sz_b = admitted_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    docs_b = sigs_b.join(sz_b, id_col).withColumn(
        "part", _partition_of(F.col("sz"), size_edges)
    )
    entries_b = _pin(
        docs_b.select(
            F.col(id_col).alias("container"),
            "part",
            _band_struct_expr(num_hashes, rows_per_band).alias("e"),
        )
        .filter(F.col("part") == F.col("e.p"))
        .select("container", "e.p", "e.band", "e.key"),
        # cache: consumed by the bucket deltas and the index union
        cache_registry,
    )
    bkeys = ["p", "band", "key"]
    counts_b = _pin(
        entries_b.groupBy(*bkeys).agg(
            F.count(F.lit(1)).cast("bigint").alias("nb")
        ),
        cache_registry,
    )
    # per-CHANGED-bucket merged counts, batch-sized: a map-side inner
    # join of the standing counts against the broadcast batch deltas
    # (buckets the batch does not touch cannot change), plus the
    # batch-only buckets (no standing row). This is what keeps fold-in
    # shuffle-free: the standing tables are only ever SCANNED with a
    # broadcast hash join / anti-join — never repartitioned by key.
    matched = _pin(
        standing["counts"]
        .join(F.broadcast(counts_b), bkeys)
        .select(*bkeys, F.col("n").alias("n_old"), "nb"),
        cache_registry,
    )
    changed = _pin(
        matched.unionByName(
            counts_b.join(
                F.broadcast(matched.select(*bkeys)), bkeys, "left_anti"
            ).select(*bkeys, F.lit(0).cast("bigint").alias("n_old"), "nb")
        ).withColumn("n_new", F.col("n_old") + F.col("nb")),
        cache_registry,
    )
    counts = standing["counts"].join(
        F.broadcast(changed.select(*bkeys, "nb")), bkeys, "left"
    ).select(
        *bkeys,
        (F.col("n") + F.coalesce(F.col("nb"), F.lit(0)))
        .cast("bigint")
        .alias("n"),
    ).unionByName(
        changed.filter(F.col("n_old") == 0).select(
            *bkeys, F.col("n_new").alias("n")
        )
    )
    if max_bucket is not None:
        # entries leave the index ONLY in buckets the batch pushed over
        # the cap; batch entries enter ONLY in buckets still under it —
        # both are broadcast-delta map-side operations on the old index
        newly_over = changed.filter(
            (F.col("n_old") <= max_bucket) & (F.col("n_new") > max_bucket)
        ).select(*bkeys)
        kept_b = changed.filter(F.col("n_new") <= max_bucket).select(*bkeys)
        index = standing["index"].join(
            F.broadcast(newly_over), bkeys, "left_anti"
        ).unionByName(
            entries_b.join(F.broadcast(kept_b), bkeys).select(
                "container", *bkeys
            )
        )
    else:
        index = standing["index"].unionByName(
            entries_b.select("container", *bkeys)
        )
    st_b = _pin(
        admitted_sh.withColumn("sh", shingle_hash()).withColumnRenamed(
            id_col, "container"
        ),
        cache_registry,
    )
    df_b = _pin(
        st_b.groupBy("sh").agg(F.count(F.lit(1)).cast("bigint").alias("db")),
        cache_registry,
    )
    # df can only change for shingles the BATCH contains, so the hot
    # frontier moves by a batch-sized delta against the standing dfreq
    # (exact df incl. hot shingles — kept as standing state for exactly
    # this): map-side scan + broadcast, never a corpus-vocabulary shuffle
    df_matched = _pin(
        standing["dfreq"]
        .join(F.broadcast(df_b), "sh")
        .select("sh", F.col("df").alias("df_old"), "db"),
        cache_registry,
    )
    df_changed = _pin(
        df_matched.unionByName(
            df_b.join(
                F.broadcast(df_matched.select("sh")), "sh", "left_anti"
            ).select("sh", F.lit(0).cast("bigint").alias("df_old"), "db")
        ).withColumn("df_new", F.col("df_old") + F.col("db")),
        cache_registry,
    )
    dfreq = standing["dfreq"].join(
        F.broadcast(df_changed.select("sh", "db")), "sh", "left"
    ).select(
        "sh",
        (F.col("df") + F.coalesce(F.col("db"), F.lit(0)))
        .cast("bigint")
        .alias("df"),
    ).unionByName(
        df_changed.filter(F.col("df_old") == 0).select(
            "sh", F.col("df_new").alias("df")
        )
    )
    if max_df is not None:
        newly_hot = df_changed.filter(
            (F.col("df_old") <= max_df) & (F.col("df_new") > max_df)
        ).select("sh")
        hot = standing["hot"].unionByName(newly_hot)
        # BOTH hot anti-joins broadcast batch-sized key sets, never the
        # full hot set (corpus-proportional — a forced broadcast of it
        # would bypass the size cap at scale): old rows already exclude
        # the old hot set, so they only need newly_hot removed; and a
        # batch shingle is hot-after-merge exactly when its merged df
        # exceeds the cap (df only grows, and df_changed covers every
        # batch shingle, already-hot ones included since dfreq keeps
        # exact df for them)
        batch_hot = df_changed.filter(F.col("df_new") > max_df).select("sh")
        st = (
            standing["st"]
            .join(F.broadcast(newly_hot), "sh", "left_anti")
            .unionByName(
                st_b.join(F.broadcast(batch_hot), "sh", "left_anti")
            )
        )
    else:
        hot = standing["hot"]
        st = standing["st"].unionByName(st_b)
    return {"index": index, "hot": hot, "st": st, "counts": counts,
            "dfreq": dfreq}


def containment_probe_candidates(
    standing: dict[str, DataFrame],
    incoming_sh: DataFrame | None,
    id_col: str = "id",
    num_hashes: int = 16,
    size_edges: tuple[int, ...] = DEFAULT_SIZE_EDGES,
    rows_per_band: tuple[int, ...] = DEFAULT_ROWS_PER_BAND,
    threshold: float = 0.8,
    incoming_sig_sizes: DataFrame | None = None,
    *,
    cache_registry: list,
) -> DataFrame:
    """Candidate (incoming, container) pairs from probing the standing
    index — the banding half of the incremental path, exposed so audits
    (d71's threshold sweep) can measure candidate volume per operating
    point without re-verifying. The probe floor is the threshold's only
    effect here: containment(q) >= t forces |x| >= t·|q|, so a doc only
    probes partitions that can hold a t-container of its size (lower t
    -> deeper probing -> more candidates). ``incoming_sig_sizes`` — a
    precomputed (id_col, szq, mh0..) table — skips the signature pass
    when one table serves several thresholds."""
    index = standing["index"]
    entries_expr = _band_struct_expr(num_hashes, rows_per_band)
    if incoming_sig_sizes is None:
        sigs_i = minhash_signatures_from_shingles(
            incoming_sh, id_col, num_hashes
        )
        sz_i = incoming_sh.groupBy(id_col).agg(
            F.count(F.lit(1)).alias("szq")
        )
        incoming_sig_sizes = sigs_i.join(sz_i, id_col)
    # threshold quantized to hundredths, FLOORED with an epsilon: the
    # quantized value must never exceed the true threshold (the floor
    # |x| >= t·|q| is a lower bound — rounding UP would raise the probe
    # partition floor past the bound and silently skip valid
    # containers). The epsilon absorbs float representation (plain
    # int(0.7*100) floats to 69); flooring 0.836 -> 83/100 probes
    # conservatively deeper, never shallower.
    t_num, t_den = int(threshold * 100 + 1e-9), 100
    floor_sz = F.expr(f"({t_num} * szq + {t_den} - 1) div {t_den}")
    probe = (
        incoming_sig_sizes.withColumn(
            "pmin", _partition_of(floor_sz, size_edges)
        )
        .select(
            F.col(id_col).alias("incoming"),
            "pmin",
            entries_expr.alias("e"),
        )
        .filter(F.col("e.p") >= F.col("pmin"))
        .select("incoming", "e.p", "e.band", "e.key")
    )
    # cache: cand feeds the container restriction, the verify join and
    # the final match filter — uncached, the whole index+probe pipeline
    # re-runs per consumer
    return _pin(
        F.broadcast(probe)
        .join(index, ["p", "band", "key"])
        .select("incoming", "container")
        .distinct(),
        cache_registry,
    )


def _containment_probe(
    standing: dict[str, DataFrame],
    incoming_sh: DataFrame,
    id_col: str,
    num_hashes: int,
    size_edges: tuple[int, ...],
    rows_per_band: tuple[int, ...],
    threshold: float,
    cache_registry: list,
) -> DataFrame:
    """The per-batch half: probe the standing index, verify exact
    containment on candidates only (standing-df-capped shingle space,
    over-df shingles excluded on both sides). Per-call caches go in
    ``cache_registry`` — repeated callers (one probe per micro-batch)
    unpersist them after materializing."""
    hot = standing["hot"]
    cand = containment_probe_candidates(
        standing,
        incoming_sh,
        id_col=id_col,
        num_hashes=num_hashes,
        size_edges=size_edges,
        rows_per_band=rows_per_band,
        threshold=threshold,
        cache_registry=cache_registry,
    )

    # --- exact verify on candidates, in the standing df-capped space.
    # Over-df shingles are EXCLUDED on both sides (anti-join), never an
    # inner keep-join: incoming shingles absent from the corpus have no
    # df row, and dropping them would shrink sz_in and inflate
    # containment for novel documents.
    inc = _pin(
        incoming_sh.withColumn("sh", shingle_hash())
        .withColumnRenamed(id_col, "incoming")
        .join(hot, "sh", "left_anti"),
        cache_registry,
    )
    st = standing["st"].join(cand.select("container").distinct(), "container")
    sz_in = inc.groupBy("incoming").agg(F.count(F.lit(1)).alias("sz_in"))
    common = (
        F.broadcast(inc)
        .join(st, "sh")
        .groupBy("incoming", "container")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .join(cand, ["incoming", "container"])
        .join(sz_in, "incoming")
        .withColumn(
            "containment_in",
            F.col("n_common").cast("double") / F.col("sz_in").cast("double"),
        )
    )
    return common.filter(F.col("containment_in") >= threshold).select(
        "incoming",
        "container",
        F.col("n_common").cast("bigint").alias("n_common"),
        F.col("sz_in").cast("bigint").alias("sz_in"),
        "containment_in",
    )
