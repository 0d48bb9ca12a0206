"""Embedding quantization — the storage-compression step of a vector
pipeline (int8 codes are 4× smaller than float32 and 8× smaller than
float64; ANN rerank reads codes, dequantizes, scores).

Symmetric per-dimension scheme: ``code = floor(v·127/amax_d + 0.5)`` with
``amax_d = max|v_d|`` over the corpus. ``floor(x+0.5)`` — not ``round`` —
because engines disagree on round-half semantics (banker's vs away-from-
zero) while ``floor`` is universal; every step is plain IEEE double
arithmetic in the same order, so codes are integer-exact across engines.

Scale shape: one explode → per-dim max (64 rows) → broadcast join back →
re-aggregate per vector. Two shuffles of (id, pos, value) rows, nothing
quadratic; the per-dim stats table is tiny and broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators.partitioning import fan_out
from goodreads_pyspark_spark.operators.relational import bounded_rank
from goodreads_pyspark_spark.similarity.ann import recall_at_k

_ACC = "decimal(38,12)"


def _require_geometry(
    df: DataFrame, n_sub: int, sub_dim: int, vec_col: str
) -> DataFrame:
    """Guard that the vector dimension equals ``n_sub * sub_dim``.

    Subspaces are derived from ``pos div sub_dim`` alone, so an
    inconsistent ``n_sub`` would otherwise change geometry silently
    (ADVICE r9). The check is an inline JVM-side expression — a per-row
    array-size comparison folded into the same scan, no extra driver
    job — that raises at execution time with the actual/expected dims.
    ``raise_error`` lives inside the WHERE so Catalyst cannot prune it.
    """
    dim = n_sub * sub_dim
    return df.where(
        F.when(F.size(vec_col) == dim, F.lit(True)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"PQ geometry mismatch: expected n_sub*sub_dim = "
                        f"{n_sub}*{sub_dim} = {dim} dims, got "
                    ),
                    F.size(vec_col).cast("string"),
                )
            )
        )
    )


def int8_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 codes + reconstruction error.

    Returns (id, codes ``csv string ordered by dim``, max_abs_err).
    String codes keep the result scalar-celled (driver-canon friendly)
    and diff-able; production would store ``array<tinyint>``.
    """
    e = (
        fan_out(df)
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    amax = e.groupBy("pos").agg(
        F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("amax")
    )
    q = (
        e.join(F.broadcast(amax), "pos")
        .withColumn("code", F.floor(F.col("v") * 127.0 / F.col("amax") + 0.5))
        .withColumn(
            "err", F.abs(F.col("v") - F.col("code") * F.col("amax") / 127.0)
        )
    )
    codes = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "code"))),
            lambda s: s.getField("code").cast("string"),
        ),
        ",",
    )
    return q.groupBy(id_col).agg(
        codes.alias("codes"), F.max("err").alias("max_abs_err")
    )


def int8_codes_long(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Long-form int8 codes: (id, pos, code BIGINT), same quantizer as
    :func:`int8_quantize` (shared floor(x+0.5) contract, so codes are
    integer-exact across engines). Long form feeds integer dot products
    — the exact-arithmetic scoring path (e.g. MMR re-rank)."""
    e = (
        fan_out(df)
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    amax = e.groupBy("pos").agg(
        F.greatest(F.max(F.abs("v")), F.lit(1e-30)).alias("amax")
    )
    return (
        e.join(F.broadcast(amax), "pos")
        .select(
            F.col(id_col),
            "pos",
            F.floor(F.col("v") * 127.0 / F.col("amax") + 0.5)
            .cast("bigint")
            .alias("code"),
        )
    )


def pq_codes(
    df: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization codes: per-subspace nearest-centroid ids.

    Splits each ``n_sub * sub_dim``-dim vector into ``n_sub`` contiguous
    subvectors and assigns each to its nearest (L2) centroid among
    ``ksub`` candidates; a vector compresses to ``n_sub`` small ints
    (here 64 floats → 4 nibbles). Codebooks are deterministic data
    points — the subvectors of the ``ksub`` lowest-id vectors (the
    ``sampled_centroids`` convention from IVF, which is what lets a SQL
    oracle replay assignment exactly); production would Lloyd-refine
    per subspace without changing this dataflow.

    Scale shape: codebooks are ksub·dim rows → broadcast; assignment is
    one explode + broadcast join + (id, sub, cid)-grouped decimal-exact
    distance sums + per-(id, sub) argmin window; codes re-assemble with
    a sorted collect_list. Shuffles carry (id, sub, cid, distance) only
    — never raw vectors.

    Returns (id, pq_code "c0,c1,...", total_d2) where total_d2 is the
    decimal-exact sum of per-subspace squared distances (the
    reconstruction-error audit column).
    """
    best = pq_assignments(df, n_sub, sub_dim, ksub, id_col, vec_col)
    code = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("sub", "cid"))),
            lambda s: s.getField("cid").cast("string"),
        ),
        ",",
    )
    return best.groupBy(id_col).agg(
        code.alias("pq_code"),
        F.sum(F.col("d2").cast(_ACC)).cast("double").alias("total_d2"),
    )


def _centroids(
    df: DataFrame, ksub: int, id_col: str, vec_col: str
) -> DataFrame:
    """PQ codebooks as (cid, pos, cval) rows — the subvectors of the
    ``ksub`` lowest-id vectors (the IVF ``sampled_centroids`` convention,
    which is what lets a SQL oracle replay assignment exactly)."""
    return (
        df.filter(F.col(id_col) < ksub)
        .select(
            F.col(id_col).cast("int").alias("cid"),
            F.posexplode(vec_col).alias("pos", "cval"),
        )
        .withColumn("cval", F.col("cval").cast("double"))
    )


def pq_assignments(
    df: DataFrame,
    n_sub: int = 4,
    sub_dim: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-(vector, subspace) nearest-centroid assignment.

    Returns (id, sub, cid, d2): the winning centroid id per subspace with
    its decimal-exact squared distance (as DOUBLE). Ties break to the
    lowest centroid id — deterministic and oracle-replayable. Shared by
    :func:`pq_codes` (compression) and :func:`pq_adc_topk` (search).
    """
    from pyspark.sql import Window

    e = (
        fan_out(_require_geometry(df, n_sub, sub_dim, vec_col))
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .withColumn("sub", F.expr(f"pos div {sub_dim}"))
    )
    cents = _centroids(df, ksub, id_col, vec_col)
    d2 = (
        e.join(F.broadcast(cents), "pos")
        .groupBy(id_col, "sub", "cid")
        .agg(
            F.sum(
                ((F.col("v") - F.col("cval")) * (F.col("v") - F.col("cval"))).cast(_ACC)
            )
            .cast("double")
            .alias("d2")
        )
    )
    w = Window.partitionBy(id_col, "sub").orderBy(F.col("d2").asc(), F.col("cid"))
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def exact_l2_knn(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact L2 top-k of ``query_id``: (id, d2) for the ``k`` nearest other
    vectors, ascending, id tiebreak — the baseline the PQ and IVFADC
    recall audits price their rankings against. ``d2`` is a decimal-exact
    sum of squared component differences, so the ranking is bit-identical
    across engines."""
    e = (
        fan_out(df)
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    )
    q = e.filter(F.col(id_col) == query_id).select("pos", F.col("v").alias("qv"))
    return (
        e.filter(F.col(id_col) != query_id)
        .join(F.broadcast(q), "pos")
        .groupBy(id_col)
        .agg(
            F.sum(((F.col("v") - F.col("qv")) * (F.col("v") - F.col("qv"))).cast(_ACC))
            .cast("double")
            .alias("d2")
        )
        .orderBy(F.col("d2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_adc_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    n_sub: int = 4,
    sub_dim: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes.

    The query vector stays exact; every database vector is represented by
    its per-subspace centroid. Approximate distance is the sum over
    subspaces of d2(query subvector, assigned centroid) — read from a
    tiny (n_sub x ksub) lookup table instead of touching raw vectors.
    This is the IVF-PQ search kernel: at 100 TB the LUT is built once per
    query (64 rows, broadcast) and the scan touches only the integer
    codes — ~256x less IO than raw float64 vectors.

    Exactness posture: the LUT entries are decimal-exact sums kept in
    DECIMAL through the final per-vector sum (4 addends), converted to
    DOUBLE only for output — bit-identical across engines and
    partitionings, so top-k (with id tiebreak) is well-defined.

    Returns the k nearest non-query vectors as (id, adc_d2), ascending.
    """
    q = (
        df.filter(F.col(id_col) == query_id)
        .select(F.posexplode(vec_col).alias("pos", "qv"))
        .withColumn("qv", F.col("qv").cast("double"))
        .withColumn("sub", F.expr(f"pos div {sub_dim}"))
    )
    cents = _centroids(df, ksub, id_col, vec_col)
    lut = (
        q.join(F.broadcast(cents), "pos")
        .groupBy("sub", "cid")
        .agg(
            F.sum(
                ((F.col("qv") - F.col("cval")) * (F.col("qv") - F.col("cval"))).cast(
                    _ACC
                )
            ).alias("lut_d2")
        )
    )
    asgn = pq_assignments(df, n_sub, sub_dim, ksub, id_col, vec_col)
    return (
        asgn.join(F.broadcast(lut), ["sub", "cid"])
        .groupBy(id_col)
        .agg(F.sum("lut_d2").cast("double").alias("adc_d2"))
        .filter(F.col(id_col) != query_id)
        .orderBy(F.col("adc_d2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_adc_topk(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    nlist: int = 8,
    nprobe: int = 2,
    n_sub: int = 4,
    sub_dim: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    cache_registry: list,
) -> DataFrame:
    """Residual-encoded IVF-PQ search — the full IVFADC index structure
    (Jégou, Douze & Schmid 2011, "Product quantization for nearest
    neighbor search"; FAISS ``IndexIVFPQ``).

    Plain PQ (``pq_adc_topk``) quantizes raw vectors, so every code
    wastes bits re-describing WHERE in space the vector sits. IVFADC
    first routes each vector to its nearest coarse centroid (L2,
    ``nlist`` cells) and PQ-encodes only the RESIDUAL ``v − c(v)`` —
    residuals concentrate near the origin, so the same code budget
    carries far more precision. Search probes the query's ``nprobe``
    nearest cells and, per probed cell, builds the LUT from the
    QUERY'S residual against that cell — the per-cell LUT is what makes
    the distance asymmetric AND residual-consistent.

    Determinism: coarse centroids are the ``nlist`` lowest-id vectors
    (``sampled_centroids`` convention) and PQ codewords are the
    RESIDUAL subvectors of the ``ksub`` lowest-id vectors — both pure
    functions of the data, so a SQL oracle replays the whole path.
    Every distance is a decimal-exact sum of identically-computed
    double products; ties break to the lowest centroid id. Returns the
    top-``k`` non-query candidates as (id, cell, adc_d2) ascending.

    Scale shape: centroids (nlist·d), codebooks (ksub·d) and the
    nprobe·n_sub·ksub LUT all broadcast; assignment/encode shuffle
    (id, cell/sub, cid, distance) rows only; at query time the scan
    touches integer codes inside the probed cells — the candidate
    restriction is a semi-join on the assignment before any scoring.

    The long form and the residuals are cached (a 10-pair A/B showed
    they pay, CHANGES.md) and appended to ``cache_registry``: the caller
    unpersists them once it has materialized the result.
    """
    parts = _ivfpq_parts(
        df, nlist, n_sub, sub_dim, ksub, id_col, vec_col, cache_registry
    )
    return _ivfpq_search(parts, query_id, k, nprobe, id_col).select(
        id_col, F.col("ccid").alias("cell"), "adc_d2"
    )


def _ivfpq_parts(
    df: DataFrame,
    nlist: int,
    n_sub: int,
    sub_dim: int,
    ksub: int,
    id_col: str,
    vec_col: str,
    cache_registry: list,
) -> dict:
    """The query-independent half of IVFADC — long form, coarse
    centroids/assignment distances, residual codebooks and the encoded
    table — shared by single-query search (``ivfpq_adc_topk``) and the
    nprobe recall curve (``ivfpq_recall_curve``), which probes the SAME
    index at several depths (the e19 one-assignment-pass discipline)."""
    from pyspark.sql import Window

    dsq = lambda a, b: F.sum(((a - b) * (a - b)).cast(_ACC))  # noqa: E731

    e = (
        fan_out(_require_geometry(df, n_sub, sub_dim, vec_col))
        .select(F.col(id_col), F.posexplode(vec_col).alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
    ).cache()  # feeds coarse assign, residuals, and the query side
    cache_registry.append(e)
    cc = (
        e.filter(F.col(id_col) < nlist)
        .select(
            F.col(id_col).cast("int").alias("ccid"),
            "pos",
            F.col("v").alias("cval"),
        )
    )
    # coarse assignment: nearest cell by exact L2, tie -> lowest ccid
    ad2 = (
        e.join(F.broadcast(cc), "pos")
        .groupBy(id_col, "ccid")
        .agg(dsq(F.col("v"), F.col("cval")).cast("double").alias("d2"))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("d2").asc(), F.col("ccid"))
    asg = (
        ad2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "ccid")
    )
    # residuals: v - assigned centroid, long form (id, ccid, pos, r)
    res = (
        e.join(asg, id_col)
        .join(F.broadcast(cc), ["ccid", "pos"])
        .select(id_col, "ccid", "pos", (F.col("v") - F.col("cval")).alias("r"))
    ).cache()  # feeds codebooks, encode, and the query residual
    cache_registry.append(res)
    # PQ codebooks ON RESIDUALS: subvectors of the ksub lowest-id vectors
    cw = res.filter(F.col(id_col) < ksub).select(
        F.col(id_col).cast("int").alias("cid"), "pos", F.col("r").alias("cwv")
    )
    sub = F.expr(f"pos div {sub_dim}")
    enc_d2 = (
        res.withColumn("sub", sub)
        .join(F.broadcast(cw.withColumn("sub", sub)), ["pos", "sub"])
        .groupBy(id_col, "ccid", "sub", "cid")
        .agg(dsq(F.col("r"), F.col("cwv")).cast("double").alias("d2"))
    )
    we = Window.partitionBy(id_col, "sub").orderBy(
        F.col("d2").asc(), F.col("cid")
    )
    enc = (
        enc_d2.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") == 1)
        .select(id_col, "ccid", "sub", "cid")
    )
    return {
        "e": e, "cc": cc, "ad2": ad2, "enc": enc, "cw": cw,
        "sub": sub, "dsq": dsq,
    }


def _ivfpq_search(
    parts: dict, query_id: int, k: int, nprobe: int, id_col: str
) -> DataFrame:
    """The query-dependent half: probe set, per-cell residual LUTs, ADC
    ranking. Returns (id, ccid, adc_d2) ascending, top-k."""
    e, cc, ad2 = parts["e"], parts["cc"], parts["ad2"]
    enc, cw, sub, dsq = parts["enc"], parts["cw"], parts["sub"], parts["dsq"]
    probe = (
        ad2.filter(F.col(id_col) == query_id)
        .orderBy(F.col("d2").asc(), F.col("ccid"))
        .limit(nprobe)
        .select("ccid")
    )
    qr = (
        e.filter(F.col(id_col) == query_id)
        .join(F.broadcast(probe), how="cross")
        .join(F.broadcast(cc), ["ccid", "pos"])
        .select("ccid", "pos", (F.col("v") - F.col("cval")).alias("qr"))
    )
    lut = (
        qr.withColumn("sub", sub)
        .join(F.broadcast(cw.withColumn("sub", sub)), ["pos", "sub"])
        .groupBy("ccid", "sub", "cid")
        .agg(dsq(F.col("qr"), F.col("cwv")).alias("lut_d2"))
    )
    return (
        enc.join(F.broadcast(lut), ["ccid", "sub", "cid"])
        .filter(F.col(id_col) != query_id)
        .groupBy(id_col, "ccid")
        .agg(F.sum("lut_d2").cast("double").alias("adc_d2"))
        .orderBy(F.col("adc_d2").asc(), F.col(id_col).asc())
        .limit(k)
    )


def ivfpq_recall_curve(
    df: DataFrame,
    query_id: int,
    k: int = 10,
    probes: tuple[int, ...] = (1, 4, 8),
    nlist: int = 8,
    n_sub: int = 4,
    sub_dim: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *,
    cache_registry: list,
) -> DataFrame:
    """Recall@k of IVFADC at several probe depths against the exact L2
    top-k — the nprobe dial for the combined index (e19's discipline:
    ONE assignment pass and ONE encode pass serve the whole curve). At
    ``nprobe == nlist`` routing loss vanishes and the remaining gap is
    pure code loss. Returns one row per probe depth:
    (nprobe, k, n_hits, recall), ascending nprobe.

    The probe depths are nested prefixes of ONE cell ranking (the
    query's coarse distances), and a candidate's per-cell LUT rows do
    not depend on the depth — so the LUT is built for all ``nlist``
    cells once, every candidate is scored once and tagged with its
    cell's probe rank, and every depth's top-k comes from that one
    scored table through one rank window partitioned by depth. Per
    depth, ``cell_rank <= nprobe`` and the (adc_d2, id) order are the
    single-depth search's semantics, so results are bit-identical
    (oracle-gated). Caches go to ``cache_registry`` as in
    :func:`ivfpq_adc_topk`."""
    from pyspark.sql import Window

    parts = _ivfpq_parts(
        df, nlist, n_sub, sub_dim, ksub, id_col, vec_col, cache_registry
    )
    e, cc, ad2 = parts["e"], parts["cc"], parts["ad2"]
    enc, cw, sub, dsq = parts["enc"], parts["cw"], parts["sub"], parts["dsq"]
    exact = exact_l2_knn(df, query_id, k, id_col, vec_col).select(id_col)
    # every cell with its probe rank: depth p probes ranks 1..p (the
    # original per-depth orderBy(d2, ccid).limit(p) is exactly this
    # ranking's prefix)
    cell_rank = bounded_rank(
        ad2.filter(F.col(id_col) == query_id).select("ccid", "d2"),
        [("d2", "asc"), ("ccid", "asc")],
        "crank",
    ).select("ccid", "crank")
    # query residual and LUT against ALL cells, once (cell LUT rows do
    # not depend on probe depth — shallower depths just use fewer cells)
    qr = (
        e.filter(F.col(id_col) == query_id)
        .join(F.broadcast(cell_rank.select("ccid")), how="cross")
        .join(F.broadcast(cc), ["ccid", "pos"])
        .select("ccid", "pos", (F.col("v") - F.col("cval")).alias("qr"))
    )
    lut = (
        qr.withColumn("sub", sub)
        .join(F.broadcast(cw.withColumn("sub", sub)), ["pos", "sub"])
        .groupBy("ccid", "sub", "cid")
        .agg(dsq(F.col("qr"), F.col("cwv")).alias("lut_d2"))
    )
    # ONE ADC pass over the encoded table; each candidate lands in its
    # assigned cell, tagged with that cell's probe rank
    scored = (
        enc.join(F.broadcast(lut), ["ccid", "sub", "cid"])
        .filter(F.col(id_col) != query_id)
        .groupBy(id_col, "ccid")
        .agg(F.sum("lut_d2").cast("double").alias("adc_d2"))
        .join(F.broadcast(cell_rank), "ccid")
    )
    depths = df.sparkSession.createDataFrame(
        [(p,) for p in sorted({int(p) for p in probes})], "nprobe int"
    )
    wd = Window.partitionBy("nprobe").orderBy(
        F.col("adc_d2").asc(), F.col(id_col).asc()
    )
    topk = (
        scored.join(F.broadcast(depths), F.col("crank") <= F.col("nprobe"))
        .withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= k)
        .select("nprobe", id_col)
    )
    return recall_at_k(topk, exact, k, by=("nprobe",), grid=depths).orderBy(
        "nprobe"
    )
