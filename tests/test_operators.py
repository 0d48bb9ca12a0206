"""Unit tests for the relational operator library (SURVEY.md §5 item 1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators import (
    anti_join,
    argmax_per_group,
    dedup_latest,
    semi_join,
    top_k,
    top_k_per_group,
)


def test_dedup_latest_keeps_max_order_key(spark):
    df = spark.createDataFrame(
        [(1, 2000, "a"), (1, 2010, "b"), (2, 1990, "c")], ["k", "year", "v"]
    )
    out = dedup_latest(df, ["k"], [F.col("year").desc()]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "b"), (2, "c")]


def test_dedup_latest_deterministic_tiebreak(spark):
    df = spark.createDataFrame([(1, 5, "x"), (1, 5, "y")], ["k", "year", "v"])
    out = dedup_latest(df, ["k"], [F.col("year").desc(), F.col("v")]).collect()
    assert [(r.k, r.v) for r in out] == [(1, "x")]


def test_top_k(spark):
    df = spark.createDataFrame([(i,) for i in range(20)], ["x"])
    out = top_k(df, 3, [F.col("x").desc()]).collect()
    assert [r.x for r in out] == [19, 18, 17]


def test_top_k_per_group(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 9)], ["g", "x"]
    )
    out = top_k_per_group(df, ["g"], 2, [F.col("x").desc()])
    got = sorted((r.g, r.x) for r in out.collect())
    assert got == [("a", 2), ("a", 3), ("b", 9)]


def test_semi_and_anti_join(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    right = spark.createDataFrame([(2,), (3,), (4,)], ["k"])
    assert sorted(r.k for r in semi_join(left, right, "k").collect()) == [2, 3]
    assert [r.k for r in anti_join(left, right, "k").collect()] == [1]


def test_argmax_per_group_first_max_wins(spark):
    # Mirrors the reference UDF's tie-break: first maximum in order
    # (goodreads.py:55-57) — here the tiebreak column decides.
    df = spark.createDataFrame(
        [("g", "alpha", 10), ("g", "beta", 10), ("g", "gamma", 3)],
        ["grp", "name", "cnt"],
    )
    out = argmax_per_group(df, ["grp"], F.col("cnt"), [F.col("name")]).collect()
    assert [(r.grp, r.name) for r in out] == [("g", "alpha")]


def test_as_of_join_backward(spark):
    from goodreads_pyspark_spark.operators.asof import as_of_join

    left = spark.createDataFrame(
        [(1, 10, "p1"), (1, 20, "p2"), (2, 5, "p3")], ["k", "t", "name"]
    )
    right = spark.createDataFrame(
        [(1, 8, 100), (1, 10, 101), (1, 15, 102), (2, 9, 103)],
        ["k", "rt", "rid"],
    )
    out = as_of_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        payload=["rid", "rt"], tiebreak="rid",
    )
    got = {r["name"]: (r["rid"], r["rt"]) for r in out.collect()}
    assert got["p1"] == (101, 10)   # equal ts is visible (inclusive)
    assert got["p2"] == (102, 15)   # latest preceding
    assert got["p3"] == (None, None)  # right row is later -> no match


def test_as_of_join_tiebreak(spark):
    from goodreads_pyspark_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 10)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, 7), (1, 10, 9), (1, 10, 8)], ["k", "rt", "rid"]
    )
    out = as_of_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        payload=["rid"], tiebreak="rid",
    ).collect()
    assert out[0]["rid"] == 9  # greatest tiebreak wins among equal ts


def test_as_of_join_null_payload_not_mixed(spark):
    # merge_asof semantics: the WHOLE payload comes from the one matched
    # right row — a null field in the newest right row must stay null, not
    # be back-filled from an older right row (per-column fill would mix).
    from goodreads_pyspark_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 30)], ["k", "t"])
    right = spark.createDataFrame(
        [(1, 10, "old", 5.0), (1, 20, None, 6.0)],
        "k int, rt int, label string, score double",
    )
    out = as_of_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        payload=["label", "score"], tiebreak="rt",
    ).collect()
    assert out[0]["score"] == 6.0
    assert out[0]["label"] is None  # from the rt=20 row, NOT "old"


def test_salted_counts_equals_plain_groupby(spark):
    from goodreads_pyspark_spark.operators.skew import salted_counts
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold", float(i)) for i in range(1000)],
        ["id", "k", "v"],
    )
    salted = {
        (r["k"], r["n"], r["total"])
        for r in salted_counts(df, ["k"], ["id"], buckets=8, sum_col="v").collect()
    }
    plain = {
        (r["k"], r["n"], r["total"])
        for r in df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("v").cast("decimal(30,2)")).cast("double").alias("total"),
        )
        .collect()
    }
    assert salted == plain


def test_parquet_table_sink_roundtrip(spark, tmp_path):
    from goodreads_pyspark_spark.sources.sinks import write_parquet_table

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", 2.5), (3, "a", 3.5)], ["id", "k", "v"]
    )
    write_parquet_table(df, "sink_check", mode="overwrite")
    back = spark.table("sink_check")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    spark.sql("DROP TABLE sink_check")


def test_fan_out_noop_when_wide_enough(spark, tmp_path_factory):
    """The probe is plan-free (inputFiles, not df.rdd): a source that
    already arrives as >= target files — the cluster-scale case — must
    pass through untouched (never adds a shuffle at scale), while
    narrow or file-less frames widen."""
    from goodreads_pyspark_spark.operators.partitioning import fan_out

    target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = str(tmp_path_factory.mktemp("fanout"))
    spark.range(10_000).repartition(target).write.mode("overwrite").parquet(base)
    wide = spark.read.parquet(base)
    assert len(wide.inputFiles()) >= target
    assert fan_out(wide) is wide  # guard: never adds a shuffle at scale
    # under-partitioned source widens; in-memory frames err toward widening
    narrow = spark.range(1000).coalesce(1)
    assert fan_out(narrow) is not narrow


def test_approx_sketches_within_tolerance(spark):
    """q27 emits engine-independent columns: exact counts plus booleans
    asserting Spark's own sketches landed within their error bounds.
    Cross-check the exact columns against an independent aggregation and
    require every in-query sketch assertion to hold."""
    from goodreads_pyspark_spark.queries import REGISTRY, _load_all

    _load_all()
    rows = {
        r["o_orderstatus"]: r
        for r in REGISTRY["q27_approx_sketches"]
        .spark_fn(spark, "/root/testdata/sf0.01")
        .collect()
    }
    orders = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
    exact = {
        r["o_orderstatus"]: (r["n"], r["cnt"])
        for r in orders.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    }
    assert set(rows) == set(exact)
    for k, (n_exact, cnt) in exact.items():
        r = rows[k]
        assert r["exact_customers"] == n_exact
        assert r["n_orders"] == cnt
        assert r["hll_within_rsd"] is True
        assert r["p50_rank_ok"] is True
        assert r["p95_rank_ok"] is True


def test_argmax_struct_no_window(spark):
    from goodreads_pyspark_spark.operators.relational import argmax_struct
    from goodreads_pyspark_spark.plans import formatted_plan

    df = spark.createDataFrame(
        [("g1", 5, "a"), ("g1", 9, "b"), ("g2", 2, "c"), ("g2", 2, "d")],
        ["grp", "cnt", "name"],
    )
    out = argmax_struct(df, ["grp"], F.col("cnt"), ["name"])
    got = {(r["grp"], r["max_value"], r["name"]) for r in out.collect()}
    # g2 tie on cnt=2 -> struct comparison falls through to name: max name
    assert got == {("g1", 9, "b"), ("g2", 2, "d")}
    assert "Window" not in formatted_plan(out)  # pure aggregation plan


def test_exact_grouped_median_matches_builtin(spark):
    """Differential: the two-phase bounded-memory median must be
    bit-identical to F.median across odd/even counts, ties, negatives,
    and any bucket width (correctness is width-independent)."""
    import random

    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.operators.quantiles import exact_grouped_median

    rng = random.Random(7)
    rows = []
    for g, n in [("odd", 31), ("even", 40), ("tied", 25), ("neg", 17)]:
        for _ in range(n):
            v = float(rng.randint(-50, 50)) if g != "tied" else float(
                rng.choice([1.5, 2.5, 2.5, 9.0])
            )
            rows.append((g, v))
    df = spark.createDataFrame(rows, ["k", "v"])

    expected = {
        r["k"]: r["m"]
        for r in df.groupBy("k").agg(F.median("v").alias("m")).collect()
    }
    for width in (0.7, 8.0, 1000.0):
        got = {
            r["k"]: r["median"]
            for r in exact_grouped_median(df, "k", "v", bucket_width=width).collect()
        }
        assert got == expected, (width, got, expected)


def test_triangle_count_known_graph(spark):
    from goodreads_pyspark_spark.graph.frames import triangle_count

    # K4 (4 triangles) plus a pendant vertex, duplicate + reversed +
    # self-loop edges thrown in to exercise canonicalization.
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges += [(4, 1), (2, 2), (1, 2), (4, 5)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    row = triangle_count(df).collect()[0]
    assert row.n_vertices == 5
    assert row.n_edges == 7  # K4's 6 + pendant edge
    assert row.n_triangles == 4


def test_batch_knn_matches_brute_force(spark):
    from goodreads_pyspark_spark.similarity.ann import batch_knn, brute_force_knn

    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    batch = {
        (r.qid, r.rnk): r.vec_id
        for r in batch_knn(df, n_queries=3, k=4).collect()
    }
    for qid in range(3):
        single = [r.vec_id for r in brute_force_knn(df, query_id=qid, k=4).collect()]
        got = [batch[(qid, rnk)] for rnk in range(1, 5)]
        assert got == single, f"qid={qid}: {got} != {single}"


def test_pq_codes_codebook_vectors_self_code(spark):
    from goodreads_pyspark_spark.similarity.quantize import pq_codes

    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in pq_codes(df, n_sub=2, sub_dim=4, ksub=4).collect()}
    assert len(out) == 20
    for vid, r in out.items():
        codes = [int(c) for c in r.pq_code.split(",")]
        assert len(codes) == 2 and all(0 <= c < 4 for c in codes)
        if vid < 4:
            # codebook vectors: own subvector is in the codebook -> exact
            assert codes == [vid, vid] and r.total_d2 == 0.0
        else:
            assert r.total_d2 > 0.0


def test_apply_cdc_merge_semantics(spark):
    from goodreads_pyspark_spark.operators.cdc import apply_cdc

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "payload"]
    )
    changes = spark.createDataFrame(
        [("D", 1, None), ("U", 2, "b2"), ("I", 9, "new")],
        ["op", "k", "payload"],
    )
    got = {r.k: r.payload for r in apply_cdc(base, changes, key="k").collect()}
    assert got == {2: "b2", 3: "c", 9: "new"}


def test_dedup_latest_property_hypothesis(spark):
    """Property (SURVEY §5.5): for ANY input, dedup_latest keeps exactly
    one row per key, and that row carries the group's maximum order
    value (ties broken deterministically by the compound order)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.operators.relational import dedup_latest

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 4), st.integers(0, 50), st.integers(0, 9)),
            min_size=1,
            max_size=40,
        )
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(rows):
        df = spark.createDataFrame(rows, ["k", "v", "tie"])
        got = dedup_latest(
            df, keys=["k"], order_by=[F.desc("v"), F.desc("tie")]
        ).collect()
        keys = [r.k for r in got]
        assert sorted(keys) == sorted(set(r[0] for r in rows))
        best = {}
        for k, v, t in rows:
            best[k] = max(best.get(k, (-1, -1)), (v, t))
        for r in got:
            assert (r.v, r.tie) == best[r.k]

    check()


def test_bucketed_neardup_cap_drops_hot_buckets(spark):
    from goodreads_pyspark_spark.similarity.ann import bucketed_neardup_pairs

    # 6 identical vectors share one bucket; cap 5 must zero the pairs
    # (and the uncapped run must find all 15).
    rows = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(6)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    assert bucketed_neardup_pairs(df, threshold=0.9, planes=4, max_bucket=5).count() == 0
    assert bucketed_neardup_pairs(df, threshold=0.9, planes=4).count() == 15


def test_pq_adc_equals_exact_when_vectors_are_codebook_copies(spark):
    """When every db vector IS one of the codebook vectors, assignment is
    exact (d2=0), so ADC distance == true squared distance for every
    vector — the strongest exactness statement ADC admits."""
    import random

    from goodreads_pyspark_spark.similarity.quantize import pq_adc_topk

    rng = random.Random(23)
    base = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    rows = [(i, base[i % 4]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qid = 7  # copy of base[3]
    got = pq_adc_topk(df, query_id=qid, k=19, n_sub=2, sub_dim=4, ksub=4).collect()
    assert len(got) == 19

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    exact = {i: d2(base[qid % 4], base[i % 4]) for i in range(20) if i != qid}
    for r in got:
        assert abs(r.adc_d2 - exact[r.vec_id]) < 1e-9, (r.vec_id, r.adc_d2)
    # ascending with id tiebreak
    keys = [(r.adc_d2, r.vec_id) for r in got]
    assert keys == sorted(keys)


def test_zorder_key_interleaves_bits(spark):
    """zkey's even bits are col0, odd bits col1 — deinterleaving recovers
    the inputs exactly (the property that makes the curve a bijection)."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.operators.partitioning import zorder_key

    rows = [(x, y) for x in (0, 1, 5, 255, 65535) for y in (0, 3, 128, 65535)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = df.select(
        "x", "y", zorder_key(["x", "y"], 16).alias("zk")
    ).collect()
    for r in got:
        x = y = 0
        for j in range(16):
            x |= ((r.zk >> (2 * j)) & 1) << j
            y |= ((r.zk >> (2 * j + 1)) & 1) << j
        assert (x, y) == (r.x, r.y), (r.x, r.y, r.zk)
    # locality smoke: nearby points in both dims -> nearby keys
    zk = {(r.x, r.y): r.zk for r in got}
    assert zk[(0, 0)] < zk[(1, 3)] < zk[(255, 128)] < zk[(65535, 65535)]


def test_overwrite_partitions_touches_only_present_partitions(spark):
    """Dynamic partition overwrite: re-landing one partition must leave
    the others byte-identical (the incremental-refresh contract); a
    static overwrite would silently drop them."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.sources.sinks import (
        overwrite_partitions,
        write_parquet_table,
    )

    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_returnflag")
    )
    write_parquet_table(li, "dp_lineitem", partition_by=["l_returnflag"])
    try:
        before = {
            r["l_returnflag"]: r["n"]
            for r in spark.table("dp_lineitem")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert len(before) >= 2
        # Re-land flag 'A' only, with halved rows (deterministic subset) —
        # deliberately in a DIFFERENT column order than the table layout:
        # the helper must realign before the positional insertInto, or
        # compatible-typed columns land swapped.
        patch = (
            li.filter("l_returnflag = 'A' AND l_orderkey % 2 = 0")
            .select("l_returnflag", "l_quantity", "l_orderkey")
        )
        n_patch = patch.count()
        expect_qty = patch.agg(
            F.sum(F.col("l_quantity").cast("decimal(30,2)")).alias("s")
        ).first()["s"]
        overwrite_partitions(patch, "dp_lineitem")
        got_qty = (
            spark.table("dp_lineitem")
            .filter("l_returnflag = 'A'")
            .agg(F.sum(F.col("l_quantity").cast("decimal(30,2)")).alias("s"))
            .first()["s"]
        )
        assert got_qty == expect_qty  # values landed in the right columns
        after = {
            r["l_returnflag"]: r["n"]
            for r in spark.table("dp_lineitem")
            .groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert after["A"] == n_patch != before["A"]
        for flag, n in before.items():
            if flag != "A":
                assert after[flag] == n, flag
    finally:
        spark.sql("DROP TABLE IF EXISTS dp_lineitem")


def test_missing_sf_dir_raises_analysis_exception(spark):
    """Driver contract hygiene: a bad sf_dir fails with Spark's
    AnalysisException (PATH_NOT_FOUND), not a deep stack of secondary
    errors — the failure a harness can classify."""
    import pytest
    from pyspark.errors import AnalysisException

    from goodreads_pyspark_spark.queries import REGISTRY, _load_all

    _load_all()
    q = REGISTRY["q01_pricing_summary"].spark_fn
    with pytest.raises(AnalysisException):
        q(spark, "/root/testdata/sf_does_not_exist").collect()


def test_bounded_rank_matches_window_row_number_hypothesis(spark):
    """Property: on ANY bounded frame with a total order, bounded_rank
    (broadcast self-join + count) equals Window row_number over the same
    (desc, asc) order — the differential that licenses replacing the
    unpartitioned windows at d32/h01/e19."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.operators import bounded_rank

    @given(
        rows=st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 1000)),
            min_size=1,
            max_size=30,
            unique_by=lambda r: r[1],  # unique key => total order
        )
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def check(rows):
        df = spark.createDataFrame(rows, ["score", "key"])
        got = {
            r.key: r.rnk
            for r in bounded_rank(
                df, [("score", "desc"), ("key", "asc")]
            ).collect()
        }
        w = Window.orderBy(F.col("score").desc(), F.col("key"))
        want = {
            r.key: r.rnk
            for r in df.select(
                "key", F.row_number().over(w).alias("rnk")
            ).collect()
        }
        assert got == want

    check()


def test_bounded_rank_fails_fast_on_contract_violation(spark):
    """ADVICE r5: contract violations must raise, not return plausible
    wrong ranks — duplicate rows would be merged by the groupBy, NULLs in
    order columns would deflate the before-count."""
    from goodreads_pyspark_spark.operators import bounded_rank

    dup = spark.createDataFrame([(1, 10), (1, 10), (2, 20)], ["score", "key"])
    with pytest.raises(Exception, match="duplicate"):
        bounded_rank(dup, [("score", "desc"), ("key", "asc")]).collect()

    withnull = spark.createDataFrame(
        [(1, 10), (None, 20)], "score int, key int"
    )
    with pytest.raises(Exception, match="NULL in an order column"):
        bounded_rank(withnull, [("score", "desc"), ("key", "asc")]).collect()


def test_byte_string_as_bytes_suffixes():
    """ADVICE r5: '128m' must parse as 128 MiB, not 128 bytes (which made
    every file look oversized and forced the plan-compiling fallback)."""
    from goodreads_pyspark_spark.operators.partitioning import (
        _byte_string_as_bytes,
    )

    assert _byte_string_as_bytes("134217728b") == 134217728
    assert _byte_string_as_bytes("128m") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("128MB") == 128 * 1024 * 1024
    assert _byte_string_as_bytes("1g") == 1 << 30
    assert _byte_string_as_bytes("64k") == 64 * 1024
    assert _byte_string_as_bytes("4194304") == 4194304  # bare => bytes
    assert _byte_string_as_bytes("garbage") == 128 * 1024 * 1024  # fallback


def test_reliable_checkpoint_dir_set_once(spark, tmp_path):
    """ADVICE r5: _truncate must not re-setCheckpointDir per call (each
    set creates a fresh UUID subdir and orphans prior state). The raw-dir
    sentinel keeps one UUID subdir for the whole run."""
    import os

    from goodreads_pyspark_spark.graph.frames import _truncate

    ckpt = str(tmp_path / "ck")
    df = spark.range(10)
    for _ in range(3):
        df = _truncate(df.selectExpr("id + 1 AS id"), checkpoint_dir=ckpt)
    subdirs = [d for d in os.listdir(ckpt)]
    assert len(subdirs) == 1, subdirs
    assert sorted(r.id for r in df.collect()) == list(range(3, 13))


def _reference_bpe(word_freqs: dict[str, int], n_merges: int):
    """Pure-Python greedy BPE (Sennrich-style) for the differential."""
    vocab = {tuple(w): f for w, f in word_freqs.items()}
    merges = []
    for step in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, f in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + f
                )
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, a + b, c))
        new_vocab = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + f
        vocab = new_vocab
    return merges


def test_bpe_fit_matches_reference_greedy_semantics(spark):
    """Differential: the marker-prefixed string-replace merge application
    must equal the greedy symbol fold — including the consecutive-
    occurrence case (b a b a b -> b ab ab) and self-pairs (aaaa -> aa aa)
    that naive space-joined replace gets wrong."""
    from goodreads_pyspark_spark.functions.bpe import bpe_fit

    corpus = (
        ["babab"] * 6  # consecutive (a,b) occurrences sharing a boundary
        + ["aaaa"] * 5  # overlapping self-pair
        + ["banana"] * 4
        + ["bandana"] * 3
        + ["aba"] * 2
    )
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], ["doc_id", "text"])
    got = [
        (r.step, r.sym_a, r.sym_b, r.merged, r.pair_count)
        for r in bpe_fit(spark, docs, n_merges=6).collect()
    ]
    freqs: dict[str, int] = {}
    for w in corpus:
        freqs[w] = freqs.get(w, 0) + 1
    want = _reference_bpe(freqs, 6)
    assert got == want


def test_quality_classifier_zero_token_doc_scores_zero(spark):
    from goodreads_pyspark_spark.functions.quality_model import quality_scores

    docs = spark.createDataFrame(
        [(1, "good clean text here"), (2, "!!! ??? ..."), (3, "")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in quality_scores(docs).collect()}
    assert rows[2].n_feats == 0 and rows[2].logit == 0.0 and rows[2].keep == 0
    assert rows[3].n_feats == 0 and rows[3].keep == 0
    assert rows[1].n_feats == 7  # 4 unigrams + 3 bigrams


def test_as_of_join_tolerance_nulls_stale_payload(spark):
    """merge_asof tolerance: a match older than the bound nulls the WHOLE
    payload (not per-field), matches inside the bound are untouched."""
    from goodreads_pyspark_spark.operators.asof import as_of_join

    left = spark.createDataFrame([(1, 100, "p1"), (1, 200, "p2")], ["k", "t", "nm"])
    right = spark.createDataFrame(
        [(1, 95, 7), (1, 110, 8)], ["k", "rt", "rid"]
    )
    out = as_of_join(
        left, right, on=["k"], left_ts="t", right_ts="rt",
        payload=["rid", "rt"], tiebreak="rid", tolerance=F.lit(50),
    )
    got = {r["nm"]: (r["rid"], r["rt"]) for r in out.collect()}
    assert got["p1"] == (7, 95)          # within 50
    assert got["p2"] == (None, None)     # rt=110 < 200-50 -> stale


def test_pii_redaction_order_and_idempotence(spark):
    """Every PII class is scrubbed, clean text passes through unchanged,
    and re-redacting redacted text is a no-op (tokens contain no digits
    or '@', so no pattern can match inside a substitution)."""
    from goodreads_pyspark_spark.functions.pii import (
        PII_CLASSES,
        pii_count,
        redact_pii,
    )

    docs = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@site.org or 10.0.0.1"),
            (2, "ssn 123-45-6789 phone 555-867-5309"),
            (3, "no pii in this row at all"),
        ],
        ["doc_id", "text"],
    )
    red = docs.select(
        "doc_id",
        redact_pii(F.col("text")).alias("r"),
        *[
            pii_count(F.col("text"), pat).alias(f"c_{name}")
            for name, pat, _tok in PII_CLASSES
        ],
    )
    rows = {r.doc_id: r for r in red.collect()}
    assert rows[1].r == "mail me at <EMAIL> or <IP>"
    assert rows[1].c_email == 1 and rows[1].c_ipv4 == 1
    assert rows[2].r == "ssn <SSN> phone <PHONE>"
    assert rows[2].c_ssn == 1 and rows[2].c_phone == 1
    assert rows[3].r == "no pii in this row at all"
    # idempotence: a second pass changes nothing
    twice = red.select("doc_id", redact_pii(F.col("r")).alias("rr"))
    assert {r.doc_id: r.rr for r in twice.collect()} == {
        k: v.r for k, v in rows.items()
    }


def test_containment_bounds_and_orientation(spark):
    """containment >= jaccard always (|A∩B|/min <= |A∩B|/|A∪B| is false —
    the inequality goes the other way: min(|A|,|B|) <= |A∪B|, so
    containment >= jaccard), containment <= 1, and the smaller shingle
    set is the contained side."""
    from goodreads_pyspark_spark.dedup.ngram import (
        containment_pairs_from_shingles,
    )

    rows = [
        # doc 1 ⊂ doc 2 (strict subset), doc 3 disjoint-ish
        (1, "a b"), (1, "b c"),
        (2, "a b"), (2, "b c"), (2, "c d"), (2, "d e"), (2, "e f"),
        (3, "x y"), (3, "b c"),
    ]
    sh = spark.createDataFrame(rows, ["id", "sh"])
    out = containment_pairs_from_shingles(sh).collect()
    assert out, "shared shingles must produce pairs"
    for r in out:
        assert 0.0 < r.containment <= 1.0
        assert r.containment >= r.jaccard
    full = {(r.doc_a, r.doc_b): r for r in out}
    r12 = full[(1, 2)]
    assert r12.containment == 1.0  # doc 1 fully contained in doc 2
    assert r12.jaccard == pytest.approx(2 / 5)


def test_cms_estimate_never_undercounts(spark):
    """The count-min one-sided error property: for EVERY key (not just
    the gated top-20), min-of-cells >= the exact count."""
    from goodreads_pyspark_spark.queries.timeseries import _cms_pairs

    kc = spark.createDataFrame(
        [(i, (i % 7) + 1) for i in range(500)], ["user_id", "cnt"]
    )
    r = _cms_pairs(kc)
    cells = r.groupBy("j", "b").agg(F.sum("cnt").alias("cell"))
    est = (
        r.join(F.broadcast(cells), ["j", "b"])
        .groupBy("user_id", "cnt")
        .agg(F.min("cell").alias("est"))
    )
    bad = est.filter(F.col("est") < F.col("cnt")).count()
    assert bad == 0


def test_fpgrowth_supports_match_brute_force(spark):
    """MLlib FPGrowth is exact: its 2-itemset supports must equal the
    enumerated pair counts on a random (seeded) basket set."""
    import random

    from pyspark.ml.fpm import FPGrowth

    rng = random.Random(7)
    baskets = [
        (sorted(rng.sample(range(12), rng.randint(2, 6))),) for _ in range(60)
    ]
    df = spark.createDataFrame(baskets, ["items"])
    model = FPGrowth(itemsCol="items", minSupport=0.05).fit(df)
    got = {
        tuple(sorted(r["items"])): r["freq"]
        for r in model.freqItemsets.filter(F.size("items") == 2).collect()
    }
    brute: dict[tuple[int, int], int] = {}
    for (items,) in baskets:
        s = set(items)
        for a in s:
            for b in s:
                if a < b:
                    brute[(a, b)] = brute.get((a, b), 0) + 1
    minc = -(-0.05 * len(baskets) // 1)  # ceil
    expected = {k: v for k, v in brute.items() if v >= minc}
    assert got == expected


def test_ivfpq_exhaustive_probe_covers_all_candidates(spark):
    """With nprobe == nlist the IVFADC candidate set must be every
    non-query vector (routing restriction vanishes; only code loss
    remains) — the e08 'dial end' invariant applied to the combined
    index."""
    import random

    from goodreads_pyspark_spark.similarity.quantize import ivfpq_adc_topk

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    out = ivfpq_adc_topk(
        df, query_id=5, k=100, nlist=4, nprobe=4, n_sub=2, sub_dim=4, ksub=4,
        cache_registry=[],
    )
    assert out.count() == 39  # every vector except the query


def test_ivfpq_recall_curve_ignores_duplicate_probes(spark):
    """A probe depth listed twice is still one depth: the curve must be
    the same rows as with each depth listed once, not a doubled depth
    whose duplicated candidates crowd the top-k."""
    import random

    from goodreads_pyspark_spark.similarity.quantize import ivfpq_recall_curve

    rng = random.Random(3)
    vecs = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    kw = dict(query_id=5, k=6, nlist=8, n_sub=2, sub_dim=4, ksub=4, cache_registry=[])
    dup = ivfpq_recall_curve(df, probes=(4, 4, 8), **kw).collect()
    once = ivfpq_recall_curve(df, probes=(4, 8), **kw).collect()
    assert dup == once


def test_d61_fluency_fixed_point_in_unit_range(spark):
    """Per-doc fixed-point fluency is floor(1e9 * mean smoothed bigram
    probability) — a probability, so every per-source mean must land in
    [0, 1e9]."""
    from goodreads_pyspark_spark.queries import REGISTRY, _load_all

    _load_all()
    out = REGISTRY["d61_bigram_fluency"].spark_fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out
    for r in out:
        assert 0 <= r.avg_fluency_fp <= 1_000_000_000
        assert 0 <= r.n_above_mean <= r.n_docs


def test_pq_geometry_guard_raises_on_mismatched_n_sub(spark):
    """pq subspaces derive from pos div sub_dim; a caller passing an
    n_sub inconsistent with the vector dimension must fail loudly at
    execution (ADVICE r9), not get silently different geometry."""
    import pytest
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.similarity.quantize import pq_assignments

    df = spark.range(8).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.rand(seed=1) for _ in range(8)]).alias("embedding"),
    )
    # consistent geometry: fine
    assert pq_assignments(df, n_sub=2, sub_dim=4, ksub=4).count() > 0
    # inconsistent: raises with the actual/expected dims in the message
    with pytest.raises(Exception, match="PQ geometry mismatch"):
        pq_assignments(df, n_sub=3, sub_dim=4, ksub=4).collect()


def test_lsh_ensemble_finds_containment_pair(spark):
    """A small doc fully contained in a much larger one (Jaccard far
    below any symmetric threshold) must surface as an oriented
    (contained, container) candidate; parameter validation must reject
    inconsistent (rows_per_band, size_edges) shapes."""
    import pytest
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        lsh_ensemble_candidate_pairs,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    # md5 min-hashing is deterministic, so this fixture's collision
    # outcome is fixed: the quote contributes ~29 of the container's ~69
    # shingles (containment 1.0, Jaccard ~0.42 — under every symmetric
    # threshold), which collides on at least one of the container
    # partition's 16 single-hash bands.
    quote = " ".join(f"q{i}" for i in range(30))
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote),  # the contained doc
            (2, quote + " " + filler),  # the container (low Jaccard)
            (3, "totally unrelated content here only once"),
        ],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    got = {
        (r.contained, r.container)
        for r in lsh_ensemble_candidate_pairs(
            sh, id_col="id", cache_registry=[]
        ).collect()
    }
    assert (1, 2) in got
    # orientation: contained is always the smaller shingle set
    sz = {
        r.id: r.n
        for r in sh.groupBy("id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for a, b in got:
        assert sz[a] <= sz[b]
    with pytest.raises(ValueError, match="partitions"):
        lsh_ensemble_candidate_pairs(sh, rows_per_band=(2, 1), cache_registry=[])
    with pytest.raises(ValueError, match="divide num_hashes"):
        lsh_ensemble_candidate_pairs(
            sh, rows_per_band=(3, 2, 1, 1), cache_registry=[]
        )


def test_equi_depth_edges_exact_rank_arithmetic(spark):
    """Edges are value-at-rank ceil(k*n/4) + 1 over the size histogram —
    pinned on a fixture where ranks are computable by hand."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import equi_depth_edges

    # 8 docs with shingle-set sizes 1,1,2,3,5,8,13,21
    rows = []
    for i, size in enumerate([1, 1, 2, 3, 5, 8, 13, 21]):
        rows += [(i, f"s{i}_{j}") for j in range(size)]
    sh = spark.createDataFrame(rows, "id bigint, sh string")
    # n=8: ranks ceil(2)=2, ceil(4)=4, ceil(6)=6 -> sizes 1,3,8 -> +1
    assert equi_depth_edges(sh, id_col="id") == [2, 4, 9]


def test_incremental_containment_novel_shingles_not_inflated(spark):
    """An incoming doc mostly made of NOVEL shingles must not be
    rejected just because its small corpus-overlap is fully contained —
    the df filter EXCLUDES over-df shingles rather than keeping only
    corpus-known ones (an inner keep-join would shrink sz_in and
    inflate containment for novel documents)."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        incremental_containment_matches,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    base = " ".join(f"c{i}" for i in range(40))
    corpus = spark.createDataFrame(
        [(1, base), (2, " ".join(f"z{i}" for i in range(30)))],
        "doc_id bigint, text string",
    )
    incoming = spark.createDataFrame(
        [
            # 10 duplicated: a verbatim chunk of doc 1 -> contained
            (10, " ".join(f"c{i}" for i in range(35))),
            # 11 novel: tiny overlap with doc 1, mostly new shingles
            (11, "c0 c1 c2 " + " ".join(f"n{i}" for i in range(40))),
        ],
        "doc_id bigint, text string",
    )
    m = incremental_containment_matches(
        shingle_rows(corpus, shingle_n=2, out_id="id"),
        shingle_rows(incoming, shingle_n=2, out_id="id"),
        id_col="id",
        cache_registry=[],
    )
    got = {r["incoming"]: r["containment_in"] for r in m.collect()}
    assert 10 in got and got[10] >= 0.8
    assert 11 not in got  # novel doc admitted


def test_equi_depth_edges_empty_raises(spark):
    """An empty size table must raise a clear ValueError, not leak a
    bare StopIteration from the edge scan (ADVICE r10)."""
    import pytest
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import equi_depth_edges

    empty = spark.createDataFrame([], "id bigint, sz bigint")
    with pytest.raises(ValueError, match="empty size table"):
        equi_depth_edges(None, id_col="id", sizes=empty.select("id", "sz"))


def test_extend_containment_standing_equals_rebuild(spark):
    """Fold-in index maintenance (VERDICT r11 item 2): extending the
    standing state with an admitted batch must be ROW-IDENTICAL to a
    from-scratch rebuild on corpus ∪ batch, for all four standing
    tables, including the two stateful cliffs — a bucket the batch
    pushes OVER max_bucket (its pre-existing entries must drop out) and
    a shingle the batch pushes over max_df (newly hot: removed from st
    on both old and new rows). Folding two batches in sequence must
    equal one rebuild on the full union (composability)."""
    from goodreads_pyspark_spark.dedup.ensemble import (
        build_containment_standing,
        extend_containment_standing,
    )

    kw = dict(
        id_col="id",
        num_hashes=16,
        size_edges=(4, 8, 12),
        rows_per_band=(2, 2, 1, 1),
        max_bucket=2,
        max_df=2,
        cache_registry=[],
    )

    def sh_table(spec):
        rows = [(i, s) for i, shs in spec.items() for s in shs]
        return spark.createDataFrame(rows, "id bigint, sh string")

    ident = [f"dup{j}" for j in range(6)]  # shared set -> shared buckets
    corpus = sh_table(
        {
            1: ident,  # identical pair: every bucket at count 2 == cap
            2: ident,
            3: [f"a{j}" for j in range(10)] + ["hotsh"],
            4: [f"b{j}" for j in range(3)] + ["hotsh"],
        }
    )
    batch1 = sh_table(
        {
            # same set as 1/2: pushes every shared bucket to 3 > cap,
            # and pushes 'dup*' shingle df to 3 > max_df (newly hot)
            10: ident,
            11: [f"c{j}" for j in range(14)],
        }
    )
    batch2 = sh_table({20: [f"d{j}" for j in range(5)] + ["hotsh"]})

    def snap(state):
        return {
            name: sorted(map(tuple, df.collect()))
            for name, df in state.items()
        }

    base = build_containment_standing(corpus, **kw)
    ext1 = extend_containment_standing(base, batch1, **kw)
    rebuilt1 = build_containment_standing(corpus.unionByName(batch1), **kw)
    s_ext1, s_reb1 = snap(ext1), snap(rebuilt1)
    assert set(s_ext1) == {"index", "hot", "st", "counts", "dfreq"}
    for name in s_ext1:
        assert s_ext1[name] == s_reb1[name], f"{name} diverged from rebuild"
    # the cliffs actually fired: doc 1/2 entries left the index, and the
    # 'dup*' shingles went hot (so st no longer carries them)
    assert ext1["index"].filter("container in (1, 2, 10)").count() == 0
    assert ext1["hot"].count() > base["hot"].count()

    ext2 = extend_containment_standing(ext1, batch2, **kw)
    rebuilt2 = build_containment_standing(
        corpus.unionByName(batch1).unionByName(batch2), **kw
    )
    s_ext2, s_reb2 = snap(ext2), snap(rebuilt2)
    for name in s_ext2:
        assert s_ext2[name] == s_reb2[name], f"{name} diverged after batch 2"


def test_fold_in_from_published_state(spark, tmp_path):
    """The production loop's state dependency: fold-in must work from
    the PUBLISHED standing tables (cold parquet read-back, no lineage
    to the building session's frames — the io18 reload discipline
    applied to maintenance) and produce exactly the in-memory fold's
    tables, including the published-index layout (partitionBy('p'))."""
    from goodreads_pyspark_spark.dedup.ensemble import (
        build_containment_standing,
        extend_containment_standing,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [
            (i, " ".join(f"w{i}_{j}" for j in range(5 + i % 7)))
            for i in range(40)
        ],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    standing = build_containment_standing(
        sh.filter(F.col("id") % 7 != 0),
        id_col="id",
        max_df=3,
        max_bucket=3,
        cache_registry=[],
    )
    base = str(tmp_path / "published")
    standing["index"].write.partitionBy("p").parquet(f"{base}/index")
    for name in ("hot", "st", "counts", "dfreq"):
        standing[name].write.parquet(f"{base}/{name}")
    reloaded = {
        name: spark.read.parquet(f"{base}/{name}")
        for name in ("index", "hot", "st", "counts", "dfreq")
    }
    batch = sh.filter(F.col("id") % 7 == 0)
    kw2 = dict(id_col="id", max_df=3, max_bucket=3, cache_registry=[])
    from_memo = extend_containment_standing(standing, batch, **kw2)
    from_disk = extend_containment_standing(reloaded, batch, **kw2)

    def fp(df, cols):
        return sorted(
            map(tuple, df.select(*[F.col(c) for c in cols]).collect())
        )

    cols = {
        "index": ["container", "p", "band", "key"],
        "hot": ["sh"],
        "st": ["container", "sh"],
        "counts": ["p", "band", "key", "n"],
        "dfreq": ["sh", "df"],
    }
    for name, cs in cols.items():
        assert fp(from_disk[name], cs) == fp(from_memo[name], cs), name


def test_ingest_loop_rejects_against_admitted_container(spark):
    """The behavior that distinguishes the ingest LOOP from independent
    probes (io22): a doc contained in a doc ADMITTED by an earlier
    batch must be rejected by the grown index — and would have been
    admitted had the index not been extended between batches."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        build_containment_standing,
        extend_containment_standing,
        incremental_containment_matches,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    big = " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"c{i}" for i in range(30))),  # standing corpus
            (2, big),  # batch 1: novel -> admitted
            (3, " ".join(f"x{i}" for i in range(32))),  # batch 2: ⊂ doc 2
        ],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    standing = build_containment_standing(
        sh.filter(F.col("id") == 1), id_col="id", cache_registry=[]
    )

    def probe(state, batch_id):
        return incremental_containment_matches(
            None,
            sh.filter(F.col("id") == batch_id),
            id_col="id",
            prebuilt_standing=state,
            cache_registry=[],
        ).collect()

    # batch 1: doc 2 is novel -> admitted, folded in
    assert probe(standing, 2) == []
    grown = extend_containment_standing(
        standing, sh.filter(F.col("id") == 2), id_col="id", cache_registry=[]
    )
    # batch 2: doc 3 is contained in the ADMITTED doc 2 — rejected by
    # the grown index, admitted by the stale one
    stale = probe(standing, 3)
    fresh = probe(grown, 3)
    assert stale == []
    assert [(r["incoming"], r["container"]) for r in fresh] == [(3, 2)]
    assert fresh[0]["containment_in"] >= 0.8


def test_containment_probe_floor_monotone_in_threshold(spark):
    """Lower admission thresholds must probe at least as many partitions,
    so the candidate set at t=0.5 contains the candidate set at t=0.8;
    t=0.65 exercises the non-decile hundredths quantization of the
    probe floor (ADVICE r10: int(0.65*10) would floor to 6/10)."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        build_containment_standing,
        containment_probe_candidates,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    big = " ".join(f"w{i}" for i in range(120))
    mid = " ".join(f"w{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, big), (2, mid), (3, " ".join(f"q{i}" for i in range(40)))],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    standing = build_containment_standing(
        sh.filter(F.col("id") != 3), id_col="id", cache_registry=[]
    )
    incoming = sh.filter(F.col("id") == 3)
    cands = {}
    for t in (0.5, 0.65, 0.8):
        cands[t] = {
            (r["incoming"], r["container"])
            for r in containment_probe_candidates(
                standing, incoming, id_col="id", threshold=t, cache_registry=[]
            ).collect()
        }
    assert cands[0.8] <= cands[0.65] <= cands[0.5]


def test_cache_registry_returns_unpersist_handles(spark):
    """cache_registry must collect every per-call cache so repeated
    callers (foreachBatch, sweeps) can release them — and unpersisting
    must actually clear the storage level (ADVICE r10)."""
    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        lsh_ensemble_candidate_pairs,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(i, i + 30))) for i in range(6)],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    registry: list = []
    cand = lsh_ensemble_candidate_pairs(
        sh, id_col="id", cache_registry=registry
    )
    cand.count()  # materialize so the caches are populated
    assert registry, "no caches were registered"
    assert all(df.storageLevel.useMemory for df in registry)
    for df in registry:
        df.unpersist(blocking=True)
    assert all(not df.storageLevel.useMemory for df in registry)


def test_containment_standing_cold_process_reload(spark, tmp_path):
    """The io18 lifecycle's end state, certified across a PROCESS
    boundary: standing state published by one Spark application must be
    reloadable by a genuinely cold one (fresh JVM, no memo, no cache)
    and produce bit-identical admission verdicts — the production shape
    where the index is built by one job and probed by every later
    ingest job."""
    import json
    import subprocess
    import sys as _sys
    import textwrap
    from pathlib import Path

    from pyspark.sql import functions as F

    from goodreads_pyspark_spark.dedup.ensemble import (
        build_containment_standing,
        incremental_containment_matches,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    quote = " ".join(f"q{i}" for i in range(30))
    filler = " ".join(f"w{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, quote + " " + filler),  # the container (standing)
            (2, "totally unrelated standing content here only once"),
            (3, quote),  # incoming: fully contained in doc 1
            (6, "novel incoming text that matches nothing at all"),
        ],
        "doc_id bigint, text string",
    )
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    standing = build_containment_standing(
        sh.filter(F.col("id") % 3 != 0), id_col="id", cache_registry=[]
    )
    base = str(tmp_path / "published")
    for name in ("index", "hot", "st"):
        standing[name].write.parquet(f"{base}/{name}")
    incoming_path = str(tmp_path / "incoming")
    docs.filter(F.col("doc_id") % 3 == 0).write.parquet(incoming_path)

    memo_matches = sorted(
        (r["incoming"], r["container"])
        for r in incremental_containment_matches(
            None,
            sh.filter(F.col("id") % 3 == 0),
            id_col="id",
            prebuilt_standing=standing,
            cache_registry=[],
        ).collect()
    )
    assert memo_matches == [(3, 1)], "fixture must produce one admission hit"

    out_json = str(tmp_path / "cold.json")
    script = textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {str(Path(__file__).resolve().parent.parent)!r})
        from pyspark.sql import SparkSession, functions as F
        from goodreads_pyspark_spark.dedup.ensemble import (
            incremental_containment_matches,
        )
        from goodreads_pyspark_spark.dedup.shingles import shingle_rows
        spark = (SparkSession.builder.master("local[4]")
                 .config("spark.sql.shuffle.partitions", "4")
                 .appName("cold_reload").getOrCreate())
        standing = {{n: spark.read.parquet({base!r} + "/" + n)
                     for n in ("index", "hot", "st")}}
        incoming = spark.read.parquet({incoming_path!r})
        sh = shingle_rows(incoming, shingle_n=2, out_id="id")
        got = sorted((r["incoming"], r["container"])
                     for r in incremental_containment_matches(
                         None, sh, id_col="id", cache_registry=[],
                         prebuilt_standing=standing).collect())
        json.dump(got, open({out_json!r}, "w"))
        spark.stop()
    """)
    subprocess.run(
        [_sys.executable, "-c", script], check=True, capture_output=True
    )
    cold_matches = [tuple(x) for x in json.load(open(out_json))]
    assert cold_matches == memo_matches


def test_jsonlgz_writer_roundtrip_and_two_phase(spark, tmp_path):
    """Custom DataSource WRITE path: unicode/null fidelity through the
    gzip shards, no empty shards in the layout, overwrite replaces the
    previous job's shards, and abort removes temp files so a failed job
    leaves no visible output."""
    import glob
    import os

    from goodreads_pyspark_spark.sources.jsonl_gz import (
        JsonlGzDataSource,
        JsonlGzWriter,
        _ShardCommit,
    )

    spark.dataSource.register(JsonlGzDataSource)  # idempotent in Spark 4
    d = str(tmp_path / "shards")
    df = spark.createDataFrame(
        [(1, "héllo |x"), (2, None), (3, "c")], "id bigint, s string"
    )
    df.repartition(8).write.format("jsonlgz").mode("overwrite").option(
        "path", d
    ).save()
    shards = glob.glob(f"{d}/*.json.gz")
    assert 0 < len(shards) <= 3  # empty partitions produce no shards
    back = (
        spark.read.format("jsonlgz")
        .schema("id bigint, s string")
        .option("path", d)
        .load()
    )
    assert sorted(map(tuple, back.collect())) == [
        (1, "héllo |x"),
        (2, None),
        (3, "c"),
    ]
    # overwrite: a second job's shards fully replace the first's
    df.limit(1).write.format("jsonlgz").mode("overwrite").option(
        "path", d
    ).save()
    assert len(glob.glob(f"{d}/*.json.gz")) == 1
    # abort: temp shards are removed, nothing becomes visible
    w = JsonlGzWriter({"path": d}, df.schema, overwrite=False)
    tmp = os.path.join(d, "_tmp-abort-test")
    open(tmp, "w").close()
    w.abort([_ShardCommit(shard=tmp, n_rows=1)])
    assert not os.path.exists(tmp)


def test_jsonlgz_manifest_publish_protocol(spark, tmp_path):
    """Manifest-atomic publication (ADVICE r11): readers trust only the
    newest manifest, so (a) a stray shard from a crashed/interrupted job
    is invisible instead of silently unioned, (b) a shard the manifest
    names but the filesystem lost raises instead of returning partial
    data, (c) append mode carries the prior view forward, and (d) the
    overwrite temp sweep spares a concurrent job's young in-flight temps
    while reaping stale crash debris."""
    import glob
    import json as _json
    import os

    from goodreads_pyspark_spark.sources.jsonl_gz import JsonlGzDataSource

    spark.dataSource.register(JsonlGzDataSource)
    d = str(tmp_path / "shards")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, s string")
    df.write.format("jsonlgz").mode("overwrite").option("path", d).save()
    manifests = glob.glob(f"{d}/_manifest-*.json")
    assert len(manifests) == 1  # superseded manifests are retired

    def read_back():
        return sorted(
            map(
                tuple,
                spark.read.format("jsonlgz")
                .schema("id bigint, s string")
                .option("path", d)
                .load()
                .collect(),
            )
        )

    # (a) an unreferenced shard (crash between publish and retire, or a
    # lost concurrent job) does not leak into reads
    import gzip

    stray = os.path.join(d, "part-99999-deadbeef.json.gz")
    with gzip.open(stray, "wt") as fh:
        fh.write('{"id": 99, "s": "stray"}\n')
    assert read_back() == [(1, "a"), (2, "b")]

    # (c) append carries the prior manifest view forward (and retires
    # the unreferenced stray via the next overwrite below); the newest
    # TWO manifests are retained so an in-flight reader that listed
    # before the commit can still open its file
    df2 = spark.createDataFrame([(3, "c")], "id bigint, s string")
    df2.write.format("jsonlgz").mode("append").option("path", d).save()
    assert read_back() == [(1, "a"), (2, "b"), (3, "c")]
    assert len(glob.glob(f"{d}/_manifest-*.json")) == 2

    # (d) overwrite sweep: young foreign temp survives, stale one reaped
    young = os.path.join(d, "_tmp-otherjob-live")
    stale = os.path.join(d, "_tmp-otherjob-dead")
    open(young, "w").close()
    open(stale, "w").close()
    os.utime(stale, (0, 0))
    df2.write.format("jsonlgz").mode("overwrite").option("path", d).save()
    assert os.path.exists(young) and not os.path.exists(stale)
    os.remove(young)
    assert not os.path.exists(stray)  # retired: not in the new manifest
    assert read_back() == [(3, "c")]

    # (b) a manifest naming a missing shard is corruption, not a skip
    m = sorted(glob.glob(f"{d}/_manifest-*.json"))[-1]
    doc = _json.load(open(m))
    doc["shards"].append("part-00042-gone.json.gz")
    _json.dump(doc, open(m, "w"))
    import pytest as _pytest

    with _pytest.raises(Exception, match="missing shards"):
        read_back()


def test_jsonlgz_append_adopts_legacy_dir_without_duplication(
    spark, tmp_path
):
    """Appending to a manifest-less directory (e.g. produced by another
    writer) adopts its shards into the first manifest EXACTLY ONCE —
    the adoption glob runs after the new shards are already visible, so
    it must not count them a second time (a double-listed shard would
    silently double every appended row on read)."""
    import glob
    import gzip
    import os

    from goodreads_pyspark_spark.sources.jsonl_gz import JsonlGzDataSource

    spark.dataSource.register(JsonlGzDataSource)
    d = str(tmp_path / "legacy")
    os.makedirs(d)
    with gzip.open(os.path.join(d, "old-shard.json.gz"), "wt") as fh:
        fh.write('{"id": 1, "s": "legacy"}\n')
    df = spark.createDataFrame([(2, "new")], "id bigint, s string")
    df.write.format("jsonlgz").mode("append").option("path", d).save()
    manifest_shards = __import__("json").load(
        open(sorted(glob.glob(f"{d}/_manifest-*.json"))[-1])
    )["shards"]
    assert len(manifest_shards) == len(set(manifest_shards)) == 2
    back = sorted(
        map(
            tuple,
            spark.read.format("jsonlgz")
            .schema("id bigint, s string")
            .option("path", d)
            .load()
            .collect(),
        )
    )
    assert back == [(1, "legacy"), (2, "new")]
