"""End-to-end corpus cleaning pipeline tests on the documents testdata
plus planted synthetic duplicates."""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict
from itertools import combinations

import numpy as np
import pytest
from pyspark.sql import functions as F

from goodreads_pyspark_spark.pipelines.corpus import (
    clean_corpus,
    drop_near_duplicates,
    quality_gate,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_quality_gate_thresholds(spark):
    rows = [
        (1, "short text"),  # too few tokens
        (2, " ".join(["word"] * 50)),  # no diversity (uniq ratio 1/50)
        (3, " ".join(f"tok{i}" for i in range(50))),  # passes
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = [r["doc_id"] for r in quality_gate(df, min_tokens=20).collect()]
    assert kept == [3]


def test_exact_then_neardup_with_planted_dups(spark, docs):
    base = docs.select("doc_id", "text")
    # plant an exact dup of doc 0 and a near-dup (one word changed) of doc 1
    d0 = base.filter(F.col("doc_id") == 0).select(
        (F.lit(90000)).alias("doc_id"), "text"
    )
    d1 = base.filter(F.col("doc_id") == 1).select(
        F.lit(90001).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    corpus = base.unionByName(d0).unionByName(d1)
    cleaned, stats = clean_corpus(
        corpus, min_tokens=5, jaccard_threshold=0.8, collect_stats=True
    )
    kept = {r["doc_id"] for r in cleaned.select("doc_id").collect()}
    assert 90000 not in kept  # exact dup dropped (higher id)
    assert 0 in kept
    assert 90001 not in kept  # near dup dropped
    assert 1 in kept
    assert stats.n_after_exact == stats.n_after_quality - 1
    assert stats.n_after_neardup <= stats.n_after_exact - 1


def test_near_dup_removal_keeps_unrelated(spark):
    rows = [
        (1, " ".join(f"alpha{i}" for i in range(30))),
        (2, " ".join(f"beta{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    kept = {r["doc_id"] for r in drop_near_duplicates(df).collect()}
    assert kept == {1, 2}


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _ref_neardup_survivors(texts, threshold=0.8, max_bucket=None, hashes=8, bands=4):
    """Pure-Python ``drop_near_duplicates``: 3-word shingles, salted-md5
    min-hashes banded two to a band, hot buckets capped, and each
    candidate pair verified by Jaccard over the ``shingle_hash`` values
    (the first 15 hex digits of each shingle's md5). Returns (survivor
    ids, candidate pairs, per-doc hashed sets)."""
    sets = {}
    for i, text in texts.items():
        t = [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]
        grams = {" ".join(t[j : j + 3]) for j in range(len(t) - 2)}
        if grams:
            sets[i] = grams
    rows = hashes // bands
    buckets = defaultdict(set)
    for i, grams in sets.items():
        mh = [min(_md5(f"s{k}_{g}") for g in grams) for k in range(hashes)]
        for b in range(bands):
            buckets[(b, "".join(mh[b * rows : (b + 1) * rows]))].add(i)
    hs = {i: {int(_md5(g)[:15], 16) for g in grams} for i, grams in sets.items()}
    cands, drop = set(), set()
    for members in buckets.values():
        if max_bucket is not None and len(members) > max_bucket:
            continue
        for a, b in combinations(sorted(members), 2):
            cands.add((a, b))
            if len(hs[a] & hs[b]) / len(hs[a] | hs[b]) >= threshold:
                drop.add(b)
    return set(texts) - drop, cands, hs


def _words(prefix: str, n: int) -> str:
    return " ".join(f"{prefix}{i}" for i in range(n))


#: 1/2 share 8 of 10 shingles (Jaccard exactly 0.8), 3/4 share 15 of 19
#: (just below); 5/6 are identical but too short to shingle; 10-13 are
#: one hot bucket of copies; 20 is unrelated.
_NEARDUP_TEXTS = {
    1: _words("a1x", 10),
    2: _words("a1x", 10) + " extra one",
    3: _words("b1x", 17),
    4: _words("b1x", 17) + " p q r s",
    5: "hi there",
    6: "hi there",
    **{i: _words("hot", 12) for i in (10, 11, 12, 13)},
    20: _words("solo", 25),
}


def test_near_dup_survivors_match_python_reference(spark):
    """Survivors equal the pure-Python reference at the 0.8 boundary,
    just below it, for documents too short to shingle, with a bucket cap
    that drops the hot bucket, and with a passed shingle table that
    covers more documents than ``docs``."""
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    texts = _NEARDUP_TEXTS
    want, cands, hs = _ref_neardup_survivors(texts)
    # the boundary pairs are LSH candidates, so the verifier decides them
    assert {(1, 2), (3, 4)} <= cands
    assert len(hs[1] & hs[2]) / len(hs[1] | hs[2]) == 0.8
    assert len(hs[3] & hs[4]) / len(hs[3] | hs[4]) == 15 / 19
    assert want == {1, 3, 4, 5, 6, 10, 20}
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")

    def kept(**kw):
        return {r["doc_id"] for r in drop_near_duplicates(docs, **kw).collect()}

    assert kept() == want
    capped, _, _ = _ref_neardup_survivors(texts, max_bucket=3)
    assert capped == want | {11, 12, 13}
    assert kept(max_bucket=3) == capped
    # id 0 copies doc 2 but is not in ``docs``: restricted away, it must
    # not drop doc 1 (Jaccard 0.8 with it, lower id)
    extra = spark.createDataFrame([(0, texts[2])], "doc_id long, text string")
    sh = shingle_rows(docs.unionByName(extra), out_id="id")
    assert kept(shingles=sh) == want


def test_cosines_match_decimal_reference(spark):
    """The four per-row cosine entry points against a Python ``decimal``
    replay of the long-form kernel: products rounded to 12 places,
    null products skipped as SQL ``sum`` skips them, cosine rounded to 6
    places. A missing query id yields no rows, a null vector drops out,
    and vectors of different lengths fail loudly."""
    from decimal import ROUND_HALF_UP, Decimal

    from goodreads_pyspark_spark.similarity.ann import (
        all_cosines,
        batch_knn,
        bucketed_neardup_pairs,
        cosine_range_search,
        sign_lsh_buckets,
    )

    rng = np.random.default_rng(5)
    vecs = {i: [float(x) for x in rng.integers(-8, 9, 6) / 8] for i in range(12)}
    vecs[4][2] = None  # a null element
    vecs[7] = [v * 3 for v in vecs[1]]  # parallel to 1: cosine exactly 1
    rows = [(i, v) for i, v in vecs.items()] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def dsum(xs):
        terms = [
            Decimal(repr(x)).quantize(Decimal("1e-12"), ROUND_HALF_UP)
            for x in xs
            if x is not None
        ]
        return float(sum(terms)) if terms else None

    def cos(a, b):
        va, vb = vecs[a], vecs[b]
        dot = dsum(x * y if None not in (x, y) else None for x, y in zip(va, vb))
        na = dsum(x * x if x is not None else None for x in va)
        nb = dsum(y * y if y is not None else None for y in vb)
        c = dot / (math.sqrt(na) * math.sqrt(nb))
        return float(Decimal(repr(c)).quantize(Decimal("1e-6"), ROUND_HALF_UP))

    ref = {(a, b): cos(a, b) for a in vecs for b in vecs if a != b}
    assert ref[(1, 7)] == 1.0
    for q in (0, 4):
        got = {r["vec_id"]: r["cosine"] for r in all_cosines(df, q).collect()}
        assert got == {b: ref[(q, b)] for b in vecs if b != q}
        got = [tuple(r) for r in cosine_range_search(df, q, 0.2).collect()]
        want = sorted(
            ((b, c) for (a, b), c in ref.items() if a == q and c >= 0.2),
            key=lambda t: (-t[1], t[0]),
        )
        assert got == want
    assert all_cosines(df, 12345).collect() == []
    got = {
        (r.qid, r.rnk): (r.vec_id, r.cosine) for r in batch_knn(df, 3, k=4).collect()
    }
    for q in range(3):
        top = sorted((b for b in vecs if b != q), key=lambda b: (-ref[(q, b)], b))[:4]
        assert [got[(q, r)] for r in range(1, 5)] == [(b, ref[(q, b)]) for b in top]
    bucket = {r[0]: r[1] for r in sign_lsh_buckets(df, planes=2).collect()}
    got = {
        (r.id_a, r.id_b): r.cosine
        for r in bucketed_neardup_pairs(df, threshold=0.3, planes=2).collect()
    }
    assert got == {
        (a, b): c
        for (a, b), c in ref.items()
        if a < b and bucket[a] == bucket[b] and c >= 0.3
    }
    ragged = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="different lengths"):
        all_cosines(ragged, 0).collect()


def test_cosine_screen_size_cap_enforced(spark):
    """The broadcast screen must refuse, loudly, to collect more than its
    cap — the bucket-sized contract is enforced, not advisory."""
    import pytest

    from goodreads_pyspark_spark.similarity.ann import _screen_pairs_numpy

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    with pytest.raises(ValueError, match="Shard the corpus"):
        _screen_pairs_numpy(
            emb, 0.5, 1e-6, "vec_id", "embedding", max_rows=10
        ).collect()


def test_ivf_full_probe_equals_brute_force(spark):
    """nprobe == n_centroids degrades IVF to exhaustive search — results
    must equal the brute-force baseline exactly."""
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = [tuple(r) for r in brute_force_knn(emb, query_id=0, k=10).collect()]
    full_probe = [
        tuple(r)
        for r in ivf_knn(emb, query_id=0, k=10, nprobe=4, n_centroids=4).collect()
    ]
    assert full_probe == exact


def test_ivf_partial_probe_recall(spark):
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.ivf import ivf_knn

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {r["vec_id"] for r in brute_force_knn(emb, query_id=0, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_knn(emb, query_id=0, k=10, nprobe=2, n_centroids=8).collect()
    }
    # seeded KMeans -> deterministic; near neighbors concentrate in the
    # probed lists, so recall should be substantial
    assert len(exact & approx) >= 5


def test_ivf_sampled_centroids_partial_probe(spark):
    """The e08 driver query's shape: sampled-corpus-vector quantizer at
    nprobe=2 of 8. Checks (a) the candidate restriction really is partial
    (fewer candidates scored than the corpus), (b) recall vs the exact
    baseline is substantial, (c) determinism across runs."""
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.ivf import (
        ivf_assign,
        ivf_knn,
        sampled_centroids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    n = emb.count()
    cents = sampled_centroids(emb, k=8)

    assign = ivf_assign(emb, cents)
    assert assign.count() == n  # every vector routed exactly once

    run1 = [
        tuple(r)
        for r in ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents).collect()
    ]
    run2 = [
        tuple(r)
        for r in ivf_knn(emb, query_id=1, k=10, nprobe=2, centroids_long=cents).collect()
    ]
    assert run1 == run2  # deterministic quantizer + decimal sums

    exact = {r["vec_id"] for r in brute_force_knn(emb, query_id=1, k=10).collect()}
    approx = {t[0] for t in run1}
    assert len(exact & approx) >= 4  # neighbors concentrate in probed lists


def test_simhash_neardup_pairs_planted(spark):
    from goodreads_pyspark_spark.dedup import simhash_neardup_pairs

    base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(30))
    rows = [
        (1, base),
        (2, base + " extra"),  # near-dup of 1 (tiny token delta)
        (3, " ".join(f"zeta{i} eta{i}" for i in range(40))),  # unrelated
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_neardup_pairs(df, bits=32, bands=4, max_hamming=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] <= 3
    assert all(3 not in pair for pair in got)


def test_simhash_neardup_pairs_validates_params(spark):
    from goodreads_pyspark_spark.dedup import simhash_neardup_pairs

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        simhash_neardup_pairs(df, bits=32, bands=5)  # 5 does not divide 32
    with pytest.raises(ValueError):
        simhash_neardup_pairs(df, bands=4, max_hamming=4)  # recall guarantee


def test_simhash_bucket_cap_drops_hot_buckets(spark):
    from goodreads_pyspark_spark.dedup import simhash_neardup_pairs

    # 5 identical docs -> every band bucket holds 5 ids; cap of 4 must
    # eliminate all candidates (and the cap must not invent pairs).
    rows = [(i, "the same exact text repeated for everyone") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert simhash_neardup_pairs(df, max_bucket=4).count() == 0
    assert simhash_neardup_pairs(df, max_bucket=None).count() == 10


def test_int8_quantize_error_bound(spark):
    """Rounding error is at most half a quantization step per dimension."""
    from goodreads_pyspark_spark.similarity.quantize import int8_quantize

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    out = int8_quantize(emb)
    # global bound: step = amax/127, worst dim has amax = global max |v|
    gmax = emb.selectExpr(
        "max(aggregate(embedding, cast(0.0 as double), (a, x) -> greatest(a, abs(cast(x as double))))) as m"
    ).first()["m"]
    worst = out.agg(F.max("max_abs_err")).first()[0]
    assert worst <= gmax / 127 / 2 + 1e-12
    codes0 = out.filter(F.col("vec_id") == 0).first()["codes"]
    assert all(-127 <= int(c) <= 127 for c in codes0.split(","))


def test_stratified_sample_rates_and_nesting(spark, docs):
    """Rate 1.0 keeps all, 0.0 drops all; lower-rate samples nest inside
    higher-rate ones (same salt), the property RNG sampling lacks."""
    from goodreads_pyspark_spark.pipelines.sampling import stratified_sample

    n_src0 = docs.filter(F.col("source") == "src0").count()
    full = stratified_sample(docs, {"src0": 1.0}, default_rate=0.0)
    assert full.count() == n_src0 == full.filter(F.col("source") == "src0").count()

    half = stratified_sample(docs, {}, default_rate=0.5)
    quarter = stratified_sample(docs, {}, default_rate=0.25)
    assert 0 < quarter.count() < half.count() < docs.count()
    assert quarter.join(half, "doc_id", "left_anti").count() == 0


def test_contamination_flags_shared_shingles(spark):
    from goodreads_pyspark_spark.dedup.decontaminate import contamination_stats

    shared = "the quick brown fox jumps over the lazy dog"
    train = spark.createDataFrame(
        [(1, shared), (2, "completely different words here altogether now")],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([(100, shared)], ["doc_id", "text"])
    out = contamination_stats(train, ev).collect()
    assert [r["doc_id"] for r in out] == [1]
    assert out[0]["contamination"] == 1.0


def test_neardup_cluster_transitive_closure(spark):
    """A~B and B~C put A,B,C in ONE cluster even when A!~C directly —
    the closure pairwise dedup cannot express; canonical = min id."""
    from goodreads_pyspark_spark.dedup.ngram import jaccard_pairs
    from goodreads_pyspark_spark.graph.frames import PropertyGraph
    from goodreads_pyspark_spark.graph.pregel import (
        connected_components_alternating,
    )

    words = [f"w{i}" for i in range(12)]
    rows = [
        (10, " ".join(words[0:8])),
        (11, " ".join(words[2:10])),  # ~ doc 10 and ~ doc 12
        (12, " ".join(words[4:12])),  # ~ doc 11, not ~ doc 10
        (13, " ".join(f"z{i}" for i in range(8))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = jaccard_pairs(df, threshold=0.3)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (10, 12) not in got and {(10, 11), (11, 12)} <= got
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    cc = connected_components_alternating(PropertyGraph(verts, edges))
    labels = {r["id"]: r["component"] for r in cc.collect()}
    assert labels == {10: 10, 11: 10, 12: 10}


def test_chunk_overlap_geometry(spark, tmp_path):
    """Every token lands in >=1 chunk; consecutive chunks overlap by
    ws-st except possibly the last; chunk text length matches the span."""
    import os

    from goodreads_pyspark_spark.queries import REGISTRY, _load_all
    from goodreads_pyspark_spark.queries.documents import _CHUNK_ST, _CHUNK_WS

    _load_all()
    words = " ".join(f"w{i}" for i in range(150))
    df = spark.createDataFrame(
        [(1, words, "en", "s", len(words)), (2, "one two", "en", "s", 7),
         (3, "", "en", "s", 0)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    sf = str(tmp_path)
    df.write.parquet(os.path.join(sf, "documents.parquet"))
    rows = sorted(
        REGISTRY["d21_chunk_overlap"].spark_fn(spark, sf).collect(),
        key=lambda r: (r.doc_id, r.chunk_idx),
    )
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 3 not in by_doc  # empty doc -> no chunks
    assert [ (r.tok_start, r.tok_end) for r in by_doc[2] ] == [(0, 2)]
    spans = [(r.tok_start, r.tok_end) for r in by_doc[1]]
    assert spans[0][0] == 0 and spans[-1][1] == 150
    for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
        assert s2 == s1 + _CHUNK_ST and e1 > s2  # stride + genuine overlap
    for r in by_doc[1]:
        assert len(r.chunk_text.split(" ")) == r.tok_end - r.tok_start


def test_banding_from_signatures_equals_from_shingles(spark):
    """The band-tuning entry point (signatures precomputed once) must
    produce the identical candidate set as the one-shot shingle path for
    every (bands, rows) split."""
    from goodreads_pyspark_spark.dedup.minhash import (
        lsh_candidate_pairs_from_shingles,
        lsh_candidate_pairs_from_signatures,
        minhash_signatures_from_shingles,
    )
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different text with no overlap at all here"),
            (4, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    sh = shingle_rows(docs, out_id="doc_id").cache()
    sigs = minhash_signatures_from_shingles(sh, "doc_id", num_hashes=8)
    for bands in (8, 4, 2):
        a = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs_from_shingles(
                sh, num_hashes=8, bands=bands
            ).collect()
        }
        b = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs_from_signatures(
                sigs, num_hashes=8, bands=bands
            ).collect()
        }
        assert a == b, f"bands={bands}: {a} != {b}"
        assert (1, 4) in a  # identical docs always collide
    sh.unpersist()


def _dedup_docs(spark):
    """Two near-duplicates, an unrelated doc and an eval copy of doc 1."""
    base = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    rows = [
        (1, base),
        (2, base + " extra"),
        (3, " ".join(f"zeta{i} eta{i}" for i in range(20))),
        (20, base),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def _dedup_entry_points():
    """Every dedup/ and pipelines/corpus.py entry point that used to cache
    a frame it never released, as a call on the ``_dedup_docs`` frame."""
    from goodreads_pyspark_spark.dedup import decontaminate, minhash, ngram, simhash
    from goodreads_pyspark_spark.dedup.shingles import shingle_rows
    from goodreads_pyspark_spark.pipelines import corpus

    def train(d):
        return d.filter("doc_id < 20")

    def ev(d):
        return d.filter("doc_id >= 20")

    return {
        "lsh_candidate_pairs": lambda d: minhash.lsh_candidate_pairs(
            d, max_bucket=10
        ),
        "lsh_candidate_pairs_from_signatures": lambda d: (
            minhash.lsh_candidate_pairs_from_signatures(
                minhash.minhash_signatures(d), max_bucket=10
            )
        ),
        "simhash_neardup_pairs": lambda d: simhash.simhash_neardup_pairs(
            d, max_bucket=10
        ),
        "contamination_stats": lambda d: decontaminate.contamination_stats(
            train(d), ev(d)
        ),
        "contamination_stats_shingles": lambda d: (
            decontaminate.contamination_stats(
                train(d), ev(d), shingles=shingle_rows(d, out_id="id")
            )
        ),
        "jaccard_pairs_max_df": lambda d: ngram.jaccard_pairs(d, max_df=100),
        "containment_pairs_from_shingles": lambda d: (
            ngram.containment_pairs_from_shingles(shingle_rows(d, out_id="id"))
        ),
        "clean_corpus": lambda d: corpus.clean_corpus(d)[0],
        "drop_near_duplicates": lambda d: corpus.drop_near_duplicates(d),
    }


@pytest.mark.parametrize("name", sorted(_dedup_entry_points()))
def test_dedup_entry_point_leaves_no_cached_blocks(spark, name):
    """A long-lived session calling dedup entry points over many corpora
    must not accumulate cached blocks: from a cleared cache, a call and a
    collect of its result leave the cache manager empty."""
    d = _dedup_docs(spark)
    spark.catalog.clearCache()
    rows = _dedup_entry_points()[name](d).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left cached plans behind"
    )
    assert rows


def test_all_cosines_is_superset_of_brute_force_knn(spark):
    """brute_force_knn must be exactly the top-k cut of all_cosines."""
    from goodreads_pyspark_spark.similarity.ann import all_cosines, brute_force_knn

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = {r["vec_id"]: r["cosine"] for r in all_cosines(emb, 0).collect()}
    top = brute_force_knn(emb, 0, k=5).collect()
    assert len(full) == emb.count() - 1
    expected = sorted(full.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["vec_id"], r["cosine"]) for r in top] == expected


# --- integer-exact BM25 (functions/bm25.py) ---------------------------------
def test_bm25_presence_rank_hand_computed(spark):
    from goodreads_pyspark_spark.functions.bm25 import bm25_presence_rank

    rows = [
        (1, "apple banana cherry"),
        (2, "apple apple apple date"),  # presence tf: apple counts once
        (3, "banana date elderberry fig"),
        (4, "grape haze iris jack kiwi lemon"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_presence_rank(df, ("apple", "banana"), k=4).collect()
    # N=4, L=17; df(apple)=df(banana)=2 -> idf = bitlen(10) - bitlen(5) = 1
    n, length = 4, 17

    def score(idf_sum, dl):
        return (22 * length * idf_sum * 100_000) // (13 * length + 9 * dl * n)

    expect = [
        (1, 2, 2, 3, score(2, 3)),  # both terms
        (2, 1, 1, 4, score(1, 4)),  # apple once despite tf=3
        (3, 1, 1, 4, score(1, 4)),  # tie with doc 2 -> doc_id order
        (4, 0, 0, 6, 0),  # no hits still ranked (score 0)
    ]
    got = [
        (r["doc_id"], r["n_hits"], r["idf_sum"], r["dl"], r["score_scaled"])
        for r in out
    ]
    assert got == expect


# --- duplicated-substring removal (dedup/substring.py) ----------------------
def test_substring_dedup_covers_shared_spans(spark):
    import hashlib

    from goodreads_pyspark_spark.dedup.substring import duplicated_span_removal

    shared = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"  # 10 tokens -> 3 dup 8-grams
    rows = [
        (1, shared + " a1 a2 a3"),
        (2, shared + " b1 b2 b3 b4"),
        (3, " ".join(f"u{i}" for i in range(20))),  # no duplicated grams
        (4, "v0 v1 v2 v3 v4"),  # shorter than k: untouched
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in duplicated_span_removal(df, k=8, min_freq=2).collect()
    }

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # docs 1/2: positions 0..9 covered (union of grams at pos 0,1,2)
    assert (out[1]["n_tokens"], out[1]["n_covered"], out[1]["n_kept"]) == (13, 10, 3)
    assert out[1]["kept_md5"] == md5("a1 a2 a3")
    assert (out[2]["n_covered"], out[2]["n_kept"]) == (10, 4)
    assert out[2]["kept_md5"] == md5("b1 b2 b3 b4")
    # unique doc: untouched, fingerprint is the full text
    assert out[3]["n_covered"] == 0
    assert out[3]["kept_md5"] == md5(" ".join(f"u{i}" for i in range(20)))
    # sub-k doc: no grams, untouched
    assert (out[4]["n_covered"], out[4]["n_kept"]) == (0, 5)


def test_substring_dedup_within_doc_repeat(spark):
    from goodreads_pyspark_spark.dedup.substring import duplicated_span_removal

    run = "r0 r1 r2 r3 r4 r5 r6 r7"
    rows = [(1, run + " mid " + run)]  # same 8-gram twice in ONE doc
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    (r,) = duplicated_span_removal(df, k=8, min_freq=2).collect()
    # both occurrences covered; only 'mid' survives
    assert (r["n_tokens"], r["n_covered"], r["n_kept"]) == (17, 16, 1)


# --- MMR re-rank (similarity/mmr.py) ----------------------------------------
def test_mmr_demotes_redundant_candidate(spark):
    from goodreads_pyspark_spark.similarity.mmr import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),  # query
        (1, [0.9, 0.10, 0.0, 0.0]),  # most relevant
        (2, [0.9, 0.11, 0.0, 0.0]),  # near-duplicate of 1
        (3, [0.5, 0.0, 0.8, 0.0]),  # less relevant, diverse
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = mmr_rerank(df, query_id=0, pool=3, k=2).collect()
    # codes: q=[127,0,0,0] v1=[114,115,0,0] v2=[114,127,0,0] v3=[64,0,127,0]
    # rel: 1->14478 2->14478 3->8128; pool tie-break picks 1 first.
    # step2: vec2 scores 7*14478-3*(114*114+127*115)=18543,
    #        vec3 scores 7*8128-3*(64*114)=35008 -> diversity wins.
    got = [(r["rank"], r["vec_id"], r["rel_dot"], r["max_sim_prev"], r["mmr_scaled"]) for r in out]
    assert got == [(1, 1, 14478, 0, 101346), (2, 3, 8128, 7296, 35008)]


def test_mmr_pool_cap_enforced(spark):
    import pytest as _pytest

    from goodreads_pyspark_spark.similarity.mmr import mmr_rerank

    df = spark.createDataFrame([(0, [1.0, 0.0])], ["vec_id", "embedding"])
    with _pytest.raises(ValueError, match="cap"):
        mmr_rerank(df, pool=2000, k=4, max_pool=1000)


def test_bm25_matches_pure_python_reference(spark):
    """Differential: Spark BM25 vs a from-scratch Python implementation
    on a seeded random corpus (the functions/bpe.py test pattern)."""
    import random
    import re as _re

    from goodreads_pyspark_spark.functions.bm25 import bm25_presence_rank

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30))))
        for i in range(40)
    ]
    terms = ("w0", "w5", "w11")

    def toks(s):
        return [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]

    docs = {i: toks(t) for i, t in rows}
    n, length = len(docs), sum(len(t) for t in docs.values())
    df = {
        q: sum(1 for t in docs.values() if q in t)
        for q in terms
        if any(q in t for t in docs.values())
    }
    idf = {
        q: (2 * n + 2).bit_length() - (2 * d + 1).bit_length()
        for q, d in df.items()
    }
    expect = []
    for i, t in docs.items():
        hit = [q for q in idf if q in t]
        isum = sum(idf[q] for q in hit)
        dl = len(t)
        score = (22 * length * isum * 100_000) // (13 * length + 9 * dl * n)
        expect.append((i, len(hit), isum, dl, score))
    expect.sort(key=lambda r: (-r[4], r[0]))

    out = bm25_presence_rank(
        spark.createDataFrame(rows, ["doc_id", "text"]), terms, k=15
    ).collect()
    got = [
        (r["doc_id"], r["n_hits"], r["idf_sum"], r["dl"], r["score_scaled"])
        for r in out
    ]
    assert got == expect[:15]


def test_substring_dedup_matches_pure_python_reference(spark):
    """Differential: Spark ExactSubstr ledger vs a from-scratch Python
    suffix-free implementation on a seeded corpus with planted repeats."""
    import hashlib
    import random
    import re as _re
    from collections import Counter

    from goodreads_pyspark_spark.dedup.substring import duplicated_span_removal

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(15)]
    boiler = " ".join(rng.choice(vocab) for _ in range(12))
    rows = []
    for i in range(30):
        body = " ".join(rng.choice(vocab) for _ in range(rng.randint(4, 25)))
        # a third of docs carry the shared boilerplate run
        rows.append((i, f"{boiler} {body}" if i % 3 == 0 else body))

    k = 8

    def toks(s):
        return [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]

    docs = {i: toks(t) for i, t in rows}
    freq = Counter(
        " ".join(t[j : j + k])
        for t in docs.values()
        for j in range(len(t) - k + 1)
    )
    expect = {}
    for i, t in docs.items():
        covered = set()
        for j in range(len(t) - k + 1):
            if freq[" ".join(t[j : j + k])] >= 2:
                covered.update(range(j, j + k))
        kept = [tok for p, tok in enumerate(t) if p not in covered]
        expect[i] = (
            len(t),
            len(covered),
            len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )

    out = duplicated_span_removal(
        spark.createDataFrame(rows, ["doc_id", "text"]), k=k, min_freq=2
    ).collect()
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_covered"], r["n_kept"], r["kept_md5"])
        for r in out
    }
    assert got == expect


def _memo_kernels():
    from goodreads_pyspark_spark.queries import documents, graph

    return [
        documents._jac05_pairs,
        documents._neardup_cc,
        documents._c_pipeline_stages,
        documents._logit_fit,
        documents._containment_pairs2,
        documents._ensemble_sig_sizes,
        graph._copart_pairs,
    ]


def _frame_rows(value):
    """Sorted rows of each frame in a kernel's frame, tuple or dict."""
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        frames = [value]
    else:
        frames = list(value.values() if isinstance(value, dict) else value)
    return [sorted(map(tuple, f.collect())) for f in frames], frames


@pytest.mark.parametrize("kernel", _memo_kernels(), ids=lambda k: k.__name__)
def test_session_memo_survives_clear_cache(spark, kernel):
    """A shared kernel is built and checkpointed once per session and
    input: after a clearCache the memo returns the same object with the
    same rows, read from the checkpoint (its plan is an RDD scan, not a
    parquet scan plus joins over raw text), and those rows equal a fresh
    build by the unmaterialised builder."""
    from types import GeneratorType

    sf = "/root/testdata/sf0.001"
    first = kernel(spark, sf)
    before, _ = _frame_rows(first)
    spark.catalog.clearCache()
    again = kernel(spark, sf)
    assert again is first, "memo must return the same frames per session+input"
    rows, frames = _frame_rows(again)
    assert rows == before
    for frame in frames:
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan
    built = kernel.__wrapped__(spark, sf)
    if isinstance(built, GeneratorType):
        assert _frame_rows(next(built))[0] == before
        next(built, None)  # the builder releases its intermediate caches
    else:
        assert _frame_rows(built)[0] == before


def test_session_memo_rebuilds_on_changed_input(spark, tmp_path):
    """The memo key covers the files under sf_dir: after documents and
    lineitem are rewritten, d06 and g07 must match their oracles on the
    new files instead of serving the first build."""
    import os
    import shutil

    import duckdb

    from goodreads_pyspark_spark.queries import REGISTRY
    from tests.test_oracle_parity import _norm

    sf = str(tmp_path / "sf")
    shutil.copytree("/root/testdata/sf0.001", sf, copy_function=shutil.copyfile)
    queries = [REGISTRY["d06_jaccard_neardup_pairs"], REGISTRY["g07_triangle_count"]]
    for q in queries:
        q.spark_fn(spark, sf).collect()
    rewrites = {"documents": "doc_id % 2 = 0", "lineitem": "l_orderkey % 2 = 0"}
    for table, keep in rewrites.items():
        path = os.path.join(sf, f"{table}.parquet")
        duckdb.sql(
            f"COPY (SELECT * FROM read_parquet('{path}') WHERE {keep}) "
            f"TO '{path}.new' (FORMAT parquet)"
        )
        os.replace(f"{path}.new", path)
    spark.catalog.clearCache()
    spark.catalog.refreshByPath(sf)
    con = duckdb.connect()
    for table in rewrites:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf}/{table}.parquet')"
        )
    for q in queries:
        sdf = q.spark_fn(spark, sf)
        res = con.execute(q.oracle)
        d_cols = [d[0] for d in res.description]
        got = _norm(sdf.columns, sdf.collect())
        assert got == _norm(d_cols, res.fetchall()), q.name


_CONTAINMENT_FAMILY = (
    "d63_containment_audit",
    "d64_containment_banding_audit",
    "d65_lsh_ensemble_containment",
    "d66_equidepth_ensemble",
    "d67_containment_dedup",
    "d68_incremental_containment_admission",
    "d69_ensemble_tuning_sweep",
    "d70_equidepth_sketch_edges",
    "d71_containment_threshold_sweep",
    "io18_containment_index_publish",
    "io21_containment_index_fold_in",
    "io22_containment_ingest_loop",
    "s15_streaming_containment_admission",
)
#: Embedding-family queries whose kernels cache intermediates (directly or
#: inside similarity/).
_EMBEDDING_CACHE_USERS = (
    "e02_cosine_neardup_pairs",
    "e06_ivf_knn_vec1",
    "e08_ivf_partial_probe_vec1",
    "e12_ivf_recall_audit",
    "e21_semdedup_clusters",
    "e23_semdedup_recall",
    "e30_embedding_outliers",
    "e32_quantization_recall_sweep",
    "e33_ivfpq_residual_adc",
    "e34_ivfpq_recall_audit",
    "e35_ivfpq_nprobe_curve",
)
#: Graph-family queries whose library calls cache superstep state.
_GRAPH_CACHE_USERS = (
    "g06_bfs_shortest_paths",
    "g07_triangle_count",
    "g09_sssp_rounds",
)
#: Near-dup-family queries that cache shingles, signatures or band keys
#: (directly or inside dedup/).
_NEARDUP_CACHE_USERS = (
    "d07_minhash_lsh_candidates",
    "d11_simhash_neardup_pairs",
    "d15_decontamination",
    "d23_minhash_estimate_audit",
    "d27_dup_shingle_fraction",
    "d28_source_overlap",
    "d34_lsh_band_tuning",
)
#: Corpus-quality and data-mix queries that cached an intermediate.
_DOCUMENT_CACHE_USERS = (
    "d31_span_scrub",
    "d35_shingle_novelty",
    "d55_datamix_card",
    "d56_datacard_snapshot_diff",
    "d58_dsir_importance",
    "d59_kmv_source_overlap",
    "d60_bloom_prefilter",
    "d61_bigram_fluency",
)
#: Event-family queries that cached an intermediate with no handle.
_EVENT_CACHE_USERS = (
    "s14_streaming_heavy_hitters",
    "t18_ewma_hourly_volume",
    "t27_cms_heavy_hitters",
    "t28_quantile_sketch_audit",
)


@pytest.mark.parametrize(
    "name",
    _CONTAINMENT_FAMILY
    + _EMBEDDING_CACHE_USERS
    + _GRAPH_CACHE_USERS
    + _NEARDUP_CACHE_USERS
    + _EVENT_CACHE_USERS
    + _DOCUMENT_CACHE_USERS
    + ("h05_prf_query_expansion",),
)
def test_containment_query_releases_its_caches(spark, duck, name):
    """With the containment family's shared kernels built (then
    clearCache), a containment-family query or one of the other
    families' queries that cached leaves no entry in the SQL cache
    manager, and its answer, read after the release, still matches the
    oracle."""
    from goodreads_pyspark_spark.queries import REGISTRY, documents
    from tests.test_oracle_parity import SF_SMOKE, _norm

    documents._containment_pairs2(spark, SF_SMOKE)
    documents._ensemble_sig_sizes(spark, SF_SMOKE)
    spark.catalog.clearCache()
    q = REGISTRY[name]
    sdf = q.spark_fn(spark, SF_SMOKE)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        f"{name} left cached plans behind"
    )
    res = duck.execute(q.oracle)
    d_cols = [d[0] for d in res.description]
    assert _norm(sdf.columns, sdf.collect()) == _norm(d_cols, res.fetchall())
