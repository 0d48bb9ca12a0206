"""Hybrid retrieval — lexical + vector rank fusion across the
``documents`` and ``embeddings`` tables (shared 0-based id space).

The RAG/retrieval primitive a training-data platform serves: given a
query document, rank the corpus by (a) ratio-TF-IDF lexical overlap (the
d20 log-free scoring, so doubles are bit-exact cross-engine) and (b)
exact decimal-summed cosine similarity (the e01 kernel), then fuse the
two rank lists with reciprocal-rank fusion. RRF operates on INTEGER
ranks — 1/(60+rank) is a single exact double division — which is what
makes a hybrid ranking hash-comparable across engines at full precision,
where fusing raw scores would drown in accumulation-order noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.functions.text import tokens
from goodreads_pyspark_spark.operators import bounded_rank
from goodreads_pyspark_spark.queries import PRE_MATERIALIZATION, query
from goodreads_pyspark_spark.queries._helpers import tbl

_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"
_ACC = "decimal(38,12)"
_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS DOUBLE)"

#: RRF smoothing constant (the value from the original RRF paper).
RRF_K = 60
#: Depth of each per-system candidate list before fusion.
FUSE_DEPTH = 50


@query(
    "h01_hybrid_search_rrf",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
    qt AS (SELECT DISTINCT term FROM ex WHERE doc_id = 0),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex
            WHERE doc_id <> 0 AND term IN (SELECT term FROM qt)
            GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex
            WHERE term IN (SELECT term FROM qt) GROUP BY term),
    lex AS (SELECT tfq.doc_id,
                   CAST(SUM(CAST(CAST(tf * n.n_docs AS DOUBLE) / df
                                 AS DECIMAL(38,12))) AS DOUBLE) AS lscore
            FROM tfq JOIN dfq USING (term) CROSS JOIN n
            GROUP BY tfq.doc_id),
    ltop AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY lscore DESC, doc_id) AS lrank
             FROM lex QUALIFY lrank <= {FUSE_DEPTH}),
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (SELECT vec_id,
                     {_DSUM.format(expr='v * qv')} AS dot,
                     {_DSUM.format(expr='v * v')} AS n2,
                     {_DSUM.format(expr='qv * qv')} AS q2
              FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id),
    vtop AS (SELECT vec_id,
                    ROW_NUMBER() OVER (
                      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC,
                               vec_id) AS vrank
             FROM comps QUALIFY vrank <= {FUSE_DEPTH}),
    fused AS (SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
                     COALESCE(l.lrank, 0) AS lex_rank,
                     COALESCE(v.vrank, 0) AS vec_rank,
                     COALESCE(1.0 / ({RRF_K} + l.lrank), 0)
                       + COALESCE(1.0 / ({RRF_K} + v.vrank), 0) AS rrf
              FROM ltop l FULL OUTER JOIN vtop v ON l.doc_id = v.vec_id)
    SELECT doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(vec_rank AS INTEGER) AS vec_rank,
           rrf AS rrf_score
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """,
    doc="More-like-this hybrid retrieval for query id 0: top-50 by "
    "log-free ratio TF-IDF over the query doc's terms (d20 scoring, "
    "per-term quotients decimal-summed) fused via RRF with top-50 by "
    "exact cosine (e01 kernel), output = top-10 by fused score. "
    "Missing-side ranks contribute 0 — ids beyond embedding coverage "
    "(sf0.1 has 5000 docs, 2000 vectors) fuse on the lexical side "
    "alone. Scale shape: query terms and the 64-float query vector "
    "broadcast; tf/df are (doc,term)/(term)-keyed aggregates; each "
    "candidate list is a TakeOrdered top-50 and the fusion window "
    "runs over 2x50 bounded rows — constant, scale-independent.",
)
def h01_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.partitioning import fan_out
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    docs = fan_out(tbl(spark, sf_dir, "documents"))
    emb = tbl(spark, sf_dir, "embeddings")

    ex = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    qt = ex.filter(F.col("doc_id") == 0).select("term").distinct()
    tfq = (
        ex.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = (
        ex.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    lex = (
        tfq.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).cast(
                    _ACC
                )
            )
            .cast("double")
            .alias("lscore")
        )
    )
    # TakeOrdered cut first (scale path), then rank the bounded 50 rows.
    ltop = lex.orderBy(F.col("lscore").desc(), "doc_id").limit(FUSE_DEPTH)
    ltop = bounded_rank(ltop, [("lscore", "desc"), ("doc_id", "asc")], "lrank").select(
        "doc_id", "lrank"
    )

    knn = brute_force_knn(emb, query_id=0, k=FUSE_DEPTH)
    vtop = bounded_rank(knn, [("cosine", "desc"), ("vec_id", "asc")], "vrank").select(
        "vec_id", "vrank"
    )

    fused = (
        ltop.join(vtop, ltop["doc_id"] == vtop["vec_id"], "full_outer")
        .select(
            F.coalesce(ltop["doc_id"], vtop["vec_id"]).alias("doc_id"),
            F.coalesce("lrank", F.lit(0)).alias("lex_rank"),
            F.coalesce("vrank", F.lit(0)).alias("vec_rank"),
            (
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("lrank")), F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("vrank")), F.lit(0.0))
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)


# --- filtered vector search (new in r6) ---------------------------------------
#: Metadata predicate: English docs of at least median length.
_H02_MIN_CHARS = 300
#: Result depth.
_H02_K = 10


@query(
    "h02_filtered_vector_search",
    oracle=f"""
    WITH keep AS (SELECT doc_id, source, n_chars FROM documents
                  WHERE lang = 'en' AND n_chars >= {_H02_MIN_CHARS}
                    AND doc_id <> 0),
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (
      SELECT e.vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN keep k ON k.doc_id = e.vec_id
      JOIN q USING (pos)
      GROUP BY e.vec_id)
    SELECT c.vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine,
           k.source, k.n_chars
    FROM comps c JOIN keep k ON k.doc_id = c.vec_id
    ORDER BY cosine DESC, c.vec_id LIMIT {_H02_K}
    """,
    doc="Filtered vector search — top-10 by exact cosine to query vec 0 "
    "RESTRICTED to documents passing a metadata predicate (lang='en', "
    "n_chars >= 300), with the metadata joined into the result. The "
    "other canonical hybrid-retrieval workload next to h01's rank "
    "fusion: every production vector store serves 'nearest neighbors "
    "WHERE ...'. This is the PRE-filter strategy: the predicate "
    "semi-joins the embedding table down before the kernel ever "
    "scores a vector, so selective filters shrink the scan instead of "
    "wasting scores on rows the filter would discard (post-filtering "
    "a top-k can also return <k rows — pre-filtering never does "
    "while candidates remain). Scale shape: the filtered id set rides "
    "an UNHINTED semi-join (the predicate is corpus-proportional, so "
    "AQE's size check decides broadcast vs shuffle at runtime), the "
    "query vector broadcasts, one corpus pass, TakeOrdered top-k, and "
    "the bounded top-k side broadcasts into the metadata join; with a "
    "low-selectivity predicate the same kernel runs per IVF/LSH "
    "bucket (e06/e04) instead.",
)
def h02_filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    docs = tbl(spark, sf_dir, "documents")
    emb = tbl(spark, sf_dir, "embeddings")
    keep = docs.filter(
        (F.col("lang") == "en")
        & (F.col("n_chars") >= _H02_MIN_CHARS)
        & (F.col("doc_id") != 0)
    ).select("doc_id", "source", "n_chars")
    # The keep set is NOT provably bounded — `lang='en' AND n_chars>=300`
    # is corpus-proportional at 100 TB, so the semi-join carries no
    # broadcast hint: AQE's runtime size check picks broadcast when the
    # filter happens to be selective and falls back to shuffle when it
    # isn't (VERDICT r6 finding #2). The metadata join broadcasts the
    # OTHER side: knn is a TakeOrdered top-k, bounded by construction.
    base = emb.join(
        keep.select(F.col("doc_id").alias("vec_id")),
        "vec_id",
        "left_semi",
    ).unionByName(emb.filter(F.col("vec_id") == 0))
    knn = brute_force_knn(base, query_id=0, k=_H02_K)
    return keep.withColumnRenamed("doc_id", "vec_id").join(
        F.broadcast(knn), "vec_id"
    ).select("vec_id", "cosine", "source", "n_chars")


# --- RAG context packing under a token budget (new in r6) ---------------------
#: Candidate depth fed to the packer.
_H03_POOL = 50
#: Context token budget.
_H03_BUDGET = 2000

_H03_SUBWORD_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


@query(
    "h03_rag_context_pack",
    oracle=f"""
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (
      SELECT vec_id,
             {_DSUM.format(expr='v * qv')} AS dot,
             {_DSUM.format(expr='v * v')} AS n2,
             {_DSUM.format(expr='qv * qv')} AS q2
      FROM e JOIN q USING (pos) WHERE vec_id <> 0
      GROUP BY vec_id),
    pool AS (
      SELECT vec_id, ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) AS cosine,
             ROW_NUMBER() OVER (
               ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC,
                        vec_id) AS rnk
      FROM comps QUALIFY rnk <= {_H03_POOL}),
    toks AS (
      SELECT p.rnk, p.vec_id, p.cosine,
             CAST(len(regexp_extract_all(lower(d.text),
                  '{_H03_SUBWORD_RE}')) AS INTEGER) AS n_tokens
      FROM pool p JOIN documents d ON d.doc_id = p.vec_id)
    SELECT CAST(rnk AS INTEGER) AS rnk, vec_id, cosine, n_tokens,
           CAST(SUM(n_tokens) OVER (
                  ORDER BY rnk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_tokens,
           SUM(n_tokens) OVER (
                  ORDER BY rnk
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             <= {_H03_BUDGET} AS included
    FROM toks
    """,
    doc="RAG context assembly: retrieve the top-50 documents by exact "
    "cosine to query vec 0 (the h02/e01 kernel), estimate each one's "
    "token cost with the d12 BPE-pretokenizer regex, and pack them "
    "into a 2000-token context budget in rank order — a doc is "
    "included while the running total fits, truncation at first "
    "overflow (the standard context-builder semantics; greedy "
    "skip-and-refill is sequential and non-relational, documented "
    "trade-off). The final retrieval-pipeline stage the engine "
    "serves: retrieve -> cost -> budget-cut. Scale shape: the corpus "
    "pass is the one broadcast-query kNN; everything after operates "
    "on a bounded 50-row frame — the pool (not the text-bearing "
    "documents table) is the broadcast side of the text join, and "
    "rank and cumulative sum run as broadcast self-joins over that "
    "constant frame (bounded_rank discipline: no unpartitioned window "
    "anywhere), so the packer costs the same at any corpus size.",
)
def h03_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    docs = tbl(spark, sf_dir, "documents")
    emb = tbl(spark, sf_dir, "embeddings")
    pool = bounded_rank(
        brute_force_knn(emb, query_id=0, k=_H03_POOL),
        order=[("cosine", "desc"), ("vec_id", "asc")],
        alias="rnk",
    )
    # Broadcast the BOUNDED side: pool is a TakeOrdered top-50 cut, so it
    # broadcasts at any corpus size, while the documents table (text
    # column included) streams as the probe side — hinting the corpus
    # side instead would ship every document's text to every executor
    # and OOM at scale (VERDICT r6 finding #1).
    toks = docs.select(F.col("doc_id").alias("vec_id"), "text").join(
        F.broadcast(pool),
        "vec_id",
    ).select(
        "rnk",
        "vec_id",
        "cosine",
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_H03_SUBWORD_RE), 0)
        ).alias("n_tokens"),
    )
    # The packer tail self-joins toks; left lazy, Spark would inline the
    # whole retrieve+join lineage into BOTH branches and run the corpus
    # pass twice. toks is bounded (= pool's 50 rows), so materialize it
    # once — the tail then operates on a constant-size local frame. The
    # lazy head is registered for plan audits (tests/test_plans.py pins
    # that the pool, never the text-bearing corpus, is the broadcast
    # side).
    PRE_MATERIALIZATION["h03_rag_context_pack"] = toks
    toks = toks.localCheckpoint(eager=True)
    a = toks.alias("__a")
    b = toks.select("rnk", "n_tokens").alias("__b")
    packed = (
        a.join(F.broadcast(b), F.col("__b.rnk") <= F.col("__a.rnk"))
        .groupBy(
            F.col("__a.rnk").alias("rnk"),
            F.col("__a.vec_id").alias("vec_id"),
            F.col("__a.cosine").alias("cosine"),
            F.col("__a.n_tokens").alias("n_tokens"),
        )
        .agg(F.sum("__b.n_tokens").cast("bigint").alias("cum_tokens"))
    )
    return packed.select(
        F.col("rnk").cast("int").alias("rnk"),
        "vec_id",
        "cosine",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= _H03_BUDGET).alias("included"),
    )


# --- listwise rerank calibration audit (new in r8) ------------------------------
#: Depth of the fused list being audited.
_H04_K = 10


@query(
    "h04_rerank_calibration",
    oracle=f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    ex AS (SELECT doc_id, unnest(t) AS term FROM tk),
    qt AS (SELECT DISTINCT term FROM ex WHERE doc_id = 0),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tfq AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex
            WHERE doc_id <> 0 AND term IN (SELECT term FROM qt)
            GROUP BY doc_id, term),
    dfq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex
            WHERE term IN (SELECT term FROM qt) GROUP BY term),
    lex AS (SELECT tfq.doc_id,
                   CAST(SUM(CAST(CAST(tf * n.n_docs AS DOUBLE) / df
                                 AS DECIMAL(38,12))) AS DOUBLE) AS lscore
            FROM tfq JOIN dfq USING (term) CROSS JOIN n
            GROUP BY tfq.doc_id),
    ltop AS (SELECT doc_id,
                    ROW_NUMBER() OVER (ORDER BY lscore DESC, doc_id) AS lrank
             FROM lex QUALIFY lrank <= {FUSE_DEPTH}),
    e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 0),
    comps AS (SELECT vec_id,
                     {_DSUM.format(expr='v * qv')} AS dot,
                     {_DSUM.format(expr='v * v')} AS n2,
                     {_DSUM.format(expr='qv * qv')} AS q2
              FROM e JOIN q USING (pos) WHERE vec_id <> 0 GROUP BY vec_id),
    vtop AS (SELECT vec_id,
                    ROW_NUMBER() OVER (
                      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC,
                               vec_id) AS vrank
             FROM comps QUALIFY vrank <= {FUSE_DEPTH}),
    fused AS (SELECT COALESCE(l.doc_id, v.vec_id) AS doc_id,
                     l.lrank, v.vrank,
                     COALESCE(1.0 / ({RRF_K} + l.lrank), 0)
                       + COALESCE(1.0 / ({RRF_K} + v.vrank), 0) AS rrf
              FROM ltop l FULL OUTER JOIN vtop v ON l.doc_id = v.vec_id),
    ftop AS (SELECT doc_id, lrank, vrank,
                    ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id) AS frank
             FROM fused QUALIFY frank <= {_H04_K}),
    sys AS (
      SELECT 'lexical' AS system, doc_id, frank, lrank AS srank
      FROM ftop WHERE lrank IS NOT NULL
      UNION ALL
      SELECT 'vector' AS system, doc_id, frank, vrank AS srank
      FROM ftop WHERE vrank IS NOT NULL),
    pairs AS (
      SELECT a.system,
             CAST(COUNT(*) FILTER (
               (a.frank - b.frank) * (a.srank - b.srank) > 0) AS BIGINT)
               AS n_concordant,
             CAST(COUNT(*) FILTER (
               (a.frank - b.frank) * (a.srank - b.srank) < 0) AS BIGINT)
               AS n_discordant
      FROM sys a JOIN sys b
        ON a.system = b.system AND a.doc_id < b.doc_id
      GROUP BY a.system),
    cov AS (SELECT system, CAST(COUNT(*) AS BIGINT) AS n_covered
            FROM sys GROUP BY system)
    SELECT c.system, {_H04_K} AS k, c.n_covered,
           CAST(c.n_covered AS DOUBLE) / {_H04_K} AS coverage,
           p.n_concordant, p.n_discordant,
           CAST(p.n_concordant - p.n_discordant AS DOUBLE)
             / (p.n_concordant + p.n_discordant) AS kendall_tau
    FROM cov c JOIN pairs p USING (system)
    ORDER BY c.system
    """,
    doc="Listwise rerank CALIBRATION audit — the fused-list diagnostics a "
    "retrieval stack records per reranker release (the cross-encoder-"
    "free form: agreement statistics need no model, only rank lists): "
    "for the h01 RRF fusion's top-10, per underlying system (lexical "
    "TF-IDF, vector cosine) the audit reports coverage (how many fused "
    "winners the system ranked at all at depth 50) and Kendall tau "
    "concordance between the fused order and that system's order over "
    "the covered pairs — tau near +1 means the fusion is calibrated to "
    "(dominated by) that system, near 0 means the other system "
    "reordered it. Every statistic is INTEGER pair counting over a "
    "bounded 10-row list (45 pairs max) with one final double "
    "division, so the audit is hash-exact cross-engine. Scale shape: "
    "h01's two TakeOrdered candidate lists + a self-join over ≤10 "
    "bounded rows — constant, corpus-scale-independent.",
)
def h04_rerank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.partitioning import fan_out
    from goodreads_pyspark_spark.similarity.ann import brute_force_knn

    docs = fan_out(tbl(spark, sf_dir, "documents"))
    emb = tbl(spark, sf_dir, "embeddings")

    ex = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    qt = ex.filter(F.col("doc_id") == 0).select("term").distinct()
    tfq = (
        ex.filter(F.col("doc_id") != 0)
        .join(F.broadcast(qt), "term")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfq = (
        ex.join(F.broadcast(qt), "term")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    lex = (
        tfq.join(F.broadcast(dfq), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.sum(
                ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).cast(
                    _ACC
                )
            )
            .cast("double")
            .alias("lscore")
        )
    )
    ltop = lex.orderBy(F.col("lscore").desc(), "doc_id").limit(FUSE_DEPTH)
    ltop = bounded_rank(ltop, [("lscore", "desc"), ("doc_id", "asc")], "lrank").select(
        "doc_id", "lrank"
    )
    knn = brute_force_knn(emb, query_id=0, k=FUSE_DEPTH)
    vtop = bounded_rank(knn, [("cosine", "desc"), ("vec_id", "asc")], "vrank").select(
        "vec_id", "vrank"
    )

    fused = ltop.join(vtop, ltop["doc_id"] == vtop["vec_id"], "full_outer").select(
        F.coalesce(ltop["doc_id"], vtop["vec_id"]).alias("doc_id"),
        F.col("lrank"),
        F.col("vrank"),
        (
            F.coalesce(F.lit(1.0) / (RRF_K + F.col("lrank")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (RRF_K + F.col("vrank")), F.lit(0.0))
        ).alias("rrf"),
    )
    ftop10 = fused.orderBy(F.col("rrf").desc(), "doc_id").limit(_H04_K)
    ftop = bounded_rank(
        ftop10, [("rrf", "desc"), ("doc_id", "asc")], "frank"
    ).select("doc_id", "lrank", "vrank", "frank")
    # The calibration fan-out references ftop five times (two system
    # slices, self-join both sides, coverage); without materializing the
    # bounded 10-row frame the full candidate pipeline recomputes per
    # reference (measured 10.7s vs h01's 1.8s for the same pipeline).
    PRE_MATERIALIZATION["h04_rerank_calibration"] = ftop
    ftop = ftop.localCheckpoint(eager=True)

    sys_ = (
        ftop.filter(F.col("lrank").isNotNull())
        .select(F.lit("lexical").alias("system"), "doc_id", "frank",
                F.col("lrank").alias("srank"))
        .unionByName(
            ftop.filter(F.col("vrank").isNotNull()).select(
                F.lit("vector").alias("system"), "doc_id", "frank",
                F.col("vrank").alias("srank"),
            )
        )
    )
    a = sys_.alias("__a")
    b = sys_.alias("__b")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("__a.system") == F.col("__b.system"))
            & (F.col("__a.doc_id") < F.col("__b.doc_id")),
        )
        .groupBy(F.col("__a.system").alias("system"))
        .agg(
            F.sum(
                (
                    (F.col("__a.frank") - F.col("__b.frank"))
                    * (F.col("__a.srank") - F.col("__b.srank"))
                    > 0
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_concordant"),
            F.sum(
                (
                    (F.col("__a.frank") - F.col("__b.frank"))
                    * (F.col("__a.srank") - F.col("__b.srank"))
                    < 0
                ).cast("int")
            )
            .cast("bigint")
            .alias("n_discordant"),
        )
    )
    cov = sys_.groupBy("system").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_covered")
    )
    return (
        cov.join(pairs, "system")
        .select(
            "system",
            F.lit(_H04_K).cast("int").alias("k"),
            "n_covered",
            (F.col("n_covered").cast("double") / _H04_K).alias("coverage"),
            "n_concordant",
            "n_discordant",
            (
                (F.col("n_concordant") - F.col("n_discordant")).cast("double")
                / (F.col("n_concordant") + F.col("n_discordant"))
            ).alias("kendall_tau"),
        )
        .orderBy("system")
    )


# --- pseudo-relevance-feedback query expansion (new in r9) ----------------------
_H05_SEED = ("spark", "batch")
_H05_FB = 5  # feedback depth (top docs mined for expansion terms)
_H05_EXP = 3  # expansion terms added to the query


def _h05_oracle() -> str:
    seeds = ", ".join(f"'{t}'" for t in _H05_SEED)
    return f"""
    WITH tkb AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    dtl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tkb),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS n_toks FROM dtl),
    ex AS (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM tkb),
    hit1 AS (SELECT doc_id, tok FROM ex WHERE tok IN ({seeds})),
    dfc1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
             FROM hit1 GROUP BY tok),
    idf1 AS (SELECT tok, CAST(length(bin(2 * n_docs + 2))
                              - length(bin(2 * df + 1)) AS BIGINT) AS idf
             FROM dfc1, stats),
    hs1 AS (SELECT doc_id, CAST(SUM(idf) AS BIGINT) AS idf_sum
            FROM hit1 JOIN idf1 USING (tok) GROUP BY doc_id),
    sc1 AS (SELECT d.doc_id,
                   CAST(22 * n_toks * COALESCE(idf_sum, 0) * 100000
                        // (13 * n_toks + 9 * dl * n_docs) AS BIGINT) AS s
            FROM dtl d LEFT JOIN hs1 USING (doc_id), stats),
    fb AS (SELECT doc_id FROM sc1 ORDER BY s DESC, doc_id LIMIT {_H05_FB}),
    cand AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS fb_df
             FROM ex JOIN fb USING (doc_id)
             WHERE tok NOT IN ({seeds}) GROUP BY tok),
    gdf AS (SELECT ex.tok, CAST(COUNT(*) AS BIGINT) AS df
            FROM ex JOIN cand ON cand.tok = ex.tok GROUP BY ex.tok),
    esc AS (SELECT c.tok,
                   c.fb_df * CAST(length(bin(2 * n_docs + 2))
                                  - length(bin(2 * g.df + 1)) AS BIGINT)
                     AS escore
            FROM cand c JOIN gdf g ON g.tok = c.tok, stats),
    exp AS (SELECT tok FROM esc ORDER BY escore DESC, tok LIMIT {_H05_EXP}),
    terms AS (SELECT tok FROM exp UNION SELECT unnest([{seeds}])),
    hit2 AS (SELECT ex.doc_id, ex.tok FROM ex JOIN terms USING (tok)),
    dfc2 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
             FROM hit2 GROUP BY tok),
    idf2 AS (SELECT tok, CAST(length(bin(2 * n_docs + 2))
                              - length(bin(2 * df + 1)) AS BIGINT) AS idf
             FROM dfc2, stats),
    hs2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                   CAST(SUM(idf) AS BIGINT) AS idf_sum
            FROM hit2 JOIN idf2 USING (tok) GROUP BY doc_id),
    sc2 AS (SELECT d.doc_id,
                   COALESCE(n_hits, 0) AS n_hits,
                   COALESCE(idf_sum, 0) AS idf_sum,
                   dl,
                   CAST(22 * n_toks * COALESCE(idf_sum, 0) * 100000
                        // (13 * n_toks + 9 * dl * n_docs) AS BIGINT)
                     AS score_scaled
            FROM dtl d LEFT JOIN hs2 USING (doc_id), stats),
    expstr AS (SELECT string_agg(tok, ',' ORDER BY tok)
                 AS expansion_terms FROM exp)
    SELECT doc_id, n_hits, idf_sum, dl, score_scaled, expansion_terms
    FROM (SELECT * FROM sc2
          ORDER BY score_scaled DESC, doc_id LIMIT 10), expstr
    """


@query(
    "h05_prf_query_expansion",
    oracle=_h05_oracle(),
    doc="Pseudo-relevance-feedback query expansion (Rocchio 1971 / the "
    "RM-style PRF loop every lexical retrieval stack ships): seed query "
    f"{_H05_SEED!r} -> integer-exact BM25 (the d41 kernel) top-{_H05_FB} "
    "feedback docs -> expansion terms scored by feedback-frequency x "
    "global bit-length idf (rare-but-locally-common terms win, the "
    f"Rocchio signal) -> top-{_H05_EXP} terms join the query -> final "
    "BM25 top-10 under the expanded query, expansion terms riding each "
    "row. The expanded term set is DATA-DEPENDENT, so the final pass "
    "uses bm25_presence_rank_terms (broadcast term-table join) rather "
    "than an IN-list — the shape a PRF loop needs at scale. Everything "
    "is integer arithmetic (counts, bit-length idf, one scaled integer "
    "division), so both stages and even the mined expansion terms are "
    "hash-gated. Scale: two corpus passes (seed + final) plus one "
    "feedback-doc-bounded candidate pass; term/stat tables broadcast; "
    "both rankings are TakeOrdered.",
)
def h05_prf_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.functions.bm25 import (
        bm25_presence_rank,
        bm25_presence_rank_terms,
    )
    from goodreads_pyspark_spark.operators.relational import top_k

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    fb = bm25_presence_rank(docs, _H05_SEED, k=_H05_FB).select("doc_id")
    toks = docs.select("doc_id", tokens("text").alias("t"))
    stats = toks.select(
        F.size("t").cast("bigint").alias("dl")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("n_toks"),
    )
    ex = toks.select("doc_id", F.explode(F.array_distinct("t")).alias("tok"))
    cand = (
        ex.join(F.broadcast(fb), "doc_id")
        .filter(~F.col("tok").isin(*_H05_SEED))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fb_df"))
    )
    gdf = (
        ex.join(F.broadcast(cand), "tok")
        .groupBy("tok", "fb_df")
        .agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    )
    esc = gdf.crossJoin(F.broadcast(stats)).select(
        "tok",
        (
            F.col("fb_df")
            * (
                F.length(F.bin(F.lit(2) * F.col("n_docs") + F.lit(2)))
                - F.length(F.bin(F.lit(2) * F.col("df") + F.lit(1)))
            ).cast("bigint")
        ).alias("escore"),
    )
    exp = top_k(esc, _H05_EXP, [F.desc("escore"), F.asc("tok")]).select("tok")
    seeds = docs.sparkSession.createDataFrame(
        [(t,) for t in _H05_SEED], ["tok"]
    )
    final = bm25_presence_rank_terms(
        docs, exp.unionByName(seeds).distinct(), k=10
    )
    expstr = exp.agg(
        F.array_join(F.array_sort(F.collect_list("tok")), ",").alias(
            "expansion_terms"
        )
    )
    return final.crossJoin(F.broadcast(expstr))
