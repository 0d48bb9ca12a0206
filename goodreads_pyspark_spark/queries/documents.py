"""Text-analysis & dedup queries over ``documents`` — the corpus-cleaning,
data-mix and dedup operator surface of an LLM data pipeline built around
the Goodreads notebook, each with a DuckDB oracle.

Tokenization must be mirrored exactly between engines; the canonical
definition lives in ``functions/text.py`` (Spark) and ``_TOKS`` below
(DuckDB). Both are: lowercase, split on non-alphanumeric runs, drop
empties.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup import (
    dup_group_stats,
    simhash_neardup_pairs,
    simhash_signatures,
)
from goodreads_pyspark_spark.dedup.decontaminate import contamination_stats
from goodreads_pyspark_spark.dedup.ensemble import (
    _pin,
    build_containment_standing,
    containment_probe_candidates,
    equi_depth_edges,
    extend_containment_standing,
    incremental_containment_matches,
    lsh_ensemble_candidate_pairs,
)
from goodreads_pyspark_spark.dedup.exact import exact_dedup
from goodreads_pyspark_spark.dedup.minhash import (
    _banded_keys,
    band_index,
    incremental_lsh_matches,
    lsh_candidate_pairs_from_signatures,
    minhash_signatures_from_shingles,
)
from goodreads_pyspark_spark.dedup.ngram import (
    containment_pairs_from_shingles,
    jaccard_pairs,
)
from goodreads_pyspark_spark.dedup.shingles import shingle_hash, shingle_rows
from goodreads_pyspark_spark.dedup.substring import duplicated_span_removal
from goodreads_pyspark_spark.functions.bm25 import bm25_presence_rank
from goodreads_pyspark_spark.functions.bpe import bpe_fit, bpe_segment_words
from goodreads_pyspark_spark.functions.logistic import (
    DSUM_SQL,
    SIGMOID_SQL,
    UPDATE_SQL,
    feature_matrix,
    logistic_fit,
)
from goodreads_pyspark_spark.functions.pii import (
    PII_CLASSES,
    pii_count,
    redact_pii,
    sql_redact,
)
from goodreads_pyspark_spark.functions.quality_model import quality_scores
from goodreads_pyspark_spark.functions.text import (
    EN_STOPWORDS,
    doc_fingerprint,
    norm_text,
    quality_punct_count,
    stopword_count,
    tokens,
    word_shingles,
)
from goodreads_pyspark_spark.functions.vectors import explode_vector
from goodreads_pyspark_spark.graph.frames import graph_of
from goodreads_pyspark_spark.graph.pregel import connected_components_alternating
from goodreads_pyspark_spark.operators import bounded_rank
from goodreads_pyspark_spark.operators.concurrency import run_concurrent
from goodreads_pyspark_spark.operators.partitioning import fan_out
from goodreads_pyspark_spark.operators.relational import top_k_per_group
from goodreads_pyspark_spark.pipelines.corpus import drop_near_duplicates, quality_gate
from goodreads_pyspark_spark.pipelines.sampling import (
    portable_bucket,
    stratified_sample,
)
from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import (
    _materialize,
    _released,
    session_memo,
    sql_cc_labels,
    tbl,
)
from goodreads_pyspark_spark.streaming import drain, staged_stream, state_partitions

_TOKS = "list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')"

# --- shared oracle builders ---------------------------------------------------
# The near-dup family (d06-d35, c01-c06, d62, s12) and the containment
# family (d63-d71, io18, io21, io22, s15) replay the engine's shingles,
# MinHash signatures, band keys, bucket caps and exact pair overlap in
# DuckDB with the plain-SQL builders below (CTE names and numbers in, CTE
# text out). DuckDB builds every ``AS MATERIALIZED`` CTE whether or not
# anything reads it, so each builder emits only what its callers read.

#: The containment family's LSH-Ensemble geometry (see its section).
_D65_HASHES = 16
_D65_EDGES = (24, 48, 72)
_D65_ROWS = (2, 2, 1, 1)


def _sql_h60(expr: str) -> str:
    """DuckDB mirror of the engine's 60-bit md5-prefix hash of ``expr``."""
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


def _sql_ngrams(out: str, n: int, toks: str = "tk") -> str:
    """``out``: (doc_id, sh) — each distinct ``n``-word shingle of the
    token lists ``t`` of ``toks`` (``shingle_rows``)."""
    gram = " || ' ' || ".join(f"t[i+{k}]" if k else "t[i]" for k in range(n))
    return f"""{out} AS MATERIALIZED (SELECT doc_id, unnest(list_distinct(
              list_transform(range(1, len(t) - {n - 2}), i -> {gram}))) AS sh
            FROM {toks} WHERE len(t) >= {n})"""


def _sql_hashed(src: str) -> str:
    """``shh``: ``src``'s (doc_id, sh) rows with the 60-bit shingle hash
    (``shingle_hash``)."""
    return f"shh AS MATERIALIZED (SELECT doc_id, {_sql_h60('sh')} AS sh FROM {src})"


#: ``tk``: every document's tokens.
_TK = f"tk AS MATERIALIZED (SELECT doc_id, {_TOKS} AS t FROM documents)"
#: ``tk`` and ``sh`` (distinct 3-word shingles) of every document.
_SHINGLE_CTES = f"""
    {_TK},
    {_sql_ngrams("sh", 3)}"""


def _sql_part(size: str, edges=_D65_EDGES) -> str:
    """Size partition of the expression ``size`` over exclusive upper
    ``edges`` — the engine's ``_partition_of``."""
    whens = " ".join(f"WHEN {size} < {e} THEN {p}" for p, e in enumerate(edges))
    return f"CASE {whens} ELSE {len(edges)} END"


def _sql_signatures(
    parts: dict[str, str] | None = None,
    edges=_D65_EDGES,
    join="",
    src="sh0",
    n_hashes=_D65_HASHES,
) -> str:
    """``sig``: per ``src`` doc its salted min-hashes ``mh0..``, its
    shingle count ``sz`` and one partition column per ``parts`` entry
    (name -> size expression, e.g. a probe floor over ``sz``); ``join``
    brings in data-dependent ``edges``. A doc's signature depends only on
    its own shingles, so one table serves every corpus split."""
    mins = ",\n           ".join(
        f"min(md5('s{i}_' || sh)) AS mh{i}" for i in range(n_hashes)
    )
    parts = parts or {}
    cols = "".join(f", {_sql_part(v, edges)} AS {n}" for n, v in parts.items())
    return f"""sig AS MATERIALIZED (SELECT *{cols} FROM (SELECT doc_id,
           {mins},
           count(*) AS sz FROM {src} GROUP BY doc_id) s{join})"""


def _sql_band_keys(
    cols: str, out="keys", rows=_D65_ROWS, n_hashes=_D65_HASHES, key=_sql_h60
) -> str:
    """``out``: ``cols`` of ``sig`` plus (p, band, key) for every band of
    every partition's rows-per-band scheme. Index sides keep
    ``p = part``; probe sides keep ``p >= part`` or ``p >= pmin``."""
    branches = [
        f"SELECT {cols}, {p} AS p, {b} AS band, "
        f"{key(' || '.join(f'mh{b * r + k}' for k in range(r)))} AS key FROM sig"
        for p, r in enumerate(rows)
        for b in range(n_hashes // r)
    ]
    return f"{out} AS MATERIALIZED (\n      " + "\n      UNION ALL ".join(
        branches
    ) + ")"


def _sql_md5_keys(out: str, rows: int = 2) -> str:
    """``out``: (doc_id, p, band, key) in the d07 convention — ``sig``'s
    mh0..mh7 in bands of ``rows``, md5 keys (``band_signatures``)."""
    return _sql_band_keys(
        "doc_id", out, rows=(rows,), n_hashes=8, key=lambda e: f"md5({e})"
    )


def _sql_capped(out: str, src: str, cap: int, keys: str = "p, band, key") -> str:
    """``{out}_n``: the bucket (``keys``) sizes of ``src``; ``out``:
    ``src``'s rows in buckets of at most ``cap`` (``cap_buckets``)."""
    return f"""{out}_n AS MATERIALIZED (SELECT {keys}, count(*) AS n
          FROM {src} GROUP BY {keys}),
    {out} AS MATERIALIZED (SELECT {src}.* FROM {src}
          JOIN {out}_n USING ({keys}) WHERE n <= {cap})"""


def _sql_self_pairs(out: str, src: str, keys: str = "p, band, key") -> str:
    """``out``: distinct (doc_a < doc_b) pairs of ``src`` rows sharing
    ``keys`` — the band self-join (``band_pairs``)."""
    return f"""{out} AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM {src} a JOIN {src} b USING ({keys})
          WHERE a.doc_id < b.doc_id)"""


def _sql_plain_cands(out: str, cap: int | None = None, rows: int = 2) -> str:
    """``out``: (doc_a < doc_b) pairs sharing a d07-convention band
    (``_sql_md5_keys``), in a bucket of at most ``cap`` docs when a cap
    is given — ``lsh_candidate_pairs_from_signatures``, the
    Jaccard-banding baseline."""
    ctes, src = [_sql_md5_keys(f"{out}_k", rows)], f"{out}_k"
    if cap is not None:
        ctes.append(_sql_capped(f"{out}_f", src, cap))
        src = f"{out}_f"
    return ",\n    ".join(ctes + [_sql_self_pairs(out, src)])


def _sql_batch_matches(out: str, batch: str, cap: int) -> str:
    """``out``: distinct (new_id, corpus_id) pairs where a doc matching
    ``batch`` shares a d07-convention band with a corpus doc (every other
    doc) in a corpus bucket of at most ``cap`` — ``incremental_lsh_matches``."""
    return f"""{_sql_md5_keys(f"{out}_k")},
    {out}_c AS MATERIALIZED (SELECT * FROM {out}_k WHERE NOT ({batch})),
    {_sql_capped(f"{out}_x", f"{out}_c", cap)},
    {out} AS MATERIALIZED (SELECT DISTINCT q.doc_id AS new_id, x.doc_id AS corpus_id
          FROM (SELECT * FROM {out}_k WHERE {batch}) q
          JOIN {out}_x x USING (p, band, key))"""


def _sql_df_cap(sfx: str, member: str, cap: int) -> str:
    """Over the ``shh`` rows of docs matching ``member``: ``dfreq{sfx}``
    (shingle doc frequency), ``hot{sfx}`` (shingles in more than ``cap``
    docs) and ``st{sfx}`` (those rows without hot shingles)."""
    return f"""dfreq{sfx} AS MATERIALIZED (SELECT sh, count(*) AS df FROM shh
          WHERE {member} GROUP BY sh),
    hot{sfx} AS MATERIALIZED (SELECT sh FROM dfreq{sfx} WHERE df > {cap}),
    st{sfx} AS MATERIALIZED (SELECT * FROM shh
          WHERE {member} AND sh NOT IN (SELECT sh FROM hot{sfx}))"""


def _sql_pairs(out: str, src: str, cands: str | None = None) -> str:
    """``{out}_sz`` (doc_id, sz) over the (doc_id, sh) rows of ``src`` and
    ``out``: every pair doc_a < doc_b sharing a shingle of ``src`` (and
    listed in ``cands``, when given), with n_common, sizes sz_a/sz_b,
    jaccard and containment — ``containment_pairs_from_shingles``. Over
    ``st`` (``_sql_df_cap``) the sizes count the capped shingles."""
    only = f"\n          JOIN {cands} USING (doc_a, doc_b)" if cands else ""
    return f"""{out}_sz AS MATERIALIZED (SELECT doc_id, count(*) AS sz
          FROM {src} GROUP BY doc_id),
    {out} AS MATERIALIZED (SELECT doc_a, doc_b, n_common,
             sa.sz AS sz_a, sb.sz AS sz_b,
             CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common) AS jaccard,
             CAST(n_common AS DOUBLE) / LEAST(sa.sz, sb.sz) AS containment
          FROM (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       count(*) AS n_common
                FROM {src} a JOIN {src} b USING (sh)
                WHERE a.doc_id < b.doc_id GROUP BY 1, 2) i{only}
          JOIN {out}_sz sa ON sa.doc_id = doc_a
          JOIN {out}_sz sb ON sb.doc_id = doc_b)"""


def _sql_contamination(out: str, sh: str) -> str:
    """``out``: (doc_id, n_shared, n_shingles, contamination) for every
    train doc (doc_id % 20 <> 0) of the shingle rows ``sh`` sharing a
    shingle with the eval docs (doc_id % 20 = 0) — ``contamination_stats``
    over d15's split."""
    return f"""{out}_tr AS MATERIALIZED (SELECT doc_id, sh FROM {sh}
          WHERE doc_id % 20 <> 0),
    {out}_ev AS MATERIALIZED (SELECT DISTINCT sh FROM {sh} WHERE doc_id % 20 = 0),
    {out} AS MATERIALIZED (SELECT doc_id, n_shared, n_shingles,
             CAST(n_shared AS DOUBLE) / CAST(n_shingles AS DOUBLE) AS contamination
          FROM (SELECT doc_id, count(*) AS n_shared
                FROM {out}_tr JOIN {out}_ev USING (sh) GROUP BY doc_id) h
          JOIN (SELECT doc_id, count(*) AS n_shingles
                FROM {out}_tr GROUP BY doc_id) z USING (doc_id))"""


def _sql_bucket(key: str, n: int | str) -> str:
    """DuckDB mirror of ``portable_bucket``: the 32-bit md5 prefix of the
    string ``key`` (salt included), mod ``n``."""
    return f"('0x' || substr(md5({key}), 1, 8))::BIGINT % {n}"


def _sql_shard(doc_id: str, n_shards: int) -> str:
    """``portable_bucket(doc_id, 'shard-v1', n_shards)`` (BIGINT)."""
    return _sql_bucket(f"CAST({doc_id} AS VARCHAR) || 'shard-v1'", n_shards)


def _sql_tk(cols: str = "doc_id", out: str = "tk", where: str = "TRUE") -> str:
    """``out``: ``cols`` and the token list ``t`` of each document
    matching ``where``."""
    return f"{out} AS (SELECT {cols}, {_TOKS} AS t FROM documents WHERE {where})"


#: A document's punctuation-mark count (``quality_punct_count``).
_SQL_PUNCT = "len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))"

#: d24's four named quality rules, in d43's stage order, over ``tk`` rows
#: from ``_sql_rule_feats``.
_SQL_RULES = (
    ("min_tokens", "len(t) < 20"),
    ("lexical_diversity", "len(list_distinct(t)) * 10 < 3 * len(t)"),
    ("punct_ratio", "n_punct * 5 > n_chars"),
    ("digit_noise", "n_digit_runs * 20 > len(t)"),
)


def _sql_rule_feats(cols: str) -> str:
    """``tk``: ``cols``, tokens ``t`` and the n_chars, n_punct and
    n_digit_runs inputs of ``_SQL_RULES`` for every document."""
    return _sql_tk(
        f"{cols}, length(text) AS n_chars, {_SQL_PUNCT} AS n_punct, "
        "len(regexp_extract_all(text, '[0-9]{3,}')) AS n_digit_runs"
    )


#: d59/d60's 60-bit content hash of a document.
_SQL_H60_TEXT = _sql_h60("lower(trim(text))")

#: ``tk`` and ``ex`` (doc_id, term): every token occurrence.
_SQL_TERMS = f"""{_sql_tk()},
    ex AS (SELECT doc_id, unnest(t) AS term FROM tk)"""


def _sql_vocab(k: int) -> str:
    """``vocab``: the top-``k`` terms of ``ex`` by (count desc, term),
    with their 1-based rank ``rnk``."""
    return f"""vocab AS (SELECT term, rnk FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS rnk
        FROM ex GROUP BY term) WHERE rnk <= {k})"""


def _sql_qfeats(where: str = "TRUE") -> str:
    """``qf``: (doc_id, f) — every unigram and ``a_b`` bigram feature of
    the documents matching ``where`` (``quality_model.ngram_features``)."""
    return f"""{_sql_tk(out="qtk", where=where)},
    qf AS (SELECT doc_id, unnest(list_concat(t,
             [t[i] || '_' || t[i + 1] for i in range(1, len(t))])) AS f
           FROM qtk)"""


#: d38's hashed feature bucket of a feature ``f``.
_SQL_QBUCKET = _sql_bucket("'qv1_' || f", 4096)


def _sql_quality(cols: str = "d.doc_id", where: str = "TRUE") -> str:
    """``qs``: ``cols`` of the documents ``d`` matching ``where`` with
    d38's n_feats, sum_w, logit and keep (``quality_scores``)."""
    w = _sql_bucket(f"'qw1_' || CAST({_SQL_QBUCKET} AS VARCHAR)", 2001)
    return f"""{_sql_qfeats(where)},
    qagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
                    CAST(SUM({w} - 1000) AS BIGINT) AS sum_w
             FROM qf GROUP BY doc_id),
    qs AS (SELECT {cols}, COALESCE(n_feats, 0) AS n_feats,
                  COALESCE(sum_w, 0) AS sum_w,
                  CASE WHEN COALESCE(n_feats, 0) = 0 THEN 0.0
                       ELSE sum_w / (n_feats * 1000.0) END AS logit,
                  CAST(CASE WHEN COALESCE(sum_w, 0) > 50 * COALESCE(n_feats, 0)
                       THEN 1 ELSE 0 END AS INTEGER) AS keep
           FROM documents d LEFT JOIN qagg USING (doc_id) WHERE {where})"""


def _sql_tiles(src: str) -> str:
    """``tiled``: ``src``'s rows with ``tile``, the per-language
    NTILE(3) of the logit (logit desc, doc_id) — d47's tercile."""
    return f"""tiled AS (SELECT *, NTILE(3) OVER (PARTITION BY lang
                       ORDER BY logit DESC, doc_id) AS tile FROM {src})"""


#: The head/middle/tail name of a ``tile``.
_SQL_TILE_NAME = "CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


def _sql_base(cols: str) -> str:
    """``base``: per document ``cols``, its token count ``n_tok`` and its
    content hash ``h`` (d02's ``md5(lower(trim(text)))``)."""
    return f"""base AS (SELECT {cols}, len({_TOKS}) AS n_tok,
                  md5(lower(trim(text))) AS h FROM documents)"""


def _sql_keep(src: str, extra: str = "") -> str:
    """``keep``: per content hash ``h`` of ``src`` its group size
    ``n_docs`` and survivor ``keep_id`` (lowest doc_id), plus the
    aggregates in ``extra`` — d02's exact-dup groups."""
    return f"""keep AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs,
                    CAST(MIN(doc_id) AS BIGINT) AS keep_id{extra}
             FROM {src} GROUP BY h)"""


def _sql_volumes(src: str) -> str:
    """``ps``: per source of ``src`` (source, n_tok) rows its n_docs and
    n_tokens."""
    return f"""ps AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                  CAST(SUM(n_tok) AS BIGINT) AS n_tokens
           FROM {src} GROUP BY source)"""


def _sql_drift(src: str) -> str:
    """``drift``: (source, n_docs, tv_distance) — d33's total-variation
    distance between each source's token-length histogram and the
    corpus-wide one, over ``src``'s (source, n_tok) rows."""
    return f"""lb AS (SELECT source, LEAST(n_tok // {_D33_BIN}, {_D33_MAX_BIN}) AS bin
           FROM {src}),
    lsc AS (SELECT source, bin, COUNT(*) AS c FROM lb GROUP BY 1, 2),
    lcc AS (SELECT bin, COUNT(*) AS cb FROM lb GROUP BY 1),
    lns AS (SELECT source, COUNT(*) AS n_docs FROM lb GROUP BY 1),
    ltot AS (SELECT COUNT(*) AS n FROM lb),
    drift AS (
      SELECT lns.source, lns.n_docs,
             CAST(SUM(ABS(COALESCE(lsc.c, 0) * ltot.n - lcc.cb * lns.n_docs))
                  AS DOUBLE) / (2.0 * lns.n_docs * (SELECT n FROM ltot))
               AS tv_distance
      FROM lns CROSS JOIN ltot
      JOIN lcc ON TRUE
      LEFT JOIN lsc ON lsc.source = lns.source AND lsc.bin = lcc.bin
      GROUP BY lns.source, lns.n_docs, ltot.n)"""


def _sql_tempered(src: str) -> str:
    """``wtd``: ``src``'s rows with d36's sqrt-tempered weight ``w``;
    ``swt``: their sum ``sw``."""
    return f"""wtd AS (SELECT *, CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS w
           FROM {src}),
    swt AS (SELECT SUM(w) AS sw FROM wtd)"""


def _sql_unimax(src: str, n_rounds: int) -> str:
    """``b`` (the budget) and ``s0`` .. ``s{n_rounds}``: d53's UniMax
    waterfilling over ``src``'s (source, n_tokens) rows; ``a`` is each
    source's allocation after the round, ``cap`` its epoch cap."""
    steps = [
        f"""b AS (SELECT (SUM(n_tokens) * {_D53_B_NUM}) // {_D53_B_DEN} AS budget
          FROM {src}),
    s0 AS (SELECT source, n_tokens, n_tokens AS cap,
                  CAST(0 AS BIGINT) AS a FROM {src})"""
    ]
    for r in range(1, n_rounds + 1):
        p = r - 1
        steps.append(f"""m{r} AS (SELECT CAST(COUNT(*) FILTER (a < cap) AS BIGINT) AS n_act,
                  b.budget - CAST(SUM(a) AS BIGINT) AS rem
           FROM s{p} CROSS JOIN b GROUP BY b.budget),
    s{r} AS MATERIALIZED (
      SELECT source, n_tokens, cap,
             a + CASE WHEN a < cap AND n_act > 0
                      THEN LEAST(rem // n_act, cap - a) ELSE 0 END AS a
      FROM s{p} CROSS JOIN m{r})""")
    return ",\n    ".join(steps)


# --- shared Spark scaffolds ---------------------------------------------------
# The Spark side of the corpus-quality and data-mix family: each helper is
# the engine twin of the builder of the same name above.

#: Exact accumulator for sums of doubles (DECIMAL(38,12) in the oracles).
_ACC = "decimal(38,12)"


def _terms(spark: SparkSession, sf_dir: str, *cols: str) -> DataFrame:
    """(doc_id, ``cols``, term): every token occurrence (``_SQL_TERMS``)."""
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    return docs.select("doc_id", *cols, F.explode(tokens("text")).alias("term"))


def _top_terms(ex: DataFrame, k: int) -> DataFrame:
    """(term, tf): the top-``k`` terms of ``ex`` by (tf desc, term). An
    orderBy+limit, not a global row_number window: Catalyst plans it as
    TakeOrderedAndProject (per-partition top-k + merge), while the window
    form funnels the whole vocabulary through one partition."""
    return (
        ex.groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.col("tf").desc(), F.col("term"))
        .limit(k)
    )


def _h60(col: Column) -> Column:
    """The 60-bit md5-prefix hash of ``col`` (``_sql_h60``)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _text_h60() -> Column:
    """``_SQL_H60_TEXT``."""
    return _h60(norm_text("text"))


def _rule_feats(docs: DataFrame, *cols: str) -> DataFrame:
    """``cols`` plus the n_chars, n_tokens, n_uniq, n_punct and
    n_digit_runs inputs of ``_rules`` (``_sql_rule_feats``)."""
    toks = tokens("text")
    return docs.select(
        *cols,
        F.length("text").alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq"),
        quality_punct_count("text").alias("n_punct"),
        F.regexp_count("text", F.lit("[0-9]{3,}")).alias("n_digit_runs"),
    )


def _rules() -> list[tuple[str, Column]]:
    """``_SQL_RULES`` over ``_rule_feats`` columns: (name, fails)."""
    n = F.col("n_tokens")
    return [
        ("min_tokens", n < 20),
        ("lexical_diversity", F.col("n_uniq") * 10 < 3 * n),
        ("punct_ratio", F.col("n_punct") * 5 > F.col("n_chars")),
        ("digit_noise", F.col("n_digit_runs") * 20 > n),
    ]


def _scored(docs: DataFrame, *cols: str) -> DataFrame:
    """``quality_scores`` of ``docs`` with their ``cols`` (``qs``)."""
    return quality_scores(docs).join(docs.select("doc_id", *cols), "doc_id")


def _tiles(scored: DataFrame) -> DataFrame:
    """``scored`` with ``tile``: the per-language NTILE(3) of the logit
    (``_sql_tiles``)."""
    w = Window.partitionBy("lang").orderBy(F.col("logit").desc(), "doc_id")
    return scored.withColumn("tile", F.ntile(3).over(w))


def _tile_name(tile: Column) -> Column:
    """``_SQL_TILE_NAME``."""
    return F.when(tile == 1, "head").when(tile == 2, "middle").otherwise("tail")


def _base(docs: DataFrame, *cols: str) -> DataFrame:
    """(doc_id, ``cols``, n_tok, h) per document (``_sql_base``)."""
    return docs.select(
        "doc_id",
        *cols,
        F.size(tokens("text")).alias("n_tok"),
        F.md5(norm_text("text")).alias("h"),
    )


def _keep(base: DataFrame, *aggs: Column) -> DataFrame:
    """(h, keep_id, ``aggs``): the survivor of each content-hash group of
    ``base`` (``_sql_keep``)."""
    return base.groupBy("h").agg(F.min("doc_id").alias("keep_id"), *aggs)


def _volumes(rows: DataFrame) -> DataFrame:
    """(source, n_docs, n_tokens) of (source, n_tok) ``rows``
    (``_sql_volumes``)."""
    return rows.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


def _length_drift(rows: DataFrame) -> DataFrame:
    """(source, n_docs, tv_distance) of (source, n_tok) ``rows``
    (``_sql_drift``). TV is computed from cross-multiplied integer counts
    with one final double division."""
    b = rows.select(
        "source",
        F.least(F.floor(F.col("n_tok") / _D33_BIN), F.lit(_D33_MAX_BIN)).alias("bin"),
    )
    sc = b.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("c"))
    cc = b.groupBy("bin").agg(F.count(F.lit(1)).alias("cb"))
    ns = b.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = b.agg(F.count(F.lit(1)).alias("n"))
    diff = F.coalesce("c", F.lit(0)) * F.col("n") - F.col("cb") * F.col("n_docs")
    return (
        ns.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cc))
        .join(sc, ["source", "bin"], "left")
        .groupBy("source", "n_docs", "n")
        .agg(F.sum(F.abs(diff)).alias("num"))
        .select(
            "source",
            "n_docs",
            (F.col("num").cast("double") / (2.0 * F.col("n_docs") * F.col("n"))).alias(
                "tv_distance"
            ),
        )
    )


def _tempered(ps: DataFrame) -> DataFrame:
    """``ps`` (source, n_tokens, ...) with d36's sqrt-tempered weight
    ``w`` and the weight sum ``sw`` (``_sql_tempered``)."""
    wtd = ps.withColumn("w", F.floor(F.sqrt(F.col("n_tokens"))).cast("bigint"))
    return wtd.crossJoin(F.broadcast(wtd.agg(F.sum("w").alias("sw"))))


def _unimax(ps: DataFrame) -> DataFrame:
    """(source, n_tokens, cap, a): d53's UniMax waterfilling over ``ps``'s
    (source, n_tokens) rows after ``_D53_ROUNDS`` rounds (``_sql_unimax``).
    The rounds are lazy lineage over a per-source frame; the one
    checkpoint pins the token counts."""
    budget = ps.agg(
        F.expr(f"(SUM(n_tokens) * {_D53_B_NUM}) div {_D53_B_DEN}")
        .cast("bigint")
        .alias("budget")
    )
    s = ps.select(
        "source",
        "n_tokens",
        F.col("n_tokens").alias("cap"),
        F.lit(0).cast("bigint").alias("a"),
    ).localCheckpoint(eager=True)
    active = F.col("a") < F.col("cap")
    for _ in range(_D53_ROUNDS):
        m = s.crossJoin(F.broadcast(budget)).agg(
            F.sum(active.cast("int")).cast("bigint").alias("n_act"),
            (F.first("budget") - F.sum("a")).cast("bigint").alias("rem"),
        )
        share = F.least(F.expr("rem div n_act"), F.col("cap") - F.col("a"))
        s = s.crossJoin(F.broadcast(m)).select(
            "source",
            "n_tokens",
            "cap",
            (F.col("a") + F.when(active & (F.col("n_act") > 0), share).otherwise(0))
            .cast("bigint")
            .alias("a"),
        )
    return s


# --- token counting ---------------------------------------------------------
@query(
    "d01_token_stats",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct({_TOKS})) AS INTEGER) AS n_uniq_tokens,
           CAST(length(text) AS INTEGER) AS n_chars_calc,
           lang, source
    FROM documents
    """,
    doc="Whitespace/alnum token counting per document — all inside codegen.",
)
def d01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    t = tokens("text")
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        F.length("text").cast("int").alias("n_chars_calc"),
        "lang",
        "source",
    )


# --- exact dedup audit ------------------------------------------------------
@query(
    "d02_exact_dup_groups",
    oracle=f"""
    WITH {_sql_base("doc_id")},
    {_sql_keep("base")}
    SELECT h AS content_hash, n_docs, keep_id FROM keep
    """,
    doc="Exact dedup by content hash: group sizes + survivor id "
    "(dedup/exact.py). Only ids shuffle, never document bytes.",
)
def d02_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return dup_group_stats(docs)


# --- fingerprint dedup ------------------------------------------------------
@query(
    "d03_fingerprints",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOKS})), ' '))
             AS fingerprint
    FROM documents
    """,
    doc="Order-insensitive content fingerprint (sorted distinct tokens → "
    "md5): catches shuffled/duplicated-word near-copies exactly.",
)
def d03_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint(tokens("text")).alias("fingerprint"))


# --- language-ID heuristic --------------------------------------------------
@query(
    "d04_lang_heuristic",
    oracle=f"""
    WITH {_sql_tk()}
    SELECT doc_id,
           CAST(len(list_filter(t, x -> x IN {EN_STOPWORDS!r})) AS INTEGER)
             AS n_stopwords,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CASE WHEN len(t) > 0
                 AND len(list_filter(t, x -> x IN {EN_STOPWORDS!r})) * 20
                     >= len(t)
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM tk
    """,
    doc="N-gram/stopword-ratio language ID: share of English function words "
    "≥5% → 'en' (integer form n_stop*20 >= n_tokens: exact at the "
    "boundary, no float/decimal division divergence).",
)
def d04_lang_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    t = tokens("text")
    d = docs.select(
        "doc_id",
        stopword_count(t).alias("n_stopwords"),
        F.size(t).alias("n_tokens"),
    )
    return d.withColumn(
        "pred_lang",
        F.when(
            (F.col("n_tokens") > 0)
            & (F.col("n_stopwords") * 20 >= F.col("n_tokens")),
            "en",
        ).otherwise("other"),
    )


# --- quality scoring --------------------------------------------------------
@query(
    "d05_quality_scores",
    oracle=f"""
    WITH {_sql_tk(f"doc_id, text, {_SQL_PUNCT} AS n_punct")}
    SELECT doc_id,
           CAST(length(text) AS INTEGER) AS n_chars,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(n_punct AS INTEGER) AS n_punct,
           CAST(n_punct AS DOUBLE) / length(text) AS punct_ratio,
           CAST(len(list_distinct(t)) AS DOUBLE)
             / greatest(len(t), 1) AS uniq_ratio,
           CASE WHEN len(t) >= 20
                 AND CAST(len(list_distinct(t)) AS DOUBLE)
                     / greatest(len(t), 1) >= 0.3
                THEN 'keep' ELSE 'flag' END AS quality
    FROM tk
    """,
    doc="Document quality features (length, punctuation ratio, lexical "
    "diversity) + keep/flag gate — the pre-training filter archetype.",
)
def d05_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    t = tokens("text")
    d = docs.select(
        "doc_id",
        F.length("text").cast("int").alias("n_chars"),
        F.size(t).alias("n_tokens"),
        quality_punct_count("text").cast("int").alias("n_punct"),
        F.size(F.array_distinct(t)).alias("n_uniq"),
    )
    uniq_ratio = F.col("n_uniq").cast("double") / F.greatest(F.col("n_tokens"), F.lit(1))
    return d.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_punct",
        (F.col("n_punct").cast("double") / F.col("n_chars")).alias("punct_ratio"),
        uniq_ratio.alias("uniq_ratio"),
        F.when((F.col("n_tokens") >= 20) & (uniq_ratio >= 0.3), "keep")
        .otherwise("flag")
        .alias("quality"),
    )


# --- n-gram Jaccard near-dup pairs ------------------------------------------
#: Document-frequency cap for the registered Jaccard query: a shingle shared
#: by m documents costs m² inverted-index join rows, so boilerplate shingles
#: must be dropped before the self-join. 100 bounds any single shingle's
#: contribution at 10⁴ rows while touching almost no discriminative shingles.
D06_MAX_DF = 100


def _sql_jac_pairs() -> str:
    """d06's exact verifier: 3-word shingles, their hashes, the
    ``D06_MAX_DF`` cap and ``pr`` (``_sql_pairs`` over the capped rows)
    — ``jaccard_pairs(max_df=D06_MAX_DF)`` before its threshold."""
    return f"""{_SHINGLE_CTES},
    {_sql_hashed("sh")},
    {_sql_df_cap("", "TRUE", D06_MAX_DF)},
    {_sql_pairs("pr", "st")}"""


@session_memo
def _jac05_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs at threshold 0.5, df cap 100."""
    docs = tbl(spark, sf_dir, "documents")
    return jaccard_pairs(docs, threshold=0.5, max_df=D06_MAX_DF)


@session_memo
def _neardup_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, component) labeling of the Jaccard≥0.5 pair graph."""
    pairs = _jac05_pairs(spark, sf_dir)
    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    return connected_components_alternating(graph_of(edges))


@session_memo
def _c_pipeline_stages(spark: SparkSession, sf_dir: str):
    """The c01/c03/c06 shared pipeline stages as id-frames (single
    ``doc_id`` column) for each stage boundary: ``gated`` (past the
    quality gate), ``exact`` (exact-dedup survivors), ``cleaned``
    (near-dup removal at 0.8), ``contam`` (train-side docs failing d15
    decontamination at 0.5). The LSH+verify near-dup kernel and the
    shingle-based contamination join are the pipeline's dominant costs.
    """
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE corpus-wide tokenize->shingle pass feeds the near-dup stage
    # and decontamination (the dominant linear cost at scale)
    all_sh = shingle_rows(docs, out_id="id").cache()
    gated = quality_gate(docs, min_tokens=20)
    exact = exact_dedup(gated).cache()
    cleaned = drop_near_duplicates(exact, jaccard_threshold=0.8, shingles=all_sh)
    train = cleaned.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    contam = (
        contamination_stats(train, ev, shingles=all_sh)
        .filter(F.col("contamination") >= 0.5)
        .select("doc_id")
    )
    yield {
        "gated": gated.select("doc_id"),
        "exact": exact.select("doc_id"),
        "cleaned": cleaned.select("doc_id"),
        "contam": contam,
    }
    exact.unpersist()
    all_sh.unpersist()


def _minhash_sigs8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-hash MinHash signature table over the corpus's distinct
    3-shingles for d07/d23/d34. One row per doc with >=1 shingle,
    columns mh0..mh7. Built per call: a session memo did not pay here
    (A/B in CHANGES.md)."""
    sh = shingle_rows(tbl(spark, sf_dir, "documents"), out_id="doc_id")
    sigs = minhash_signatures_from_shingles(sh, "doc_id", num_hashes=8)
    return sigs.localCheckpoint()


@query(
    "d06_jaccard_neardup_pairs",
    oracle=f"""
    WITH {_sql_jac_pairs()}
    SELECT doc_a, doc_b, jaccard FROM pr WHERE jaccard >= 0.5
    """,
    doc="Exact 3-gram Jaccard ≥0.5 via inverted-index self-join "
    "(dedup/ngram.py); only shingle-sharing pairs materialize. The "
    "max_df cap (mirrored in the oracle) is what bounds the join at "
    "scale: Jaccard is then over the sub-universe of sub-boilerplate "
    "shingles on BOTH engines.",
)
def d06_jaccard_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jac05_pairs(spark, sf_dir)


# --- MinHash LSH candidates -------------------------------------------------
#: Band-bucket size cap for the registered LSH query: a bucket of m docs
#: yields m² candidate rows; boilerplate corpora concentrate mass in a few
#: buckets. Mirrored in the oracle so both engines drop the same buckets.
D07_MAX_BUCKET = 100

def _minhash_oracle(max_bucket: int) -> str:
    return f"""
    WITH {_SHINGLE_CTES},
    {_sql_signatures(src="sh", n_hashes=8)},
    {_sql_plain_cands("cand", max_bucket)}
    SELECT doc_a, doc_b FROM cand
    """


@query(
    "d07_minhash_lsh_candidates",
    oracle=_minhash_oracle(D07_MAX_BUCKET),
    doc="MinHash(8)+LSH(4 bands) candidate pairs (dedup/minhash.py): only "
    "(doc_id, band, key) rows shuffle; candidates ∝ true near-dups. "
    "max_bucket (mirrored in the oracle) drops degenerate hot buckets "
    "before the self-join — the 100 TB skew guard.",
)
def d07_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lsh_candidate_pairs_from_signatures(
        _minhash_sigs8(spark, sf_dir),
        num_hashes=8,
        bands=4,
        max_bucket=D07_MAX_BUCKET,
    )


# --- SimHash signatures -----------------------------------------------------
def _simhash_sig_ctes(bits: int = 16) -> str:
    """Shared CTE chain ending in ``s(doc_id, simhash)``. Bits ≥32 vote
    from the salted second hash, mirroring dedup/simhash.py."""

    def digit(j: int) -> str:
        if j < 32:
            return f"ascii(substr(md5(tok), {j + 1}, 1))"
        return f"ascii(substr(md5('b_' || tok), {j - 31}, 1))"

    votes = ",\n           ".join(
        f"SUM(CASE WHEN {digit(j)} % 2 = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    sig = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits))
    return f"""{_sql_tk()},
    ex AS (SELECT doc_id, unnest(list_distinct(t)) AS tok FROM tk),
    v AS (SELECT doc_id,
           {votes}
           FROM ex GROUP BY doc_id),
    s AS (SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM v)"""


def _simhash_oracle(bits: int = 16) -> str:
    return f"""
    WITH {_simhash_sig_ctes(bits)}
    SELECT doc_id, simhash FROM s
    """


@query(
    "d08_simhash_signatures",
    oracle=_simhash_oracle(),
    doc="16-bit SimHash per doc (dedup/simhash.py): near-dups differ in "
    "few bits; compare with bit_count(xor).",
)
def d08_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return simhash_signatures(docs, bits=16)


# --- SimHash near-dup pairs (banded Hamming search) -------------------------
#: Slice-bucket cap for d11, same rationale as D07_MAX_BUCKET: a bucket of
#: m docs costs m² candidate rows; skewed token distributions concentrate
#: signatures. Mirrored in the oracle.
D11_MAX_BUCKET = 100


def _simhash_pairs_oracle(
    max_bucket: int, bits: int = 48, bands: int = 4, max_hamming: int = 3
) -> str:
    width = bits // bands
    mask = (1 << width) - 1
    band_rows = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, {b} AS band, (simhash >> {b * width}) & {mask} "
        "AS val FROM s"
        for b in range(bands)
    )
    return f"""
    WITH {_simhash_sig_ctes(bits)},
    banded AS (
{band_rows}),
    {_sql_capped("bf", "banded", max_bucket, "band, val")},
    {_sql_self_pairs("cand", "bf", "band, val")}
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INTEGER) AS hamming
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
    """


@query(
    "d11_simhash_neardup_pairs",
    oracle=_simhash_pairs_oracle(D11_MAX_BUCKET),
    doc="SimHash near-dup pairs (dedup/simhash.py): 48-bit signatures, 4 "
    "banded 12-bit slices for candidates (pigeonhole: exact recall at "
    "hamming<=3), full Hamming verify. Only (id, band, slice) rows "
    "shuffle; max_bucket (mirrored in the oracle) guards hot buckets. "
    "Slice width is the scale dial: 2^(bits/bands) buckets per band, so "
    "bucket population — the quadratic candidate-join term — shrinks as "
    "signatures widen (measured in SCALING.md).",
)
def d11_simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return simhash_neardup_pairs(
        docs, bits=48, bands=4, max_hamming=3, max_bucket=D11_MAX_BUCKET
    )


# --- corpus vocabulary statistics -------------------------------------------
@query(
    "d09_vocabulary_top_terms",
    oracle=f"""
    WITH {_SQL_TERMS}
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS tf_total,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
    FROM ex GROUP BY term
    ORDER BY tf_total DESC, term LIMIT 100
    """,
    doc="Corpus vocabulary: total term frequency + document frequency, "
    "top-100 — the tokenizer-building / df-filtering primitive. Integer "
    "outputs: no float drift possible.",
)
def d09_vocabulary_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _terms(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf_total"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf_total").desc(), F.col("term"))
        .limit(100)
    )


# --- the full corpus-cleaning pipeline, oracle-checked ----------------------
def _clean_corpus_ctes(min_tokens: int = 20, jaccard: float = 0.8) -> str:
    """The c01 clean chain as a reusable CTE body: ``tk0`` (every doc's
    tokens), ``q`` (past the quality gate), ``kept1`` (exact-dedup
    survivors), MinHash candidates verified by exact Jaccard and
    ``clean`` (the near-dup survivors). c03 and c06 read the stages."""
    return f"""
    {_sql_tk("doc_id, text", out="tk0")},
    q AS (SELECT * FROM tk0
          WHERE len(t) >= {min_tokens}
            AND len(list_distinct(t)) * 10 >= 3 * len(t)),
    surv AS (SELECT MIN(doc_id) AS doc_id
             FROM q GROUP BY md5(lower(trim(text)))),
    kept1 AS (SELECT q.* FROM q JOIN surv USING (doc_id)),
    {_sql_ngrams("sh", 3, "kept1")},
    {_sql_signatures(src="sh", n_hashes=8)},
    {_sql_plain_cands("cand")},
    {_sql_hashed("sh")},
    {_sql_pairs("pr", "shh", "cand")},
    clean AS (SELECT doc_id FROM kept1 WHERE doc_id NOT IN (
          SELECT doc_b FROM pr WHERE jaccard >= {jaccard}))"""


@query(
    "c01_clean_corpus",
    oracle=f"WITH {_clean_corpus_ctes()} SELECT doc_id FROM clean",
    doc="The full training-corpus cleaning pipeline (pipelines/corpus.py): "
    "quality gate -> exact dedup -> LSH-candidate near-dup removal with "
    "exact Jaccard verification. Output: surviving doc ids.",
)
def c01_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _c_pipeline_stages(spark, sf_dir)["cleaned"]


# --- text normalization / scrubbing -----------------------------------------
@query(
    "d10_scrubbed_text",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[0-9]+', '<num>', 'g'),
                 '\\s+', ' ', 'g'))) AS scrubbed_hash,
           CAST(length(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'))
                AS INTEGER) AS scrubbed_len
    FROM documents
    """,
    doc="Text normalization pass (digit masking + whitespace collapse) — "
    "the scrub step before hashing/dedup in a cleaning pipeline; hashed "
    "output keeps the oracle compact.",
)
def d10_scrubbed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    masked = F.regexp_replace(F.lower("text"), "[0-9]+", "<num>")
    collapsed = F.trim(F.regexp_replace(masked, r"\s+", " "))
    return docs.select(
        "doc_id",
        F.md5(collapsed).alias("scrubbed_hash"),
        F.length(masked).cast("int").alias("scrubbed_len"),
    )


# --- BPE-ish subword token estimate -----------------------------------------
#: Subword segmentation regex (BPE-pretokenizer-shaped): letter runs,
#: single digits, single punctuation marks. Plain character classes only —
#: identical semantics under Java regex (Spark) and RE2 (DuckDB).
_SUBWORD_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


@query(
    "d12_token_estimate",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_SUBWORD_RE}'))
                AS INTEGER) AS n_subwords,
           CAST(ceil(length(text) / 4.0) AS INTEGER) AS n_bytes_over_4
    FROM documents
    """,
    doc="LLM token-count estimation per document: a BPE-pretokenizer-shaped "
    "regex segmentation (letter runs / digits / punctuation) plus the "
    "bytes/4 rule of thumb — the cost-estimation primitive for training "
    "pipelines. Pure codegen expressions, no UDFs.",
)
def d12_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_SUBWORD_RE), 0))
        .alias("n_subwords"),
        F.ceil(F.length("text") / 4.0).cast("int").alias("n_bytes_over_4"),
    )


# --- sequence packing (pretraining concat-and-chunk layout) -----------------
#: Training context length for the packing layout.
D13_CHUNK = 2048

#: ``c``: each document's n_tokens and its token offset ``tok_offset`` in
#: its source's concatenated stream (doc_id order). DuckDB SUM(BIGINT)
#: yields HUGEINT, which Arrow fetches as decimal128 — cast back so the
#: value hash sees int64 like Spark's bigint.
_SQL_PACKED = f"""tk AS (SELECT doc_id, source, CAST(len({_TOKS}) AS BIGINT) AS n_tokens
                FROM documents),
    c AS (SELECT doc_id, source, n_tokens,
                 CAST(COALESCE(SUM(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS tok_offset
          FROM tk)"""


def _packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_tokens, tok_offset) — ``_SQL_PACKED``."""
    docs = tbl(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return base.withColumn(
        "tok_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    )


@query(
    "d13_sequence_packing",
    oracle=f"""
    WITH {_SQL_PACKED}
    SELECT doc_id, source, n_tokens, tok_offset,
           CAST(tok_offset // {D13_CHUNK} AS BIGINT) AS first_chunk,
           CAST((tok_offset + greatest(n_tokens, 1) - 1) // {D13_CHUNK}
                AS BIGINT) AS last_chunk
    FROM c
    """,
    doc="Sequence packing: the pretraining concat-and-chunk layout — each "
    "document's token offset in its source's concatenated stream and the "
    "2048-token chunks it spans. Partitioned window (per source, ordered "
    "by doc_id): integer-exact on both engines, and no global window — "
    "sources pack independently, the 100 TB-safe shape.",
)
def d13_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _packed(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        # integer div, not floor(double /): bit-identical to the oracle's
        # BIGINT // by construction, no IEEE detour at any magnitude
        F.expr(f"tok_offset div {D13_CHUNK}").alias("first_chunk"),
        F.expr(
            f"(tok_offset + greatest(n_tokens, 1L) - 1L) div {D13_CHUNK}"
        ).alias("last_chunk"),
    )


# --- packed-chunk layout (what a training loader actually reads) ------------
@query(
    "d17_chunk_layout",
    oracle=f"""
    WITH {_SQL_PACKED},
    s AS (SELECT doc_id, source, n_tokens, tok_offset,
                 unnest(generate_series(
                     tok_offset // {D13_CHUNK},
                     (tok_offset + greatest(n_tokens, 1) - 1) // {D13_CHUNK}))
                   AS chunk_id
          FROM c),
    sl AS (SELECT source, CAST(chunk_id AS BIGINT) AS chunk_id, doc_id,
                  tok_offset,
                  greatest(tok_offset, chunk_id * {D13_CHUNK}) - tok_offset
                    AS slice_start,
                  least(tok_offset + n_tokens, (chunk_id + 1) * {D13_CHUNK})
                    - greatest(tok_offset, chunk_id * {D13_CHUNK}) AS slice_len
           FROM s)
    SELECT source, chunk_id,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY source, chunk_id
               ORDER BY tok_offset, doc_id) AS BIGINT) AS slice_pos,
           doc_id,
           CAST(slice_start AS BIGINT) AS slice_start,
           CAST(slice_len AS BIGINT) AS slice_len
    FROM sl WHERE slice_len > 0
    """,
    doc="Packed-chunk layout — the consumer side of d13's packing: for "
    "every 2048-token training chunk, the ordered document slices that "
    "fill it (doc_id, in-document slice start, slice length). This is "
    "the manifest a sequence-packed dataloader reads. Same "
    "per-source window as d13 (no global shuffle barrier), chunk "
    "membership expanded with sequence+explode — pure integer "
    "arithmetic (div, not double floor) on both engines.",
)
def d17_chunk_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _packed(spark, sf_dir).select(
        "doc_id",
        "source",
        "n_tokens",
        "tok_offset",
        F.explode(
            F.sequence(
                F.expr(f"tok_offset div {D13_CHUNK}"),
                F.expr(f"(tok_offset + greatest(n_tokens, 1L) - 1L) div {D13_CHUNK}"),
            )
        ).alias("chunk_id"),
    )
    start_glob = F.greatest(F.col("tok_offset"), F.col("chunk_id") * D13_CHUNK)
    end_glob = F.least(
        F.col("tok_offset") + F.col("n_tokens"), (F.col("chunk_id") + 1) * D13_CHUNK
    )
    sl = s.select(
        "source",
        "chunk_id",
        "doc_id",
        "tok_offset",
        (start_glob - F.col("tok_offset")).alias("slice_start"),
        (end_glob - start_glob).alias("slice_len"),
    ).filter(F.col("slice_len") > 0)
    wp = Window.partitionBy("source", "chunk_id").orderBy("tok_offset", "doc_id")
    return sl.select(
        "source",
        "chunk_id",
        F.row_number().over(wp).cast("bigint").alias("slice_pos"),
        "doc_id",
        "slice_start",
        "slice_len",
    )


# --- deterministic stratified sampling (data-mix) ---------------------------
#: Per-source keep rates for the registered mix query; unlisted sources get
#: the default. Resolved to 1/10000ths on both engines.
D14_RATES = {"src0": 1.0, "src1": 0.75, "src2": 0.5, "src3": 0.25, "src4": 0.0}
D14_DEFAULT = 0.6


def _d14_case() -> str:
    whens = " ".join(
        f"WHEN '{k}' THEN {int(round(v * 10000))}" for k, v in sorted(D14_RATES.items())
    )
    return f"CASE source {whens} ELSE {int(round(D14_DEFAULT * 10000))} END"


@query(
    "d14_stratified_sample",
    oracle=f"""
    SELECT doc_id, source, bucket FROM (
      SELECT doc_id, source,
             {_sql_bucket("CAST(doc_id AS VARCHAR) || 'mix-v1'", 10000)} AS bucket
      FROM documents) b
    WHERE bucket < {_d14_case()}
    """,
    doc="Deterministic stratified sampling (pipelines/sampling.py): the "
    "training data-mix step. Membership = md5(doc_id||salt) bucket under "
    "the source's keep-rate — reproducible across engines and partition "
    "layouts, unlike RNG-based sample(). Pure map-side filter: no "
    "shuffle at any scale.",
)
def d14_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return stratified_sample(docs, D14_RATES, D14_DEFAULT).select(
        "doc_id", "source", "bucket"
    )


# --- benchmark decontamination ----------------------------------------------
@query(
    "d15_decontamination",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    {_sql_contamination("contam", "sh")}
    SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared,
           CAST(n_shingles AS BIGINT) AS n_shingles, contamination
    FROM contam
    """,
    doc="Benchmark decontamination (dedup/decontaminate.py): train docs "
    "(doc_id%20!=0) sharing 3-word shingles with the eval split "
    "(doc_id%20=0), with shared/total ratio. Linear — the eval side is "
    "DISTINCT before the join, so output <= |train shingles|; the d06 "
    "self-join blowup cannot occur and no df cap is needed.",
)
def d15_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 20 != 0)
    ev = docs.filter(F.col("doc_id") % 20 == 0)
    return contamination_stats(train, ev)


# --- near-dup clustering + canonical selection ------------------------------
def _cc_cluster_ctes(rounds: int = 10) -> str:
    """Shared CTE chain for the Jaccard>=0.5 near-dup component oracle:
    d06's exact pairs (``_sql_jac_pairs``, same df cap) -> ``pairs`` ->
    unrolled min-label propagation with pointer doubling
    (``sql_cc_labels``; ``rounds``=10 covers radius 2047, far past any
    near-dup chain) -> per-cluster sizes. Used by c02 (min-id
    canonical), c04 (quality-argmax survivor) and d62 (cohesion)."""
    return f"""{_sql_jac_pairs()},
    pairs AS MATERIALIZED (SELECT doc_a, doc_b, jaccard FROM pr
          WHERE jaccard >= 0.5),
    und AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs),
    {sql_cc_labels("und", "SELECT DISTINCT src AS id, src AS label FROM und", rounds)},
    sizes AS (SELECT label, count(*) AS cluster_size FROM l{rounds} GROUP BY label)"""


def _c02_oracle(rounds: int = 10) -> str:
    """Component labels + min-id canonical flag (see _cc_cluster_ctes)."""
    return f"""
    WITH {_cc_cluster_ctes(rounds)}
    SELECT l.id AS doc_id, CAST(l.label AS BIGINT) AS cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(l.id = l.label AS INTEGER) AS is_canonical
    FROM l{rounds} l JOIN sizes s ON l.label = s.label
    """


@query(
    "c02_neardup_clusters",
    oracle=_c02_oracle(),
    doc="Near-dup clustering with canonical selection: Jaccard>=0.5 pairs "
    "(d06 semantics, same df cap) as an undirected graph, connected "
    "components via alternating star contraction (graph/pregel.py), "
    "cluster = min doc_id, per-cluster size, is_canonical survivor flag. "
    "Pairwise dedup alone cannot pick survivors when A~B~C but A!~C; "
    "the component closure is the correct keep/drop unit. The 0.5 "
    "threshold here is deliberately LOOSER than c03's 0.8 removal "
    "threshold: clustering is exploratory (surface every related "
    "group for audit), while the cleaning pipeline only drops "
    "near-certain duplicates.",
)
def c02_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    cc = _neardup_cc(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("id").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("id") == F.col("component")).cast("int").alias("is_canonical"),
    )


# --- repetition quality filters ---------------------------------------------
@query(
    "d16_repetition_filters",
    oracle=f"""
    WITH {_sql_tk()},
    base AS (SELECT doc_id, t, len(t) AS n FROM tk WHERE len(t) >= 2),
    uni AS (SELECT doc_id, n, unnest(t) AS tok FROM base),
    cu AS (SELECT doc_id, n, max(c) AS cu FROM
             (SELECT doc_id, n, tok, count(*) AS c FROM uni GROUP BY 1, 2, 3)
           GROUP BY 1, 2),
    bgr AS (SELECT doc_id, t[i] || ' ' || t[i+1] AS bg FROM
              (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base)),
    cb AS (SELECT doc_id, max(c) AS cb FROM
             (SELECT doc_id, bg, count(*) AS c FROM bgr GROUP BY 1, 2)
           GROUP BY 1)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(cu AS DOUBLE) / CAST(n AS DOUBLE) AS top_tok_frac,
           CAST(cb AS DOUBLE) / CAST(n - 1 AS DOUBLE) AS top_bigram_frac
    FROM cu JOIN cb USING (doc_id)
    """,
    doc="Repetition quality filters in the Gopher (Rae et al. 2021, arXiv "
    "2112.11446, public) style: per-doc mass fraction of the most "
    "frequent token and bigram — the standard screens for degenerate "
    "repetitive text. explode -> per-(doc,term) count -> per-doc max: "
    "every shuffle is keyed by doc_id(+term), linear at any corpus size; "
    "no HOF gets a non-cheap subject (tokens projected to an attribute "
    "first).",
)
def d16_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    base = (
        fan_out(docs)
        .select("doc_id", tokens("text").alias("__toks"))
        .filter(F.size("__toks") >= 2)
    )
    uni = base.select(
        "doc_id", F.size("__toks").alias("n_tokens"), F.explode("__toks").alias("tok")
    )
    cu = (
        uni.groupBy("doc_id", "n_tokens", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "n_tokens")
        .agg(F.max("c").alias("cu"))
    )
    bgr = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(__toks, 1, size(__toks) - 1),"
                "         slice(__toks, 2, size(__toks) - 1),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    )
    cb = (
        bgr.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("cb"))
    )
    return cu.join(cb, "doc_id").select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        (F.col("cu").cast("double") / F.col("n_tokens").cast("double")).alias(
            "top_tok_frac"
        ),
        (F.col("cb").cast("double") / (F.col("n_tokens") - 1).cast("double")).alias(
            "top_bigram_frac"
        ),
    )


# --- corpus-mix rollup report ------------------------------------------------
@query(
    "d18_mix_rollup_report",
    oracle=f"""
    SELECT source, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(len({_TOKS})) AS BIGINT) AS total_tokens,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid
    FROM documents GROUP BY ROLLUP (source, lang)
    """,
    doc="Corpus-composition rollup: doc/char/token totals per "
    "(source, lang), per source, and grand total in ONE multi-level "
    "aggregate (GROUP BY ROLLUP + grouping_id disambiguating real NULL "
    "keys from rolled-up levels). The report that sizes a training "
    "data mix. Rollup is a single shuffle producing every level via "
    "partial aggregation — vs three separate groupBys re-scanning "
    "100 TB three times. Totals CAST to BIGINT on the oracle side "
    "because DuckDB widens SUM(BIGINT) to HUGEINT (Arrow decimal128).",
)
def d18_mix_rollup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.rollup("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.size(tokens("text")).cast("bigint")).alias("total_tokens"),
        F.grouping_id().cast("bigint").alias("gid"),
    )


# --- incremental ingestion dedup ---------------------------------------------
def _incremental_minhash_oracle(batch: str, max_bucket: int) -> str:
    return f"""
    WITH {_SHINGLE_CTES},
    {_sql_signatures(src="sh", n_hashes=8)},
    {_sql_batch_matches("near", batch, max_bucket)}
    SELECT new_id, corpus_id FROM near
    """


@query(
    "d19_incremental_ingest_dedup",
    oracle=_incremental_minhash_oracle("doc_id % 10 = 0", D07_MAX_BUCKET),
    doc="Incremental ingestion dedup (dedup/minhash.py "
    "incremental_lsh_matches): the incoming batch (doc_id%10==0 here) "
    "checked for near-duplicates against the standing corpus via the "
    "MinHash band index — a broadcast join of the small batch's band "
    "keys against the big corpus index, NOT a corpus self-join. The "
    "daily-ingest shape at 100 TB: the corpus band table is precomputed "
    "append-only; each batch costs one broadcast hash join. Same "
    "hot-bucket cap as d07, mirrored in the oracle.",
)
def d19_incremental_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_lsh_matches(
        corpus, incoming, max_bucket=D07_MAX_BUCKET
    )


# --- per-document TF-IDF top terms -------------------------------------------
@query(
    "d20_tfidf_top_terms",
    oracle=f"""
    WITH {_SQL_TERMS},
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM ex GROUP BY doc_id, term),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM ex GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, term) AS rnk
      FROM scored)
    SELECT doc_id, term, score, CAST(rnk AS INTEGER) AS rnk
    FROM ranked WHERE rnk <= 3
    """,
    doc="Per-document top-3 keywords by raw-ratio TF-IDF "
    "(score = tf * N / df — exact integer ratio through ONE double "
    "division, so both engines produce bit-identical doubles; no "
    "log() whose libm ulp could diverge). Scale shape: tf is one "
    "shuffle keyed (doc, term) with map-side partial counts, df one "
    "shuffle keyed term, the corpus size a broadcast single-row agg, "
    "and the final top-3 a per-doc window — no driver loops, nothing "
    "quadratic, vocabulary never collected.",
)
def d20_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    ex = docs.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "score", "rnk")
    )


# --- overlapping chunk manifest ----------------------------------------------
#: Chunk geometry: window of 64 tokens advancing by 32 (50% overlap).
_CHUNK_WS = 64
_CHUNK_ST = 32


@query(
    "d21_chunk_overlap",
    oracle=f"""
    WITH {_sql_tk()},
    sized AS (SELECT doc_id, t, len(t) AS n_tok FROM tk WHERE len(t) > 0),
    counted AS (
      SELECT doc_id, t, n_tok,
             1 + GREATEST(0, CAST(CEIL(CAST(n_tok - {_CHUNK_WS} AS DOUBLE)
                                       / {_CHUNK_ST}) AS BIGINT)) AS n_chunks
      FROM sized),
    ex AS (SELECT doc_id, t, n_tok,
                  unnest(range(0, n_chunks)) AS chunk_idx
           FROM counted)
    SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
           CAST(chunk_idx * {_CHUNK_ST} AS BIGINT) AS tok_start,
           CAST(LEAST(chunk_idx * {_CHUNK_ST} + {_CHUNK_WS}, n_tok)
                AS BIGINT) AS tok_end,
           array_to_string(
             t[chunk_idx * {_CHUNK_ST} + 1 :
               LEAST(chunk_idx * {_CHUNK_ST} + {_CHUNK_WS}, n_tok)],
             ' ') AS chunk_text
    FROM ex
    """,
    doc="Overlapping sliding-window chunking (64-token windows, stride "
    "32): the context-window prep step between cleaning and sequence "
    "packing (d13). Emits the chunk manifest AND the materialized chunk "
    "text via array slice — integer-only geometry, so engines agree "
    "exactly. Pure map-side: tokenize → sequence() → explode → slice, "
    "zero shuffles at any scale; output rows ≈ 2× token volume / 64.",
)
def d21_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    ws, st = _CHUNK_WS, _CHUNK_ST
    sized = docs.select(
        "doc_id", tokens("text").alias("t")
    ).withColumn("n_tok", F.size("t")).filter(F.col("n_tok") > 0)
    counted = sized.withColumn(
        "n_chunks",
        F.lit(1)
        + F.greatest(
            F.lit(0),
            F.ceil((F.col("n_tok") - ws).cast("double") / st).cast("bigint"),
        ),
    )
    ex = counted.select(
        "doc_id",
        "t",
        "n_tok",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias(
            "chunk_idx"
        ),
    )
    start = F.col("chunk_idx").cast("bigint") * st
    end = F.least(start + ws, F.col("n_tok").cast("bigint"))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        start.alias("tok_start"),
        end.alias("tok_end"),
        F.array_join(
            F.slice(F.col("t"), (start + 1).cast("int"), (end - start).cast("int")),
            " ",
        ).alias("chunk_text"),
    )


# --- PII surface counts ------------------------------------------------------
#: Portable regexes — identical leftmost non-overlapping match semantics in
#: Java regex (Spark) and RE2 (DuckDB): no backrefs, no lookaround.
_RE_EMAIL = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_RE_DIGIT_RUN = "[0-9]{3,}"
_RE_LONG_DIGITS = "[0-9]{7,}"


@query(
    "d22_pii_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_RE_EMAIL}'))
                AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_RE_DIGIT_RUN}'))
                AS INTEGER) AS n_digit_runs,
           CAST(len(regexp_extract_all(text, '{_RE_LONG_DIGITS}'))
                AS INTEGER) AS n_long_digit_runs,
           CAST(CASE WHEN len(regexp_extract_all(lower(text), '{_RE_EMAIL}')) > 0
                       OR len(regexp_extract_all(text, '{_RE_LONG_DIGITS}')) > 0
                THEN 1 ELSE 0 END AS INTEGER) AS pii_flag
    FROM documents
    """,
    doc="PII surface detection per document — email addresses and long "
    "digit runs (phone/account-number shaped) counted with regexes "
    "restricted to the Java-regex ∩ RE2 common subset so both engines "
    "match identically. Integer outputs only. The redaction step "
    "itself is d10_scrubbed_text; this is the audit/reporting side. "
    "Pure map-side codegen — regexp_count over a projected column, "
    "no shuffle, trivially 100 TB-parallel.",
)
def d22_pii_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    n_email = F.regexp_count(lower, F.lit(_RE_EMAIL)).cast("int")
    n_long = F.regexp_count(F.col("text"), F.lit(_RE_LONG_DIGITS)).cast("int")
    return docs.select(
        "doc_id",
        n_email.alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(_RE_DIGIT_RUN))
        .cast("int")
        .alias("n_digit_runs"),
        n_long.alias("n_long_digit_runs"),
        F.when((n_email > 0) | (n_long > 0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("pii_flag"),
    )


# --- MinHash estimator quality audit -----------------------------------------
def _minhash_audit_oracle(max_bucket: int, num_hashes: int = 8) -> str:
    agree = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    est = f"CAST(({agree}) AS DOUBLE) / {num_hashes}"
    true = "CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common)"
    return f"""
    WITH {_SHINGLE_CTES},
    {_sql_signatures(src="sh", n_hashes=num_hashes)},
    {_sql_plain_cands("cand", max_bucket)},
    {_sql_hashed("sh")},
    common AS (SELECT c.doc_a, c.doc_b, COUNT(sb.sh) AS n_common
               FROM cand c
               JOIN shh sa ON sa.doc_id = c.doc_a
               LEFT JOIN shh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
               GROUP BY c.doc_a, c.doc_b)
    SELECT c.doc_a, c.doc_b,
           {est} AS est_jaccard,
           {true} AS true_jaccard,
           ABS({est} - {true}) AS abs_err
    FROM common c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
    """


@query(
    "d23_minhash_estimate_audit",
    oracle=_minhash_audit_oracle(D07_MAX_BUCKET),
    doc="Dedup-index quality audit: for every LSH candidate pair (d07's "
    "set), the MinHash-estimated Jaccard (agreeing hashes / 8) "
    "side-by-side with the TRUE shingle Jaccard and the estimator "
    "error — 'measure, don't guess' applied to the dedup index. All "
    "three outputs are exact integer ratios through single double "
    "divisions, so the audit itself is hash-gated. Scale shape: the "
    "true-Jaccard join runs ONLY over candidate pairs (LSH-bounded, "
    "~linear), never all pairs; shingle lists never leave their "
    "(doc, shingle) long form.",
)
def d23_minhash_estimate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    num_hashes = 8
    docs = tbl(spark, sf_dir, "documents")
    sigs = _minhash_sigs8(spark, sf_dir)
    cand = lsh_candidate_pairs_from_signatures(
        sigs, num_hashes=num_hashes, bands=4, max_bucket=D07_MAX_BUCKET
    )
    siga = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(num_hashes)],
    )
    sigb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(num_hashes)],
    )
    agree = reduce(
        lambda x, y: x + y,
        [
            F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ],
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    true_j = nc.cast("double") / (F.col("za") + F.col("zb") - nc)
    est_j = agree.cast("double") / num_hashes
    with _released() as caches:
        sh = _pin(shingle_rows(docs, out_id="doc_id"), caches)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
        # The candidate-rescore intersection joins on md5-prefix 60-bit
        # hash classes, not raw shingle strings (the ngram.py kernel
        # discipline — 8-byte join keys; the oracle hashes identically,
        # so even a collision matches bit-for-bit). Sizes stay raw:
        # hashing is a per-row bijection, row counts are unchanged.
        shingle_class = shingle_hash().alias("sh")
        sa = sh.select(F.col("doc_id").alias("doc_a"), shingle_class)
        sb = sh.select(F.col("doc_id").alias("doc_b"), shingle_class)
        common = (
            cand.join(sa, "doc_a")
            .join(sb, ["doc_b", "sh"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("za"))
        zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("zb"))
        out = (
            cand.join(common, ["doc_a", "doc_b"], "left")
            .join(za, "doc_a")
            .join(zb, "doc_b")
            .join(siga, "doc_a")
            .join(sigb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                est_j.alias("est_jaccard"),
                true_j.alias("true_jaccard"),
                F.abs(est_j - true_j).alias("abs_err"),
            )
        )
        return _materialize("d23_minhash_estimate_audit", out)


# --- composite quality gate with per-rule audit ------------------------------
_SQL_FAILS = " || ".join(
    f"CASE WHEN {fails} THEN '{name},' ELSE '' END" for name, fails in _SQL_RULES
)


@query(
    "d24_quality_gate_audit",
    oracle=f"""
    WITH {_sql_rule_feats("doc_id")},
    f AS (SELECT doc_id, {_SQL_FAILS} AS fails FROM tk)
    SELECT doc_id,
           CAST(CASE WHEN fails = '' THEN 1 ELSE 0 END AS INTEGER) AS passed,
           rtrim(fails, ',') AS failed_rules
    FROM f
    """,
    doc="Composite pre-training quality gate with per-rule audit: four "
    "named rules (token floor, lexical diversity, punctuation density, "
    "digit noise) evaluated with INTEGER cross-multiplication (n*10 < "
    "3*m, never a float ratio), emitting pass/fail plus the exact list "
    "of failed rules — the explainable filter step a data-governance "
    "review needs, vs d05's opaque keep/flag. Pure map-side codegen.",
)
def d24_quality_gate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _rule_feats(tbl(spark, sf_dir, "documents"), "doc_id")
    fails = F.concat(
        *[F.when(c, F.lit(f"{name},")).otherwise(F.lit("")) for name, c in _rules()]
    )
    return t.select(
        "doc_id",
        F.when(fails == "", 1).otherwise(0).cast("int").alias("passed"),
        F.rtrim(F.regexp_replace(fails, ",$", "")).alias("failed_rules"),
    )


# --- OOV rate against the corpus vocabulary ----------------------------------
@query(
    "d25_oov_rate",
    oracle=f"""
    WITH {_SQL_TERMS},
    {_sql_vocab(1000)},
    per_doc AS (
      SELECT ex.doc_id,
             COUNT(*) AS n_tokens,
             SUM(CASE WHEN vocab.term IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM ex LEFT JOIN vocab USING (term)
      GROUP BY ex.doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
    FROM per_doc
    """,
    doc="Out-of-vocabulary rate per document against the corpus top-1000 "
    "vocabulary (rank cut with (tf, term) tiebreak -> deterministic "
    "vocab) — the tokenizer-fit / domain-shift signal a vocab-based "
    "filter keys on. Exact integers + one double division. Scale "
    "shape: the vocabulary is tiny and broadcasts into the membership "
    "join; token rows shuffle once for the per-doc aggregate.",
)
def d25_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _terms(spark, sf_dir)
    vocab = _top_terms(ex, 1000).select("term", F.lit(1).alias("__in_vocab"))
    per_doc = (
        ex.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_oov").cast("bigint").alias("n_oov"),
        (F.col("n_oov").cast("double") / F.col("n_tokens")).alias("oov_rate"),
    )


# --- deterministic shard manifest --------------------------------------------
_N_SHARDS = 16


@query(
    "d26_shard_manifest",
    oracle=f"""
    WITH sharded AS (
      SELECT {_sql_shard("doc_id", _N_SHARDS)} AS shard,
             doc_id,
             len({_TOKS}) AS n_tok
      FROM documents)
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id
    FROM sharded GROUP BY shard
    """,
    doc="Deterministic shard manifest: every document routed to one of "
    f"{_N_SHARDS} shards by the engine-portable md5 bucket "
    "(pipelines/sampling.portable_bucket — NOT Spark murmur3 hash(), "
    "which no other engine reproduces), with per-shard doc/token "
    "totals — the split a distributed training loader consumes, and "
    "the balance report that validates it. Routing is content-free "
    "and key-stable: re-running on a grown corpus never moves an "
    "existing doc between shards.",
)
def d26_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    sharded = docs.select(
        (portable_bucket(F.col("doc_id"), "shard-v1", _N_SHARDS))
        .cast("int")
        .alias("shard"),
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
    )
    return sharded.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --- within-corpus duplicated-shingle fraction -------------------------------
@query(
    "d27_dup_shingle_fraction",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    dfreq AS (SELECT sh, COUNT(*) AS df FROM sh GROUP BY sh),
    pd AS (SELECT s.doc_id, COUNT(*) AS n_shingles,
                  SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS n_dup
           FROM sh s JOIN dfreq USING (sh) GROUP BY s.doc_id)
    SELECT doc_id,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_dup AS BIGINT) AS n_dup,
           CAST(n_dup AS DOUBLE) / n_shingles AS dup_fraction
    FROM pd
    """,
    doc="Per-document duplicated-shingle fraction: the share of a doc's "
    "distinct 3-word shingles that appear in at least one other "
    "document — the RefinedWeb/CCNet-style internal-duplication signal "
    "a span-level dedup pass keys on (complements d06's pair view and "
    "d15's eval-leakage view). Scale shape: shingle doc-frequency is "
    "one (sh)-keyed aggregate, joined back shingle-keyed, then one "
    "(doc)-keyed aggregate — all shuffles carry (id, shingle) rows, "
    "never document bytes; nothing quadratic (no pair join).",
)
def d27_dup_shingle_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    with _released() as caches:
        sh = _pin(shingle_rows(docs, out_id="doc_id"), caches)
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
        out = (
            sh.join(dfreq, "sh")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_shingles"),
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
                .cast("bigint")
                .alias("n_dup"),
            )
            .select(
                "doc_id",
                "n_shingles",
                "n_dup",
                (F.col("n_dup").cast("double") / F.col("n_shingles")).alias(
                    "dup_fraction"
                ),
            )
        )
        return _materialize("d27_dup_shingle_fraction", out)


# --- cross-source overlap matrix ---------------------------------------------
@query(
    "d28_source_overlap",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    ssh AS MATERIALIZED (
      SELECT DISTINCT d.source, {_sql_h60("s.sh")} AS sh
      FROM sh s JOIN documents d USING (doc_id)),
    sz AS (SELECT source, COUNT(*) AS n_types FROM ssh GROUP BY source),
    ov AS (SELECT a.source AS source_a, b.source AS source_b,
                  COUNT(*) AS n_shared
           FROM ssh a JOIN ssh b ON a.sh = b.sh AND a.source <> b.source
           GROUP BY 1, 2)
    SELECT source_a, source_b,
           CAST(n_shared AS BIGINT) AS n_shared,
           CAST(sz.n_types AS BIGINT) AS n_types_a,
           CAST(n_shared AS DOUBLE) / sz.n_types AS containment
    FROM ov JOIN sz ON sz.source = ov.source_a
    """,
    doc="Inter-dataset duplication audit: for every ordered source pair, "
    "how many distinct 3-word shingle types of A also occur in B, and "
    "the containment fraction |A∩B|/|A| — the overlap matrix consulted "
    "before mixing corpora (asymmetric: a small corpus can be fully "
    "contained in a large one but not vice versa). Scale shape: "
    "shingles collapse to DISTINCT (source, shingle) TYPES first, so "
    "the shingle-keyed self-join fans out at most |sources| ways per "
    "shingle type — bounded by a constant, never by corpus size.",
)
def d28_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    # Tokenize into an attribute first (the shingle_rows codegen lesson).
    base = fan_out(docs).select("source", tokens("text").alias("__toks"))
    # Hash shingles to portable 60-bit ints before the distinct and the
    # type self-join shuffle (the ngram-kernel discipline; the oracle
    # hashes identically, so type counts match even under a collision).
    types = (
        base.select("source", F.explode(word_shingles(F.col("__toks"))).alias("sh"))
        .select("source", shingle_hash().alias("sh"))
        .distinct()
    )
    with _released() as caches:
        ssh = _pin(types, caches)
        sz = ssh.groupBy("source").agg(F.count(F.lit(1)).alias("n_types"))
        b = ssh.select(F.col("source").alias("source_b"), "sh")
        ov = (
            ssh.alias("a")
            .join(b, "sh")
            .filter(F.col("source") != F.col("source_b"))
            .groupBy(F.col("source").alias("source_a"), "source_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
        )
        out = ov.join(
            F.broadcast(sz.withColumnRenamed("source", "source_a")), "source_a"
        ).select(
            "source_a",
            "source_b",
            "n_shared",
            F.col("n_types").alias("n_types_a"),
            (F.col("n_shared").cast("double") / F.col("n_types")).alias(
                "containment"
            ),
        )
        return _materialize("d28_source_overlap", out)


# --- exact-quota deterministic stratified sample -----------------------------
#: Per-(lang, source) quota for the registered query — below the largest
#: sf0.01 stratum (16 docs) so the rank cut is actually exercised at the
#: driver's verification scale, not just at bench scale.
D29_QUOTA = 8

@query(
    "d29_quota_sample",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, source, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang, source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'quota-v1'), doc_id
             ) AS rn
      FROM documents)
    SELECT lang, source, doc_id, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= {D29_QUOTA}
    """,
    doc="Exact-count stratified sample: exactly min(quota, |stratum|) docs "
    "per (lang, source), chosen by rank over the engine-portable md5 "
    "order (salted, key-stable — the d26/d14 routing convention; NOT "
    "Spark murmur3). Complements d14's rate-based sampler: rates give "
    "linear scaling but binomial counts; eval-set construction needs "
    "exact counts. Scale shape: one window shuffle partitioned by the "
    "stratum key — no global sort, no driver collect; skewed strata "
    "are bounded by per-partition top-k semantics under AQE.",
)
def d29_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    order_key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("quota-v1")))
    w = Window.partitionBy("lang", "source").orderBy(order_key, "doc_id")
    return (
        docs.select("lang", "source", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= D29_QUOTA)
    )


# --- vocabulary coverage curve ------------------------------------------------
#: Vocabulary sizes at which corpus-token coverage is reported.
D30_KS = (100, 1000)

def _d30_point(k: int) -> str:
    return f"""
    SELECT CAST({k} AS INTEGER) AS vocab_k,
           (SELECT SUM(tf) FROM (
              SELECT tf FROM tfr ORDER BY tf DESC, term LIMIT {k})) AS covered
    """


@query(
    "d30_vocab_coverage",
    oracle=f"""
    WITH {_SQL_TERMS},
    tfr AS (SELECT term, COUNT(*) AS tf FROM ex GROUP BY term),
    tot AS (SELECT SUM(tf) AS total FROM tfr),
    pts AS ({_d30_point(100)} UNION ALL {_d30_point(1000)})
    SELECT vocab_k, CAST(covered AS BIGINT) AS covered_tokens,
           CAST(tot.total AS BIGINT) AS total_tokens,
           CAST(covered AS DOUBLE) / tot.total AS coverage
    FROM pts CROSS JOIN tot
    """,
    doc="Vocabulary coverage curve: the share of all corpus token "
    "occurrences covered by the top-100 / top-1000 terms (rank cut "
    "with (tf, term) tiebreak, the d25 vocabulary convention) — the "
    "summary a tokenizer-size decision reads. Exact integers + one "
    "double division. Scale shape: one term-keyed aggregate; each "
    "cut is an orderBy+limit (TakeOrderedAndProject, per-partition "
    "top-k + merge) over the term-frequency table, then a 1-row sum.",
)
def d30_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    tfr = _terms(spark, sf_dir).groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tfr.agg(F.sum("tf").cast("bigint").alias("total"))
    pts = None
    for k in D30_KS:
        covered = (
            tfr.orderBy(F.col("tf").desc(), F.col("term"))
            .limit(k)
            .agg(F.sum("tf").cast("bigint").alias("covered"))
            .select(F.lit(k).cast("int").alias("vocab_k"), "covered")
        )
        pts = covered if pts is None else pts.unionAll(covered)
    return pts.crossJoin(F.broadcast(tot)).select(
        "vocab_k",
        F.col("covered").alias("covered_tokens"),
        F.col("total").alias("total_tokens"),
        (F.col("covered").cast("double") / F.col("total")).alias("coverage"),
    )


# --- duplicated-span scrubbing (exact-substring dedup rewrite pass) ----------
#: Span length (tokens) for the scrub pass — matches the d27 shingle width.
D31_SPAN = 3


@query(
    "d31_span_scrub",
    oracle=f"""
    WITH {_sql_tk()},
    idx AS (SELECT doc_id, t, unnest(range(1, len(t)+1)) AS i FROM tk),
    ptok AS (SELECT doc_id, i AS pos, t[i] AS tok FROM idx),
    occ AS (SELECT doc_id, i, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS sh
            FROM idx WHERE i <= len(t) - {D31_SPAN - 1}),
    keeper AS (SELECT sh, MIN(doc_id) AS keep_doc FROM occ GROUP BY sh),
    rem AS (SELECT o.doc_id, o.i FROM occ o JOIN keeper USING (sh)
            WHERE o.doc_id > keep_doc),
    cov AS (SELECT DISTINCT doc_id, i + k AS pos
            FROM rem CROSS JOIN (SELECT unnest(range(0, {D31_SPAN})) AS k)),
    kept AS (SELECT p.doc_id, p.pos, p.tok
             FROM ptok p ANTI JOIN cov USING (doc_id, pos)),
    reb AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS scrubbed_text,
                   COUNT(*) AS n_kept
            FROM kept GROUP BY doc_id)
    SELECT tk.doc_id,
           CAST(len(t) AS INTEGER) AS n_tokens,
           CAST(len(t) - COALESCE(n_kept, 0) AS INTEGER) AS n_removed,
           COALESCE(scrubbed_text, '') AS scrubbed_text
    FROM tk LEFT JOIN reb ON tk.doc_id = reb.doc_id
    """,
    doc="ExactSubstr-style duplicated-span REMOVAL (the rewrite pass that "
    "acts on d27's signal; Lee et al., 'Deduplicating Training Data "
    "Makes Language Models Better'): every 3-token span whose text "
    "appears in an earlier document (min doc_id keeps all its copies) "
    "is deleted, covered tokens dropped, and the document re-serialized "
    "from the surviving tokens in order. Scale shape: positional "
    "shingles shuffle once keyed by span text for the min-owner "
    "aggregate+join; covered positions expand each removed span to "
    "span-length (doc, pos) rows; the rebuild is one doc-keyed "
    "aggregate. Everything is linear in corpus token count — no pair "
    "join — and shuffles carry (id, pos, span) rows, never full "
    "documents, until the final per-doc concat.",
)
def d31_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = D31_SPAN
    docs = tbl(spark, sf_dir, "documents")
    base = fan_out(docs).select("doc_id", tokens("text").alias("toks"))
    # Positional tokens (0-based) and positional spans.
    ptok = base.select(
        "doc_id", F.posexplode("toks").alias("pos", "tok")
    )
    occ = base.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("p"),
    ).filter(F.size("toks") >= k).select(
        "doc_id",
        "p",
        F.array_join(F.slice("toks", F.col("p") + 1, k), " ").alias("sh"),
    )
    keeper = occ.groupBy("sh").agg(F.min("doc_id").alias("keep_doc"))
    rem = occ.join(keeper, "sh").filter(F.col("doc_id") > F.col("keep_doc"))
    cov = rem.select(
        "doc_id", F.explode(F.sequence("p", F.col("p") + (k - 1))).alias("pos")
    ).distinct()
    kept = ptok.join(cov, ["doc_id", "pos"], "left_anti")
    reb = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda x: x["tok"],
            ),
            " ",
        ).alias("scrubbed_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        base.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(reb, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("int")
            .alias("n_removed"),
            F.coalesce("scrubbed_text", F.lit("")).alias("scrubbed_text"),
        )
    )


# --- token-rank fluency proxy (log-free perplexity analog) -------------------
_D32_VOCAB = 1000


@query(
    "d32_token_rank_fluency",
    oracle=f"""
    WITH {_SQL_TERMS},
    {_sql_vocab(_D32_VOCAB)},
    per_doc AS (
      SELECT ex.doc_id,
             COUNT(*) AS n_tokens,
             SUM(COALESCE(rnk, {_D32_VOCAB + 1})) AS sum_rank
      FROM ex LEFT JOIN vocab USING (term)
      GROUP BY ex.doc_id)
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_rank AS BIGINT) AS sum_rank,
           CAST(sum_rank AS DOUBLE) / n_tokens AS mean_rank
    FROM per_doc
    """,
    doc="Unigram-rank fluency proxy: every token scored by its corpus "
    "frequency rank (top-1000 vocab, OOV = rank 1001), per-doc mean — "
    "the log-free stand-in for a KenLM perplexity filter (CCNet-style "
    "bucketing keys on exactly this monotone signal; avoiding ln() "
    "keeps the score bit-exact cross-engine, the d20 trick). Scale "
    "shape: the ranked vocab is TakeOrdered top-1000 then a window "
    "over those bounded 1000 rows only; it broadcasts into the token "
    "join; token rows shuffle once for the per-doc aggregate.",
)
def d32_token_rank_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ex = _terms(spark, sf_dir)
    # Rank the bounded top-1000 rows via bounded_rank — never an
    # unpartitioned window, never the corpus.
    vocab = bounded_rank(
        _top_terms(ex, _D32_VOCAB), [("tf", "desc"), ("term", "asc")]
    ).select("term", "rnk")
    per_doc = (
        ex.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce("rnk", F.lit(_D32_VOCAB + 1))).alias("sum_rank"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("sum_rank").cast("bigint").alias("sum_rank"),
        (F.col("sum_rank").cast("double") / F.col("n_tokens")).alias("mean_rank"),
    )


# --- per-source length-distribution drift ------------------------------------
_D33_BIN = 10
_D33_MAX_BIN = 19


@query(
    "d33_source_length_drift",
    oracle=f"""
    WITH nt AS (SELECT source, len({_TOKS}) AS n_tok FROM documents),
    {_sql_drift("nt")}
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, tv_distance FROM drift
    """,
    doc="Distribution-drift audit: total-variation distance between each "
    "source's token-length histogram and the corpus-wide one (bins of "
    "10 tokens, capped) — the pre-mix check that catches a source "
    "whose length profile diverges from the blend (truncated scrapes, "
    "boilerplate floods). TV is computed from cross-multiplied INTEGER "
    "counts (|c_b*N - C_b*n_s| summed exactly) with ONE final double "
    "division, so the score is bit-exact without decimal plumbing. "
    "Scale shape: two count aggregates and a (source x 20-bin) join — "
    "the histogram table is tiny regardless of corpus size.",
)
def d33_source_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return _length_drift(docs.select("source", F.size(tokens("text")).alias("n_tok")))


# --- end-to-end corpus -> training shards ------------------------------------
def _c03_oracle() -> str:
    """Compose the c01 clean chain, d15 decontamination, and d26 shard
    routing into one end-to-end oracle: clean survivors, minus any doc
    sharing a 3-shingle with the eval split (doc_id%20=0, itself
    excluded from training), md5-routed to 8 shards with per-shard
    doc/token totals."""
    return f"""
    WITH {_clean_corpus_ctes()},
    {_sql_ngrams("sh2", 3, "tk0")},
    {_sql_contamination("contam", "sh2")},
    routed AS (
      SELECT {_sql_shard("c.doc_id", 8)} AS shard, len(tk0.t) AS n_tok
      FROM clean c JOIN tk0 ON tk0.doc_id = c.doc_id
      WHERE c.doc_id % 20 <> 0 AND c.doc_id NOT IN (
          SELECT doc_id FROM contam WHERE contamination >= 0.5))
    SELECT CAST(shard AS INTEGER) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens
    FROM routed GROUP BY shard
    """


@query(
    "c03_corpus_to_shards",
    oracle=_c03_oracle(),
    doc="The END-TO-END training-data pipeline in one plan: quality gate "
    "-> exact dedup -> LSH+verify near-dup removal (pipelines/corpus."
    "clean_corpus, c01) -> benchmark decontamination (drop survivors with >=50% of their "
    "3-shingles shared with the doc_id%20=0 eval split; dedup/"
    "decontaminate.py, d15's semantics as a filter) -> deterministic "
    "md5 shard routing with per-shard doc/token totals (pipelines/"
    "sampling.portable_bucket, d26). What a user actually runs before "
    "training; every stage is the same operator the standalone queries "
    "verify, so the composition is oracle-checked end to end. The "
    "near-dup removal threshold is 0.8 (drop only near-certain "
    "duplicates from training data) — intentionally STRICTER than "
    "c02's 0.5 clustering threshold, which is an exploratory audit "
    "view, not a deletion gate. Scale "
    "shape: union of the component shapes — nothing here adds a new "
    "shuffle class; stages hand off (doc_id)-keyed frames.",
)
def c03_corpus_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    stages = _c_pipeline_stages(spark, sf_dir)
    train = stages["cleaned"].filter(F.col("doc_id") % 20 != 0)
    final = train.join(stages["contam"], "doc_id", "left_anti").join(
        docs, "doc_id"
    )
    routed = final.select(
        portable_bucket(F.col("doc_id"), "shard-v1", 8).cast("int").alias("shard"),
        "doc_id",
        F.size(tokens("text")).alias("n_tok"),
    )
    return routed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
    )


# --- MinHash-LSH band-tuning audit --------------------------------------------
#: The (bands) splits of the 8 MinHash rows d34 compares.
_D34_BANDS = (8, 4, 2)


def _band_tuning_oracle(max_bucket: int) -> str:
    cands = ",\n    ".join(
        _sql_plain_cands(f"cand_{b}", max_bucket, 8 // b) for b in _D34_BANDS
    )
    rows = "\n    UNION ALL\n    ".join(
        f"""SELECT {b} AS bands, {8 // b} AS rows_per_band,
           (SELECT count(*) FROM cand_{b}) AS n_candidates,
           (SELECT count(*) FROM cand_{b} JOIN truep USING (doc_a, doc_b))
             AS n_true_captured"""
        for b in _D34_BANDS
    )
    return f"""
    WITH {_sql_jac_pairs()},
    truep AS MATERIALIZED (SELECT doc_a, doc_b FROM pr WHERE jaccard >= 0.5),
    {_sql_signatures(src="sh", n_hashes=8)},
    {cands},
    allrows AS (
    {rows})
    SELECT CAST(bands AS INTEGER) AS bands,
           CAST(rows_per_band AS INTEGER) AS rows_per_band,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_captured AS BIGINT) AS n_true_captured,
           CAST(n_true_captured AS DOUBLE)
             / greatest((SELECT count(*) FROM truep), 1) AS recall,
           CAST(n_true_captured AS DOUBLE)
             / greatest(n_candidates, 1) AS precision
    FROM allrows ORDER BY bands DESC
    """


@query(
    "d34_lsh_band_tuning",
    oracle=_band_tuning_oracle(D07_MAX_BUCKET),
    doc="MinHash-LSH band-tuning audit: candidate volume, true-pair "
    "capture, recall and precision for (bands, rows/band) = (8,1), "
    "(4,2), (2,4) over the same 8 minhashes, judged against the exact "
    "Jaccard>=0.5 pair set (d06 semantics). THE tuning table for the "
    "S-curve trade — more bands / fewer rows = higher recall, more "
    "junk candidates; this measures both sides instead of trusting "
    "the 1-(1-s^r)^b formula. The signature table is built once per "
    "call (_minhash_sigs8) and the truth set is the session-shared "
    "_jac05_pairs memo; each config adds only its banded equi-join, "
    "all hot buckets capped.",
)
def d34_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    # One 8-hash signature table per call and the exact-Jaccard 0.5
    # truth set (the d06/c02 memo); the three band configs are pure
    # re-bandings of the same 8 minhashes.
    sigs = _minhash_sigs8(spark, sf_dir)
    truep = _jac05_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sweeps = None
    for bands in _D34_BANDS:
        cand = lsh_candidate_pairs_from_signatures(
            sigs, num_hashes=8, bands=bands, max_bucket=D07_MAX_BUCKET
        ).select(
            F.lit(bands).cast("int").alias("bands"),
            F.lit(8 // bands).cast("int").alias("rows_per_band"),
            "doc_a",
            "doc_b",
        )
        sweeps = cand if sweeps is None else sweeps.unionByName(cand)
    n_cand = sweeps.groupBy("bands", "rows_per_band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    n_capt = (
        sweeps.join(truep, ["doc_a", "doc_b"])
        .groupBy("bands")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_true_captured"))
    )
    tot = truep.agg(F.count(F.lit(1)).alias("n_true"))
    return (
        n_cand.join(n_capt, "bands", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bands",
            "rows_per_band",
            "n_candidates",
            F.coalesce("n_true_captured", F.lit(0))
            .cast("bigint")
            .alias("n_true_captured"),
            (
                F.coalesce("n_true_captured", F.lit(0)).cast("double")
                / F.greatest(F.col("n_true"), F.lit(1))
            ).alias("recall"),
            (
                F.coalesce("n_true_captured", F.lit(0)).cast("double")
                / F.greatest(F.col("n_candidates"), F.lit(1))
            ).alias("precision"),
        )
        .orderBy(F.col("bands").desc())
    )


@query(
    "d35_shingle_novelty",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    ds AS (SELECT s.doc_id, {_sql_h60("s.sh")} AS sh, d.source
           FROM sh s JOIN documents d USING (doc_id)),
    per_sh AS (SELECT sh, count(DISTINCT source) AS n_sources FROM ds GROUP BY sh),
    per_src AS (
      SELECT source,
             count(DISTINCT doc_id) AS n_docs,
             count(*) AS n_shingle_rows,
             count(DISTINCT sh) AS n_distinct
      FROM ds GROUP BY source),
    uniq AS (
      SELECT source, count(DISTINCT sh) AS n_exclusive
      FROM ds JOIN per_sh USING (sh) WHERE n_sources = 1
      GROUP BY source)
    SELECT p.source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_shingle_rows AS BIGINT) AS n_shingle_rows,
           CAST(n_distinct AS BIGINT) AS n_distinct,
           CAST(n_distinct AS DOUBLE) / n_shingle_rows AS novelty,
           CAST(COALESCE(n_exclusive, 0) AS BIGINT) AS n_exclusive,
           CAST(COALESCE(n_exclusive, 0) AS DOUBLE) / n_distinct
             AS exclusivity
    FROM per_src p LEFT JOIN uniq USING (source)
    """,
    doc="Per-source shingle novelty: distinct-to-total 3-shingle ratio "
    "(how repetitive a source is internally) and the share of its "
    "shingle vocabulary found in NO other source (how much unique "
    "signal it adds to the mix) — the two numbers a data-mixing "
    "decision actually needs (cf. d33 length drift, d18 mix "
    "rollup). All exact integer counts off ONE tokenize pass; the "
    "cross-source exclusivity table is a (shingle)-keyed count "
    "capped at the vocabulary size, never a pairwise source join.",
)
def d35_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    with _released() as caches:
        # Hash shingles to portable 60-bit ints before anything shuffles
        # (the ngram-kernel discipline; the oracle hashes identically, so
        # distinct/exclusive type counts match even under a collision).
        ds = _pin(
            shingle_rows(docs, out_id="doc_id")
            .select("doc_id", shingle_hash().alias("sh"))
            .join(docs.select("doc_id", "source"), "doc_id"),
            caches,
        )
        per_sh = ds.groupBy("sh").agg(F.countDistinct("source").alias("n_sources"))
        per_src = ds.groupBy("source").agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_shingle_rows"),
            F.countDistinct("sh").cast("bigint").alias("n_distinct"),
        )
        uniq = (
            ds.join(per_sh.filter(F.col("n_sources") == 1), "sh")
            .groupBy("source")
            .agg(F.countDistinct("sh").cast("bigint").alias("n_exclusive"))
        )
        n_exclusive = F.coalesce("n_exclusive", F.lit(0)).cast("bigint")
        out = per_src.join(uniq, "source", "left").select(
            "source",
            "n_docs",
            "n_shingle_rows",
            "n_distinct",
            (F.col("n_distinct").cast("double") / F.col("n_shingle_rows")).alias(
                "novelty"
            ),
            n_exclusive.alias("n_exclusive"),
            (n_exclusive.cast("double") / F.col("n_distinct")).alias("exclusivity"),
        )
        return _materialize("d35_shingle_novelty", out)


# --- temperature-weighted source mixing --------------------------------------
_D36_TARGET_DOCS = 1_000_000


@query(
    "d36_temperature_mix",
    oracle=f"""
    WITH nt AS (SELECT source, len({_TOKS}) AS n_tok FROM documents),
    {_sql_volumes("nt")},
    {_sql_tempered("ps")}
    SELECT source, n_docs, n_tokens, w AS weight,
           CAST(w AS DOUBLE) / sw AS share,
           CAST((({_D36_TARGET_DOCS} * w) // sw) AS BIGINT) AS target_docs
    FROM wtd CROSS JOIN swt
    ORDER BY source
    """,
    doc="Temperature-weighted training-mix allocation (the multilingual / "
    "UniMax sampling shape, alpha = 0.5): per-source token counts, "
    "sqrt-tempered weights, each source's share of a fixed document "
    "budget. Down-weights head sources and up-weights tails exactly "
    "the way multilingual LM data mixes are built. Exactness "
    "discipline: the weight is the INTEGER floor(sqrt(tokens)) — "
    "sqrt of an integer-valued double is IEEE-identical in both "
    "engines, floor makes it an exact integer — so the weight sum, "
    "the budget allocation ((budget * w) div sum) and the final "
    "double division are all bit-deterministic, with no "
    "order-dependent float accumulation anywhere. One token-count "
    "aggregate per source (map-side partial), a 1-row broadcast "
    "total; allocation is arithmetic on a handful of rows.",
)
def d36_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    ps = _volumes(docs.select("source", F.size(tokens("text")).alias("n_tok")))
    return (
        _tempered(ps)
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.col("w").alias("weight"),
            (F.col("w").cast("double") / F.col("sw")).alias("share"),
            F.expr(f"({_D36_TARGET_DOCS} * w) div sw").cast("bigint").alias(
                "target_docs"
            ),
        )
        .orderBy("source")
    )


# --- distributed BPE tokenizer fit -------------------------------------------
_D37_MERGES = 8


def _bpe_cte_chain(n: int = _D37_MERGES) -> tuple[str, str]:
    """(WITH-body, merge-union select) for the unrolled BPE rounds —
    shared by the d37 (merge table) and d39 (segmentation) oracles.
    Round k = adjacent-pair count over the space-wrapped symbol strings,
    winner by (count DESC, a, b), merge applied via the same
    left-to-right non-overlapping `replace` (the space-wrapped encoding
    makes the string op equal to the greedy symbol fold — see bpe.py)."""
    rounds = []
    for k in range(1, n + 1):
        p = k - 1
        rounds.append(f"""
    s{k} AS (
      SELECT word, freq,
             generate_subscripts(string_split_regex(trim(r), ' +'), 1) AS pos,
             unnest(string_split_regex(trim(r), ' +')) AS s
      FROM w{p}),
    p{k} AS (
      SELECT sa.s AS a, sb.s AS b, CAST(SUM(sa.freq) AS BIGINT) AS c
      FROM s{k} sa JOIN s{k} sb ON sa.word = sb.word AND sb.pos = sa.pos + 1
      GROUP BY 1, 2),
    m{k} AS MATERIALIZED (SELECT a, b, c FROM p{k} ORDER BY c DESC, a, b LIMIT 1),
    w{k} AS MATERIALIZED (
      SELECT word, freq,
             replace(r,
               ' ' || (SELECT a FROM m{k}) || '  ' || (SELECT b FROM m{k}) || ' ',
               ' ' || (SELECT a FROM m{k}) || (SELECT b FROM m{k}) || ' ') AS r
      FROM w{p})""")
    unions = "\n      UNION ALL ".join(
        f"SELECT {k} AS step, a AS sym_a, b AS sym_b, a || b AS merged, "
        f"c AS pair_count FROM m{k}"
        for k in range(1, n + 1)
    )
    body = f"""
    WITH tok AS (
      SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                x -> x <> '')) AS word
      FROM documents),
    w0 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             regexp_replace(word, '(.)', ' \\1 ', 'g') AS r
      FROM tok WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word),{",".join(rounds)}"""
    return body, unions


def _d37_oracle(n: int = _D37_MERGES) -> str:
    body, unions = _bpe_cte_chain(n)
    return f"""{body}
    SELECT CAST(step AS INTEGER) AS step, sym_a, sym_b, merged, pair_count
    FROM ({unions})
    """


@query(
    "d37_bpe_fit",
    oracle=_d37_oracle(),
    doc="Distributed BPE tokenizer FIT (the tokenizer-training stage of "
    "a pretraining pipeline): "
    f"learn the first {_D37_MERGES} merges from the corpus "
    "(functions/bpe.py). The corpus collapses ONCE to a word-frequency "
    "table (all further work is vocab-sized, the Sennrich 2016 trick); "
    "each round is one keyed pair-count aggregation (map-side partials) "
    "+ one merge-applying projection; driver state is only the merge "
    "list. Deterministic: exact integer counts, lexicographic "
    "tie-break, [a-z]-only tokens pin binary collation. The oracle "
    "unrolls the rounds as CTEs and reproduces the merge table "
    "bit-exactly — including the greedy left-to-right merge-application "
    "semantics, which the marker-prefixed string encoding maps onto "
    "plain non-overlapping `replace` in BOTH engines.",
)
def d37_bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return bpe_fit(spark, docs, n_merges=_D37_MERGES)


# --- learned quality-gate inference ------------------------------------------
@query(
    "d38_quality_classifier",
    oracle=f"""
    WITH {_sql_quality()}
    SELECT doc_id, n_feats, sum_w, logit, keep FROM qs
    """,
    doc="Model-based quality gate (the learned filter that complements "
    "d24's rules): "
    "fastText/CCNet-shape LINEAR classifier inference — hashed "
    "unigram+bigram features (4096 md5 buckets), fixed md5-derived "
    "integer weight table, per-doc mean weight as the logit, integer "
    "keep-gate (functions/quality_model.py). Entirely JVM codegen: one "
    "explode + one doc_id-keyed aggregation, zero Python workers "
    "(plan-tested), which is why a learned gate can run as a "
    "first-class map-side stage at 100 TB. Weights are exact millis "
    "summed as BIGINT; the logit is one IEEE division of exact "
    "integers; no sigmoid in the gated output (libm tails are not "
    "engine-portable; the gate is monotone in the logit).",
)
def d38_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_scores(tbl(spark, sf_dir, "documents"))


# --- BPE encode: segment the vocab with the learned merges -------------------
def _d39_oracle(n: int = _D37_MERGES, top_k: int = 200) -> str:
    body, _ = _bpe_cte_chain(n)
    return f"""{body}
    SELECT word, freq,
           CAST(len(string_split_regex(trim(r), ' +')) AS INTEGER) AS n_symbols,
           array_to_string(string_split_regex(trim(r), ' +'), '|')
             AS segmentation
    FROM w{n}
    ORDER BY freq DESC, word
    LIMIT {top_k}
    """


@query(
    "d39_bpe_segmentation",
    oracle=_d39_oracle(),
    doc="The ENCODE side of d37's tokenizer fit: apply the learned "
    f"{_D37_MERGES} merges and emit the top-200-by-frequency words with "
    "their symbol segmentation and per-word token count "
    "(functions/bpe.py bpe_segment_words). Fit and encode share the "
    "one corpus collapse — the merge application already produced "
    "every word's final symbol string, so encoding adds NO corpus "
    "pass (tokenize-once). Segmentation is serialized '|'-joined "
    "(array result cells break canonicalizers — the q27 lesson); the "
    "cut is a total order (freq DESC, word ASC). The oracle replays "
    "the same unrolled rounds and reads the final word state.",
)
def d39_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bpe_segment_words(
        tbl(spark, sf_dir, "documents"), n_merges=_D37_MERGES, top_k=200
    )


# --- deterministic training-order shuffle (epoch layout) ---------------------
@query(
    "d40_epoch_shuffle",
    oracle="""
    WITH e0 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5(concat('epoch0', ':', CAST(doc_id AS VARCHAR))),
                        doc_id) - 1 AS pos_epoch0
      FROM documents),
    e1 AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (
               ORDER BY md5(concat('epoch1', ':', CAST(doc_id AS VARCHAR))),
                        doc_id) - 1 AS pos_epoch1
      FROM documents)
    SELECT e0.doc_id,
           CAST(pos_epoch0 AS BIGINT) AS pos_epoch0,
           CAST(pos_epoch1 AS BIGINT) AS pos_epoch1,
           CAST(pos_epoch0 // 128 AS BIGINT) AS shard_epoch0
    FROM e0 JOIN e1 USING (doc_id)
    """,
    doc="Deterministic global TRAINING-ORDER shuffle with per-epoch "
    "reshuffle — the stage between a curated corpus and the trainer's "
    "data loader: every doc gets a position in a salted-md5 total "
    "order (portable across engines and runs), a different salt "
    "re-deals the order each epoch, and positions map to fixed-size "
    "shards. The global position is assigned WITHOUT a global window "
    "or zipWithIndex: the md5 key's first hex byte buckets rows into "
    "256 uniform groups, a PARTITIONED window ranks within each "
    "bucket, and bucket offsets come from a 256-row broadcast "
    "self-join prefix sum — because the bucket is a PREFIX of the sort "
    "key, offset + within-bucket rank equals the global rank. Scale "
    "shape: one hash shuffle on the bucket + a per-bucket sort "
    "(Spark's own sort-shuffle machinery), no single-partition "
    "bottleneck at any size; exactly how you deal a 100 TB corpus "
    "into train-order shards.",
)
def d40_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id")

    def epoch_pos(salt: str, alias: str) -> DataFrame:
        key = F.md5(
            F.concat_ws(":", F.lit(salt), F.col("doc_id").cast("string"))
        )
        keyed = docs.select(
            "doc_id", key.alias("k"), F.substring(key, 1, 2).alias("b")
        )
        w = Window.partitionBy("b").orderBy("k", "doc_id")
        ranked = keyed.withColumn("r", F.row_number().over(w))
        counts = keyed.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
        offsets = (
            counts.alias("l")
            .join(
                F.broadcast(counts.alias("r")),
                F.col("r.b") < F.col("l.b"),
                "left",
            )
            .groupBy(F.col("l.b").alias("b"))
            .agg(F.coalesce(F.sum("r.n"), F.lit(0)).alias("off"))
        )
        return ranked.join(F.broadcast(offsets), "b").select(
            "doc_id",
            (F.col("off") + F.col("r") - 1).cast("bigint").alias(alias),
        )

    e0 = epoch_pos("epoch0", "pos_epoch0")
    e1 = epoch_pos("epoch1", "pos_epoch1")
    return e0.join(e1, "doc_id").select(
        "doc_id",
        "pos_epoch0",
        "pos_epoch1",
        F.expr("pos_epoch0 div 128").cast("bigint").alias("shard_epoch0"),
    )


# --- quality-weighted canonical survivor -------------------------------------
def _c04_oracle(rounds: int = 10) -> str:
    return f"""
    WITH {_cc_cluster_ctes(rounds)},
    {_sql_quality()},
    scored AS (
      SELECT l.id AS doc_id, l.label AS cluster_id, s.cluster_size,
             q.logit AS quality
      FROM l{rounds} l JOIN sizes s ON l.label = s.label
      JOIN qs q ON q.doc_id = l.id),
    rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY cluster_id
                       ORDER BY quality DESC, doc_id) AS r FROM scored)
    SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size, quality,
           CAST(CASE WHEN r = 1 THEN 1 ELSE 0 END AS INTEGER) AS is_survivor
    FROM rk
    """


@query(
    "c04_quality_survivor",
    oracle=_c04_oracle(),
    doc="Quality-WEIGHTED canonical selection: c02's near-dup components "
    "(same Jaccard>=0.5 pairs, same alternating-star CC) but the "
    "survivor of each cluster is the argmax of d38's learned quality "
    "logit (tie: lowest doc_id), not the min id — what a production "
    "dedup actually keeps (the best-written copy, not the "
    "lowest-numbered one). Composition is two already-gated stages "
    "plus one PARTITIONED window over cluster members; the logit is "
    "one IEEE division of exact integers, so the cross-engine argmax "
    "ordering is exact. Scale shape: CC cost unchanged, scoring is "
    "map-side linear, the window partitions by cluster id.",
)
def c04_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    cc = _neardup_cc(spark, sf_dir)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    # score only cluster members — the quality join is LEFT from cc, so
    # restricting the scorer's input is result-identical and skips
    # exploding features for the (vast) unclustered majority
    clustered_docs = docs.join(
        cc.select(F.col("id").alias("doc_id")), "doc_id", "left_semi"
    )
    scored = (
        cc.join(sizes, "component")
        .join(
            quality_scores(clustered_docs).select(
                "doc_id", F.col("logit").alias("quality")
            ),
            cc["id"] == F.col("doc_id"),
            "left",
        )
        .select(
            F.col("id").alias("doc_id"),
            F.col("component").cast("bigint").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.coalesce(F.col("quality"), F.lit(0.0)).alias("quality"),
        )
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return scored.withColumn(
        "is_survivor",
        (F.row_number().over(w) == 1).cast("int"),
    )


# --- integer-exact BM25 ranked retrieval -------------------------------------
_D41_TERMS = ("dup", "spark", "batch")


@query(
    "d41_bm25_rank",
    oracle=f"""
    WITH {_sql_tk(out="tkb")},
    dtl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM tkb),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS n_toks FROM dtl),
    hit AS (SELECT DISTINCT doc_id, tok
            FROM (SELECT doc_id, unnest(t) AS tok FROM tkb)
            WHERE tok IN {_D41_TERMS!r}),
    dfc AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM hit GROUP BY tok),
    idf AS (SELECT tok,
                   CAST(length(bin(2 * n_docs + 2))
                        - length(bin(2 * df + 1)) AS BIGINT) AS idf
            FROM dfc, stats),
    hs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits,
                  CAST(SUM(idf) AS BIGINT) AS idf_sum
           FROM hit JOIN idf USING (tok) GROUP BY doc_id),
    sc AS (SELECT d.doc_id,
                  COALESCE(n_hits, 0) AS n_hits,
                  COALESCE(idf_sum, 0) AS idf_sum,
                  dl,
                  CAST(22 * n_toks * COALESCE(idf_sum, 0) * 100000
                       // (13 * n_toks + 9 * dl * n_docs) AS BIGINT)
                    AS score_scaled
           FROM dtl d LEFT JOIN hs USING (doc_id), stats)
    SELECT doc_id, n_hits, idf_sum, dl, score_scaled
    FROM sc ORDER BY score_scaled DESC, doc_id LIMIT 20
    """,
    doc="Integer-exact BM25 ranked retrieval (functions/bm25.py): presence "
    "tf makes the whole score one rational with integer numerator/"
    "denominator (per-doc saturation factor is term-independent), idf "
    "is the bit-length integer log2 of the Lucene-shape odds ratio "
    "(bin() in both engines — no libm ln in the gate), k1=6/5 b=3/4 "
    "cleared to the BIGINT formula 22*L*idf_sum*1e5 DIV (13L+9*dl*N). "
    "Scale shape: hits filtered to the query's terms BEFORE the "
    "shuffle, df/N/L broadcast, TakeOrdered top-20 — one corpus scan. "
    "Full-precision float BM25 belongs on a single engine; this gate "
    "pins the portable integer core.",
)
def d41_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_presence_rank(
        tbl(spark, sf_dir, "documents"), query_terms=_D41_TERMS, k=20
    )


# --- exact duplicated-substring removal (Lee et al. shape) -------------------
@query(
    "d42_substring_dedup",
    oracle=f"""
    WITH {_sql_tk(out="tks")},
    g AS (SELECT doc_id, i - 1 AS pos,
                 md5(array_to_string(t[i:i+7], ' ')) AS h
          FROM tks, unnest(range(1, len(t) - 6)) AS r(i)
          WHERE len(t) >= 8),
    freq AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2),
    cov AS (SELECT DISTINCT doc_id, pos
            FROM (SELECT doc_id, unnest(range(pos, pos + 8)) AS pos
                  FROM g JOIN freq USING (h))),
    tp AS (SELECT doc_id, generate_subscripts(t, 1) - 1 AS pos,
                  unnest(t) AS tok FROM tks),
    kept AS (SELECT tp.doc_id, tp.pos, tp.tok
             FROM tp ANTI JOIN cov USING (doc_id, pos)),
    pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
                  md5(string_agg(tok, ' ' ORDER BY pos)) AS kept_md5
           FROM kept GROUP BY doc_id)
    SELECT tks.doc_id,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(len(t) - COALESCE(n_kept, 0) AS BIGINT) AS n_covered,
           COALESCE(n_kept, 0) AS n_kept,
           COALESCE(kept_md5, md5('')) AS kept_md5
    FROM tks LEFT JOIN pd USING (doc_id)
    """,
    doc="Exact duplicated-SUBSTRING removal — the ExactSubstr pass of Lee "
    "et al. 2022 (dedup/substring.py): every 8-token window with corpus "
    "frequency >= 2 has its covered positions removed from every "
    "occurrence, and the gate fingerprints the RECONSTRUCTED text "
    "(md5 of position-ordered survivors), proving the span surgery "
    "byte-correct, not just counted. The paper's suffix array does "
    "not distribute; this is the postings re-expression — md5 gram "
    "keys (shuffles carry hashes, never text), one keyed count, a "
    "bounded x8 position explode, one anti-join. Linear in corpus "
    "tokens at any scale.",
)
def d42_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return duplicated_span_removal(tbl(spark, sf_dir, "documents"), k=8, min_freq=2)


# --- filter-cascade attribution funnel ---------------------------------------
_SQL_KILLED = "CASE {} ELSE 0 END".format(
    " ".join(f"WHEN {fails} THEN {i}" for i, (_, fails) in enumerate(_SQL_RULES, 1))
)
_SQL_STAGES = ", ".join(f"({i}, '{name}')" for i, (name, _) in enumerate(_SQL_RULES, 1))


@query(
    "d43_filter_cascade",
    oracle=f"""
    WITH {_sql_rule_feats("source")},
    attributed AS (SELECT source, {_SQL_KILLED} AS killed_stage FROM tk),
    totals AS (SELECT source, COUNT(*) AS n_total
               FROM attributed GROUP BY source),
    kills AS (SELECT source, killed_stage, COUNT(*) AS n_killed
              FROM attributed WHERE killed_stage > 0
              GROUP BY source, killed_stage),
    stages AS (SELECT * FROM (VALUES {_SQL_STAGES}) s(stage_no, stage)),
    grid AS (SELECT t.source, s.stage_no, s.stage,
                    t.n_total, COALESCE(k.n_killed, 0) AS n_killed
             FROM totals t CROSS JOIN stages s
             LEFT JOIN kills k
               ON k.source = t.source AND k.killed_stage = s.stage_no)
    SELECT source, CAST(stage_no AS INTEGER) AS stage_no, stage,
           CAST(n_total
                - COALESCE(SUM(n_killed) OVER (
                    PARTITION BY source ORDER BY stage_no
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_entering,
           CAST(n_killed AS BIGINT) AS n_killed,
           CAST(n_total - SUM(n_killed) OVER (
                    PARTITION BY source ORDER BY stage_no
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS n_surviving
    FROM grid
    """,
    doc="Filter-cascade attribution funnel — the corpus-observability "
    "report every published pipeline (Dolma, RefinedWeb, Gopher) ships: "
    "each document is attributed to the FIRST rule that kills it "
    "(d24's four rules, same integer cross-multiplied predicates, in "
    "fixed stage order), then per (source, stage) the funnel reports "
    "docs entering, killed, and surviving. Unlike d24 (per-doc audit "
    "rows) this is the per-source retention CURVE that tells you which "
    "stage is eating which corpus. Scale shape: one map-side CASE per "
    "doc, one (source, stage) count agg, then a 4-row-per-source dense "
    "grid (stages broadcast) with a partitioned cumulative window — "
    "output is |sources|x4 rows regardless of corpus size.",
)
def d43_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _rule_feats(tbl(spark, sf_dir, "documents"), "source")
    killed = F.lit(0)
    for i, (_, fails) in reversed(list(enumerate(_rules(), 1))):
        killed = F.when(fails, i).otherwise(killed)
    attributed = t.select("source", killed.alias("killed_stage"))
    totals = attributed.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    kills = (
        attributed.filter(F.col("killed_stage") > 0)
        .groupBy("source", "killed_stage")
        .agg(F.count(F.lit(1)).alias("n_killed"))
    )
    stages = spark.createDataFrame(
        [(i, name) for i, (name, _) in enumerate(_SQL_RULES, 1)],
        "stage_no int, stage string",
    )
    grid = (
        totals.crossJoin(F.broadcast(stages))
        .join(
            kills.withColumnRenamed("killed_stage", "stage_no"),
            ["source", "stage_no"],
            "left",
        )
        .withColumn("n_killed", F.coalesce("n_killed", F.lit(0)))
    )
    w = Window.partitionBy("source").orderBy("stage_no")
    prior = F.coalesce(
        F.sum("n_killed").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    cum = F.sum("n_killed").over(w.rowsBetween(Window.unboundedPreceding, 0))
    return grid.select(
        "source",
        F.col("stage_no").cast("int").alias("stage_no"),
        "stage",
        (F.col("n_total") - prior).cast("bigint").alias("n_entering"),
        F.col("n_killed").cast("bigint").alias("n_killed"),
        (F.col("n_total") - cum).cast("bigint").alias("n_surviving"),
    )


# --- leakage-safe cluster-aware split ----------------------------------------
@query(
    "d44_leakage_safe_split",
    oracle=f"""
    WITH c AS (
      SELECT doc_id, source, md5(text) AS cluster_key FROM documents),
    sized AS (
      SELECT c.*, COUNT(*) OVER (PARTITION BY cluster_key) AS cluster_size
      FROM c),
    assigned AS (
      SELECT *,
             CASE WHEN bkt < 8 THEN 'train' WHEN bkt = 8 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT *, {_sql_bucket("cluster_key || 'split-v1'", 10)} AS bkt
            FROM sized)),
    straddle AS (
      SELECT CAST(MAX(n_splits) AS INTEGER) AS max_splits_per_cluster
      FROM (SELECT cluster_key, COUNT(DISTINCT split) AS n_splits
            FROM assigned GROUP BY cluster_key))
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT cluster_key) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN cluster_size > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_member_docs,
           (SELECT max_splits_per_cluster FROM straddle)
             AS max_splits_per_cluster
    FROM assigned GROUP BY split
    """,
    doc="Leakage-safe train/val/test split: the split is assigned to the "
    "exact-duplicate CLUSTER (md5 of text), never the document, so "
    "verbatim copies of a training document can never land in the eval "
    "split — the contamination failure mode group-unaware random splits "
    "ship at scale. Routing is the portable salted-md5 bucket "
    "(pipelines/sampling.portable_bucket: buckets 0-7 train, 8 val, 9 "
    "test), deterministic across engines, runs, and cluster sizes. The "
    "gate also computes (not assumes) the honest audit: "
    "max_splits_per_cluster == 1, measured from the assigned table "
    "itself. Scale shape: one cluster_key window for sizes, one keyed "
    "agg per split — no joins against a collected ledger; the window "
    "key is the md5 so hot keys are impossible by construction.",
)
def d44_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    c = docs.select("doc_id", "source", F.md5("text").alias("cluster_key"))
    sized = c.withColumn(
        "cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_key"))
    )
    b = portable_bucket(F.col("cluster_key"), salt="split-v1", buckets=10)
    assigned = sized.withColumn(
        "split",
        F.when(b < 8, "train").when(b == 8, "val").otherwise("test"),
    )
    straddle = (
        assigned.groupBy("cluster_key")
        .agg(F.countDistinct("split").alias("n_splits"))
        .agg(F.max("n_splits").cast("int").alias("max_splits_per_cluster"))
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("cluster_key").alias("n_clusters"),
        F.sum(F.when(F.col("cluster_size") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_member_docs"),
    )
    return per_split.crossJoin(F.broadcast(straddle)).select(
        "split",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_clusters").cast("bigint").alias("n_clusters"),
        "n_dup_member_docs",
        "max_splits_per_cluster",
    )


# --- semantic (paraphrase-level) decontamination -----------------------------
#: Eval-set membership: every 50th id — the deterministic stand-in for a
#: held-out benchmark's embedding table.
_D45_EVAL_MOD = 50
#: Cosine at/above which a corpus doc counts as a paraphrase of an eval doc.
_D45_TAU = 0.4

_D45_DSUM = "CAST(SUM(CAST({expr} AS DECIMAL(38,12))) AS DOUBLE)"


@query(
    "d45_semantic_decontamination",
    oracle=f"""
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
    ev AS (SELECT vec_id AS eid, pos, v AS ev_v FROM e
           WHERE vec_id % {_D45_EVAL_MOD} = 0),
    qn AS (SELECT eid, {_D45_DSUM.format(expr="ev_v * ev_v")} AS q2
           FROM ev GROUP BY eid),
    comps AS (SELECT e.vec_id, ev.eid,
                     {_D45_DSUM.format(expr="v * ev_v")} AS dot,
                     {_D45_DSUM.format(expr="v * v")} AS n2
              FROM e JOIN ev USING (pos)
              WHERE e.vec_id % {_D45_EVAL_MOD} <> 0
              GROUP BY e.vec_id, ev.eid),
    flagged AS (SELECT DISTINCT vec_id FROM comps JOIN qn USING (eid)
                WHERE ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) >= {_D45_TAU}),
    base AS (SELECT d.source,
                    CASE WHEN f.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit
             FROM documents d
             JOIN embeddings em ON em.vec_id = d.doc_id
             LEFT JOIN flagged f ON f.vec_id = d.doc_id
             WHERE d.doc_id % {_D45_EVAL_MOD} <> 0)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(hit) AS BIGINT) AS n_flagged,
           ROUND(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6) AS flag_rate
    FROM base GROUP BY source
    """,
    doc="Semantic decontamination — the paraphrase-level complement of "
    "d15's exact-shingle screen: a corpus document is contamination-"
    "suspect when its embedding's cosine to ANY eval-set embedding "
    "reaches tau (0.4), reported as a per-source audit (n_docs, "
    "n_flagged, flag_rate). Shingle overlap misses reworded benchmark "
    "leakage; embedding similarity catches it (the Llama/GPT-4 "
    "report-style decontamination step). Kernel is the e01 decimal-"
    "exact cosine with the EVAL side broadcast — eval benchmarks are "
    "tiny (here |corpus|/50) vs a 100 TB corpus, so the corpus streams "
    "once and never re-partitions, the same asymmetric shape as "
    "dedup/decontaminate.py. At production scale the exact "
    "eval-x-corpus product (|eval| keyed partial sums per corpus "
    "vector) swaps in for e13's sign-LSH bucketed candidates when even "
    "that is too wide; flag volume is linear in corpus either way.",
)
def d45_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = fan_out(tbl(spark, sf_dir, "embeddings"))
    docs = tbl(spark, sf_dir, "documents")
    e = explode_vector(emb, "vec_id")
    ev = e.filter(F.col("vec_id") % _D45_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eid"), "pos", F.col("v").alias("ev_v")
    )
    qn = ev.groupBy("eid").agg(
        F.sum((F.col("ev_v") * F.col("ev_v")).cast(_ACC)).cast("double").alias("q2")
    )
    comps = (
        e.filter(F.col("vec_id") % _D45_EVAL_MOD != 0)
        .join(F.broadcast(ev), "pos")
        .groupBy("vec_id", "eid")
        .agg(
            F.sum((F.col("v") * F.col("ev_v")).cast(_ACC)).cast("double").alias("dot"),
            F.sum((F.col("v") * F.col("v")).cast(_ACC)).cast("double").alias("n2"),
        )
    )
    cos = F.round(F.col("dot") / (F.sqrt("n2") * F.sqrt("q2")), 6)
    flagged = (
        comps.join(F.broadcast(qn), "eid")
        .filter(cos >= _D45_TAU)
        .select("vec_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    base = (
        docs.filter(F.col("doc_id") % _D45_EVAL_MOD != 0)
        .join(emb.select(F.col("vec_id").alias("doc_id")), "doc_id")
        .join(flagged.withColumnRenamed("vec_id", "doc_id"), "doc_id", "left")
        .select("source", F.coalesce("hit", F.lit(0)).alias("hit"))
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("hit").cast("bigint").alias("n_flagged"),
        F.round(F.sum("hit").cast("double") / F.count(F.lit(1)), 6).alias(
            "flag_rate"
        ),
    )


# --- DSIR-style importance selection -----------------------------------------
#: Hashed n-gram feature space size (DSIR uses 10k buckets at corpus scale;
#: 64 keeps per-bucket counts dense at test sf).
_D46_BUCKETS = 64
#: Selection size.
_D46_TOP = 20


@query(
    "d46_dsir_selection",
    oracle=f"""
    WITH {_sql_tk("doc_id, lang, source")},
    ex AS (SELECT doc_id, lang, source, unnest(t) AS term FROM tk),
    b AS (SELECT doc_id, lang, source, {_sql_bucket("term", _D46_BUCKETS)} AS bkt
          FROM ex),
    tgt AS (SELECT bkt, COUNT(*) AS ct FROM b WHERE lang = 'en' GROUP BY bkt),
    rw AS (SELECT bkt, COUNT(*) AS cr FROM b WHERE lang <> 'en' GROUP BY bkt),
    tot AS (SELECT
              (SELECT COUNT(*) FROM b WHERE lang = 'en') AS tt,
              (SELECT COUNT(*) FROM b WHERE lang <> 'en') AS tr),
    w AS (SELECT k.bkt,
                 CAST((COALESCE(ct, 0) + 1) * (tr + {_D46_BUCKETS}) AS DOUBLE)
                 / CAST((COALESCE(cr, 0) + 1) * (tt + {_D46_BUCKETS}) AS DOUBLE)
                   AS wt
          FROM (SELECT DISTINCT bkt FROM b) k
          LEFT JOIN tgt USING (bkt) LEFT JOIN rw USING (bkt) CROSS JOIN tot),
    sc AS (SELECT b.doc_id, MAX(b.source) AS source,
                  COUNT(*) AS n_tokens,
                  CAST(SUM(CAST(wt AS DECIMAL(38,12))) AS DOUBLE) AS wsum
           FROM b JOIN w USING (bkt) WHERE b.lang <> 'en'
           GROUP BY b.doc_id)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(wsum / n_tokens, 6) AS dsir_score
    FROM sc ORDER BY dsir_score DESC, doc_id LIMIT {_D46_TOP}
    """,
    doc="DSIR-shape importance selection (Xie et al. 2023, 'Data "
    "Selection for Language Models via Importance Resampling'): fit "
    "hashed-unigram bag distributions over a TARGET set (lang='en', "
    "the high-quality proxy) and the RAW pool (everything else), score "
    "each raw document by its mean per-token target/raw importance "
    "ratio, select the top-20. Faithful to the paper's hashed-feature "
    "importance estimator with two deliberate determinism swaps, both "
    "documented: the per-token log-ratio sum becomes a per-token "
    "RATIO mean (each weight is one exact-integer-ratio IEEE division "
    "— identical across engines — where ln() is libm-dependent in its "
    "last ulp), and Gumbel-top-k sampling becomes rank selection. "
    "Scale shape: the fitted model is 64 add-1-smoothed "
    "bucket weights — a broadcast table by construction (DSIR's 10k "
    "buckets is still one broadcast) — so scoring is one map-side "
    "join + one doc-keyed agg over the raw pool: linear, no shuffle "
    "wider than (doc_id). md5 feature hashing is the engine-portable "
    "bucket (pipelines/sampling.py portable_bucket).",
)
def d46_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = _terms(spark, sf_dir, "lang", "source").select(
        "doc_id",
        "lang",
        "source",
        portable_bucket(F.col("term"), salt="", buckets=_D46_BUCKETS).alias("bkt"),
    )
    is_tgt = F.col("lang") == "en"
    tgt = b.filter(is_tgt).groupBy("bkt").agg(F.count(F.lit(1)).alias("ct"))
    rw = b.filter(~is_tgt).groupBy("bkt").agg(F.count(F.lit(1)).alias("cr"))
    tot = b.agg(
        F.sum(is_tgt.cast("bigint")).alias("tt"),
        F.sum((~is_tgt).cast("bigint")).alias("tr"),
    )
    w = (
        b.select("bkt")
        .distinct()
        .join(tgt, "bkt", "left")
        .join(rw, "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            (
                ((F.coalesce("ct", F.lit(0)) + 1) * (F.col("tr") + _D46_BUCKETS))
                .cast("double")
                / ((F.coalesce("cr", F.lit(0)) + 1) * (F.col("tt") + _D46_BUCKETS))
                .cast("double")
            ).alias("wt"),
        )
    )
    sc = (
        b.filter(~is_tgt)
        .join(F.broadcast(w), "bkt")
        .groupBy("doc_id")
        .agg(
            F.max("source").alias("source"),
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.col("wt").cast(_ACC)).cast("double").alias("wsum"),
        )
    )
    return (
        sc.select(
            "doc_id",
            "source",
            "n_tokens",
            F.round(F.col("wsum") / F.col("n_tokens"), 6).alias("dsir_score"),
        )
        .orderBy(F.col("dsir_score").desc(), "doc_id")
        .limit(_D46_TOP)
    )


# --- CCNet-style quality partitioning ----------------------------------------
@query(
    "d47_quality_partitions",
    oracle=f"""
    WITH {_sql_quality("d.doc_id, d.lang, d.n_chars")},
    {_sql_tiles("qs")}
    SELECT lang, CAST(tile AS INTEGER) AS tile, {_SQL_TILE_NAME} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(CAST(logit AS DECIMAL(38,12))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_logit
    FROM tiled GROUP BY lang, tile
    """,
    doc="CCNet-style quality partitioning: per language, rank every "
    "document by the learned d38 logit and cut the corpus into "
    "head/middle/tail thirds (NTILE over a total order — logit DESC, "
    "doc_id tiebreak), reporting per (lang, bucket) docs, chars, and "
    "mean logit. This is CCNet's signature move (Wenzek et al. 2020): "
    "per-language perplexity terciles decide what gets kept/deferred/"
    "dropped; the d38 linear scorer stands in for the Kneser-Ney LM, "
    "same monotone-partitioning semantics. Scale shape: scoring is "
    "d38's map-side pass; the tercile cut is one window per language "
    "partition (never unpartitioned); the rollup is a (lang, tile) "
    "agg — at 100 TB the window sort is the dominant shuffle and is "
    "exactly what quantile-approx ntile would replace (documented "
    "trade-off; exact NTILE keeps the gate bit-exact).",
)
def d47_quality_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    tiled = _tiles(_scored(docs, "lang", "n_chars"))
    return tiled.groupBy("lang", "tile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(
            F.sum(F.col("logit").cast(_ACC)).cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logit"),
    ).select(
        "lang",
        F.col("tile").cast("int").alias("tile"),
        _tile_name(F.col("tile")).alias("bucket"),
        "n_docs",
        "total_chars",
        "avg_logit",
    )


# --- incremental ingest admission pipeline -----------------------------------
#: Batch membership: doc_id % 7 == 3 — disjoint from d19's demo batch
#: (doc_id%10==0), and coprime with the source cycle (source = doc_id%20)
#: so the batch spans every source instead of degenerating to two.
_C05_MOD = 7
_C05_REM = 3


def _c05_oracle(max_bucket: int = D07_MAX_BUCKET) -> str:
    batch = f"doc_id % {_C05_MOD} = {_C05_REM}"
    return f"""
    WITH {_SHINGLE_CTES},
    {_sql_signatures(src="sh", n_hashes=8)},
    {_sql_batch_matches("nm", batch, max_bucket)},
    near AS (SELECT DISTINCT new_id AS doc_id FROM nm),
    ch AS (SELECT DISTINCT md5(text) AS h FROM documents
           WHERE doc_id % {_C05_MOD} <> {_C05_REM}),
    bh AS (SELECT doc_id, md5(text) AS h FROM documents
           WHERE doc_id % {_C05_MOD} = {_C05_REM}),
    exact AS (
      SELECT b.doc_id FROM bh b JOIN ch ON ch.h = b.h
      UNION
      SELECT b.doc_id FROM bh b JOIN bh p ON p.h = b.h AND p.doc_id < b.doc_id),
    {_sql_quality(where=batch)},
    ledger AS (
      SELECT d.source,
             CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                  WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                  WHEN q.keep = 0 THEN 'low_quality'
                  ELSE 'admitted' END AS verdict,
             CAST(len(regexp_extract_all(lower(d.text),
                  '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS n_subwords
      FROM documents d
      LEFT JOIN exact e ON e.doc_id = d.doc_id
      LEFT JOIN near n ON n.doc_id = d.doc_id
      JOIN qs q ON q.doc_id = d.doc_id
      WHERE d.doc_id % {_C05_MOD} = {_C05_REM})
    SELECT source, verdict, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_subwords) AS BIGINT) AS est_tokens
    FROM ledger GROUP BY source, verdict
    """


@query(
    "c05_ingest_admission",
    oracle=_c05_oracle(),
    doc="Incremental ingest ADMISSION pipeline — the daily-batch ops "
    "story end-to-end: an incoming batch (doc_id%7==3) is screened "
    "against the standing corpus in first-kill order — exact content "
    "hash (vs corpus AND earlier in-batch twins), MinHash-LSH near-dup "
    "vs the corpus band index (d19's broadcast-batch machinery, same "
    "hot-bucket cap), then the d38 learned quality gate — and the "
    "(source, verdict) admission ledger reports docs + estimated "
    "tokens per outcome. Composes d02+d19+d38 into the c-series "
    "pipeline shape (c01-c04 are batch corpus builds; c05 is the "
    "steady-state refresh). Scale shape: every stage is linear in the "
    "BATCH — content hashes and band keys broadcast against "
    "precomputed append-only corpus indexes, quality is map-side; "
    "nothing rescans or re-joins the standing corpus beyond the two "
    "keyed index lookups.",
)
def c05_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    is_batch = F.col("doc_id") % _C05_MOD == _C05_REM
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)

    near = (
        incremental_lsh_matches(corpus, batch, max_bucket=D07_MAX_BUCKET)
        .select(F.col("new_id").alias("doc_id"))
        .distinct()
        .withColumn("is_near", F.lit(1))
    )
    ch = corpus.select(F.md5("text").alias("h")).distinct()
    bh = batch.select("doc_id", F.md5("text").alias("h"))
    exact_corpus = bh.join(ch, "h", "left_semi").select("doc_id")
    earlier = bh.select(F.col("h").alias("ph"), F.col("doc_id").alias("pid"))
    exact_batch = (
        bh.join(
            earlier,
            (F.col("ph") == F.col("h")) & (F.col("pid") < F.col("doc_id")),
            "left_semi",
        ).select("doc_id")
    )
    exact = exact_corpus.unionByName(exact_batch).distinct().withColumn(
        "is_exact", F.lit(1)
    )
    q = quality_scores(batch).select("doc_id", "keep")

    ledger = (
        batch.select(
            "doc_id",
            "source",
            F.size(
                F.regexp_extract_all(
                    F.lower("text"), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), 0
                )
            )
            .cast("bigint")
            .alias("n_subwords"),
        )
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .join(q, "doc_id", "left")
        .select(
            "source",
            F.when(F.col("is_exact") == 1, "exact_dup")
            .when(F.col("is_near") == 1, "near_dup")
            .when(F.coalesce("keep", F.lit(0)) == 0, "low_quality")
            .otherwise("admitted")
            .alias("verdict"),
            "n_subwords",
        )
    )
    return ledger.groupBy("source", "verdict").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_subwords").cast("bigint").alias("est_tokens"),
    )


# --- window-free quality bucketing via order-statistic thresholds ------------
@query(
    "d48_threshold_buckets",
    oracle=f"""
    WITH {_sql_quality("d.doc_id, d.lang")},
    scored AS (SELECT doc_id, lang, logit FROM qs),
    {_sql_tiles("scored")},
    th AS (
      SELECT lang,
             list_sort(list(logit))[CAST(ceil(COUNT(*) / 3.0) AS INT)] AS t1,
             list_sort(list(logit))[CAST(ceil(2 * COUNT(*) / 3.0) AS INT)] AS t2
      FROM scored GROUP BY lang),
    bucketed AS (
      SELECT s.lang, s.doc_id, s.logit,
             CASE WHEN s.logit <= th.t1 THEN 'tail'
                  WHEN s.logit <= th.t2 THEN 'middle'
                  ELSE 'head' END AS bucket
      FROM scored s JOIN th USING (lang))
    SELECT b.lang,
           ROUND(MAX(th.t1), 6) AS t1,
           ROUND(MAX(th.t2), 6) AS t2,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN b.bucket = t.ntile_bucket THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           ROUND(SUM(CASE WHEN b.bucket = t.ntile_bucket THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS agreement_rate
    FROM bucketed b
    JOIN (SELECT lang, doc_id, {_SQL_TILE_NAME} AS ntile_bucket FROM tiled) t
      ON t.lang = b.lang AND t.doc_id = b.doc_id
    JOIN th ON th.lang = b.lang
    GROUP BY b.lang
    """,
    doc="Window-free tercile bucketing — the scale path d47's docstring "
    "promises: instead of a per-language NTILE sort over every row, "
    "compute two ORDER-STATISTIC thresholds per language (the "
    "ceil(n/3)-th and ceil(2n/3)-th smallest logit — exact data "
    "values, no interpolation, so bit-identical cross-engine) and "
    "bucket each doc with two map-side comparisons. The query also "
    "PRICES the swap: per language it reports agreement vs the exact "
    "NTILE assignment — disagreement happens exactly where NTILE's "
    "forced-equal-size cut splits a run of tied logits that "
    "thresholding keeps together (the honest semantic difference, "
    "measured not assumed, same discipline as the e11/e12/e23 "
    "audits). Scale shape: thresholds here use a per-language "
    "collect_list (fine while one language's logits fit an executor; "
    "the documented 100 TB swap is approx_percentile or a two-pass "
    "count-below), after which bucketing is pure map-side — no "
    "window, no per-row shuffle beyond the (lang) threshold "
    "broadcast.",
)
def d48_threshold_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    scored = _scored(docs, "lang").select("lang", "doc_id", "logit")
    th = scored.groupBy("lang").agg(
        F.expr(
            "element_at(sort_array(collect_list(logit)),"
            " cast(ceil(count(1) / 3.0) as int))"
        ).alias("t1"),
        F.expr(
            "element_at(sort_array(collect_list(logit)),"
            " cast(ceil(2 * count(1) / 3.0) as int))"
        ).alias("t2"),
    )
    bucketed = scored.join(F.broadcast(th), "lang").select(
        "lang",
        "doc_id",
        "t1",
        "t2",
        F.when(F.col("logit") <= F.col("t1"), "tail")
        .when(F.col("logit") <= F.col("t2"), "middle")
        .otherwise("head")
        .alias("bucket"),
    )
    tiled = _tiles(scored).select(
        "lang", "doc_id", _tile_name(F.col("tile")).alias("ntile_bucket")
    )
    joined = bucketed.join(tiled, ["lang", "doc_id"])
    return joined.groupBy("lang").agg(
        F.round(F.max("t1"), 6).alias("t1"),
        F.round(F.max("t2"), 6).alias("t2"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("bucket") == F.col("ntile_bucket")).cast("int"))
        .cast("bigint")
        .alias("n_agree"),
        F.round(
            F.sum((F.col("bucket") == F.col("ntile_bucket")).cast("double"))
            / F.count(F.lit(1)),
            6,
        ).alias("agreement_rate"),
    )


# --- streaming ingest admission ----------------------------------------------
@query(
    "s12_streaming_ingest_admission",
    oracle=_c05_oracle(),
    doc="STREAMING ingest admission — c05's screen run as a Structured "
    "Streaming job: the incoming batch is staged as files, streamed "
    "with maxFilesPerTrigger=1 (each file = one micro-batch), and "
    "every micro-batch is screened in foreachBatch against PRECOMPUTED "
    "static state — the corpus band-key index, the corpus content-hash "
    "set, and the batch manifest's first-id-per-hash table — exactly "
    "the append-only indexes a production ingest daemon keeps warm. "
    "Verdicts are ORDER-INDEPENDENT by construction (twin detection "
    "compares against the manifest's min doc_id per hash, not arrival "
    "order), so the streamed ledger is bit-equal to the batch screen "
    "no matter how the source partitions micro-batches — proven by "
    "gating against THE SAME oracle as c05, plus an in-query "
    "completeness assert (ledger rows == incoming rows: no micro-batch "
    "lost or doubled across the stream->disk->scan round trip, the s08 "
    "discipline). Scale shape: per micro-batch cost is linear in the "
    "slice — band keys and hashes broadcast against static indexes; "
    "the corpus is never rescanned after index build.",
)
def s12_streaming_ingest_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % _C05_MOD == _C05_REM
    incoming = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)

    subword = F.size(
        F.regexp_extract_all(
            F.lower("text"), F.lit(r"[a-z]+|[0-9]|[^a-z0-9\s]"), 0
        )
    ).cast("bigint")

    with _released() as caches, staged_stream(
        spark, incoming.repartition(3), schema=incoming.schema, files_per_trigger=1
    ) as st:
        # Static state a production ingest daemon keeps warm (built once,
        # reused by every micro-batch):
        index_keys = (
            band_index(corpus, max_bucket=D07_MAX_BUCKET)
            .select("band", "key")
            .distinct()
            .cache()
        )
        corpus_hashes = corpus.select(F.md5("text").alias("h")).distinct().cache()
        manifest = (
            incoming.select(F.md5("text").alias("h"), "doc_id")
            .groupBy("h")
            .agg(F.min("doc_id").alias("first_id"))
            .cache()
        )
        caches += [index_keys, corpus_hashes, manifest]
        out = st.path("out")

        def screen(bdf: DataFrame, batch_id: int) -> None:
            near = (
                _banded_keys(
                    shingle_rows(bdf, "doc_id", "text", 3, out_id="doc_id"),
                    "doc_id", 8, 4,
                )
                .join(index_keys, ["band", "key"], "left_semi")
                .select("doc_id")
                .distinct()
                .withColumn("is_near", F.lit(1))
            )
            base = bdf.select(
                "doc_id", "source", F.md5("text").alias("h"),
                subword.alias("n_subwords"),
            )
            flagged = (
                base.join(corpus_hashes.withColumn("in_corpus", F.lit(1)), "h", "left")
                .join(manifest, "h", "left")
                .join(near, "doc_id", "left")
                .join(
                    quality_scores(bdf).select("doc_id", "keep"), "doc_id", "left"
                )
                .select(
                    "doc_id",
                    "source",
                    "n_subwords",
                    F.when(
                        (F.col("in_corpus") == 1)
                        | (F.col("first_id") < F.col("doc_id")),
                        "exact_dup",
                    )
                    .when(F.col("is_near") == 1, "near_dup")
                    .when(F.coalesce("keep", F.lit(0)) == 0, "low_quality")
                    .otherwise("admitted")
                    .alias("verdict"),
                )
            )
            flagged.write.mode("append").parquet(out)

        # stateless foreachBatch, but each micro-batch's screen() runs 4
        # joins over a third of the (small) admission batch — 8 shuffle
        # partitions per batch, not 32 of scheduling overhead
        with state_partitions(spark, 8):
            drain(
                st.read()
                .writeStream.foreachBatch(screen)
                .option("checkpointLocation", st.path("chk"))
            )

        ledger = spark.read.parquet(out)
        n_led, n_in = ledger.count(), incoming.count()
        if n_led != n_in:
            raise AssertionError(
                f"streamed ledger has {n_led} rows, incoming batch has {n_in}"
            )
        # materialize the bounded (source, verdict) aggregate before the
        # stage (and the ledger files in it) goes
        return ledger.groupBy("source", "verdict").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_subwords").cast("bigint").alias("est_tokens"),
        ).localCheckpoint(eager=True)


# --- learned quality-classifier FIT ------------------------------------------
#: Fit hyperparameters — shared with the oracle unroll below.
_D49_ETA = 32.0
_D49_ROUNDS = 2
_D49_TOP = 20


def _d49_cte_chain(n_rounds: int = _D49_ROUNDS, eta: float = _D49_ETA) -> str:
    """The unrolled fixed-round logistic fit as a DuckDB WITH body (d37's
    BPE-fit discipline), ending at the final weight table ``w{n}``: each
    round's margin/probability/gradient/update CTEs splice the SAME
    expression fragments the Spark loop evaluates (functions/logistic.py
    SIGMOID_SQL / UPDATE_SQL / DSUM_SQL), so the two engines run
    identical IEEE expression trees over identical decimal-exact sums.
    Shared by d49 (weight inspection) and d52 (train-fit evaluation)."""
    rounds = []
    for r in range(1, n_rounds + 1):
        p = r - 1
        rounds.append(f"""
    z{r} AS (SELECT doc_id, {DSUM_SQL.format(e="w * x")} AS z
             FROM x JOIN w{p} USING (b) GROUP BY doc_id),
    p{r} AS (SELECT doc_id, {SIGMOID_SQL.format(z="z")} AS p FROM z{r}),
    g{r} AS (SELECT b, {DSUM_SQL.format(e="(y - p) * x")} AS g
             FROM x JOIN lab USING (doc_id) JOIN p{r} USING (doc_id)
             GROUP BY b),
    w{r} AS MATERIALIZED (
      SELECT w{p}.b, {UPDATE_SQL.format(eta=eta)} AS w
      FROM w{p} LEFT JOIN g{r} USING (b) CROSS JOIN nd)""")
    return f"""
    WITH lab AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y
            FROM documents),
    {_sql_qfeats()},
    cnt AS (
      SELECT doc_id, {_SQL_QBUCKET} AS b, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM qf GROUP BY 1, 2),
    nf AS (SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats
           FROM cnt GROUP BY doc_id),
    x AS MATERIALIZED (
      SELECT c.doc_id, b, CAST(cnt AS DOUBLE) / n_feats AS x
      FROM cnt c JOIN nf USING (doc_id)),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM x),
    w0 AS (SELECT DISTINCT b, 0.0 AS w FROM x),{",".join(rounds)}"""


def _d49_oracle(n_rounds: int = _D49_ROUNDS, eta: float = _D49_ETA) -> str:
    return f"""{_d49_cte_chain(n_rounds, eta)},
    final AS (
      SELECT b, ROUND(w, 12) AS w FROM w{n_rounds}),
    ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY abs(w) DESC, b) AS INTEGER)
               AS rank, b AS bucket, w AS weight
      FROM final QUALIFY rank <= {_D49_TOP})
    SELECT rank, bucket, weight FROM ranked
    """


@session_memo
def _logit_fit(spark: SparkSession, sf_dir: str):
    """The d49/d52 classifier fit: the hashed feature frame and the FINAL
    fitted weight table. d49 ranks the weights and d52 scores the corpus
    against them."""
    docs = tbl(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    x = feature_matrix(docs).cache()
    yield x, logistic_fit(
        x, labels, n_rounds=_D49_ROUNDS, eta=_D49_ETA, unpersist=False
    )
    x.unpersist()


@query(
    "d49_logistic_fit",
    oracle=_d49_oracle(),
    doc="Learned quality-classifier FIT "
    "— the trainer for the fastText/CCNet-shape linear gate d38 serves, "
    "completing the standard pipeline loop fit (d49) -> score (d38) -> "
    "tercile (d47) -> gate (d24/d43). Full-batch gradient ascent on "
    "L1-normalized hashed unigram+bigram features (d38's 4096 md5 "
    "buckets) against a rule-derived label (y = lang='en' — the fastText "
    "langid training shape); 2 fixed rounds, eta=32. FULLY hash-gated "
    "where MLlib's iterative fits (m01-m05) are rows-only: fixed "
    "full-batch rounds + decimal-exact accumulators + an algebraic "
    "sigmoid surrogate (0.5 + z/(2*(1+|z|)), no libm) make round r a "
    "pure function of round r-1, so the DuckDB oracle unrolls the "
    "rounds as CTEs splicing the SAME expression fragments and "
    "reproduces every weight (functions/logistic.py; differential-"
    "tested against a pure-Python fit in tests/test_ml.py). Scale "
    "shape: corpus tokenizes ONCE into a cached (doc,bucket,x) frame; "
    "each round is one doc-keyed margin pass with the bounded "
    "(<=4096-row) weight table broadcast plus one bucket-keyed "
    "gradient pass — n_rounds x 2 linear passes, no driver matrix.",
)
def d49_logistic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    _, wfit = _logit_fit(spark, sf_dir)
    w = wfit.select(
        "b", F.round("w", 12).alias("w"), F.abs(F.round("w", 12)).alias("aw")
    )
    top = w.orderBy(F.col("aw").desc(), "b").limit(_D49_TOP)
    return bounded_rank(top, [("aw", "desc"), ("b", "asc")], "rank").select(
        F.col("rank").cast("int").alias("rank"),
        F.col("b").alias("bucket"),
        F.col("w").alias("weight"),
    )


# --- Gopher repetition rules -------------------------------------------------
#: Keep-gate thresholds (Rae et al. 2021 shape; values tuned so both
#: verdicts occur on the synthetic corpus).
_D50_MAX_ADJ = 0.10
_D50_MAX_TOP2 = 0.15
_D50_MAX_DUP3 = 0.05


@query(
    "d50_repetition_rules",
    oracle=f"""
    WITH {_sql_tk()},
    base AS (
      SELECT doc_id,
             CAST(len(t) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct,
             CAST(len(array_to_string(t, '')) AS BIGINT) AS tot_chars,
             CAST(len(list_filter([t[i] = t[i+1] for i in range(1, len(t))],
                                  x -> x)) AS BIGINT) AS adj
      FROM tk),
    bg AS (SELECT doc_id,
                  unnest([t[i] || '_' || t[i+1] for i in range(1, len(t))]) AS g
           FROM tk),
    bgc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM bg GROUP BY doc_id, g),
    top AS (SELECT doc_id, cnt, g FROM (
              SELECT doc_id, cnt, g,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY cnt DESC, g DESC) AS rn
              FROM bgc) WHERE rn = 1),
    tg AS (SELECT doc_id,
                  unnest([array_to_string(t[i:i+2], '_')
                          for i in range(1, len(t) - 1)]) AS g
           FROM tk),
    tgc AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM tg GROUP BY doc_id, g),
    dup3 AS (SELECT doc_id,
                    CAST(SUM(CASE WHEN cnt > 1 THEN cnt * (len(g) - 2)
                             ELSE 0 END) AS BIGINT) AS dup_chars
             FROM tgc GROUP BY doc_id),
    m AS (
      SELECT b.doc_id, b.n_tokens,
             CAST(b.n_tokens - b.n_distinct AS DOUBLE) / b.n_tokens
               AS dup_token_frac,
             CASE WHEN b.n_tokens > 1
                  THEN CAST(adj AS DOUBLE) / (b.n_tokens - 1)
                  ELSE 0.0 END AS adjacent_repeat_frac,
             CAST(COALESCE(t.cnt * (len(t.g) - 1), 0) AS DOUBLE) / b.tot_chars
               AS top_bigram_char_frac,
             CAST(COALESCE(d.dup_chars, 0) AS DOUBLE) / b.tot_chars
               AS dup_3gram_char_frac
      FROM base b LEFT JOIN top t USING (doc_id) LEFT JOIN dup3 d USING (doc_id))
    SELECT doc_id, n_tokens, dup_token_frac, adjacent_repeat_frac,
           top_bigram_char_frac, dup_3gram_char_frac,
           adjacent_repeat_frac <= {_D50_MAX_ADJ}
             AND top_bigram_char_frac <= {_D50_MAX_TOP2}
             AND dup_3gram_char_frac <= {_D50_MAX_DUP3} AS keep
    FROM m
    """,
    doc="Gopher repetition rules (Rae et al. 2021, public literature) — "
    "the standard pretraining repetition-removal gate: per document, "
    "duplicate-token fraction, adjacent-repeat fraction, fraction of "
    "characters in the most frequent word bigram, and fraction of "
    "characters in duplicated trigrams, thresholded into a keep gate. "
    "Complements d16 (top-token/top-bigram COUNT-mass screens): this "
    "adds the paper's CHARACTER-mass forms, the duplicated-n-gram "
    "family, and the composite keep verdict. "
    "The paper's line/paragraph variants collapse on this corpus (the "
    "synthetic text has no newlines), so the token-window forms carry "
    "the same signals — documented adaptation, same operator shape. "
    "Every metric is a ratio of exact integers (one IEEE division — "
    "bit-portable); the per-doc top bigram is max(struct(cnt,g)) with "
    "ties to the LARGEST gram, mirrored by the oracle's ORDER BY cnt "
    "DESC, g DESC. Scale shape: tokens materialize once as an attribute "
    "column (the SCALING addendum-6 CSE rule: lambdas over slices of an "
    "attribute, never an inline expression), metrics are map-side "
    "higher-order functions plus two (doc,gram)-keyed counts — linear, "
    "no windows (the oracle's ROW_NUMBER is argmax, Spark runs it as a "
    "struct max).",
)
def d50_repetition_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    d = docs.select("doc_id", tokens("text").alias("t"))
    n = F.size("t")
    adj_pairs = F.zip_with(
        F.slice("t", 1, n - 1), F.slice(F.col("t"), 2, n - 1), lambda a, b: a == b
    )
    base = d.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("bigint").alias("n_distinct"),
        F.length(F.array_join("t", "")).cast("bigint").alias("tot_chars"),
        F.when(n >= 2, F.size(F.filter(adj_pairs, lambda x: x)))
        .otherwise(0)
        .cast("bigint")
        .alias("adj"),
    )
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice("t", 1, n - 1),
            F.slice(F.col("t"), 2, n - 1),
            lambda a, b: F.concat(a, F.lit("_"), b),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    bgc = (
        d.select("doc_id", F.explode(bigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    top = bgc.groupBy("doc_id").agg(F.max(F.struct("cnt", "g")).alias("m")).select(
        "doc_id", F.col("m.cnt").alias("cnt"), F.col("m.g").alias("g")
    )
    tri_ab = F.zip_with(
        F.slice("t", 1, n - 2),
        F.slice(F.col("t"), 2, n - 2),
        lambda a, b: F.concat(a, F.lit("_"), b),
    )
    trigrams = F.when(
        n >= 3,
        F.zip_with(
            tri_ab, F.slice(F.col("t"), 3, n - 2),
            lambda ab, c: F.concat(ab, F.lit("_"), c),
        ),
    ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
    dup3 = (
        d.select("doc_id", F.explode(trigrams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * (F.length("g") - 2))
                .otherwise(0)
            )
            .cast("bigint")
            .alias("dup_chars")
        )
    )
    m = (
        base.join(top, "doc_id", "left")
        .join(dup3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (
                (F.col("n_tokens") - F.col("n_distinct")).cast("double")
                / F.col("n_tokens")
            ).alias("dup_token_frac"),
            F.when(
                F.col("n_tokens") > 1,
                F.col("adj").cast("double") / (F.col("n_tokens") - 1),
            )
            .otherwise(0.0)
            .alias("adjacent_repeat_frac"),
            (
                F.coalesce(F.col("cnt") * (F.length("g") - 1), F.lit(0)).cast(
                    "double"
                )
                / F.col("tot_chars")
            ).alias("top_bigram_char_frac"),
            (
                F.coalesce("dup_chars", F.lit(0)).cast("double")
                / F.col("tot_chars")
            ).alias("dup_3gram_char_frac"),
        )
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "adjacent_repeat_frac",
        "top_bigram_char_frac",
        "dup_3gram_char_frac",
        (
            (F.col("adjacent_repeat_frac") <= _D50_MAX_ADJ)
            & (F.col("top_bigram_char_frac") <= _D50_MAX_TOP2)
            & (F.col("dup_3gram_char_frac") <= _D50_MAX_DUP3)
        ).alias("keep"),
    )


# --- per-domain admission cap ------------------------------------------------
#: Max documents retained per source domain.
_D51_CAP = 15


@query(
    "d51_domain_cap",
    oracle=f"""
    WITH {_sql_quality("d.doc_id, d.source")},
    ranked AS (
      SELECT source, doc_id, logit,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY logit DESC, doc_id) AS rn
      FROM qs)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (rn <= {_D51_CAP}) AS BIGINT) AS n_kept,
           CAST(COUNT(*) FILTER (rn > {_D51_CAP}) AS BIGINT) AS n_dropped,
           ROUND(MIN(CASE WHEN rn <= {_D51_CAP} THEN logit END), 6)
             AS min_kept_logit,
           ROUND(MAX(CASE WHEN rn > {_D51_CAP} THEN logit END), 6)
             AS max_dropped_logit
    FROM ranked GROUP BY source
    """,
    doc="Per-domain admission cap with quality-ranked retention — the "
    "crawl-curation op every corpus build runs (no single domain may "
    f"dominate the mix): keep the top {_D51_CAP} documents per source "
    "by the learned d38 logit (doc_id tiebreak), drop the rest, and "
    "report the per-source ledger with the cut boundary (lowest kept "
    "vs highest dropped logit — adjacent ranks, so boundary sanity is "
    "visible in the gate). Scale shape: scoring is d38's map-side "
    "pass; the rank is a window PARTITIONED BY source (domains are "
    "the partition key — parallelism scales with domain count, never "
    "a global sort); the ledger is one (source)-keyed agg. The logit "
    "is an exact integer ratio, so ordering and the rounded boundary "
    "values are engine-portable.",
)
def d51_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = _scored(fan_out(tbl(spark, sf_dir, "documents")), "source")
    w = Window.partitionBy("source").orderBy(F.col("logit").desc(), "doc_id")
    ranked = scored.select(
        "source", "doc_id", "logit", F.row_number().over(w).alias("rn")
    )
    kept = F.col("rn") <= _D51_CAP
    return ranked.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(kept.cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~kept).cast("int")).cast("bigint").alias("n_dropped"),
        F.round(F.min(F.when(kept, F.col("logit"))), 6).alias("min_kept_logit"),
        F.round(F.max(F.when(~kept, F.col("logit"))), 6).alias("max_dropped_logit"),
    )


# --- classifier train-fit evaluation -----------------------------------------
def _d52_oracle(n_rounds: int = _D49_ROUNDS, eta: float = _D49_ETA) -> str:
    return f"""{_d49_cte_chain(n_rounds, eta)},
    zf AS (SELECT doc_id, {DSUM_SQL.format(e="w * x")} AS z
           FROM x JOIN w{n_rounds} USING (b) GROUP BY doc_id),
    pred AS (SELECT doc_id, z > 0.0 AS pos FROM zf),
    conf AS (
      SELECT CAST(COUNT(*) FILTER (pos AND y = 1.0) AS BIGINT) AS tp,
             CAST(COUNT(*) FILTER (pos AND y = 0.0) AS BIGINT) AS fp,
             CAST(COUNT(*) FILTER (NOT pos AND y = 0.0) AS BIGINT) AS tn,
             CAST(COUNT(*) FILTER (NOT pos AND y = 1.0) AS BIGINT) AS fn,
             CAST(COUNT(*) AS BIGINT) AS n_scored,
             CAST(SUM(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
      FROM pred JOIN lab USING (doc_id))
    SELECT tp, fp, tn, fn, n_scored,
           CAST(tp + tn AS DOUBLE) / n_scored AS accuracy,
           CAST(n_pos AS DOUBLE) / n_scored AS base_rate
    FROM conf
    """


@query(
    "d52_classifier_eval",
    oracle=_d52_oracle(),
    doc="Train-fit EVALUATION of the d49 logistic classifier — the eval "
    "stage that closes the loop fit (d49) -> eval (here) -> score (d38) "
    "-> tercile (d47) -> gate: score every featured document with the "
    "FINAL fitted weights (one more margin pass over the cached feature "
    "frame; predicted positive iff margin z > 0, which is exactly "
    "p > 1/2 under the monotone sigmoid surrogate) and emit the exact "
    "integer confusion matrix against the training labels plus "
    "accuracy/base-rate as one-division ratios. Every cell is either "
    "an exact integer count or a single IEEE division of exact "
    "integers, and the margins are the same decimal-exact dot products "
    "the fit gate already proves bit-portable — so the WHOLE confusion "
    "matrix hash-gates, not just a tolerance band. Scale shape: the "
    "fit's n_rounds x 2 linear passes plus ONE more doc-keyed margin "
    "aggregation with the bounded weight table broadcast; the "
    "confusion rollup is a single-row aggregate.",
)
def d52_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    labels = docs.select(
        "doc_id", F.when(F.col("lang") == "en", 1.0).otherwise(0.0).alias("y")
    )
    x, w = _logit_fit(spark, sf_dir)
    zf = (
        x.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.expr(DSUM_SQL.format(e="w * x")).alias("z"))
    )
    pos = F.col("z") > 0.0
    y1 = F.col("y") == 1.0
    conf = (
        zf.join(labels, "doc_id")
        .agg(
            F.sum((pos & y1).cast("int")).cast("bigint").alias("tp"),
            F.sum((pos & ~y1).cast("int")).cast("bigint").alias("fp"),
            F.sum((~pos & ~y1).cast("int")).cast("bigint").alias("tn"),
            F.sum((~pos & y1).cast("int")).cast("bigint").alias("fn"),
            F.count(F.lit(1)).cast("bigint").alias("n_scored"),
            F.sum(y1.cast("int")).cast("bigint").alias("n_pos"),
        )
    )
    return conf.select(
        "tp",
        "fp",
        "tn",
        "fn",
        "n_scored",
        ((F.col("tp") + F.col("tn")).cast("double") / F.col("n_scored")).alias(
            "accuracy"
        ),
        (F.col("n_pos").cast("double") / F.col("n_scored")).alias("base_rate"),
    )


# --- UniMax capped budget allocation -----------------------------------------
#: Fixed waterfilling rounds (leftover after the last round stays
#: unallocated — documented semantics, mirrored by the oracle).
_D53_ROUNDS = 4
#: Budget as a fraction of total corpus tokens: 9/10 in exact integers.
_D53_B_NUM, _D53_B_DEN = 9, 10


def _d53_oracle(n_rounds: int = _D53_ROUNDS) -> str:
    return f"""
    WITH nt AS (SELECT source, len({_TOKS}) AS n_tok FROM documents),
    {_sql_volumes("nt")},
    {_sql_unimax("ps", n_rounds)}
    SELECT source, n_tokens, CAST(a AS BIGINT) AS alloc_tokens,
           a = cap AS saturated,
           CAST(a AS DOUBLE) / n_tokens AS epochs
    FROM s{n_rounds}
    """


@query(
    "d53_unimax_allocation",
    oracle=_d53_oracle(),
    doc="UniMax budget allocation (Chung et al. 2023, public literature) "
    "— the capped waterfilling that d36's tempered shares lack: spread "
    "a global token budget UNIFORMLY across sources, but never take "
    "more than a source's epoch cap (here 1 epoch = its token count); "
    "sources that saturate drop out and their unused share "
    "redistributes among the survivors in the next round. 4 fixed "
    "rounds (leftover after round 4 stays unallocated — documented), "
    "every step integer arithmetic: uniform share = remaining div "
    "active-count, caps and budget exact BIGINTs, so the DuckDB oracle "
    "unrolls the identical recurrence and every allocation matches "
    "bit-for-bit; the one double (epochs consumed) is a single exact "
    "division. Scale shape: ONE corpus tokenize-count pass collapses "
    "everything to a per-source frame (bounded by the source domain); "
    "the waterfilling rounds are arithmetic over that tiny frame with "
    "one-row broadcast totals — the d36/d18 mix-report discipline.",
)
def d53_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    ps = _volumes(docs.select("source", F.size(tokens("text")).alias("n_tok")))
    return _unimax(ps).select(
        "source",
        "n_tokens",
        F.col("a").alias("alloc_tokens"),
        (F.col("a") == F.col("cap")).alias("saturated"),
        (F.col("a").cast("double") / F.col("n_tokens")).alias("epochs"),
    )


# --- source-level boilerplate detection --------------------------------------
#: A shingle is boilerplate within a source when it appears in at least
#: half of that source's (shingleable) documents.
_D54_NUM, _D54_DEN = 1, 2


@query(
    "d54_boilerplate_detection",
    oracle=f"""
    WITH {_SHINGLE_CTES},
    src AS (SELECT doc_id, source FROM documents),
    ss AS (SELECT s.source,
                  {_sql_h60("sh.sh")} AS sh,
                  sh.doc_id
           FROM sh JOIN src s USING (doc_id)),
    per_source AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
                   FROM ss GROUP BY source),
    freq AS (SELECT source, sh, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
             FROM ss GROUP BY source, sh),
    bp AS (SELECT f.source, f.sh
           FROM freq f JOIN per_source p USING (source)
           WHERE f.df * {_D54_DEN} >= p.n_docs * {_D54_NUM}
             AND p.n_docs >= 2),
    hit AS (SELECT DISTINCT ss.source, ss.doc_id
            FROM ss JOIN bp ON bp.source = ss.source AND bp.sh = ss.sh)
    SELECT p.source, p.n_docs,
           CAST(COALESCE(b.n_bp, 0) AS BIGINT) AS n_boilerplate_shingles,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_docs_affected,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / p.n_docs AS affected_frac
    FROM per_source p
    LEFT JOIN (SELECT source, COUNT(*) AS n_bp FROM bp GROUP BY source) b
      USING (source)
    LEFT JOIN (SELECT source, COUNT(*) AS n_hit FROM hit GROUP BY source) h
      USING (source)
    """,
    doc="Source-level BOILERPLATE detection — the template-removal signal "
    "(RefinedWeb-style: navigation chrome, legal footers, and injected "
    "banners repeat across most pages OF ONE SITE, which per-document "
    "repetition metrics like d27/d50 cannot see): a 3-word shingle is "
    "boilerplate within a source when at least half of that source's "
    "documents contain it (integer cross-multiplication — no float "
    "threshold), and the ledger reports per source how many template "
    "shingles exist and what fraction of its documents carry one. The "
    "cleanup pass this feeds is d31's span scrub keyed on these "
    "shingles. Scale shape: one shingle pass, a (source, shingle)-keyed "
    "distinct-doc count, a broadcast-friendly per-source total, one "
    "semi-join back — all shuffles carry (id, shingle) rows, nothing "
    "quadratic, no windows.",
)
def d54_boilerplate_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    sh = shingle_rows(docs, "doc_id", "text", 3, out_id="doc_id")
    # Hash each shingle to a portable 60-bit int BEFORE anything shuffles:
    # the (source, shingle)-keyed distinct count otherwise ships raw
    # 3-word strings through a two-phase aggregation (measured 21x the
    # corpus text in shuffle bytes at sf0.1; 8-byte keys cut it ~4x).
    # md5-prefix hashing is engine-portable, so the oracle groups on the
    # IDENTICAL hash classes — ledger parity holds even under the
    # (2^-60-scale) collision, because both engines collide identically.
    ss = (
        sh.select("doc_id", shingle_hash().alias("sh"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "sh", "doc_id")
    )
    per_source = ss.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    freq = ss.groupBy("source", "sh").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    bp = (
        freq.join(F.broadcast(per_source), "source")
        .filter(
            (F.col("df") * _D54_DEN >= F.col("n_docs") * _D54_NUM)
            & (F.col("n_docs") >= 2)
        )
        .select("source", "sh")
    )
    hit = (
        ss.join(bp, ["source", "sh"], "left_semi")
        .select("source", "doc_id")
        .distinct()
    )
    n_bp = bp.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_bp"))
    n_hit = hit.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        per_source.join(n_bp, "source", "left")
        .join(n_hit, "source", "left")
        .select(
            "source",
            "n_docs",
            F.coalesce("n_bp", F.lit(0)).cast("bigint").alias(
                "n_boilerplate_shingles"
            ),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_docs_affected"),
            (
                F.coalesce("n_hit", F.lit(0)).cast("double") / F.col("n_docs")
            ).alias("affected_frac"),
        )
    )


# --- per-mix data card -------------------------------------------------------
def _d55_oracle(n_rounds: int = _D53_ROUNDS) -> str:
    """Compose the d18/d02/d47/d33/d36/d53 per-source ledgers into one
    data-card oracle (the c03 composition precedent): volumes, exact-dup
    rate, per-lang quality-tercile head share, length-histogram drift,
    tempered weight/share, and the UniMax capped allocation."""
    return f"""
    WITH {_sql_base("doc_id, source, lang")},
    {_sql_volumes("base")},
    {_sql_keep("base")},
    dups AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS dup_docs
             FROM base JOIN keep USING (h)
             WHERE doc_id <> keep_id GROUP BY source),
    {_sql_quality("d.doc_id, d.source, d.lang")},
    {_sql_tiles("qs")},
    heads AS (SELECT source,
                     CAST(COUNT(*) FILTER (tile = 1) AS BIGINT) AS n_head
              FROM tiled GROUP BY source),
    {_sql_drift("base")},
    {_sql_tempered("ps")},
    {_sql_unimax("ps", n_rounds)}
    SELECT ps.source, ps.n_docs, ps.n_tokens,
           CAST(COALESCE(dups.dup_docs, 0) AS BIGINT) AS dup_docs,
           CAST(COALESCE(dups.dup_docs, 0) AS DOUBLE) / ps.n_docs AS dup_rate,
           CAST(heads.n_head AS DOUBLE) / ps.n_docs AS head_share,
           drift.tv_distance,
           wtd.w AS temper_weight,
           CAST(wtd.w AS DOUBLE) / (SELECT sw FROM swt) AS temper_share,
           CAST(s{n_rounds}.a AS BIGINT) AS unimax_alloc,
           CAST(s{n_rounds}.a AS DOUBLE) / ps.n_tokens AS unimax_epochs
    FROM ps
    LEFT JOIN dups USING (source)
    JOIN heads USING (source)
    JOIN drift USING (source)
    JOIN wtd USING (source)
    JOIN s{n_rounds} USING (source)
    ORDER BY source
    """


@query(
    "d55_datamix_card",
    oracle=_d55_oracle(),
    doc="Per-mix DATA CARD — the one-table rollup a training run records "
    "per source, composing the already-gated per-source ledgers "
    "(c03's composition precedent): volumes (d18: docs, tokens), "
    "exact-duplicate rate (d02's content-hash groups, duplicates "
    "attributed to the holding source), quality head-share (share of "
    "the source's docs in d47's per-language top NTILE(3) tercile of "
    "the d38 logit), length-distribution drift vs the corpus blend "
    "(d33's integer-exact total-variation distance), and BOTH mix "
    "weights — d36's sqrt-tempered weight/share and d53's UniMax "
    "capped-waterfilling allocation with epochs consumed. Scale "
    "shape: one narrow (id, source, lang, n_tok, hash) projection "
    "feeds every branch (the Spark side composes the d33, d36, d47 and "
    "d53 helpers rather than copying them; the d38 feature explode is "
    "its own map-side pass); every "
    "downstream join is per-source (domain-bounded) or per-bin "
    "(constant), the tercile cut is the d47 per-language window, and "
    "the waterfilling rounds are arithmetic over the tiny per-source "
    "frame with one-row broadcast totals.",
)
def d55_datamix_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    base = _base(docs, "source", "lang")
    ps = _volumes(base)
    dups = (
        base.join(_keep(base), "h")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dup_docs"))
    )
    heads = (
        _tiles(_scored(docs, "source", "lang"))
        .groupBy("source")
        .agg(F.sum((F.col("tile") == 1).cast("int")).cast("bigint").alias("n_head"))
    )
    unimax = _unimax(ps).select("source", F.col("a").alias("ualloc"))
    dup_docs = F.coalesce("dup_docs", F.lit(0)).cast("bigint")
    return (
        ps.join(dups, "source", "left")
        .join(heads, "source")
        .join(_length_drift(base).select("source", "tv_distance"), "source")
        .join(_tempered(ps).select("source", "w", "sw"), "source")
        .join(unimax, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            dup_docs.alias("dup_docs"),
            (dup_docs.cast("double") / F.col("n_docs")).alias("dup_rate"),
            (F.col("n_head").cast("double") / F.col("n_docs")).alias("head_share"),
            "tv_distance",
            F.col("w").alias("temper_weight"),
            (F.col("w").cast("double") / F.col("sw")).alias("temper_share"),
            F.col("ualloc").cast("bigint").alias("unimax_alloc"),
            (F.col("ualloc").cast("double") / F.col("n_tokens")).alias(
                "unimax_epochs"
            ),
        )
        .orderBy("source")
    )


# --- data-card snapshot diff -------------------------------------------------
#: The survivor of a content-hash group before the admission batch.
_SQL_KEEP_PREV = ", MIN(CASE WHEN NOT is_new THEN doc_id END) AS keep_prev"

@query(
    "d56_datacard_snapshot_diff",
    oracle=f"""
    WITH {_sql_base(f"doc_id, source, doc_id % {_C05_MOD} = {_C05_REM} AS is_new")},
    {_sql_keep("base", _SQL_KEEP_PREV)},
    flagged AS (
      SELECT b.source, b.n_tok, b.is_new,
             b.doc_id <> k.keep_id AS dup_now,
             (NOT b.is_new) AND b.doc_id <> k.keep_prev AS dup_prev
      FROM base b JOIN keep k USING (h))
    SELECT source,
           CAST(COUNT(*) FILTER (NOT is_new) AS BIGINT) AS n_docs_prev,
           CAST(COUNT(*) AS BIGINT) AS n_docs_now,
           CAST(COUNT(*) FILTER (is_new) AS BIGINT) AS docs_added,
           CAST(SUM(n_tok) FILTER (NOT is_new) AS BIGINT) AS n_tokens_prev,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens_now,
           CAST(COUNT(*) FILTER (dup_prev) AS DOUBLE)
             / COUNT(*) FILTER (NOT is_new) AS dup_rate_prev,
           CAST(COUNT(*) FILTER (dup_now) AS DOUBLE) / COUNT(*) AS dup_rate_now,
           CAST(COUNT(*) FILTER (is_new) AS DOUBLE) / COUNT(*) AS batch_share
    FROM flagged GROUP BY source ORDER BY source
    """,
    doc="Data-card SNAPSHOT DIFF — the drift-vs-previous-snapshot row the "
    "d55 card's per-release comparison needs: the corpus before the "
    "c05 admission batch (doc_id % 7 == 3 arrives later — c05's "
    "convention) vs after, per source: volume deltas (docs, tokens), "
    "exact-dup rate in EACH state (a batch can both add duplicates of "
    "standing docs and make a standing doc the duplicate's survivor — "
    "keep ids are computed per state from the same hash groups), and "
    "the batch's share of the new snapshot. Scale shape: ONE narrow "
    "tokenize+hash pass, one hash-keyed aggregate carrying both "
    "states' keep ids (conditional min — no second corpus scan), one "
    "per-source rollup; all counts integer, the three rates one "
    "division each.",
)
def d56_datacard_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents")).withColumn(
        "is_new", F.col("doc_id") % _C05_MOD == _C05_REM
    )
    base = _base(docs, "source", "is_new")
    keep = _keep(base, F.min(F.when(~F.col("is_new"), F.col("doc_id"))).alias("keep_prev"))
    flagged = base.join(keep, "h").select(
        "source",
        "n_tok",
        "is_new",
        (F.col("doc_id") != F.col("keep_id")).alias("dup_now"),
        ((~F.col("is_new")) & (F.col("doc_id") != F.col("keep_prev"))).alias(
            "dup_prev"
        ),
    )
    cnt = F.count(F.lit(1))
    prev = F.sum((~F.col("is_new")).cast("int"))
    return (
        flagged.groupBy("source")
        .agg(
            prev.cast("bigint").alias("n_docs_prev"),
            cnt.cast("bigint").alias("n_docs_now"),
            F.sum(F.col("is_new").cast("int")).cast("bigint").alias("docs_added"),
            F.sum(F.when(~F.col("is_new"), F.col("n_tok")))
            .cast("bigint")
            .alias("n_tokens_prev"),
            F.sum("n_tok").cast("bigint").alias("n_tokens_now"),
            (
                F.sum(F.col("dup_prev").cast("int")).cast("double")
                / prev
            ).alias("dup_rate_prev"),
            (F.sum(F.col("dup_now").cast("int")).cast("double") / cnt).alias(
                "dup_rate_now"
            ),
            (F.sum(F.col("is_new").cast("int")).cast("double") / cnt).alias(
                "batch_share"
            ),
        )
        .orderBy("source")
    )


# --- PII scrub ---------------------------------------------------------------
#: Deterministic PII fixture: the synthetic corpus text is digit-free word
#: salad, so a scrub over it would gate nothing. Both engines therefore
#: splice structural PII into the text with the SAME ANSI fragment (the
#: d49/d37 shared-fragment discipline — identical string rendering in
#: Spark and DuckDB), making detection counts, redacted char deltas, and
#: the redacted-text checksum real hash-gated cells. The operator itself
#: (functions/pii.py) is corpus-agnostic.
_D57_BASE = (
    "CASE CAST(doc_id % 7 AS INT)"
    " WHEN 1 THEN text || ' contact user' || CAST(doc_id AS STRING)"
    " || '@mail.example.com for details'"
    " WHEN 2 THEN text || ' server at 10.' || CAST(doc_id % 200 AS STRING)"
    " || '.0.' || CAST(doc_id % 250 AS STRING) || ' responded'"
    " WHEN 3 THEN text || ' ssn is 123-45-'"
    " || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
    " WHEN 4 THEN text || ' call 555-'"
    " || lpad(CAST(doc_id % 900 + 100 AS STRING), 3, '0')"
    " || '-' || lpad(CAST(doc_id % 10000 AS STRING), 4, '0')"
    " ELSE text END"
)
#: A second class for doc_id % 14 == 8 (a subset of the email branch;
#: 7 is coprime with the 20 sources, so every source sees every class):
#: multi-class docs exercise the redaction chain, not just single hits.
_D57_AUG = (
    f"CASE WHEN doc_id % 14 = 8 THEN ({_D57_BASE})"
    " || ' from 192.168.1.' || CAST(doc_id % 250 AS STRING)"
    f" ELSE ({_D57_BASE}) END"
)


def _d57_oracle() -> str:
    counts = ",\n             ".join(
        f"len(regexp_extract_all(t, '{pat}')) AS c_{name}"
        for name, pat, _tok in PII_CLASSES
    )
    sums = ",\n           ".join(
        f"CAST(SUM(c_{name}) AS BIGINT) AS n_{name}"
        for name, _pat, _tok in PII_CLASSES
    )
    any_hit = " + ".join(f"c_{name}" for name, _p, _t in PII_CLASSES)
    return f"""
    WITH aug AS (SELECT source, {_D57_AUG} AS t FROM documents),
    hits AS (SELECT source, t, {sql_redact('t')} AS r,
             {counts}
             FROM aug)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN {any_hit} > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_flagged,
           {sums},
           CAST(SUM(length(t) - length(r)) AS BIGINT) AS chars_redacted,
           CAST(CAST(SUM({_sql_h60("r")})
                     AS DECIMAL(38,0)) AS VARCHAR) AS redacted_checksum
    FROM hits GROUP BY source
    """


@query(
    "d57_pii_scrub",
    oracle=_d57_oracle(),
    doc="PII detection + redaction ledger (Dodge et al. 2021, arXiv "
    "2104.08758 — the C4 audit's PII classes; functions/pii.py): "
    "structural email/IPv4/SSN/phone patterns in the Java-RE2-common "
    "regex subset, counted with regexp_extract_all and scrubbed with an "
    "ordered regexp_replace chain, then rolled up per source with an "
    "order-independent md5-prefix checksum of the REDACTED text (io15's "
    "checksum convention) — a changed or missed substitution anywhere "
    "flips the gate. The corpus is digit-free synthetic text, so both "
    "engines splice deterministic PII via a shared ANSI fragment first "
    "(fixture, not operator). Scale shape: one projected linear pass, "
    "all JVM-side regex inside codegen, the only shuffle is the "
    "per-source 1-row rollup.",
)
def d57_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    aug = F.expr(_D57_AUG)
    hits = docs.select(
        "source",
        aug.alias("t"),
        redact_pii(aug).alias("r"),
        *[
            pii_count(aug, pat).alias(f"c_{name}")
            for name, pat, _tok in PII_CLASSES
        ],
    )
    any_hit = sum(F.col(f"c_{name}") for name, _p, _t in PII_CLASSES)
    checksum_int = F.conv(F.substring(F.md5("r"), 1, 15), 16, 10).cast("bigint")
    return hits.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((any_hit > 0).cast("int")).cast("bigint").alias("n_docs_flagged"),
        *[
            F.sum(f"c_{name}").cast("bigint").alias(f"n_{name}")
            for name, _p, _t in PII_CLASSES
        ],
        F.sum(F.length("t") - F.length("r")).cast("bigint").alias(
            "chars_redacted"
        ),
        F.sum(checksum_int.cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("redacted_checksum"),
    )


# --- DSIR-style importance resampling ----------------------------------------
#: Hashed-feature bucket count for the importance estimator. 64 is small
#: enough that the per-bucket score table broadcasts as a handful of rows
#: yet large enough to separate target-like from raw-like token mass.
_D58_B = 64


def _d58_oracle() -> str:
    return f"""
    WITH {_sql_tk("doc_id, source, lang")},
    bk AS (SELECT doc_id, source, lang, {_sql_bucket("'dsir1_' || tok", _D58_B)} AS b
           FROM (SELECT doc_id, source, lang, unnest(t) AS tok FROM tk)),
    rb AS (SELECT b, COUNT(*) AS rcnt FROM bk GROUP BY b),
    tb AS (SELECT b, COUNT(*) AS tcnt FROM bk WHERE lang = 'en' GROUP BY b),
    tot AS (SELECT (SELECT COUNT(*) FROM bk) AS rtot,
                   (SELECT COUNT(*) FROM bk WHERE lang = 'en') AS ttot),
    s AS (SELECT rb.b,
                 CAST(FLOOR(1e9 *
                      ((COALESCE(tcnt, 0) + 1) * (rtot + {_D58_B})
                       - (rcnt + 1) * (ttot + {_D58_B}))
                      / ((COALESCE(tcnt, 0) + 1) * (rtot + {_D58_B})
                         + (rcnt + 1) * (ttot + {_D58_B}))) AS BIGINT) AS s
          FROM rb LEFT JOIN tb ON rb.b = tb.b CROSS JOIN tot),
    db AS (SELECT doc_id, source, b, COUNT(*) AS c
           FROM bk GROUP BY doc_id, source, b),
    dw AS (SELECT doc_id, source, CAST(SUM(c * s) AS BIGINT) AS w
           FROM db JOIN s USING (b) GROUP BY doc_id, source)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(SUM(w) AS BIGINT) AS total_weight,
           MAX(w) AS max_weight,
           MIN(w) AS min_weight
    FROM dw GROUP BY source
    """


@query(
    "d58_dsir_importance",
    oracle=_d58_oracle(),
    doc="DSIR-style importance resampling (Xie et al. 2023, arXiv "
    "2302.03169, public): hashed bag-of-tokens features, per-bucket "
    "affinity of the add-one-smoothed target distribution (lang='en' "
    "docs, standing in for the paper's high-quality target corpus) "
    "against the raw distribution, per-doc importance = token-count-"
    "weighted sum of bucket scores, docs with positive affinity "
    "selected. Engine-portability variant of the paper's log-likelihood "
    "ratio (the d49 no-libm discipline): per-bucket score is the "
    "algebraic log-odds surrogate (p-q)/(p+q) — a monotone transform of "
    "p/q, so per-bucket ranking is preserved — rendered as a FIXED-POINT "
    "integer (floor of 1e9x, integer numerator/denominator, one "
    "correctly-rounded IEEE divide), making every downstream sum exact "
    "and the whole gate hash-checked rather than band-checked. Scale "
    "shape: one tokenize pass, (doc,bucket) count shuffle, a "
    f"{_D58_B}-row broadcast score table, per-doc keyed agg — no "
    "all-pairs, no Python workers; at 100 TB the bucket products need "
    "DECIMAL accumulators, noted inline.",
)
def d58_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    bucket = portable_bucket(F.concat(F.lit("dsir1_"), "term"), buckets=_D58_B)
    bk = _terms(spark, sf_dir, "source", "lang").select(
        "doc_id", "source", "lang", bucket.alias("b")
    )
    rb = bk.groupBy("b").agg(F.count(F.lit(1)).alias("rcnt"))
    tbl_t = (
        bk.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tcnt"))
    )
    tot = bk.agg(
        F.count(F.lit(1)).alias("rtot"),
        F.sum((F.col("lang") == "en").cast("long")).alias("ttot"),
    )
    # bigint products stay < 2^63 at test scale (counts x corpus tokens);
    # a 100 TB run lifts num/den into decimal(38,0) before the divide
    num = (F.coalesce(F.col("tcnt"), F.lit(0)) + 1) * (
        F.col("rtot") + _D58_B
    ) - (F.col("rcnt") + 1) * (F.col("ttot") + _D58_B)
    den = (F.coalesce(F.col("tcnt"), F.lit(0)) + 1) * (
        F.col("rtot") + _D58_B
    ) + (F.col("rcnt") + 1) * (F.col("ttot") + _D58_B)
    s = (
        rb.join(tbl_t, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select("b", F.floor(F.lit(1e9) * num / den).cast("bigint").alias("s"))
    )
    db = bk.groupBy("doc_id", "source", "b").agg(F.count(F.lit(1)).alias("c"))
    dw = (
        db.join(F.broadcast(s), "b")
        .groupBy("doc_id", "source")
        .agg(F.sum(F.col("c") * F.col("s")).cast("bigint").alias("w"))
    )
    return dw.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum((F.col("w") > 0).cast("int")).cast("bigint").alias("n_selected"),
        F.sum("w").cast("bigint").alias("total_weight"),
        F.max("w").alias("max_weight"),
        F.min("w").alias("min_weight"),
    )


# --- KMV cross-source overlap ------------------------------------------------
#: k-minimum-values sketch size. Small enough that a per-source sketch is
#: a handful of rows; the estimator degrades gracefully when a source has
#: fewer distinct hashes than k (sketch == full set -> exact count).
_D59_K = 16
#: Hash space size: md5-prefix-15 hex chars = 60 bits.
_D59_M = float(1 << 60)


def _d59_oracle() -> str:
    return f"""
    WITH hs AS (SELECT DISTINCT source, {_SQL_H60_TEXT} AS h FROM documents),
    sc AS (SELECT source, COUNT(*) AS cnt FROM hs GROUP BY source),
    sk AS (SELECT source, h FROM (
             SELECT source, h,
                    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
             FROM hs)
           WHERE rn <= {_D59_K}),
    pairs AS (SELECT a.source AS src_a, b.source AS src_b
              FROM sc a JOIN sc b ON a.source < b.source),
    pu AS (SELECT DISTINCT src_a, src_b, h FROM (
             SELECT p.src_a, p.src_b, s.h FROM pairs p
             JOIN sk s ON s.source = p.src_a
             UNION ALL
             SELECT p.src_a, p.src_b, s.h FROM pairs p
             JOIN sk s ON s.source = p.src_b)),
    pr AS (SELECT src_a, src_b, h,
                  ROW_NUMBER() OVER (PARTITION BY src_a, src_b
                                     ORDER BY h) AS rn
           FROM pu),
    agg AS (SELECT src_a, src_b,
                   CAST(COUNT(*) FILTER (rn <= {_D59_K}) AS BIGINT) AS n_sk,
                   MAX(CASE WHEN rn = {_D59_K} THEN h END) AS kth
            FROM pr GROUP BY src_a, src_b),
    ix AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(COUNT(*) AS BIGINT) AS n_inter
           FROM hs a JOIN hs b
             ON a.h = b.h AND a.source < b.source
           GROUP BY 1, 2)
    SELECT p.src_a, p.src_b,
           CAST(ca.cnt + cb.cnt - COALESCE(ix.n_inter, 0) AS BIGINT)
             AS exact_union,
           CASE WHEN agg.n_sk < {_D59_K} THEN CAST(agg.n_sk AS DOUBLE)
                ELSE ({_D59_K} - 1) * {_D59_M!r} / CAST(agg.kth AS DOUBLE)
           END AS est_union
    FROM pairs p
    JOIN sc ca ON ca.source = p.src_a
    JOIN sc cb ON cb.source = p.src_b
    JOIN agg ON agg.src_a = p.src_a AND agg.src_b = p.src_b
    LEFT JOIN ix ON ix.src_a = p.src_a AND ix.src_b = p.src_b
    """


@query(
    "d59_kmv_source_overlap",
    oracle=_d59_oracle(),
    doc="Cross-source distinct-content overlap via mergeable k-minimum-"
    "values sketches (Bar-Yossef et al. 2002; the KMV/theta-sketch "
    "family, public): per-source sketch = k smallest 60-bit content "
    "hashes, pairwise union estimate (k-1)*M/kth from the merged "
    "sketch, gated against the EXACT pairwise union (|A|+|B|-|A∩B| "
    "from a hash-keyed self-join) as the in-query differential. The "
    "md5-prefix hash is engine-portable, so sketch contents, kth "
    "values, and the estimate itself are hash-gated — no tolerance "
    "bands. Scale shape: sketches are built with a rank<=k per-source "
    "window (Spark's WindowGroupLimit pushes the cut map-side), pair "
    "work is sketch-sized (190 pairs x 2k rows at 20 sources); the "
    "exact-intersection differential is the only corpus-proportional "
    "join and is the piece a 100 TB run drops, keeping sketch-only "
    "estimates — which is the point of KMV.",
)
def d59_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    hs = docs.select("source", _text_h60().alias("h")).distinct()
    sc = hs.groupBy("source").agg(F.count(F.lit(1)).alias("cnt"))
    sk = top_k_per_group(hs, ["source"], _D59_K, [F.col("h")])
    pairs = (
        sc.select(F.col("source").alias("src_a"))
        .crossJoin(sc.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    pu = (
        pairs.join(sk.withColumnRenamed("source", "src_a"), "src_a")
        .select("src_a", "src_b", "h")
        .unionByName(
            pairs.join(sk.withColumnRenamed("source", "src_b"), "src_b")
            .select("src_a", "src_b", "h")
        )
        .distinct()
    )
    pr = top_k_per_group(pu, ["src_a", "src_b"], _D59_K, [F.col("h")])
    agg = pr.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sk"),
        F.max("h").alias("kth"),
    )
    a, b = hs.alias("a"), hs.alias("b")
    ix = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    ca = sc.select(F.col("source").alias("src_a"), F.col("cnt").alias("ca"))
    cb = sc.select(F.col("source").alias("src_b"), F.col("cnt").alias("cb"))
    est = F.when(F.col("n_sk") < _D59_K, F.col("n_sk").cast("double")).otherwise(
        F.lit(float(_D59_K - 1)) * F.lit(_D59_M) / F.col("kth").cast("double")
    )
    return (
        pairs.join(ca, "src_a")
        .join(cb, "src_b")
        .join(agg, ["src_a", "src_b"])
        .join(ix, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            (F.col("ca") + F.col("cb") - F.coalesce("n_inter", F.lit(0)))
            .cast("bigint")
            .alias("exact_union"),
            est.alias("est_union"),
        )
    )


# --- Bloom-filter admission prefilter ----------------------------------------
#: Bloom geometry: j hash positions per key over m bits, with m sized
#: FROM THE DATA as bits_per_key x corpus-count (computed in-query on
#: both engines, so the same table always gets the same filter at any
#: sf). 8 bits/key with j=3 gives a ~31% fill and ~3% FPR at every
#: scale — big enough that the false-positive path is exercised, small
#: enough that the filter stays broadcast-sized. A production filter
#: picks bits/key from the target FPR (m = -n*ln(p)/ln(2)^2); Bloom
#: positions need no power-of-two m, so plain modulo works.
_D60_BITS_PER_KEY = 8
_D60_J = 3


def _d60_pos_sql(j: int, h_expr: str) -> str:
    return _sql_bucket(f"'bl{j}_' || CAST({h_expr} AS STRING)", "m")


def _d60_oracle() -> str:
    h = _SQL_H60_TEXT
    pos_rows = "\n        UNION ALL\n".join(
        f"        SELECT {_d60_pos_sql(j, 'h')} AS pos FROM corpus"
        f" CROSS JOIN mt"
        for j in range(_D60_J)
    )
    probe_pos = "\n        UNION ALL\n".join(
        f"        SELECT doc_id, source, h, {_d60_pos_sql(j, 'h')} AS pos"
        f" FROM batch CROSS JOIN mt"
        for j in range(_D60_J)
    )
    return f"""
    WITH hd AS (SELECT doc_id, source, {h} AS h,
                       doc_id % {_C05_MOD} = {_C05_REM} AS is_batch
                FROM documents),
    corpus AS (SELECT h FROM hd WHERE NOT is_batch),
    mt AS (SELECT {_D60_BITS_PER_KEY} * COUNT(*) AS m FROM corpus),
    batch AS (SELECT doc_id, source, h FROM hd WHERE is_batch),
    bloom AS (SELECT DISTINCT pos FROM (
{pos_rows})),
    pp AS (
{probe_pos}),
    hits AS (SELECT doc_id, source, h,
                    CAST(COUNT(*) AS INTEGER) AS n_set
             FROM pp JOIN bloom USING (pos)
             GROUP BY doc_id, source, h),
    verdicts AS (
      SELECT b.doc_id, b.source,
             COALESCE(hits.n_set, 0) = {_D60_J} AS pred_member,
             EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h) AS true_member
      FROM batch b LEFT JOIN hits
        ON hits.doc_id = b.doc_id)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN true_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_true_member,
           CAST(SUM(CASE WHEN pred_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pred_member,
           CAST(SUM(CASE WHEN pred_member AND NOT true_member
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CASE WHEN COUNT(*) - SUM(CASE WHEN true_member THEN 1 ELSE 0 END)
                     = 0 THEN 0.0
                ELSE CAST(SUM(CASE WHEN pred_member AND NOT true_member
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / (COUNT(*) - SUM(CASE WHEN true_member
                                      THEN 1 ELSE 0 END))
           END AS fpr
    FROM verdicts GROUP BY source
    """


@query(
    "d60_bloom_prefilter",
    oracle=_d60_oracle(),
    doc="Bloom-filter admission prefilter (Bloom 1970; the pattern behind "
    "Spark's own runtime bloom-filter joins and every ingest daemon's "
    "'probably seen?' precheck): build an m-bit/j-hash filter over the "
    "standing corpus's content hashes, probe the admission batch "
    "(c05/s12's batch split), and report per-source predicted-member vs "
    "EXACT membership — no-false-negative property and the measured "
    "false-positive rate are both in the gate. Every position is an "
    "engine-portable md5 mod, so the filter contents, per-doc verdicts, "
    "and the FPR itself hash-match. Scale shape: the filter is a "
    "bounded DISTINCT over <=m positions (broadcast-sized BY "
    "CONSTRUCTION regardless of corpus size — that is the point of a "
    "Bloom filter), the probe is j map-side hashes + a broadcast join; "
    "the exact-membership column is the test differential, which a "
    "production ingest replaces with the expensive path the filter "
    "gates.",
)
def d60_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    hd = docs.select(
        "doc_id",
        "source",
        _text_h60().alias("h"),
        (F.col("doc_id") % _C05_MOD == _C05_REM).alias("is_batch"),
    )
    corpus = hd.filter(~F.col("is_batch")).select("h")
    batch = hd.filter(F.col("is_batch")).select("doc_id", "source", "h")
    # data-sized filter: m = bits_per_key x corpus keys, one broadcast row
    mt = corpus.agg(
        (F.lit(_D60_BITS_PER_KEY) * F.count(F.lit(1))).alias("m")
    )

    def pos(j: int) -> Column:
        return portable_bucket(
            F.concat(F.lit(f"bl{j}_"), F.col("h").cast("string")), buckets=F.col("m")
        )

    corpus_m = corpus.crossJoin(F.broadcast(mt))
    batch_m = batch.crossJoin(F.broadcast(mt))
    bloom = None
    for j in range(_D60_J):
        part = corpus_m.select(pos(j).alias("pos"))
        bloom = part if bloom is None else bloom.unionByName(part)
    bloom = bloom.distinct()

    pp = None
    for j in range(_D60_J):
        part = batch_m.select("doc_id", "source", "h", pos(j).alias("pos"))
        pp = part if pp is None else pp.unionByName(part)
    hits = (
        pp.join(F.broadcast(bloom), "pos")
        .groupBy("doc_id", "source", "h")
        .agg(F.count(F.lit(1)).cast("int").alias("n_set"))
    )
    true_member = (
        batch.join(corpus.distinct(), "h", "left_semi")
        .select("doc_id")
        .withColumn("tm", F.lit(True))
    )
    verdicts = (
        batch.join(hits.select("doc_id", "n_set"), "doc_id", "left")
        .join(true_member, "doc_id", "left")
        .select(
            "source",
            (F.coalesce("n_set", F.lit(0)) == _D60_J).alias("pred_member"),
            F.coalesce("tm", F.lit(False)).alias("true_member"),
        )
    )
    nb = F.count(F.lit(1))
    ntm = F.sum(F.col("true_member").cast("int"))
    nfp = F.sum((F.col("pred_member") & ~F.col("true_member")).cast("int"))
    return verdicts.groupBy("source").agg(
        nb.cast("bigint").alias("n_batch"),
        ntm.cast("bigint").alias("n_true_member"),
        F.sum(F.col("pred_member").cast("int"))
        .cast("bigint")
        .alias("n_pred_member"),
        nfp.cast("bigint").alias("n_false_pos"),
        F.when(nb - ntm == 0, F.lit(0.0))
        .otherwise(nfp.cast("double") / (nb - ntm))
        .alias("fpr"),
    )


# --- per-doc disposition ledger ----------------------------------------------
def _c06_oracle() -> str:
    return f"""
    WITH {_clean_corpus_ctes()},
    {_sql_ngrams("sh2", 3, "tk0")},
    {_sql_contamination("contam", "sh2")},
    disp AS (
      SELECT d.doc_id,
             CASE WHEN d.doc_id NOT IN (SELECT doc_id FROM q)
                    THEN 'quality_gate'
                  WHEN d.doc_id NOT IN (SELECT doc_id FROM kept1)
                    THEN 'exact_dup'
                  WHEN d.doc_id NOT IN (SELECT doc_id FROM clean)
                    THEN 'near_dup'
                  WHEN d.doc_id % 20 = 0 THEN 'eval_split'
                  WHEN d.doc_id IN (SELECT doc_id FROM contam
                                    WHERE contamination >= 0.5)
                    THEN 'contaminated'
                  ELSE 'admitted' END AS disposition
      FROM documents d)
    SELECT doc_id, disposition,
           CASE WHEN disposition = 'admitted'
                THEN CAST({_sql_shard("doc_id", 8)} AS INTEGER)
           END AS shard
    FROM disp
    """


@query(
    "c06_disposition_ledger",
    oracle=_c06_oracle(),
    doc="Per-document disposition ledger for the c03 pipeline — the "
    "row-level provenance artifact a data-governance review asks for: "
    "every doc_id labeled with the FIRST stage that removed it "
    "(quality_gate -> exact_dup -> near_dup -> eval_split -> "
    "contaminated) or 'admitted' plus its shard route. Same stage "
    "operators and parameters as c01/c03 (quality_gate, exact_dedup, "
    "drop_near_duplicates at 0.8 over the shared shingle pass, d15 "
    "contamination at 0.5, d26 md5 shard routing), so the ledger's "
    "marginal counts reconcile with c01/c03's aggregates by "
    "construction. Scale shape: the clean chain's shapes plus five "
    "doc_id-keyed membership joins — set differences between adjacent "
    "stages, no new shuffle class; the ledger row count is exactly the "
    "corpus row count.",
)
def c06_disposition_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    stages = _c_pipeline_stages(spark, sf_dir)

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("doc_id").withColumn(name, F.lit(True))

    ledger = (
        docs.select("doc_id")
        .join(flag(stages["gated"], "f_gate"), "doc_id", "left")
        .join(flag(stages["exact"], "f_exact"), "doc_id", "left")
        .join(flag(stages["cleaned"], "f_clean"), "doc_id", "left")
        .join(flag(stages["contam"], "f_contam"), "doc_id", "left")
    )
    disposition = (
        F.when(~F.coalesce("f_gate", F.lit(False)), "quality_gate")
        .when(~F.coalesce("f_exact", F.lit(False)), "exact_dup")
        .when(~F.coalesce("f_clean", F.lit(False)), "near_dup")
        .when(F.col("doc_id") % 20 == 0, "eval_split")
        .when(F.coalesce("f_contam", F.lit(False)), "contaminated")
        .otherwise("admitted")
    )
    return ledger.select(
        "doc_id",
        disposition.alias("disposition"),
        F.when(
            disposition == "admitted",
            portable_bucket(F.col("doc_id"), "shard-v1", 8).cast("int"),
        ).alias("shard"),
    )


# --- near-dup cluster cohesion audit -----------------------------------------
def _d62_oracle(rounds: int = 10) -> str:
    return f"""
    WITH {_cc_cluster_ctes(rounds)},
    pl AS (SELECT la.label AS cluster_id, jaccard AS j
           FROM pairs JOIN l{rounds} la ON la.id = pairs.doc_a)
    SELECT CAST(pl.cluster_id AS BIGINT) AS cluster_id,
           CAST(s.cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_intra_pairs,
           CAST(COUNT(*) AS DOUBLE) * 2
             / (s.cluster_size * (s.cluster_size - 1)) AS density,
           CAST(SUM(CAST(j AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
             AS avg_intra_jaccard,
           MIN(j) AS min_intra_jaccard
    FROM pl JOIN sizes s ON s.label = pl.cluster_id
    GROUP BY pl.cluster_id, s.cluster_size
    """


@query(
    "d62_cluster_cohesion_audit",
    oracle=_d62_oracle(),
    doc="Near-dup cluster cohesion audit: per c02 cluster, edge density "
    "(observed >=0.5 pairs over C(n,2)) and the decimal-exact average / "
    "minimum intra-cluster Jaccard — the quality review of transitive "
    "closure dedup. CC merges A~B~C even when A!~C, so a big cluster "
    "with low density or a low min-Jaccard is a CHAIN (scrub survivors "
    "carefully), while density 1.0 is a true clique (safe to keep one "
    "doc); this table is how a reviewer tells them apart before "
    "deleting data. Built ENTIRELY from the session-shared kernels "
    "(_jac05_pairs + _neardup_cc) — zero new corpus passes; the only "
    "work is one pair-to-label join and a per-cluster aggregate. Both "
    "engines derive Jaccard from the same integer n_common/sz ratio, "
    "so even the double-valued cells hash-match.",
)
def d62_cluster_cohesion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _jac05_pairs(spark, sf_dir)
    cc = _neardup_cc(spark, sf_dir)
    labeled = pairs.join(
        cc.select(F.col("id").alias("doc_a"), F.col("component")), "doc_a"
    )
    sizes = cc.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labeled.groupBy("component")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_intra_pairs"),
            (
                F.sum(F.col("jaccard").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_intra_jaccard"),
            F.min("jaccard").alias("min_intra_jaccard"),
        )
        .join(F.broadcast(sizes), "component")
        .select(
            F.col("component").cast("bigint").alias("cluster_id"),
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            "n_intra_pairs",
            (
                F.col("n_intra_pairs").cast("double") * 2
                / (F.col("cluster_size") * (F.col("cluster_size") - 1))
            ).alias("density"),
            "avg_intra_jaccard",
            "min_intra_jaccard",
        )
    )


# --- bigram LM fluency scoring -----------------------------------------------
#: Fixed-point scale for the smoothed bigram probability surrogate.
_D61_FP = 1_000_000_000


def _d61_oracle() -> str:
    return f"""
    WITH {_sql_tk("doc_id, source")},
    uh AS (SELECT {_sql_h60("tok")} AS h1
           FROM (SELECT unnest(t) AS tok FROM tk)),
    uc AS (SELECT h1, CAST(COUNT(*) AS BIGINT) AS cu FROM uh GROUP BY h1),
    vv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM uc),
    bg AS (SELECT doc_id, source,
                  {_sql_h60("t[i] || ' ' || t[i+1]")} AS hb,
                  {_sql_h60("t[i]")} AS h1
           FROM (SELECT doc_id, source, t, unnest(range(1, len(t))) AS i
                 FROM tk WHERE len(t) >= 2)),
    db AS (SELECT doc_id, source, hb, h1, CAST(COUNT(*) AS BIGINT) AS c
           FROM bg GROUP BY doc_id, source, hb, h1),
    bc AS (SELECT hb, h1, CAST(SUM(c) AS BIGINT) AS cb
           FROM db GROUP BY hb, h1),
    st AS (SELECT hb, h1,
                  ({_D61_FP} * (cb + 1)) // (cu + v) AS s
           FROM bc JOIN uc USING (h1) CROSS JOIN vv),
    dl AS (SELECT doc_id, source,
                  CAST(SUM(c * s) AS BIGINT) AS ssum,
                  CAST(SUM(c) AS BIGINT) AS nbg
           FROM db JOIN st USING (hb, h1) GROUP BY doc_id, source),
    fl AS (SELECT doc_id, source, ssum // nbg AS fp FROM dl),
    cm AS (SELECT CAST(SUM(ssum) AS BIGINT) // CAST(SUM(nbg) AS BIGINT)
             AS mean_fp FROM dl)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(fp) AS BIGINT) AS sum_fluency_fp,
           CAST(SUM(fp) AS DOUBLE) / COUNT(*) AS avg_fluency_fp,
           CAST(SUM(CASE WHEN fp > mean_fp THEN 1 ELSE 0 END) AS BIGINT)
             AS n_above_mean
    FROM fl CROSS JOIN cm
    GROUP BY source
    """


@query(
    "d61_bigram_fluency",
    oracle=_d61_oracle(),
    doc="CCNet-style LM fluency scoring (Wenzek et al. 2020, arXiv "
    "1911.00359, public: rank documents by an n-gram language model "
    "trained on the corpus itself). Per-bigram score is the add-one-"
    "smoothed conditional count ratio (C(w1w2)+1)/(C(w1)+V) rendered as "
    "a FIXED-POINT integer (floor of 1e9x via bigint div — the d58 "
    "no-libm discipline: a monotone transform of the probability, so "
    "ranking is preserved and every downstream sum is exact). Per-doc "
    "fluency = integer mean over its bigram occurrences; the report "
    "gives per-source doc counts, exact fluency sums, and how many docs "
    "beat the corpus token-weighted mean — the head/tail split CCNet "
    "buckets on. Distinct from d32 (token-rank fluency): this scores "
    "SEQUENTIAL coherence, so shuffled-word gibberish with a fluent "
    "vocabulary still ranks tail. Scale shape: one tokenize "
    "projection feeds unigram counts, bigram counts and per-doc rows; all "
    "joins are on hashed 8-byte keys (the d54 shuffle discipline); the "
    "score table is bigram-type-sized and the corpus mean is a 1-row "
    "broadcast. Bigint headroom: 1e9*(cb+1) needs cb < 9.2e9 — at "
    "trillion-token scale lift the products into decimal(38,0).",
)
def d61_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = fan_out(tbl(spark, sf_dir, "documents"))
    tk = docs.select("doc_id", "source", tokens("text").alias("t"))
    uc = (
        tk.select(F.explode("t").alias("tok"))
        .select(_h60(F.col("tok")).alias("h1"))
        .groupBy("h1")
        .agg(F.count(F.lit(1)).alias("cu"))
    )
    idx = F.sequence(F.lit(1), F.size("t") - 1)
    pair = lambda i: F.struct(  # noqa: E731
        _h60(
            F.concat_ws(
                " ", F.element_at("t", i), F.element_at("t", i + F.lit(1))
            )
        ).alias("hb"),
        _h60(F.element_at("t", i)).alias("h1"),
    )
    bg = (
        tk.filter(F.size("t") >= 2)
        .select("doc_id", "source", F.explode(F.transform(idx, pair)).alias("p"))
        .select("doc_id", "source", "p.hb", "p.h1")
    )
    db = bg.groupBy("doc_id", "source", "hb", "h1").agg(
        F.count(F.lit(1)).alias("c")
    )
    # score table: one row per bigram TYPE (hb,h1) — corpus-sublinear
    vv = uc.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    bc = db.groupBy("hb", "h1").agg(F.sum("c").cast("bigint").alias("cb"))
    st = (
        bc.join(uc, "h1")
        .crossJoin(F.broadcast(vv))
        .select("hb", "h1", F.expr(f"({_D61_FP}L * (cb + 1)) div (cu + v)").alias("s"))
    )
    dl = (
        db.join(st, ["hb", "h1"])
        .groupBy("doc_id", "source")
        .agg(
            F.sum(F.col("c") * F.col("s")).cast("bigint").alias("ssum"),
            F.sum("c").cast("bigint").alias("nbg"),
        )
    )
    fl = dl.select("doc_id", "source", F.expr("ssum div nbg").alias("fp"))
    cm = dl.agg(F.expr("sum(ssum) div sum(nbg)").alias("mean_fp"))
    return (
        fl.crossJoin(F.broadcast(cm))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("fp").cast("bigint").alias("sum_fluency_fp"),
            (F.sum("fp").cast("double") / F.count(F.lit(1))).alias(
                "avg_fluency_fp"
            ),
            F.sum((F.col("fp") > F.col("mean_fp")).cast("int"))
            .cast("bigint")
            .alias("n_above_mean"),
        )
    )


# --- LSH-Ensemble containment family -----------------------------------------
# d63-d71, io18, io21, io22 and s15 share one index geometry, one DuckDB
# replay of it and one Spark scaffold. Each oracle is composed from the
# plain-SQL builders below (numbers and CTE names in, CTE text out); each
# Spark body calls dedup/ensemble.py with ``_ENSEMBLE``, releases what it
# pins through ``_released`` and reports through ``_ledger``/``_checksum``.

#: df cap for the 2-gram containment index (same rationale as D06_MAX_DF).
_D63_CAP = 100
_D65_BUCKET = 50
_D67_THRESHOLD = 0.8  # drop docs >=80%-contained in a larger doc
_D68_THRESHOLD_NUM = 8  # containment threshold 8/10 — integer-exact
#: The index geometry every dedup/ensemble.py call of the family takes.
_ENSEMBLE = {
    "id_col": "id",
    "num_hashes": _D65_HASHES,
    "size_edges": _D65_EDGES,
    "rows_per_band": _D65_ROWS,
}
#: d63's containment-only pairs (SQL for both engines).
_CONTAINMENT_ONLY = "containment >= 0.4 AND jaccard < 0.5"
#: The admission split: the %7 batch against the standing rest. %7, not
#: %10: the synthetic source column is doc_id%20, so a %10 batch would
#: land in only two sources — %7 is coprime with the layout and spreads
#: the batch over every source (~14% of docs).
_STANDING, _BATCH = "doc_id % 7 <> 0", "doc_id % 7 = 0"
_D67_LEDGER = ("n_docs", "n_dropped", "n_kept", "dropped_checksum")
_D68_LEDGER = ("n_incoming", "n_rejected", "n_admitted", "rejected_checksum")


def _sql_checksum(expr: str) -> str:
    """Order-independent checksum aggregate of ``expr``'s non-null values
    (sum of their md5-prefix hashes) as a decimal string — the gate cell
    that pins an exact set, not just its size. Mirror of ``_checksum``."""
    h = _sql_h60(f"CAST({expr} AS VARCHAR)")
    return f"CAST(CAST(COALESCE(SUM({h}), 0) AS DECIMAL(38,0)) AS VARCHAR)"


def _sql_count(rows: str) -> str:
    return f"CAST((SELECT COUNT(*) FROM {rows}) AS BIGINT)"


def _sql_recall(hit: str, of: str) -> str:
    """``|hit| / |of|`` as a double, NULL when ``of`` is empty."""
    return (
        f"CAST((SELECT COUNT(*) FROM {hit}) AS DOUBLE)"
        f" / NULLIF((SELECT COUNT(*) FROM {of}), 0)"
    )


def _sql_shingles() -> str:
    """``tk`` (tokens), ``sh0`` (doc_id, distinct 2-gram shingle) and
    ``shh`` (the same rows with the engine's 60-bit shingle hash)."""
    return f"""{_TK},
    {_sql_ngrams("sh0", 2)},
    {_sql_hashed("sh0")}"""


def _sql_ensemble_cands(out: str, rows=_D65_ROWS) -> str:
    """``out``: (doc_a < doc_b) LSH-Ensemble candidates over ``sig`` (its
    ``part`` column): each doc indexed under its own partition's scheme
    (buckets capped at ``_D65_BUCKET``) and probing every partition at or
    above its own (probe buckets capped at 4x), the smaller doc probing
    the larger (doc_id breaks size ties)."""
    k = f"{out}_keys"
    return f"""{_sql_band_keys("doc_id, sz, part", k, rows)},
    {out}_i0 AS MATERIALIZED (SELECT * FROM {k} WHERE p = part),
    {_sql_capped(f"{out}_i", f"{out}_i0", _D65_BUCKET)},
    {out}_q0 AS MATERIALIZED (SELECT * FROM {k} WHERE p >= part),
    {_sql_capped(f"{out}_q", f"{out}_q0", 4 * _D65_BUCKET)},
    {out} AS MATERIALIZED (SELECT DISTINCT
            LEAST(q.doc_id, x.doc_id) AS doc_a,
            GREATEST(q.doc_id, x.doc_id) AS doc_b
          FROM {out}_q q JOIN {out}_i x USING (p, band, key)
          WHERE q.sz < x.sz OR (q.sz = x.sz AND q.doc_id < x.doc_id))"""


def _sql_exact_pairs() -> str:
    """d63's exact verifier: the df cap over every doc, ``pr`` — each
    pair doc_a < doc_b sharing a capped shingle, with n_common, capped
    sizes sz_a/sz_b, jaccard and containment (``_sql_pairs``) — and
    ``cont``, its containment-only pairs."""
    return f"""{_sql_df_cap("", "TRUE", _D63_CAP)},
    {_sql_pairs("pr", "st")},
    cont AS MATERIALIZED (SELECT doc_a, doc_b FROM pr WHERE {_CONTAINMENT_ONLY})"""


def _sql_standing(sfx: str, member: str) -> str:
    """Standing containment state of the docs matching ``member``:
    ``idx{sfx}`` (own-partition band keys, buckets capped; pre-cap sizes
    in ``idx{sfx}_n``) and the df cap (``_sql_df_cap``)."""
    return f"""idx0{sfx} AS MATERIALIZED (SELECT doc_id, p, band, key FROM keys
          WHERE p = part AND {member}),
    {_sql_capped(f"idx{sfx}", f"idx0{sfx}", _D65_BUCKET)},
    {_sql_df_cap(sfx, member, _D63_CAP)}"""


def _sql_probe(out: str, batch: str, floor: str, sfx="") -> str:
    """``out``: (incoming, container) pairs where a doc matching ``batch``
    shares a band key with the standing index ``idx{sfx}`` in a
    partition at or above ``floor``."""
    return f"""{out} AS MATERIALIZED (SELECT DISTINCT
            q.doc_id AS incoming, x.doc_id AS container
          FROM (SELECT * FROM keys WHERE {batch} AND p >= {floor}) q
          JOIN idx{sfx} x USING (p, band, key))"""


def _sql_verify(sfx: str, batch: str) -> str:
    """``common{sfx}``: (incoming, container, n_common, sz_in) for every
    doc matching ``batch`` and every standing doc of state ``sfx`` it
    shares a shingle with, in the standing df-capped space (hot shingles
    dropped on both sides, so ``sz_in`` counts the incoming doc's rest)."""
    return f"""incf{sfx} AS MATERIALIZED (SELECT doc_id AS incoming, sh FROM shh
          WHERE {batch} AND sh NOT IN (SELECT sh FROM hot{sfx})),
    szin{sfx} AS MATERIALIZED (SELECT incoming, count(*) AS sz_in
          FROM incf{sfx} GROUP BY incoming),
    common{sfx} AS MATERIALIZED (SELECT * FROM (
            SELECT i.incoming, s.doc_id AS container, count(*) AS n_common
            FROM incf{sfx} i JOIN st{sfx} s USING (sh) GROUP BY 1, 2) c
          JOIN szin{sfx} USING (incoming))"""


def _sql_admit(sfx: str, batch: str) -> str:
    """d68's per-batch half against standing state ``sfx``: candidates
    ``cand{sfx}`` from the ``pmin`` probe floor, exact verification, the
    ``matches{sfx}`` at ``_D68_THRESHOLD_NUM``/10 and ``rejected{sfx}``
    (doc_id), their distinct incoming docs."""
    t = _D68_THRESHOLD_NUM
    return f"""{_sql_probe(f"cand{sfx}", batch, "pmin", sfx)},
    {_sql_verify(sfx, batch)},
    matches{sfx} AS MATERIALIZED (SELECT incoming, container FROM common{sfx}
          JOIN cand{sfx} USING (incoming, container)
          WHERE CAST(n_common AS DOUBLE) / sz_in >= {t} / 10.0),
    rejected{sfx} AS MATERIALIZED (SELECT DISTINCT incoming AS doc_id
          FROM matches{sfx})"""


def _sql_admission() -> str:
    """d68's replay: shingles, signatures with the 0.8 probe floor
    ``pmin`` (|q∩x| <= |x| forces |x| >= 0.8|q|, integer-exact ceil),
    band keys, the standing state of ``_STANDING`` and the admission of
    ``_BATCH`` against it."""
    floor = f"(({_D68_THRESHOLD_NUM} * sz + 9) // 10)"
    return f"""{_sql_shingles()},
    {_sql_signatures({"part": "sz", "pmin": floor})},
    {_sql_band_keys("doc_id, sz, part, pmin")},
    {_sql_standing("", _STANDING)},
    {_sql_admit("", _BATCH)}"""


def _sql_size_quantiles() -> str:
    """``cum`` (size, cumulative doc count) over ``sh0``'s set sizes,
    ``tot`` (doc count) and ``edges`` (e1..e3): the exact equi-depth
    edges — the smallest size whose cumulative count reaches
    ceil(k*n/4), plus one — the arithmetic of ``equi_depth_edges``
    (integer-exact ceil (k*n + 3) // 4 matches its -(-k*n // P))."""
    edge = (
        "(SELECT min(sz) + 1 FROM cum CROSS JOIN tot"
        " WHERE cum >= ({k} * n + 3) // 4)"
    )
    return f"""hist AS MATERIALIZED (SELECT sz, count(*) AS c FROM (
          SELECT doc_id, count(*) AS sz FROM sh0 GROUP BY doc_id) s GROUP BY sz),
    cum AS MATERIALIZED (SELECT sz, sum(c) OVER (ORDER BY sz
             ROWS UNBOUNDED PRECEDING) AS cum FROM hist),
    tot AS MATERIALIZED (SELECT sum(c) AS n FROM hist),
    edges AS MATERIALIZED (SELECT {edge.format(k=1)} AS e1,
      {edge.format(k=2)} AS e2,
      {edge.format(k=3)} AS e3)"""


def _sql_ledger(flagged: str, names: tuple[str, ...], where="TRUE") -> str:
    """The per-source gate row over the documents matching ``where``: how
    many, how many are in ``flagged`` (doc_id), how many not, and the
    checksum of the flagged ids. Mirror of ``_ledger``."""
    n_all, n_flagged, n_rest, checksum = names
    return f"""SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS {n_all},
           CAST(COUNT(f.doc_id) AS BIGINT) AS {n_flagged},
           CAST(COUNT(*) - COUNT(f.doc_id) AS BIGINT) AS {n_rest},
           {_sql_checksum("f.doc_id")} AS {checksum}
    FROM documents d LEFT JOIN {flagged} f USING (doc_id)
    WHERE {where}
    GROUP BY d.source ORDER BY d.source"""


def _checksum(col: Column) -> Column:
    """Order-independent checksum aggregate of ``col``'s non-null values
    as a decimal string. Mirror of ``_sql_checksum``."""
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10)
    return (
        F.coalesce(F.sum(h.cast("bigint").cast("decimal(38,0)")), F.lit(0))
        .cast("decimal(38,0)")
        .cast("string")
    )


def _ledger(
    docs: DataFrame, flagged: DataFrame, names: tuple[str, ...]
) -> DataFrame:
    """Per-source gate row of ``docs`` (doc_id, source): how many, how
    many are among the ``flagged`` doc ids, how many not, and the
    checksum of the flagged ids. Mirror of ``_sql_ledger``."""
    n_all, n_flagged, n_rest, checksum = names
    fid = F.when(F.col("__hit"), F.col("doc_id"))
    hits = F.broadcast(flagged.withColumn("__hit", F.lit(True)))
    return (
        docs.select("doc_id", "source")
        .join(hits, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n_all),
            F.count(fid).cast("bigint").alias(n_flagged),
            (F.count(F.lit(1)) - F.count(fid)).cast("bigint").alias(n_rest),
            _checksum(fid).alias(checksum),
        )
        .orderBy("source")
    )


def _fingerprints(
    specs: dict[str, tuple[DataFrame, Column | None]]
) -> dict[str, tuple[int, str]]:
    """(row count, ``c``) per tagged frame, where ``c`` is the given
    one-row aggregate (a checksum, say) or "". One Spark job: a union of
    one-row aggregates lets the scheduler overlap every scan."""
    parts = [
        df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            (F.lit("") if c is None else c.cast("string")).alias("c"),
        ).select(F.lit(tag).alias("t"), "n", "c")
        for tag, (df, c) in specs.items()
    ]
    merged = reduce(DataFrame.unionByName, parts)
    return {r["t"]: (r["n"], r["c"]) for r in merged.collect()}


def _count_row(frames: dict[str, DataFrame]) -> DataFrame:
    """One row with the row count of each frame, named by its key."""
    rows = [
        df.agg(F.count(F.lit(1)).cast("bigint").alias(n))
        for n, df in frames.items()
    ]
    return reduce(lambda a, b: a.crossJoin(F.broadcast(b)), rows)


def _ratio(num: str, den: str) -> Column:
    """``num / den`` as a double, NULL on a zero denominator (Spark's
    non-ANSI division would give NULL, DuckDB's NaN/inf: NULLIF on both
    sides)."""
    return F.when(F.col(den) > 0, F.col(num).cast("double") / F.col(den))


def _containment_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _containment_pairs2(spark, sf_dir).filter(_CONTAINMENT_ONLY)


def _ensemble_candidates(ss: DataFrame, caches: list, **over) -> DataFrame:
    """(doc_a < doc_b) LSH-Ensemble candidates over the shared signature
    table ``ss``, with ``over`` replacing parts of the family geometry."""
    return lsh_ensemble_candidate_pairs(
        None,
        sig_sizes=ss,
        cache_registry=caches,
        **{**_ENSEMBLE, "max_bucket": _D65_BUCKET, **over},
    ).select(
        F.least("contained", "container").alias("doc_a"),
        F.greatest("contained", "container").alias("doc_b"),
    )


def _plain_band_candidates(ss: DataFrame, max_bucket: int, caches: list):
    """The d07-convention banding baseline (8 hashes, 4 bands of 2) over
    the first 8 hash columns of the shared signature table, pinned in
    ``caches``."""
    return _pin(
        lsh_candidate_pairs_from_signatures(
            ss, id_col="id", num_hashes=8, bands=4, max_bucket=max_bucket
        ),
        caches,
    )


def _admission(standing: dict, incoming_sh: DataFrame, caches: list):
    """d68's probe of ``incoming_sh`` against prebuilt standing state:
    (incoming, container, ...) matches at the 0.8 threshold."""
    return incremental_containment_matches(
        None,
        incoming_sh,
        threshold=_D68_THRESHOLD_NUM / 10.0,
        prebuilt_standing=standing,
        cache_registry=caches,
        **_ENSEMBLE,
    )


# --- d63: containment (asymmetric) near-dup audit ----------------------------
def _d63_oracle() -> str:
    return f"""
    WITH {_sql_shingles()},
    {_sql_exact_pairs()}
    SELECT CASE WHEN sz_a < sz_b THEN doc_a
                WHEN sz_b < sz_a THEN doc_b
                ELSE LEAST(doc_a, doc_b) END AS contained_doc,
           CASE WHEN sz_a < sz_b THEN doc_b
                WHEN sz_b < sz_a THEN doc_a
                ELSE GREATEST(doc_a, doc_b) END AS container_doc,
           CAST(n_common AS BIGINT) AS n_common,
           CAST(LEAST(sz_a, sz_b) AS BIGINT) AS sz_contained,
           CAST(GREATEST(sz_a, sz_b) AS BIGINT) AS sz_container,
           containment, jaccard
    FROM pr
    WHERE {_CONTAINMENT_ONLY}
    """


@session_memo
def _containment_pairs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL 2-gram shingle-sharing pair table with n_common/sizes/
    jaccard/containment at df cap ``_D63_CAP`` — the exact verifier
    d63-d67/d69 share. The frame is pair-count-sized (~1k rows at
    sf0.1)."""
    docs = tbl(spark, sf_dir, "documents")
    sh = shingle_rows(docs, shingle_n=2, out_id="id")
    return containment_pairs_from_shingles(sh, max_df=_D63_CAP)


@query(
    "d63_containment_audit",
    oracle=_d63_oracle(),
    doc="Asymmetric containment near-dup audit "
    "(dedup/ngram.py:containment_pairs_from_shingles): pairs where the "
    "smaller document's 2-gram shingle set is >=40% contained in the "
    "larger one yet symmetric Jaccard stays under the 0.5 dedup "
    "threshold — quotes, wrappers and concatenations that d06-style "
    "dedup structurally misses (Broder's resemblance-vs-containment "
    "distinction; the datasketch LSHEnsemble use case). Output is "
    "oriented contained->container with the exact integer ratios. "
    "Scale shape: identical to the d06 inverted index — hashed 8-byte "
    "shingle keys, df cap {cap} bounds any key's m^2 join "
    "contribution, only shingle-sharing pairs materialize; containment "
    "adds zero new shuffle classes over Jaccard.".format(cap=_D63_CAP),
)
def d63_containment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _containment_only(spark, sf_dir)
    smaller_is_a = F.col("sz_a") < F.col("sz_b")
    equal_sz = F.col("sz_a") == F.col("sz_b")
    return p.select(
        F.when(smaller_is_a, F.col("doc_a"))
        .when(equal_sz, F.least("doc_a", "doc_b"))
        .otherwise(F.col("doc_b"))
        .alias("contained_doc"),
        F.when(smaller_is_a, F.col("doc_b"))
        .when(equal_sz, F.greatest("doc_a", "doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("container_doc"),
        F.col("n_common").cast("bigint").alias("n_common"),
        F.least("sz_a", "sz_b").cast("bigint").alias("sz_contained"),
        F.greatest("sz_a", "sz_b").cast("bigint").alias("sz_container"),
        "containment",
        "jaccard",
    )


# --- d64: containment-vs-banding recall audit ---------------------------------
def _d64_oracle() -> str:
    hit = "{} JOIN bcand USING (doc_a, doc_b)"
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({})},
    {_sql_plain_cands("bcand", D07_MAX_BUCKET)},
    {_sql_exact_pairs()},
    jac AS MATERIALIZED (SELECT doc_a, doc_b FROM pr WHERE jaccard >= 0.5)
    SELECT
      {_sql_count("cont")} AS n_containment_pairs,
      {_sql_count(hit.format("cont"))} AS n_containment_recovered,
      {_sql_recall(hit.format("cont"), "cont")} AS containment_recall,
      {_sql_count("jac")} AS n_jaccard_pairs,
      {_sql_count(hit.format("jac"))} AS n_jaccard_recovered,
      {_sql_recall(hit.format("jac"), "jac")} AS jaccard_recall
    """


@query(
    "d64_containment_banding_audit",
    oracle=_d64_oracle(),
    doc="Measures WHY containment dedup needs its own index (the "
    "LSHEnsemble motivation, Zhu et al. 2016 VLDB, public): recall of "
    "the d07-style MinHash(8)/4-band candidate generator — whose "
    "collision probability tracks JACCARD — against d63's exact "
    "containment-only pairs (containment >= 0.4, jaccard < 0.5) vs "
    "against the jaccard >= 0.5 pairs, side by side over the same "
    "2-gram shingle pass. Jaccard-banding recovers high-Jaccard pairs "
    "by design and structurally under-recovers containment-only pairs "
    "(their Jaccard is exactly what banding keys on); the measured gap "
    "is the case for size-partitioned containment LSH at 100 TB. All "
    "counts exact integers, recalls single divides — hash-gated, the "
    "e11 audit discipline. Scale shape: one shared shingle pass feeds "
    "both the signature aggregation and the df-capped inverted index; "
    "candidates are (band,key)-bucketed with the d07 bucket cap.",
)
def d64_containment_banding_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # both sides read shared memos: the d07 8-hash signatures are the
    # first 8 columns of the ensemble signature table
    p = _containment_pairs2(spark, sf_dir)
    cont = p.filter(_CONTAINMENT_ONLY).select("doc_a", "doc_b")
    jac = p.filter(F.col("jaccard") >= 0.5).select("doc_a", "doc_b")
    with _released() as caches:
        cand = _plain_band_candidates(
            _ensemble_sig_sizes(spark, sf_dir), D07_MAX_BUCKET, caches
        )
        counts = _count_row(
            {
                "n_containment_pairs": cont,
                "n_containment_recovered": cont.join(cand, ["doc_a", "doc_b"]),
                "n_jaccard_pairs": jac,
                "n_jaccard_recovered": jac.join(cand, ["doc_a", "doc_b"]),
            }
        )
        return _materialize(
            "d64_containment_banding_audit",
            counts.select(
                "n_containment_pairs",
                "n_containment_recovered",
                _ratio("n_containment_recovered", "n_containment_pairs").alias(
                    "containment_recall"
                ),
                "n_jaccard_pairs",
                "n_jaccard_recovered",
                _ratio("n_jaccard_recovered", "n_jaccard_pairs").alias(
                    "jaccard_recall"
                ),
            ),
        )


# --- d65: LSH-Ensemble containment candidates ---------------------------------
def _d65_oracle() -> str:
    """Full SQL replay of the LSH-Ensemble candidate generator beside the
    d64 plain-banding baseline, then recall of BOTH generators against
    the exact containment-only pairs over the same df-capped pass."""
    hit = "cont JOIN {} USING (doc_a, doc_b)"
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({"part": "sz"})},
    {_sql_ensemble_cands("ecand")},
    {_sql_plain_cands("bcand", _D65_BUCKET)},
    {_sql_exact_pairs()}
    SELECT
      {_sql_count("cont")} AS n_containment_pairs,
      {_sql_count("ecand")} AS n_ensemble_candidates,
      {_sql_count(hit.format("ecand"))} AS n_ensemble_recovered,
      {_sql_recall(hit.format("ecand"), "cont")} AS ensemble_recall,
      {_sql_count("bcand")} AS n_banding_candidates,
      {_sql_count(hit.format("bcand"))} AS n_banding_recovered,
      {_sql_recall(hit.format("bcand"), "cont")} AS banding_recall
    """


@session_memo
def _ensemble_sig_sizes(spark: SparkSession, sf_dir: str):
    """(id, sz, mh0..mh15) table over the 2-gram corpus shingles — the
    16-hash signature aggregation is the expensive corpus pass behind
    every ensemble consumer, and its first 8 columns are exactly the
    d07-convention 8-hash signatures, so the plain-banding baseline
    reads the same table."""
    docs = tbl(spark, sf_dir, "documents")
    sh = shingle_rows(docs, shingle_n=2, out_id="id").cache()
    sigs = minhash_signatures_from_shingles(sh, "id", _D65_HASHES)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    yield sigs.join(sizes, "id")
    sh.unpersist()


@query(
    "d65_lsh_ensemble_containment",
    oracle=_d65_oracle(),
    doc="LSH-Ensemble containment candidate generation (Zhu et al. 2016 "
    "VLDB, public; dedup/ensemble.py) — the size-partitioned index d64 "
    "measured the need for: the corpus is range-partitioned by "
    "shingle-set size with static geometric edges "
    f"{_D65_EDGES}, each partition gets its own (bands, rows) banding "
    f"scheme over the SAME {_D65_HASHES} salted min-hashes (rows/band "
    f"{_D65_ROWS}: big-container partitions band aggressively because "
    "a containment pair's Jaccard shrinks with container size), every "
    "doc is indexed once under its own partition and probes every "
    "partition that could hold a container its size. The gate measures "
    "BOTH generators' recall on the exact containment-only pairs "
    "(containment >= 0.4, jaccard < 0.5 — d63's filter) over one "
    "shared 2-gram pass: ensemble_recall must beat d64's 0-9% "
    "banding_recall at bounded candidate volume (both counts in the "
    "row, index buckets capped at "
    f"{_D65_BUCKET}). Scale shape: one min-hash aggregation; only "
    "(doc_id, size, partition, band, 16-byte key) rows shuffle — "
    "sum(b_p)=48 probe rows per doc, b_own index rows; the bucket cap "
    "bounds any key's m^2 join contribution; exact verification runs "
    "only on candidates in production (here on the full pair set, to "
    "measure recall honestly).",
)
def d65_lsh_ensemble_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No shingle pass in-query: the signature table and the exact
    # verifier both come from shared session memos.
    ss = _ensemble_sig_sizes(spark, sf_dir)
    cont = _containment_only(spark, sf_dir).select("doc_a", "doc_b")
    with _released() as caches:
        ecand = _pin(_ensemble_candidates(ss, caches), caches)
        bcand = _plain_band_candidates(ss, _D65_BUCKET, caches)
        counts = _count_row(
            {
                "n_containment_pairs": cont,
                "n_ensemble_candidates": ecand,
                "n_ensemble_recovered": cont.join(ecand, ["doc_a", "doc_b"]),
                "n_banding_candidates": bcand,
                "n_banding_recovered": cont.join(bcand, ["doc_a", "doc_b"]),
            }
        )
        return _materialize(
            "d65_lsh_ensemble_containment",
            counts.select(
                "n_containment_pairs",
                "n_ensemble_candidates",
                "n_ensemble_recovered",
                _ratio("n_ensemble_recovered", "n_containment_pairs").alias(
                    "ensemble_recall"
                ),
                "n_banding_candidates",
                "n_banding_recovered",
                _ratio("n_banding_recovered", "n_containment_pairs").alias(
                    "banding_recall"
                ),
            ),
        )


# --- d66: equi-depth LSH-Ensemble ---------------------------------------------
def _d66_oracle() -> str:
    """d65's replay with DATA-DEPENDENT equi-depth partition edges."""
    hit = "cont JOIN ecand USING (doc_a, doc_b)"
    return f"""
    WITH {_sql_shingles()},
    {_sql_size_quantiles()},
    {_sql_signatures({"part": "sz"}, ("e1", "e2", "e3"), " CROSS JOIN edges")},
    {_sql_ensemble_cands("ecand")},
    {_sql_exact_pairs()}
    SELECT
      CAST(e1 AS BIGINT) AS edge1, CAST(e2 AS BIGINT) AS edge2,
      CAST(e3 AS BIGINT) AS edge3,
      {_sql_count("cont")} AS n_containment_pairs,
      {_sql_count("ecand")} AS n_ensemble_candidates,
      {_sql_count(hit)} AS n_ensemble_recovered,
      {_sql_recall(hit, "cont")} AS ensemble_recall
    FROM edges
    """


@query(
    "d66_equidepth_ensemble",
    oracle=_d66_oracle(),
    doc="LSH-Ensemble with EQUI-DEPTH size partitions (the partitioning "
    "Zhu et al. 2016 prove near-optimal, completing d65's static-edge "
    "form): the three partition edges are exact value-at-rank quantiles "
    "of the shingle-set size distribution, computed distributedly from "
    "the size histogram (one tiny-cardinality shuffle + a window over "
    "~100 distinct sizes — dedup/ensemble.py equi_depth_edges; an "
    "approx-quantile sketch is the 100 TB drop-in but is not oracle-"
    "replayable, so the gate runs the exact form). The edges land in "
    "the output row (data-dependent, oracle-recomputed), then the same "
    "16-hash/per-partition-banding/caps path as d65 runs on them; "
    "recall is measured against the same exact containment-only pairs "
    "from the shared kernel. Scale shape: identical to d65 plus the "
    "histogram pass; the P-1 edge scalars broadcast.",
)
def d66_equidepth_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    ss = _ensemble_sig_sizes(spark, sf_dir)
    edges = equi_depth_edges(
        None, id_col="id", n_partitions=4, sizes=ss.select("id", "sz")
    )
    cont = _containment_only(spark, sf_dir).select("doc_a", "doc_b")
    with _released() as caches:
        ecand = _pin(
            _ensemble_candidates(ss, caches, size_edges=tuple(edges)), caches
        )
        edge_row = spark.createDataFrame(
            [tuple(edges)], "edge1 bigint, edge2 bigint, edge3 bigint"
        )
        counts = _count_row(
            {
                "n_containment_pairs": cont,
                "n_ensemble_candidates": ecand,
                "n_ensemble_recovered": cont.join(ecand, ["doc_a", "doc_b"]),
            }
        )
        return _materialize(
            "d66_equidepth_ensemble",
            edge_row.crossJoin(F.broadcast(counts)).select(
                "edge1",
                "edge2",
                "edge3",
                "n_containment_pairs",
                "n_ensemble_candidates",
                "n_ensemble_recovered",
                _ratio("n_ensemble_recovered", "n_containment_pairs").alias(
                    "ensemble_recall"
                ),
            ),
        )


# --- d67: containment dedup ACTION --------------------------------------------
def _d67_oracle() -> str:
    """Candidates (d65's ensemble replay) -> exact containment verify
    restricted to candidates -> drop contained docs -> per-source
    ledger with an io15-style checksum of the dropped ids."""
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({"part": "sz"})},
    {_sql_ensemble_cands("ecand")},
    {_sql_exact_pairs()},
    dropped AS MATERIALIZED (
      SELECT DISTINCT CASE WHEN sz_a <= sz_b THEN doc_a ELSE doc_b END
               AS doc_id
      FROM pr JOIN ecand USING (doc_a, doc_b)
      WHERE containment >= {_D67_THRESHOLD})
    {_sql_ledger("dropped", _D67_LEDGER)}
    """


@query(
    "d67_containment_dedup",
    oracle=_d67_oracle(),
    doc="Containment dedup as a production ACTION, completing the "
    "d63-d66 arc (detect -> index -> act): LSH-Ensemble candidates "
    "(d65's exact configuration), exact containment verified ONLY on "
    "candidate pairs (the restriction join is what makes verification "
    f"affordable at scale), docs >= {_D67_THRESHOLD}-contained in a "
    "larger doc dropped — quotes, boilerplate wrappers and "
    "concatenation shadows that symmetric near-dup dedup (c03's 0.8 "
    "Jaccard) structurally misses. Orientation is strictly "
    "(size, id)-monotone so drop chains terminate at the maximal "
    "container, which always survives; the gate row is a per-source "
    "ledger (docs/dropped/kept + io15-style md5-prefix checksum of the "
    "dropped ids, so the EXACT drop set is hash-pinned, not just its "
    "count). Scale shape: d65's index + one candidates-sized verify "
    "join + one broadcast-able drop anti-join; nothing quadratic.",
)
def d67_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    with _released() as caches:
        cand = _ensemble_candidates(_ensemble_sig_sizes(spark, sf_dir), caches)
        # exact containment restricted to candidates (the shared kernel
        # holds every shingle-sharing pair, so the restriction is a
        # pair-keyed join)
        dropped = (
            _containment_pairs2(spark, sf_dir)
            .join(cand, ["doc_a", "doc_b"])
            .filter(F.col("containment") >= _D67_THRESHOLD)
            .select(
                F.when(F.col("sz_a") <= F.col("sz_b"), F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("doc_id")
            )
            .distinct()
        )
        return _materialize(
            "d67_containment_dedup", _ledger(docs, dropped, _D67_LEDGER)
        )


# --- d68: incremental containment admission -----------------------------------
def _d68_oracle() -> str:
    """SQL replay of the incremental path: standing index from the ~86%
    corpus (own-partition scheme, bucket cap), incoming ~14% batch probes
    partitions that can hold an 0.8-container of its size, exact
    containment verified on candidates in the standing-df-capped shingle
    space, per-source admission ledger."""
    return f"""
    WITH {_sql_admission()}
    {_sql_ledger("rejected", _D68_LEDGER, _BATCH)}
    """


def _d68_standing_index(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Standing containment state over the %7!=0 corpus — in production
    a PERSISTED table maintained across ingestion batches, so its
    consumers measure only the per-batch probe cost. The five tables
    are checkpointed and the caches of their build released."""
    docs = tbl(spark, sf_dir, "documents")
    with _released() as caches:
        corpus_sh = _pin(
            shingle_rows(docs, shingle_n=2, out_id="id").filter(
                F.col("id") % 7 != 0
            ),
            caches,
        )
        standing = build_containment_standing(
            corpus_sh,
            max_bucket=_D65_BUCKET,
            max_df=_D63_CAP,
            cache_registry=caches,
            # signatures come from the shared kernel (bit-identical by
            # construction: a doc's min-hashes depend only on its own
            # shingles) — the standing build then costs one shingle
            # pass instead of two
            sig_sizes=_ensemble_sig_sizes(spark, sf_dir).filter(
                F.col("id") % 7 != 0
            ),
            **_ENSEMBLE,
        )
        # the five standing tables are independent given the shared
        # pinned subtrees — overlap their materializations (guide §2.6)
        names = list(standing)
        checkpointed = run_concurrent(
            [standing[n].localCheckpoint for n in names], max_workers=3
        )
        return dict(zip(names, checkpointed))


@query(
    "d68_incremental_containment_admission",
    oracle=_d68_oracle(),
    doc="Ingestion-time containment dedup (the d19 incremental pattern "
    "applied to the LSH-Ensemble index, completing the d63-d67 arc "
    "with its STREAMING-shaped form): the standing ~86% corpus is "
    "indexed once — in production a persisted table maintained across "
    "batches — and the incoming 10% batch's band keys BROADCAST "
    "against it, so the corpus never reshuffles per batch. Each "
    "incoming doc probes only partitions that can hold an "
    "0.8-container of its size (|q∩x| <= |x| forces |x| >= 0.8|q|; "
    "integer-exact ceil floor); the batch is doc_id%7 (coprime with "
    "the source layout, so every source sees admissions). Exact "
    "containment verified ONLY on "
    "candidates, in the standing-df-capped shingle space with over-df "
    "shingles EXCLUDED on both sides (an inner keep-join would drop "
    "novel incoming shingles and inflate containment). Gate row: "
    "per-source admission ledger for the batch + md5-prefix checksum "
    "pinning the exact rejected set. Scale shape: one standing index "
    "build amortized across batches, batch-side broadcasts, verify "
    "join restricted to candidates — nothing corpus-quadratic, "
    "nothing per-batch-corpus-shuffling.",
)
def d68_incremental_containment_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    standing = _d68_standing_index(spark, sf_dir)
    with _released() as caches:
        incoming_sh = _pin(
            shingle_rows(docs, shingle_n=2, out_id="id").filter(
                F.col("id") % 7 == 0
            ),
            caches,
        )
        rejected = (
            _admission(standing, incoming_sh, caches)
            .select(F.col("incoming").alias("doc_id"))
            .distinct()
        )
        return _materialize(
            "d68_incremental_containment_admission",
            _ledger(docs.filter(_BATCH), rejected, _D68_LEDGER),
        )


# --- s15: STREAMING containment admission -------------------------------------
@query(
    "s15_streaming_containment_admission",
    oracle=_d68_oracle(),
    doc="d68's containment admission run as a Structured Streaming job "
    "(the s12 discipline applied to the ensemble index): the incoming "
    "%7 batch is staged as files, streamed with maxFilesPerTrigger=1, "
    "and every micro-batch probes the PRECOMPUTED standing state — the "
    "size-partitioned banding index, the hot-shingle set and the "
    "df-filtered corpus shingle table, exactly what a production "
    "ingest daemon keeps warm (here built once per query). Verdicts "
    "are ORDER-INDEPENDENT by construction — each incoming doc's "
    "containment verdict depends only on (doc, standing corpus), never "
    "on other incoming docs or arrival order — so the streamed ledger "
    "is bit-equal to the batch form no matter how the source splits "
    "micro-batches: proven by gating against THE SAME oracle as d68, "
    "plus the in-query completeness assert (ledger rows == incoming "
    "rows, the s08 discipline). Scale shape: per micro-batch cost is "
    "linear in the slice — the slice's shingles/signatures broadcast "
    "against static indexes; the corpus is never rescanned after the "
    "standing build.",
)
def s15_streaming_containment_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    incoming = docs.filter(_BATCH)
    standing = _d68_standing_index(spark, sf_dir)

    with staged_stream(
        spark, incoming.repartition(3), schema=incoming.schema, files_per_trigger=1
    ) as st:
        out = st.path("out")

        def screen(bdf: DataFrame, batch_id: int) -> None:
            # per-batch probe caches are released after the write, on every
            # exit path — a long-running stream would otherwise pin one
            # (cand, inc) cache pair per micro-batch, unbounded
            with _released() as caches:
                bsh = shingle_rows(bdf, "doc_id", "text", 2, out_id="id")
                rejected = (
                    _admission(standing, bsh, caches)
                    .select(F.col("incoming").alias("doc_id"))
                    .distinct()
                    .withColumn("__rej", F.lit(1))
                )
                (
                    bdf.select("doc_id", "source")
                    .join(F.broadcast(rejected), "doc_id", "left")
                    .select(
                        "doc_id",
                        "source",
                        F.coalesce("__rej", F.lit(0)).alias("rejected"),
                    )
                    .write.mode("append")
                    .parquet(out)
                )

        with state_partitions(spark, 8):
            drain(
                st.read()
                .writeStream.foreachBatch(screen)
                .option("checkpointLocation", st.path("chk"))
            )

        ledger = spark.read.parquet(out)
        n_led, n_in = ledger.count(), incoming.count()
        if n_led != n_in:
            raise AssertionError(
                f"streamed ledger has {n_led} rows, incoming batch has {n_in}"
            )
        rejected = ledger.filter(F.col("rejected") == 1).select("doc_id")
        # materialize before the stage (and the ledger files in it) goes
        return _ledger(ledger, rejected, _D68_LEDGER).localCheckpoint(eager=True)


# --- d69: ensemble (bands, rows) tuning sweep ---------------------------------
#: The swept rows-per-band tables: conservative / default / aggressive.
_D69_CONFIGS: tuple[tuple[int, ...], ...] = (
    (4, 4, 2, 2),
    (2, 2, 1, 1),
    (1, 1, 1, 1),
)


def _d69_oracle() -> str:
    """Replays the ensemble candidate generator once PER swept config
    over one shared signature table, plus the exact containment-only
    pairs — the d34 band-tuning audit applied to the containment
    index."""
    selects = []
    for ci, rows in enumerate(_D69_CONFIGS):
        hit = f"cont JOIN cand{ci} USING (doc_a, doc_b)"
        selects.append(f"""
    SELECT '{"/".join(map(str, rows))}' AS rows_per_band,
      {_sql_count("cont")} AS n_containment_pairs,
      {_sql_count(f"cand{ci}")} AS n_candidates,
      {_sql_count(hit)} AS n_recovered,
      {_sql_recall(hit, "cont")} AS recall""")
    cands = ",\n    ".join(
        _sql_ensemble_cands(f"cand{ci}", rows)
        for ci, rows in enumerate(_D69_CONFIGS)
    )
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({"part": "sz"})},
    {cands},
    {_sql_exact_pairs()}
    SELECT * FROM ({" UNION ALL".join(selects)})
    ORDER BY rows_per_band
    """


@query(
    "d69_ensemble_tuning_sweep",
    oracle=_d69_oracle(),
    doc="(bands, rows)-tuning sweep for the containment ensemble — the "
    "d34 band-tuning discipline applied to the LSH-Ensemble index: "
    "recall on the exact containment-only pairs AND candidate volume, "
    "side by side, for a conservative (4/4/2/2), the production "
    "default (2/2/1/1) and an aggressive (1/1/1/1) rows-per-band "
    "table, all banding THE SAME memoized 16-hash signature table "
    "(zero extra corpus passes — the signature aggregation is identical "
    "for every split of the same hashes, which is exactly why the "
    "sweep is affordable). This is the measured recall/volume frontier "
    "the (b,r) knob trades along; hash-gated including the recall "
    "doubles. Scale shape: per config only (doc, band, 8-byte key) "
    "rows shuffle, both caps inherited from d65.",
)
def d69_ensemble_tuning_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ss = _ensemble_sig_sizes(spark, sf_dir)
    cont = _containment_only(spark, sf_dir).select("doc_a", "doc_b")

    def run_config(rows_per_band) -> tuple[str, int, int]:
        # per-config caches are released once the config's counters are
        # materialized; both counters share the cached candidate frame
        # and come from ONE job
        with _released() as caches:
            cand = _pin(
                _ensemble_candidates(ss, caches, rows_per_band=rows_per_band),
                caches,
            )
            got = _fingerprints(
                {
                    "nc": (cand, None),
                    "nr": (cont.join(cand, ["doc_a", "doc_b"]), None),
                }
            )
        cfg = "/".join(str(r) for r in rows_per_band)
        return (cfg, got["nc"][0], got["nr"][0])

    # the three configs (and the exact-pair denominator) are independent
    # measurements off shared read-only kernels — overlap them on a
    # driver pool (guide §2.6) instead of sweeping serially
    *parts, n_exact = run_concurrent(
        [(lambda cfg=cfg: run_config(cfg)) for cfg in _D69_CONFIGS]
        + [cont.count],
        max_workers=4,
    )
    return spark.createDataFrame(
        [
            (cfg, n_exact, nc, nr, (nr / n_exact) if n_exact else None)
            for cfg, nc, nr in parts
        ],
        "rows_per_band string, n_containment_pairs bigint, "
        "n_candidates bigint, n_recovered bigint, recall double",
    ).orderBy("rows_per_band")


# --- d70: approx-quantile equi-depth edges agreement audit --------------------
#: percentile_approx accuracy for the sketch-based edge path. GK's rank
#: guarantee is |rank(v) - ceil(p*n)| <= n/accuracy; for n STRICTLY
#: below accuracy that slack is < 1 rank, so the sketch is rank-EXACT
#: and the equality boolean is safe to oracle-pin (at n == accuracy a
#: legal ±1 rank error could flip it — hence 10^5 against the test
#: corpora's <= 10^4 docs, strict). At 100 TB the same accuracy costs
#: O(accuracy * log n) sketch cells per partial — still trivial — and
#: the rank-bound boolean is the contract there.
_D70_ACCURACY = 100_000


def _d70_oracle() -> str:
    """Exact value-at-rank edges (d66's arithmetic); the two audit
    booleans are theory-backed (GK rank bound) resp. rank-exactness
    at test scale, so the oracle pins them TRUE."""
    return f"""
    WITH {_TK},
    {_sql_ngrams("sh0", 2)},
    {_sql_size_quantiles()}
    SELECT k, CAST([e1, e2, e3][k] AS BIGINT) AS exact_edge,
           TRUE AS within_rank_bound, TRUE AS approx_equals_exact
    FROM (VALUES (1), (2), (3)) AS v(k) CROSS JOIN edges
    ORDER BY k
    """


@query(
    "d70_equidepth_sketch_edges",
    oracle=_d70_oracle(),
    doc="The 100 TB drop-in for d66's exact equi-depth edges, MEASURED "
    "instead of asserted: the same three quantile "
    "edges computed twice — exact value-at-rank from the size histogram "
    "(dedup/ensemble.py equi_depth_edges, oracle-replayable) and via "
    "percentile_approx's Greenwald-Khanna sketch at accuracy "
    f"{_D70_ACCURACY} (one pass, mergeable O(accuracy*log n) state, no "
    "histogram shuffle — what a 1000-executor job would run). Gate row "
    "per edge: the exact edge plus two measured booleans — "
    "within_rank_bound (the returned value's duplicate-rank interval "
    "[cum(v-1)+1, cum(v)] overlaps ceil(k*n/4) +/- n/accuracy, GK's "
    "guarantee) and approx_equals_exact (at n < accuracy the bound "
    "forces rank-exactness, so the sketch edge IS the exact edge at "
    "test scale). The rank audit reads the same ~100-row cumulated "
    "histogram the exact path collects — no extra corpus pass. Scale "
    "shape: the sketch path is one aggregate with bounded state; the "
    "exact path exists for the oracle and as the agreement reference.",
)
def d70_equidepth_sketch_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    ss = _ensemble_sig_sizes(spark, sf_dir)
    sizes = ss.select("id", "sz")
    exact, rows = equi_depth_edges(
        None, id_col="id", n_partitions=4, sizes=sizes, with_hist=True
    )
    approx_vals = sizes.agg(
        F.percentile_approx("sz", [0.25, 0.5, 0.75], _D70_ACCURACY).alias("q")
    ).first()["q"]
    # the rank audit reads the SAME cumulated histogram the exact path
    # collected (already (sz, cum) sorted) — no second histogram job
    cum = dict(rows)
    n = rows[-1][1]

    def rank_le(v: int) -> int:
        """# of sizes <= v, from the collected ~100-row histogram."""
        best = 0
        for sz, c_at in cum.items():
            if sz <= v:
                best = max(best, c_at)
        return best

    slack = n / _D70_ACCURACY
    rows = []
    for k in (1, 2, 3):
        target = -(-k * n // 4)  # ceil(k*n/4), the engine/oracle rank
        v = int(approx_vals[k - 1])
        lo, hi = rank_le(v - 1) + 1, rank_le(v)  # duplicate-rank interval
        within = (hi >= target - slack) and (lo <= target + slack)
        rows.append((k, exact[k - 1], bool(within), v + 1 == exact[k - 1]))
    return spark.createDataFrame(
        rows,
        "k int, exact_edge bigint, within_rank_bound boolean, "
        "approx_equals_exact boolean",
    ).orderBy("k")



# --- d71: containment admission threshold sweep -------------------------------
#: Swept operating points, integer percent (the probe-floor arithmetic
#: is exact at hundredths). 65 deliberately exercises the non-decile
#: quantization path; 80 is d68's production point.
_D71_THRESHOLDS: tuple[int, ...] = (50, 65, 80)


def _d71_oracle() -> str:
    """Replay of the d68 standing/incoming machinery with per-threshold
    probe floors: ONE band-key table filtered at each t's partition
    floor, ONE unrestricted exact containment pair table filtered at
    each t — exactly how the engine sweeps off shared tables."""
    per_t, selects = [], []
    for t in _D71_THRESHOLDS:
        floor = _sql_part(f"(({t} * sz + 99) // 100)")
        per_t.append(f"""{_sql_probe(f"cand_{t}", _BATCH, floor)},
    exact_{t} AS MATERIALIZED (SELECT incoming, container FROM common
          WHERE n_common * 100 >= {t} * sz_in),
    rec_{t} AS MATERIALIZED (SELECT incoming, container FROM exact_{t}
          JOIN cand_{t} USING (incoming, container))""")
        selects.append(f"""    SELECT {t} AS t_pct,
      {_sql_count(f"exact_{t}")} AS n_exact_pairs,
      {_sql_count(f"cand_{t}")} AS n_candidates,
      {_sql_count(f"rec_{t}")} AS n_recovered,
      {_sql_recall(f"rec_{t}", f"exact_{t}")} AS pair_recall,
      CAST((SELECT COUNT(DISTINCT incoming) FROM exact_{t}) AS BIGINT)
        AS n_rejected_exact,
      CAST((SELECT COUNT(DISTINCT incoming) FROM rec_{t}) AS BIGINT)
        AS n_rejected_index""")
    union = "\n    UNION ALL\n".join(selects)
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({"part": "sz"})},
    {_sql_band_keys("doc_id, sz, part")},
    {_sql_standing("", _STANDING)},
    {_sql_verify("", _BATCH)},
    {",".join(per_t)}
{union}
    ORDER BY t_pct
    """


@query(
    "d71_containment_threshold_sweep",
    oracle=_d71_oracle(),
    doc="Admission-threshold sweep for incremental containment (the d69 "
    "tuning discipline applied to d68's operating point): "
    f"thresholds {_D71_THRESHOLDS}% each get their own "
    "probe-partition floor (containment(q) >= t forces |x| >= t*|q|, "
    "so lower t probes deeper and candidate volume grows) over the "
    "SAME standing index and ONE incoming signature table — banding "
    "keys are threshold-independent, so the sweep re-filters, never "
    "re-hashes. Per t the gate measures: exact >= t containment pairs "
    "(unrestricted verify join — the audit reference the production "
    "path avoids), candidate volume, recovered pairs, pair recall, and "
    "the admission-level rejected-doc counts both paths would make. "
    "65% exercises the non-decile hundredths quantization of the probe "
    "floor. Scale shape: one signature pass + one df-capped pair join "
    "amortized across the sweep; per t only the pmin filter changes.",
)
def d71_containment_threshold_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    standing = _d68_standing_index(spark, sf_dir)
    incoming_sh = shingle_rows(docs, shingle_n=2, out_id="id").filter(
        F.col("id") % 7 == 0
    )
    with _released() as caches:
        # a doc's distinct-shingle set (and so its min-hashes and size)
        # is independent of the corpus split, so the memoized
        # full-corpus signature kernel serves the incoming slice
        # directly — no second 16-hash aggregation
        sig_sizes = _pin(
            _ensemble_sig_sizes(spark, sf_dir)
            .filter(F.col("id") % 7 == 0)
            .withColumnRenamed("sz", "szq"),
            caches,
        )
        # exact reference: containment of every incoming doc in every
        # standing doc sharing a surviving shingle — the UNRESTRICTED
        # verify join (audit-only; the production path restricts to
        # candidates, which is the economy this sweep prices)
        inc = (
            incoming_sh.withColumn("sh", shingle_hash())
            .withColumnRenamed("id", "incoming")
            .join(standing["hot"], "sh", "left_anti")
        )
        sz_in = inc.groupBy("incoming").agg(F.count(F.lit(1)).alias("sz_in"))
        # no broadcast hint on this audit join: inc here is the FULL
        # incoming hashed-shingle table (one row per shingle, ~1/7 of
        # corpus shingles), not the compact band-key table the
        # production probe broadcasts — at higher replication a forced
        # broadcast hits the size cap / driver memory. AQE picks the
        # strategy; the plan shape need not match d68's.
        allp = _pin(
            inc.join(standing["st"], "sh")
            .groupBy("incoming", "container")
            .agg(F.count(F.lit(1)).alias("n_common"))
            .join(sz_in, "incoming"),
            caches,
        )

        def run_threshold(t: int):
            with _released() as tcaches:
                cand = containment_probe_candidates(
                    standing,
                    None,
                    threshold=t / 100.0,
                    incoming_sig_sizes=sig_sizes,
                    cache_registry=tcaches,
                    **_ENSEMBLE,
                )
                ex = _pin(
                    allp.filter(
                        F.col("n_common") * 100 >= F.lit(t) * F.col("sz_in")
                    ),
                    tcaches,
                )
                rec = _pin(ex.join(cand, ["incoming", "container"]), tcaches)
                # five independent one-row counters over the three
                # cached frames, in ONE job
                got = _fingerprints(
                    {
                        "n_exact": (ex, None),
                        "n_cand": (cand, None),
                        "n_rec": (rec, None),
                        "n_rej_exact": (ex.select("incoming").distinct(), None),
                        "n_rej_index": (rec.select("incoming").distinct(), None),
                    }
                )
            n_exact, n_rec = got["n_exact"][0], got["n_rec"][0]
            return (
                t,
                n_exact,
                got["n_cand"][0],
                n_rec,
                (n_rec / n_exact) if n_exact else None,
                got["n_rej_exact"][0],
                got["n_rej_index"][0],
            )

        # thresholds are independent re-filters of one signature table —
        # overlap them on a driver pool (guide §2.6)
        rows = run_concurrent(
            [(lambda tt=t: run_threshold(tt)) for t in _D71_THRESHOLDS]
        )
    return spark.createDataFrame(
        rows,
        "t_pct int, n_exact_pairs bigint, n_candidates bigint, "
        "n_recovered bigint, pair_recall double, n_rejected_exact bigint, "
        "n_rejected_index bigint",
    ).orderBy("t_pct")


# --- io18: containment standing-state publish ---------------------------------
def _io18_oracle() -> str:
    """Recompute every audit cell of the published standing state from
    the source corpus: index/hot/shingle-table cardinalities, the
    order-independent index content checksum, and the rejected-set
    checksum a probe of the published index must reproduce (identical
    to d68's rejected set — the probe is deterministic in (batch,
    standing state), so staged==memo is pinned TRUE)."""
    return f"""
    WITH {_sql_admission()}
    SELECT
      {_sql_count("idx")} AS n_index,
      {_sql_count("hot")} AS n_hot,
      {_sql_count("st")} AS n_st,
      {_sql_count("idx_n")} AS n_counts,
      (SELECT {_sql_checksum("concat_ws('|', doc_id, p, band, key)")}
       FROM idx) AS index_checksum,
      (SELECT {_sql_checksum("doc_id")} FROM rejected) AS rejected_checksum,
      TRUE AS probe_equals_memo,
      TRUE AS audit_passed,
      TRUE AS published
    """


#: Checksummed columns of each standing table.
_STANDING_COLS = {
    "index": ["container", "p", "band", "key"],
    "hot": ["sh"],
    "st": ["container", "sh"],
    "counts": ["p", "band", "key", "n"],
    "dfreq": ["sh", "df"],
}


def _rejected_checksum(matches: DataFrame) -> str:
    rejected = matches.select("incoming").distinct()
    return _fingerprints({"r": (rejected, _checksum(F.col("incoming")))})["r"][1]


@query(
    "io18_containment_index_publish",
    oracle=_io18_oracle(),
    doc="Containment standing-state lifecycle: build -> WAP-stage -> "
    "audit -> publish -> COLD reload probe (io16's index-publish "
    "discipline applied to d68's standing state): "
    "the three tables a production ingest daemon persists across "
    "batches — the size-partitioned banding index, the hot-shingle "
    "set, the df-filtered corpus shingle table, and the pre-cap bucket "
    "counts that make fold-in maintenance (io21) possible — are "
    "written to a STAGING location as real parquet, the index "
    "partitionBy('p') so the probe floor becomes a DISK partition "
    "prune (plan test pins PartitionFilters); the audit runs on the "
    "READ-BACK staged tables only: per-table row counts vs the "
    "in-session state, an order-independent md5-prefix content checksum "
    "of the index rows, and a probe-equivalence gate — the full d68 "
    "admission probe run against the STAGED tables (cold frames, no "
    "lineage to the in-session state, index pruned to the batch's global "
    "probe floor) must reproduce the in-session path's exact rejected-set "
    "checksum. "
    "Only a passing audit publishes (rename; a metadata pointer swap "
    "on an object store). The oracle recomputes every cell from the "
    "source corpus, so a row lost in the staged write, a mis-keyed "
    "index entry, or a probe divergence each flips a gated cell. "
    "Scale shape: the standing build is one indexing pass amortized "
    "across every future batch; the audit costs one 1-row aggregate "
    "per staged table plus one batch probe — publishing safely is "
    "O(index size), never corpus-quadratic.",
)
def io18_containment_index_publish(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    standing = _d68_standing_index(spark, sf_dir)
    base = tempfile.mkdtemp(prefix="io18_standing_")
    stage = f"{base}/stage"
    publish = f"{base}/published"
    with _released() as caches:
        try:
            incoming_sh = _pin(
                shingle_rows(docs, shingle_n=2, out_id="id").filter(
                    F.col("id") % 7 == 0
                ),
                caches,
            )
            # the index is written partitionBy("p"): the probe floor
            # p >= partition_of(ceil(t·|q|)) is a partition predicate,
            # so laying size partitions out as disk partitions turns it
            # into a scan-level prune — at 100 TB the low-size partitions
            # of the index are never read off disk for a batch of large
            # documents (plan test pins PartitionFilters). The five
            # staged tables are independent write jobs over checkpointed
            # state — submit them from a driver pool so their stage
            # tails overlap (guide §2.6)
            def write_one(name: str) -> None:
                w = standing[name].write.mode("overwrite")
                if name == "index":
                    w = w.partitionBy("p")
                w.parquet(f"{stage}/{name}")

            run_concurrent([(lambda n=name: write_one(n)) for name in standing])

            # -- audit on the READ-BACK staged tables only ----------------
            staged = {
                name: spark.read.parquet(f"{stage}/{name}") for name in standing
            }
            # ONE audit job: per-table row counts on both sides, the
            # staged-index content checksum and the batch's minimum doc
            # size
            specs = {f"live.{n}": (f, None) for n, f in standing.items()}
            specs.update({f"staged.{n}": (f, None) for n, f in staged.items()})
            specs["staged.index"] = (
                staged["index"],
                _checksum(F.concat_ws("|", *_STANDING_COLS["index"])),
            )
            specs["szq_min"] = (
                incoming_sh.groupBy("id").agg(F.count(F.lit(1)).alias("szq")),
                F.min("szq"),
            )
            audit = _fingerprints(specs)
            counts = {n: audit[f"staged.{n}"][0] for n in staged}
            live_counts = {n: audit[f"live.{n}"][0] for n in staged}
            index_checksum = audit["staged.index"][1]
            szq_min = audit["szq_min"][1]
            # the staged probe reads the index with the batch's GLOBAL
            # probe floor as a literal partition predicate (min over the
            # batch of each doc's pmin = the floor for the batch's
            # smallest doc): every probe row already satisfies e.p >= its
            # own pmin >= the global floor, so pruning partitions below
            # it cannot drop a match — probe_equals_memo certifies
            # exactly that, against the unpruned in-memory path.
            floor_sz = (
                0
                if not szq_min
                else (_D68_THRESHOLD_NUM * int(szq_min) + 9) // 10
            )
            pmin_glob = sum(1 for e in _D65_EDGES if floor_sz >= e)
            staged_probe = dict(staged)
            staged_probe["index"] = staged["index"].filter(
                F.col("p") >= F.lit(pmin_glob)
            )
            # the two probe replays (in-session and staged) are
            # independent by construction — that independence is the
            # audit's point — so they overlap on the driver pool
            live_rc, staged_rc = run_concurrent(
                [
                    lambda: _rejected_checksum(
                        _admission(standing, incoming_sh, caches)
                    ),
                    lambda: _rejected_checksum(
                        _admission(staged_probe, incoming_sh, caches)
                    ),
                ]
            )
            probe_equals_memo = staged_rc == live_rc
            audit_ok = probe_equals_memo and counts == live_counts
            published = False
            if audit_ok:
                os.rename(stage, publish)
                published = os.path.isdir(publish)
            return spark.createDataFrame(
                [
                    (
                        counts["index"],
                        counts["hot"],
                        counts["st"],
                        counts["counts"],
                        index_checksum,
                        staged_rc,
                        bool(probe_equals_memo),
                        bool(audit_ok),
                        bool(published),
                    )
                ],
                "n_index bigint, n_hot bigint, n_st bigint, n_counts bigint, "
                "index_checksum string, rejected_checksum string, "
                "probe_equals_memo boolean, audit_passed boolean, "
                "published boolean",
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)


# --- io21: fold admitted batches into the published standing index ------------
def _io21_oracle() -> str:
    """Independent from-scratch replay of the ENTIRE ingest loop:
    probe the batch against the standing corpus (d68's replay), derive
    the admitted set, then REBUILD the containment state on corpus ∪
    admitted and emit its cardinalities and checksums. The engine side
    computes the same cells from the FOLD-IN path
    (extend_containment_standing), so any divergence between
    incremental maintenance and a full rebuild — an entry not dropped
    when its bucket crossed the cap, a stale df, a missed newly-hot
    shingle — flips a gated cell. The equality booleans are pinned
    TRUE: the engine measures them against its own from-scratch
    rebuild, giving the same invariant a second, structural witness."""
    kept = "doc_id NOT IN (SELECT doc_id FROM rejected)"
    return f"""
    WITH {_sql_admission()},
    {_sql_standing("_u", kept)}
    SELECT
      {_sql_count(f"sig WHERE {_BATCH} AND {kept}")} AS n_admitted,
      {_sql_count("idx_u")} AS n_index,
      {_sql_count("hot_u")} AS n_hot,
      {_sql_count("st_u")} AS n_st,
      {_sql_count("idx_u_n")} AS n_counts,
      {_sql_count("dfreq_u")} AS n_dfreq,
      (SELECT {_sql_checksum("concat_ws('|', doc_id, p, band, key)")}
       FROM idx_u) AS index_checksum,
      (SELECT {_sql_checksum("concat_ws('|', doc_id, sh)")}
       FROM st_u) AS st_checksum,
      TRUE AS index_equals_rebuild,
      TRUE AS hot_equals_rebuild,
      TRUE AS st_equals_rebuild,
      TRUE AS counts_equals_rebuild,
      TRUE AS dfreq_equals_rebuild
    """


@query(
    "io21_containment_index_fold_in",
    oracle=_io21_oracle(),
    doc="Standing-index MAINTENANCE — the step that closes the "
    "production ingest loop the d63-d68/io18 arc built: probe the batch against the standing state, derive the "
    "admitted set, then FOLD the admitted docs into the index "
    "(dedup/ensemble.py extend_containment_standing) instead of "
    "rebuilding from scratch — band entries and bucket counts append "
    "additively, previously-kept entries of buckets the batch pushes "
    "over the cap drop out, newly-hot shingles leave the verification "
    "table on both old and new rows. Gate: every cardinality and "
    "checksum of the EXTENDED state is recomputed by the oracle from "
    "a from-scratch rebuild on corpus ∪ admitted, and the engine "
    "additionally measures per-table equality against its own Spark "
    "rebuild (booleans pinned TRUE) — fold-in must be row-identical "
    "to rebuild, not approximately right. Scale shape: the fold-in "
    "touches only batch shingles plus groupBy-sum merges against the "
    "standing tables — no corpus re-shingle, no corpus reshuffle; at "
    "100 TB this turns index refresh from a full-corpus job into a "
    "batch-sized one (the d19 incremental discipline applied to the "
    "index itself).",
)
def io21_containment_index_fold_in(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    standing = _d68_standing_index(spark, sf_dir)
    all_sh = shingle_rows(docs, shingle_n=2, out_id="id")
    incoming_sh = all_sh.filter(F.col("id") % 7 == 0)
    with _released() as caches:
        rejected = (
            _admission(standing, incoming_sh, caches)
            .select(F.col("incoming").alias("id"))
            .distinct()
            # localCheckpoint, not cache: the rejected set is tiny but
            # its LINEAGE is the whole probe pipeline — without
            # truncation every downstream extended/rebuilt table embeds
            # that plan and re-pays its Catalyst analysis per job
            # (measured ~3s of driver time per action at sf0.1)
            .localCheckpoint()
        )
        admitted_sh = incoming_sh.join(F.broadcast(rejected), "id", "left_anti")
        extended = extend_containment_standing(
            standing,
            admitted_sh,
            max_bucket=_D65_BUCKET,
            max_df=_D63_CAP,
            cache_registry=caches,
            **_ENSEMBLE,
        )
        # the from-scratch reference: corpus ∪ admitted in ONE shingle
        # pass (all docs minus the rejected batch docs), PINNED — the
        # standing build scans its corpus three times (signatures,
        # sizes, shingle table) and each scan would otherwise re-run
        # the full tokenize/explode subtree
        union_sh = _pin(
            all_sh.join(F.broadcast(rejected), "id", "left_anti"), caches
        )
        rebuilt = build_containment_standing(
            union_sh,
            max_bucket=_D65_BUCKET,
            max_df=_D63_CAP,
            cache_registry=caches,
            # audit-side shortcut unavailable to production fold-in
            # (whose docs are NEW): every union doc is in the corpus
            # signature kernel, so the rebuild skips its 16-hash pass
            sig_sizes=_ensemble_sig_sizes(spark, sf_dir).join(
                F.broadcast(rejected), "id", "left_anti"
            ),
            **_ENSEMBLE,
        )

        def side_job(state: dict) -> dict:
            return _fingerprints(
                {
                    n: (state[n], _checksum(F.concat_ws("|", *cols)))
                    for n, cols in _STANDING_COLS.items()
                }
            )

        # one 5-row union job per side (the subtrees within a side are
        # independent, so the scheduler overlaps their scans), and the
        # two sides plus the admitted count overlap on a driver pool
        # (guide §2.6). A single 11-way union was measured SLOWER
        # (11.4s vs 8.3s at sf0.1): the rebuilt side's deep build
        # lineage repeated across that many union branches pushes
        # Catalyst analysis past what the job overlap saves.
        ext_fp, reb_fp, adm = run_concurrent(
            [
                lambda: side_job(extended),
                lambda: side_job(rebuilt),
                lambda: _fingerprints(
                    {"a": (admitted_sh.select("id").distinct(), None)}
                ),
            ]
        )
    equals = {n: ext_fp[n] == reb_fp[n] for n in _STANDING_COLS}
    return spark.createDataFrame(
        [
            (
                adm["a"][0],
                ext_fp["index"][0],
                ext_fp["hot"][0],
                ext_fp["st"][0],
                ext_fp["counts"][0],
                ext_fp["dfreq"][0],
                ext_fp["index"][1],
                ext_fp["st"][1],
                bool(equals["index"]),
                bool(equals["hot"]),
                bool(equals["st"]),
                bool(equals["counts"]),
                bool(equals["dfreq"]),
            )
        ],
        "n_admitted bigint, n_index bigint, n_hot bigint, n_st bigint, "
        "n_counts bigint, n_dfreq bigint, index_checksum string, "
        "st_checksum string, "
        "index_equals_rebuild boolean, hot_equals_rebuild boolean, "
        "st_equals_rebuild boolean, counts_equals_rebuild boolean, "
        "dfreq_equals_rebuild boolean",
    )


# --- io22: the multi-round containment ingest loop ----------------------------
def _io22_oracle() -> str:
    """From-scratch SQL replay of THREE ingest rounds: batch k probes
    the standing state as grown by rounds 1..k-1 (corpus ∪ admitted so
    far), rejected docs are dropped, admitted docs fold in, and the
    next round sees the LARGER index. One shared signature/band-key
    table serves every round (signatures are per-doc); each round
    re-derives its own bucket counts, cap, hot set and df-capped
    verification space from that round's membership — exactly what the
    engine's fold-in must be equivalent to, now composed across rounds
    where a single-round gate (io21) cannot see a stale-state bug. The
    index after round k is round k+1's standing index."""
    floor = f"(({_D68_THRESHOLD_NUM} * sz + 9) // 10)"
    rounds, summaries = [], []
    for k in (1, 2, 3):
        member = f"doc_id IN (SELECT doc_id FROM mem_r{k})"
        batch = f"doc_id IN (SELECT doc_id FROM batch_r{k})"
        rounds.append(f"""
    batch_r{k} AS MATERIALIZED (SELECT doc_id FROM sig
          WHERE {_BATCH} AND doc_id % 3 = {k - 1}),
    {_sql_standing(f"_r{k}", member)},
    {_sql_admit(f"_r{k}", batch)},
    mem_r{k + 1} AS MATERIALIZED (
      SELECT doc_id FROM mem_r{k}
      UNION ALL
      SELECT doc_id FROM batch_r{k}
      WHERE doc_id NOT IN (SELECT doc_id FROM rejected_r{k}))""")
        summaries.append(f"""
      SELECT {k} AS round,
        {_sql_count(f"batch_r{k}")} AS n_batch,
        {_sql_count(f"rejected_r{k}")} AS n_rejected,
        CAST((SELECT COUNT(*) FROM batch_r{k})
             - (SELECT COUNT(*) FROM rejected_r{k}) AS BIGINT) AS n_admitted,
        CAST((SELECT COUNT(DISTINCT incoming) FROM matches_r{k}
              WHERE container % 7 = 0) AS BIGINT) AS n_rejected_by_admitted,
        (SELECT {_sql_checksum("doc_id")} FROM rejected_r{k})
          AS rejected_checksum,
        {_sql_count(f"idx_r{k + 1}")} AS n_index_after,
        (SELECT {_sql_checksum("concat_ws('|', doc_id, p, band, key)")}
         FROM idx_r{k + 1}) AS index_checksum_after""")
    return f"""
    WITH {_sql_shingles()},
    {_sql_signatures({"part": "sz", "pmin": floor})},
    {_sql_band_keys("doc_id, sz, part, pmin")},
    mem_r1 AS MATERIALIZED (SELECT doc_id FROM sig WHERE {_STANDING}),
    {",".join(rounds)},
    {_sql_standing("_r4", "doc_id IN (SELECT doc_id FROM mem_r4)")}
    {" UNION ALL".join(summaries)}
    ORDER BY round
    """


@query(
    "io22_containment_ingest_loop",
    oracle=_io22_oracle(),
    doc="The COMPLETE production ingest loop, three rounds end-to-end "
    "(the capability the d63-d68/io18/io21 arc was building toward): "
    "batch k probes the standing state AS GROWN by rounds 1..k-1, "
    "rejected docs drop, admitted docs FOLD IN "
    "(extend_containment_standing), and the next batch faces the "
    "larger index — so a round-2 doc contained in a round-1 ADMITTED "
    "doc is rejected by state no single-round gate ever exercises "
    "(the n_rejected_by_admitted cell counts exactly those "
    "loop-dependent verdicts; the synthetic corpus happens to contain "
    "zero cross-batch containment pairs, so the cell is a pinned 0 at "
    "both test sfs and the loop-dependent rejection itself is pinned "
    "by test_ingest_loop_rejects_against_admitted_container on a "
    "fixture where it must fire). Gate: per-round admission ledger "
    "(batch/rejected/admitted counts, rejected-set checksum) plus the "
    "post-fold index cardinality and content checksum, all recomputed "
    "by the oracle from a from-scratch SQL replay of the whole "
    "three-round history — a stale bucket count, a missed newly-hot "
    "shingle, or any cross-round state drift flips a later round's "
    "cells even when round 1 is perfect. Scale shape: per round, one "
    "batch-sized probe (broadcast band keys, d68's plan) + one DELTA "
    "fold-in (broadcast batch deltas, no standing shuffle — "
    "test_fold_in_is_delta_only...); the wholesale-rescanned state "
    "(index/counts/dfreq) is localCheckpointed between rounds so "
    "lineage stays round-local (the io21 lesson: driver re-planning "
    "of deep lineages, not executors, is what compounds across "
    "iterations), while the corpus-sized st and tiny hot stay lazy "
    "delta-chains over the kernel's checkpointed base — copying the "
    "full shingle table per round cost more than their filtered "
    "scans ever save.",
)
def io22_containment_ingest_loop(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    all_sh = shingle_rows(docs, shingle_n=2, out_id="id").localCheckpoint()
    standing = _d68_standing_index(spark, sf_dir)
    rows = []
    checksums: list = []
    pool = ThreadPoolExecutor(max_workers=1)
    # all three batch cardinalities in ONE upfront job
    n_batch_by_round = {
        r["r"]: r["n"]
        for r in all_sh.filter(F.col("id") % 7 == 0)
        .select((F.col("id") % 3).alias("r"), "id")
        .distinct()
        .groupBy("r")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    with _released() as caches:
        try:
            for rnd in (1, 2, 3):
                batch_sh = all_sh.filter(
                    (F.col("id") % 7 == 0) & (F.col("id") % 3 == rnd - 1)
                )
                n_batch = int(n_batch_by_round.get(rnd - 1, 0))
                # the LC truncates the probe pipeline out of everything
                # downstream (the io21 lesson); rejected/by-admitted are
                # shallow derivations over it, fingerprinted in one job
                matches = _admission(standing, batch_sh, caches).localCheckpoint()
                rejected = matches.select(F.col("incoming").alias("id")).distinct()
                admitted_sh = batch_sh.join(
                    F.broadcast(rejected), "id", "left_anti"
                )
                extended = extend_containment_standing(
                    standing,
                    admitted_sh,
                    max_bucket=_D65_BUCKET,
                    max_df=_D63_CAP,
                    cache_registry=caches,
                    **_ENSEMBLE,
                )
                # truncate lineage between rounds: round k+1's plans must
                # not embed round k's probe/fold pipeline (the io21
                # lesson). Only index/counts/dfreq are checkpointed —
                # their next-round consumers re-SCAN them wholesale 2-3x
                # per round, so lazy versions would double the base-scan
                # count every round. st (corpus-sized: a per-round
                # localCheckpoint copied the entire shingle table) and
                # hot stay LAZY: each is a linear chain of union +
                # batch-sized broadcast anti-joins over the kernel's
                # checkpointed round-0 state, scanned only filtered
                # (probe) or anti-joined (fold), so a scan of the lazy
                # chain costs one base scan plus batch-sized deltas —
                # strictly cheaper than copy-per-round. The feeding
                # caches are therefore held until the loop ends;
                # production loops with many rounds would re-truncate
                # st/hot every K rounds to bound the chain. The three
                # truncations and the round's admission stats are
                # mutually independent given the checkpointed matches
                # frame — submit them from a driver pool so each job's
                # stage tail back-fills with the next job's tasks (guide
                # §2.6).
                lc_names = ("index", "counts", "dfreq")
                by_admitted = (
                    matches.filter(F.col("container") % 7 == 0)
                    .select("incoming")
                    .distinct()
                )
                stats, *lcs = run_concurrent(
                    [
                        lambda: _fingerprints(
                            {
                                "rej": (rejected, _checksum(F.col("id"))),
                                "byadm": (by_admitted, None),
                            }
                        )
                    ]
                    + [
                        (lambda f=extended[n]: f.localCheckpoint())
                        for n in lc_names
                    ],
                    max_workers=3,
                )
                n_rej, rej_ck = stats["rej"]
                standing = {**extended, **dict(zip(lc_names, lcs))}
                # the post-fold index checksum reads the already-
                # checkpointed blocks, so it needs nothing from later
                # rounds — defer it to the pool and let it overlap round
                # k+1's probe (guide §2.6)
                index_ck = _checksum(F.concat_ws("|", *_STANDING_COLS["index"]))
                checksums.append(
                    pool.submit(
                        lambda f=standing["index"]: _fingerprints(
                            {"i": (f, index_ck)}
                        )["i"]
                    )
                )
                rows.append(
                    (rnd, n_batch, n_rej, n_batch - n_rej, stats["byadm"][0], rej_ck)
                )
            return spark.createDataFrame(
                [r + f.result() for r, f in zip(rows, checksums)],
                "round int, n_batch bigint, n_rejected bigint, "
                "n_admitted bigint, n_rejected_by_admitted bigint, "
                "rejected_checksum string, n_index_after bigint, "
                "index_checksum_after string",
            ).orderBy("round")
        finally:
            for f in checksums:
                f.cancel()
            pool.shutdown(wait=True)
