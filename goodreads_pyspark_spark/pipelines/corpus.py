"""Training-corpus cleaning pipeline — the composed, end-to-end face of
the dedup/quality operators, as the ``c01`` query and the benchmark's
ingest pass run it.

Stages (each a pure DataFrame transform, composable and individually
testable):

  1. quality gate     — length / lexical-diversity thresholds
                        (functions/text.py features)
  2. exact dedup      — content-hash, keep lowest id (dedup/exact.py)
  3. near-dup removal — MinHash+LSH candidates → per-pair verification at
                        ``jaccard_threshold`` → drop the higher id of each
                        verified pair

Near-dup verification recomputes true Jaccard ONLY for LSH candidates —
the two-phase pattern again: cheap screen at corpus scale, exact check on
the candidate set. Dropping the higher id per pair (rather than building
connected components) is the standard single-pass policy; transitive
near-dup chains may retain middle members — acceptable for corpus
cleaning, and a Pregel connected-components pass can replace it when
exact clustering matters.

Cost discipline: one ``(id, shingle)`` plan feeds both the MinHash
banding and the Jaccard verifier, and the pipeline adds no driver actions
of its own (per-stage counts are opt-in via ``collect_stats``, off in the
registered query path). It caches nothing: the survivors, the shingle
table and the candidate pairs are recomputed where the one lazy plan
reads them twice, which a 10-pair A/B found as fast as caching them
(CHANGES.md), and nothing is left in the SQL cache after the caller's
action.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.exact import exact_dedup
from goodreads_pyspark_spark.dedup.minhash import lsh_candidate_pairs_from_shingles
from goodreads_pyspark_spark.dedup.ngram import jaccard_pairs_from_shingles
from goodreads_pyspark_spark.dedup.shingles import shingle_rows
from goodreads_pyspark_spark.functions.text import tokens
from goodreads_pyspark_spark.operators.relational import anti_join


@dataclass
class CorpusCleanStats:
    n_input: int
    n_after_quality: int
    n_after_exact: int
    n_after_neardup: int


def quality_gate(
    docs: DataFrame,
    min_tokens: int = 20,
    min_uniq_ratio: float = 0.3,
    text_col: str = "text",
) -> DataFrame:
    t = tokens(text_col)
    n = F.size(t)
    uniq = F.size(F.array_distinct(t))
    # Integer cross-multiplication at 1e-4 resolution: exact at the
    # boundary, no float-division divergence vs the oracle, and ratios
    # like 0.25 or 0.05 are preserved (not truncated to tenths).
    scaled = int(round(min_uniq_ratio * 10_000))
    return docs.filter((n >= min_tokens) & (uniq * 10_000 >= F.lit(scaled) * n))


def drop_near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    jaccard_threshold: float = 0.8,
    shingle_n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Remove the higher-id member of each verified near-dup pair.

    LSH proposes candidates (linear); exact n-gram Jaccard verifies them;
    the verified drop list comes back as an anti-join (unhinted — its
    size tracks the corpus's duplicate rate, so AQE picks broadcast vs
    shuffle at runtime).
    One shingle table feeds both phases. A caller that already holds a
    corpus-wide ``(id, sh)`` table (e.g. the c03 composition, whose
    decontamination stage needs the same rows) passes it via
    ``shingles`` and the pass is restricted
    by a semi-join instead of re-tokenizing — at 100 TB the tokenizer
    scan is the dominant linear cost, so it must run once per PIPELINE,
    not once per stage. A passed ``shingles`` table replaces self-
    computed shingling entirely, so ``shingle_n``/``text_col`` are
    IGNORED for it — it must have been built with the same width from
    the same column (same contract as contamination_stats).
    """
    if shingles is not None and not {"id", "sh"} <= set(shingles.columns):
        raise ValueError(
            f"precomputed shingles must have (id, sh) columns, got {shingles.columns}"
        )
    if shingles is None:
        sh = shingle_rows(docs, id_col, text_col, shingle_n, out_id="id")
    else:
        ids = docs.select(F.col(id_col).alias("id"))
        sh = shingles.join(ids, "id", "left_semi")
    candidates = lsh_candidate_pairs_from_shingles(
        sh.withColumnRenamed("id", id_col),
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        max_bucket=max_bucket,
    )
    # Verify candidates exactly: restrict the Jaccard join to candidate docs
    cand_ids = (
        candidates.select(F.col("doc_a").alias("id"))
        .unionByName(candidates.select(F.col("doc_b").alias("id")))
        .distinct()
    )
    # cand_ids / to_drop scale with the corpus's duplicate rate — on a
    # redundant 100 TB crawl they are corpus-proportional, so neither
    # carries a broadcast hint: AQE broadcasts when the candidate set
    # happens to be small and shuffles when it isn't.
    sh_cand = sh.join(cand_ids, "id", "left_semi")
    verified = jaccard_pairs_from_shingles(sh_cand, threshold=jaccard_threshold).join(
        candidates, ["doc_a", "doc_b"], "left_semi"
    )
    to_drop = verified.select(F.col("doc_b").alias(id_col)).distinct()
    return anti_join(docs, to_drop, id_col)


def clean_corpus(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 20,
    jaccard_threshold: float = 0.8,
    collect_stats: bool = False,
    shingles: DataFrame | None = None,
) -> tuple[DataFrame, CorpusCleanStats | None]:
    """Full pipeline; returns (kept docs, per-stage counts or ``None``).

    ``collect_stats=True`` materializes every stage to count survivors —
    four extra driver actions, diagnostics only. The default path is a
    single lazy plan: no action runs until the caller consumes the result.
    """
    gated = quality_gate(docs, min_tokens=min_tokens, text_col=text_col)
    exact = exact_dedup(gated, id_col=id_col, text_col=text_col)
    cleaned = drop_near_duplicates(
        exact,
        id_col=id_col,
        text_col=text_col,
        jaccard_threshold=jaccard_threshold,
        shingles=shingles,
    )
    if not collect_stats:
        return cleaned, None
    stats = CorpusCleanStats(
        docs.count(), gated.count(), exact.count(), cleaned.count()
    )
    return cleaned, stats
