"""Training-corpus cleaning pipeline — the composed, end-to-end face of
the dedup/quality operators, as the ``c01`` query and the benchmark's
ingest pass run it.

Stages (each a pure DataFrame transform, composable and individually
testable):

  1. quality gate     — length / lexical-diversity thresholds
                        (functions/text.py features)
  2. exact dedup      — content-hash, keep lowest id (dedup/exact.py)
  3. near-dup removal — MinHash+LSH candidates → per-pair verification at
                        ``jaccard_threshold`` over per-document shingle
                        sets → drop the higher id of each verified pair

Near-dup verification computes true Jaccard ONLY for LSH candidates —
the two-phase pattern again: cheap screen at corpus scale, exact check on
the candidate set. Dropping the higher id per pair (rather than building
connected components) is the standard single-pass policy; transitive
near-dup chains may retain middle members — acceptable for corpus
cleaning, and a Pregel connected-components pass can replace it when
exact clustering matters.

Cost discipline: the shingle rows are aggregated once, into one row per
document (signature plus hashed-shingle set), and that one table feeds
both the banding and the verifier; the pipeline adds no driver actions
of its own (per-stage counts are opt-in via ``collect_stats``, off in the
registered query path). It caches nothing: the survivors and the
per-document table are recomputed where the one lazy plan reads them
twice (the planner reuses the per-document exchange), which a 10-pair
A/B found as fast as caching them (CHANGES.md), and nothing is left in
the SQL cache after the caller's action.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from goodreads_pyspark_spark.dedup.exact import exact_dedup
from goodreads_pyspark_spark.dedup.minhash import (
    band_pairs,
    band_signatures,
    minhash_aggs,
)
from goodreads_pyspark_spark.dedup.shingles import shingle_hash, shingle_rows
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

    One ``groupBy(id)`` over the ``(id, sh)`` rows yields each document's
    min-hash signature and its set of hashed shingles (``shingle_hash``,
    the hash every Jaccard oracle applies). The set rides along with the
    document's band keys, and each pair sharing a band bucket
    (``band_pairs``) is verified inside that self-join:
    ``|A∩B| / |A∪B| >= jaccard_threshold``, the same double division as
    the inverted-index kernel (``dedup/ngram.py``), so the survivors are
    the same. The drop list comes back as an anti-join (unhinted — its
    size tracks the corpus's duplicate rate, so AQE picks broadcast vs
    shuffle at runtime).

    A caller that already holds a corpus-wide ``(id, sh)`` table (e.g.
    the c03 composition, whose decontamination stage needs the same
    rows) passes it via ``shingles``; its per-document rows are then
    restricted to ``docs`` by an inner join on the id instead of
    re-tokenizing — at 100 TB the tokenizer scan is the dominant linear
    cost, so it must run once per PIPELINE, not once per stage. A passed
    ``shingles`` table replaces self-computed shingling entirely, so
    ``shingle_n``/``text_col`` are IGNORED for it — it must have been
    built with the same width from the same column (same contract as
    contamination_stats).
    """
    if shingles is not None and not {"id", "sh"} <= set(shingles.columns):
        raise ValueError(
            f"precomputed shingles must have (id, sh) columns, got {shingles.columns}"
        )
    if shingles is None:
        sh = shingle_rows(docs, id_col, text_col, shingle_n, out_id="id")
    else:
        sh = shingles
    per_doc = sh.groupBy("id").agg(
        *minhash_aggs(num_hashes), F.collect_set(shingle_hash()).alias("hs")
    )
    if shingles is not None:
        per_doc = per_doc.join(docs.select(F.col(id_col).alias("id")), "id")
    banded = band_signatures(per_doc, "id", num_hashes, bands, carry=("hs",))
    jaccard = F.size(F.array_intersect("a.hs", "b.hs")) / F.size(
        F.array_union("a.hs", "b.hs")
    )
    verified = band_pairs(
        banded, "id", ["band", "key"], max_bucket, keep=jaccard >= jaccard_threshold
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
