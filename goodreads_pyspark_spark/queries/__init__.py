"""Query registry — the bridge to the driver's correctness gate.

Every operator in SURVEY.md §2 (plus the large-scale data-pipeline
operators) registers a named query here: a Spark implementation
``(spark, sf_dir) -> DataFrame`` and, where SQL-expressible, an equivalent
DuckDB oracle SQL string. ``__spark_entry__.py`` exposes the registry to
the driver.

Oracle-parity rules (hard-won; keep them):
  * Alias every computed column identically on both sides.
  * Sums/avgs of doubles go through DECIMAL so both engines accumulate
    exactly, then cast to DOUBLE at the end (float addition order is
    nondeterministic under parallel aggregation; decimal addition is exact
    and associative). See ``dsum``/``davg`` helpers.
  * DuckDB integer SUM returns HUGEINT — cast oracle sums to BIGINT.
  * Any ORDER BY ... LIMIT must have a unique total order (append a key
    column as tiebreak) or ties make the row set nondeterministic.
  * Arrays in result cells must be sorted on both sides.
  * Timestamp ops need the session pinned to UTC, which ``tbl()`` does on
    every load (so load before building a time-zone-dependent expression).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL, or None => rows-only check
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def get_query(name: str) -> Query:
    _load_all()
    return REGISTRY[name]


# Queries that checkpoint their (small) result to release working caches
# return a frame whose plan is an opaque RDD scan. They expose the LAZY
# pre-checkpoint frame here, keyed by registered query name, so plan
# audits (tests/test_plans.py) can assert on the real join/aggregate
# shape. A side registry rather than an attribute on the DataFrame: an
# attribute is silently lost through any further transformation/copy,
# which would make the plan test vacuous instead of failing.
PRE_MATERIALIZATION: dict[str, DataFrame] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    """Decorator registering a Spark query (and its DuckDB oracle)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = Query(name=name, spark_fn=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _load_all()
    return {n: q.spark_fn for n, q in sorted(REGISTRY.items())}


def all_oracles() -> dict[str, str]:
    _load_all()
    return {n: q.oracle for n, q in sorted(REGISTRY.items()) if q.oracle is not None}


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (they self-register)."""
    global _LOADED
    if _LOADED:
        return
    from goodreads_pyspark_spark.queries import (  # noqa: F401
        documents,
        embeddings,
        goodreads_sql,
        graph,
        hybrid,
        io,
        ml,
        multimodal,
        relational,
        timeseries,
    )

    _LOADED = True
