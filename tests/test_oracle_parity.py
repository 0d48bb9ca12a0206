"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is the same comparison the driver runs at sf0.01 (SURVEY.md §5 item 2)
— row count, column names, order-insensitive full-precision values.
"""

from __future__ import annotations

import math
import os
import tempfile
from dataclasses import dataclass

import pytest

from goodreads_pyspark_spark.queries import REGISTRY, _load_all

SF_SMOKE = "/root/testdata/sf0.001"

_load_all()


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, list):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def _norm(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(list(r)[i]) for i in order) for r in rows)


#: Queries that drive a stream (memory sink or foreachBatch) or stage
#: managed tables or temp views. Their run also records what the call left
#: behind, which ``test_memory_sink_query_leaves_no_view`` checks.
STAGING_QUERIES = frozenset(
    [
        "s01_streaming_hourly_counts",
        "s02_stateful_user_totals",
        "s03_streaming_dedup",
        "s04_streaming_sliding_window",
        "s05_stream_static_enrich",
        "s06_stream_stream_join",
        "s07_streaming_session_window",
        "s08_foreachbatch_sink",
        "s09_streaming_cdc_upsert",
        "s10_stream_stream_left_join",
        "s11_session_timeout_close",
        "s12_streaming_ingest_admission",
        "s13_streaming_approx_users",
        "s14_streaming_heavy_hitters",
        "s15_streaming_containment_admission",
        "io11_bucketed_colocated_join",
        "q23_sql_facade_subqueries",
        "q40_grouping_sets",
    ]
)


@dataclass(frozen=True)
class Leftovers:
    """Session state around one query call: the catalog's tables and temp
    views before and after, the streams still active, and the directories
    the call added to the temp dir and the warehouse dir."""

    tables_before: list
    tables_after: list
    streams: list
    tmp_dirs: set
    warehouse_dirs: set


def _dirs(root):
    if not os.path.isdir(root):
        return set()
    return {d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))}


def _tables(spark):
    return sorted(t.name for t in spark.catalog.listTables())


def run_query(spark, name, runs):
    """(columns, rows, leftovers) of registry query ``name`` at sf0.001;
    ``leftovers`` is a :class:`Leftovers` for a ``STAGING_QUERIES`` query
    and None otherwise. A staging query runs once per test session: its
    run is kept in ``runs`` (the ``staging_runs`` fixture), and every test
    that checks it reads that one run."""
    if name not in STAGING_QUERIES:
        sdf = REGISTRY[name].spark_fn(spark, SF_SMOKE)
        return sdf.columns, [tuple(r) for r in sdf.collect()], None
    if name not in runs:
        tmp = tempfile.gettempdir()
        warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")
        tables, tmp_before, wh_before = _tables(spark), _dirs(tmp), _dirs(warehouse)
        sdf = REGISTRY[name].spark_fn(spark, SF_SMOKE)
        left = Leftovers(
            tables_before=tables,
            tables_after=_tables(spark),
            streams=[a.name or a.id for a in spark.streams.active],
            tmp_dirs=_dirs(tmp) - tmp_before,
            warehouse_dirs=_dirs(warehouse) - wh_before,
        )
        runs[name] = sdf.columns, [tuple(r) for r in sdf.collect()], left
    return runs[name]


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck, staging_runs):
    q = REGISTRY[name]
    s_cols, s_rows, _ = run_query(spark, name, staging_runs)
    if q.oracle is None:
        assert len(s_rows) >= 0  # rows-only check, driver-style
        return
    res = duck.execute(q.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    assert sorted(s_cols) == sorted(d_cols)
    assert len(s_rows) == len(d_rows)
    assert _norm(s_cols, s_rows) == _norm(d_cols, d_rows)


def test_export_contract():
    """The driver contract exports every registry key as-is, in sorted
    order, and each oracle under the name of the query it checks."""
    import __spark_entry__

    names = list(__spark_entry__.queries())
    assert names == sorted(REGISTRY)
    assert not [n for n in names if n.startswith("a_")]
    oracles = __spark_entry__.oracle_sql()
    assert set(oracles) <= set(names)
    assert oracles == {n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None}


def test_no_query_name_is_a_prefix_of_another():
    """The tools select queries by name prefix; a full name must select
    exactly that query."""
    names = sorted(REGISTRY)
    assert not [(a, b) for a, b in zip(names, names[1:]) if b.startswith(a)]



#: The session confs each plan-gated io query sets for its run.
_SCOPED_CONFS = {
    "io11_bucketed_colocated_join": (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ),
    "io12_bloom_filter_join": (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    ),
    "io13_aqe_skew_join_split": (
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.forceOptimizeSkewedJoin",
    ),
}
#: A sentinel per conf type that none of the queries sets.
_SENTINELS = {
    "enabled": "false",
    "forceOptimizeSkewedJoin": "false",
    "skewedPartitionFactor": "7",
}


@pytest.mark.parametrize("name", sorted(_SCOPED_CONFS))
def test_query_restores_the_confs_it_sets(name, spark):
    """Each conf an io plan gate sets for its run is put back: a sentinel
    value set before the call is unchanged after it."""
    keys = _SCOPED_CONFS[name]
    prev = {k: spark.conf.get(k, None) for k in keys}
    sentinel = {k: _SENTINELS.get(k.rsplit(".", 1)[1], "12345678") for k in keys}
    try:
        for k, v in sentinel.items():
            spark.conf.set(k, v)
        REGISTRY[name].spark_fn(spark, SF_SMOKE).collect()
        assert {k: spark.conf.get(k) for k in keys} == sentinel
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_session_confs_unsets_a_key_that_was_unset(spark):
    """``session_confs`` puts a set key back to its value and unsets a key
    that had no value, on the error path too."""
    from goodreads_pyspark_spark.queries._helpers import session_confs

    unset, kept = "spark.sql.test.scopedUnset", "spark.sql.test.scopedKept"
    spark.conf.set(kept, "before")
    try:
        with pytest.raises(RuntimeError):
            with session_confs(spark, {unset: "x", kept: "y"}):
                assert spark.conf.get(unset) == "x"
                assert spark.conf.get(kept) == "y"
                raise RuntimeError
        assert spark.conf.get(unset, None) is None
        assert spark.conf.get(kept) == "before"
    finally:
        spark.conf.unset(kept)
