"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is the same comparison the driver runs at sf0.01 (SURVEY.md §5 item 2)
— row count, column names, order-insensitive full-precision values.
"""

from __future__ import annotations

import math

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


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck):
    q = REGISTRY[name]
    sdf = q.spark_fn(spark, SF_SMOKE)
    s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
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
