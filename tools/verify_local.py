"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every registered query on Spark AND its oracle SQL on DuckDB at the
given sf dir, then compares row count, column names, and order-insensitive
cell values. It also reports each query that leaves a cached plan behind
(the SQL cache is cleared before every query and checked after it): a
leaking query runs once more, and the leak is "per call" if that run
leaks again, or a one-time "memo build" (a session memo's first build)
if it does not. A query that leaves a streaming query active (stopped
here, so later queries start clean) or a new directory in the temp dir
(a staging dir, sink output or checkpoint), a new table or temp view
in the session catalog, or a SQL conf (``spark.sql.*``) it set, changed
or unset and did not restore is tagged too. Leaks are reported, not
failed. Usage:

    python tools/verify_local.py [sf_dir] [name-prefix ...]

A prefix selects every query whose name starts with it (``g0 g1`` runs
g01-g19); no registered name is a prefix of another, so a full name
selects exactly that query.
"""

from __future__ import annotations

import math
import os
import sys
import tempfile
import time
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from goodreads_pyspark_spark.queries import REGISTRY, _load_all  # noqa: E402
from goodreads_pyspark_spark.session import get_spark  # noqa: E402
from goodreads_pyspark_spark.sources.readers import TESTDATA_TABLES  # noqa: E402


def _norm_cell(v):
    # numpy scalars (pandas itertuples) → plain Python so repr matches
    # across fetch paths; numpy arrays (DuckDB LIST via .df()) → list.
    if getattr(v, "ndim", None) not in (None, 0):
        v = v.tolist()  # ndarray → list
    elif hasattr(v, "item") and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except (ValueError, AttributeError):
            pass
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — we claim bit-identical doubles
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    return repr(v)


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = list(r)
        out.append(tuple(_norm_cell(vals[i]) for i in order))
    return sorted(out)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = tuple(sys.argv[2:])
    _load_all()
    con = duckdb_views(sf_dir)

    if os.environ.get("SPARK_GRAFT_HOSTILE"):
        # Driver-simulation mode: a PLAIN session (no factory configs)
        # with a non-UTC timezone — catches any query that silently
        # relies on factory session settings (tbl() must pin everything
        # the oracle comparison needs).
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.sql.session.timeZone", "America/Los_Angeles")
            .appName("verify_hostile")
            .getOrCreate()
        )
        print("# HOSTILE session: plain local[8], America/Los_Angeles")
    else:
        spark = get_spark("verify_local")
    failures, passed = [], 0
    leaks: dict[str, str] = {}
    stream_leaks: dict[str, list[str]] = {}
    dir_leaks: dict[str, list[str]] = {}
    catalog_leaks: dict[str, list[str]] = {}
    conf_leaks: dict[str, list[str]] = {}
    probe_s = 0.0  # leak re-runs, kept out of the reported query time
    t_start = time.time()
    for name, q in sorted(REGISTRY.items()):
        if only and not name.startswith(only):
            continue
        t0 = time.time()
        spark.catalog.clearCache()
        dirs_before = _tmp_dirs()
        catalog_before = _catalog(spark)
        conf_before = _sql_confs(spark)
        try:
            sdf = q.spark_fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            print(f"FAIL {name}: spark error: {e}")
            continue
        leak, probe = "", 0.0
        active = spark.streams.active
        if active:
            stream_leaks[name] = [a.name or a.id for a in active]
            for a in active:
                a.stop()
            leak += f" [stream leak: {', '.join(stream_leaks[name])}]"
        new_dirs = sorted(_tmp_dirs() - dirs_before)
        if new_dirs:
            dir_leaks[name] = new_dirs
            leak += f" [staging dir leak: {', '.join(new_dirs)}]"
        new_entries = sorted(_catalog(spark) - catalog_before)
        if new_entries:
            catalog_leaks[name] = new_entries
            leak += f" [catalog leak: {', '.join(new_entries)}]"
        conf_after = _sql_confs(spark)
        changed = sorted(
            k
            for k in conf_before.keys() | conf_after.keys()
            if conf_before.get(k) != conf_after.get(k)
        )
        if changed:
            conf_leaks[name] = changed
            leak += f" [conf leak: {', '.join(changed)}]"
        if not _cache_empty(spark):
            t1 = time.time()
            spark.catalog.clearCache()
            q.spark_fn(spark, sf_dir).collect()
            leaks[name] = "memo build" if _cache_empty(spark) else "per call"
            probe = time.time() - t1
            probe_s += probe
            leak = f" [cache leak: {leaks[name]}]" + leak
        if q.oracle is None:
            print(f"ok   {name}: rows-only ({len(s_rows)} rows) {time.time()-t0-probe:.1f}s{leak}")
            passed += 1
            continue
        try:
            # Fetch through Arrow like the driver harness: NULLs stay None
            # and DATE stays date (unlike pandas), but types Arrow widens
            # (window SUM(BIGINT) → HUGEINT → decimal128) fail HERE too,
            # not just driver-side — that was round 2's one red row (d13).
            at = con.execute(q.oracle).arrow()
            d_cols = list(at.column_names)
            d_rows = [tuple(d[c] for c in d_cols) for d in at.to_pylist()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"duckdb error: {e}"))
            print(f"FAIL {name}: duckdb error: {e}")
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            ns, nd = _norm_rows(s_cols, s_rows), _norm_rows(d_cols, d_rows)
            if ns != nd:
                diff = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL {name}: {'; '.join(problems)}{leak}")
        else:
            print(f"ok   {name}: {len(s_rows)} rows match {time.time()-t0-probe:.1f}s{leak}")
            passed += 1

    per_call = sum(1 for kind in leaks.values() if kind == "per call")
    print(
        f"\n{passed} passed, {len(failures)} failed "
        f"in {time.time() - t_start - probe_s:.1f}s; "
        f"{len(leaks)} cache leaks ({per_call} per call, "
        f"{len(leaks) - per_call} memo builds), "
        f"{len(stream_leaks)} stream leaks, {len(dir_leaks)} staging dir leaks, "
        f"{len(catalog_leaks)} catalog leaks, {len(conf_leaks)} conf leaks"
    )
    return 1 if failures else 0


#: Spark's own dirs in the temp dir, made part-way through a session and
#: removed with it: the artifact root (artifacts-*) and, when
#: SPARK_LOCAL_DIRS is unset, its scratch dirs (spark-*, blockmgr-*).
_SPARK_DIRS = ("artifacts-", "spark-", "blockmgr-")


def _tmp_dirs() -> set[str]:
    tmp = tempfile.gettempdir()
    return {
        d
        for d in os.listdir(tmp)
        if os.path.isdir(os.path.join(tmp, d)) and not d.startswith(_SPARK_DIRS)
    }


def _catalog(spark) -> set[str]:
    # tables of the current database and temp views
    return {t.name for t in spark.catalog.listTables()}


def _sql_confs(spark) -> dict[str, str]:
    # the SQL confs set in the session (explicitly or by a query)
    return {k: v for k, v in spark.conf.getAll.items() if k.startswith("spark.sql.")}


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def duckdb_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per test-data table in ``sf_dir``."""
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = Path(sf_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


if __name__ == "__main__":
    raise SystemExit(main())
