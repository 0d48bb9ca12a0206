"""Shared helpers for oracle-parity queries."""

from __future__ import annotations

import functools
import os
import threading
from contextlib import contextmanager
from types import GeneratorType

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators.concurrency import run_concurrent
from goodreads_pyspark_spark.queries import PRE_MATERIALIZATION


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Protective session posture on every load — the driver hands us an
    # externally built session whose config is not ours to assume:
    #  * UTC: timestamp literals/date extraction must match the naive-UTC
    #    oracle;
    #  * shuffle partitions ~cores + AQE: Spark's default of 200 turns
    #    tiny correctness-run stages into pure scheduling overhead.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions"))
        if current == 200:  # untouched default — tune; respect any override
            cores = spark.sparkContext.defaultParallelism
            spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
            spark.conf.set("spark.sql.adaptive.enabled", "true")
    except Exception:  # noqa: BLE001 — e.g. non-numeric "auto"
        pass
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def session_memo(build):
    """Build a shared ``(spark, sf_dir)`` kernel once per session and input.

    Several registry queries consume each such kernel, and the oracle
    suite and the driver gate run them all in one session; there one
    build per session beats a build per consumer (A/B in CHANGES.md).

    The key is the session's application id, ``sf_dir`` and the size and
    mtime of every file under it, so rewritten input is rebuilt, never
    served stale. A miss evicts entries of stopped sessions and older
    snapshots of the same ``sf_dir``. The builder returns a DataFrame or
    a tuple or dict of them; each is ``localCheckpoint``ed once here, so
    the entry holds output-sized blocks independent of the SQL cache. A
    builder that caches intermediates is a generator: it yields its
    frames and releases the caches after the yield. ``__wrapped__`` is
    the unmaterialised builder, for plan audits.
    """
    store: dict[tuple, object] = {}
    lock = threading.Lock()

    @functools.wraps(build)
    def memo(spark: SparkSession, sf_dir: str):
        app = spark.sparkContext.applicationId
        key = (app, sf_dir, _input_stamp(sf_dir))
        with lock:
            if key not in store:
                for k in [k for k in store if k[0] != app or k[1] == sf_dir]:
                    del store[k]
                built = build(spark, sf_dir)
                if isinstance(built, GeneratorType):
                    try:
                        store[key] = _checkpoint(next(built))
                    finally:
                        next(built, None)
                else:
                    store[key] = _checkpoint(built)
            return store[key]

    return memo


def _input_stamp(sf_dir: str) -> tuple:
    stamp = []
    for root, _, files in os.walk(sf_dir):
        for name in files:
            st = os.stat(os.path.join(root, name))
            stamp.append((os.path.join(root, name), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamp))


def _checkpoint(frames):
    if isinstance(frames, DataFrame):
        return frames.localCheckpoint()
    keys = list(frames) if isinstance(frames, dict) else range(len(frames))
    done = run_concurrent([frames[k].localCheckpoint for k in keys])
    return dict(zip(keys, done)) if isinstance(frames, dict) else tuple(done)


@contextmanager
def _released():
    """A cache registry: every frame in it is unpersisted when the block
    exits, on every exit path. A query that caches (or calls code that
    takes a ``cache_registry``) builds its small result inside the block
    and checkpoints it there with ``_materialize``."""
    caches: list[DataFrame] = []
    try:
        yield caches
    finally:
        for c in caches:
            c.unpersist()


@contextmanager
def session_confs(spark: SparkSession, confs: dict[str, str]):
    """Set the session confs ``confs`` for the block, then put each back
    as it was on every exit path: a key that was unset is unset again.
    No refcount: nested blocks restore in reverse order, and a frame that
    must run under the confs is materialised inside the block."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _materialize(name: str, out: DataFrame) -> DataFrame:
    """Checkpoint query ``name``'s result so its caches can be released;
    the lazy frame stays in ``PRE_MATERIALIZATION`` for plan audits."""
    PRE_MATERIALIZATION[name] = out
    return out.localCheckpoint()


def events_tbl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` with its TIMESTAMP(NANOS) column normalized to micros.

    Spark has no nanosecond timestamp type; ``nanosAsLong`` reads the
    column as raw nanos which we floor-divide to micros — exactly what
    DuckDB does when it narrows TIMESTAMP_NS to TIMESTAMP, so both engines
    see identical instants.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = tbl(spark, sf_dir, "events")
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # TIMESTAMP(MICROS) parquet without tz reads as TIMESTAMP_NTZ in
        # Spark 4, which refuses epoch casts. Session tz is pinned UTC
        # (tbl), so NTZ→LTZ reinterprets the same wall-clock as the same
        # instant DuckDB's naive-UTC epoch() sees.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def dsum(col: str | Column, scale: int = 2, alias: str | None = None) -> Column:
    """Exact (decimal) sum of a double column, returned as DOUBLE.

    Float sums depend on accumulation order, which differs between Spark's
    partial/final hash aggregation and DuckDB — and even between Spark runs
    (partitioning). Casting each value to DECIMAL first makes the sum exact
    and order-independent; both engines then produce bit-identical doubles.
    At 100 TB scale this costs ~nothing (decimal adds are JVM-native inside
    codegen) and buys deterministic, auditable aggregates.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(30,{scale})")).cast("double")
    return out.alias(alias) if alias else out


def davg(col: str | Column, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent average: exact decimal sum / count, as DOUBLE."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(f"decimal(30,{scale})")).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def sql_dsum(expr: str, scale: int = 2) -> str:
    """DuckDB mirror of ``dsum``."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE)"


def sql_davg(expr: str, scale: int = 2) -> str:
    """DuckDB mirror of ``davg``."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,{scale}))) AS DOUBLE) / COUNT({expr})"


def sql_cc_labels(und: str, l0: str, rounds: int) -> str:
    """CTEs ``l0`` .. ``l{rounds}``: connected-component labels as
    unrolled min-label propagation with pointer doubling over the
    undirected (src, dst) view ``und``, starting from the (id, label)
    query ``l0``. Each round takes the min over (own label, label's
    label, neighbors' labels), so the covered radius roughly doubles per
    round (d_{r+1} = 2d_r + 1): 10 rounds cover radius 2047, 12 rounds
    8191. At enough rounds every engine reaches the same
    algorithm-independent fixpoint (component = min reachable id), which
    is what the Spark alternating-star CC is gated against."""
    steps = [f"l0 AS MATERIALIZED ({l0})"]
    for r in range(1, rounds + 1):
        p = r - 1
        steps.append(f"""l{r} AS MATERIALIZED (SELECT t.id, MIN(t.x) AS label FROM (
               SELECT id, label AS x FROM l{p}
               UNION ALL
               SELECT a.id, b.label AS x FROM l{p} a JOIN l{p} b ON a.label = b.id
               UNION ALL
               SELECT e.src AS id, l.label AS x FROM {und} e JOIN l{p} l ON l.id = e.dst
             ) t GROUP BY t.id)""")
    return ",\n    ".join(steps)
