"""Event/time-series queries over the ``events`` table.

The reference is batch-only (SURVEY.md §1 "Not exercised"); these cover the
timestamp/window operator surface a production engine needs: time
bucketing, window functions, sessionization, JSON extraction. The
streaming versions of the same aggregations live in
``goodreads_pyspark_spark/streaming`` — one logical definition, two
execution modes: a stream query (``sNN``) with a batch twin shares the
twin's oracle.

Timestamp outputs are rendered as strings/dates so Spark (session tz UTC)
and DuckDB (naive UTC) hash identically.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import (
    _materialize,
    _released,
    davg,
    dsum,
    events_tbl,
    sql_davg,
    sql_dsum,
    tbl,
)
from goodreads_pyspark_spark.queries.io import _CDC_ORACLE, _cdc_feed
from goodreads_pyspark_spark.streaming import (
    dedup_events,
    drain,
    enrich_with_dim,
    hourly_by_type,
    run_to_memory_sink,
    running_user_totals,
    session_close_by_timeout,
    sessionized_by_user,
    sliding_by_type,
    staged_stream,
    state_partitions,
)


def _hms(col: str | Column) -> Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


def _windowed(df: DataFrame, *cols: str) -> DataFrame:
    """``window_start`` rendered as text, then ``cols``."""
    return df.select(_hms("window_start").alias("window_start"), *cols)


def _sessions(df: DataFrame) -> DataFrame:
    """A ``sessionized_by_user`` result with its bounds rendered as text."""
    return df.select(
        "user_id",
        _hms("session_start").alias("session_start"),
        _hms("session_end").alias("session_end"),
        "n_events",
    )


def _check_twin(
    what: str,
    got: DataFrame,
    expected: DataFrame,
    on: list[str],
    exact: list[str],
    close: tuple[str, ...] = (),
) -> None:
    """Raise unless a stream's result ``got`` equals its batch twin
    ``expected``: a full join on the keys ``on`` (a key on one side only
    diverges), ``exact`` columns compared null-safe and ``close`` ones
    within 1e-6."""
    g, e = got.alias("g"), expected.alias("e")
    bad = [~F.col(f"g.{c}").eqNullSafe(F.col(f"e.{c}")) for c in exact] + [
        ~F.coalesce(F.abs(F.col(f"g.{c}") - F.col(f"e.{c}")) <= 1e-6, F.lit(False))
        for c in close
    ]
    n = g.join(e, on, "full").filter(functools.reduce(operator.or_, bad)).count()
    if n:
        raise AssertionError(f"streaming {what} diverge from batch for {n} keys")


def _sentinel(ev: DataFrame, event_type: str, ahead: str) -> DataFrame:
    """One ``event_type`` event of user -1, ``ahead`` past the last event
    of ``ev``: staged last, it pushes the final watermark past every real
    event, so the end-of-stream no-data batch evicts all remaining state
    and emits it. Its type lets it survive a type filter and reach the
    watermark node; id -1 drops it from the result."""
    return ev.agg(F.max("ts").alias("m")).select(
        F.lit(-1).cast("long").alias("event_id"),
        (F.col("m") + F.expr(f"INTERVAL {ahead}")).alias("ts"),
        F.lit(-1).cast("long").alias("user_id"),
        F.lit(event_type).alias("event_type"),
        F.lit(0.0).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )


def _sql_micros(key: str) -> str:
    """Per-``key`` event count and exact integer-micros value sum (s02,
    s08): per-event floor(value*1e6) summed as int64 is
    order-independent in any IEEE-754 engine."""
    return f"""
    SELECT {key},
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(value * 1e6) AS BIGINT)) AS BIGINT)
             AS total_micros
    FROM events GROUP BY {key}
    """


# --- time bucketing (tumbling day) ------------------------------------------
@query(
    "t01_daily_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 6)} AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1
    """,
)
def t01_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    return ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value", 6, "total_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- tumbling window via F.window (streaming-compatible form) ---------------
@query(
    "t02_hourly_by_type",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_davg('value', 6)} AS avg_value
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling-window aggregate written with F.window — the exact shape "
    "reused by the streaming module with a watermark.",
)
def t02_hourly_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg("value", 6, "avg_value"),
        )
        .select(
            _hms("w.start").alias("hour_start"),
            "event_type",
            "n_events",
            "avg_value",
        )
    )


# --- window functions: running sum / rank / lag -----------------------------
@query(
    "t03_user_running_total",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(value AS DECIMAL(30,6)))
                OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS running_value,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                AS BIGINT) AS seq
    FROM events WHERE user_id < 100
    """,
    doc="Cumulative window aggregate; decimal accumulation so Spark's "
    "incremental fold and DuckDB's segment tree agree bit-for-bit.",
)
def t03_user_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir).filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(30,6)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
        .alias("running_value"),
        F.row_number().over(w).cast("bigint").alias("seq"),
    )


# --- sessionization (lag + gap threshold + cumulative flag) -----------------
@query(
    "t04_user_sessions",
    oracle="""
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch(ts) - epoch(LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)) > 1800
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    GROUP BY user_id
    """,
    doc="Sessionization with a 30-minute inactivity gap — lag + flag + sum; "
    "single shuffle on user_id, no Python.",
)
def t04_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.col("ts").cast("double") - prev_ts.cast("double")) > 1800),
        1,
    ).otherwise(0)
    return (
        ev.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- share-of-total (window over aggregate) ---------------------------------
@query(
    "t05_event_type_share",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
    FROM events GROUP BY event_type
    """,
)
def t05_event_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    # grand total as a broadcast scalar, not a global window: an
    # unpartitioned WindowExec funnels its whole input through one task,
    # which dies at high key cardinality; a scalar agg + broadcast
    # cross join stays distributed at any cardinality.
    total = counts.agg(F.sum("n_events").alias("__total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "event_type",
        "n_events",
        (F.col("n_events").cast("double") / F.col("__total").cast("double")).alias(
            "share"
        ),
    )


# --- semi-structured: JSON field extraction ---------------------------------
@query(
    "t06_json_prop_stats",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS k_total,
           CAST(MAX(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS k_max
    FROM events GROUP BY event_type
    """,
    doc="JSON string column → typed field (get_json_object); the pattern for "
    "props-bag schemas at scale (parse once, project early).",
)
def t06_json_prop_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("bigint").alias("k_total"),
        F.max(k).cast("int").alias("k_max"),
    )


# --- as-of join (operators/asof.py) -----------------------------------------
def _sql_last_view(tolerance: str | None = None) -> str:
    """t07/t23 oracle: each purchase with the user's most recent prior
    view (forward fill over the union of both sides, views first on a
    tie), nulled when older than ``tolerance``."""
    view_id, gap = "f_id", "epoch(__ts) - epoch(f_ts)"
    if tolerance:
        fresh = f"f_ts >= __ts - INTERVAL {tolerance}"
        view_id = f"CASE WHEN {fresh} THEN {view_id} END"
        gap = f"CASE WHEN {fresh} THEN {gap} END"
    return f"""
    WITH tagged AS (
      SELECT user_id, ts AS __ts, 0 AS is_right, event_id,
             CAST(NULL AS BIGINT) AS view_event_id,
             CAST(NULL AS TIMESTAMP) AS view_ts
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, NULL, event_id, ts
      FROM events WHERE event_type = 'view'),
    filled AS (
      SELECT *,
             last_value(view_event_id IGNORE NULLS) OVER w AS f_id,
             last_value(view_ts IGNORE NULLS) OVER w AS f_ts
      FROM tagged
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY __ts, is_right DESC, view_event_id ASC NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id,
           strftime(__ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           {view_id} AS view_event_id,
           {gap} AS gap_s
    FROM filled WHERE is_right = 0
    """


def _last_view(
    spark: SparkSession, sf_dir: str, tolerance: str | None = None
) -> DataFrame:
    """Each purchase ← the user's most recent prior view, its payload
    nulled when older than ``tolerance`` (t07, t23)."""
    from goodreads_pyspark_spark.operators.asof import as_of_join

    ev = events_tbl(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    joined = as_of_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="view_ts",
        payload=["view_event_id", "view_ts"],
        tiebreak="view_event_id",
        tolerance=F.expr(f"INTERVAL {tolerance}") if tolerance else None,
    )
    return joined.select(
        "event_id",
        "user_id",
        _hms("ts").alias("purchase_ts"),
        "view_event_id",
        (F.col("ts").cast("double") - F.col("view_ts").cast("double")).alias("gap_s"),
    )


@query(
    "t07_asof_purchase_last_view",
    oracle=_sql_last_view(),
    doc="As-of join: each purchase ← the user's most recent prior view "
    "(operators/asof.py union-marker formulation; one shuffle, no range "
    "explosion). The oracle mirrors the same forward-fill semantics.",
)
def t07_asof_purchase_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _last_view(spark, sf_dir)


# --- streaming: tumbling window, stateful totals, dedup ---------------------
@query(
    "s01_streaming_hourly_counts",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 6)} AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Structured Streaming end-to-end: events parquet → file-source "
    "stream → watermarked 1h window agg → memory sink. HASH-GATED: the "
    "stream sums value through the decimal-exact dsum path "
    "(exact_scale=6, order-independent), so the finite-input streaming "
    "result is bit-identical to the tumbling-window batch SQL.",
)
def s01_streaming_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_tbl(spark, sf_dir)
    with staged_stream(spark, events) as st, state_partitions(spark, 8):
        got = run_to_memory_sink(
            hourly_by_type(st.read(), exact_scale=6), output_mode="complete"
        )
    return _windowed(got, "event_type", "n_events", "total_value")


@query(
    "s02_stateful_user_totals",
    oracle=_sql_micros("user_id"),
    doc="Custom stateful streaming operator (streaming/stateful.py "
    "running_user_totals, applyInPandasWithState): per-user lifetime "
    "(count, value-sum) state machine driven over the staged events "
    "stream. HASH-GATED: the state carries an exact integer-micros "
    "accumulator — per-event "
    "floor(value*1e6) summed as int64 is order-independent, so the "
    "stream's final state is bit-identical to the batch SQL aggregate "
    "of the same expression in any IEEE-754 engine. The float running "
    "sum stays in the output for consumers and is still asserted "
    "against the batch aggregate within 1e-6 inside the query.",
)
def s02_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_tbl(spark, sf_dir)
    # NO shard shrink here: running_user_totals is
    # applyInPandasWithState, where each shard is a Python worker —
    # shrinking shards serializes the per-key Python work; the
    # maintenance-dominated cases are many-micro-batch streams like
    # s11, not this single-batch one
    with staged_stream(spark, events) as st:
        got = run_to_memory_sink(running_user_totals(st.read()), output_mode="update")
    # Update-mode sink: one row per (user, micro-batch touched); the final
    # state per user is the row with the largest running count.
    latest = (
        got.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value", "total_micros")).alias("s"))
        .select(
            "user_id",
            F.col("s.n_events").alias("n_events"),
            F.col("s.total_value").alias("total_value"),
            F.col("s.total_micros").alias("total_micros"),
        )
    )
    # Internal gate: the FLOAT accumulator must track the batch aggregate
    # (the micros accumulator is pinned exactly by the driver's oracle).
    expected = events.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value")
    )
    _check_twin(
        "stateful totals", latest, expected, ["user_id"], ["n_events"], ("total_value",)
    )
    return latest.select("user_id", "n_events", "total_micros")


@query(
    "s03_streaming_dedup",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (SELECT DISTINCT event_id, event_type FROM events)
    GROUP BY event_type
    """,
    doc="Streaming dedup with bounded state (streaming/dedup.py "
    "dropDuplicatesWithinWatermark): the events table is staged TWICE so "
    "real duplicates arrive in separate files; the stream must emit "
    "each event_id exactly once while evicting state past the watermark "
    "— the only dedup formulation that survives an unbounded source. "
    "HASH-GATED: the emitted "
    "per-type counts are pure integers, so the oracle is simply the "
    "distinct-by-id count of the UNDUPLICATED source — exactly what a "
    "correct streaming dedup of two staged copies must reproduce. The "
    "query still asserts total emitted rows == batch dropDuplicates "
    "before returning.",
)
def s03_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_tbl(spark, sf_dir)
    # Two copies in separate files => every event arrives twice.
    with staged_stream(spark, events, events) as st, state_partitions(spark, 8):
        got = run_to_memory_sink(dedup_events(st.read()), output_mode="append")
    n_got, n_expected = got.count(), events.dropDuplicates(["event_id"]).count()
    if n_got != n_expected:
        raise AssertionError(
            f"stream dedup emitted {n_got} rows, batch dedup has {n_expected}"
        )
    return (
        got.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("event_type")
    )


# --- sliding (overlapping) windows ------------------------------------------
#: t08/s04: 2h windows every 1h, by expanding each event against the
#: k = window/slide offsets and re-aggregating.
_SQL_SLIDING = f"""
    WITH k AS (SELECT unnest(generate_series(0, 1)) AS k),
    x AS (SELECT e.event_type, e.value,
                 date_trunc('hour', e.ts) - k.k * INTERVAL 1 HOUR AS wstart
          FROM events e CROSS JOIN k)
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {sql_dsum('value', 6)} AS total_value
    FROM x GROUP BY 1, 2
    """


@query(
    "t08_sliding_window_by_type",
    oracle=_SQL_SLIDING,
    doc="Sliding-window aggregate — 2h windows advancing every 1h, so "
    "each event contributes to exactly 2 overlapping windows "
    "(streaming/windows.py sliding_by_type, the batch face of s04). The "
    "oracle expands "
    "events against the k=window/slide offsets and re-aggregates — the "
    "relational definition of a sliding window. Spark's window() "
    "produces the expansion inside codegen; one shuffle on "
    "(window, type) regardless of slide.",
)
def t08_sliding_window_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _windowed(
        sliding_by_type(events_tbl(spark, sf_dir), exact_scale=6),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "s04_streaming_sliding_window",
    oracle=_SQL_SLIDING,
    doc="Sliding windows through Structured Streaming (streaming/windows.py "
    "sliding_by_type): watermarked 2h/1h overlapping windows over the "
    "staged events stream, complete-mode memory sink. HASH-GATED: "
    "the stream aggregates "
    "value through the decimal-exact dsum path (exact_scale=6), which "
    "is order-independent, so streaming execution is bit-identical to "
    "the batch twin t08 and shares its relational sliding-window "
    "oracle. The query still asserts stream == batch row-for-row "
    "(null-safe, both sides exact) before returning.",
)
def s04_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_tbl(spark, sf_dir)
    with staged_stream(spark, events) as st, state_partitions(spark, 8):
        got = run_to_memory_sink(
            sliding_by_type(st.read(), exact_scale=6), output_mode="complete"
        )
    _check_twin(
        "sliding windows",
        got,
        sliding_by_type(events, exact_scale=6),
        ["window_start", "event_type"],
        ["n_events", "total_value"],
    )
    return _windowed(got, "event_type", "n_events", "total_value")


# --- lag/lead: day-over-day deltas -------------------------------------------
@query(
    "t09_day_over_day",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(LAG(n_events) OVER w AS BIGINT) AS prev_events,
           CAST(n_events - LAG(n_events) OVER w AS BIGINT) AS delta,
           CAST(LEAD(n_events) OVER w AS BIGINT) AS next_events
    FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)
    """,
    doc="Day-over-day event-count deltas per type: lag/lead offset "
    "windows over a pre-aggregated daily series. Integer-only. Scale "
    "shape: the heavy shuffle is the (type, day) pre-aggregation with "
    "map-side partial counts; the lag window then runs on the tiny "
    "aggregated series (days x types rows), so per-type partitions are "
    "trivially balanced — never window over the raw 100 TB event "
    "stream when a pre-agg collapses it first.",
)
def t09_day_over_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy("day")
    return daily.select(
        "event_type",
        "day",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.lag("n_events").over(w).cast("bigint").alias("prev_events"),
        (F.col("n_events") - F.lag("n_events").over(w))
        .cast("bigint")
        .alias("delta"),
        F.lead("n_events").over(w).cast("bigint").alias("next_events"),
    )


# --- stream-static join, driver-hash-gated -----------------------------------
@query(
    "s05_stream_static_enrich",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS window_start,
           c_mktsegment AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    doc="Stream-static enrichment (streaming/windows.py enrich_with_dim): "
    "the events STREAM joins a static broadcast customer dimension, then "
    "window-counts per market segment — run as a real Structured "
    "Streaming query (file source → complete-mode memory sink), with a "
    "full SQL oracle: integer counts make streaming execution exactly "
    "batch-equivalent, so this streaming operator gets a hash-gated "
    "correctness row, not a rows-only one. The dim rides the broadcast; "
    "the stream never shuffles to meet it.",
)
def s05_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = tbl(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"), F.col("c_mktsegment").alias("attr")
    )
    events = events_tbl(spark, sf_dir)
    with staged_stream(spark, events) as st, state_partitions(spark, 8):
        got = run_to_memory_sink(enrich_with_dim(st.read(), dim), output_mode="complete")
    return _windowed(got, "segment", "n_events")


# --- cumulative distinct users via first-seen collapse -----------------------
@query(
    "t10_new_users_cumulative",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS day
      FROM events GROUP BY user_id),
    daily AS (SELECT day, COUNT(*) AS n_new_users
              FROM first_seen GROUP BY day)
    SELECT day,
           CAST(n_new_users AS BIGINT) AS n_new_users,
           CAST(SUM(n_new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_users
    FROM daily
    """,
    doc="Cumulative distinct users per day via the first-seen collapse: "
    "min(day) per user (one shuffle with map-side partial min), daily "
    "new-user counts, then a running sum over the tiny day series. The "
    "scalable replacement for a windowed COUNT(DISTINCT): never "
    "carries per-user state past the first aggregate, while the naive "
    "cumulative-distinct window holds every user id seen so far in "
    "every frame. Integer-only.",
)
def t10_new_users_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date(F.date_trunc("day", "ts"))).alias("day")
    )
    daily = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_new_users")
    )
    # Running sum over the bounded day series WITHOUT an unpartitioned
    # window: broadcast self-join on day <= day (every row matches itself,
    # so no null handling) and sum — O(days²) on a frame already reduced
    # to one row per day.
    prior = daily.select(
        F.col("day").alias("__d"), F.col("n_new_users").alias("__n")
    )
    return (
        daily.join(F.broadcast(prior), F.col("__d") <= F.col("day"))
        .groupBy("day", "n_new_users")
        .agg(F.sum("__n").cast("bigint").alias("cum_users"))
        .select(
            "day",
            F.col("n_new_users").cast("bigint").alias("n_new_users"),
            "cum_users",
        )
    )


# --- stream-stream interval join, driver-hash-gated --------------------------
def _sql_attribution(join: str) -> str:
    """s06/s10 oracle: purchases ``join`` same-user views of the
    preceding hour."""
    return f"""
    SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
    FROM events p {join} events v
      ON v.event_type = 'view'
     AND v.user_id = p.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    WHERE p.event_type = 'purchase'
    """


def _attribution(spark: SparkSession, ev: DataFrame, *sentinels: DataFrame,
                 how: str) -> DataFrame:
    """Stream ``ev`` (then ``sentinels``) as two watermarked sides —
    purchases and views, 2 hours each — and interval-join each purchase
    to the same user's views of the preceding hour (s06 inner, s10 left
    outer); the memory sink's rows."""
    with staged_stream(spark, ev, *sentinels) as st:

        def side(event_type: str, p: str, id_name: str) -> DataFrame:
            return (
                st.read()
                .filter(F.col("event_type") == event_type)
                .withWatermark("ts", "2 hours")
                .select(
                    F.col("user_id").alias(f"{p}_user"),
                    F.col("event_id").alias(id_name),
                    F.col("ts").alias(f"{p}_ts"),
                )
            )

        joined = side("purchase", "p", "purchase_id").join(
            side("view", "v", "view_id"),
            (F.col("v_user") == F.col("p_user"))
            & (F.col("v_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("v_ts") <= F.col("p_ts")),
            how,
        ).select(F.col("p_user").alias("user_id"), "purchase_id", "view_id")
        # join state is ~20k rows / 1.5k users per side — 8 state shards,
        # not 32 (state_partitions docstring has the sizing rule)
        with state_partitions(spark, 8):
            return run_to_memory_sink(joined, output_mode="append")


@query(
    "s06_stream_stream_join",
    oracle=_sql_attribution("JOIN"),
    doc="Stream-stream interval join run as a real Structured Streaming "
    "query: purchases joined to the same user's views from the "
    "preceding hour, both sides watermarked so the join state is "
    "evictable — the attribution-join shape. Inner stream-stream "
    "matches emit on arrival (append mode), so the finite-input "
    "result is the complete deterministic pair set and the query is "
    "hash-gated like a batch join. At scale the watermark bound is "
    "what keeps state finite: without it every view lives in state "
    "forever.",
)
def s06_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _attribution(spark, events_tbl(spark, sf_dir), how="inner")


# --- calendar gap-fill / resampling ------------------------------------------
#: t11/t24: the dense (event_type, hour) grid over the observed hours.
_SQL_HOUR_GRID = """
    bounds AS (SELECT date_trunc('hour', MIN(ts)) AS lo,
                      date_trunc('hour', MAX(ts)) AS hi FROM events),
    cal AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
            FROM bounds),
    grid AS (SELECT t.event_type, c.hour
             FROM (SELECT DISTINCT event_type FROM events) t
             CROSS JOIN cal c)"""


def _hour_grid(ev: DataFrame) -> DataFrame:
    """Every (hour, event_type) from the first to the last observed hour:
    a generated calendar crossed with the broadcast type dim."""
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    cal = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hour")
    )
    return cal.crossJoin(F.broadcast(ev.select("event_type").distinct()))


@query(
    "t11_hourly_gap_fill",
    oracle=f"""
    WITH {_SQL_HOUR_GRID},
    hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
                      COUNT(*) AS n
               FROM events GROUP BY 1, 2)
    SELECT g.event_type,
           strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n_events,
           CAST(CASE WHEN h.n IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap
    FROM grid g
    LEFT JOIN hourly h ON h.event_type = g.event_type AND h.hour = g.hour
    """,
    doc="Calendar gap-fill (resampling): the dense (hour x type) grid "
    "built with sequence() from the observed bounds, left-joined "
    "against actual hourly counts, zeros + gap flags where no events "
    "landed — what downstream anomaly detection / charting needs a "
    "dense series for. The calendar and type dims are tiny generated "
    "tables that broadcast; the only real shuffle is the hourly "
    "pre-aggregation of the raw stream. Integer-only.",
)
def t11_hourly_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        _hour_grid(ev)
        .join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            _hms("hour").alias("hour"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_events"),
            F.when(F.col("n").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
    )


# --- ordered funnel conversion -----------------------------------------------
@query(
    "t12_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id),
    n AS (SELECT 1 AS stage_no, '1_view' AS stage,
                 (SELECT COUNT(*) FROM v) AS n_users
          UNION ALL SELECT 2, '2_click', (SELECT COUNT(*) FROM c)
          UNION ALL SELECT 3, '3_purchase', (SELECT COUNT(*) FROM p))
    SELECT CAST(stage_no AS INTEGER) AS stage_no, stage,
           CAST(n_users AS BIGINT) AS n_users,
           CAST(n_users AS DOUBLE)
             / (SELECT n_users FROM n WHERE stage_no = 1) AS conversion
    FROM n
    """,
    doc="Strictly-ordered event funnel view -> click -> purchase: a user "
    "advances a stage only with an event AFTER their entry into the "
    "previous stage (first-touch semantics: MIN ts per stage). The "
    "product-analytics primitive (conversion-rate report). Scale "
    "shape: three user_id-keyed aggregations chained by user_id-keyed "
    "joins — one shuffle key throughout, so AQE/co-partitioning "
    "collapses the chain; no windows, no sorts, output is 3 rows.",
)
def t12_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users"))
        .select(F.lit(1).alias("stage_no"), F.lit("1_view").alias("stage"), "n_users")
        .unionAll(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage_no"), F.lit("2_click").alias("stage"), "n_users"
            )
        )
        .unionAll(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage_no"),
                F.lit("3_purchase").alias("stage"),
                "n_users",
            )
        )
    )
    base = v.agg(F.count(F.lit(1)).alias("__base"))
    return stages.crossJoin(F.broadcast(base)).select(
        "stage_no",
        "stage",
        "n_users",
        (F.col("n_users").cast("double") / F.col("__base").cast("double")).alias(
            "conversion"
        ),
    )


# --- retention cohort matrix -------------------------------------------------
@query(
    "t13_retention_cohorts",
    oracle="""
    WITH firsts AS (
      SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS cohort
      FROM events GROUP BY user_id),
    days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events),
    ret AS (
      SELECT f.cohort, date_diff('day', f.cohort, days.d) AS day_offset,
             COUNT(*) AS n_active
      FROM days JOIN firsts f USING (user_id)
      GROUP BY 1, 2),
    sz AS (SELECT cohort, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort)
    SELECT ret.cohort, CAST(day_offset AS INTEGER) AS day_offset,
           CAST(n_active AS BIGINT) AS n_active,
           CAST(sz.cohort_size AS BIGINT) AS cohort_size,
           CAST(n_active AS DOUBLE) / sz.cohort_size AS retention
    FROM ret JOIN sz USING (cohort)
    """,
    doc="Retention cohort matrix: users grouped by first-seen day, then "
    "for each (cohort, day-offset) the count and fraction still active "
    "that day — the growth-analytics triangle chart. COUNT(*) over the "
    "distinct (user, day) grid IS the distinct-active count, so no "
    "per-cell countDistinct is needed. Scale shape: first-seen and "
    "activity grids are both user_id-keyed aggregates; the join back "
    "is user_id-keyed; the final aggregate is (cohort, offset)-keyed "
    "with bounded cardinality (days x days) — the cohort-size join is "
    "a broadcast.",
)
def t13_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    d = F.to_date(F.date_trunc("day", "ts"))
    firsts = ev.groupBy("user_id").agg(F.min(d).alias("cohort"))
    days = ev.select("user_id", d.alias("d")).distinct()
    ret = (
        days.join(firsts, "user_id")
        .groupBy("cohort", F.datediff("d", "cohort").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    sz = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    return ret.join(F.broadcast(sz), "cohort").select(
        "cohort",
        "day_offset",
        "n_active",
        "cohort_size",
        (F.col("n_active").cast("double") / F.col("cohort_size")).alias("retention"),
    )


# --- co-purchase pair mining --------------------------------------------------
#: Basket-size cap: a user with b distinct purchased items contributes
#: b(b-1)/2 pair rows, so power-baskets must be excluded before the
#: self-join (mirrored in the oracle) — the market-basket analog of the
#: d06 max_df / d07 max_bucket guards.
T14_MAX_BASKET = 50
#: Minimum pair support in the report.
T14_MIN_SUPPORT = 2

#: t14/t22: distinct purchased items per capped basket and the supported
#: co-purchase pairs.
_SQL_PAIRS = f"""
    pur AS (
      SELECT DISTINCT user_id, CAST(props->>'k' AS INTEGER) AS item
      FROM events WHERE event_type = 'purchase'),
    ok_users AS (SELECT user_id FROM pur GROUP BY user_id
                 HAVING COUNT(*) <= {T14_MAX_BASKET}),
    basket AS (SELECT pur.user_id, item FROM pur JOIN ok_users USING (user_id)),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS support
      FROM basket a JOIN basket b
        ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY 1, 2
      HAVING COUNT(*) >= {T14_MIN_SUPPORT})"""


def _basket(ev: DataFrame) -> DataFrame:
    """Distinct (user, purchased item) rows of users within the cap."""
    pur = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id", F.get_json_object("props", "$.k").cast("int").alias("item")
        )
        .distinct()
    )
    ok = (
        pur.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("b"))
        .filter(F.col("b") <= T14_MAX_BASKET)
        .select("user_id")
    )
    return pur.join(ok, "user_id", "left_semi")


def _pair_support(basket: DataFrame) -> DataFrame:
    a = basket.select("user_id", F.col("item").alias("item_a"))
    b = basket.select("user_id", F.col("item").alias("item_b"))
    return (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= T14_MIN_SUPPORT)
    )


@query(
    "t14_copurchase_pairs",
    oracle=f"""
    WITH {_SQL_PAIRS}
    SELECT item_a, item_b, CAST(support AS BIGINT) AS support FROM pairs
    """,
    doc="Market-basket co-occurrence: distinct item pairs purchased by "
    "the same user, with support counts — the support-counting pass "
    "every frequent-itemset / item-to-item recommender starts from "
    "(reference goodreads.py's recommend_by_book, recast on co-"
    "occurrence instead of clusters). Scale shape: baskets collapse "
    "to DISTINCT (user, item) first; the user-keyed self-join is "
    "bounded by the basket-size cap (b<=50 => <=1225 pair rows per "
    "user), the market-basket analog of the d06/d07 blowup guards; "
    "pair aggregation is one (item_a, item_b)-keyed shuffle.",
)
def t14_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pair_support(_basket(events_tbl(spark, sf_dir)))


# --- rolling z-score anomaly detection ---------------------------------------
#: Trailing window length (hours) for the anomaly baseline.
T15_BASELINE_HOURS = 24
#: Absolute z-score above which an hour is flagged.
T15_Z_THRESHOLD = 2.0


@query(
    "t15_hourly_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_start,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2),
    rolled AS (
      SELECT event_type, hour_start, n_events,
             CAST(COUNT(*) OVER w AS BIGINT) AS tr_n,
             CAST(SUM(n_events) OVER w AS BIGINT) AS tr_sum,
             CAST(SUM(n_events * n_events) OVER w AS BIGINT) AS tr_sumsq
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour_start
                   ROWS BETWEEN {T15_BASELINE_HOURS} PRECEDING
                            AND 1 PRECEDING)),
    scored AS (
      SELECT event_type, hour_start, n_events,
             CAST(tr_sum AS DOUBLE) / tr_n AS baseline_mean,
             (CAST(tr_sumsq AS DOUBLE)
              - CAST(tr_sum AS DOUBLE) * tr_sum / tr_n)
             / (tr_n - 1) AS baseline_var
      FROM rolled WHERE tr_n = {T15_BASELINE_HOURS})
    SELECT strftime(hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type, n_events, baseline_mean,
           (n_events - baseline_mean) / SQRT(baseline_var) AS zscore,
           ABS((n_events - baseline_mean) / SQRT(baseline_var))
             > {T15_Z_THRESHOLD} AS is_anomaly
    FROM scored WHERE baseline_var > 0
    """,
    doc="Rolling z-score anomaly detection on the hourly event-count "
    "series per type: each hour scored against the mean/variance of "
    "the 24 MOST RECENT OBSERVED hours (a ROWS frame — if the hourly "
    "series has gaps the baseline spans a longer wall-clock window; "
    "densify the (type, hour) grid first, as t11 does, when strict "
    "trailing-24-wall-clock-hours semantics are needed). The "
    "monitoring primitive for ingestion pipelines — volume "
    "spikes/drops per source. All window "
    "state is integer (count, sum, sum-of-squares over a rows-frame), "
    "so mean/variance come out of exact BIGINTs through identical "
    "double ops on both engines — bit-exact z-scores without decimal "
    "gymnastics. Scale shape: one (type, hour) pre-aggregate shrinks "
    "the series to |types|x|hours| rows BEFORE the window shuffle, so "
    "the per-type sort is over thousands of rows regardless of raw "
    "event volume.",
)
def t15_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour_start")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-T15_BASELINE_HOURS, -1)
    )
    rolled = hourly.select(
        "event_type",
        "hour_start",
        "n_events",
        F.count(F.lit(1)).over(w).alias("tr_n"),
        F.sum("n_events").over(w).alias("tr_sum"),
        F.sum(F.col("n_events") * F.col("n_events")).over(w).alias("tr_sumsq"),
    ).filter(F.col("tr_n") == T15_BASELINE_HOURS)
    mean = F.col("tr_sum").cast("double") / F.col("tr_n")
    var = (
        F.col("tr_sumsq").cast("double")
        - F.col("tr_sum").cast("double") * F.col("tr_sum") / F.col("tr_n")
    ) / (F.col("tr_n") - 1)
    z = (F.col("n_events") - mean) / F.sqrt(var)
    return (
        rolled.withColumn("baseline_mean", mean)
        .withColumn("baseline_var", var)
        .filter(F.col("baseline_var") > 0)
        .select(
            _hms("hour_start").alias("hour_start"),
            "event_type",
            "n_events",
            "baseline_mean",
            z.alias("zscore"),
            (F.abs(z) > T15_Z_THRESHOLD).alias("is_anomaly"),
        )
    )


# --- RANGE-frame rolling window (time-based, not row-based) ------------------
@query(
    "t16_rolling_range_revenue",
    oracle="""
    SELECT o_orderkey, o_custkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_in_window,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(30,2))) OVER w AS DOUBLE)
             AS rolling_revenue
    FROM orders WHERE o_custkey < 300
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
    doc="Time-based rolling aggregate: per-customer trailing-7-day order "
    "revenue via a RANGE frame over epoch seconds — the frame "
    "row-count varies with event density, which a ROWS frame cannot "
    "express. Peers (same-timestamp orders) enter the frame together "
    "on both engines, so the result is tie-safe; the decimal window "
    "sum keeps doubles bit-exact. Scale shape: one (custkey)-keyed "
    "window sort; the filter bounds the demo, at scale the partition "
    "key spreads the sort across executors.",
)
def t16_rolling_range_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 300)
    sec = F.unix_timestamp("o_orderdate")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(sec)
        .rangeBetween(-7 * 86400, 0)
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        _hms("o_orderdate").alias("orderdate"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_in_window"),
        F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
        .over(w)
        .cast("double")
        .alias("rolling_revenue"),
    )


# --- native session windows (batch face of the streaming operator) -----------
#: t17/s07/s11: 30-minute-gap sessions of users < 100 as lag/cumsum
#: islands; the break is strictly greater than the gap (Spark merges
#: sessions that touch) and a session ends at its last event + gap.
_SQL_SESSIONS = """
    WITH x AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS brk
      FROM events WHERE user_id < 100
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    s AS (SELECT user_id, ts,
                 SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM x)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 30 MINUTE,
                    '%Y-%m-%d %H:%M:%S') AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """


def _session_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_tbl(spark, sf_dir).filter(F.col("user_id") < 100)


@query(
    "t17_session_windows_native",
    oracle=_SQL_SESSIONS,
    doc="Native F.session_window sessionization (streaming/windows.py "
    "sessionized_by_user, the batch face of s07): 30-minute-gap "
    "sessions per user. Spark merges sessions that TOUCH (a pair "
    "exactly gap apart is one session — probed, not assumed), so the "
    "oracle's island break is strictly-greater-than-gap; session end "
    "is last event + gap on both sides. Complements t04's manual "
    "lag/cumsum sessionization with the operator a streaming job "
    "actually runs.",
)
def t17_session_windows_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sessions(sessionized_by_user(_session_users(spark, sf_dir)))


@query(
    "s07_streaming_session_window",
    oracle=_SQL_SESSIONS,
    doc="Session windows through Structured Streaming (streaming/windows.py "
    "sessionized_by_user): watermarked 30-min-gap sessions per user over "
    "the staged events stream, complete-mode memory sink. HASH-GATED: "
    "session boundaries and "
    "counts are pure timestamp/integer outputs, so the stream result "
    "is deterministic and shares the batch twin t17's relational "
    "lag/cumsum-island oracle (strictly-greater-than-gap break = "
    "Spark's touching-sessions-merge semantics). The query still "
    "asserts stream == batch row-for-row before returning.",
)
def s07_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = _session_users(spark, sf_dir)
    with staged_stream(spark, events) as st, state_partitions(spark, 8):
        got = run_to_memory_sink(sessionized_by_user(st.read()), output_mode="complete")
    _check_twin(
        "sessions",
        got,
        sessionized_by_user(events),
        ["user_id", "session_start"],
        ["n_events", "session_end"],
    )
    return _sessions(got)


# --- exponentially-weighted trailing volume (exact dyadic weights) -----------
#: (offset_hours, weight=2^-offset) — dyadic weights make every product
#: c * w and every partial sum EXACTLY representable in a double (counts
#: < 2^20, 24 fraction bits), so the weighted sum is order-independent
#: without decimal plumbing and bit-exact cross-engine.
T18_WEIGHTS = [(0, 1.0), (1, 0.5), (2, 0.25), (3, 0.125), (4, 0.0625), (5, 0.03125), (6, 0.015625), (7, 0.0078125), (8, 0.00390625), (9, 0.001953125), (10, 0.0009765625), (11, 0.00048828125), (12, 0.000244140625), (13, 0.0001220703125), (14, 6.103515625e-05), (15, 3.0517578125e-05), (16, 1.52587890625e-05), (17, 7.62939453125e-06), (18, 3.814697265625e-06), (19, 1.9073486328125e-06), (20, 9.5367431640625e-07), (21, 4.76837158203125e-07), (22, 2.384185791015625e-07), (23, 1.1920928955078125e-07)]


@query(
    "t18_ewma_hourly_volume",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type,
             CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS hr,
             COUNT(*) AS c
      FROM events GROUP BY 1, 2),
    w(d, wt) AS (VALUES {', '.join(f'({d}, {w!r})' for d, w in T18_WEIGHTS)}),
    x AS (SELECT h.event_type, h.hr, w.d, w.wt, h2.c
          FROM hourly h CROSS JOIN w
          JOIN hourly h2 ON h2.event_type = h.event_type
                        AND h2.hr = h.hr - w.d),
    g AS (SELECT event_type, hr,
                 SUM(wt * c) AS num, SUM(wt) AS den,
                 MAX(CASE WHEN d = 0 THEN c END) AS c0
          FROM x GROUP BY 1, 2)
    SELECT strftime(to_timestamp(hr * 3600), '%Y-%m-%d %H:%M:%S') AS hour_start,
           event_type,
           CAST(c0 AS BIGINT) AS n_events,
           num / den AS ewma
    FROM g
    """,
    doc="Exponentially-weighted trailing hourly volume per event type "
    "(24h half-life-1h tail): each present hour t-d contributes its "
    "count with weight 2^-d, normalized by the present-weight mass — "
    "the smoothing a drift monitor pairs with t15's z-scores. Dyadic "
    "weights keep every product and partial sum exactly representable, "
    "so the double arithmetic is order-independent and bit-exact with "
    "no decimal casts. Scale shape: the (type, hour) pre-aggregate "
    "collapses raw volume first; the 24-offset expansion multiplies "
    "the tiny series, not the events."
)
def t18_ewma_hourly_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    hourly = (
        ev.groupBy(
            "event_type",
            (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
            .cast("bigint")
            .alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = ev.sparkSession.createDataFrame(T18_WEIGHTS, ["d", "wt"])
    h2 = hourly.select(
        F.col("event_type").alias("et2"),
        F.col("hr").alias("hr2"),
        F.col("c").alias("c2"),
    )
    x = (
        hourly.crossJoin(F.broadcast(w))
        .join(
            h2,
            (F.col("et2") == F.col("event_type"))
            & (F.col("hr2") == F.col("hr") - F.col("d")),
        )
    )
    g = x.groupBy("event_type", "hr").agg(
        F.sum(F.col("wt") * F.col("c2")).alias("num"),
        F.sum("wt").alias("den"),
        F.max(F.when(F.col("d") == 0, F.col("c2"))).alias("c0"),
    )
    return g.select(
        _hms(F.timestamp_seconds(F.col("hr") * 3600)).alias("hour_start"),
        "event_type",
        F.col("c0").cast("bigint").alias("n_events"),
        (F.col("num") / F.col("den")).alias("ewma"),
    )


# --- time-weighted average value (TWAP) --------------------------------------
@query(
    "t19_time_weighted_value",
    oracle="""
    WITH x AS (
      SELECT user_id, ts,
             CAST(ROUND(value * 1000000) AS BIGINT) AS v6,
             epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS dt
      FROM events WHERE user_id < 100
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    g AS (SELECT user_id,
                 SUM(CAST(v6 AS DECIMAL(19,0)) * CAST(dt AS DECIMAL(19,0)))
                   AS wsum,
                 CAST(SUM(dt) AS BIGINT) AS total_micros,
                 CAST(COUNT(*) AS BIGINT) AS n_holds
          FROM x WHERE dt IS NOT NULL AND dt > 0 GROUP BY user_id)
    SELECT user_id, CAST(wsum AS VARCHAR) AS weighted_sum_e12,
           total_micros, n_holds,
           ROUND(CAST(wsum AS DOUBLE) / (1e6 * total_micros), 6) AS twap
    FROM g
    """,
    doc="Time-weighted average value per user (TWAP): each event\'s value "
    "is held until the user\'s next event (lead), weighted by the exact "
    "microsecond hold duration — the metric for irregularly-sampled "
    "series where a plain mean over-weights bursts. Exactness "
    "discipline: value is scaled to an INTEGER (micro-units, identical "
    "half-up rounding both engines), the weighted sum is an exact "
    "integer-valued decimal emitted as text, and twap converts that "
    "integer to double before ONE division, and twap is 6dp-rounded (the "
    "e01 convention) because 128-bit-integer->double conversion itself "
    "differs by an ulp across engines at 20 significant digits — "
    "measured, not assumed. Scale shape: "
    "one (user)-keyed window sort then a keyed aggregate.",
)
def t19_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir).filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select(
        "user_id",
        F.round(F.col("value") * 1000000).cast("bigint").alias("v6"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("dt"),
    ).filter(F.col("dt").isNotNull() & (F.col("dt") > 0))
    g = x.groupBy("user_id").agg(
        F.sum(
            F.col("v6").cast("decimal(19,0)") * F.col("dt").cast("decimal(19,0)")
        ).alias("wsum"),
        F.sum("dt").cast("bigint").alias("total_micros"),
        F.count(F.lit(1)).cast("bigint").alias("n_holds"),
    )
    return g.select(
        "user_id",
        F.col("wsum").cast("string").alias("weighted_sum_e12"),
        "total_micros",
        "n_holds",
        F.round(
            F.col("wsum").cast("double") / (F.lit(1e6) * F.col("total_micros")), 6
        ).alias("twap"),
    )


# --- inter-arrival statistics and OHLC bars ----------------------------------
@query(
    "t20_interarrival_stats",
    oracle="""
    WITH gaps AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(LAG(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id)) AS dt_us
      FROM events)
    SELECT event_type,
           CAST(COUNT(dt_us) AS BIGINT) AS n_gaps,
           CAST(SUM(dt_us) AS DOUBLE) / (COUNT(dt_us) * 1e6) AS avg_gap_s,
           CAST(MIN(dt_us) AS DOUBLE) / 1e6 AS min_gap_s,
           CAST(MAX(dt_us) AS DOUBLE) / 1e6 AS max_gap_s
    FROM gaps WHERE dt_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="Per-type inter-arrival statistics of each user's event stream — "
    "the workload-characterization primitive behind rate limiting and "
    "session-gap tuning (t04's 30-minute threshold should come FROM "
    "this table, not folklore). Gap arithmetic stays in exact integer "
    "microseconds (unix_micros lag diffs); the only float op is the "
    "final division of an exactly-summed BIGINT, identical in both "
    "engines. One (user)-partitioned window then one tiny per-type "
    "aggregate — the lag never sees a cross-user frame.",
)
def t20_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    gaps = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("dt_us").cast("bigint").alias("n_gaps"),
        (
            F.sum("dt_us").cast("double") / (F.count("dt_us") * F.lit(1e6))
        ).alias("avg_gap_s"),
        (F.min("dt_us").cast("double") / F.lit(1e6)).alias("min_gap_s"),
        (F.max("dt_us").cast("double") / F.lit(1e6)).alias("max_gap_s"),
    )


@query(
    "t21_ohlc_bars",
    oracle="""
    WITH x AS (
      SELECT event_type, date_trunc('hour', ts) AS hs, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rn_o,
             ROW_NUMBER() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn_c
      FROM events)
    SELECT event_type,
           strftime(hs, '%Y-%m-%d %H:%M:%S') AS hour_start,
           MAX(CASE WHEN rn_o = 1 THEN value END) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           MAX(CASE WHEN rn_c = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM x GROUP BY 1, 2
    """,
    doc="OHLC resampling (the financial bar-chart primitive): per "
    "(type, hour), the first/max/min/last value. Spark-first plan: "
    "min_by/max_by keyed on the unique (ts, event_id) struct collapse "
    "open/close into the SAME single-shuffle hash aggregate as "
    "high/low — no sort window, no second shuffle, map-side partials "
    "apply. The oracle states the same thing relationally (two "
    "row_number windows) since DuckDB's arg_min on a composite key "
    "isn't portable SQL; values are raw untouched doubles on both "
    "sides so equality is exact.",
)
def t21_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("hs")
        )
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
        .select(
            "event_type",
            _hms("hs").alias("hour_start"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


@query(
    "s08_foreachbatch_sink",
    oracle=_sql_micros("event_type"),
    doc="The PRODUCTION streaming sink path: events stream -> "
    "foreachBatch -> append-mode parquet with a checkpoint location "
    "(run_to_memory_sink is the test harness; foreachBatch+checkpoint "
    "is what a real pipeline deploys — it also unlocks merge/upsert "
    "sinks Structured Streaming lacks natively). The gate re-reads "
    "the written files and hash-checks per-type counts and the exact "
    "integer-micros value sum against the batch SQL — proving no "
    "micro-batch was lost or doubled across the stream->disk->scan "
    "round trip. Checkpointed offsets are what make a restart resume "
    "instead of re-emit (recovery is pinned by the checkpoint-restart "
    "pytest).",
)
def s08_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = events_tbl(spark, sf_dir)
    with staged_stream(spark, events) as st:
        out = st.path("out")
        drain(
            st.read()
            .writeStream.foreachBatch(lambda bdf, _: bdf.write.mode("append").parquet(out))
            .option("checkpointLocation", st.path("chk"))
        )
        written = spark.read.parquet(out)
        n_written, n_src = written.count(), events.count()
        if n_written != n_src:
            raise AssertionError(
                f"foreachBatch sink wrote {n_written} rows, source has {n_src}"
            )
        # materialize before the stage (and the sink output in it) goes
        return written.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1e6).cast("long"))
            .cast("bigint")
            .alias("total_micros"),
        ).localCheckpoint(eager=True)


# --- association rules from co-purchase supports ----------------------------
T22_TOP = 20


@query(
    "t22_association_rules",
    oracle=f"""
    WITH {_SQL_PAIRS},
    n AS (SELECT COUNT(*) AS n_users FROM ok_users),
    cnt AS (SELECT item, COUNT(*) AS c FROM basket GROUP BY item)
    SELECT item_a, item_b,
           CAST(support AS BIGINT) AS support,
           CAST(support AS DOUBLE) / ca.c AS confidence,
           CAST(support * n_users AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN cnt ca ON ca.item = item_a
    JOIN cnt cb ON cb.item = item_b
    CROSS JOIN n
    ORDER BY lift DESC, item_a, item_b
    LIMIT {T22_TOP}
    """,
    doc="Association rules on top of t14's support table: confidence "
    "(P(b|a)) and lift (support over independence) per co-purchased "
    "pair, top rules by lift — the scoring pass that turns raw "
    "support counts into a rankable item-to-item recommender. All "
    "inputs are exact integers (supports, item counts, user count), "
    "so the two divisions are bit-equal across engines; the "
    "single-row user-count rides a broadcast cross join. Same basket "
    "cap as t14 bounds the pair space.",
)
def t22_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    with _released() as caches:
        basket = _basket(events_tbl(spark, sf_dir)).cache()
        caches.append(basket)
        n_users = basket.select("user_id").distinct().agg(
            F.count(F.lit(1)).alias("n_users")
        )
        cnt = basket.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
        ca = cnt.select(F.col("item").alias("item_a"), F.col("c").alias("ca"))
        cb = cnt.select(F.col("item").alias("item_b"), F.col("c").alias("cb"))
        out = (
            # ca/cb are per-ITEM counts — the item domain grows with the
            # corpus, so no forced broadcast: AQE's size check governs.
            _pair_support(basket)
            .join(ca, "item_a")
            .join(cb, "item_b")
            .crossJoin(F.broadcast(n_users))
            .select(
                "item_a",
                "item_b",
                F.col("support").cast("bigint").alias("support"),
                (F.col("support").cast("double") / F.col("ca")).alias("confidence"),
                (
                    (F.col("support") * F.col("n_users")).cast("double")
                    / (F.col("ca") * F.col("cb"))
                ).alias("lift"),
            )
            .orderBy(F.col("lift").desc(), "item_a", "item_b")
            .limit(T22_TOP)
        )
        return _materialize("t22_association_rules", out)


# --- streaming CDC upsert (foreachBatch merge) -------------------------------
@query(
    "s09_streaming_cdc_upsert",
    oracle=_CDC_ORACLE,
    doc="STREAMING CDC: the io04 change feed (deletes %5=0, updates %5=1, "
    "inserts %5=2) arrives as a stream — one file per op class, "
    "maxFilesPerTrigger=1, so the merge genuinely applies "
    "INCREMENTALLY across >=3 micro-batches — and foreachBatch runs "
    "operators/cdc.apply_cdc against the current snapshot, writing a "
    "new versioned snapshot per batch (the copy-on-write MERGE loop "
    "Delta/Hudi deploy; foreachBatch is how Structured Streaming "
    "reaches a merge sink it lacks natively). Keys are disjoint "
    "across batches here, so the final snapshot is order-independent "
    "and hash-gates against the SAME batch oracle as io04 — proving "
    "stream-incremental merge == one-shot batch merge. Per batch the "
    "touched-key set broadcasts into an anti join; the base snapshot "
    "never shuffles.",
)
def s09_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.cdc import apply_cdc

    docs = tbl(spark, sf_dir, "documents")
    feed = [part.coalesce(1) for part in _cdc_feed(docs)]
    with staged_stream(
        spark, *feed, schema=feed[0].schema, files_per_trigger=1
    ) as st:
        state = {"cur": st.path("v0"), "batches": 0}
        docs.write.parquet(state["cur"])

        def merge_batch(bdf: DataFrame, batch_id: int) -> None:
            if bdf.isEmpty():
                return
            state["batches"] += 1
            nxt = st.path(f"v{state['batches']}")
            snap = spark.read.parquet(state["cur"])
            apply_cdc(snap, bdf, key="doc_id").write.parquet(nxt)
            state["cur"] = nxt

        # stateless stream, but each merge_batch join runs at batch scale —
        # 8 shuffle partitions, not 32 of scheduling overhead
        with state_partitions(spark, 8):
            drain(
                st.read()
                .writeStream.foreachBatch(merge_batch)
                .option("checkpointLocation", st.path("chk"))
            )
        if state["batches"] < 3:
            raise AssertionError(
                f"expected >=3 incremental merge batches, saw {state['batches']}"
            )
        # materialize before the stage (and the snapshots in it) goes
        return (
            spark.read.parquet(state["cur"])
            .select("doc_id", "text", "lang", "source", "n_chars")
            .localCheckpoint(eager=True)
        )


# --- stream-stream LEFT OUTER join (watermark-driven null emission) ---------
@query(
    "s10_stream_stream_left_join",
    oracle=_sql_attribution("LEFT JOIN"),
    doc="Stream-stream LEFT OUTER interval join: every purchase emits — "
    "matched against same-user views from the preceding hour, or with "
    "a NULL view_id once the watermark PROVES no match can still "
    "arrive. The semantics s06's inner join lacks: unmatched left "
    "rows sit in the join state until watermark expiry, so attribution "
    "never silently drops a purchase. Harness detail that makes the "
    "batch oracle exact: a far-future sentinel row PER SIDE — typed "
    "'purchase'/'view' so it survives each side's type filter and "
    "reaches the watermark node (a neutral type would be filtered out "
    "upstream and never advance it), keyed user_id=-1 and dropped "
    "from the result by id — pushes the final watermark past every "
    "real event, forcing Spark's end-of-stream "
    "no-data batch to evict ALL remaining state and emit the tail "
    "unmatched purchases — without it the last hours of purchases "
    "would be stuck in state forever and the append-mode result would "
    "be a prefix of the truth. Both sides carry 2-hour watermarks; "
    "state is bounded by (watermark + interval), the production "
    "requirement for an unbounded attribution join.",
)
def s10_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    sentinels = _sentinel(ev, "purchase", "30 DAYS").unionByName(
        _sentinel(ev, "view", "30 DAYS")
    )
    got = _attribution(spark, ev, sentinels, how="left_outer")
    # drop the sentinel purchase (it joins only the view sentinel)
    return got.filter(F.col("purchase_id") >= 0)


# --- as-of join with tolerance (bounded staleness) --------------------------
@query(
    "t23_asof_with_tolerance",
    oracle=_sql_last_view("1 HOUR"),
    doc="t07's as-of join under a 1-hour TOLERANCE (pandas merge_asof "
    "semantics; operators/asof.py tolerance param): a prior view older "
    "than an hour is too stale to attribute, so the whole payload "
    "nulls — the bounded-staleness contract of every quote/sensor "
    "pipeline. Applied as a post-fill predicate on the SAME one-"
    "shuffle union-marker plan: tolerance costs nothing, where a "
    "range-join formulation would pay per-key quadratic expansion "
    "precisely when tolerance windows are wide.",
)
def t23_asof_with_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _last_view(spark, sf_dir, "1 HOUR")


# --- session close by state timeout (silence as signal) ---------------------
@query(
    "s11_session_timeout_close",
    oracle=_SQL_SESSIONS,
    doc="Sessions that close by SILENCE: per-user session "
    "state in applyInPandasWithState with an EVENT-TIME TIMEOUT at "
    "last_event + gap — when the watermark passes it with no further "
    "data for the key, Spark fires the close callback and the session "
    "emits from the timeout path, not from a later event "
    "(streaming/stateful.py session_close_by_timeout). Harness: events "
    "staged as 3 time waves plus a far-future sentinel, "
    "maxFilesPerTrigger=1 with strictly ordered mtimes; the two wave "
    "cuts sit inside the largest intra-user silence, so the middle wave "
    "is silent for that user, its batch's watermark is past the open "
    "deadline, "
    "and the timeout fires MID-STREAM (asserted: a timeout-closed "
    "session followed by a later session of the same user) while "
    "gap-closes keep happening inline; the "
    "sentinel forces the final no-data batch that flushes every tail "
    "session. Both close paths emit the identical (start, last+gap, n) "
    "integer-micros row, so the union is exactly the batch island set "
    "— hash-gated against t17's relational oracle, plus an internal "
    "row-for-row assert against the native session_window batch face.",
)
def s11_session_timeout_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as _dt
    import glob
    import os
    import time

    ev = _session_users(spark, sf_dir)

    # Stage the stream as 3 time waves in ONE partitioned write job, cut
    # around the single largest intra-user silence (~100h at both sfs):
    # the middle wave contains no event for that user while the first
    # wave's watermark has already passed their open session's deadline —
    # the timeout path MUST fire mid-stream, with micro-batch count (and
    # per-batch state-store overhead) independent of span.
    wgap = Window.partitionBy("user_id").orderBy("ts")
    top_gap = (
        ev.select("user_id", "ts", F.lag("ts").over(wgap).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .select(
            "prev",
            "ts",
            (F.col("ts").cast("double") - F.col("prev").cast("double")).alias(
                "g"
            ),
        )
        .orderBy(F.desc("g"), "prev")
        .first()
    )
    if top_gap["g"] < 6 * 3600:
        raise AssertionError("fixture lacks a >6h intra-user silence")

    # Only the silence-straddling pair of cuts is load-bearing (more cuts
    # add micro-batches — and per-batch state-store maintenance —
    # without adding coverage): wave 1 spans the inside of
    # the largest silence, so it is empty for that user while its other
    # users' events push the watermark past the open deadline, and the
    # user's next event arrives strictly later, in wave 2.
    cuts = sorted(
        {
            top_gap["prev"] + _dt.timedelta(hours=4),
            top_gap["ts"] - _dt.timedelta(minutes=5),
        }
    )
    wave_col = sum(
        (F.col("ts") >= F.lit(c)).cast("int") for c in cuts
    )
    with staged_stream(spark, files_per_trigger=1) as st:
        waves_dir = os.path.join(st.dir, "_waves")
        (
            ev.withColumn("wave", wave_col)
            .repartition("wave")
            .write.partitionBy("wave")
            .parquet(waves_dir)
        )
        base = time.time() - 86400  # past mtimes keep maxFileAge irrelevant
        wave_files = sorted(
            glob.glob(os.path.join(waves_dir, "wave=*/*.parquet")),
            key=lambda f: int(os.path.basename(os.path.dirname(f)).split("=")[1]),
        )
        for i, f in enumerate(wave_files):
            # ascending mtimes pin the file source's oldest-first batch order
            dst = os.path.join(st.dir, f"wave-{i:04d}.parquet")
            os.rename(f, dst)
            os.utime(dst, (base + i, base + i))
        # typed sentinel (the s10 trick): passes the user filter via user_id -1,
        # pushes the final watermark past every real deadline
        before = set(glob.glob(os.path.join(st.dir, "*.parquet")))
        _sentinel(ev, "view", "365 DAYS").coalesce(1).write.mode("append").parquet(
            st.dir
        )
        for f in set(glob.glob(os.path.join(st.dir, "*.parquet"))) - before:
            os.utime(f, (base + len(wave_files) + 1,) * 2)

        stream = (
            st.read().filter(F.col("user_id") < 100).withWatermark("ts", "1 hour")
        )
        # each micro-batch pays per-partition state-store maintenance;
        # state here is ~100 keys, so 4 shards, not 32 (state_partitions
        # docstring has the sizing rule)
        with state_partitions(spark, 4):
            got = run_to_memory_sink(
                session_close_by_timeout(stream, gap_minutes=30),
                output_mode="update",
            ).filter(F.col("user_id") >= 0)

    # fixture property: a timeout-closed session for a user who has a LATER
    # session is provably a MID-STREAM silence close — had the user's next
    # event been processed first, the handler would have closed the old
    # session inline as 'gap'; 'timeout' means the callback fired in a
    # batch strictly before the one carrying that user's next event.
    later = got.select(
        F.col("user_id").alias("u"), F.col("session_start").alias("nxt")
    )
    mid_stream = (
        got.filter(F.col("closed_by") == "timeout")
        .join(
            later,
            (F.col("user_id") == F.col("u"))
            & (F.col("nxt") > F.col("session_end")),
            "left_semi",
        )
        .count()
    )
    if not mid_stream:
        raise AssertionError("no mid-stream timeout-closed session in fixture")
    if not got.filter(F.col("closed_by") == "gap").count():
        raise AssertionError("no gap-closed session in fixture")

    # stream == batch, row for row (the s07 convention)
    _check_twin(
        "timeout-closed sessions",
        got,
        sessionized_by_user(ev),
        ["user_id", "session_start"],
        ["n_events", "session_end"],
    )
    return _sessions(got)


# --- LOCF resample: last-observation-carried-forward hourly grid ------------
@query(
    "t24_locf_resample",
    oracle=f"""
    WITH obs AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events),
    hourly AS (SELECT event_type, hour, value FROM obs WHERE rn = 1),
    {_SQL_HOUR_GRID},
    joined AS (SELECT g.event_type, g.hour, h.value,
                      CASE WHEN h.value IS NULL THEN 0 ELSE 1 END AS is_observed
               FROM grid g LEFT JOIN hourly h
                 ON g.event_type = h.event_type AND g.hour = h.hour)
    SELECT event_type,
           strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour,
           last_value(value IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY hour
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf,
           CAST(is_observed AS INTEGER) AS is_observed
    FROM joined
    """,
    doc="Last-observation-carried-forward resample: the irregular event "
    "stream becomes a dense hourly grid per event_type where missing "
    "hours repeat the most recent observed value (last event of the "
    "hour by (ts, event_id) — a deterministic total order). t11 "
    "gap-fills with zeros (count semantics); LOCF is the state/level "
    "semantics (sensor readings, account balances, feature-store "
    "snapshots) and the standard pre-join normalization before an "
    "as-of-free equi-join on the grid. The carried value is copied, "
    "never arithmetic'd, so doubles stay bit-identical across engines. "
    "Scale shape: one (type, hour)-keyed window picks the last "
    "observation, the calendar grid is |types| x |hours| (tiny, "
    "broadcast), and the forward-fill window is partitioned by "
    "event_type over the GRID (bounded rows per partition), never over "
    "raw events.",
)
def t24_locf_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    w_pick = Window.partitionBy(
        "event_type", F.date_trunc("hour", F.col("ts"))
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    hourly = (
        ev.withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "value",
        )
    )
    joined = _hour_grid(ev).join(hourly, ["event_type", "hour"], "left").select(
        "event_type",
        "hour",
        "value",
        F.when(F.col("value").isNull(), 0).otherwise(1).cast("int").alias("is_observed"),
    )
    w_fill = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return joined.select(
        "event_type",
        _hms("hour").alias("hour"),
        F.last("value", ignorenulls=True).over(w_fill).alias("value_locf"),
        "is_observed",
    )


# --- last-touch attribution -------------------------------------------------
@query(
    "t25_lasttouch_attribution",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase'),
    t AS (SELECT event_id, user_id, ts, event_type FROM events
          WHERE event_type IN ('click', 'view')),
    att AS (
      SELECT p.event_id, p.value, t.event_type AS channel,
             ROW_NUMBER() OVER (PARTITION BY p.event_id
                                ORDER BY t.ts DESC, t.event_id DESC) AS rn
      FROM p JOIN t ON t.user_id = p.user_id
       AND t.ts <= p.ts AND t.ts >= p.ts - INTERVAL 2 HOUR),
    labeled AS (
      SELECT p.event_id, p.value, COALESCE(a.channel, 'direct') AS channel
      FROM p LEFT JOIN (SELECT event_id, channel FROM att WHERE rn = 1) a
      USING (event_id))
    SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
           {sql_dsum('value', 2)} AS revenue
    FROM labeled GROUP BY channel
    """,
    doc="Last-touch marketing attribution — each purchase credits the "
    "most recent click/view by the same user within a 2-hour lookback "
    "(ties to the greatest event_id), unattributed purchases fall to "
    "'direct'; rollup = per-channel purchase count + decimal-exact "
    "revenue. The event-analytics sibling of t12's funnel: attribution "
    "is an as-of join, NOT a range join — operators/asof.py's one-"
    "shuffle union-marker fill with the t23 tolerance contract, so the "
    "2-hour window costs nothing extra (the oracle's range join + "
    "ROW_NUMBER is the quadratic formulation this operator avoids; "
    "fine for DuckDB at oracle scale, wrong at 100 TB). Scale shape: "
    "one (user_id)-keyed shuffle, linear fill, then a 3-row channel "
    "agg.",
)
def t25_lasttouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.asof import as_of_join

    ev = events_tbl(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    touches = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("tts"),
        F.col("event_type").alias("channel"),
        F.col("event_id").alias("tevent_id"),
    )
    att = as_of_join(
        purchases,
        touches,
        on=["user_id"],
        left_ts="ts",
        right_ts="tts",
        payload=["channel"],
        tiebreak="tevent_id",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )
    return (
        att.select(F.coalesce("channel", F.lit("direct")).alias("channel"), "value")
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            dsum("value", 2, "revenue"),
        )
    )


# --- daily sketch telemetry with engine-independent gate -------------------
_T26_RSD = 0.02
_T26_TOL = 5 * _T26_RSD

#: t26/s13: the exact per-day cells; the in-query HLL bound is pinned TRUE.
_SQL_DAILY_USERS = """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS hll_within_rsd
    FROM events GROUP BY 1
    """


def _day(col: str = "ts") -> Column:
    return F.date_format(F.date_trunc("day", col), "yyyy-MM-dd").alias("day")


def _hll() -> Column:
    return F.approx_count_distinct("user_id", rsd=_T26_RSD).alias("hll")


def _daily_gate(daily: DataFrame) -> DataFrame:
    """t26's gate columns over per-day exact counts and an ``hll``
    estimate: the estimate within 5·rsd of the exact distinct count."""
    err = F.abs(F.col("hll").cast("double") - F.col("exact_users")) / F.col(
        "exact_users"
    )
    return daily.select(
        "day", "exact_users", "n_events", (err <= _T26_TOL).alias("hll_within_rsd")
    )


def _daily_exact(ev: DataFrame, *aggs: Column) -> DataFrame:
    return ev.groupBy(_day()).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        *aggs,
    )


@query(
    "t26_daily_approx_users",
    oracle=_SQL_DAILY_USERS,
    doc="Daily distinct-user telemetry via HyperLogLog — the sketch q27 "
    "gates, in its most common production shape (per-time-bucket "
    "cardinality dashboards where exact COUNT DISTINCT would shuffle "
    "every id every day). Same engine-independent gate discipline as "
    "q27: emit the exact per-day distinct count and event count (DuckDB "
    "recomputes both) plus an in-query boolean that Spark's own HLL "
    "estimate landed within 5·rsd of the exact value — the oracle pins "
    "it TRUE, so a broken sketch flips the cell. Scale shape: the HLL "
    "aggregate is one map-side-mergeable pass (fixed 2^p registers per "
    "(day) group); the exact count here is the audit column — at "
    "100 TB a deployment keeps only the sketch pass and periodic "
    "sampled audits.",
)
def t26_daily_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _daily_gate(_daily_exact(events_tbl(spark, sf_dir), _hll()))


@query(
    "s13_streaming_approx_users",
    oracle=_SQL_DAILY_USERS,
    doc="t26's daily distinct-user telemetry THROUGH the streaming "
    "engine — the reason sketches exist in streaming at all: exact "
    "COUNT DISTINCT is not a legal streaming aggregate (unbounded "
    "per-key state), approx_count_distinct is (fixed 2^p registers "
    "merged per micro-batch). The watermarked daily window carries "
    "(count, HLL) state; after the run the query checks the streamed "
    "event counts against the batch-exact ones row-for-row (stream == "
    "batch duality, the s01 discipline) and emits the t26 gate "
    "columns — DuckDB recomputes the exact "
    "cells, the oracle pins the in-bound boolean TRUE. Scale shape: "
    "per-window state is one register array + one counter regardless "
    "of cardinality; the batch exact pass exists only as the audit.",
)
def s13_streaming_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    # state is ~30 daily windows — 4 state shards, not 32
    with staged_stream(spark, ev) as st, state_partitions(spark, 4):
        agg = (
            st.read()
            .withWatermark("ts", "1 day")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"), _hll())
        )
        got = run_to_memory_sink(agg, output_mode="complete")
    got = got.select(_day("w.start"), "n_events", "hll")
    exact = _daily_exact(ev)
    _check_twin("daily event counts", got, exact, ["day"], ["n_events"])
    return _daily_gate(exact.join(got.select("day", "hll"), "day"))


# --- count-min sketch heavy hitters ----------------------------------------
#: Sketch geometry: d hash rows x w buckets. w=256 at test scale keeps the
#: collision (overcount) path genuinely exercised by thousands of keys;
#: production sizes w ~ e/eps for an eps*N additive error bound.
_T27_D = 3
_T27_W = 256


def _cms_bucket(j: int):
    """Row-j CMS bucket of ``user_id`` — md5-based, engine-portable
    (shared by t27 batch and s14 streaming so their cells are comparable
    by construction)."""
    key = F.concat(F.lit(f"cms{j}_"), F.col("user_id").cast("string"))
    return (
        F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint") % _T27_W
    )


def _cms_pairs(df: DataFrame) -> DataFrame:
    """Explode each row into its (j, bucket) sketch coordinates,
    keeping the other columns."""
    return df.select(
        "*",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("j"), _cms_bucket(j).alias("b"))
                    for j in range(_T27_D)
                ]
            )
        ).alias("p"),
    ).select(*df.columns, "p.j", "p.b")


def _sql_cms_top(extra: str = "") -> str:
    """t27/s14 oracle: per-key counts, their sketch cells, the per-key
    min-of-cells estimate for the exact top-20 keys; ``extra`` columns
    follow the overcount."""
    return f"""
    WITH kc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM events GROUP BY user_id),
    r AS (SELECT user_id, cnt, j,
                 ('0x' || substr(md5('cms' || j || '_' || user_id), 1, 15))
                   ::BIGINT % {_T27_W} AS b
          FROM kc, (SELECT unnest([0, 1, 2]) AS j)),
    cells AS (SELECT j, b, CAST(SUM(cnt) AS BIGINT) AS cell
              FROM r GROUP BY j, b),
    est AS (SELECT user_id, cnt, MIN(cell) AS cms_est
            FROM r JOIN cells USING (j, b) GROUP BY user_id, cnt)
    SELECT user_id, cnt AS exact_cnt,
           CAST(cms_est AS BIGINT) AS cms_est,
           CAST(cms_est - cnt AS BIGINT) AS overcount{extra}
    FROM est ORDER BY cnt DESC, user_id LIMIT 20
    """


def _cms_top(ev: DataFrame, streamed: DataFrame | None = None) -> DataFrame:
    """t27's gate: the sketch is built from per-key counts (identical
    cells to event-level updates, since CMS is linear), each key's
    estimate is the min over its cells (a broadcast join), reported for
    the exact top-20 keys. With ``streamed`` cells (``cell_s`` per
    coordinate, s14) the estimate reads those, and
    ``stream_matches_batch`` says each of the key's streamed cells
    equals its batch cell."""
    r = _cms_pairs(ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt")))
    cells = r.groupBy("j", "b").agg(F.sum("cnt").cast("bigint").alias("cell"))
    est, checks = "cell", {}
    if streamed is not None:
        cells, est = cells.join(streamed, ["j", "b"], "full"), "cell_s"
        checks["stream_matches_batch"] = (
            F.min(F.col("cell_s").eqNullSafe(F.col("cell")).cast("int")) == 1
        )
    top = (
        r.join(F.broadcast(cells), ["j", "b"])
        .groupBy("user_id", "cnt")
        .agg(
            F.min(est).cast("bigint").alias("cms_est"),
            *[c.alias(name) for name, c in checks.items()],
        )
        .orderBy(F.col("cnt").desc(), "user_id")
        .limit(20)
    )
    return top.select(
        "user_id",
        F.col("cnt").cast("bigint").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).cast("bigint").alias("overcount"),
        *checks,
    )


@query(
    "t27_cms_heavy_hitters",
    oracle=_sql_cms_top(),
    doc="Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005, "
    f"public): {_T27_D} md5 hash rows x {_T27_W} buckets, per-key "
    "estimate = min over its cells, reported for the exact top-20 users "
    "with the exact count and the (always >= 0) overcount beside it — "
    "the sketch's one-sided error made auditable. Completes the sketch "
    "family (d59 KMV cardinality, d60 Bloom membership, t26 HLL "
    "distinct) with FREQUENCY. The sketch is built from per-key counts "
    "(identical cells to event-level updates, since CMS is linear) so "
    "the corpus shuffles once by key; the 768-cell table is a broadcast "
    "join; top-k is TakeOrdered. Scale: cells merge cell-wise across "
    "partitions/streams (the mergeability that makes CMS the standard "
    "streaming frequency sketch); at 100 TB only the sketch and the "
    "candidate keys move, never a per-key exact table — the exact "
    "column here is the audit, per the t26 discipline.",
)
def t27_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cms_top(events_tbl(spark, sf_dir))


# --- streaming CMS heavy hitters --------------------------------------------
@query(
    "s14_streaming_heavy_hitters",
    oracle=_sql_cms_top(", TRUE AS stream_matches_batch"),
    doc="t27's count-min sketch built BY the streaming engine — the "
    "setting CMS was designed for (Cormode & Muthukrishnan 2005: a "
    "sketch whose state is O(d*w) regardless of key cardinality, so it "
    "is a legal streaming aggregate where an exact per-key count table "
    "is unbounded state). Each event maps to its 3 (row, bucket) "
    "coordinates map-side (the 3x row fan-out buys O(768)-cell state — "
    "the opposite trade from t27's batch shape, which pre-aggregates "
    "per key because batch CAN hold the key table); one streaming "
    "groupBy maintains the cells across micro-batches. After the run, "
    "the per-key estimates are recomputed from the STREAMED cells and "
    "compared to the batch-built cells row-for-row — the measured "
    "stream_matches_batch boolean rides every output row and the "
    "oracle pins it TRUE (CMS is linear, so stream and batch cells are "
    "equal exactly, not approximately). Output is t27's top-20 gate "
    "from the streamed sketch. Scale: state is 768 cells per stream "
    "regardless of users; merging sketches across streams/partitions "
    "is cell-wise addition.",
)
def s14_streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir)
    # 768 cells of state — 4 shards, not 32 (the s13 sizing rule)
    with staged_stream(spark, ev) as st, state_partitions(spark, 4):
        cells = (
            _cms_pairs(st.read().select("user_id"))
            .groupBy("j", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cell_s"))
        )
        got = run_to_memory_sink(cells, output_mode="complete")
    return _cms_top(ev, got)


# --- quantile sketch audit --------------------------------------------------
#: GK sketch accuracy parameter: guaranteed rank error <= n/accuracy.
_T28_ACC = 200


@query(
    "t28_quantile_sketch_audit",
    oracle="""
    WITH v AS (SELECT event_type, value,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY value) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n
               FROM events)
    SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
           MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN value END) AS p50_disc,
           MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                    THEN value END) AS p90_disc,
           TRUE AS ok50, TRUE AS ok90
    FROM v GROUP BY event_type
    """,
    doc="Quantile-sketch audit — the last classic sketch next to d59 "
    "KMV (cardinality), d60 Bloom (membership), t26 HLL (distinct) and "
    "t27 CMS (frequency): per event_type, Spark's Greenwald-Khanna "
    f"percentile_approx at accuracy {_T28_ACC} for p50/p90, gated the "
    "t26 way — the oracle recomputes the exact DISCRETE percentiles "
    "(value at row rank ceil(p*n): picked input values, no "
    "interpolation arithmetic to mismatch) and pins TRUE the measured "
    "in-query booleans that each estimate's rank interval [#(<est)+1, "
    "#(<=est)] overlaps p*n +/- n/accuracy (GK's guarantee is a RANK "
    "bound, not a value bound, so the audit checks ranks: a broken "
    "sketch flips the cell no matter how values are distributed). "
    "Scale shape: the sketch is one mergeable pass (fixed summary per "
    "group); the exact side sorts within event_type partitions and "
    "exists only as the audit column, per the t26 discipline — at "
    "100 TB a deployment keeps the sketch and samples the audit.",
)
def t28_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_tbl(spark, sf_dir).select("event_type", "value")
    w = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    v = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    disc = v.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.5) * F.col("n")), F.col("value"))
        ).alias("p50_disc"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.lit(0.9) * F.col("n")), F.col("value"))
        ).alias("p90_disc"),
    )
    apx = (
        ev.groupBy("event_type")
        .agg(
            F.percentile_approx(
                "value", F.array(F.lit(0.5), F.lit(0.9)), F.lit(_T28_ACC)
            ).alias("ap")
        )
        .select(
            "event_type",
            F.col("ap")[0].alias("a50"),
            F.col("ap")[1].alias("a90"),
        )
    )
    ranks = (
        ev.join(F.broadcast(apx), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("nn"),
            F.sum((F.col("value") <= F.col("a50")).cast("long")).alias("le50"),
            F.sum((F.col("value") < F.col("a50")).cast("long")).alias("lt50"),
            F.sum((F.col("value") <= F.col("a90")).cast("long")).alias("le90"),
            F.sum((F.col("value") < F.col("a90")).cast("long")).alias("lt90"),
        )
    )
    eps = F.col("nn") / _T28_ACC + 1

    def ok(p: float, le: str, lt: str):
        target = F.lit(p) * F.col("nn")
        return (F.col(le) >= target - eps) & (F.col(lt) <= target + eps)

    return disc.join(F.broadcast(ranks), "event_type").select(
        "event_type",
        "n",
        "p50_disc",
        "p90_disc",
        ok(0.5, "le50", "lt50").alias("ok50"),
        ok(0.9, "le90", "lt90").alias("ok90"),
    )
