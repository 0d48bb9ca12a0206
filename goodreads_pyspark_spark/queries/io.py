"""Driver-gated source-reader queries (SURVEY.md §2.1 S1/S2).

The driver testdata is parquet-only, so the JSON and CSV scans are gated
by a lossless roundtrip: write ``documents`` out through each format,
read it back through the production readers (explicit schema — the
at-scale mode), and aggregate. The oracle computes the same aggregate
from the original parquet, so any fidelity loss in either writer or
reader (quoting, escaping, type coercion) breaks the hash match.
``documents.text`` is printable ASCII without quotes/newlines, so both
formats roundtrip exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import session_confs, tbl

_AGG = """
    SELECT '{fmt}' AS fmt, source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(doc_id) AS BIGINT) AS id_sum,
           CAST(sum(length(text)) AS BIGINT) AS n_chars
    FROM documents GROUP BY source
"""

#: Session confs that disable broadcast joins, for the io11-io13 plan gates.
_NO_BROADCAST = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
}


@query(
    "io01_source_roundtrip",
    oracle=_AGG.format(fmt="json") + " UNION ALL " + _AGG.format(fmt="csv"),
    doc="S1 JSON / S2 CSV scans (sources/readers.py) gated by lossless "
    "roundtrip: parquet -> write json+csv -> explicit-schema read -> "
    "per-source aggregate, hash-matched against the same aggregate on "
    "the original parquet.",
)
def io01_source_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from goodreads_pyspark_spark.sources.readers import read_csv, read_json

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    schema = docs.schema
    jdir = tempfile.mkdtemp(prefix="io01_json_")
    cdir = tempfile.mkdtemp(prefix="io01_csv_")
    try:
        docs.write.mode("overwrite").json(jdir)
        docs.write.mode("overwrite").option("header", "true").csv(cdir)

        def agg(df: DataFrame, fmt: str) -> DataFrame:
            return df.groupBy("source").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("doc_id").alias("id_sum"),
                F.sum(F.length("text")).alias("n_chars"),
            ).select(F.lit(fmt).alias("fmt"), "source", "n_docs", "id_sum", "n_chars")

        # materialize before the finally removes the staged files
        # (the s12 tempdir discipline)
        return agg(read_json(spark, jdir, schema=schema), "json").unionAll(
            agg(read_csv(spark, cdir, schema=schema), "csv")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(jdir, ignore_errors=True)
        shutil.rmtree(cdir, ignore_errors=True)


# --- schema evolution across parquet batches ---------------------------------
@query(
    "io02_schema_evolution",
    oracle="""
    SELECT doc_id, text, lang,
           CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, text, CAST(NULL AS VARCHAR) AS lang, source, n_chars
    FROM documents WHERE doc_id % 2 = 1
    """,
    doc="Schema evolution across parquet batches: an early batch wrote "
    "(doc_id, text, lang), a later batch (doc_id, text, source, "
    "n_chars); a mergeSchema read unions the field sets and "
    "null-pads per batch — exactly how a long-lived 100 TB dataset "
    "accretes columns without rewriting history. Gated on content: "
    "the merged read must reproduce both batches' rows bit-exactly "
    "with typed nulls in the right places.",
)
def io02_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = tbl(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="io02_evolve_")
    try:
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "lang"
        ).write.mode("overwrite").parquet(f"{base}/batch=0")
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "source", "n_chars"
        ).write.mode("overwrite").parquet(f"{base}/batch=1")
        merged = (
            spark.read.option("mergeSchema", "true")
            .parquet(f"{base}/batch=0", f"{base}/batch=1")
            .select("doc_id", "text", "lang", "source", "n_chars")
        )
        # materialize before the finally removes the staged batches
        return merged.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- small-file compaction ---------------------------------------------------
@query(
    "io03_compaction_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    doc="Small-file compaction (sources/sinks.py compact_parquet): the "
    "corpus is first written as 64 tiny files (the streaming-ingest "
    "debris shape), then compacted into 4 range-partitioned, "
    "internally sorted files. Gated on content identity — compaction "
    "must be a pure physical-layout change. The layout properties "
    "(file count, disjoint sorted ranges, row-group stats enabling "
    "file skipping) are pinned by tests/test_plans.py.",
)
def io03_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from goodreads_pyspark_spark.sources.sinks import compact_parquet

    docs = tbl(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="io03_compact_")
    try:
        # the debris: 64 arbitrary-split tiny files
        docs.repartition(64).write.mode("overwrite").parquet(f"{base}/debris")
        debris = spark.read.parquet(f"{base}/debris")
        compact_parquet(debris, f"{base}/compacted", range_col="doc_id", n_files=4)
        # materialize before the finally removes the staged layout
        return spark.read.parquet(f"{base}/compacted").select(
            "doc_id", "text", "lang", "source", "n_chars"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- CDC merge (copy-on-write upsert) ----------------------------------------
#: io04's change batch applied to the corpus snapshot: the next snapshot
#: (s09 streams the same feed and gates against the same answer).
_CDC_ORACLE = """
    WITH changes AS (
      SELECT 'D' AS op, doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id % 5 = 0
      UNION ALL
      SELECT 'U' AS op, doc_id, upper(text) AS text, lang, source,
             n_chars + 1000 AS n_chars
      FROM documents WHERE doc_id % 5 = 1
      UNION ALL
      SELECT 'I' AS op, doc_id + 1000000 AS doc_id, text, lang,
             'ingest_v2' AS source, n_chars
      FROM documents WHERE doc_id % 5 = 2)
    SELECT doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM changes)
    UNION ALL
    SELECT doc_id, text, lang, source, n_chars
    FROM changes WHERE op <> 'D'
    """


def _cdc_feed(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The change feed of ``_CDC_ORACLE``, one frame per op class (with
    its ``op`` column): deletes (doc_id%5=0), updates (%5=1, payload
    rewritten) and inserts (%5=2, new key space)."""
    deletes = docs.filter(F.col("doc_id") % 5 == 0).withColumn("op", F.lit("D"))
    updates = (
        docs.filter(F.col("doc_id") % 5 == 1)
        .withColumn("text", F.upper("text"))
        .withColumn("n_chars", F.col("n_chars") + 1000)
        .withColumn("op", F.lit("U"))
    )
    inserts = (
        docs.filter(F.col("doc_id") % 5 == 2)
        .withColumn("doc_id", F.col("doc_id") + 1000000)
        .withColumn("source", F.lit("ingest_v2"))
        .withColumn("op", F.lit("I"))
    )
    return deletes, updates, inserts


@query(
    "io04_cdc_upsert",
    oracle=_CDC_ORACLE,
    doc="CDC merge (operators/cdc.apply_cdc): a change batch of deletes "
    "(doc_id%5=0), updates (%5=1, payload rewritten) and inserts "
    "(%5=2, new key space) applied to the corpus snapshot — the "
    "copy-on-write upsert lakehouse formats run underneath. The "
    "touched-key set broadcasts into an anti join, so the 100 TB base "
    "never shuffles; the merge is one map-side pass + union. Gated on "
    "the full next-snapshot content.",
)
def io04_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.cdc import apply_cdc

    docs = tbl(spark, sf_dir, "documents")
    deletes, updates, inserts = _cdc_feed(docs)
    changes = deletes.unionByName(updates).unionByName(inserts)
    return apply_cdc(docs, changes, key="doc_id")


# --- Z-order clustering key (multi-dimensional data-skipping layout) ---------
_IO05_BITS = 16


def _io05_zkey_sql(cols: tuple[str, ...], bits: int) -> str:
    n = len(cols)
    parts = [
        f"((({c} >> {j}) & 1) << {j * n + i})"
        for i, c in enumerate(cols)
        for j in range(bits)
    ]
    return " | ".join(parts)


@query(
    "io05_zorder_key",
    oracle=f"""
    SELECT o_orderkey, o_custkey,
           CAST({_io05_zkey_sql(('o_custkey', 'o_orderkey'), _IO05_BITS)}
                AS BIGINT) AS zkey
    FROM orders
    ORDER BY zkey, o_orderkey
    LIMIT 200
    """,
    doc="Morton/Z-order clustering key over (o_custkey, o_orderkey): the "
    "sort key a write path uses to cluster multi-dimensional box "
    "queries into few files (operators/partitioning.zorder_key; "
    "tests/test_plans measures the actual file-stats pruning win vs a "
    "single-column sort). Pure bit arithmetic inside codegen — the "
    "oracle spells out the identical shift/mask expression.",
)
def io05_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.partitioning import zorder_key

    orders = tbl(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            zorder_key(["o_custkey", "o_orderkey"], _IO05_BITS).alias("zkey"),
        )
        .orderBy("zkey", "o_orderkey")
        .limit(200)
    )


# --- incremental aggregate maintenance ---------------------------------------
@query(
    "io06_incremental_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Incremental materialized-view maintenance (operators/relational."
    "merge_aggregate_states): the daily rollup is built as state-over-"
    "old-days MERGED with an aggregate of only the newest day — and the "
    "oracle is the FULL recompute, so the gate proves merge(state, "
    "delta) == recompute(all) bit-exactly (decimal sums make the "
    "equality hold regardless of merge order). At 100 TB the daily "
    "delta is ~1/365th of a rescan; the merge shuffles only the "
    "(day, type) state table.",
)
def io06_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.relational import (
        merge_aggregate_states,
    )
    from goodreads_pyspark_spark.queries._helpers import events_tbl

    ev = events_tbl(spark, sf_dir).withColumn(
        "day", F.to_date(F.date_trunc("day", "ts"))
    )
    cutoff = ev.agg(F.max("day")).first()[0]

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("total_value"),
        )

    state = rollup(ev.filter(F.col("day") < F.lit(cutoff)))
    delta = rollup(ev.filter(F.col("day") >= F.lit(cutoff)))
    merged = merge_aggregate_states(state, delta, keys=["day", "event_type"])
    return merged.select(
        "day",
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("total_value").cast("double").alias("total_value"),
    )


# --- snapshot diff (data-diff between two table versions) --------------------
@query(
    "io07_snapshot_diff",
    oracle="""
    WITH old AS (SELECT event_id, value FROM events WHERE event_id % 7 <> 0),
    new AS (SELECT event_id,
                   CASE WHEN event_id % 3 = 0 THEN value + 1.0 ELSE value END
                     AS value
            FROM events WHERE event_id % 5 <> 0),
    j AS (SELECT COALESCE(o.event_id, n.event_id) AS event_id,
                 o.value AS ov, n.value AS nv,
                 CASE WHEN o.event_id IS NULL THEN 'added'
                      WHEN n.event_id IS NULL THEN 'removed'
                      WHEN o.value <> n.value THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM j GROUP BY status
    """,
    doc="Snapshot diff: key-level added/removed/changed/unchanged counts "
    "between two versions of a table (simulated old/new slices of "
    "events) — the data-diff primitive behind regression-testing an "
    "ETL change or validating a CDC feed (io04's merge is its writer "
    "twin). One full-outer join on the key, one aggregate; the value "
    "comparison is on doubles carried unchanged from the source, so "
    "equality is bit-exact on both engines.",
)
def io07_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.queries._helpers import events_tbl

    ev = events_tbl(spark, sf_dir).select("event_id", "value")
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 5 != 0).select(
        "event_id",
        F.when(F.col("event_id") % 3 == 0, F.col("value") + 1.0)
        .otherwise(F.col("value"))
        .alias("value"),
    )
    o = old.select(F.col("event_id").alias("oid"), F.col("value").alias("ov"))
    n = new.select(F.col("event_id").alias("nid"), F.col("value").alias("nv"))
    j = o.join(n, F.col("oid") == F.col("nid"), "full_outer").select(
        F.when(F.col("oid").isNull(), "added")
        .when(F.col("nid").isNull(), "removed")
        .when(F.col("ov") != F.col("nv"), "changed")
        .otherwise("unchanged")
        .alias("status")
    )
    return j.groupBy("status").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


# ============================ round-4 additions ==============================
@query(
    "io08_partition_pruning_audit",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
             AS hour_start,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc="Hive-style partition pruning, PROVEN in the gate: events are "
    "written partitioned by event_type, read back with an equality "
    "filter, and the query inspects its own physical plan — the scan "
    "must carry the filter as a PartitionFilter (directory-level "
    "pruning: non-matching partitions are never listed into tasks) or "
    "an AssertionError fails the driver row. The returned hourly "
    "counts then hash-check that pruning lost no rows. At 100 TB this "
    "is the difference between scanning one event type and scanning "
    "the lake; the same mechanism drives date-partition pruning in "
    "every incremental job (io06).",
)
def io08_partition_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from goodreads_pyspark_spark.queries._helpers import events_tbl

    import shutil

    base = tempfile.mkdtemp(prefix="io08_pruned_")
    cleanup = lambda: shutil.rmtree(base, ignore_errors=True)  # noqa: E731
    events_tbl(spark, sf_dir).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(base)
    pruned = spark.read.parquet(base).filter(F.col("event_type") == "purchase")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # The predicate must sit INSIDE a PartitionFilters bracket: a
    # partitioned scan always prints "PartitionFilters: [...]" (empty when
    # pruning failed) and "purchase" would still appear in a post-scan
    # Filter node, so checking each substring anywhere in the plan can
    # never fire — parse the bracket contents instead.
    import re

    brackets = re.findall(r"PartitionFilters:\s*\[([^\]]*)\]", plan)
    if not any("purchase" in b for b in brackets):
        cleanup()
        raise AssertionError(
            "event_type filter did not reach the scan's PartitionFilters "
            f"(brackets={brackets!r}):\n" + plan[:2000]
        )
    try:
        # materialize before cleanup (the s12 tempdir discipline)
        return (
            pruned.groupBy(F.date_trunc("hour", "ts").alias("hs"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
            .select(
                F.date_format("hs", "yyyy-MM-dd HH:mm:ss").alias("hour_start"),
                "n_events",
            )
            .localCheckpoint(eager=True)
        )
    finally:
        cleanup()


# ============================ round-6 additions ==============================
@query(
    "io09_dynamic_partition_pruning",
    oracle="""
    WITH d AS (
      SELECT event_type FROM events GROUP BY event_type
      HAVING COUNT(*) > (SELECT COUNT(*) * 1.0 / COUNT(DISTINCT event_type)
                         FROM events))
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events e JOIN d USING (event_type)
    GROUP BY 1
    """,
    doc="DYNAMIC partition pruning, proven in the gate (VERDICT r5 #6): "
    "io08 pins static hive pruning; this is the join-driven form — the "
    "fact (events, written partitioned by event_type) joins a dim "
    "whose filter (per-type count above the per-type mean) CANNOT be "
    "statically inferred onto the fact side, so the only way the scan "
    "prunes is Spark planting a dynamicpruning subquery into the "
    "scan's PartitionFilters at runtime. The query asserts exactly "
    "that (dynamicpruningexpression inside the PartitionFilters "
    "bracket) or fails its driver row; the hash then proves pruning "
    "lost no rows. At 100 TB DPP is the single biggest scan-killer "
    "for star joins: the fact scan lists only partitions the filtered "
    "dim survives, without the user writing the partition predicate.",
)
def io09_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    import shutil
    import tempfile

    from goodreads_pyspark_spark.queries._helpers import events_tbl

    base = tempfile.mkdtemp(prefix="io09_dpp_")
    events_tbl(spark, sf_dir).write.mode("overwrite").partitionBy(
        "event_type"
    ).parquet(base)
    fact = spark.read.parquet(base)
    # The threshold must reach the dim filter as a LITERAL: DPP's
    # selective-predicate detection doesn't see through a crossJoined
    # scalar aggregate. One driver-side scalar fetch (a single-row agg);
    # the oracle recomputes the identical scalar, so the gate still
    # hash-matches.
    avg_n = fact.agg(
        (F.count(F.lit(1)) / F.countDistinct("event_type")).alias("avg_n")
    ).first()["avg_n"]
    dim = (
        fact.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > F.lit(avg_n))
        .select("event_type")
    )
    out = (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    brackets = re.findall(r"PartitionFilters:\s*\[([^\]]*)\]", plan)
    try:
        if not any("dynamicpruning" in b for b in brackets):
            raise AssertionError(
                "no dynamicpruning expression reached the fact scan's "
                f"PartitionFilters (brackets={brackets!r}):\n" + plan[:2000]
            )
        # materialize before cleanup (the s12 tempdir discipline)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "io10_orc_roundtrip_pushdown",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_quantity < 10
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="ORC as a second columnar transport (next to parquet): lineitem is "
    "written to ORC, read back through Spark's native vectorized ORC "
    "reader with a range predicate, and the gate inspects the executed "
    "plan — the l_quantity filter must appear in the scan's "
    "PushedFilters bracket (ORC row-group min/max skipping; at 100 TB "
    "the difference between decoding every stripe and skipping most) "
    "or an AssertionError fails the driver row. The decimal-exact "
    "revenue aggregate then hash-checks the transport was lossless "
    "against the SAME aggregate on the original parquet (the oracle "
    "never sees ORC — the format IS what is under test).",
)
def io10_orc_roundtrip_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    import re
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix="io10_orc_")
    try:
        tbl(spark, sf_dir, "lineitem").write.mode("overwrite").orc(base)
        li = spark.read.orc(base).filter(F.col("l_quantity") < 10)
        plan = li._jdf.queryExecution().executedPlan().toString()
        brackets = re.findall(r"PushedFilters:\s*\[([^\]]*)\]", plan)
        if not any("l_quantity" in b and "LessThan" in b for b in brackets):
            raise AssertionError(
                "l_quantity range predicate did not reach the ORC scan's "
                f"PushedFilters (brackets={brackets!r}):\n" + plan[:2000]
            )
        # materialize before cleanup (the s12 tempdir discipline)
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(30,6)"
                )
            )
            .cast("double")
            .alias("revenue"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@query(
    "io11_bucketed_colocated_join",
    oracle="""
    SELECT o.o_custkey, c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(30,2))) AS DOUBLE)
             AS total_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY o.o_custkey, c.c_mktsegment
    """,
    doc="Bucketed CO-LOCATED join, proven shuffle-free from the executed "
    "plan: orders and customer are persisted as managed tables bucketed "
    "8 ways on the customer key (sources/sinks.py write_parquet_table "
    "bucket_by), broadcast is disabled for the gate so the join must "
    "pick SortMergeJoin, and the plan is asserted to contain ZERO "
    "Exchange nodes — both scans report the bucket hash distribution, "
    "so the join AND the post-join per-customer aggregate (grouping "
    "keys contain the bucket key) run entirely within pre-placed "
    "partitions. At 100 TB this is the "
    "bucketing payoff: the fact table's join shuffle (the single "
    "largest data movement in a star join) is paid ONCE at write time "
    "and amortized over every subsequent join on that key. The "
    "decimal-exact aggregate hash-checks that co-location lost "
    "nothing.",
)
def io11_bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from goodreads_pyspark_spark.sources.sinks import write_parquet_table

    names = ("io11_orders_bucketed", "io11_customer_bucketed")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").replace("file:", "")

    def drop_tables() -> None:
        # also the LOCATION: a crashed run can leave it without its catalog
        # entry, and saveAsTable(overwrite) then refuses
        for t in names:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)

    drop_tables()
    try:
        for name, src, key in zip(names, ("orders", "customer"), ("o_custkey", "c_custkey")):
            write_parquet_table(tbl(spark, sf_dir, src), name, bucket_by=(8, [key]))
        with session_confs(spark, _NO_BROADCAST):
            joined = spark.table(names[0]).join(
                spark.table(names[1]), F.col("o_custkey") == F.col("c_custkey")
            )
            out = joined.groupBy("o_custkey", "c_mktsegment").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                F.sum(F.col("o_totalprice").cast("decimal(30,2)"))
                .cast("double")
                .alias("total_price"),
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            if "SortMergeJoin" not in plan:
                raise AssertionError("bucketed join did not pick SMJ:\n" + plan[:2000])
            if "Exchange" in plan:
                raise AssertionError(
                    "bucketed co-located join still shuffles:\n" + plan[:2000]
                )
            # run while the no-broadcast confs are in place and before the
            # tables are dropped
            return out.localCheckpoint(eager=True)
    finally:
        drop_tables()


@query(
    "io12_bloom_filter_join",
    oracle="""
    SELECT l.l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_brand = 'Brand#1'
    GROUP BY l.l_returnflag
    """,
    doc="Runtime BLOOM-filter join pruning, proven from the executed plan "
    "— the third member of the scan-killer family the gates pin (io08 "
    "static partition pruning, io09 dynamic partition pruning): when "
    "the dim side of a shuffle join carries a selective predicate "
    "(p_brand) but the FACT side has no partitioning to prune, "
    "Spark's InjectRuntimeFilter builds a bloom filter over the "
    "filtered dim's join keys and plants might_contain(l_partkey) "
    "into the fact scan's filter, discarding non-matching fact rows "
    "BEFORE the join shuffle. The gate asserts both halves in the "
    "plan (bloom_filter_agg on the dim, might_contain on the fact) "
    "and hash-checks the filtered aggregate lost nothing. At 100 TB "
    "this is the difference between shuffling the full fact table "
    "and shuffling the ~selectivity fraction that can possibly join; "
    "broadcast is disabled for the gate because a broadcast join "
    "subsumes the filter (and the thresholds are lowered because the "
    "defaults only arm beyond 10 GB scans).",
)
def io12_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bloom = "spark.sql.optimizer.runtime.bloomFilter."
    with session_confs(
        spark,
        {
            **_NO_BROADCAST,
            bloom + "enabled": "true",
            bloom + "applicationSideScanSizeThreshold": "0",
            bloom + "creationSideThreshold": "100MB",
        },
    ):
        li = tbl(spark, sf_dir, "lineitem")
        part = tbl(spark, sf_dir, "part")
        dim = part.filter(F.col("p_brand") == "Brand#1").select("p_partkey")
        out = (
            li.join(dim, li["l_partkey"] == dim["p_partkey"])
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(30,6)"
                    )
                )
                .cast("double")
                .alias("revenue"),
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "might_contain" not in plan or "bloom_filter_agg" not in plan:
            raise AssertionError(
                "runtime bloom filter was not injected into the fact scan:\n"
                + plan[:3000]
            )
        # run while the no-broadcast/bloom confs are in place
        return out.localCheckpoint(eager=True)


@query(
    "io13_aqe_skew_join_split",
    oracle="""
    WITH fact AS (
      SELECT CASE WHEN l_orderkey % 10 < 9 THEN 7 ELSE l_suppkey END AS k,
             CAST(CAST(l_extendedprice AS DECIMAL(30,2)) * 100 AS BIGINT)
               AS cents
      FROM lineitem)
    SELECT s.s_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM fact f JOIN supplier s ON f.k = s.s_suppkey
    GROUP BY s.s_name
    """,
    doc="AQE SKEW-JOIN SPLIT, proven from the executed adaptive plan — "
    "the runtime half of the skew story (operators/skew.py salting is "
    "the write-time half): 90% of fact rows are remapped to ONE hot "
    "supplier key, broadcast is disabled so the join must shuffle, and "
    "after execution the gate asserts the final plan shows "
    "SortMergeJoin(skew=true) — Spark split the hot partition into "
    "advisory-sized slices and replicated the matching dim rows, the "
    "exact mechanism that keeps one hot key from serializing a "
    "1000-executor join at 100 TB. Detection thresholds are lowered "
    "in-gate (defaults arm at 256 MB partitions) and the fact is "
    "pre-repartitioned 16 ways because the split unit is the MAPPER "
    "block — a 3-mapper toy scan gives the splitter nothing to cut, "
    "a discovery this gate pins so nobody re-learns it at cluster "
    "scale where mappers are plentiful. Integer cents keep the "
    "aggregate exact; the hash proves the split lost and duplicated "
    "nothing.",
)
def io13_aqe_skew_join_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    sup = tbl(spark, sf_dir, "supplier")

    fact = li.select(
        F.when(F.col("l_orderkey") % 10 < 9, F.lit(7))
        .otherwise(F.col("l_suppkey"))
        .alias("k"),
        (F.col("l_extendedprice").cast("decimal(30,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )

    skew = "spark.sql.adaptive.skewJoin."
    with session_confs(
        spark,
        {
            **_NO_BROADCAST,
            skew + "enabled": "true",
            skew + "skewedPartitionFactor": "2",
            skew + "skewedPartitionThresholdInBytes": "1KB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
            "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        },
    ):
        dim = sup.select(F.col("s_suppkey").alias("k"), "s_name")
        out = (
            fact.repartition(16)
            .join(dim, "k")
            .groupBy("s_name")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
            )
        )
        frozen = out.localCheckpoint(eager=True)
        plan = out._jdf.queryExecution().executedPlan().toString()
        if "skew=true" not in plan:
            raise AssertionError(
                "AQE did not mark the hot join skewed:\n" + plan[:3000]
            )
        return frozen


# --- snapshot / time-travel read over a CDC ledger (new in r7) ----------------
def _io14_oracle() -> str:
    # decimal(30,2), NOT (38,12): Spark casts a double to decimal via its
    # shortest decimal repr while DuckDB expands the full binary value, so
    # the two differ at ~value·2^-52 — scale 2 (prices are cents) sits far
    # above that noise floor and both engines round to the same cell.
    dsum = "CAST(SUM(CAST(val AS DECIMAL(30,2))) AS DOUBLE)"
    parts = []
    for k in (1, 2, 4):
        parts.append(f"""
    s{k} AS (SELECT key, arg_max(op, seq) AS op, arg_max(val, seq) AS val
           FROM led CROSS JOIN mx WHERE seq <= (m * {k}) // 4
           GROUP BY key),
    r{k} AS (SELECT CAST({k} AS INTEGER) AS quarter,
                  CAST((m * {k}) // 4 AS BIGINT) AS as_of_seq,
                  CAST(COUNT(*) FILTER (op <> 'D') AS BIGINT) AS n_live_keys,
                  {dsum.replace('val', "CASE WHEN op <> 'D' THEN val ELSE NULL END")}
                    AS total_value
           FROM s{k} CROSS JOIN mx GROUP BY m)""")
    return f"""
    WITH mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
    led AS (SELECT o_custkey AS key, o_orderkey AS seq,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
                   o_totalprice AS val
            FROM orders),{",".join(parts)}
    SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r4
    """


@query(
    "io14_snapshot_time_travel",
    oracle=_io14_oracle(),
    doc="Snapshot isolation / time-travel read over a keyed CDC ledger — "
    "the lakehouse-format read primitive (Delta/Iceberg 'AS OF') built "
    "on plain relational ops: orders become an upsert/delete ledger "
    "(key = custkey, monotonic seq = orderkey, every 7th event a "
    "DELETE), and the table AS OF sequence S is, per key, the row with "
    "the greatest seq <= S — live unless that row is a delete. The "
    "query reads the snapshot at the 1/4, 2/4 and 4/4 points of the "
    "ledger and emits each snapshot's live-key count and decimal-exact "
    "value total: the monotone growth of as_of_seq with the three "
    "consistent states is what a correct MVCC read must produce. "
    "Scale shape: per snapshot, ONE key-keyed aggregation with an "
    "argmax-of-struct (no window, no sort) — the operators/cdc.py "
    "merge discipline read-side; the seq threshold is a broadcast "
    "one-row max. At 100 TB the ledger would be partition-pruned by "
    "seq ranges (io08's machinery) before the argmax pass.",
)
def io14_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ACC = "decimal(30,2)"  # see _io14_oracle on the scale choice
    orders = tbl(spark, sf_dir, "orders")
    led = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("seq"),
        F.when(F.col("o_orderkey") % 7 == 0, "D").otherwise("U").alias("op"),
        F.col("o_totalprice").alias("val"),
    )
    mx = orders.agg(F.max("o_orderkey").alias("m"))
    out = None
    for k in (1, 2, 4):
        snap = (
            led.crossJoin(F.broadcast(mx))
            .filter(F.col("seq") <= F.expr(f"(m * {k}) div 4"))
            .groupBy("key")
            .agg(F.max(F.struct("seq", "op", "val")).alias("last"))
        )
        row = (
            snap.crossJoin(F.broadcast(mx))
            .groupBy("m")
            .agg(
                F.sum((F.col("last.op") != "D").cast("int"))
                .cast("bigint")
                .alias("n_live_keys"),
                F.sum(
                    F.when(F.col("last.op") != "D", F.col("last.val")).cast(_ACC)
                )
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.lit(k).cast("int").alias("quarter"),
                F.expr(f"(m * {k}) div 4").cast("bigint").alias("as_of_seq"),
                "n_live_keys",
                "total_value",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


# --- write-audit-publish (new in r7) -------------------------------------------
#: Row-content checksum: 15 md5 hex chars as a bigint (< 2^60) per row,
#: summed in DECIMAL(38,0) (exact integers to 1e38 — a bigint sum
#: overflows past ~8e18, i.e. a few hundred rows) and rendered as a
#: string for the gate. md5 / concat_ws / decimal rendering are
#: identical in Spark and DuckDB, so the checksum is engine-portable.
_IO15_ROWKEY = "concat_ws('|', doc_id, text, lang, source, n_chars)"


@query(
    "io15_write_audit_publish",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(('0x' || substr(md5({_IO15_ROWKEY}), 1, 15))::BIGINT)
                     AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum,
           TRUE AS audit_passed,
           TRUE AS published
    FROM documents
    """,
    doc="Write-Audit-Publish — the lakehouse publication pattern "
    "(staged write -> content audit -> atomic publish; public Iceberg/"
    "Netflix practice) on plain parquet: the corpus is written to a "
    "STAGING location, read back, and audited against the source with "
    "an exact row count plus an order-independent content checksum "
    "(sum of per-row md5-prefix integers — md5 and the field "
    "concatenation render identically in both engines, so the checksum "
    "itself is the hash-gated cell, recomputed by DuckDB from the "
    "source); only a passing audit publishes (here: the success marker "
    "swap; on object storage, a pointer/metadata commit). A lost, "
    "duplicated, or corrupted row anywhere in the write path changes "
    "the checksum and fails the gate. Scale shape: the audit is one "
    "map-side projection + a single-row aggregate per side — the cost "
    "of publishing safely is two linear passes, embarrassingly "
    "parallel, no shuffle beyond the 1-row aggregates.",
)
def io15_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    docs = tbl(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="io15_wap_")
    stage = f"{base}/stage"
    publish = f"{base}/published"
    try:
        docs.write.mode("overwrite").parquet(stage)

        def summary(df: DataFrame) -> DataFrame:
            key = F.expr(_IO15_ROWKEY)
            row_int = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
            return df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(row_int.cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("content_checksum"),
            )

        src = summary(docs).first()
        staged = summary(spark.read.parquet(stage)).first()
        audit_ok = (
            src["n_rows"] == staged["n_rows"]
            and src["content_checksum"] == staged["content_checksum"]
        )
        published = False
        if audit_ok:
            # the "atomic publish": on a real object store this is a
            # metadata pointer swap; on a filesystem, a rename
            os.rename(stage, publish)
            published = os.path.isdir(publish)
        return spark.createDataFrame(
            [
                (
                    staged["n_rows"],
                    staged["content_checksum"],
                    bool(audit_ok),
                    bool(published),
                )
            ],
            "n_rows bigint, content_checksum string, audit_passed boolean, "
            "published boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- ANN index lifecycle: build -> stage -> audit -> publish (new in r8) -------
#: Row-content key for the staged IVF assignment table (io15's checksum
#: discipline applied to index content instead of corpus content).
_IO16_ROWKEY = "concat_ws('|', vec_id, cid)"
_IO16_MIN_HITS = 5  # publish gate: recall@10 must be >= 0.5 vs exact


@query(
    "io16_index_publish",
    oracle=f"""
    WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v
               FROM embeddings),
    cents AS (SELECT CAST(vec_id AS INTEGER) AS cid, pos, v AS cval
              FROM e WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             CAST(SUM(CAST(v * cval AS DECIMAL(38,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS n2,
             CAST(SUM(CAST(cval * cval AS DECIMAL(38,12))) AS DOUBLE) AS c2
      FROM e JOIN cents c USING (pos)
      GROUP BY e.vec_id, c.cid),
    best AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (
                 PARTITION BY vec_id
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored) WHERE rn = 1),
    ledger AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(COUNT(DISTINCT cid) AS BIGINT) AS n_cells,
             CAST(CAST(SUM(('0x' || substr(md5({_IO16_ROWKEY}), 1, 15))::BIGINT)
                       AS DECIMAL(38,0)) AS VARCHAR) AS index_checksum
      FROM best),
    probes AS (
      SELECT cid FROM (
        SELECT cid,
               ROW_NUMBER() OVER (
                 ORDER BY dot / (SQRT(n2) * SQRT(c2)) DESC, cid) AS rn
        FROM scored WHERE vec_id = 1) WHERE rn <= 2),
    q AS (SELECT pos, v AS qv FROM e WHERE vec_id = 1),
    allcomps AS (
      SELECT e.vec_id,
             CAST(SUM(CAST(v * qv AS DECIMAL(38,12))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS n2,
             CAST(SUM(CAST(qv * qv AS DECIMAL(38,12))) AS DOUBLE) AS q2
      FROM e JOIN q USING (pos)
      WHERE e.vec_id <> 1
      GROUP BY e.vec_id),
    exact AS (
      SELECT vec_id FROM allcomps
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 10),
    ivf AS (
      SELECT vec_id FROM allcomps
      WHERE vec_id IN (SELECT vec_id FROM best JOIN probes USING (cid))
      ORDER BY ROUND(dot / (SQRT(n2) * SQRT(q2)), 6) DESC, vec_id LIMIT 10),
    rec AS (SELECT CAST((SELECT COUNT(*) FROM ivf JOIN exact USING (vec_id))
                   AS BIGINT) AS n_hits)
    SELECT l.n_vectors, l.n_cells, l.index_checksum,
           CAST(10 AS INTEGER) AS k, r.n_hits,
           CAST(r.n_hits AS DOUBLE) / 10 AS recall,
           r.n_hits >= {_IO16_MIN_HITS} AS audit_passed,
           r.n_hits >= {_IO16_MIN_HITS} AS published
    FROM ledger l, rec r
    """,
    doc="ANN index lifecycle: build -> WAP-stage -> audit -> publish. "
    "Composes e29's IVF cell build with io15's write-audit-publish "
    "discipline and e12's recall gate: the IVF assignment table "
    "(deterministic sampled centroids, the e08/e12 quantizer "
    "convention) and the centroid table are written to a STAGING "
    "location; the audit then runs entirely on the READ-BACK staged "
    "tables — exact row count vs the corpus, an order-independent "
    "content checksum of the assignment rows (io15's md5-prefix sum), "
    "and an e12-style recall@10 gate of the staged index's nprobe=2 "
    "search against the exact top-10; only a passing audit publishes "
    "(rename; on an object store, a metadata pointer swap). The oracle "
    "recomputes every ledger cell from the source corpus, so a row "
    "lost/duplicated in the staged write, a mis-assigned vector, or a "
    "recall regression each flips a gated cell. Scale shape: the "
    "assignment is one broadcast-centroid pass over the corpus (e29's "
    "shape); the audit is a 1-row aggregate over the staged table plus "
    "an nprobe-bounded candidate rerank — publishing safely costs two "
    "linear passes and one bounded search, no extra shuffle.",
)
def io16_index_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from goodreads_pyspark_spark.similarity.ann import brute_force_knn
    from goodreads_pyspark_spark.similarity.ivf import (
        ivf_assign,
        query_cell_ranks,
        sampled_centroids,
    )

    emb = tbl(spark, sf_dir, "embeddings")
    cents = sampled_centroids(emb, k=8)
    assign = ivf_assign(emb, cents)

    base = tempfile.mkdtemp(prefix="io16_index_")
    stage = f"{base}/stage"
    publish = f"{base}/published"
    try:
        assign.write.mode("overwrite").parquet(f"{stage}/assignments")
        cents.write.mode("overwrite").parquet(f"{stage}/centroids")

        # -- audit runs on the READ-BACK staged tables only ------------------
        staged = spark.read.parquet(f"{stage}/assignments")
        staged_cents = spark.read.parquet(f"{stage}/centroids")
        row_int = F.conv(
            F.substring(F.md5(F.expr(_IO16_ROWKEY)), 1, 15), 16, 10
        ).cast("bigint")
        led = staged.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
            F.countDistinct("cid").cast("bigint").alias("n_cells"),
            F.sum(row_int.cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("index_checksum"),
        ).first()
        n_source = emb.count()

        # staged-index search: probe the query's 2 nearest cells, rerank
        # the probed lists exactly (ivf_knn's shape, but candidates come
        # from the STAGED assignment, not a recomputed one)
        probes = query_cell_ranks(emb, 1, staged_cents).filter(F.col("rn") <= 2)
        cand_ids = (
            staged.join(F.broadcast(probes), "cid")
            .select("vec_id")
            .union(emb.filter(F.col("vec_id") == 1).select("vec_id"))
            .distinct()
        )
        cand = emb.join(cand_ids, "vec_id", "left_semi")
        ivf_top = brute_force_knn(cand, query_id=1, k=10).select("vec_id")
        exact_top = brute_force_knn(emb, query_id=1, k=10).select("vec_id")
        n_hits = ivf_top.join(exact_top, "vec_id").count()

        audit_ok = led["n_vectors"] == n_source and n_hits >= _IO16_MIN_HITS
        published = False
        if audit_ok:
            os.rename(stage, publish)
            published = os.path.isdir(publish)
        return spark.createDataFrame(
            [
                (
                    led["n_vectors"],
                    led["n_cells"],
                    led["index_checksum"],
                    10,
                    n_hits,
                    n_hits / 10.0,
                    bool(audit_ok),
                    bool(published),
                )
            ],
            "n_vectors bigint, n_cells bigint, index_checksum string, "
            "k int, n_hits bigint, recall double, audit_passed boolean, "
            "published boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- custom Python DataSource roundtrip (new in r9) --------------------------
_IO17_ROWKEY = "concat_ws('|', doc_id, text, lang, source, n_chars)"
_IO17_DDL = "doc_id bigint, text string, lang string, source string, n_chars bigint"


@query(
    "io17_jsonl_gz_datasource",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(CAST(SUM(('0x' || substr(md5({_IO17_ROWKEY}), 1, 15))::BIGINT)
                     AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum
    FROM documents
    """,
    doc="Custom Python DataSource ingest (Spark 4 pyspark.sql.datasource, "
    "SPARK-44076, public — sources/jsonl_gz.py): the corpus is staged as "
    "gzipped JSONL shards (the reference's own dump format, reference "
    "goodreads.py:25-28) and read back through a registered 'jsonlgz' "
    "format — one InputPartition per non-splittable shard, each "
    "partition streaming gzip+json line by line in constant memory. "
    "Gate: exact row count, source cardinality, and the io15 "
    "order-independent md5-prefix content checksum of the READ-BACK "
    "frame must equal the source table's — a dropped line, a mangled "
    "field, or a partition read twice flips the checksum. Scale shape: "
    "shard-per-task parallelism identical to the stock .json.gz reader, "
    "but with pipeline-controlled listing/pruning; Python workers are "
    "confined to the source adapter (the one place they belong).",
)
def io17_jsonl_gz_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from goodreads_pyspark_spark.sources.jsonl_gz import JsonlGzDataSource

    docs = tbl(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="io17_jsonlgz_")
    try:
        # stage: 4 gzipped JSONL shards (the reference's dump layout)
        (
            docs.repartition(4)
            .write.mode("overwrite")
            .option("compression", "gzip")
            .json(stage)
        )
        # duplicate registration is a silent replace in Spark 4 (probed),
        # so no guard — a real registration failure must surface here,
        # not as a misleading 'format not found' at write time
        spark.dataSource.register(JsonlGzDataSource)
        back = (
            spark.read.format("jsonlgz")
            .schema(_IO17_DDL)
            .option("path", stage)
            .load()
        )
        key = F.expr(_IO17_ROWKEY)
        row_int = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("bigint")
        # materialize before the finally removes the staged shards
        return back.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("source").cast("bigint").alias("n_sources"),
            F.sum(row_int.cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .cast("string")
            .alias("content_checksum"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(stage, ignore_errors=True)


# --- ORC interchange roundtrip (new in r11) ------------------------------------
@query(
    "io19_orc_roundtrip",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(CAST(SUM(('0x' || substr(md5({_IO15_ROWKEY}), 1, 15))::BIGINT)
                     AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum,
           CAST(SUM(CASE WHEN doc_id <= 250 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_filtered,
           TRUE AS roundtrip_equal
    FROM documents
    """,
    doc="ORC source/sink roundtrip (io15's checksum discipline on the "
    "second columnar interchange format a lake actually mixes with "
    "parquet): the corpus is written as zlib ORC, read back through "
    "Spark's vectorized ORC reader, and gated on the exact row count, "
    "the order-independent md5-prefix content checksum of the "
    "READ-BACK rows (the oracle recomputes it from the source, so a "
    "row lost, duplicated, or value-mangled anywhere in the ORC "
    "write/read path flips the cell), a predicate-pushdown count "
    "(a doc_id range filter over the ORC files — the pushable shape "
    "min/max stripe stats serve at scale; the plan test pins "
    "PushedFilters on the ORC scan), and the measured roundtrip-equality "
    "boolean vs the source frame. Scale shape: two linear passes + "
    "1-row aggregates, no shuffle; ORC stripes give the same "
    "column-pruned, filter-pushed scan contract as parquet.",
)
def io19_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    docs = tbl(spark, sf_dir, "documents")
    base = tempfile.mkdtemp(prefix="io19_orc_")
    try:
        docs.write.mode("overwrite").option("compression", "zlib").orc(
            f"{base}/t"
        )
        back = spark.read.orc(f"{base}/t")

        def summary(df: DataFrame):
            key = F.expr(_IO15_ROWKEY)
            row_int = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast(
                "bigint"
            )
            return df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum(row_int.cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("content_checksum"),
            ).first()

        src, rb = summary(docs), summary(back)
        n_filtered = back.filter(F.col("doc_id") <= 250).count()
        equal = (
            src["n_rows"] == rb["n_rows"]
            and src["content_checksum"] == rb["content_checksum"]
        )
        return spark.createDataFrame(
            [(rb["n_rows"], rb["content_checksum"], n_filtered, bool(equal))],
            "n_rows bigint, content_checksum string, n_filtered bigint, "
            "roundtrip_equal boolean",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


# --- custom DataSource WRITE path roundtrip (new in r11) ------------------------
@query(
    "io20_jsonl_gz_write_roundtrip",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(CAST(SUM(('0x' || substr(md5({_IO17_ROWKEY}), 1, 15))::BIGINT)
                     AS DECIMAL(38,0)) AS VARCHAR) AS content_checksum,
           TRUE AS roundtrip_equal
    FROM documents
    """,
    doc="Custom Python DataSource WRITE path (Spark 4 "
    "pyspark.sql.datasource DataSourceWriter, SPARK-44076 — "
    "sources/jsonl_gz.py JsonlGzWriter), completing io17's read half "
    "into a full custom-format roundtrip of the reference's dump "
    "layout: the corpus is written as gzipped JSONL shards by the "
    "custom writer — one gzip shard per task, streamed in constant "
    "memory, two-phase commit (tasks write temp names; only the "
    "driver-side commit renames them visible, abort removes temps — so "
    "readers never observe a half-written shard) — then read back "
    "through the custom 'jsonlgz' reader. Gate: exact row count, "
    "source cardinality, the io15 order-independent md5-prefix content "
    "checksum of the READ-BACK frame (oracle recomputes from source), "
    "and the measured write->read==source equality boolean. Scale "
    "shape: shard-per-task on both directions; Python workers confined "
    "to the format adapter.",
)
def io20_jsonl_gz_write_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil
    import tempfile

    from goodreads_pyspark_spark.sources.jsonl_gz import JsonlGzDataSource

    docs = tbl(spark, sf_dir, "documents")
    stage = tempfile.mkdtemp(prefix="io20_jsonlgz_")
    try:
        # duplicate registration is a silent replace in Spark 4 (probed),
        # so no guard — a real registration failure must surface here,
        # not as a misleading 'format not found' at write time
        spark.dataSource.register(JsonlGzDataSource)
        (
            docs.repartition(4)
            .write.format("jsonlgz")
            .mode("overwrite")
            .option("path", stage)
            .save()
        )
        back = (
            spark.read.format("jsonlgz")
            .schema(_IO17_DDL)
            .option("path", stage)
            .load()
        )
        key = F.expr(_IO17_ROWKEY)
        row_int = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast(
            "bigint"
        )

        def summary(df: DataFrame):
            return df.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct("source").cast("bigint").alias("n_sources"),
                F.sum(row_int.cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .cast("string")
                .alias("content_checksum"),
            ).first()

        src, rb = summary(docs), summary(back)
        equal = all(src[c] == rb[c] for c in src.asDict())
        return spark.createDataFrame(
            [
                (
                    rb["n_rows"],
                    rb["n_sources"],
                    rb["content_checksum"],
                    bool(equal),
                )
            ],
            "n_rows bigint, n_sources bigint, content_checksum string, "
            "roundtrip_equal boolean",
        )
    finally:
        shutil.rmtree(stage, ignore_errors=True)
