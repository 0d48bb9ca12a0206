"""Relational operator queries (SURVEY.md §2.2-2.8) over the TPC-H-ish
driver testdata, each with a DuckDB oracle.

Each query is the oracle-checkable face of an engine operator: the Spark
side goes through the DataFrame API / operator library (so Catalyst sees a
declarative plan — pushdown, broadcast, partial agg all apply), the oracle
is plain ANSI SQL. Aggregates on doubles use the decimal-exact helpers
(see queries/__init__ docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from goodreads_pyspark_spark.operators import (
    anti_join,
    argmax_per_group,
    dedup_latest,
    lookup,
    semi_join,
    top_k,
    top_k_per_group,
)
from goodreads_pyspark_spark.queries import query
from goodreads_pyspark_spark.queries._helpers import davg, dsum, sql_davg, sql_dsum, tbl


# --- A1/A2/A8/P4/P7/F3/O4: TPC-H Q1-style pricing summary -------------------
@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           {sql_davg('l_extendedprice')} AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Grouped multi-aggregate with filter; the reference's rating histogram "
    "(goodreads.py:162) generalized to TPC-H Q1 shape.",
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", alias="sum_qty"),
            dsum("l_extendedprice", alias="sum_base_price"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "sum_disc_price"),
            davg("l_quantity", alias="avg_qty"),
            davg("l_extendedprice", alias="avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- A1/O2: top-k heavy hitters (reference top reviewers, goodreads.py:168) --
@query(
    "q02_top_customers",
    oracle=f"""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS order_count,
           {sql_dsum('o_totalprice')} AS total_spend
    FROM orders GROUP BY o_custkey
    ORDER BY order_count DESC, o_custkey LIMIT 10
    """,
    doc="groupBy+count then deterministic top-k (TakeOrderedAndProject).",
)
def q02_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    agg = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("order_count"),
        dsum("o_totalprice", alias="total_spend"),
    )
    return top_k(agg, 10, [F.col("order_count").desc(), F.col("o_custkey")])


# --- A2/A3: avg + count distinct per group ----------------------------------
@query(
    "q03_segment_stats",
    oracle=f"""
    SELECT c_mktsegment,
           {sql_davg('c_acctbal')} AS avg_acctbal,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer GROUP BY c_mktsegment
    """,
)
def q03_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        davg("c_acctbal", alias="avg_acctbal"),
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


# --- F5: deterministic dedup-latest (fixes goodreads.py:83 anti-pattern) ----
@query(
    "q04_latest_order_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey AS latest_orderkey,
           CAST(o_orderdate AS DATE) AS latest_date
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
      FROM orders) WHERE rn = 1
    """,
    doc="Window row_number dedup — the deterministic replacement for "
    "orderBy+dropDuplicates (goodreads.py:83).",
)
def q04_latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    latest = dedup_latest(
        orders, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").desc()]
    )
    return latest.select(
        "o_custkey",
        F.col("o_orderkey").alias("latest_orderkey"),
        F.to_date("o_orderdate").alias("latest_date"),
    )


# --- A5/J1: array agg over a broadcast join (collect_set, goodreads.py:94) --
@query(
    "q05_nations_per_region",
    oracle="""
    SELECT r_name,
           array_to_string(list_sort(list(DISTINCT n_name)), ',') AS nations,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
    doc="collect_set array agg rendered as a joined scalar string so the "
    "driver's pandas canonicalization can hash the cell (arrays are "
    "unhashable there).",
)
def q05_nations_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    joined = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey, "inner"
    )
    return joined.groupBy("r_name").agg(
        F.array_join(F.array_sort(F.collect_set("n_name")), ",").alias("nations"),
        F.count(F.lit(1)).alias("n_nations"),
    )


# --- F7: semi join ----------------------------------------------------------
@query(
    "q06_segments_with_pending_orders",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    GROUP BY c_mktsegment
    """,
    doc="left_semi join — the explicit form of the reference's inner-join "
    "filter (goodreads.py:151).",
)
def q06_segments_with_pending_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    pending = orders.filter(F.col("o_orderstatus") == "P")
    kept = semi_join(cust, pending, cust.c_custkey == pending.o_custkey)
    return kept.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_customers"))


# --- anti join --------------------------------------------------------------
@query(
    "q07_customers_without_orders",
    oracle="""
    SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    """,
)
def q07_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    nation = tbl(spark, sf_dir, "nation")
    no_orders = anti_join(cust, orders, cust.c_custkey == orders.o_custkey)
    joined = no_orders.join(
        F.broadcast(nation), no_orders.c_nationkey == nation.n_nationkey
    )
    return joined.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_customers"))


# --- J1/J2 chain: 3-way join through broadcast dims -------------------------
@query(
    "q08_customers_per_region",
    oracle=f"""
    SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
           {sql_davg('c_acctbal')} AS avg_acctbal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q08_customers_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        davg("c_acctbal", alias="avg_acctbal"),
    )


# --- J2/P11: left join with null handling -----------------------------------
@query(
    "q09_suppliers_per_nation",
    oracle=f"""
    SELECT n_name, CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers,
           COALESCE({sql_dsum('s_acctbal')}, 0.0) AS total_acctbal
    FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
    GROUP BY n_name
    """,
)
def q09_suppliers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = tbl(spark, sf_dir, "nation")
    supp = tbl(spark, sf_dir, "supplier")
    joined = nation.join(supp, nation.n_nationkey == supp.s_nationkey, "left")
    return joined.groupBy("n_name").agg(
        F.count("s_suppkey").alias("n_suppliers"),
        F.coalesce(dsum("s_acctbal"), F.lit(0.0)).alias("total_acctbal"),
    )


# --- F2/F4: IN-list + LIKE predicates (goodreads.py:84,217) -----------------
@query(
    "q10_part_filters",
    oracle=f"""
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_parts,
           {sql_davg('p_retailprice')} AS avg_price
    FROM part
    WHERE p_type IN ('ECONOMY', 'PROMO') AND p_name LIKE '%bolt%'
    GROUP BY p_brand
    """,
)
def q10_part_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_type").isin("ECONOMY", "PROMO"))
        .filter(F.col("p_name").like("%bolt%"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            davg("p_retailprice", alias="avg_price"),
        )
    )


# --- top-k per group (window) ------------------------------------------------
@query(
    "q11_top_orders_per_priority",
    oracle="""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_orderpriority
        ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def q11_top_orders_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    top = top_k_per_group(
        orders,
        ["o_orderpriority"],
        3,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )
    return top.select("o_orderpriority", "o_orderkey", "o_totalprice")


# --- U1/F6: union + distinct (goodreads.py:487,473) -------------------------
@query(
    "q12_active_nationkeys",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def q12_active_nationkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = tbl(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.unionByName(supp).distinct()


# --- rollup (beyond the reference's flat GROUP BYs) -------------------------
@query(
    "q13_rollup_region_nation",
    oracle="""
    SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def q13_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(F.count(F.lit(1)).alias("n_customers"))


# --- pivot ------------------------------------------------------------------
@query(
    "q14_qty_pivot_by_linestatus",
    oracle="""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,2)))
                FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F",
           CAST(SUM(CAST(l_quantity AS DECIMAL(30,2)))
                FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q14_qty_pivot_by_linestatus(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(dsum("l_quantity"))
    )


# --- P4/P5 derived + CASE bucketing -----------------------------------------
@query(
    "q15_order_tiers",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
                WHEN o_totalprice < 300000 THEN 'mid'
                ELSE 'large' END AS tier,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_dsum('o_totalprice')} AS total
    FROM orders GROUP BY 1
    """,
)
def q15_order_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    tier = (
        F.when(F.col("o_totalprice") < 100000, "small")
        .when(F.col("o_totalprice") < 300000, "mid")
        .otherwise("large")
    )
    return (
        orders.withColumn("tier", tier)
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum("o_totalprice", alias="total"),
        )
    )


# --- P8/P10: string split + array index (goodreads.py:99,217) ---------------
@query(
    "q16_part_color_words",
    oracle="""
    SELECT string_split(p_name, ' ')[1] AS color,
           CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM part GROUP BY 1
    """,
)
def q16_part_color_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return (
        part.withColumn("color", F.split(F.col("p_name"), " ")[0])
        .groupBy("color")
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# --- UD1 analog: argmax per group, native (no Python UDF) -------------------
@query(
    "q17_dominant_segment_per_nation",
    oracle="""
    SELECT n_name, c_mktsegment AS top_segment, cnt AS n_customers
    FROM (
      SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY COUNT(*) DESC, c_mktsegment) AS rn
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, c_mktsegment)
    WHERE rn = 1
    """,
    doc="Per-group argmax with first-in-order tie-break — the native "
    "replacement for the reference's Python-UDF genre argmax "
    "(goodreads.py:55-57).",
)
def q17_dominant_segment_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    counts = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    best = argmax_per_group(
        counts, ["n_name"], F.col("cnt"), [F.col("c_mktsegment")]
    )
    return best.select(
        "n_name",
        F.col("c_mktsegment").alias("top_segment"),
        F.col("cnt").alias("n_customers"),
    )


# --- F6: full-row distinct on a projection ----------------------------------
@query(
    "q18_status_priority_combos",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def q18_status_priority_combos(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


# --- O5 analog: point lookup as DataFrame -----------------------------------
@query(
    "q19_customer_lookup",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer WHERE c_custkey = 42
    """,
)
def q19_customer_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    return lookup(cust, "c_custkey", 42).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )


# --- multi-column sort with mixed direction (O1) + limit (O3) ---------------
@query(
    "q20_order_scan_sorted",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
    LIMIT 50
    """,
)
def q20_order_scan_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(
            F.col("o_orderstatus").asc(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .limit(50)
    )


# --- exact median (beyond the reference's aggregate set) --------------------
@query(
    "q21_median_price_by_flag",
    oracle="""
    SELECT l_returnflag, MEDIAN(l_extendedprice) AS median_price,
           MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact median per group. Spark computes it via sort-based "
    "percentile; at 100 TB prefer approx_percentile with an error bound.",
)
def q21_median_price_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("median_price"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


# --- skew-resilient salted aggregation (operators/skew.py) ------------------
@query(
    "q22_salted_status_counts",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum('o_totalprice')} AS total
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Two-stage salted aggregation — identical results to the plain "
    "groupBy (the oracle), resilient to hot keys at scale.",
)
def q22_salted_status_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.skew import salted_counts

    orders = tbl(spark, sf_dir, "orders")
    return salted_counts(
        orders,
        keys=["o_orderstatus"],
        salt_cols=["o_orderkey"],
        buckets=16,
        sum_col="o_totalprice",
    )


# --- SQL facade: correlated EXISTS + scalar subquery ------------------------
@query(
    "q23_sql_facade_subqueries",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rich_active
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
      AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    doc="spark.sql facade with a scalar subquery + correlated EXISTS — "
    "Catalyst decorrelates both into joins (the SQL/DataFrame duality, "
    "SURVEY.md §3.2).",
)
def q23_sql_facade_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    # DataFrame arguments bind as temp views that spark.sql drops once the
    # query is analysed, so the session's catalog is left as it was.
    return spark.sql(
        """
        SELECT c_mktsegment, COUNT(*) AS n_rich_active
        FROM {customer} c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer})
          AND EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment
        """,
        customer=tbl(spark, sf_dir, "customer"),
        orders=tbl(spark, sf_dir, "orders"),
    )


# --- cube (grouping sets superset) ------------------------------------------
@query(
    "q24_cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q24_cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- unpivot / melt ----------------------------------------------------------
@query(
    "q25_unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice AS val
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    """,
)
def q25_unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = tbl(spark, sf_dir, "part")
    return part.unpivot(
        "p_partkey",
        ["p_retailprice", "p_size"],
        "measure",
        "val",
    ).withColumn("val", F.col("val").cast("double"))


# --- fact-to-fact join + date arithmetic ------------------------------------
@query(
    "q26_late_shipments",
    oracle=f"""
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_late,
           {sql_dsum('l_extendedprice')} AS late_value
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderstatus
    """,
    doc="The big fact-to-fact join (lineitem x orders on the FK) with "
    "interval arithmetic in the predicate. At scale this is the shuffle "
    "join AQE owns; both sides bucketed on orderkey would eliminate it "
    "(see test_bucketed_join_avoids_shuffle).",
)
def q26_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    late = joined.filter(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return late.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_late"),
        dsum("l_extendedprice", alias="late_value"),
    )


# --- approximate sketches, gated via engine-independent assertions ----------
#: HLL rsd requested from approx_count_distinct.
_Q27_RSD = 0.02
#: Accepted relative HLL error: 5 standard deviations — a correct sketch
#: essentially never exceeds it; a broken one blows straight past.
_Q27_HLL_TOL = 5 * _Q27_RSD
#: percentile_approx accuracy parameter (rank error <= n / accuracy).
_Q27_ACC = 10000


@query(
    "q27_approx_sketches",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS hll_within_rsd,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM orders GROUP BY o_orderstatus
    """,
    doc="HyperLogLog distinct + quantile sketches per group — THE forms "
    "actually used at 100 TB (bounded memory, one pass, mergeable "
    "partials). Sketch INTERNALS differ by engine, so the raw estimates "
    "can never hash-match DuckDB; instead the query emits "
    "engine-independent columns (VERDICT r6 #3): the exact distinct "
    "count and group size, which DuckDB recomputes bit-for-bit, plus "
    "in-query BOOLEAN assertions that Spark's sketch landed inside its "
    "own published error bounds — HLL within 5·rsd of the exact count, "
    "and each percentile_approx value rank-bracketed within n/accuracy "
    "(+1 for ties) of its target rank. The oracle pins the booleans "
    "TRUE: a broken sketch flips a cell and hash-mismatches, which "
    "upgrades q27 from rows-only to a full value gate. Scale shape: "
    "two keyed aggregation passes over orders plus a broadcast of the "
    "per-group sketch row (bounded by |status| = 3).",
)
def q27_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders")
    sk = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=_Q27_RSD).alias("hll"),
        F.percentile_approx("o_totalprice", 0.5, _Q27_ACC).alias("p50"),
        F.percentile_approx("o_totalprice", 0.95, _Q27_ACC).alias("p95"),
    )
    # Second pass computes exact counts AND, per row, which side of each
    # sketch value the row falls on — giving the exact rank bracket of
    # the approximate percentile without any sort.
    j = orders.join(F.broadcast(sk), "o_orderstatus")
    agg = j.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast("bigint").alias("exact_customers"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.first("hll").alias("hll"),
        F.sum((F.col("o_totalprice") <= F.col("p50")).cast("bigint")).alias("le50"),
        F.sum((F.col("o_totalprice") < F.col("p50")).cast("bigint")).alias("lt50"),
        F.sum((F.col("o_totalprice") <= F.col("p95")).cast("bigint")).alias("le95"),
        F.sum((F.col("o_totalprice") < F.col("p95")).cast("bigint")).alias("lt95"),
    )
    n = F.col("n_orders").cast("double")
    slack = n / _Q27_ACC + 1  # rank error bound + 1 for ties at the value

    def rank_ok(q: float, le: str, lt: str) -> Column:
        target = F.lit(q) * n
        return (F.col(le).cast("double") >= target - slack) & (
            F.col(lt).cast("double") <= target + slack
        )

    hll_err = F.abs(F.col("hll").cast("double") - F.col("exact_customers")) / F.col(
        "exact_customers"
    )
    return agg.select(
        "o_orderstatus",
        "exact_customers",
        "n_orders",
        (hll_err <= _Q27_HLL_TOL).alias("hll_within_rsd"),
        rank_ok(0.5, "le50", "lt50").alias("p50_rank_ok"),
        rank_ok(0.95, "le95", "lt95").alias("p95_rank_ok"),
    )


# --- TPC-H Q3 shape: 3-way join, filtered both sides, top-k by revenue ------
@query(
    "q28_shipping_priority",
    oracle=f"""
    SELECT o_orderkey,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey LIMIT 10
    """,
    doc="TPC-H Q3 shape: selective dim filter -> fact join chain -> "
    "grouped revenue -> top-k. Catalyst pushes both date filters to the "
    "scans and broadcasts the filtered customer side.",
)
def q28_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey).join(
        li, F.col("o_orderkey") == F.col("l_orderkey")
    )
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "revenue"
            )
        )
        .select(
            "o_orderkey",
            "revenue",
            F.to_date("o_orderdate").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@query(
    "q29_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {sql_dsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape: 6-way join (two fact tables, four dims) with the "
    "customer-nation = supplier-nation locality constraint. Catalyst "
    "broadcasts every dim (region/nation/supplier/filtered customer) so "
    "the only shuffle is the orderkey fact-fact join + final 5-row agg; "
    "both date bounds and r_name push to the scans.",
)
def q29_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    region = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = tbl(spark, sf_dir, "nation")
    supplier = tbl(spark, sf_dir, "supplier")
    customer = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = tbl(spark, sf_dir, "lineitem")
    joined = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            supplier,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(nation, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(region, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return (
        joined.groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


@query(
    "q30_returned_item_customers",
    oracle=f"""
    SELECT c_custkey, c_name,
           {sql_dsum("l_extendedprice * (1 - l_discount)", 6)} AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-07-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue ranking. The returnflag "
    "filter pushes into the lineitem scan, the quarter window into "
    "orders; nation broadcasts; top-20 folds to TakeOrderedAndProject "
    "(no global sort materializes).",
)
def q30_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-07-01 00:00:00").cast("timestamp")
    customer = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    joined = (
        customer.join(orders, customer.c_custkey == orders.o_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(nation, F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- distributed exact median (bounded-memory two-phase) ---------------------
@query(
    "q31_distributed_median",
    oracle="""
    SELECT l_returnflag, MEDIAN(l_extendedprice) AS median_price,
           MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact median via the two-phase histogram + targeted-rescan "
    "operator (operators/quantiles.py) — same answer as q21's builtin "
    "F.median (the oracle is identical), but with O(bucket) executor "
    "memory instead of ObjectHashAggregate's O(group-values) buffering, "
    "which is the difference between running and OOMing at 100 TB. "
    "Interpolation uses the builtin's a*0.5+b*0.5 arithmetic, so the "
    "two formulations are bit-identical.",
)
def q31_distributed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from goodreads_pyspark_spark.operators.quantiles import exact_grouped_median

    li = tbl(spark, sf_dir, "lineitem")
    med = exact_grouped_median(li, "l_returnflag", "l_extendedprice")
    mm = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )
    return med.join(mm, "l_returnflag").select(
        "l_returnflag",
        F.col("median").alias("median_price"),
        "min_price",
        "max_price",
    )


# --- exact interpolated quantiles -------------------------------------------
@query(
    "q32_exact_quantiles",
    oracle="""
    WITH q AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, [0.25, 0.5, 0.75]) AS qs
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, qs[1] AS p25, qs[2] AS p50, qs[3] AS p75 FROM q
    """,
    doc="Exact linearly-interpolated quantiles per group — Spark's "
    "percentile() and DuckDB's quantile_cont share the classic "
    "(n-1)*p order-statistic interpolation, verified bit-identical. "
    "Exact percentile is an ObjectHashAggregate buffering each "
    "group's values; at 100 TB switch to approx_percentile (q27) or "
    "the two-phase histogram median (q31) — this query is the "
    "exactness baseline those are judged against.",
)
def q32_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    qs = F.expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
    return li.groupBy("l_returnflag").agg(
        qs.getItem(0).alias("p25"),
        qs.getItem(1).alias("p50"),
        qs.getItem(2).alias("p75"),
    )


# --- set operations: INTERSECT / EXCEPT --------------------------------------
@query(
    "q33_set_ops",
    oracle="""
    SELECT c_custkey FROM (
      SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
    doc="Set operations beyond the reference's union (SURVEY §2.7 notes "
    "intersect/except come free from Spark): customers with both open "
    "and fulfilled orders, minus any with pending ones. intersect()/"
    "exceptAll-distinct compile to left-semi/left-anti aggregates — "
    "keyed shuffles, no materialized intermediate sets.",
)
def q33_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = tbl(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    pending = o.filter(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return open_.intersect(fulfilled).exceptAll(pending.distinct()).distinct()


# --- ranking windows: ntile / percent_rank -----------------------------------
@query(
    "q34_price_rank_tiles",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             NTILE(4) OVER w AS quartile,
             PERCENT_RANK() OVER w AS pct_rank
      FROM orders WHERE o_custkey < 100
      WINDOW w AS (PARTITION BY o_orderstatus
                   ORDER BY o_totalprice, o_orderkey))
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(quartile AS INTEGER) AS quartile, pct_rank
    FROM ranked
    """,
    doc="Ranking windows: NTILE(4) quartile assignment and PERCENT_RANK "
    "per status partition. The (price, orderkey) compound order key "
    "makes the total order unique, so bucket boundaries and ranks are "
    "engine-independent; percent_rank = (rank-1)/(n-1) is an exact "
    "integer ratio through one double division.",
)
def q34_price_rank_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = tbl(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


# --- correlated scalar subquery (TPC-H Q17 shape) ----------------------------
@query(
    "q35_small_qty_part_revenue",
    oracle=f"""
    WITH pa AS (
      SELECT l_partkey, {sql_davg("l_quantity", 2)} AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT l_partkey,
           {sql_dsum("l_extendedprice", 2)} AS below_avg_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pa USING (l_partkey)
    WHERE p_brand = 'Brand#1' AND l_quantity < 0.5 * avg_qty
    GROUP BY l_partkey
    """,
    doc="TPC-H Q17 shape (reference has no correlated subqueries; this is "
    "the decorrelated form Catalyst itself rewrites to): revenue of "
    "below-half-average-quantity lineitems per Brand#1 part. The "
    "correlated scalar subquery avg(l_quantity) per part becomes one "
    "(l_partkey)-keyed aggregate joined back to the fact — one shuffle "
    "on the fact's natural key, brand dim broadcast. The 0.5*avg "
    "threshold compares exact decimal-derived doubles so the boundary "
    "is engine-independent.",
)
def q35_small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    part_avg = li.groupBy("l_partkey").agg(davg("l_quantity", 2, "avg_qty"))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(part_avg, "l_partkey")
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy("l_partkey")
        .agg(
            dsum("l_extendedprice", 2, "below_avg_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- two-sided dim predicate over a 5-way join (TPC-H Q7 shape) --------------
@query(
    "q36_nation_trade_volume",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           {sql_dsum("volume", 6)} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01') shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape: five-way join with a disjunctive predicate that "
    "spans BOTH dim legs (supplier nation x customer nation), grouped by "
    "year. Catalyst broadcasts every dim (nation twice under different "
    "aliases, supplier, the date-filtered side), leaving one fact "
    "shuffle for the final aggregate; the OR predicate can only be "
    "applied post-join, which is exactly where it lands.",
)
def q36_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    sup = tbl(spark, sf_dir, "supplier")
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return joined.groupBy(
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("int").alias("l_year"),
    ).agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "revenue")
    )


# --- EXISTS / NOT EXISTS self-joins (TPC-H Q21 shape) ------------------------
@query(
    "q37_sole_late_suppliers",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
      GROUP BY l_orderkey, l_suppkey)
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (testdata has no commit/receipt dates, so 'late' "
    "= shipped >90 days after order date): suppliers who were the SOLE "
    "late supplier on a multi-supplier order. EXISTS compiles to a "
    "left-semi self-join on the order key, NOT EXISTS to a left-anti "
    "one — both (l_orderkey)-keyed shuffles against the already-"
    "distinct late set, no row explosion; supplier dim broadcasts.",
)
def q37_sole_late_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    sup = tbl(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        )
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    l1 = late.alias("l1")
    # EXISTS another-supplier lineitem in the same order.
    other = li.select("l_orderkey", "l_suppkey").alias("l2")
    has_other = l1.join(
        other,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    )
    # NOT EXISTS another LATE supplier in the same order.
    l3 = late.alias("l3")
    sole = has_other.alias("l1").join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        sole.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --- referential-integrity audit ---------------------------------------------
_Q38_RELS = [
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation_region", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _q38_oracle() -> str:
    parts = [
        f"""SELECT '{rel}' AS relationship,
           CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(*) FROM {child} c
                 ANTI JOIN {parent} p ON c.{ck} = p.{pk}) AS BIGINT)
             AS n_orphans"""
        for rel, child, ck, parent, pk in _Q38_RELS
    ]
    return "\nUNION ALL\n".join(parts)


@query(
    "q38_fk_integrity_audit",
    oracle=_q38_oracle(),
    doc="Referential-integrity audit across every FK edge of the star "
    "schema: child row count and orphan count (child keys with no "
    "parent) per relationship — the data-quality gate an ETL runs "
    "before publishing a snapshot. Each relationship is one left-anti "
    "join against the parent's key projection; small parents broadcast, "
    "the two fact-fact edges shuffle on their natural keys. Integer-"
    "only output.",
)
def q38_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for rel, child, ck, parent, pk in _Q38_RELS:
        c = tbl(spark, sf_dir, child)
        p = tbl(spark, sf_dir, parent).select(F.col(pk).alias(ck))
        total = c.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows"))
        orphans = anti_join(c, p, [ck]).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orphans")
        )
        rows.append(
            total.crossJoin(F.broadcast(orphans)).select(
                F.lit(rel).alias("relationship"), "n_rows", "n_orphans"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


# --- scalar-max subquery (TPC-H Q15 shape) -----------------------------------
@query(
    "q39_top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             {sql_dsum("l_extendedprice * (1 - l_discount)", 6)} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q15 shape: quarterly revenue per supplier, keep the "
    "supplier(s) achieving the global maximum — the scalar-max subquery "
    "pattern. Decimal-exact revenue makes the equality comparison "
    "engine-safe (double revenue would make 'equal to max' flaky). "
    "Plan: one (suppkey)-keyed aggregate, a 1-row max re-aggregate "
    "broadcast back as a filter, supplier dim broadcast — the revenue "
    "table is scanned once and reused, never recomputed per row.",
)
def q39_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    sup = tbl(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --- explicit GROUPING SETS with grouping_id ---------------------------------
@query(
    "q40_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                AS INTEGER) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))
    """,
    doc="Explicit GROUPING SETS — the arbitrary-combination form that "
    "completes the rollup (q13) / cube (q24) family — with GROUPING() "
    "bits distinguishing aggregated-away columns from genuine NULL "
    "values. Runs through the SQL facade (the DataFrame API has no "
    "grouping-sets builder); one Expand + one hash aggregate, same "
    "shuffle class as a plain groupBy.",
)
def q40_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS INT) AS gid,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM {orders}
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), (o_orderpriority))
        """,
        orders=tbl(spark, sf_dir, "orders"),
    )


# --- column-statistics profile (data-profiling primitive) --------------------
_Q41_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority",
]


def _q41_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS column_name,
           CAST(COUNT({c}) AS BIGINT) AS n_non_null,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({c}) AS VARCHAR) AS min_value,
           CAST(MAX({c}) AS VARCHAR) AS max_value
    FROM orders"""
        for c in _Q41_COLS
    ]
    return "\nUNION ALL\n".join(parts)


@query(
    "q41_column_profile",
    oracle=_q41_oracle(),
    doc="Column-statistics profile of a table (ANALYZE TABLE / Deequ "
    "shape): per column, null count, distinct count, min/max rendered "
    "as text — the stats a catalog stores for cost-based optimization "
    "and a data-quality monitor alerts on. One aggregate pass per "
    "column over a single cached scan; min/max stringified so one "
    "schema covers heterogeneous column types. Timestamp min/max "
    "render via an explicit format so both engines agree on the text "
    "form.",
)
def q41_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = tbl(spark, sf_dir, "orders").cache()
    rows = []
    for c in _Q41_COLS:
        col = F.col(c)
        is_ts = dict(orders.dtypes)[c].startswith("timestamp")
        render = (
            (lambda x: F.date_format(x, "yyyy-MM-dd HH:mm:ss"))
            if is_ts
            else (lambda x: x.cast("string"))
        )
        rows.append(
            orders.agg(
                F.count(col).cast("bigint").alias("n_non_null"),
                (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias("n_null"),
                F.countDistinct(col).cast("bigint").alias("n_distinct"),
                render(F.min(col)).alias("min_value"),
                render(F.max(col)).alias("max_value"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_non_null",
                "n_null",
                "n_distinct",
                "min_value",
                "max_value",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    # One row per profiled column: checkpoint the tiny result eagerly so
    # the scan cache can be released before returning (no leaked blocks
    # across bench-loop iterations).
    out = out.localCheckpoint(eager=True)
    orders.unpersist()
    return out


# ============================ round-4 additions ==============================
# TPC-H's remaining heavy shapes, adapted to the testdata schema (no
# partsupp / c_phone / supplycost columns — each adaptation is noted on the
# query). All follow the house rules: decimal-exact money math, broadcast
# dims, one fact shuffle per aggregate, unique total order under LIMIT.


# --- TPC-H Q8: market share (conditional-sum ratio) --------------------------
@query(
    "q42_market_share",
    oracle=f"""
    WITH all_rev AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01')
    SELECT o_year,
           {sql_dsum("CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END", 6)}
             / {sql_dsum('volume', 6)} AS mkt_share
    FROM all_rev GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (no p_type leg in the testdata join path): the "
    "NATION_3 suppliers' share of revenue from ASIA customers per year. "
    "A conditional-sum ratio — numerator and denominator come out of "
    "ONE aggregate pass (sum of CASE), not two queries; both sums ride "
    "the decimal-exact path so the final double division is bit-equal "
    "across engines. Plan: every dim broadcasts, the fact shuffles once "
    "on the year.",
)
def q42_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = tbl(spark, sf_dir, "customer")
    sup = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")
    region = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select("n_nationkey", "n_regionkey")
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == region.r_regionkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
    )
    num = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (dsum(num, 6) / dsum(volume, 6)).alias("mkt_share"),
        )
    )


# --- TPC-H Q9: product-type profit ------------------------------------------
@query(
    "q43_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount)'
                     ' - 0.5 * p_retailprice * l_quantity', 6)} AS sum_profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%ring%'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (testdata has no ps_supplycost; cost is modeled "
    "as 0.5 * p_retailprice per unit): profit by supplier nation and "
    "order year for parts whose name matches a LIKE pattern. The LIKE "
    "prunes part BEFORE the join (predicate pushdown into the dim "
    "scan); part/supplier/nation broadcast; orders co-shuffles with "
    "lineitem on the order key; profit arithmetic is decimal-exact.",
)
def q43_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part").filter(F.col("p_name").like("%ring%"))
    sup = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")
    orders = tbl(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.5 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dsum(profit, 6, "sum_profit"))
    )


# --- TPC-H Q13: customer order-count distribution ----------------------------
@query(
    "q44_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
    doc="TPC-H Q13: distribution of customers by order count, INCLUDING "
    "zero-order customers — the left join with the filter in the JOIN "
    "condition (not WHERE, which would silently turn it inner) is the "
    "whole point of the shape. Double aggregation: per-customer count, "
    "then histogram over the tiny count domain.",
)
def q44_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    )


# --- TPC-H Q16: supplier variety per part class -------------------------------
@query(
    "q45_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 9, 16, 25, 36, 49)
    GROUP BY p_brand, p_type, p_size
    """,
    doc="TPC-H Q16 shape (lineitem's (part, supplier) pairs stand in for "
    "partsupp): how many distinct suppliers serve each surviving "
    "(brand, type, size) class after NOT-equal / NOT-LIKE / IN-list "
    "dim predicates. COUNT(DISTINCT) expands to a two-phase exact "
    "aggregate (distinct shuffle then count) — no sketch approximation "
    "in the gated path (q27 covers the approx variant).",
)
def q45_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


# --- TPC-H Q18: large-volume orders (HAVING over a join-back) -----------------
@query(
    "q46_large_volume_customers",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {sql_dsum('l_quantity')} AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(30,2))) > 110)
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           o_totalprice, total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18: orders whose total line quantity clears a threshold, "
    "joined back to customer. The HAVING comparison runs on the exact "
    "DECIMAL sum (not the post-cast double), so the survivor set is "
    "identical across engines — a float HAVING at a threshold boundary "
    "is exactly the kind of flaky filter the dsum convention exists to "
    "kill. Top-100 by price with the order key as unique tiebreak.",
)
def q46_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(30,2)")).alias("qty_dec"))
        .filter(F.col("qty_dec") > 110)
        .select("l_orderkey", F.col("qty_dec").cast("double").alias("total_qty"))
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# --- TPC-H Q20: excess-inventory suppliers (nested semi-join chain) ----------
@query(
    "q47_excess_inventory_suppliers",
    oracle="""
    WITH per_sp AS (
      SELECT l_suppkey, l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(30,2))) AS total_qty,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                      THEN CAST(l_quantity AS DECIMAL(30,2))
                      ELSE CAST(0 AS DECIMAL(30,2)) END) AS recent_qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey, l_partkey)
    SELECT DISTINCT s_name, n_name AS nation
    FROM per_sp
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE total_qty > 2 * recent_qty
    ORDER BY s_name
    """,
    doc="TPC-H Q20 shape (no partsupp availqty; 'excess' = a supplier's "
    "all-time shipped quantity of a PROMO part more than double its "
    "recent-demand quantity): suppliers holding excess inventory of "
    "promotional parts. The qualifying comparison runs on exact "
    "DECIMAL sums from ONE aggregate pass (conditional sum for the "
    "recent leg); the supplier/nation legs broadcast onto the "
    "distinct survivor keys.",
)
def q47_excess_inventory_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sup = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")
    qty_dec = F.col("l_quantity").cast("decimal(30,2)")
    recent = F.when(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"), qty_dec
    ).otherwise(F.lit(0).cast("decimal(30,2)"))
    per_sp = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(qty_dec).alias("total_qty"),
            F.sum(recent).alias("recent_qty"),
        )
        .filter(F.col("total_qty") > 2 * F.col("recent_qty"))
    )
    return (
        per_sp.join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_name", F.col("n_name").alias("nation"))
        .distinct()
        .orderBy("s_name")
    )


# --- TPC-H Q22: dormant high-balance customers --------------------------------
@query(
    "q48_dormant_customers",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {sql_davg('c_acctbal', 2)} AS ab
      FROM customer WHERE c_acctbal > 0.0)
    SELECT CAST(c_custkey % 10 AS INTEGER) AS cust_bucket,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {sql_dsum('c_acctbal')} AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY cust_bucket
    """,
    doc="TPC-H Q22 shape (no c_phone; the country-code bucket becomes "
    "c_custkey % 10; and since every testdata customer has SOME order, "
    "dormant means no order since 1999-01-01 rather than none ever): "
    "customers with above-average positive balance "
    "who have gone dormant. The scalar average is a one-row broadcast "
    "cross join (never a per-row subquery), computed decimal-exact so "
    "the > cutoff picks the identical customer set in both engines; "
    "NOT EXISTS compiles to a left-anti join against orders.",
)
def q48_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        davg("c_acctbal", 2, "ab")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            orders.filter(
                F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
            ),
            cust.c_custkey == orders.o_custkey,
            "left_anti",
        )
        .groupBy((F.col("c_custkey") % 10).cast("int").alias("cust_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numcust"),
            dsum("c_acctbal", 2, "totacctbal"),
        )
    )


# --- TPC-H Q14: promotion revenue share (queued for r5 rotation) -------------
@query(
    "q49_promo_revenue_share",
    oracle=f"""
    SELECT 100.0 * {sql_dsum("CASE WHEN p_type = 'PROMO' "
                             "THEN l_extendedprice * (1 - l_discount) "
                             "ELSE 0 END", 6)}
             / {sql_dsum('l_extendedprice * (1 - l_discount)', 6)}
             AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    doc="TPC-H Q14: promotional parts' share of one month's revenue — the "
    "conditional-sum ratio again (one aggregate pass, decimal-exact "
    "numerator and denominator, bit-equal division), with the date "
    "range pushed into the lineitem scan and the part dim broadcast.",
)
def q49_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = tbl(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return li.join(part, li.l_partkey == part.p_partkey).agg(
        (100.0 * dsum(promo, 6) / dsum(rev, 6)).alias("promo_revenue_pct")
    )


# --- TPC-H Q19: disjunctive bracket predicates (queued for r5 rotation) ------
@query(
    "q50_bracket_disjunction_revenue",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 6)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 40)
    """,
    doc="TPC-H Q19 shape: an OR of three multi-column bracket predicates "
    "spanning BOTH join sides (brand+size from part, quantity from "
    "lineitem). Catalyst can push only the per-side residuals "
    "(brand/size disjunction to the part scan, the quantity range "
    "hull to lineitem); the cross-side conjunctions must evaluate "
    "post-join — the query shape that punishes engines without "
    "predicate decomposition. Part broadcasts; one aggregate row out.",
)
def q50_bracket_disjunction_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    br = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return j.filter(br).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 6, "revenue"),
    )


# --- TPC-H Q2: correlated min-cost supplier (new in r5) ----------------------
@query(
    "q51_min_cost_supplier",
    oracle="""
    WITH eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON n_nationkey = s_nationkey
                    JOIN region ON r_regionkey = n_regionkey
      WHERE r_name = 'EUROPE'),
    cost AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice / l_quantity) AS cost
      FROM lineitem JOIN eu ON s_suppkey = l_suppkey
      GROUP BY 1, 2)
    SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
    FROM cost JOIN eu ON s_suppkey = l_suppkey
              JOIN part ON p_partkey = l_partkey
    WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'
      AND cost = (SELECT MIN(c2.cost) FROM cost c2
                  WHERE c2.l_partkey = cost.l_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
    doc="TPC-H Q2 shape (adapted: the driver testdata has no partsupp, so "
    "the part-supplier cost relation is derived as MIN unit price per "
    "(l_partkey, l_suppkey) over lineitem — MIN of doubles is order-"
    "independent, so no decimal detour is needed): for each "
    "size-10..20 LARGE part, the European supplier(s) whose cost equals "
    "the per-part minimum. This is the one decorrelation shape the "
    "suite lacked — the oracle keeps Q2's correlated scalar subquery; "
    "the Spark side decorrelates it BY CONSTRUCTION into a per-part "
    "min aggregate joined back on (partkey, cost), i.e. one extra "
    "shuffle on partkey instead of a per-row subquery. supplier-"
    "nation-region collapses to a broadcast; the filtered part dim "
    "broadcasts too; equality on cost is sound because both engines "
    "compute the identical IEEE division and MIN.",
)
def q51_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = tbl(spark, sf_dir, "nation")
    reg = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        tbl(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(reg), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    cost = (
        li.join(eu.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("cost"))
    )
    min_cost = cost.groupBy("l_partkey").agg(F.min("cost").alias("__min_cost"))
    best = cost.join(min_cost, "l_partkey").filter(
        F.col("cost") == F.col("__min_cost")
    )
    part = tbl(spark, sf_dir, "part").filter(
        F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(eu, best.l_suppkey == eu.s_suppkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- TPC-H Q11: group HAVING vs a global-scalar fraction (new in r5) ---------
_Q52_FRACTION = 0.001


@query(
    "q52_important_parts",
    oracle=f"""
    WITH nsup AS (
      SELECT s_suppkey FROM supplier
      JOIN nation ON n_nationkey = s_nationkey
      WHERE n_name = 'NATION_1'),
    val AS (
      SELECT l_partkey,
             {sql_dsum('l_extendedprice * l_quantity', 6)} AS value
      FROM lineitem JOIN nsup ON s_suppkey = l_suppkey
      GROUP BY 1)
    SELECT l_partkey, value FROM val
    WHERE value > (SELECT CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
                            * {_Q52_FRACTION}
                   FROM val)
    ORDER BY value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape (adapted: part 'stock value' for one nation's "
    "suppliers is derived from lineitem as dsum(extendedprice * "
    "quantity) since there is no partsupp): keep the parts whose value "
    f"exceeds fraction {_Q52_FRACTION} of the nation's total — the "
    "group-HAVING-against-a-global-scalar shape. The Spark side "
    "computes the per-part values ONCE, derives the scalar threshold "
    "from that same frame, and broadcasts the 1-row threshold into a "
    "cross join (no second scan, no collect); both sides run the "
    "threshold through the same decimal-exact sum so the > comparison "
    "is bit-deterministic. The supplier-nation filter broadcasts into "
    "the lineitem scan as a semi-join.",
)
def q52_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = tbl(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    nsup = (
        tbl(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .select("s_suppkey")
    )
    li = tbl(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    val = (
        li.join(nsup, li.l_suppkey == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(dsum(F.col("l_extendedprice") * F.col("l_quantity"), 6, "value"))
    )
    threshold = val.agg(
        (
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double")
            * F.lit(_Q52_FRACTION)
        ).alias("__thr")
    )
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value") > F.col("__thr"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), "l_partkey")
    )


# --- TPC-H Q12: conditional priority counts by ship class (new in r5) --------
@query(
    "q53_priority_shipclass",
    oracle="""
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag IN ('A', 'R')
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1 ORDER BY 1
    """,
    doc="TPC-H Q12 shape (adapted: no l_shipmode column, so l_returnflag "
    "stands in as the two-valued ship class, mirroring Q12's "
    "IN ('MAIL','SHIP')): per class, how many 1997 shipments belonged "
    "to high- vs low-priority orders — the CASE-conditional count "
    "pair over a large-large join. Neither side broadcasts at 100 TB; "
    "the IN + date filters prune the lineitem scan BEFORE the "
    "o_orderkey shuffle join, integer conditional sums are exact, and "
    "partial aggregation collapses each side to at most two rows per "
    "task before the final exchange.",
)
def q53_priority_shipclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("ship_class")
    )


# --- blocked edit-distance fuzzy matching (entity resolution; new in r5) -----
_Q54_MAX_DIST = 3


@query(
    "q54_fuzzy_name_match",
    oracle=f"""
    WITH names AS (
      SELECT p_name, CAST(COUNT(*) AS BIGINT) AS n_parts
      FROM part GROUP BY p_name),
    blocked AS (
      SELECT *, split_part(p_name, ' ', 2) AS blk FROM names)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS distance,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {_Q54_MAX_DIST}
    """,
    doc="Blocked edit-distance fuzzy matching — the entity-resolution "
    "primitive (name/title near-duplicates that hashing cannot catch): "
    "collapse to DISTINCT names first (values dedup BEFORE the "
    "quadratic kernel — the corpus-dedup discipline applied to "
    "entities), block on the head noun so candidate pairs come from "
    "one key-equality shuffle join instead of a global cross join, "
    f"then exact Levenshtein <= {_Q54_MAX_DIST} inside each block. "
    "Distance is an exact integer in both engines, so the gate is a "
    "hash match, not a similarity band. At 100 TB the block key is the "
    "guard: candidate volume is sum(block²) over DISTINCT values, and "
    "a skewed block gets the same cap/salt treatment as d06's max_df.",
)
def q54_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        tbl(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_parts"))
        # Single-token names: DuckDB split_part yields '' while Spark
        # getItem(1) yields NULL (row silently dropped from the join) —
        # coalesce to '' so both engines block spaceless names together.
        .withColumn(
            "blk", F.coalesce(F.split(F.col("p_name"), " ").getItem(1), F.lit(""))
        )
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_parts_a"),
        "blk",
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_parts_b"),
        "blk",
    )
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "distance", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("int")
        )
        .filter(F.col("distance") <= _Q54_MAX_DIST)
        .select("name_a", "name_b", "distance", "n_parts_a", "n_parts_b")
    )
