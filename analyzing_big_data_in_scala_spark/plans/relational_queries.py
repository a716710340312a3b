"""Relational-core queries (SURVEY.md §2.2-§2.7: P*, J*, A*, O*, F* layers).

Every aggregation here is a Catalyst hash aggregate with map-side partials;
every small dimension join is explicitly broadcast; every top-k is
`orderBy(...).limit(n)` which Spark plans as TakeOrderedAndProject (no full
global sort). Ties at limit boundaries are always broken by a unique key so
both engines select the same rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import load_table
from .registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Flagship (SURVEY.md §7.2 slice 0): the Epinions "top-5 by in-degree" shape
# (StandaloneScala/EpinionsGraphFrameAnalysis.scala:79-81) retargeted at the
# fixtures: rank customers by order count, join the name dimension.
# --------------------------------------------------------------------------
@query(
    "top_customers_by_orders",
    oracle="""
        SELECT o.o_custkey AS custkey,
               c.c_name AS c_name,
               COUNT(*) AS order_cnt,
               ROUND(SUM(o.o_totalprice), 2) AS total_spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY o.o_custkey, c.c_name
        ORDER BY order_cnt DESC, total_spend DESC, custkey ASC
        LIMIT 10
    """,
    description="A1+J1+O1+O2: top customers by order count (in-degree analog)",
)
def top_customers_by_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    agg = orders.groupBy("o_custkey").agg(
        F.count("*").alias("order_cnt"),
        F.round(F.sum("o_totalprice"), 2).alias("total_spend"),
    )
    # customer is a bounded dimension (SF-proportional but tiny vs. facts);
    # broadcast keeps this a map-side join — no shuffle of the agg output.
    return (
        agg.join(F.broadcast(customer.select("c_custkey", "c_name")), agg.o_custkey == F.col("c_custkey"))
        .select(F.col("o_custkey").alias("custkey"), "c_name", "order_cnt", "total_spend")
        .orderBy(F.desc("order_cnt"), F.desc("total_spend"), F.asc("custkey"))
        .limit(10)
    )


@query(
    "pricing_summary",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_extendedprice), 4) AS avg_price,
               ROUND(AVG(l_discount), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE epoch(l_shipdate) <= 1725235200
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 shape: filtered multi-aggregate over lineitem (A1/A2/P7)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # Cutoff built with an explicit UTC zone: a bare string->timestamp cast
    # shifts with the driver session's timezone (breaking oracle parity on
    # non-UTC sessions), while wrapping the COLUMN in unix_timestamp would
    # defeat parquet filter pushdown. make_timestamp(...,'UTC') constant-
    # folds to a literal, so the predicate still reaches the scan as
    # PushedFilters AND is timezone-independent.
    cutoff = F.expr("make_timestamp(2024, 9, 2, 0, 0, 0, 'UTC')")
    return (
        l.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(
    "revenue_by_nation",
    oracle="""
        SELECT n.n_name AS nation, r.r_name AS region,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               COUNT(*) AS line_cnt
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
        ORDER BY revenue DESC, nation ASC
    """,
    description="Multi-way star join (J1 chain) + agg: revenue per nation/region",
)
def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # Aggregation pushed BELOW the only big-big join: partial-agg lineitem
    # per orderkey first (map-side combine, ~4 lines/order -> ~4x fewer
    # shuffle bytes) and let the orderkey join reuse that same hash
    # partitioning; everything downstream is broadcast of bounded dims and
    # a final re-agg of per-order partials (sum/count are associative, so
    # results are identical to aggregating raw lines after the join).
    per_order = l.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"),
        F.count("*").alias("cnt"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(
            F.round(F.sum("rev"), 2).alias("revenue"),
            F.sum("cnt").alias("line_cnt"),
        )
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@query(
    "order_priority_counts",
    oracle="""
        SELECT o_orderpriority, COUNT(*) AS order_cnt,
               COUNT(DISTINCT o_custkey) AS distinct_customers
        FROM orders
        WHERE o_orderstatus <> 'F'
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    description="P8 inequality filter + A1 count + A9 countDistinct",
)
def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderstatus") != "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("order_cnt"),
            F.countDistinct("o_custkey").alias("distinct_customers"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "top_parts_by_revenue",
    oracle="""
        SELECT p.p_partkey AS partkey, p.p_name AS p_name, p.p_brand AS p_brand,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               ROUND(SUM(l.l_quantity), 2) AS qty
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_partkey, p.p_name, p.p_brand
        ORDER BY revenue DESC, partkey ASC
        LIMIT 20
    """,
    description="Fact-dim broadcast join + top-k (O1/O2 TakeOrderedAndProject)",
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # Aggregate the fact table BEFORE the join (partial agg on l_partkey),
    # then broadcast-join the part dimension — at 100 TB the pre-agg shrinks
    # the join input by orders of magnitude.
    agg = l.groupBy("l_partkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )
    return (
        agg.join(F.broadcast(p), agg.l_partkey == p.p_partkey)
        .select(F.col("p_partkey").alias("partkey"), "p_name", "p_brand", "revenue", "qty")
        .orderBy(F.desc("revenue"), F.asc("partkey"))
        .limit(20)
    )


@query(
    "customer_order_full_outer",
    oracle="""
        WITH big_orders AS (
            SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000
        )
        SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
               COUNT(o.o_orderkey) AS big_order_cnt,
               MAX(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS missing_customer
        FROM customer c FULL OUTER JOIN big_orders o ON c.c_custkey = o.o_custkey
        GROUP BY COALESCE(c.c_custkey, o.o_custkey)
        ORDER BY custkey
    """,
    description="J2 full-outer join on key (PageRank.scala:36 shape): customers x high-value orders, both sides preserved",
)
def customer_order_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey", "o_custkey")
    )
    joined = c.join(o, c.c_custkey == o.o_custkey, "full_outer")
    return (
        joined.groupBy(F.coalesce("c_custkey", "o_custkey").alias("custkey"))
        .agg(
            F.count("o_orderkey").alias("big_order_cnt"),
            F.max(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).alias("missing_customer"),
        )
        .orderBy("custkey")
    )


@query(
    "supplier_part_type_share",
    oracle="""
        SELECT s.s_name AS s_name, p.p_type AS p_type,
               COUNT(*) AS line_cnt,
               ROUND(SUM(l.l_extendedprice), 2) AS gross
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY s.s_name, p.p_type
        ORDER BY gross DESC, s_name ASC, p_type ASC
        LIMIT 25
    """,
    description="Two broadcast dim joins + composite-key agg (tuple-key analog of MovieSearchEngine (id,term) grouping)",
)
def supplier_part_type_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("s_name", "p_type")
        .agg(F.count("*").alias("line_cnt"), F.round(F.sum("l_extendedprice"), 2).alias("gross"))
        .orderBy(F.desc("gross"), F.asc("s_name"), F.asc("p_type"))
        .limit(25)
    )


@query(
    "top_customers_per_segment",
    oracle="""
        WITH spend AS (
            SELECT c.c_mktsegment AS segment, c.c_custkey AS custkey,
                   ROUND(SUM(o.o_totalprice), 2) AS spend
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment, c.c_custkey
        )
        SELECT segment, custkey, spend, CAST(rnk AS INT) AS rnk FROM (
            SELECT segment, custkey, spend,
                   ROW_NUMBER() OVER (PARTITION BY segment
                                      ORDER BY spend DESC, custkey ASC) AS rnk
            FROM spend
        ) WHERE rnk <= 3
        ORDER BY segment, rnk
    """,
    description="Window top-N per group (row_number): top-3 spenders per market segment",
)
def top_customers_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), F.col("c_custkey").alias("custkey"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("spend"), F.asc("custkey"))
    return (
        spend.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("segment", "rnk")
    )


@query(
    "customer_order_running_total",
    oracle="""
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey
                                             ROWS UNBOUNDED PRECEDING), 2) AS running_spend
        FROM orders
        WHERE o_custkey <= 100
    """,
    description="Cumulative window aggregate: per-customer running spend in order-date order",
)
def customer_order_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
    )


@query(
    "customers_with_expensive_items",
    oracle="""
        SELECT c.c_custkey AS custkey, c.c_name AS c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            WHERE o.o_custkey = c.c_custkey AND l.l_extendedprice > 103000
        )
        ORDER BY custkey
    """,
    description="Left semi join (EXISTS shape): customers with at least one expensive line item",
)
def customers_with_expensive_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = _t(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 103000).select("l_orderkey")
    # no .distinct(): the outer left_semi dedups via its hash build, so a
    # distinct here would only add an extra shuffle + aggregate pair
    buyers = o.join(l, o.o_orderkey == l.l_orderkey, "left_semi").select("o_custkey")
    return (
        c.join(buyers, c.c_custkey == buyers.o_custkey, "left_semi")
        .select(F.col("c_custkey").alias("custkey"), "c_name")
        .orderBy("custkey")
    )


@query(
    "customers_without_orders_filtered",
    oracle="""
        SELECT c.c_custkey AS custkey, c.c_mktsegment AS segment
        FROM customer c
        WHERE NOT EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
        )
        ORDER BY custkey
    """,
    description="Left anti join (NOT EXISTS shape): customers with no urgent orders",
)
def customers_without_orders_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select(F.col("c_custkey").alias("custkey"), F.col("c_mktsegment").alias("segment"))
        .orderBy("custkey")
    )


@query(
    "customer_segment_setops",
    oracle="""
        WITH building AS (
            SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        ),
        big_spenders AS (
            SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 300000
        )
        SELECT 'union' AS op, COUNT(*) AS n FROM (SELECT k FROM building UNION SELECT k FROM big_spenders)
        UNION ALL
        SELECT 'intersect', COUNT(*) FROM (SELECT k FROM building INTERSECT SELECT k FROM big_spenders)
        UNION ALL
        SELECT 'except', COUNT(*) FROM (SELECT k FROM building EXCEPT SELECT k FROM big_spenders)
        ORDER BY op
    """,
    description="Set operations (union/intersect/except) over customer cohorts — beyond-reference §2.6",
)
def customer_segment_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # Both cohorts feed all three set-op branches — materialize each once
    # (lazy localCheckpoint) instead of re-scanning customer/orders per
    # branch (6 scans -> 2).
    building = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("k"))
        .localCheckpoint(eager=False)
    )
    spenders = (
        o.filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rows = [
        ("union", building.union(spenders).distinct()),
        ("intersect", building.intersect(spenders)),
        ("except", building.exceptAll(spenders.distinct()).distinct()),
    ]
    out = None
    for op, df in rows:
        counted = df.agg(F.count("*").alias("n")).select(F.lit(op).alias("op"), "n")
        out = counted if out is None else out.union(counted)
    return out.orderBy("op")


@query(
    "revenue_rollup",
    oracle="""
        SELECT r.r_name AS region, n.n_name AS nation,
               ROUND(SUM(o.o_totalprice), 2) AS revenue,
               COUNT(*) AS order_cnt
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP (r.r_name, n.n_name)
        ORDER BY region NULLS FIRST, nation NULLS FIRST
    """,
    description="ROLLUP hierarchy totals (region -> nation -> grand total) — beyond-reference OLAP (§2.4 note)",
)
def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"), F.count("*").alias("order_cnt"))
        .orderBy(F.asc_nulls_first("region"), F.asc_nulls_first("nation"))
    )


@query(
    "brand_returnflag_pivot",
    oracle="""
        SELECT p.p_brand AS p_brand,
               ROUND(SUM(CASE WHEN l.l_returnflag = 'A' THEN l.l_extendedprice ELSE 0 END), 2) AS A,
               ROUND(SUM(CASE WHEN l.l_returnflag = 'N' THEN l.l_extendedprice ELSE 0 END), 2) AS N,
               ROUND(SUM(CASE WHEN l.l_returnflag = 'R' THEN l.l_extendedprice ELSE 0 END), 2) AS R
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY p.p_brand
        ORDER BY p_brand
    """,
    description="Pivot (wide conditional aggregation): gross per brand x return flag",
)
def brand_returnflag_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag", "l_extendedprice")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    # explicit pivot values: skips the extra distinct-scan job AND pins the
    # output schema (order) deterministically
    pivoted = (
        joined.groupBy("p_brand")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.sum("l_extendedprice"))
    )
    return pivoted.select(
        "p_brand",
        F.round(F.coalesce("A", F.lit(0.0)), 2).alias("A"),
        F.round(F.coalesce("N", F.lit(0.0)), 2).alias("N"),
        F.round(F.coalesce("R", F.lit(0.0)), 2).alias("R"),
    ).orderBy("p_brand")


@query(
    "global_agg_stats",
    oracle="""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT l_orderkey) AS n_orders,
               ROUND(SUM(l_quantity), 2) AS total_qty,
               ROUND(MIN(l_extendedprice), 2) AS min_price,
               ROUND(MAX(l_extendedprice), 2) AS max_price
        FROM lineitem
    """,
    description="A5/A6 global (no-group) aggregate, the ||query|| / N-docs pattern",
)
def global_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = _t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "lineitem_approx_profile",
    # VALUE-CHECKED sketch profiling (VERDICT r2 item 5): HLL and GK sketch
    # values are implementation-specific, so the raw sketches can't hash-
    # match DuckDB — but their ACCURACY CONTRACTS can. The Spark side emits
    # exact n_rows plus one integer assertion per sketch column (HLL within
    # 10% of the exact distinct count; each GK percentile between the exact
    # interpolated quantiles at rank p±0.01), all evaluated inside the same
    # distributed job. The oracle emits n_rows exactly and 1 for every
    # assertion — a hash match means every sketch met its bound. The raw
    # sketch-only operator (no exact pass) remains the profiling fast path.
    oracle="""
        SELECT COUNT(*) AS n_rows,
               1 AS orders_hll_ok, 1 AS parts_hll_ok, 1 AS suppliers_hll_ok,
               1 AS price_p50_ok, 1 AS price_p90_ok, 1 AS price_p99_ok,
               1 AS qty_p50_ok
        FROM lineitem
    """,
    description="Approximate profiling: HLL distinct counts + GK sketch percentiles, value-checked via in-query accuracy assertions (HLL rel-err <= 10%, percentiles within ±0.01 rank of exact) — the constant-memory scale path where exact COUNT(DISTINCT)/percentile would shuffle every value",
)
def lineitem_approx_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based table profiling. At 100 TB an exact COUNT(DISTINCT key)
    shuffles every distinct value and exact percentiles need a global sort;
    HLL++ (`approx_count_distinct`, ~few-KB sketch, default rsd 5%) and
    Greenwald-Khanna (`percentile_approx`, bounded rank error 1/accuracy)
    merge tiny map-side sketches instead — one narrow all-partial-agg pass,
    no wide shuffle. The exact aggregates below exist only to judge the
    sketches; a production profile run drops them."""
    l = _t(spark, sf_dir, "lineitem")
    sketched = l.agg(
        F.count("*").alias("n_rows"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_suppliers"),
        F.percentile_approx("l_extendedprice", [0.5, 0.9, 0.99], 10000).alias("_pq"),
        F.percentile_approx("l_quantity", 0.5, 10000).alias("_qty_p50"),
        F.count_distinct("l_orderkey").alias("_x_orders"),
        F.count_distinct("l_partkey").alias("_x_parts"),
        F.count_distinct("l_suppkey").alias("_x_suppliers"),
        # Exact interpolated quantiles at rank p±0.01: the GK sketch's rank
        # guarantee (error <= 1/accuracy = 1e-4) must land each sketch value
        # inside the corresponding exact-value bracket.
        F.percentile(
            "l_extendedprice", F.array(*[F.lit(x) for x in (0.49, 0.51, 0.89, 0.91, 0.98, 1.0)])
        ).alias("_pb"),
        F.percentile("l_quantity", F.array(F.lit(0.49), F.lit(0.51))).alias("_qb"),
    )

    def hll_ok(approx: str, exact: str):
        return (
            F.abs(F.col(approx) - F.col(exact)) <= 0.1 * F.col(exact)
        ).cast("int")

    def pct_ok(val, lo, hi):
        return (val.between(lo, hi)).cast("int")

    return sketched.select(
        "n_rows",
        hll_ok("approx_orders", "_x_orders").alias("orders_hll_ok"),
        hll_ok("approx_parts", "_x_parts").alias("parts_hll_ok"),
        hll_ok("approx_suppliers", "_x_suppliers").alias("suppliers_hll_ok"),
        pct_ok(F.element_at("_pq", 1), F.element_at("_pb", 1), F.element_at("_pb", 2)).alias("price_p50_ok"),
        pct_ok(F.element_at("_pq", 2), F.element_at("_pb", 3), F.element_at("_pb", 4)).alias("price_p90_ok"),
        pct_ok(F.element_at("_pq", 3), F.element_at("_pb", 5), F.element_at("_pb", 6)).alias("price_p99_ok"),
        pct_ok(F.col("_qty_p50"), F.element_at("_qb", 1), F.element_at("_qb", 2)).alias("qty_p50_ok"),
    )


@query(
    "orders_salted_segment_revenue",
    # Salting is invisible in the result: the oracle is the PLAIN join +
    # aggregate, so the value check proves the salted plan's equivalence.
    oracle="""
        SELECT c.c_mktsegment AS segment,
               COUNT(*) AS n_orders,
               ROUND(SUM(o.o_totalprice), 2) AS revenue
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment
    """,
    description="Skew-safe salted equi-join (operators/_util.salted_equi_join): fact side salted by whole-row hash, dim side replicated x8, joined on (key, salt) — per-segment order revenue; oracle is the unsalted join",
)
def orders_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._util import salted_equi_join

    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_equi_join(orders, dim, on="o_custkey", buckets=8)
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


def _zorder_oracle() -> str:
    from ..sources.layout import sql_minmax_scaled, sql_z_value

    sp = sql_minmax_scaled("l_partkey", "st.min_p", "st.max_p", bits=16)
    ss = sql_minmax_scaled("l_suppkey", "st.min_s", "st.max_s", bits=16)
    z = sql_z_value([sp, ss], bits=16)
    return f"""
        SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
               {z} AS z
        FROM lineitem
        CROSS JOIN (
            SELECT MIN(l_partkey) AS min_p, MAX(l_partkey) AS max_p,
                   MIN(l_suppkey) AS min_s, MAX(l_suppkey) AS max_s
            FROM lineitem
        ) st
        ORDER BY z DESC, l_orderkey DESC, l_linenumber DESC
        LIMIT 50
    """


@query(
    "lineitem_zorder_keys",
    oracle=_zorder_oracle(),
    description="Z-order (Morton) clustering key over (l_partkey, l_suppkey): min/max-scale each key to 16 bits (integer-exact `div`), interleave — the transform behind write_zordered's two-dimensional file skipping (sources/layout.py); top-50 sample, stats via in-plan 1-row cross join",
)
def lineitem_zorder_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.layout import minmax_scaled, z_value

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    stats = li.agg(
        F.min("l_partkey").alias("min_p"),
        F.max("l_partkey").alias("max_p"),
        F.min("l_suppkey").alias("min_s"),
        F.max("l_suppkey").alias("max_s"),
    )
    with_stats = li.crossJoin(F.broadcast(stats))
    z = z_value(
        [
            minmax_scaled("l_partkey", F.col("min_p"), F.col("max_p"), bits=16),
            minmax_scaled("l_suppkey", F.col("min_s"), F.col("max_s"), bits=16),
        ],
        bits=16,
    )
    return (
        with_stats.withColumn("z", z)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "z")
        .orderBy(F.desc("z"), F.desc("l_orderkey"), F.desc("l_linenumber"))
        .limit(50)
    )


@query(
    "orders_merge_upsert",
    # Deterministic CDC batch derived from orders itself: keys %7 update
    # (price +1.0 — exact float add, no rounding semantics in play),
    # %11 delete, %13 insert under shifted keys. Oracle = the textbook
    # MERGE expansion (full outer join + CASE), so the operator's one-join
    # rewrite is value-checked end to end.
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
            FROM orders
        ),
        changes AS (
            SELECT o_orderkey, 'U' AS op, o_custkey, o_orderstatus,
                   o_totalprice + 1.0 AS o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey, 'D', o_custkey, o_orderstatus, o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'I', o_custkey, 'N', o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 13 = 0
        )
        SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
               CASE WHEN c.op IS NOT NULL THEN c.o_custkey ELSE b.o_custkey END AS o_custkey,
               CASE WHEN c.op IS NOT NULL THEN c.o_orderstatus ELSE b.o_orderstatus END AS o_orderstatus,
               CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice,
               CASE WHEN c.op IS NOT NULL THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority
        FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
        WHERE c.op IS NULL OR c.op <> 'D'
    """,
    description="MERGE INTO / CDC upsert compaction (operators/merge.py): one outer join applies an insert/update/delete batch to the base snapshot — the lakehouse maintenance primitive on plain parquet",
)
def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_upsert

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"),
        "o_orderpriority",
    )
    deletes = base.filter(
        (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 11 == 0)
    ).select(
        "o_orderkey", F.lit("D").alias("op"), "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority",
    )
    inserts = base.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderpriority",
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    return merge_upsert(base, changes, key="o_orderkey")


@query(
    "orders_incremental_agg_refresh",
    # Incremental view maintenance, value-checked against the FULL
    # recompute: the oracle merges the same deterministic CDC batch
    # (%7 update / %11 delete / %13 insert — as orders_merge_upsert) into
    # the snapshot and re-aggregates from scratch; the Spark side never
    # rescans the base facts — it folds signed per-key deltas into the
    # existing aggregate.
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        ),
        changes AS (
            SELECT o_orderkey, 'U' AS op, o_orderpriority, o_totalprice + 1.0 AS o_totalprice
            FROM base WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey, 'D', o_orderpriority, o_totalprice
            FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'I', o_orderpriority, o_totalprice
            FROM base WHERE o_orderkey % 13 = 0
        ),
        merged AS (
            SELECT COALESCE(b.o_orderkey, c.o_orderkey) AS o_orderkey,
                   CASE WHEN c.op IS NOT NULL THEN c.o_orderpriority ELSE b.o_orderpriority END AS o_orderpriority,
                   CASE WHEN c.op IS NOT NULL THEN c.o_totalprice ELSE b.o_totalprice END AS o_totalprice
            FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey
            WHERE c.op IS NULL OR c.op <> 'D'
        )
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM merged GROUP BY o_orderpriority
    """,
    description="Incremental materialized-view refresh (operators/merge.apply_agg_delta): signed I/U/D deltas folded into the existing per-priority aggregate — refresh cost tracks the change batch, never the base facts; oracle is the full recompute over the merged snapshot",
)
def orders_incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import apply_agg_delta

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    base_agg = base.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
    )
    k = F.col("o_orderkey")
    upd = base.filter(k % 7 == 0).select(
        "o_orderpriority",
        F.lit(0).cast("long").alias("n_orders"),
        # new - old = +1.0 per updated row
        F.lit(1.0).alias("total_price"),
    )
    dele = base.filter((k % 7 != 0) & (k % 11 == 0)).select(
        "o_orderpriority",
        F.lit(-1).cast("long").alias("n_orders"),
        (-F.col("o_totalprice")).alias("total_price"),
    )
    ins = base.filter(k % 13 == 0).select(
        "o_orderpriority",
        F.lit(1).cast("long").alias("n_orders"),
        F.col("o_totalprice").alias("total_price"),
    )
    delta = (
        upd.unionByName(dele)
        .unionByName(ins)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_price").alias("total_price"),
        )
    )
    refreshed = apply_agg_delta(
        base_agg, delta, ["o_orderpriority"], ["n_orders", "total_price"],
        count_col="n_orders",
    )
    return refreshed.select(
        "o_orderpriority",
        "n_orders",
        F.round("total_price", 2).alias("total_price"),
    )


@query(
    "orders_data_profile",
    # One aggregate pass profiles every column (exact distincts — the
    # documented cost); the oracle derives each stat independently per
    # column. Numeric vs string min/max stay typed so no engine-specific
    # float formatting enters the comparison.
    oracle="""
        SELECT 'o_orderkey' AS "column", COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT o_orderkey) AS n_distinct,
               CAST(MIN(o_orderkey) AS DOUBLE) AS min_num, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
        FROM orders
        UNION ALL
        SELECT 'o_custkey', COUNT(*),
               CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_custkey),
               CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE),
               NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderstatus', COUNT(*),
               CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderstatus),
               NULL, NULL, MIN(o_orderstatus), MAX(o_orderstatus)
        FROM orders
        UNION ALL
        SELECT 'o_totalprice', COUNT(*),
               CAST(SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_totalprice),
               MIN(o_totalprice), MAX(o_totalprice), NULL, NULL
        FROM orders
        UNION ALL
        SELECT 'o_orderpriority', COUNT(*),
               CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT o_orderpriority),
               NULL, NULL, MIN(o_orderpriority), MAX(o_orderpriority)
        FROM orders
    """,
    description="Column profiling (Deequ-class data validation, operators/quality.py): per-column rows/nulls/exact-distinct/min/max from ONE aggregate pass, melted to a row-per-column report in a projection",
)
def orders_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import column_profile

    o = _t(spark, sf_dir, "orders")
    return column_profile(
        o, ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    )


@query(
    "orders_quality_checks",
    oracle="""
        WITH enriched AS (
            SELECT o.*, c.c_custkey AS matched
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        ),
        agg AS (
            SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) AS pk_unique,
                   SUM(CASE WHEN matched IS NULL THEN 1 ELSE 0 END) AS fk_customer,
                   SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS price_non_negative,
                   SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS status_enum,
                   SUM(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-') THEN 1 ELSE 0 END) AS priority_format
            FROM enriched
        )
        SELECT 'pk_unique' AS "check", CAST(pk_unique AS BIGINT) AS n_violations, pk_unique = 0 AS passed FROM agg
        UNION ALL SELECT 'fk_customer', CAST(fk_customer AS BIGINT), fk_customer = 0 FROM agg
        UNION ALL SELECT 'price_non_negative', CAST(price_non_negative AS BIGINT), price_non_negative = 0 FROM agg
        UNION ALL SELECT 'status_enum', CAST(status_enum AS BIGINT), status_enum = 0 FROM agg
        UNION ALL SELECT 'priority_format', CAST(priority_format AS BIGINT), priority_format = 0 FROM agg
    """,
    description="Declarative constraint validation (operators/quality.py): key uniqueness, referential integrity (broadcast left join), non-negativity, enum membership, format regex — all violation counts in ONE aggregate pass",
)
def orders_quality_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import quality_checks

    o = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    enriched = o.join(
        F.broadcast(cust), o.o_custkey == cust.c_custkey, "left"
    )
    return quality_checks(
        enriched,
        {
            "pk_unique": F.count("*") - F.countDistinct("o_orderkey"),
            "fk_customer": F.sum(F.col("c_custkey").isNull().cast("long")),
            "price_non_negative": F.sum((F.col("o_totalprice") < 0).cast("long")),
            "status_enum": F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("long")),
            "priority_format": F.sum(
                (~F.col("o_orderpriority").rlike("^[1-5]-")).cast("long")
            ),
        },
    )


@query(
    "customer_fuzzy_name_matches",
    # Levenshtein has one standard definition — both engines agree
    # exactly; the 16-char-prefix block bounds the candidate join.
    oracle="""
        WITH b AS (
            SELECT c_custkey AS id, c_name AS name, substr(c_name, 1, 16) AS blk
            FROM customer
        )
        SELECT a.id AS id_a, b2.id AS id_b,
               CAST(levenshtein(a.name, b2.name) AS INT) AS distance
        FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
        WHERE levenshtein(a.name, b2.name) <= 1
    """,
    description="Record linkage (operators/linkage.py): blocked fuzzy matching — prefix-block equi self-join, Levenshtein <= 1 inside blocks only; the entity-table counterpart of document LSH dedup, never all-pairs",
)
def customer_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import blocked_fuzzy_pairs

    cust = _t(spark, sf_dir, "customer")
    return blocked_fuzzy_pairs(
        cust, "c_custkey", "c_name", block=F.substring("c_name", 1, 16), max_distance=1
    )


@query(
    "events_value_quartiles_by_type",
    # EXACT percentiles (linear interpolation) — one cross-engine
    # definition (SQL percentile_cont), unlike the sketch in
    # lineitem_approx_profile; rounded to 6 on both sides.
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               ROUND(quantile_cont(value, 0.25), 6) AS p25,
               ROUND(quantile_cont(value, 0.50), 6) AS p50,
               ROUND(quantile_cont(value, 0.75), 6) AS p75
        FROM events
        GROUP BY event_type
    """,
    description="Exact interpolated quartiles per group (A-family exact percentile, the deterministic complement of the GK sketch): r12-migrated onto the frequency-table decomposition (operators/quantiles.py) — one map-side-combined hash aggregate to per-(type, value) counts, quartile boundary values via rank lookups over the tiny count table, then percentile_cont's (higher-pos)*lo + (pos-lower)*hi interpolation (the positions (n-1)*k/4 and fractions rem/4 are exactly representable doubles, so the float tree matches the engine-native percentile bit-for-bit; Spark's own percentile() buffers every group's value map in ONE task's memory — the heavy-group OOM at 100 TB)",
)
def events_value_quartiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import freq_table_rank_stats
    from ..sources.catalog import load_events

    ev = load_events(spark, sf_dir)
    # 0-based percentile position pos_k = (n-1)*k/4; the boundary values
    # live at 1-based ranks floor(pos)+1 and floor(pos)+2 (the latter
    # only consulted when the fractional part rem/4 is nonzero).
    rank_exprs = {}
    for k in (1, 2, 3):
        rank_exprs[f"_q{k}_lo"] = f"((n - 1) * {k} DIV 4) + 1"
        rank_exprs[f"_q{k}_hi"] = (
            f"((n - 1) * {k} DIV 4) + 1"
            f" + CASE WHEN ((n - 1) * {k}) % 4 > 0 THEN 1 ELSE 0 END"
        )
    stats = freq_table_rank_stats(
        ev.select("event_type", "value"), "event_type", "value", rank_exprs
    )

    def interp(k: int) -> F.Column:
        # Spark Percentile.getPercentile: (higher - pos)*lo + (pos -
        # lower)*hi, lowerKey alone when pos is integral. rem/4 ∈
        # {0, .25, .5, .75} and 1 - rem/4 are exact doubles, so this
        # tree reproduces the engine-native result bit-for-bit.
        rem = F.expr(f"((n - 1) * {k}) % 4")
        frac = rem.cast("double") / F.lit(4.0)
        lo, hi = F.col(f"_q{k}_lo"), F.col(f"_q{k}_hi")
        return F.round(
            F.when(rem == 0, lo).otherwise(
                (F.lit(1.0) - frac) * lo + frac * hi
            ),
            6,
        )

    return stats.select(
        "event_type",
        "n",
        interp(1).alias("p25"),
        interp(2).alias("p50"),
        interp(3).alias("p75"),
    )


@query(
    "orders_rank_functions",
    # The full ranking-function family in one query: rank / dense_rank /
    # percent_rank / ntile over a deterministic ordering (price DESC,
    # key ASC — unique tiebreak makes every function reproducible).
    oracle="""
        WITH ranked AS (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   RANK() OVER w AS rnk,
                   DENSE_RANK() OVER w AS drnk,
                   ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
                   NTILE(4) OVER w AS quartile
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
        )
        SELECT o_custkey, o_orderkey, o_totalprice, rnk, drnk, prnk,
               CAST(quartile AS INT) AS quartile
        FROM ranked WHERE o_custkey % 50 = 0
    """,
    description="Ranking-function breadth (O-family): rank, dense_rank, percent_rank, ntile(4) per customer over a unique-tiebreak ordering; per-customer window partitions stay bounded at scale",
)
def orders_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .filter(F.col("o_custkey") % 50 == 0)
    )


@query(
    "orders_schema_evolution",
    # The staged dataset is derived deterministically from `orders` (era 1
    # = keys < the integer midpoint, WITHOUT the channel column; era 2 =
    # the rest, WITH it), so the oracle re-derives the merged read's
    # per-era profile straight from the source table: era-1 rows surface
    # NULL channels under the merged schema, era-2 rows carry the derived
    # value.
    oracle="""
        WITH bounds AS (
            SELECT MIN(o_orderkey) + (MAX(o_orderkey) - MIN(o_orderkey)) // 2 AS mid
            FROM orders
        ),
        tagged AS (
            SELECT CASE WHEN o_orderkey < mid THEN 1 ELSE 2 END AS era,
                   CASE WHEN o_orderkey < mid THEN NULL
                        ELSE 'ch_' || CAST(o_orderkey % 3 AS VARCHAR) END AS channel,
                   o_totalprice
            FROM orders, bounds
        )
        SELECT era,
               COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN channel IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_channels,
               COUNT(DISTINCT channel) AS n_channels,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
        FROM tagged
        GROUP BY era
    """,
    description="Parquet schema evolution (additive, schema-on-read): era-1 files written WITHOUT the channel column, era-2 appended WITH it, read back under mergeSchema's unified schema — era-1 rows NULL-fill, history is never rewritten (sources/evolution.py; the 100 TB alternative is a full-corpus backfill job)",
)
def orders_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..sources.evolution import append_era, read_merged

    o = _t(spark, sf_dir, "orders")
    # Integer-exact midpoint derived IN-PLAN (1-row broadcast bounds, the
    # events_scd2_incremental recipe) — era membership is a pure function
    # of the key on both engines.
    bounds = o.agg(
        F.min("o_orderkey").alias("_mn"), F.max("o_orderkey").alias("_mx")
    )
    tagged = o.crossJoin(F.broadcast(bounds)).withColumn(
        "_mid", F.expr("_mn + (_mx - _mn) div 2")
    )
    era1 = tagged.filter(F.col("o_orderkey") < F.col("_mid")).select(
        "o_orderkey", "o_totalprice"
    )
    era2 = tagged.filter(F.col("o_orderkey") >= F.col("_mid")).select(
        "o_orderkey",
        "o_totalprice",
        F.concat(F.lit("ch_"), (F.col("o_orderkey") % 3).cast("string")).alias(
            "channel"
        ),
    )
    with tempfile.TemporaryDirectory(prefix="schema_evo_", ignore_cleanup_errors=True) as stage:
        append_era(era1, stage)  # era 1: no channel column in these footers
        append_era(era2, stage)  # era 2: adds the column; era 1 untouched
        merged = read_merged(spark, stage)
        assert "channel" in merged.columns  # unified schema saw the new column
        bounds2 = merged.agg(
            F.min("o_orderkey").alias("_mn"), F.max("o_orderkey").alias("_mx")
        )
        out = (
            merged.crossJoin(F.broadcast(bounds2))
            .withColumn("_mid", F.expr("_mn + (_mx - _mn) div 2"))
            .withColumn(
                "era", F.when(F.col("o_orderkey") < F.col("_mid"), 1).otherwise(2)
            )
            .groupBy("era")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("channel").isNull().cast("long")).alias("null_channels"),
                F.count_distinct("channel").alias("n_channels"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias(
                    "total_cents"
                ),
            )
        )
        # Materialize before the staged files are removed.
        return out.localCheckpoint()


@query(
    "events_value_histogram",
    # Shared expression trees: bin index ((v-mn)*10)/(mx-mn) and bounds
    # mn + bin*((mx-mn)/10) are written with identical associativity on
    # both engines; round-6 display soak on the bounds only.
    oracle="""
        WITH stats AS (
            SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
            FROM events GROUP BY event_type
        ),
        binned AS (
            SELECT e.event_type,
                   CAST(CASE WHEN s.mx = s.mn THEN 0
                        ELSE LEAST(FLOOR((e.value - s.mn) * 10 / (s.mx - s.mn)), 9)
                   END AS INT) AS bin,
                   COUNT(*) AS n
            FROM events e JOIN stats s USING (event_type)
            GROUP BY 1, 2
        ),
        spine AS (
            SELECT event_type, mn, mx, CAST(i AS INT) AS bin
            FROM stats, UNNEST(generate_series(0, 9)) t(i)
        )
        SELECT sp.event_type, sp.bin,
               ROUND(sp.mn + sp.bin * ((sp.mx - sp.mn) / 10), 6) AS bin_lo,
               ROUND(sp.mn + (sp.bin + 1) * ((sp.mx - sp.mn) / 10), 6) AS bin_hi,
               CAST(COALESCE(b.n, 0) AS BIGINT) AS n
        FROM spine sp LEFT JOIN binned b
          ON b.event_type = sp.event_type AND b.bin = sp.bin
    """,
    description="Equi-width 10-bin value histogram per event type (distribution SHAPE, complementing the percentile sketches): group stats broadcast back, one (group,bin) aggregate, empty bins emitted via a groups x bins spine so the shape is complete (operators/quality.py value_histogram)",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import value_histogram

    return value_histogram(_t(spark, sf_dir, "events"), "event_type", "value", n_bins=10)


@query(
    "lineitem_bloom_pruned_join",
    # The Bloom stage only removes rows the join would drop anyway (no
    # false negatives), so the oracle is the PLAIN join — the equality is
    # itself the proof the pruning is sound. Revenue integerizes per row
    # (cents) before the sum, so the single output row is all-BIGINT.
    oracle="""
        SELECT COUNT(*) AS line_cnt,
               COUNT(DISTINCT l.l_orderkey) AS order_cnt,
               CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_e2
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
    """,
    description="Bloom-filter semi-join pruning: lineitem is cut map-side by a 1 MiB bit-set of the urgent-order keys BEFORE the join shuffle (the explicit form of Spark's runtime bloom filter / DPP, for build sides too big to broadcast as rows); the exact join removes false positives so the result is row-identical to the plain join (operators/bloomjoin.py)",
)
def lineitem_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bloomjoin import bloom_pruned_join

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    build = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("l_orderkey")
    )
    joined = bloom_pruned_join(l, build, "l_orderkey")
    return joined.agg(
        F.count("*").alias("line_cnt"),
        F.count_distinct("l_orderkey").alias("order_cnt"),
        F.sum(
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
        ).alias("revenue_e2"),
    )


@query(
    "orders_weekly_revenue_delta",
    # Cents integerize per row, so weekly sums, week-over-week deltas, and
    # the 4-week moving sum are exact BIGINTs in any evaluation order.
    # date_trunc('week') is Monday-based on both engines; the session is
    # UTC-pinned. The lag/moving windows run over the ALREADY-AGGREGATED
    # weekly frame (|weeks| rows, bounded by the calendar, not the data) —
    # the only data-sized operation is the one groupBy shuffle.
    oracle="""
        WITH weekly AS (
            SELECT date_trunc('week', o_orderdate) AS week,
                   CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2
            FROM orders GROUP BY 1
        )
        SELECT week, rev_e2,
               LAG(rev_e2) OVER w AS prev_e2,
               rev_e2 - LAG(rev_e2) OVER w AS delta_e2,
               CAST(SUM(rev_e2) OVER (ORDER BY week ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS mov4_e2
        FROM weekly
        WINDOW w AS (ORDER BY week)
    """,
    description="Period-over-period revenue: weekly totals (exact cents) with week-over-week delta and a 4-week moving sum — the global window is over the post-aggregation weekly frame (calendar-bounded), never the fact table",
)
def orders_weekly_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    weekly = o.groupBy(F.date_trunc("week", F.col("o_orderdate")).alias("week")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_e2")
    )
    # Weeks-of-history frame (hundreds of rows at any sf): deliberately
    # one partition; the constant key only silences the warning (r9;
    # see operators/_util.single_partition_key).
    from ..operators._util import single_partition_key

    w = Window.partitionBy(single_partition_key("week")).orderBy("week")
    return weekly.select(
        "week",
        "rev_e2",
        F.lag("rev_e2").over(w).alias("prev_e2"),
        (F.col("rev_e2") - F.lag("rev_e2").over(w)).alias("delta_e2"),
        F.sum("rev_e2").over(w.rowsBetween(-3, Window.currentRow)).alias("mov4_e2"),
    )


@query(
    "events_value_deciles",
    # NTILE over a TOTAL order (integerized value, event_id tiebreak) is
    # deterministic and both engines implement the standard
    # first-(n mod b)-buckets-get-one-extra rule; counts and BIGINT
    # bounds are exact.
    oracle="""
        WITH ranked AS (
            SELECT event_type,
                   CAST(ROUND(value * 10000) AS BIGINT) AS _ve4,
                   NTILE(10) OVER (PARTITION BY event_type
                                   ORDER BY CAST(ROUND(value * 10000) AS BIGINT), event_id) AS bucket
            FROM events
        )
        SELECT event_type, bucket,
               COUNT(*) AS n,
               MIN(_ve4) AS lo_ve4,
               MAX(_ve4) AS hi_ve4
        FROM ranked
        GROUP BY event_type, bucket
    """,
    description="Equi-DEPTH decile histogram per event type (equal population, data-driven boundaries — the skew-report dual of the equi-width histogram): r12-migrated onto the frequency-table decomposition (operators/quality.py equi_depth_histogram) — one map-side-combined hash aggregate to per-(type, value) counts, NTILE's exact rank spans resolved as rank lookups over the tiny count table; the oracle keeps the NTILE formulation as the independent derivation",
)
def events_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quality import equi_depth_histogram

    return equi_depth_histogram(
        _t(spark, sf_dir, "events"), "event_type", "value", "event_id", n_buckets=10
    )


@query(
    "customer_entity_clusters",
    # The match graph is re-derived in SQL (same blocked Levenshtein
    # pairs as customer_fuzzy_name_matches) and closed transitively with
    # the proven recursive-CTE min-label form; singletons fall out of the
    # left join. Matching is symmetric but NOT transitive, so the
    # closure IS the entity semantics being checked.
    oracle="""
        WITH RECURSIVE b AS (
            SELECT c_custkey AS id, c_name AS name, substr(c_name, 1, 17) AS blk
            FROM customer
        ),
        pairs AS (
            SELECT a.id AS id_a, b2.id AS id_b
            FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id
            WHERE levenshtein(a.name, b2.name) <= 1
        ),
        sym AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION
            SELECT id_b AS u, id_a AS v FROM pairs
        ),
        walk(id, label) AS (
            SELECT u, u FROM (SELECT DISTINCT u FROM sym)
            UNION
            SELECT s.v, w.label FROM walk w JOIN sym s ON s.u = w.id
        ),
        comp AS (SELECT id, MIN(label) AS component FROM walk GROUP BY id),
        assigned AS (
            SELECT c.c_custkey AS id,
                   COALESCE(cp.component, c.c_custkey) AS entity_id
            FROM customer c LEFT JOIN comp cp ON cp.id = c.c_custkey
        )
        SELECT a.id, a.entity_id, s.cluster_size
        FROM assigned a
        JOIN (SELECT entity_id, COUNT(*) AS cluster_size
              FROM assigned GROUP BY entity_id) s USING (entity_id)
    """,
    description="End-to-end entity resolution (operators/linkage.py entity_clusters): blocked fuzzy pairs -> connected components over the match subgraph (matching is symmetric but not transitive; the closure IS the entity semantics) -> canonical min-id entity + cluster size per record, singletons included",
)
def customer_entity_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.linkage import entity_clusters

    # Block on the 17-char prefix (vs 16 in customer_fuzzy_name_matches):
    # the fixture's sequential names put EVERY record within distance 1 of
    # ~9 others at prefix-16 (135k edges on 15k records at sf0.1 — an
    # adversarial density no real entity table has); prefix-17 models
    # realistic duplicate density (67k pairs, clique-shaped components)
    # and keeps the CC loop's round count flat.
    return entity_clusters(
        _t(spark, sf_dir, "customer"),
        "c_custkey",
        "c_name",
        block=F.substring("c_name", 1, 17),
        max_distance=1,
    )


@query(
    "orders_merge_change_feed",
    # Same deterministic CDC batch as orders_merge_upsert; the feed types
    # each row by what ACTUALLY happened against the snapshot (a claimed
    # U on an unmatched key is an insert; a D on an unmatched key emits
    # nothing). To exercise those reclassification branches the batch
    # adds a U and a D under never-existing keys.
    oracle="""
        WITH base AS (
            SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        ),
        changes AS (
            SELECT o_orderkey, 'U' AS op, o_totalprice + 1.0 AS o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey, 'D', o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 7 <> 0 AND o_orderkey % 11 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, 'I', o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 13 = 0
            UNION ALL
            SELECT o_orderkey + 20000000, 'U', o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 17 = 0
            UNION ALL
            SELECT o_orderkey + 30000000, 'D', o_totalprice, o_orderpriority
            FROM base WHERE o_orderkey % 19 = 0
        ),
        feed AS (
            SELECT c.o_orderkey,
                   CASE WHEN b.o_orderkey IS NOT NULL AND c.op = 'D' THEN 'delete'
                        WHEN b.o_orderkey IS NOT NULL THEN 'update'
                        WHEN c.op <> 'D' THEN 'insert'
                   END AS change_type,
                   b.o_totalprice AS b_price, b.o_orderpriority AS b_prio,
                   c.o_totalprice AS c_price, c.o_orderpriority AS c_prio
            FROM changes c LEFT JOIN base b ON c.o_orderkey = b.o_orderkey
        )
        SELECT o_orderkey, change_type,
               CASE WHEN change_type <> 'insert' THEN b_price END AS before_o_totalprice,
               CASE WHEN change_type <> 'insert' THEN b_prio END AS before_o_orderpriority,
               CASE WHEN change_type <> 'delete' THEN c_price END AS after_o_totalprice,
               CASE WHEN change_type <> 'delete' THEN c_prio END AS after_o_orderpriority
        FROM feed WHERE change_type IS NOT NULL
    """,
    description="MERGE change data feed (operators/merge.py merge_change_feed): one batch-against-snapshot join emits effect-typed change rows (insert/update/delete with before/after values, unmatched deletes dropped, unmatched updates reclassified as inserts) — the change-batch-sized artifact downstream incremental consumers fold instead of diffing corpus-sized snapshots",
)
def orders_merge_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import merge_change_feed

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    updates = base.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey", F.lit("U").alias("op"),
        (F.col("o_totalprice") + 1.0).alias("o_totalprice"), "o_orderpriority",
    )
    deletes = base.filter(
        (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 11 == 0)
    ).select("o_orderkey", F.lit("D").alias("op"), "o_totalprice", "o_orderpriority")
    inserts = base.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"), "o_totalprice", "o_orderpriority",
    )
    phantom_updates = base.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 20_000_000).alias("o_orderkey"),
        F.lit("U").alias("op"), "o_totalprice", "o_orderpriority",
    )
    phantom_deletes = base.filter(F.col("o_orderkey") % 19 == 0).select(
        (F.col("o_orderkey") + 30_000_000).alias("o_orderkey"),
        F.lit("D").alias("op"), "o_totalprice", "o_orderpriority",
    )
    changes = (
        updates.unionByName(deletes).unionByName(inserts)
        .unionByName(phantom_updates).unionByName(phantom_deletes)
    )
    return merge_change_feed(base, changes, key="o_orderkey")


@query(
    "revenue_cube",
    # CUBE = all four grouping sets over (nation, order year). NULL is
    # ambiguous in cube output (a rolled-up level vs a NULL key), so both
    # engines emit the per-column GROUPING flags and the comparator hashes
    # them; revenue is an exact integer-cents SUM (BIGINT both sides).
    oracle="""
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INT) AS o_year,
               CAST(GROUPING(n.n_name) AS INT) AS g_nation,
               CAST(GROUPING(EXTRACT(year FROM o.o_orderdate)) AS INT) AS g_year,
               CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2,
               COUNT(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY CUBE (n.n_name, EXTRACT(year FROM o.o_orderdate))
    """,
    description="CUBE lattice (nation x order-year, all four grouping sets in one pass): Spark Expand + single hash aggregate with map-side partials, per-column GROUPING flags disambiguating rolled-up NULLs, broadcast dimension joins, exact integer-cents revenue — beyond-reference OLAP (SURVEY §2.4 note, the rollup/pivot family's third member)",
)
def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pre = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("_e2"),
        )
    )
    return pre.cube("nation", "o_year").agg(
        F.grouping("nation").cast("int").alias("g_nation"),
        F.grouping("o_year").cast("int").alias("g_year"),
        F.sum("_e2").alias("rev_e2"),
        F.count("*").alias("n_orders"),
    ).select("nation", "o_year", "g_nation", "g_year", "rev_e2", "n_orders")


@query(
    "orders_grouping_sets",
    # GROUPING SETS — the fourth member of the rollup/pivot/cube family
    # (r10): two dimension hierarchies (status, priority) sharing a time
    # axis in ONE pass, a lattice neither CUBE nor ROLLUP can express
    # (CUBE would add the never-consumed status x priority cross terms;
    # ROLLUP only nests). Same physical shape as revenue_cube: one Expand
    # + one hash aggregate with map-side partials; GROUPING flags
    # disambiguate rolled-up NULLs; revenue is exact integer cents.
    oracle="""
        SELECT o_orderstatus, o_orderpriority,
               CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               CAST(GROUPING(EXTRACT(year FROM o_orderdate)) AS INT) AS g_year,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2,
               COUNT(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS (
            (o_orderstatus, EXTRACT(year FROM o_orderdate)),
            (o_orderpriority, EXTRACT(year FROM o_orderdate)),
            (EXTRACT(year FROM o_orderdate)),
            ()
        )
    """,
    description="GROUPING SETS lattice (status x year + priority x year + year + grand total in ONE Expand + single hash aggregate): the mixed-hierarchy rollup CUBE/ROLLUP can't express without waste, with GROUPING flags and exact integer-cents revenue — completes the rollup/pivot/cube/sets family",
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("_e2"),
    )
    return (
        o.groupingSets(
            [
                ["o_orderstatus", "o_year"],
                ["o_orderpriority", "o_year"],
                ["o_year"],
                [],
            ],
            "o_orderstatus",
            "o_orderpriority",
            "o_year",
        )
        .agg(
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
            F.grouping("o_year").cast("int").alias("g_year"),
            F.sum("_e2").alias("rev_e2"),
            F.count("*").alias("n_orders"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "o_year",
            "g_status", "g_priority", "g_year", "rev_e2", "n_orders",
        )
    )


@query(
    "customer_rfm_segments",
    # RFM segmentation (the classic lifecycle-marketing cut, and a stock
    # feature-engineering pass): quartile scores for Recency / Frequency
    # / Monetary per customer, assigned WITHIN the customer's market
    # segment (the per-key partitioning that keeps the rank windows
    # parallel at scale — a global NTILE would be one full sort on one
    # task). Score 1 is always BEST (most recent / most orders / highest
    # spend). NTILE is pure rank arithmetic — identical cross-engine once
    # the ORDER BY carries a full tiebreak (custkey). The recency anchor
    # is the corpus' own max order date (deterministic, no wall clock).
    oracle="""
        WITH cust AS (
            SELECT c.c_mktsegment,
                   c.c_custkey,
                   date_diff('day', CAST(MAX(o.o_orderdate) AS DATE),
                             (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)) AS rec_days,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon_e2
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        scored AS (
            SELECT c_mktsegment,
                   NTILE(4) OVER (PARTITION BY c_mktsegment
                                  ORDER BY rec_days ASC, c_custkey ASC) AS r_score,
                   NTILE(4) OVER (PARTITION BY c_mktsegment
                                  ORDER BY n_orders DESC, c_custkey ASC) AS f_score,
                   NTILE(4) OVER (PARTITION BY c_mktsegment
                                  ORDER BY mon_e2 DESC, c_custkey ASC) AS m_score,
                   mon_e2
            FROM cust
        )
        SELECT c_mktsegment, r_score, f_score, m_score,
               COUNT(*) AS n_customers,
               CAST(SUM(mon_e2) AS BIGINT) AS monetary_e2
        FROM scored GROUP BY 1, 2, 3, 4
    """,
    description="RFM segmentation: per-customer recency/frequency/monetary quartiles via NTILE windows PARTITIONED by market segment (rank windows stay parallel at scale; a global NTILE = one full sort on one task), deterministic custkey tiebreaks, exact integer-cents monetary, rolled up to segment cells",
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    anchor = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("_anchor"))
    cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("_last"),
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("mon_e2"),
        )
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .crossJoin(F.broadcast(anchor))
        .select(
            "c_mktsegment",
            "c_custkey",
            F.datediff("_anchor", "_last").alias("rec_days"),
            "n_orders",
            "mon_e2",
        )
    )
    seg = Window.partitionBy("c_mktsegment")
    scored = cust.select(
        "c_mktsegment",
        F.ntile(4).over(seg.orderBy(F.asc("rec_days"), F.asc("c_custkey"))).alias("r_score"),
        F.ntile(4).over(seg.orderBy(F.desc("n_orders"), F.asc("c_custkey"))).alias("f_score"),
        F.ntile(4).over(seg.orderBy(F.desc("mon_e2"), F.asc("c_custkey"))).alias("m_score"),
        "mon_e2",
    )
    return scored.groupBy("c_mktsegment", "r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.sum("mon_e2").alias("monetary_e2"),
    )


# Shared verbatim by the Spark plan (F.expr) and the DuckDB oracle: the
# Gini coefficient in ppm from the three exact-BIGINT sufficient
# statistics (n, s_x = Σ revenue, s_ixi = Σ rank·revenue over ascending
# revenue with a custkey tiebreak):  G = (2·Σ(i·x) − (n+1)·Σx)/(n·Σx).
# All float math happens in ONE identical expression tree over identical
# integer inputs (the bm25 recipe), so the double result — and the
# FLOOR(…+0.5) half-up ppm — is bit-identical cross-engine at any SF
# (doubles don't overflow where a ×1e6 BIGINT path would near sf100).
GINI_PPM_SQL = (
    "CAST(FLOOR((2.0 * CAST(s_ixi AS DOUBLE)"
    " - (CAST(n AS DOUBLE) + 1.0) * CAST(s_x AS DOUBLE))"
    " * 1000000.0 / (CAST(n AS DOUBLE) * CAST(s_x AS DOUBLE))"
    " + 0.5) AS BIGINT)"
)


@query(
    "revenue_gini_by_nation",
    # Revenue-concentration (inequality) profile: the Gini coefficient of
    # per-customer revenue within each nation — the standard "is this
    # market whale-dominated?" statistic for segmentation and risk.
    # Customers with zero orders are out of scope (revenue distribution
    # over ACTIVE customers; documented, matched by the inner join both
    # sides).
    oracle=f"""
        WITH cust AS (
            SELECT c.c_nationkey,
                   o.o_custkey,
                   CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_e2
            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
            GROUP BY 1, 2
        ),
        ranked AS (
            SELECT c_nationkey, rev_e2,
                   ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                      ORDER BY rev_e2 ASC, o_custkey ASC) AS i
            FROM cust
        ),
        stats AS (
            SELECT c_nationkey, COUNT(*) AS n,
                   CAST(SUM(rev_e2) AS BIGINT) AS s_x,
                   CAST(SUM(i * rev_e2) AS BIGINT) AS s_ixi
            FROM ranked GROUP BY 1
        )
        SELECT nt.n_name AS nation, s.n AS n_customers, s.s_x AS revenue_e2,
               {GINI_PPM_SQL} AS gini_ppm
        FROM stats s JOIN nation nt ON s.c_nationkey = nt.n_nationkey
    """,
    description="Per-nation Gini coefficient of customer revenue (whale-concentration audit): exact BIGINT sufficient statistics (rank-weighted revenue sums over a nation-PARTITIONED row_number — per-key parallel, no global sort), finalized by one shared double expression tree (ppm, bit-identical cross-engine)",
)
def revenue_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("rev_e2"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select("c_nationkey", "o_custkey", "rev_e2")
    )
    w = Window.partitionBy("c_nationkey").orderBy(F.asc("rev_e2"), F.asc("o_custkey"))
    ranked = cust.select(
        "c_nationkey", "rev_e2", F.row_number().over(w).alias("i")
    )
    stats = ranked.groupBy("c_nationkey").agg(
        F.count("*").alias("n"),
        F.sum("rev_e2").alias("s_x"),
        F.sum(F.col("i") * F.col("rev_e2")).alias("s_ixi"),
    )
    return stats.join(F.broadcast(n), stats.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("n").alias("n_customers"),
        F.col("s_x").alias("revenue_e2"),
        F.expr(GINI_PPM_SQL).alias("gini_ppm"),
    )


@query(
    "parts_pareto_frontier",
    # 2D Pareto frontier (skyline) per brand: the cheapest-for-the-size
    # parts — every (price, size) point not dominated by another point
    # that is at-most-as-expensive AND at-least-as-big (strict somewhere).
    # The oracle states dominance directly (NOT EXISTS — quadratic, fine
    # at oracle scale); the Spark plan is the LINEAR sweep: distinct
    # points sorted (price ASC, size DESC) within brand — a point is on
    # the frontier iff its size strictly exceeds the running max size of
    # all earlier points (every dominator sorts strictly earlier, and any
    # earlier point with size >= current dominates).
    oracle="""
        WITH pts AS (
            SELECT p_brand,
                   CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_e2,
                   CAST(p_size AS INT) AS p_size,
                   COUNT(*) AS n_parts
            FROM part
            WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
            GROUP BY 1, 2, 3
        )
        SELECT a.p_brand, a.price_e2, a.p_size, a.n_parts
        FROM pts a
        WHERE NOT EXISTS (
            SELECT 1 FROM pts b
            WHERE b.p_brand = a.p_brand
              AND b.price_e2 <= a.price_e2 AND b.p_size >= a.p_size
              AND (b.price_e2 < a.price_e2 OR b.p_size > a.p_size)
        )
    """,
    description="Per-brand 2D Pareto frontier (skyline: min price, max size): one distinct-point aggregate + one brand-PARTITIONED window sweep (running max over strictly preceding rows in (price ASC, size DESC) order) — linear where the naive dominance join is quadratic; oracle states dominance directly via NOT EXISTS",
)
def parts_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull())
        .groupBy(
            "p_brand",
            F.round(F.col("p_retailprice") * 100).cast("long").alias("price_e2"),
            F.col("p_size").cast("int").alias("p_size"),
        )
        .agg(F.count("*").alias("n_parts"))
    )
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.asc("price_e2"), F.desc("p_size"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    swept = p.select(
        "p_brand", "price_e2", "p_size", "n_parts",
        F.max("p_size").over(w).alias("_pm"),
    )
    return swept.filter(
        F.col("_pm").isNull() | (F.col("p_size") > F.col("_pm"))
    ).select("p_brand", "price_e2", "p_size", "n_parts")


@query(
    "customer_cohort_ltv",
    # Cohort lifetime-value curve — the standard retention-economics cut
    # ("how does revenue accumulate by months since acquisition, per
    # acquisition cohort"): cohort = month of the customer's FIRST order,
    # age = month distance of each order from it (exact integer
    # year*12+month arithmetic on both engines), cumulative revenue via
    # one cohort-partitioned running sum over the tiny cohort x age grid.
    oracle="""
        WITH firsts AS (
            SELECT o_custkey,
                   MIN(EXTRACT(year FROM o_orderdate) * 12
                       + EXTRACT(month FROM o_orderdate)) AS m0
            FROM orders GROUP BY 1
        ),
        aged AS (
            SELECT f.m0,
                   (EXTRACT(year FROM o.o_orderdate) * 12
                    + EXTRACT(month FROM o.o_orderdate)) - f.m0 AS age_months,
                   o.o_custkey,
                   CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS rev_e2
            FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
        ),
        cells AS (
            SELECT CAST(((m0 - 1) // 12) * 100
                   + ((m0 - 1) % 12 + 1) AS BIGINT) AS cohort_ym,
                   CAST(age_months AS BIGINT) AS age_months,
                   COUNT(DISTINCT o_custkey) AS n_active,
                   CAST(SUM(rev_e2) AS BIGINT) AS revenue_e2
            FROM aged GROUP BY 1, 2
        )
        SELECT cohort_ym, age_months, n_active, revenue_e2,
               CAST(SUM(revenue_e2) OVER (PARTITION BY cohort_ym ORDER BY age_months
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS cum_revenue_e2
        FROM cells
    """,
    description="Cohort LTV curve (revenue accumulation by months-since-first-order per acquisition cohort): per-customer first-month aggregate joined back on the customer key, exact integer month arithmetic and cents, one cohort-partitioned running sum over the cohort x age grid (tiny — the corpus never enters a window)",
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("_m"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("rev_e2"),
    )
    firsts = o.groupBy("o_custkey").agg(F.min("_m").alias("m0"))
    aged = o.join(firsts, "o_custkey").select(
        (
            F.call_function("div", F.col("m0") - 1, F.lit(12)).cast("long") * 100
            + ((F.col("m0") - 1) % 12 + 1)
        ).cast("long").alias("cohort_ym"),
        (F.col("_m") - F.col("m0")).cast("long").alias("age_months"),
        "o_custkey",
        "rev_e2",
    )
    cells = aged.groupBy("cohort_ym", "age_months").agg(
        F.countDistinct("o_custkey").alias("n_active"),
        F.sum("rev_e2").alias("revenue_e2"),
    )
    w = (
        Window.partitionBy("cohort_ym")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return cells.select(
        "cohort_ym",
        "age_months",
        "n_active",
        "revenue_e2",
        F.sum("revenue_e2").over(w).alias("cum_revenue_e2"),
    )


# Shared verbatim by the Spark plan and the oracle: Herfindahl–Hirschman
# concentration in ppm from two exact BIGINT sufficient statistics
# (s_sq = Σ supplier-revenue², s_tot = Σ supplier-revenue, in whole
# DOLLARS — cents would push Σs² past 2^63 ~100x sooner). One identical
# double tree -> bit-identical cross-engine. Headroom: Σs² in dollars
# stays under 2^63 to ~sf10 on this schema; rescale the unit (the
# documented knob, same contract as the trend stats) beyond.
HHI_PPM_SQL = (
    "CAST(FLOOR(CAST(s_sq AS DOUBLE) * 1000000.0"
    " / (CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE)) + 0.5) AS BIGINT)"
)


def hhi_finalize(per_member: DataFrame, group_col: str, rev_col: str) -> DataFrame:
    """Shared HHI sufficient-statistics aggregate with the ENFORCED Σs²
    headroom guard (r10 handoff item, mirroring `trend_sufficient_stats`):
    from a per-(group, member) revenue frame, produce
    (group, n_suppliers, s_sq, s_tot) for groups with positive total —
    raising loudly via :func:`sum_sq_overflow_guard` when any group's
    n·max|rev|² could pass 2^63, instead of returning silently-wrapped
    statistics. The unit knob is the remediation: whole dollars hold to
    ~sf10 on this schema; rescale to thousands beyond."""
    from ..operators._util import sum_sq_overflow_guard

    stats = per_member.groupBy(group_col).agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col(rev_col) * F.col(rev_col)).alias("s_sq"),
        F.sum(rev_col).alias("s_tot"),
        F.max(F.abs(F.col(rev_col))).alias("_mr"),
    )
    guarded = stats.select(
        group_col,
        sum_sq_overflow_guard(
            "n_suppliers",
            "_mr",
            opname="hhi_finalize",
            remediation=(
                "rescale the revenue unit (whole dollars hold to ~sf10; "
                "use thousands beyond) before the sum-of-squares"
            ),
            group_col=group_col,
        ),
        "s_sq",
        "s_tot",
    )
    return guarded.filter(F.col("s_tot") > 0)


@query(
    "supplier_hhi_by_parttype",
    # Market-concentration audit: the Herfindahl–Hirschman index of
    # supplier revenue share within each part type — 1e6 = monopoly,
    # 1e6/n = perfectly even over n suppliers. The anti-trust/sourcing
    # -risk statistic, and the squared-share twin of the Gini query.
    oracle=f"""
        WITH s AS (
            SELECT p.p_type, l.l_suppkey,
                   CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount))
                                 AS BIGINT)) AS BIGINT) AS rev
            FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
            GROUP BY 1, 2
        ),
        stats AS (
            SELECT p_type,
                   COUNT(*) AS n_suppliers,
                   CAST(SUM(rev * rev) AS BIGINT) AS s_sq,
                   CAST(SUM(rev) AS BIGINT) AS s_tot
            FROM s GROUP BY 1
        )
        SELECT p_type, n_suppliers, s_tot AS revenue_usd,
               {HHI_PPM_SQL} AS hhi_ppm
        FROM stats WHERE s_tot > 0
    """,
    description="Supplier-concentration HHI per part type (sourcing-risk / anti-trust audit, the squared-share twin of the Gini query): per-(type, supplier) revenue pre-aggregate in whole dollars (broadcast part dim), exact BIGINT sum-of-squares statistics, one shared double tree for the ppm finalize — two hash aggregates, no window",
)
def supplier_hhi_by_parttype(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("long")
        .alias("_usd"),
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    s = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(F.sum("_usd").alias("rev"))
    )
    return hhi_finalize(s, group_col="p_type", rev_col="rev").select(
        "p_type",
        "n_suppliers",
        F.col("s_tot").alias("revenue_usd"),
        F.expr(HHI_PPM_SQL).alias("hhi_ppm"),
    )


@query(
    "orders_priority_mix_drift",
    # Distribution-drift audit: how far each month's order-priority MIX
    # deviates from the all-time mix, as an L1 distance in ppm — the
    # seasonality / data-quality probe ("did priority logging change in
    # month X"). Pure cross-multiplied integers: |c_mp·n − c_p·n_m| is
    # exact BIGINT (no per-month ratio rounding compounds), and the ONE
    # division is the shared round-half-up BIGINT finalize. Shape: two
    # tiny hash aggregates (months × priorities) over one orders scan —
    # the priority and global marginals re-join on broadcastable sides.
    oracle="""
        WITH mp AS (
            SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderpriority AS pri,
                   COUNT(*) AS c_mp
            FROM orders GROUP BY 1, 2
        ),
        m AS (SELECT ym, CAST(SUM(c_mp) AS BIGINT) AS n_m FROM mp GROUP BY ym),
        p AS (SELECT pri, CAST(SUM(c_mp) AS BIGINT) AS c_p FROM mp GROUP BY pri),
        tot AS (SELECT CAST(SUM(c_mp) AS BIGINT) AS n FROM mp),
        dev AS (
            -- FULL month x priority grid: a month missing a priority
            -- entirely is exactly the drift signal (deviation c_p*n_m),
            -- so unobserved cells must contribute, not vanish in a join.
            SELECT m.ym,
                   ABS(COALESCE(mp.c_mp, 0) * tot.n - p.c_p * m.n_m) AS num,
                   m.n_m, tot.n
            FROM m CROSS JOIN p
            LEFT JOIN mp ON mp.ym = m.ym AND mp.pri = p.pri
            CROSS JOIN tot
        )
        SELECT ym AS order_month,
               CAST(MAX(n_m) AS BIGINT) AS n_orders,
               CAST((2000000 * CAST(SUM(num) AS BIGINT) + MAX(n_m) * MAX(n))
                    // (2 * MAX(n_m) * MAX(n)) AS BIGINT) AS drift_ppm
        FROM dev GROUP BY ym
    """,
    description="Monthly order-priority mix drift vs the all-time mix (L1 distance in ppm — the 'did logging change in month X' seasonality/data-quality audit): one orders scan, (month x priority) hash aggregate, broadcast month/priority/global marginals re-joined, cross-multiplied exact-BIGINT deviations with ONE round-half-up integer division at the end",
)
def orders_priority_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.col("o_orderpriority").alias("pri"),
    )
    mp = o.groupBy("ym", "pri").agg(F.count("*").alias("c_mp"))
    mp = mp.localCheckpoint(eager=False)  # 3 consumers: dev + both marginals
    m = mp.groupBy("ym").agg(F.sum("c_mp").alias("n_m"))
    p = mp.groupBy("pri").agg(F.sum("c_mp").alias("c_p"))
    tot = mp.agg(F.sum("c_mp").alias("n"))
    # Full month x priority grid (tiny: months x 5): a month missing a
    # priority entirely contributes its full expected mass to the drift —
    # the vanished-category case is the one this audit exists to catch.
    dev = (
        m.crossJoin(F.broadcast(p))
        .join(mp, ["ym", "pri"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "ym",
            F.abs(
                F.coalesce(F.col("c_mp"), F.lit(0)) * F.col("n")
                - F.col("c_p") * F.col("n_m")
            ).alias("num"),
            "n_m",
            "n",
        )
    )
    agg = dev.groupBy("ym").agg(
        F.col("ym").alias("order_month"),
        F.max("n_m").cast("long").alias("n_orders"),
        F.max("n").alias("_n"),
        F.expr(
            "CAST((2000000 * SUM(num) + MAX(n_m) * MAX(n))"
            " DIV (2 * MAX(n_m) * MAX(n)) AS BIGINT)"
        ).alias("drift_ppm"),
    )
    # Enforced headroom (the r11 guard family, threshold fixed in r12):
    # every deviation term is bounded by n·n_m (c_mp ≤ n_m, c_p ≤ n) and
    # SUM(num) over the priorities is bounded by 2·n·n_m, so the ppm
    # finalize's numerator 2000000·SUM(num) + n_m·n reaches ~4e6·n·n_m —
    # THAT product is the wrap point (n_m·n ≳ 2.3e12, e.g. a 1e6-row
    # month in a 2.3e6-order corpus region at extreme skew), ~4e6× below
    # the raw per-row-deviation bound the guard previously enforced.
    # `finalize_multiplier` scales the guarded bound to the finalize.
    from ..operators._util import product_overflow_guard

    return agg.select(
        "order_month",
        product_overflow_guard(
            "n_orders",
            "_n",
            opname="orders_priority_mix_drift",
            remediation="pre-scale the counts (divide c/n/n_m by a common"
            " 10^k before the cross-multiplication; shares are"
            " scale-invariant) or compute the shares in DOUBLE",
            group_col="order_month",
            # numerator ≤ 2e6·(2·n_m·n) + n_m·n = (4e6 + 1)·n_m·n
            finalize_multiplier=4.0e6 + 1.0,
        ),
        "drift_ppm",
    )


@query(
    "lineitem_ship_lag_profile",
    # Order-to-ship latency profile: days from order date to each line
    # item's ship date, summarized per return flag with RANK-EXACT
    # median/p90 (values at ranks ceil(n/2)/ceil(9n/10) under a total
    # (lag, orderkey, linenumber) order — the winsorize recipe, no
    # interpolated-percentile float boundary). The orders⋈lineitem join
    # is the fixture's biggest fact-fact join: both sides shuffle on
    # l_orderkey/o_orderkey (no broadcast — both grow with SF), then the
    # frequency-table rank decomposition over the tiny (flag, lag) count
    # table (the oracle keeps the ROW_NUMBER form — independent).
    oracle="""
        WITH lag_days AS (
            SELECT l.l_returnflag AS flag,
                   date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) AS lag,
                   l.l_orderkey, l.l_linenumber
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        ranked AS (
            SELECT flag, lag,
                   ROW_NUMBER() OVER (PARTITION BY flag
                                      ORDER BY lag, l_orderkey, l_linenumber) AS rn,
                   COUNT(*) OVER (PARTITION BY flag) AS n
            FROM lag_days
        )
        SELECT flag AS l_returnflag,
               CAST(MAX(n) AS BIGINT) AS n_items,
               CAST(MIN(lag) AS BIGINT) AS min_days,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN CAST(lag AS BIGINT) END) AS median_days,
               MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN CAST(lag AS BIGINT) END) AS p90_days,
               CAST(MAX(lag) AS BIGINT) AS max_days
        FROM ranked GROUP BY flag
    """,
    description="Order-to-ship lag profile per return flag (fulfillment-latency audit over the fixture's biggest fact-fact join): orders⋈lineitem shuffled on the order key (both sides scale with SF — no broadcast), integer day lags, rank-exact median/p90 via the frequency-table decomposition (operators/quantiles.py — one map-side-combined hash aggregate, windows only over the tiny count table; the oracle's ROW_NUMBER formulation is an independent derivation)",
)
def lineitem_ship_lag_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", F.to_date("l_shipdate").alias("sd")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    lags = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff("sd", "od").cast("long").alias("lag"),
    )
    # The lag DOMAIN is small (bounded shipping-policy days), so the
    # rank-exact quantiles come from the frequency-table decomposition
    # (operators/quantiles.py) — the only corpus-sized operators are the
    # join and one map-side-combined hash aggregate; never a per-flag
    # single-task rank sort. The oracle keeps the ROW_NUMBER
    # formulation — an independent derivation of the same statistics.
    from ..operators.quantiles import freq_table_rank_stats

    stats = freq_table_rank_stats(
        lags,
        group_col="flag",
        value_col="lag",
        rank_exprs={
            "median_days": "(n + 1) DIV 2",
            "p90_days": "(n * 9 + 9) DIV 10",
        },
        extra_aggs={"min_days": F.min("v"), "max_days": F.max("v")},
    )
    return stats.select(
        F.col("flag").alias("l_returnflag"),
        F.col("n").alias("n_items"),
        "min_days",
        "median_days",
        "p90_days",
        "max_days",
    )


@query(
    "orders_customer_order_gaps",
    # Inter-purchase cadence per market segment: the gap in days between
    # each customer's consecutive orders (ties broken by order key so
    # same-day orders rank deterministically), profiled per segment with
    # rank-exact median/p90. The per-customer lag window partitions on
    # millions of customers (natural parallelism — no hot key), and only
    # the tiny per-segment profile window is low-cardinality.
    oracle="""
        WITH seq AS (
            SELECT o.o_custkey,
                   date_diff('day',
                       LAG(CAST(o.o_orderdate AS DATE)) OVER (
                           PARTITION BY o.o_custkey
                           ORDER BY CAST(o.o_orderdate AS DATE), o.o_orderkey),
                       CAST(o.o_orderdate AS DATE)) AS gap,
                   o.o_orderkey
            FROM orders o
        ),
        gaps AS (
            SELECT c.c_mktsegment AS seg, s.gap, s.o_orderkey
            FROM seq s JOIN customer c ON s.o_custkey = c.c_custkey
            WHERE s.gap IS NOT NULL
        ),
        ranked AS (
            SELECT seg, gap,
                   ROW_NUMBER() OVER (PARTITION BY seg ORDER BY gap, o_orderkey) AS rn,
                   COUNT(*) OVER (PARTITION BY seg) AS n
            FROM gaps
        )
        SELECT seg AS c_mktsegment,
               CAST(MAX(n) AS BIGINT) AS n_gaps,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN CAST(gap AS BIGINT) END) AS median_gap_days,
               MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN CAST(gap AS BIGINT) END) AS p90_gap_days
        FROM ranked GROUP BY seg
    """,
    description="Inter-order gap profile per market segment (purchase-cadence analytics): per-customer LAG window over order dates (millions of partitions — natural parallelism), broadcast customer-dim join for the segment, rank-exact median/p90 via the frequency-table decomposition over the tiny (segment, gap) count table (operators/quantiles.py)",
)
def orders_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    wc = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    seq = o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff("od", F.lag("od").over(wc)).cast("long").alias("gap"),
    ).filter(F.col("gap").isNotNull())
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    gaps = seq.join(F.broadcast(c), seq.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "gap"
    )
    # Small gap domain (days) -> the frequency-table rank decomposition
    # (operators/quantiles.py), never a corpus-sized 5-partition rank
    # window; the oracle keeps the independent ROW_NUMBER formulation.
    from ..operators.quantiles import freq_table_rank_stats

    stats = freq_table_rank_stats(
        gaps,
        group_col="seg",
        value_col="gap",
        rank_exprs={
            "median_gap_days": "(n + 1) DIV 2",
            "p90_gap_days": "(n * 9 + 9) DIV 10",
        },
    )
    return stats.select(
        F.col("seg").alias("c_mktsegment"),
        F.col("n").alias("n_gaps"),
        "median_gap_days",
        "p90_gap_days",
    )
