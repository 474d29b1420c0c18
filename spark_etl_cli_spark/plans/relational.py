"""Relational query coverage (SURVEY.md §2d matrix).

Every capability the reference reaches through its ``sql://`` transform
(reference ``core/.../TransformerParser.scala:22-31``), expressed with
the idiomatic DataFrame API so Catalyst plans it: scans, filters,
projections, every join family (equi/broadcast/semi/anti/theta/range/
as-of), aggregation (hash, distinct, rollup/cube/grouping sets, pivot,
conditional), window functions (ranking, running frames, lag), top-k,
set operations, scalar function families (string/date/json), and
subquery patterns.

Scale notes are inline per query — which side broadcasts, where the
shuffles are, why the plan holds at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from spark_etl_cli_spark.plans.registry import (
    SQL_CHARGE,
    SQL_DAVG,
    SQL_DSUM,
    SQL_REV,
    SQL_XSUM,
    bcount,
    charge_col,
    davg,
    dec,
    dsum,
    events,
    query,
    rev_col,
    t,
    xsum,
)
from spark_etl_cli_spark.session import local_frame

DEC = T.DecimalType(18, 4)


# --- q01: TPC-H Q1-style pricing summary (flagship) -------------------
# One scan + one partial-agg/final-agg pair; 6 output groups. At 100 TB
# the map-side combine reduces each partition to ≤6 rows before the
# shuffle — the canonical "aggregate early" plan. The shipdate filter
# stays at the scan (PushedFilters); fan_out AFTER it spreads the
# decimal-heavy partial aggregation when the input arrives in fewer
# partitions than cores (the single-row-group local file serialized
# the whole 8-sum decimal pipeline onto one task — measured 2.5 s ->
# 1.0 s), and is a no-op on any scan that is already wide; only the 6
# aggregation inputs cross the spread exchange (guide §2.3).
@query(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_DSUM("l_quantity", "sum_qty")},
           {SQL_DSUM("l_extendedprice", "sum_base_price")},
           {SQL_XSUM(SQL_REV, "sum_disc_price")},
           {SQL_XSUM(SQL_CHARGE, "sum_charge")},
           {SQL_DAVG("l_quantity", "avg_qty")},
           {SQL_DAVG("l_extendedprice", "avg_price")},
           {SQL_DAVG("l_discount", "avg_disc")},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01_pricing_summary(spark, sf_dir):
    from spark_etl_cli_spark.operators.util import fan_out

    li = fan_out(
        t(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_shipdate") <= F.lit("2001-06-01").cast("timestamp")
        )
        .select(
            "l_returnflag", "l_linestatus", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        )
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity"), "sum_qty"),
        dsum(F.col("l_extendedprice"), "sum_base_price"),
        xsum(rev_col(), "sum_disc_price"),
        xsum(charge_col(), "sum_charge"),
        davg(F.col("l_quantity"), "avg_qty"),
        davg(F.col("l_extendedprice"), "avg_price"),
        davg(F.col("l_discount"), "avg_disc"),
        bcount("count_order"),
    )


# --- q02: selective filter + projection (pushdown showcase) -----------
# Predicate and 4-column projection both reach the parquet scan
# (PushedFilters/ReadSchema in explain); no shuffle at all.
@query(
    "q02_filter_pushdown",
    oracle="""
    SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1999-01-01'
      AND l_shipdate <  TIMESTAMP '1999-04-01'
      AND l_quantity < 5
    """,
)
def q02_filter_pushdown(spark, sf_dir):
    return (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
            & (F.col("l_quantity") < 5)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


# --- q03: 3-way join + agg + top-k (TPC-H Q3 shape) --------------------
# customer (filtered) broadcasts under the 64 MB threshold at small SF;
# at 100 TB AQE picks shuffle join for customer⋈orders and the
# lineitem join shuffles on orderkey. Top-k plans as
# TakeOrderedAndProject — no global sort.
@query(
    "q03_shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           {SQL_XSUM(SQL_REV, "revenue")},
           CAST(o_orderdate AS DATE) AS orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1999-01-01'
      AND l_shipdate  > TIMESTAMP '1999-01-01'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q03_shipping_priority(spark, sf_dir):
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(xsum(rev_col(), "revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


# --- q04: EXISTS → left-semi join -------------------------------------
@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(bcount("order_count"))


# --- q05: 6-table join, dimension broadcast (TPC-H Q5 shape) -----------
# region/nation are tiny at any SF → broadcast explicitly; the
# fact-side joins shuffle on their keys once each.
@query(
    "q05_local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {SQL_XSUM(SQL_REV, "revenue")}
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q05_local_supplier_volume(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(xsum(rev_col(), "revenue"))
    )


# --- q06: pure filter + global agg (TPC-H Q6) ---------------------------
@query(
    "q06_forecast_revenue",
    oracle=f"""
    SELECT {SQL_XSUM("(CAST(l_extendedprice AS DECIMAL(10,2)) * CAST(l_discount AS DECIMAL(4,2)))", "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            xsum(dec(F.col("l_extendedprice")) * dec(F.col("l_discount"), 4), "revenue"),
            bcount("n_items"),
        )
    )


# --- q07: NOT EXISTS → left-anti join ----------------------------------
# Customers without any URGENT order: the anti-join's build side is the
# FILTERED orders scan (the predicate pushes below the join). The
# original "without any order at all" variant was VACUOUS on the
# fixture (0 rows at sf0.001/0.01 — every customer has orders), so its
# oracle pass proved nothing; the filtered form yields rows at every
# gate scale (18/203/1986).
@query(
    "q07_customers_without_orders",
    oracle="""
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q07_customers_without_orders(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(bcount("n_customers"))
    )


# --- q08: top-k per group via ranking window ----------------------------
@query(
    "q08_top_parts_per_brand",
    oracle=f"""
    WITH rev AS (
      SELECT p_brand, p_partkey,
             {SQL_XSUM(SQL_REV, "revenue")}
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand, p_partkey
    )
    SELECT p_brand, p_partkey, revenue, rnk FROM (
      SELECT *, CAST(ROW_NUMBER() OVER (
        PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rnk
      FROM rev
    ) WHERE rnk <= 3
    """,
)
def q08_top_parts_per_brand(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    rev = (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_partkey")
        .agg(xsum(rev_col(), "revenue"))
    )
    w = W.partitionBy("p_brand").orderBy(F.col("revenue").desc(), F.col("p_partkey"))
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 3)
    )


# --- q09: running-frame + lag analytic windows --------------------------
@query(
    "q09_running_order_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total,
           LAG(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price
    FROM orders
    """,
)
def q09_running_order_totals(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    order_w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    run_w = order_w.rowsBetween(W.unboundedPreceding, W.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(run_w).cast("double").alias("running_total"),
        F.lag("o_totalprice").over(order_w).alias("prev_price"),
    )


# --- q10: join + agg + top-k (returned items, TPC-H Q10 shape) ----------
@query(
    "q10_returned_item_reporting",
    oracle=f"""
    SELECT c_custkey, c_name,
           {SQL_XSUM(SQL_REV, "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_reporting(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("c_custkey", "c_name")
        .agg(
            xsum(rev_col(), "revenue"),
            bcount("n_items"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --- q11/q12/q13: rollup / cube / grouping sets -------------------------
@query(
    "q11_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_DSUM("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q11_rollup(spark, sf_dir):
    from spark_etl_cli_spark.operators.util import fan_out

    # rollup = Expand x3 before the partial agg; spread it when the
    # scan arrives single-partition (see q01)
    li = fan_out(
        t(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity"
        )
    )
    return li.rollup("l_returnflag", "l_linestatus").agg(
        bcount("n"), dsum(F.col("l_quantity"), "sum_qty")
    )


@query(
    "q12_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_DSUM("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q12_cube(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        bcount("n"), dsum(F.col("o_totalprice"), "sum_price")
    )


@query(
    "q13_grouping_sets",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_DSUM("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def q13_grouping_sets(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --- q14: conditional aggregation (promo-share shape) -------------------
@query(
    "q14_conditional_agg",
    oracle=f"""
    SELECT
      {SQL_XSUM(f"CAST(CASE WHEN p_size > 25 THEN {SQL_REV} ELSE 0 END AS DECIMAL(24,4))", "large_rev")},
      {SQL_XSUM(SQL_REV, "total_rev")},
      CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q14_conditional_agg(spark, sf_dir):
    from spark_etl_cli_spark.operators.util import fan_out

    # part broadcasts; spread the lineitem side (3 needed columns) so
    # the broadcast join + decimal partials parallelize — see q01
    li = fan_out(
        t(spark, sf_dir, "lineitem").select(
            "l_partkey", "l_extendedprice", "l_discount"
        )
    )
    p = t(spark, sf_dir, "part")
    rev = rev_col()
    return li.join(p, F.col("l_partkey") == F.col("p_partkey")).agg(
        xsum(
            F.when(F.col("p_size") > 25, rev)
            .otherwise(F.lit(0))
            .cast(T.DecimalType(24, 4)),
            "large_rev",
        ),
        xsum(rev, "total_rev"),
        bcount("n_items"),
    )


# --- q15: scalar subquery (max over aggregate) ---------------------------
@query(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, {SQL_XSUM(SQL_REV, "total_rev")}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01'
        AND l_shipdate <  TIMESTAMP '1999-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_rev
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q15_top_supplier(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        xsum(rev_col(), "total_rev")
    )
    # scalar max as a 1-row aggregate broadcast back as an EQUI semi
    # join on the value — |suppliers| scales with the corpus, so an
    # unpartitioned MAX() OVER () window here would drag every
    # supplier aggregate through one task; the semi join plans as a
    # distributed BroadcastHashJoin instead
    mx = rev.agg(F.max("total_rev").alias("total_rev"))
    best = rev.join(F.broadcast(mx), "total_rev", "left_semi")
    s = t(spark, sf_dir, "supplier")
    return best.join(s, F.col("s_suppkey") == F.col("l_suppkey")).select(
        "s_suppkey", "s_name", "total_rev"
    )


# --- q16: distinct aggregation -------------------------------------------
@query(
    "q16_supplier_part_counts",
    oracle="""
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
           CAST(COUNT(*) AS BIGINT) AS n_lineitems
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand, p_size
    """,
)
def q16_supplier_part_counts(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"),
            bcount("n_lineitems"),
        )
    )


# --- q17: correlated avg subquery (small-quantity revenue) ----------------
@query(
    "q17_small_quantity_revenue",
    oracle=f"""
    WITH part_avg AS (
      SELECT l_partkey AS pk, {SQL_DAVG("l_quantity", "avg_qty")}
      FROM lineitem GROUP BY l_partkey
    )
    SELECT {SQL_DSUM("l_extendedprice", "total_price")},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part_avg ON l_partkey = pk
    WHERE l_quantity < 0.5 * avg_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        davg(F.col("l_quantity"), "avg_qty")
    )
    return (
        li.join(part_avg, F.col("l_partkey") == F.col("pk"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(dsum(F.col("l_extendedprice"), "total_price"), bcount("n_items"))
    )


# --- q18: HAVING + IN-subquery (large orders) ------------------------------
@query(
    "q18_large_volume_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, {SQL_DSUM("l_quantity", "sum_qty")}
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
    )
    SELECT c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS orderdate,
           o_totalprice, sum_qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18_large_volume_orders(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# --- q19: theta join with disjunctive predicates ---------------------------
@query(
    "q19_disjunctive_predicates",
    oracle=f"""
    SELECT {SQL_XSUM(SQL_REV, "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity >= 10)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity >= 20)
       OR (p_type = 'ECONOMY' AND l_quantity < 5)
    """,
)
def q19_disjunctive_predicates(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & (F.col("l_quantity") >= 10)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & (F.col("l_quantity") >= 20)
    ) | ((F.col("p_type") == "ECONOMY") & (F.col("l_quantity") < 5))
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            xsum(rev_col(), "revenue"),
            bcount("n_items"),
        )
    )


# --- q20: pivot --------------------------------------------------------
@query(
    "q20_pivot_linestatus",
    oracle=f"""
    SELECT l_returnflag,
           {SQL_DSUM("CASE WHEN l_linestatus = 'O' THEN l_quantity END", "qty_o")},
           {SQL_DSUM("CASE WHEN l_linestatus = 'F' THEN l_quantity END", "qty_f")}
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q20_pivot_linestatus(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    pv = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast(DEC)).cast("double"))
    )
    return pv.select(
        "l_returnflag", F.col("O").alias("qty_o"), F.col("F").alias("qty_f")
    )


# --- q21: set operations -------------------------------------------------
@query(
    "q21_set_ops",
    oracle="""
    WITH rich AS (SELECT c_custkey AS k FROM customer WHERE c_acctbal > 7000),
         buyers AS (SELECT DISTINCT o_custkey AS k FROM orders)
    SELECT 'union' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM rich UNION SELECT k FROM buyers)
    UNION ALL
    SELECT 'intersect' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM rich INTERSECT SELECT k FROM buyers)
    UNION ALL
    SELECT 'except' AS op, CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT k FROM rich EXCEPT SELECT k FROM buyers)
    """,
)
def q21_set_ops(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    rich = c.filter(F.col("c_acctbal") > 7000).select(F.col("c_custkey").alias("k"))
    buyers = o.select(F.col("o_custkey").alias("k")).distinct()
    union_n = rich.union(buyers).distinct().agg(bcount("n")).withColumn("op", F.lit("union"))
    inter_n = rich.intersect(buyers).agg(bcount("n")).withColumn("op", F.lit("intersect"))
    exc_n = rich.subtract(buyers).agg(bcount("n")).withColumn("op", F.lit("except"))
    return union_n.unionByName(inter_n).unionByName(exc_n).select("op", "n")


# --- q22: string function family ------------------------------------------
@query(
    "q22_string_functions",
    oracle="""
    SELECT string_split(p_name, ' ')[1] AS first_word,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CAST(length(p_name) AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_name_len,
           CAST(COUNT(DISTINCT p_type) AS BIGINT) AS n_types,
           MAX(upper(p_brand)) AS max_brand
    FROM part
    GROUP BY 1
    """,
)
def q22_string_functions(spark, sf_dir):
    p = t(spark, sf_dir, "part")
    return (
        p.groupBy(F.split(F.col("p_name"), " ").getItem(0).alias("first_word"))
        .agg(
            bcount("n_parts"),
            davg(F.length("p_name"), "avg_name_len", scale=4),
            F.countDistinct("p_type").cast("bigint").alias("n_types"),
            F.max(F.upper("p_brand")).alias("max_brand"),
        )
    )


# --- q23: date/time function family -----------------------------------------
@query(
    "q23_date_functions",
    oracle=f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
           CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS qtr,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {SQL_DSUM("o_totalprice", "sum_price")}
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q23_date_functions(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month_start"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.quarter("o_orderdate").cast("int").alias("qtr"),
        )
        .agg(bcount("n_orders"), dsum(F.col("o_totalprice"), "sum_price"))
    )


# --- q24: JSON extraction ---------------------------------------------------
@query(
    "q24_json_extraction",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(MAX(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q24_json_extraction(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        bcount("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


# --- q25: CASE bucketing ------------------------------------------------------
@query(
    "q25_case_buckets",
    oracle=f"""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 3000 THEN 'low'
                WHEN c_acctbal < 7000 THEN 'mid'
                ELSE 'high' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {SQL_DAVG("c_acctbal", "avg_bal")}
    FROM customer GROUP BY 1
    """,
)
def q25_case_buckets(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    bucket = (
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 3000, "low")
        .when(F.col("c_acctbal") < 7000, "mid")
        .otherwise("high")
        .alias("bucket")
    )
    return c.groupBy(bucket).agg(bcount("n_customers"), davg(F.col("c_acctbal"), "avg_bal"))


# --- q26: as-of join ----------------------------------------------------------
# Spark has no native ASOF JOIN; ours is the union+window plan
# (operators/asof.py — one shuffle, no row explosion). DuckDB verifies
# with its native ASOF.
@query(
    "q26_asof_join",
    oracle="""
    SELECT c.event_id AS click_id,
           p.event_id AS purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def q26_asof_join(spark, sf_dir):
    from spark_etl_cli_spark.operators.asof import asof_join

    e = events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("purchase_id"),
    )


# --- q27: equi + range (interval) join -----------------------------------------
# Same shape the reference exercises via sql:// (ETLTest.scala:143-157):
# an equi key keeps the join hash-based; the BETWEEN predicate filters
# within matched pairs, so no nested-loop blowup.
@query(
    "q27_interval_join",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {SQL_DSUM("l_extendedprice", "sum_price")}
    FROM lineitem JOIN orders
      ON l_orderkey = o_orderkey
     AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
    GROUP BY o_orderstatus
    """,
)
def q27_interval_join(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(
            o,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate"))
            & (F.col("l_shipdate") <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        )
        .groupBy("o_orderstatus")
        .agg(bcount("n_items"), dsum(F.col("l_extendedprice"), "sum_price"))
    )


# --- q28: salted aggregation (skew mitigation, oracle = plain agg) -------
# o_orderstatus has only 3 values — a worst-case hot grouping key. The
# salted two-phase plan spreads each key over 16 reducers; the oracle is
# the UNSALTED aggregation, proving the rewrite is exact.
@query(
    "q28_salted_agg",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {SQL_DSUM("o_totalprice", "sum_price")},
           MAX(o_totalprice) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def q28_salted_agg(spark, sf_dir):
    from spark_etl_cli_spark.operators.skew import salted_agg

    o = t(spark, sf_dir, "orders").withColumn(
        "__price_dec", F.col("o_totalprice").cast(DEC)
    )
    out = salted_agg(
        o,
        keys=["o_orderstatus"],
        aggs={
            "n_orders": ("o_orderkey", "count"),
            "sum_price_dec": ("__price_dec", "sum"),
            "max_price": ("o_totalprice", "max"),
        },
        salt_from="o_orderkey",
        buckets=16,
    )
    return out.select(
        "o_orderstatus",
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.col("sum_price_dec").cast("double").alias("sum_price"),
        "max_price",
    )


# --- q29: salted join (skew mitigation, oracle = plain join) -------------
# Joining fact rows to a 3-row status dimension: every fact row shares
# one of 3 keys. Salting the fact side and replicating the dimension
# spreads the probe across 16x more tasks; results must equal the plain
# join exactly.
@query(
    "q29_salted_join",
    oracle=f"""
    WITH dim AS (
      SELECT 'O' AS st, 'open' AS label UNION ALL
      SELECT 'F', 'finished' UNION ALL
      SELECT 'P', 'pending'
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_DSUM("o_totalprice", "sum_price")}
    FROM orders JOIN dim ON o_orderstatus = st
    GROUP BY label
    """,
)
def q29_salted_join(spark, sf_dir):
    from spark_etl_cli_spark.operators.skew import salted_join

    o = t(spark, sf_dir, "orders")
    dim = local_frame(
        spark, [("O", "open"), ("F", "finished"), ("P", "pending")],
        "o_orderstatus string, label string",
    )
    joined = salted_join(
        o, dim, on=["o_orderstatus"], salt_from="o_orderkey", buckets=16
    )
    return joined.groupBy("label").agg(
        bcount("n"), dsum(F.col("o_totalprice"), "sum_price")
    )


# --- q31..: more canonical TPC-H shapes ---------------------------------
# (numbered q8x to avoid colliding with textops q3x)


# --- q80: left outer join + null-aware count (TPC-H Q13 shape) -----------
# Distribution of customers by order count INCLUDING zero-order
# customers — the shape that catches inner-vs-outer and count(col)-vs-
# count(*) mistakes.
@query(
    "q80_customer_distribution",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM per_cust GROUP BY c_count
    """,
)
def q80_customer_distribution(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(bcount("custdist"))


# --- q81: global-avg scalar subquery + anti join (TPC-H Q22 shape) -------
@query(
    "q81_global_sales_opportunity",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {SQL_DAVG("c_acctbal", "ab")} FROM customer WHERE c_acctbal > 0
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           {SQL_DSUM("c_acctbal", "totacctbal")}
    FROM customer, avg_bal
    WHERE c_acctbal > ab
      AND (SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey) <= 2
    GROUP BY c_nationkey
    """,
)
def q81_global_sales_opportunity(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(davg(F.col("c_acctbal"), "ab"))
    )
    rich = c.join(F.broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("ab"))
    counts = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("__n")
    )
    few = (
        rich.join(counts, F.col("c_custkey") == F.col("k"), "left_outer")
        .filter(F.coalesce(F.col("__n"), F.lit(0)) <= 2)
    )
    return few.groupBy("c_nationkey").agg(
        bcount("numcust"), dsum(F.col("c_acctbal"), "totacctbal")
    )


# --- q82: full outer join + coalesce (reconciliation shape) --------------
@query(
    "q82_full_outer_reconciliation",
    oracle=f"""
    WITH cust_rev AS (
      SELECT o_custkey AS k, {SQL_DSUM("o_totalprice", "order_total")}
      FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey
    ),
    cust_ret AS (
      SELECT o_custkey AS k, {SQL_DSUM("o_totalprice", "open_total")}
      FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey
    )
    SELECT COALESCE(a.k, b.k) AS custkey,
           COALESCE(order_total, 0.0) AS order_total,
           COALESCE(open_total, 0.0) AS open_total
    FROM cust_rev a FULL OUTER JOIN cust_ret b ON a.k = b.k
    """,
)
def q82_full_outer_reconciliation(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    fin = (
        o.filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").alias("k"))
        .agg(dsum(F.col("o_totalprice"), "order_total"))
    )
    opn = (
        o.filter(F.col("o_orderstatus") == "O")
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(dsum(F.col("o_totalprice"), "open_total"))
    )
    joined = fin.join(opn, F.col("k") == F.col("k2"), "full_outer")
    return joined.select(
        F.coalesce(F.col("k"), F.col("k2")).alias("custkey"),
        F.coalesce("order_total", F.lit(0.0)).alias("order_total"),
        F.coalesce("open_total", F.lit(0.0)).alias("open_total"),
    )


# --- q83: min-cost-supplier correlated subquery (TPC-H Q2 shape) ---------
@query(
    "q83_min_cost_supplier",
    oracle="""
    WITH costs AS (
      SELECT p_partkey, s_suppkey, s_name, s_acctbal,
             MIN(s_acctbal) OVER (PARTITION BY p_partkey) AS min_bal
      FROM part JOIN supplier ON p_partkey % 100 = s_suppkey % 100
      WHERE p_size < 10
    )
    SELECT p_partkey, s_suppkey, s_name, s_acctbal
    FROM costs WHERE s_acctbal = min_bal
    """,
)
def q83_min_cost_supplier(spark, sf_dir):
    from pyspark.sql import Window as W

    p = t(spark, sf_dir, "part").filter(F.col("p_size") < 10)
    s = t(spark, sf_dir, "supplier")
    joined = p.join(s, F.col("p_partkey") % 100 == F.col("s_suppkey") % 100)
    w = W.partitionBy("p_partkey")
    return (
        joined.withColumn("__min_bal", F.min("s_acctbal").over(w))
        .filter(F.col("s_acctbal") == F.col("__min_bal"))
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal")
    )


# --- q84: forward as-of join with tolerance ------------------------------
# For each click, the NEXT purchase by the same user within 2 hours —
# forward direction + tolerance over the same single-shuffle
# union+window plan as q26. DuckDB verifies with native ASOF (<=).
@query(
    "q84_asof_forward_tolerance",
    oracle="""
    SELECT c.event_id AS click_id,
           CASE WHEN p.ts <= c.ts + INTERVAL 2 HOUR
                THEN p.event_id END AS next_purchase_id
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def q84_asof_forward_tolerance(spark, sf_dir):
    from spark_etl_cli_spark.operators.asof import asof_join

    # interval tolerance needs a real timestamp column
    e = events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    joined = asof_join(
        clicks,
        purchases,
        key_cols=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["event_id"],
        direction="forward",
        tolerance="2 hours",
    )
    return joined.select(
        F.col("event_id").alias("click_id"),
        F.col("event_id_right").alias("next_purchase_id"),
    )


# --- q85: RANGE frame window (30-day trailing sum) ------------------------
# rangeBetween needs a numeric order key to stay engine-portable: both
# sides order by epoch seconds and the frame is 2592000s preceding.
@query(
    "q85_range_frame",
    oracle="""
    SELECT o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(floor(epoch(o_orderdate)) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS trailing_30d
    FROM orders
    """,
)
def q85_range_frame(spark, sf_dir):
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders").withColumn(
        "__ep", F.unix_timestamp("o_orderdate").cast("bigint")
    )
    w = (
        W.partitionBy("o_custkey")
        .orderBy("__ep")
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias(
            "trailing_30d"
        ),
    )


# --- q86: analytic window function family ---------------------------------
# ntile / percent_rank / cume_dist / first_value / last_value / dense_rank
# over a UNIQUE total order (date, key) so tie-dependent functions are
# deterministic in both engines.
@query(
    "q86_analytic_windows",
    oracle="""
    SELECT o_orderkey,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           first_value(o_orderkey) OVER w AS first_key,
           last_value(o_orderkey) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS last_key,
           CAST(dense_rank() OVER (
             PARTITION BY o_custkey ORDER BY o_orderpriority
           ) AS BIGINT) AS prio_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def q86_analytic_windows(spark, sf_dir):
    from pyspark.sql import Window as W

    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    w_prio = W.partitionBy("o_custkey").orderBy("o_orderpriority")
    return o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
        F.dense_rank().over(w_prio).cast("bigint").alias("prio_rank"),
    )


# --- q59: ordered string aggregation (LISTAGG / STRING_AGG shape) --------
# Per nation, the top-3 customers by balance joined into ONE ordered
# string — the grouped LISTAGG ... WITHIN GROUP (ORDER BY) idiom, which
# Spark lacks as a single built-in. Expressed deterministically as
# sort_array(collect_list(struct(rank, name))) + transform + concat_ws:
# the struct's leading rank field makes the array order total, so the
# result is identical regardless of partitioning/merge order — the
# property a bare collect_list does NOT have, and the reason this shape
# deserves its own registry slot. Scale: the window tops out at 3 rows
# per nation before the agg, so each group's state is 3 short strings;
# nation is broadcast.
@query(
    "q59_top_customer_roster",
    oracle="""
    WITH ranked AS (
      SELECT n_name, c_name, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY n_nationkey
                                ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT n_name,
           STRING_AGG(c_name, ',' ORDER BY rn) AS roster,
           MAX(c_acctbal) AS top_bal,
           CAST(COUNT(*) AS BIGINT) AS n_top
    FROM ranked WHERE rn <= 3
    GROUP BY n_name
    """,
)
def q59_top_customer_roster(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    w = W.partitionBy("n_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    ranked = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )
    return ranked.groupBy("n_name").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "c_name"))),
                lambda s: s["c_name"],
            ),
        ).alias("roster"),
        F.max("c_acctbal").alias("top_bal"),
        F.count(F.lit(1)).alias("n_top"),
    )


# --- q123: GROUPING() disambiguation over CUBE ---------------------------
# Subtotal rows and genuine-NULL groups are indistinguishable without
# GROUPING(); the gid is composed from individual GROUPING() bits
# (portable — Spark's and DuckDB's native GROUPING_ID() bit orders are
# not guaranteed to agree). Identical SQL text on both engines.
_Q123_SQL = """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT)
             AS gid,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("q123_grouping_id", oracle=_Q123_SQL)
def q123_grouping_id(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q123_SQL)


# --- q156: bag-semantics set operations (INTERSECT ALL / EXCEPT ALL) ----
# The multiset variants q21 doesn't cover: per duplicate-rich key,
# INTERSECT ALL keeps min(count_a, count_b) copies and EXCEPT ALL keeps
# count_a - count_b (clipped) — Spark's intersectAll/exceptAll, which
# plan as aggregate+generate rather than joins. Output re-aggregated
# per key so the result is small and order-free.
@query(
    "q156_bag_set_ops",
    oracle="""
    WITH a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_quantity < 10),
         b AS (SELECT l_suppkey AS k FROM lineitem WHERE l_discount > 0.05)
    SELECT 'intersect_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    GROUP BY k
    UNION ALL
    SELECT 'except_all' AS op, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    GROUP BY k
    """,
)
def q156_bag_set_ops(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") < 10).select(
        F.col("l_suppkey").alias("k")
    )
    b = li.filter(F.col("l_discount") > 0.05).select(
        F.col("l_suppkey").alias("k")
    )
    inter = (
        a.intersectAll(b)
        .groupBy("k")
        .agg(bcount("n"))
        .withColumn("op", F.lit("intersect_all"))
    )
    exc = (
        a.exceptAll(b)
        .groupBy("k")
        .agg(bcount("n"))
        .withColumn("op", F.lit("except_all"))
    )
    return inter.unionByName(exc).select("op", "k", "n")
