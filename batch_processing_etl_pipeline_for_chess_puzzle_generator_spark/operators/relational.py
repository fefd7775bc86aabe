"""Relational analytics core — TPC-H-style query suite.

Generalizes the reference's filter/project/alias pipeline
(reference: etl/transform.py:100-111) into a full join/agg/window
surface. Every query is a declarative DataFrame plan: Catalyst gets
predicate pushdown, column pruning and join planning for free; dims are
explicitly broadcast; aggregates are algebraic so map-side partial
aggregation applies. No RDDs, no Python UDFs, no collect().

Numeric determinism: the test data's money columns live on an exact
2-decimal grid, so every money aggregate casts its inputs to DECIMAL
first. Decimal sums are exact and order-independent — the result is
bit-identical no matter how Spark partitions the data, and bit-identical
to the DuckDB oracle. Final outputs cast back to DOUBLE (the same exact
decimal → the same double in any engine). Floating-point sums would
differ per partitioning and land on round() boundaries — decimals make
the whole suite deterministic at any scale and any parallelism.

Scale notes (100 TB):
- lineitem⋈orders shuffles on orderkey; AQE splits skewed partitions.
- nation/region/supplier/part broadcast; customer broadcasts at small SF
  and shuffle-joins past the autoBroadcast threshold.
- Decimal aggregation stays inside whole-stage codegen (Spark's TPC-H
  path is decimal-native); partial aggregation still applies.

Each Spark query has a DuckDB oracle in ``ORACLES`` built from the SAME
SQL expression fragments, so semantics can't drift between the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.window import Window

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import spread, table
from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.fixtures import session_memo

# SQL expression fragments valid in BOTH Spark SQL and DuckDB — the
# Spark plans use them via F.expr, the oracles inline them verbatim.
DISC_PRICE = ("CAST(l_extendedprice AS DECIMAL(18,2)) * "
              "(1 - CAST(l_discount AS DECIMAL(8,2)))")
CHARGE = f"{DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(8,2)))"
DISC_REV = ("CAST(l_extendedprice AS DECIMAL(18,2)) * "
            "CAST(l_discount AS DECIMAL(8,2))")
PROFIT = (f"{DISC_PRICE} - CAST(0.5 AS DECIMAL(2,1)) * "
          "CAST(p_retailprice AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))")


def _sum_money(expr_sql: str, alias: str):
    """Exact decimal sum surfaced as double."""
    return F.expr(f"CAST(SUM({expr_sql}) AS DOUBLE)").alias(alias)


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# --------------------------------------------------------------------------
# q1: pricing summary report — the canonical scan+groupBy. One shuffle on
# (returnflag, linestatus); 6 groups, fully map-side-combined.
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the DECIMAL sum/multiply chain is the cost here and it
    # rides the scan task — one narrow repartition fans it out on the
    # single-row-group local file (identity at scale); measured
    # 1.5 s → 1.0 s at sf0.1 (guide §2.5)
    li = spread(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= _ts("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),  # integral doubles: exact
            _sum_money("CAST(l_extendedprice AS DECIMAL(18,2))", "sum_base_price"),
            _sum_money(DISC_PRICE, "sum_disc_price"),
            _sum_money(CHARGE, "sum_charge"),
            F.expr("SUM(l_quantity) / COUNT(*)").alias("avg_qty"),
            F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)").alias("avg_price"),
            F.expr("CAST(SUM(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / COUNT(*)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# q3: shipping priority — customer(filter)⋈orders(filter)⋈lineitem(filter),
# revenue top-10. customer side broadcast.
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < _ts("1998-03-15"))
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > _ts("1998-03-15"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(cu), o.o_custkey == cu.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(_sum_money(DISC_PRICE, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


# q4: order priority checking — EXISTS rewritten as left-semi join.
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1996-04-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(F.col("l_shipdate") > F.col("o_orderdate"))
    return (
        o.join(late.select("l_orderkey").distinct(), o.o_orderkey == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# q5: local supplier volume — 6-way join; region/nation/supplier broadcast.
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(s), (li.l_suppkey == s.s_suppkey) & (cu.c_nationkey == s.s_nationkey))
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_sum_money(DISC_PRICE, "revenue"))
    )


# q6: forecast revenue — pure scan query; predicates land in PushedFilters.
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= _ts("1996-01-01"))
            & (F.col("l_shipdate") < _ts("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(_sum_money(DISC_REV, "revenue"))
    )


# q7: volume shipping between two nations, by direction and year.
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    s = table(spark, sf_dir, "supplier")
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    df = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .join(broadcast(n2), cu.c_nationkey == F.col("c_nk"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        df.withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(_sum_money(DISC_PRICE, "revenue"))
    )


# q9: product-type profit by supplier nation and order year.
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(_sum_money(PROFIT, "sum_profit"))
    )


# q10: returned-item reporting — top 20 customers by lost revenue.
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-10-01")) & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_sum_money(DISC_PRICE, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# q13: customer order-count distribution — left outer join, two-level agg.
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cu.join(o, cu.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# q14: promo revenue share — ratio of two exact decimal sums.
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-03-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    promo = (f"100 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE} "
             f"ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / CAST(SUM({DISC_PRICE}) AS DOUBLE)")
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.expr(promo).alias("promo_revenue"))
    )


# q17: small-quantity-order revenue — per-part average via self-agg join
# (an agg+broadcast-join beats a window over the whole fact table: only
# the tiny per-part aggregate shuffles).
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    li = table(spark, sf_dir, "lineitem")
    avg_qty = (
        li.groupBy(F.col("l_partkey").alias("ap_partkey"))
        .agg(F.expr("0.2 * (SUM(l_quantity) / COUNT(*))").alias("qty_threshold"))
    )
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(broadcast(avg_qty), li.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.expr("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0").alias("avg_yearly"))
    )


# q18: large-volume orders — group-having then join back to headers.
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_orderkey"))
        .agg(F.sum("l_quantity").alias("sum_qty"))  # integral: exact
        .filter(F.col("sum_qty") > 150)
    )
    return (
        o.join(big, o.o_orderkey == F.col("b_orderkey"))
        .join(cu, o.o_custkey == cu.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# q22: idle high-balance customers — scalar-subquery average + anti-join
# against urgent orders.
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = (
        cu.filter(F.col("c_acctbal") > 0.0)
        .agg(F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)").alias("a"))
    )
    rich = cu.join(broadcast(avg_bal)).filter(F.col("c_acctbal") > F.col("a"))
    return (
        rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").alias("totacctbal"),
        )
    )


# window: top-3 orders per customer by price — one hash partitioning by
# customer, no global sort.
def w_topk_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the window key: pins the window's exchange at core
    # count (otherwise AQE coalesces the tiny local shuffle to one
    # partition and the sort+rank runs one-core; identity at scale)
    o = spread(spark, sf_dir, "orders",
               table(spark, sf_dir, "orders").select(
                   "o_custkey", "o_orderkey", "o_totalprice"),
               keys=("o_custkey",))
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


# window: running revenue + previous-order price per customer. The
# running sum is decimal → exact regardless of each engine's window-agg
# evaluation strategy (DuckDB uses segment trees: different add order).
def w_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the window key (see w_topk_orders_per_cust)
    o = spread(spark, sf_dir, "orders",
               table(spark, sf_dir, "orders").select(
                   "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
               keys=("o_custkey",))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(running)
        .cast("double").alias("running_total"),
        F.lag("o_totalprice", 1).over(w).alias("prev_price"),
    )


# rollup: region → nation sales hierarchy with subtotals.
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(n), cu.c_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.rollup("r_name", "n_name").agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias("total_sales"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# pivot: order-status counts per priority (explicit value list keeps the
# output schema static — required for both Catalyst and the oracle).
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["F", "O", "P"])
    )


# Statistical aggregates (corr / regression slope) per group — computed
# from EXACT decimal component sums (Σx, Σy, Σxy, Σx², n) and only then
# combined in one double formula. Spark's native corr() merges float
# co-moments in partition order (run-to-run nondeterministic, and a
# different association than DuckDB's); the component-sum form is the
# map-side-combinable, deterministic way to do it at any scale.
def stat_sales_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    q = "CAST(l_quantity AS DECIMAL(18,2))"
    p = "CAST(l_extendedprice AS DECIMAL(18,2))"
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(f"CAST(SUM({q}) AS DOUBLE)").alias("sx"),
        F.expr(f"CAST(SUM({p}) AS DOUBLE)").alias("sy"),
        F.expr(f"CAST(SUM({q} * {p}) AS DOUBLE)").alias("sxy"),
        F.expr(f"CAST(SUM({q} * {q}) AS DOUBLE)").alias("sxx"),
        F.expr(f"CAST(SUM({p} * {p}) AS DOUBLE)").alias("syy"),
    )
    return sums.select(
        "l_returnflag",
        "n",
        F.expr(
            "CAST(ROUND((n * sxy - sx * sy) / "
            "SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) * 1e6) "
            "AS BIGINT)"
        ).alias("corr_qty_price"),
        F.expr("CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) "
               "* 1e6) AS BIGINT)").alias("slope"),
        F.expr(
            "CAST(ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))"
            " * sx) / n * 1e6) AS BIGINT)"
        ).alias("intercept"),
    )


# Window-function breadth on one pass: rank family, distribution
# stats (quartile / percent-rank / cume-dist) and frame-navigation
# (first/last value) over each customer's order history — one shuffle,
# every window shares the same partition so Spark evaluates them in a
# single exchange. Like w_customer_value_bands, the distribution stats
# are derived from row_number + count(*) with pure integer arithmetic
# (the SQL-standard ntile formula as CASE math; ppm grids via integer
# DIV) rather than the engine's ntile/percent_rank/cume_dist library —
# those drift across engine versions and are banned repo-wide by
# tools/lint_formulations.py.
def w_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the window key (see w_topk_orders_per_cust)
    o = spread(spark, sf_dir, "orders",
               table(spark, sf_dir, "orders").select(
                   "o_custkey", "o_orderkey", "o_orderdate"),
               keys=("o_custkey",))
    full_w = ("PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
              "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING")
    ranked = o.selectExpr(
        "o_custkey",
        "o_orderkey",
        "CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey "
        "ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS seq",
        "COUNT(*) OVER (PARTITION BY o_custkey) AS n",
        f"FIRST_VALUE(o_orderkey) OVER ({full_w}) AS first_order",
        f"LAST_VALUE(o_orderkey) OVER ({full_w}) AS last_order",
    )
    return ranked.selectExpr(
        "o_custkey",
        "o_orderkey",
        "seq",
        "CASE WHEN seq <= (n % 4) * (n DIV 4 + 1) "
        "THEN (seq - 1) DIV (n DIV 4 + 1) + 1 "
        "ELSE (n % 4) + (seq - 1 - (n % 4) * (n DIV 4 + 1)) "
        "DIV (n DIV 4) + 1 END AS quartile",
        "CASE WHEN n = 1 THEN CAST(0 AS BIGINT) "
        "ELSE (seq - 1) * 1000000 DIV (n - 1) END AS pct_rank",
        "seq * 1000000 DIV n AS cume",
        "first_order",
        "last_order",
    )


# Set-operation semantics (INTERSECT / EXCEPT are distinct-set ops, not
# bag ops) over year slices of the order base.
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def year(y: int):
        return o.filter(F.year("o_orderdate") == y).select("o_custkey")

    both = year(1994).intersect(year(1995))
    only_94 = year(1994).subtract(year(1995))
    either = year(1994).union(year(1995)).distinct()
    return (
        both.agg(F.count(F.lit(1)).alias("n_both"))
        .crossJoin(only_94.agg(F.count(F.lit(1)).alias("n_only_1994")))
        .crossJoin(either.agg(F.count(F.lit(1)).alias("n_either")))
    )


QUERIES = {
    "stat_sales_corr": stat_sales_corr,
    "w_order_stats": w_order_stats,
    "set_ops_customers": set_ops_customers,
    "q1_pricing_summary": q1_pricing_summary,
    "q3_shipping_priority": q3_shipping_priority,
    "q4_order_priority": q4_order_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q6_revenue_forecast": q6_revenue_forecast,
    "q7_volume_shipping": q7_volume_shipping,
    "q9_product_profit": q9_product_profit,
    "q10_returned_items": q10_returned_items,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q17_small_quantity": q17_small_quantity,
    "q18_large_orders": q18_large_orders,
    "q22_idle_customers": q22_idle_customers,
    "w_topk_orders_per_cust": w_topk_orders_per_cust,
    "w_running_totals": w_running_totals,
    "rollup_sales": rollup_sales,
    "pivot_order_status": pivot_order_status,
}

ORACLES = {
    "w_order_stats": """
        WITH ranked AS (
            SELECT o_custkey, o_orderkey,
                   row_number() OVER w AS seq,
                   count(*) OVER (PARTITION BY o_custkey) AS n,
                   first_value(o_orderkey) OVER wf AS first_order,
                   last_value(o_orderkey) OVER wf AS last_order
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey),
                   wf AS (PARTITION BY o_custkey
                          ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING)
        )
        SELECT o_custkey, o_orderkey, seq,
               CASE WHEN seq <= (n % 4) * (n // 4 + 1)
                    THEN (seq - 1) // (n // 4 + 1) + 1
                    ELSE (n % 4) + (seq - 1 - (n % 4) * (n // 4 + 1))
                         // (n // 4) + 1 END AS quartile,
               CASE WHEN n = 1 THEN CAST(0 AS BIGINT)
                    ELSE (seq - 1) * 1000000 // (n - 1) END AS pct_rank,
               seq * 1000000 // n AS cume,
               first_order, last_order
        FROM ranked
    """,
    "set_ops_customers": """
        WITH y94 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1994),
             y95 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995)
        SELECT (SELECT count(*) FROM (SELECT o_custkey FROM y94
                                      INTERSECT SELECT o_custkey FROM y95)) AS n_both,
               (SELECT count(*) FROM (SELECT DISTINCT o_custkey FROM y94
                                      WHERE o_custkey NOT IN (SELECT o_custkey FROM y95))) AS n_only_1994,
               (SELECT count(*) FROM (SELECT o_custkey FROM y94
                                      UNION SELECT o_custkey FROM y95)) AS n_either
    """,
    "stat_sales_corr": """
        WITH sums AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                          * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
                   CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                          * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               CAST(ROUND((n * sxy - sx * sy)
                     / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy))
                     * 1e6) AS BIGINT) AS corr_qty_price,
               CAST(ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6)
                    AS BIGINT) AS slope,
               CAST(ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                           * sx) / n * 1e6) AS BIGINT) AS intercept
        FROM sums
    """,
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum({DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
               CAST(sum({CHARGE}) AS DOUBLE) AS sum_charge,
               sum(l_quantity) / count(*) AS avg_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
               CAST(sum(CAST(l_discount AS DECIMAL(8,2))) AS DOUBLE) / count(*) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT o_orderkey, o_orderdate,
               CAST(sum({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "q4_order_priority": """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem
            WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
          )
        GROUP BY o_orderpriority
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name,
               CAST(sum({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
    """,
    "q6_revenue_forecast": f"""
        SELECT CAST(sum({DISC_REV}) AS DOUBLE) AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               CAST(sum({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1998-01-01'
          AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        GROUP BY n1.n_name, n2.n_name, l_year
    """,
    "q9_product_profit": f"""
        SELECT n_name AS nation,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(sum({PROFIT}) AS DOUBLE) AS sum_profit
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE p_type = 'PROMO'
        GROUP BY n_name, o_year
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               CAST(sum({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-10-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q13_customer_distribution": """
        SELECT c_count, count(*) AS custdist
        FROM (
            SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer
            LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey
        )
        GROUP BY c_count
    """,
    "q14_promo_revenue": f"""
        SELECT 100 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE}
                                   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                   / CAST(sum({DISC_PRICE}) AS DOUBLE) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-03-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
    """,
    "q17_small_quantity": """
        SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN (
            SELECT l_partkey AS ap_partkey, 0.2 * (sum(l_quantity) / count(*)) AS qty_threshold
            FROM lineitem GROUP BY l_partkey
        ) a ON l_partkey = ap_partkey
        WHERE p_brand = 'Brand#1' AND l_quantity < qty_threshold
    """,
    "q18_large_orders": """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM orders
        JOIN (
            SELECT l_orderkey AS b_orderkey, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
        ) b ON o_orderkey = b_orderkey
        JOIN customer ON o_custkey = c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
    """,
    "q22_idle_customers": """
        SELECT c_mktsegment, count(*) AS numcust,
               CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
            SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
            FROM customer WHERE c_acctbal > 0.0
        )
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
    """,
    "w_topk_orders_per_cust": """
        SELECT o_custkey, o_orderkey, o_totalprice, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    "w_running_totals": """
        SELECT o_custkey, o_orderkey,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                   AS running_total,
               lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey) AS prev_price
        FROM orders
    """,
    "rollup_sales": """
        SELECT r_name, n_name,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales,
               count(*) AS n_orders
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP (r_name, n_name)
    """,
    "pivot_order_status": """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS "F",
               count(*) FILTER (WHERE o_orderstatus = 'O') AS "O",
               count(*) FILTER (WHERE o_orderstatus = 'P') AS "P"
        FROM orders
        GROUP BY o_orderpriority
    """,
}


# ---------------------------------------------------------------------------
# Second wave: q8/q11/q12/q15/q16/q19/q21 adaptations (no partsupp table in
# this schema; lineitem is the part↔supplier link where TPC-H uses partsupp).

# q8: national market share — share of NATION_3 suppliers in the EUROPE
# customer market for ECONOMY parts, by year.
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    n1 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= _ts("1996-01-01")) & (F.col("o_orderdate") < _ts("1998-01-01"))
    )
    li = table(spark, sf_dir, "lineitem")
    joined = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(n2), cu.c_nationkey == F.col("c_nk"))
        .join(broadcast(r), F.col("c_rk") == r.r_regionkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n1), s.s_nationkey == F.col("s_nk"))
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
    )
    share = (
        f"CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN {DISC_PRICE} "
        f"ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) / CAST(SUM({DISC_PRICE}) AS DOUBLE)"
    )
    return joined.groupBy("o_year").agg(F.expr(share).alias("mkt_share"))


# q11: important stock — parts whose shipped value exceeds 0.08% of the
# total shipped value (scalar subquery → broadcast cross join).
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    val = ("SUM(CAST(l_quantity AS DECIMAL(18,2)) * "
           "CAST(p_retailprice AS DECIMAL(18,2)))")
    per_part = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_partkey")
        .agg(F.expr(f"CAST({val} AS DOUBLE)").alias("part_value"))
    )
    total = per_part.agg(F.expr("SUM(part_value)").alias("tv"))
    return (
        per_part.join(broadcast(total))
        .filter(F.col("part_value") > 0.0008 * F.col("tv"))
        .select("p_partkey", "part_value")
    )


# q12: late-shipment counts by order priority (receipt/commit dates don't
# exist here; "late" = shipped >90 days after the order date).
def q12_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END)"
            ).alias("late_count"),
            F.count(F.lit(1)).alias("total_count"),
        )
    )


# q15: top supplier(s) by revenue in 1996Q1 (ties kept — exact decimal
# revenue makes the max-equality deterministic).
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    rev = li.groupBy("l_suppkey").agg(_sum_money(DISC_PRICE, "total_revenue"))
    best = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(broadcast(best))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select(F.col("s_suppkey"), F.col("s_name"), F.col("total_revenue"))
    )


# q16: supplier variety per (brand, type, size), excluding one brand —
# count distinct through the lineitem link.
def q16_part_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    # spread(): the broadcast-join probe + the count-distinct expand
    # partials ran in the one-task scan (guide §2.5)
    li = spread(spark, sf_dir, "lineitem",
                table(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_partkey", "l_suppkey"))
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# q19: disjunctive predicate revenue — brand/size/quantity bands OR'd
# together; Catalyst pushes the part-side conjuncts into the dim scan.
def q19_banded_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    li = table(spark, sf_dir, "lineitem")
    cond = (
        "((p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20) "
        "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30))"
    )
    return (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .filter(F.expr(cond))
        .agg(_sum_money(DISC_PRICE, "revenue"))
    )


# q21: suppliers who shipped last in multi-supplier orders, >60 days
# after the order date. Per-order stats come from a groupBy (a window
# count-distinct would be unsupported/unbounded); top-10 by wait count.
def q21_late_last_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    o = table(spark, sf_dir, "orders")
    # spread on l_orderkey: both lineitem branches (per-order stats and
    # the join) shuffle on that key — one pinned exchange serves both
    li = spread(spark, sf_dir, "lineitem")
    ord_stats = li.groupBy(F.col("l_orderkey").alias("g_orderkey")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.max("l_shipdate").alias("max_ship"),
    )
    late_last = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(ord_stats, li.l_orderkey == F.col("g_orderkey"))
        .filter(
            (F.col("n_supp") >= 2)
            & (F.col("l_shipdate") == F.col("max_ship"))
            & F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY")
        )
    )
    return (
        late_last.groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


# q2: min-cost supplier per part (no partsupp table in this schema —
# unit cost is derived from lineitem: sum(extendedprice)/sum(quantity)
# per (part, supplier), restricted to EUROPE suppliers of ECONOMY
# parts; ties on the exact minimum are kept).
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    li = table(spark, sf_dir, "lineitem")
    per = (
        li.join(broadcast(p), li.l_partkey == p.p_partkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("p_partkey", "s_suppkey", "s_name")
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
                "/ CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)"
            ).alias("unit_cost")
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        per.withColumn("mn", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("mn"))
        .select("p_partkey", "s_suppkey", "s_name", "unit_cost")
    )


# q20: dominant suppliers — suppliers who shipped more than half of a
# part's total 1996 volume (the excess-stock signal without partsupp).
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= _ts("1996-01-01")) & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    per_ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))").alias("sq")
    )
    per_p = per_ps.groupBy("l_partkey").agg(F.sum("sq").alias("tq"))
    return (
        per_ps.join(per_p, "l_partkey")
        .filter(F.expr("CAST(sq AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE)"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_dominated_parts"))
        .join(broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", "n_dominated_parts")
    )


QUERIES.update({
    "q2_min_cost_supplier": q2_min_cost_supplier,
    "q20_dominant_suppliers": q20_dominant_suppliers,
    "q8_market_share": q8_market_share,
    "q11_important_stock": q11_important_stock,
    "q12_late_shipments": q12_late_shipments,
    "q15_top_supplier": q15_top_supplier,
    "q16_part_supplier_variety": q16_part_supplier_variety,
    "q19_banded_revenue": q19_banded_revenue,
    "q21_late_last_suppliers": q21_late_last_suppliers,
})

ORACLES.update({
    "q2_min_cost_supplier": """
        WITH per AS (
            SELECT p_partkey, s_suppkey, s_name,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   / CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS unit_cost
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
            GROUP BY p_partkey, s_suppkey, s_name
        )
        SELECT p_partkey, s_suppkey, s_name, unit_cost
        FROM (SELECT *, min(unit_cost) OVER (PARTITION BY p_partkey) AS mn FROM per)
        WHERE unit_cost = mn
    """,
    "q20_dominant_suppliers": """
        WITH per_ps AS (
            SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1997-01-01'
            GROUP BY l_partkey, l_suppkey
        ),
        per_p AS (SELECT l_partkey, sum(sq) AS tq FROM per_ps GROUP BY l_partkey)
        SELECT s_suppkey, s_name, count(*) AS n_dominated_parts
        FROM per_ps JOIN per_p USING (l_partkey)
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE CAST(sq AS DOUBLE) > 0.5 * CAST(tq AS DOUBLE)
        GROUP BY s_suppkey, s_name
    """,
    "q8_market_share": f"""
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
               CAST(sum(CASE WHEN n1.n_name = 'NATION_3' THEN {DISC_PRICE}
                             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(sum({DISC_PRICE}) AS DOUBLE) AS mkt_share
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        JOIN region ON n2.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY o_year
    """,
    "q11_important_stock": """
        WITH per_part AS (
            SELECT p_partkey,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))
                            * CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
            FROM lineitem JOIN part ON l_partkey = p_partkey
            GROUP BY p_partkey
        )
        SELECT p_partkey, part_value FROM per_part
        WHERE part_value > 0.0008 * (SELECT sum(part_value) FROM per_part)
    """,
    "q12_late_shipments": """
        SELECT o_orderpriority,
               CAST(sum(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                             THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
               count(*) AS total_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
    """,
    "q15_top_supplier": f"""
        WITH rev AS (
            SELECT l_suppkey, CAST(sum({DISC_PRICE}) AS DOUBLE) AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-04-01'
            GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
    """,
    "q16_part_supplier_variety": """
        SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#1'
        GROUP BY p_brand, p_type, p_size
    """,
    "q19_banded_revenue": f"""
        SELECT CAST(sum({DISC_PRICE}) AS DOUBLE) AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
    """,
    "q21_late_last_suppliers": """
        WITH ord_stats AS (
            SELECT l_orderkey AS g_orderkey,
                   count(DISTINCT l_suppkey) AS n_supp,
                   max(l_shipdate) AS max_ship
            FROM lineitem GROUP BY l_orderkey
        )
        SELECT s_name, count(DISTINCT l_orderkey) AS numwait
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN ord_stats ON l_orderkey = g_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE n_supp >= 2 AND l_shipdate = max_ship
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 10
    """,
})


# GROUPING SETS — the general form behind rollup/cube: the exact level
# list ((year), (priority), (year, priority)) with no grand total, which
# neither ROLLUP nor CUBE can express. Spark expands the sets into one
# partial-aggregated Expand + shuffle — same single-shuffle plan shape
# as a plain groupBy at 100 TB. grouping_id labels each level so the
# NULL-as-subtotal rows are unambiguous.
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("o_year"),
        "o_orderpriority",
        "o_totalprice",
    )
    return o.groupingSets(
        [["o_year"], ["o_orderpriority"], ["o_year", "o_orderpriority"]],
        "o_year",
        "o_orderpriority",
    ).agg(
        F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.expr("CAST(grouping_id(o_year, o_orderpriority) AS BIGINT)").alias("gid"),
    )


QUERIES["grouping_sets_orders"] = grouping_sets_orders

ORACLES["grouping_sets_orders"] = """
    WITH o AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
               o_orderpriority, o_totalprice
        FROM orders
    )
    SELECT o_year, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           count(*) AS n_orders,
           CAST(grouping(o_year) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid
    FROM o
    GROUP BY GROUPING SETS ((o_year), (o_orderpriority), (o_year, o_orderpriority))
"""


# Year-over-year revenue growth per nation — customer orders rolled up
# to (nation, year), then a lag window over the tiny aggregated table.
# The only big shuffle is the orders⋈customer join; the window runs
# over |nations|×|years| rows.
def yoy_nation_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    cu = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    rev = (
        o.join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.expr("CAST(year(o_orderdate) AS BIGINT)").alias("o_year"))
        .agg(_sum_money("CAST(o_totalprice AS DECIMAL(18,2))", "revenue"))
    )
    w = Window.partitionBy("n_name").orderBy("o_year")
    return rev.select(
        "n_name",
        "o_year",
        "revenue",
        F.lag("revenue").over(w).alias("prev_revenue"),
        F.expr(
            "(revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year)) "
            "/ lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year)"
        ).alias("yoy_growth"),
    )


# Market-basket part pairs — co-occurrence mining over order baskets.
# No self-join: ONE shuffle gathers each basket (collect_set per
# orderkey), the p1 < p2 pair fanout is a row-local nested-transform
# flatten bounded by basket width², then one more tiny shuffle counts
# pairs. The final top-k is a TakeOrdered, not a global sort. Two
# shuffles total vs three for the distinct+self-join formulation, and
# the basket rows never get replicated through a join.
def basket_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pair_fanout = (
        "flatten(transform(ps, p1 -> "
        "transform(filter(ps, p2 -> p2 > p1), p2 -> struct(p1, p2))))"
    )
    return (
        # spread on the GROUP key: replaces the aggregation's own
        # (AQE-coalescible) exchange with a core-count-pinned one, so
        # the basket collect AND the quadratic pair fanout run on all
        # cores instead of the coalesced single post-shuffle partition
        spread(spark, sf_dir, "lineitem",
               li.select("l_orderkey", "l_partkey"))
        .groupBy("l_orderkey")
        .agg(F.expr("collect_set(l_partkey)").alias("ps"))
        .select(F.explode(F.expr(pair_fanout)).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(20)
    )


# Association rules over the top co-occurring pairs: support /
# confidence / lift. The expensive work is the SAME two-shuffle basket
# fanout as basket_part_pairs; the top-20 cut happens BEFORE any
# enrichment, so the per-item-count and basket-count joins touch 20
# rows (broadcast the tiny pair side into the item-count table, never
# the reverse — item counts are corpus-sized at 100 TB). All exposed
# ratios are integer ppm grids: support/confidence by pure integer
# DIV; lift through row-local IEEE over exact sub-2^53 counts (the
# co*N product would clear int64 at scale, and doubles computed from
# exact integers fold identically on both engines).
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pair_fanout = (
        "flatten(transform(ps, p1 -> "
        "transform(filter(ps, p2 -> p2 > p1), p2 -> struct(p1, p2))))"
    )
    # ONE wide shuffle total: collect_set dedups while it groups, so
    # the single per-order grouping feeds pair counts, item counts
    # (row-local explode of the same sets) and the basket count. The
    # frame is persisted because three plan branches share it — without
    # the cache each branch would rescan lineitem and re-shuffle
    # (CacheManager keys by canonicalized plan, so repeated calls reuse
    # one entry). No distinct-aggs anywhere: countDistinct per group
    # would expand the shuffle by the distinct key (the profile_ndv
    # trap, etl.py:624).
    basket_sets = (
        # spread on the group key — same rationale as basket_part_pairs
        spread(spark, sf_dir, "lineitem",
               li.select("l_orderkey", "l_partkey"))
        .groupBy("l_orderkey")
        .agg(F.expr("collect_set(l_partkey)").alias("ps"))
        .persist()
    )
    top_pairs = (
        basket_sets
        .select(F.explode(F.expr(pair_fanout)).alias("pr"))
        .groupBy(F.col("pr.p1").alias("p1"), F.col("pr.p2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.col("n_orders").desc(), "p1", "p2")
        .limit(20)
    )
    item_counts = (
        basket_sets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    nb = basket_sets.agg(F.count(F.lit(1)).alias("n_baskets"))
    return (
        item_counts.join(
            broadcast(top_pairs), F.col("l_partkey") == F.col("p1")
        )
        .select("p1", "p2", "n_orders", F.col("cnt").alias("c1"))
        .alias("l")
        .join(
            item_counts.alias("r"),
            F.col("l.p2") == F.col("r.l_partkey"),
        )
        .select("p1", "p2", "n_orders", "c1", F.col("r.cnt").alias("c2"))
        .crossJoin(broadcast(nb))
        .selectExpr(
            "p1",
            "p2",
            "n_orders",
            "c1",
            "c2",
            # co-occurrence counts are data-proportional — the ppm
            # products ride the DECIMAL(38,0) grid (rule F)
            "CAST(CAST(n_orders AS DECIMAL(38,0)) * 1000000 "
            "DIV n_baskets AS BIGINT) AS support_ppm",
            "CAST(CAST(n_orders AS DECIMAL(38,0)) * 1000000 "
            "DIV c1 AS BIGINT) AS confidence_ppm",
            "CAST(ROUND(CAST(n_orders AS DOUBLE) * CAST(n_baskets AS DOUBLE)"
            " / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE)) * 1e6) AS BIGINT)"
            " AS lift_ppm",
        )
    )


QUERIES["yoy_nation_growth"] = yoy_nation_growth
QUERIES["basket_part_pairs"] = basket_part_pairs
QUERIES["basket_pair_lift"] = basket_pair_lift

ORACLES["yoy_nation_growth"] = """
    WITH rev AS (
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT n_name, o_year, revenue,
           lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year) AS prev_revenue,
           (revenue - lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year))
               / lag(revenue) OVER (PARTITION BY n_name ORDER BY o_year) AS yoy_growth
    FROM rev
"""

ORACLES["basket_part_pairs"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
    WHERE a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, p1, p2
    LIMIT 20
"""

ORACLES["basket_pair_lift"] = """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    top_pairs AS (
        SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        ORDER BY n_orders DESC, p1, p2
        LIMIT 20
    ),
    item_counts AS (
        SELECT l_partkey, count(*) AS cnt FROM li GROUP BY 1
    ),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem)
    SELECT p1, p2, n_orders, i1.cnt AS c1, i2.cnt AS c2,
           CAST(CAST(n_orders AS HUGEINT) * 1000000 // n_baskets
               AS BIGINT) AS support_ppm,
           CAST(CAST(n_orders AS HUGEINT) * 1000000 // i1.cnt
               AS BIGINT) AS confidence_ppm,
           CAST(ROUND(CAST(n_orders AS DOUBLE) * CAST(n_baskets AS DOUBLE)
                / (CAST(i1.cnt AS DOUBLE) * CAST(i2.cnt AS DOUBLE)) * 1e6)
                AS BIGINT) AS lift_ppm
    FROM top_pairs
    JOIN item_counts i1 ON p1 = i1.l_partkey
    JOIN item_counts i2 ON p2 = i2.l_partkey
    CROSS JOIN nb
"""


# SCD2 history build — turn each customer's order stream into
# slowly-changing-dimension rows with [valid_from, valid_to) intervals,
# a version counter, and an is_current flag. One window pass per
# custkey (lead + row_number share the same sort), the canonical
# warehouse dimension-build shape.
def scd2_order_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the window key (see w_topk_orders_per_cust)
    o = spread(spark, sf_dir, "orders",
               table(spark, sf_dir, "orders").select(
                   "o_custkey", "o_orderkey", "o_orderstatus", "o_orderdate"),
               keys=("o_custkey",))
    w = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.expr(f"lead(o_orderdate) OVER ({w})").alias("valid_to"),
        F.expr(f"CAST(row_number() OVER ({w}) AS BIGINT)").alias("version"),
        F.expr(f"lead(o_orderdate) OVER ({w}) IS NULL").alias("is_current"),
    )


QUERIES["scd2_order_history"] = scd2_order_history

ORACLES["scd2_order_history"] = """
    SELECT o_custkey, o_orderkey, o_orderstatus,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           CAST(row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS version,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
    FROM orders
"""


# Equi-depth (decile) histogram of l_extendedprice — the optimizer-
# statistics build. ONE exact-percentile agg produces the 9 cut points
# (at 100 TB: approx_percentile, same plan), broadcast back; bucket
# assignment is a row-local count-of-bounds-below, then a 10-group
# partial agg. No global sort, no ntile.
def stats_equidepth_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread(): the exact-percentile aggregate buffers/merges per-task
    # value maps and the bucket pass filters per row — both ran inside
    # the one-task scan (guide §2.5)
    li = spread(spark, sf_dir, "lineitem",
                table(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_extendedprice"))
    bounds = li.agg(
        F.expr(
            "percentile(l_extendedprice, array(0.1, 0.2, 0.3, 0.4, 0.5, "
            "0.6, 0.7, 0.8, 0.9))"
        ).alias("bs")
    )
    return (
        li.join(F.broadcast(bounds))
        .select(
            F.expr(
                "CAST(size(filter(bs, b -> l_extendedprice > b)) AS BIGINT)"
            ).alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("l_extendedprice").alias("lo"),
            F.max("l_extendedprice").alias("hi"),
        )
    )


QUERIES["stats_equidepth_hist"] = stats_equidepth_hist

ORACLES["stats_equidepth_hist"] = """
    WITH bounds AS (
        SELECT quantile_cont(l_extendedprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS bs
        FROM lineitem
    )
    SELECT CAST(len(list_filter(bs, b -> l_extendedprice > b)) AS BIGINT) AS bucket,
           count(*) AS n,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem CROSS JOIN bounds
    GROUP BY 1
"""


# The RUNNABLE 100 TB twin of stats_equidepth_hist: cut points from
# approx_percentile (GK bounded summary — no partition sort, fixed
# merge state) in the SAME plan shape, exactly the swap the exact
# operator's docstring promises. The sketch's output is
# engine-specific, so the oracle gate is STATISTICAL (see events.py's
# approx twins), formulated as a RANK BRACKET so heavy duplicate mass
# can't false-fail it: for each decile p, the returned cut value's
# rank span [count(< v)+1, count(<= v)] must intersect n·(p ± 0.02) —
# GK guarantees a rank within n/accuracy = n/10000 of the target,
# far inside the bracket, for ANY distribution including one value
# owning >10% of rows (where bucket-population checks break because
# adjacent cut points legitimately coincide). One broadcast of the
# cut array + one conditional-sum scan; the per-decile boolean
# reaches the value hash, so a drifting sketch still fails.
def stats_equidepth_hist_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.expr(
            "approx_percentile(l_extendedprice, array(0.1, 0.2, 0.3, 0.4, "
            "0.5, 0.6, 0.7, 0.8, 0.9), 10000)"
        ).alias("bs"),
        F.count(F.lit(1)).alias("n_total"),
    )
    aggs = []
    for i in range(1, 10):
        aggs.append(F.expr(
            f"SUM(CASE WHEN l_extendedprice < element_at(bs, {i}) "
            "THEN 1 ELSE 0 END)"
        ).alias(f"lt{i}"))
        aggs.append(F.expr(
            f"SUM(CASE WHEN l_extendedprice <= element_at(bs, {i}) "
            "THEN 1 ELSE 0 END)"
        ).alias(f"le{i}"))
    wide = li.join(F.broadcast(bounds)).groupBy("n_total").agg(*aggs)
    stack = ", ".join(f"{i}L, lt{i}, le{i}" for i in range(1, 10))
    return (
        wide.select(
            "n_total",
            F.expr(f"stack(9, {stack}) AS (decile, lt, le)"),
        )
        .select(
            "decile",
            "n_total",
            F.expr(
                "lt <= n_total * (decile / 10.0 + 0.02) "
                "AND le >= n_total * (decile / 10.0 - 0.02)"
            ).alias("rank_ok"),
        )
    )


QUERIES["stats_equidepth_hist_approx"] = stats_equidepth_hist_approx

# EXISTS guard: on an EMPTY lineitem the Spark side's join against the
# bounds row produces zero rows, so the oracle must too — no data, no
# histogram, in both engines.
ORACLES["stats_equidepth_hist_approx"] = """
    SELECT CAST(t.i AS BIGINT) AS decile,
           (SELECT count(*) FROM lineitem) AS n_total,
           TRUE AS rank_ok
    FROM UNNEST(range(1, 10)) AS t(i)
    WHERE EXISTS (SELECT 1 FROM lineitem)
"""


# Pure-SQL API surface: the same engine driven entirely through
# spark.sql over catalog-registered views — proving a SQL-only user of
# the reference can run unchanged ANSI SQL here. The text below IS the
# DuckDB oracle verbatim (one dialect, two engines); Catalyst plans it
# identically to the DataFrame formulations (broadcast dims, partial
# aggs, pushdown).
_SQL_REVENUE_BY_REGION = """
    SELECT r_name,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
           count(*) AS n_lineitems
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, o_year
"""


def sql_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_REVENUE_BY_REGION)


QUERIES["sql_revenue_by_region"] = sql_revenue_by_region
ORACLES["sql_revenue_by_region"] = _SQL_REVENUE_BY_REGION


# Monthly order backlog — event-sourcing-style cumulative balance:
# orders opened minus orders fully shipped, cumsum'd over months. The
# global-order window runs over a calendar-bounded table (|months|
# rows), never the fact table, so the single-partition sort is safe at
# any corpus size.
def orders_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    opened = o.groupBy(
        F.expr("CAST(date_trunc('month', o_orderdate) AS DATE)").alias("month")
    ).agg(F.count(F.lit(1)).alias("n_opened"))
    shipped = (
        li.groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("ship_done"))
        .groupBy(F.expr("CAST(date_trunc('month', ship_done) AS DATE)").alias("month"))
        .agg(F.count(F.lit(1)).alias("n_shipped"))
    )
    monthly = (
        opened.join(shipped, "month", "full_outer")
        .select(
            "month",
            F.expr("COALESCE(n_opened, CAST(0 AS BIGINT))").alias("n_opened"),
            F.expr("COALESCE(n_shipped, CAST(0 AS BIGINT))").alias("n_shipped"),
        )
    )
    return monthly.select(
        "month",
        "n_opened",
        "n_shipped",
        F.expr(
            "SUM(n_opened - n_shipped) OVER (ORDER BY month "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ).alias("backlog"),
    )


# Nation trade balance — each nation's export revenue (as the supplier
# side of every lineitem) vs import revenue (as the customer side), per
# year. Two aggregated branches over the same lineitem⋈orders spine,
# joined on the tiny (nation, year) grid.
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    cu = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    year = "CAST(year(o_orderdate) AS BIGINT)"
    exports = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", F.expr(year).alias("o_year"))
        .agg(_sum_money(DISC_PRICE, "export_rev"))
    )
    imports = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(cu, o.o_custkey == cu.c_custkey)
        .join(broadcast(n), cu.c_nationkey == n.n_nationkey)
        .groupBy("n_name", F.expr(year).alias("o_year"))
        .agg(_sum_money(DISC_PRICE, "import_rev"))
    )
    return exports.join(imports, ["n_name", "o_year"]).select(
        "n_name",
        "o_year",
        "export_rev",
        "import_rev",
        F.expr("export_rev - import_rev").alias("balance"),
    )


QUERIES["orders_backlog"] = orders_backlog
QUERIES["nation_trade_balance"] = nation_trade_balance

ORACLES["orders_backlog"] = """
    WITH opened AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               count(*) AS n_opened
        FROM orders GROUP BY 1
    ),
    shipped AS (
        SELECT CAST(date_trunc('month', ship_done) AS DATE) AS month,
               count(*) AS n_shipped
        FROM (SELECT l_orderkey, max(l_shipdate) AS ship_done
              FROM lineitem GROUP BY 1)
        GROUP BY 1
    ),
    monthly AS (
        SELECT COALESCE(o.month, s.month) AS month,
               COALESCE(n_opened, 0) AS n_opened,
               COALESCE(n_shipped, 0) AS n_shipped
        FROM opened o FULL OUTER JOIN shipped s ON o.month = s.month
    )
    SELECT month, n_opened, n_shipped,
           -- CAST: DuckDB windowed SUM(BIGINT) yields HUGEINT, which
           -- hash-mismatches Spark's BIGINT even when values are equal.
           CAST(SUM(n_opened - n_shipped) OVER (ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
    FROM monthly
"""

ORACLES["nation_trade_balance"] = """
    WITH exports AS (
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS export_rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    imports AS (
        SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS import_rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    )
    SELECT e.n_name, e.o_year, export_rev, import_rev,
           export_rev - import_rev AS balance
    FROM exports e JOIN imports i ON e.n_name = i.n_name AND e.o_year = i.o_year
"""


# Supplier scorecard — revenue, volume, and delivery performance per
# supplier, top-20 by revenue. On-time = shipped within 30 days of the
# order date (the test schema carries no commitdate); one
# lineitem⋈orders shuffle join with conditional aggregates, supplier
# dim broadcast in for names.
def supplier_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread on the JOIN key: the lineitem⋈orders join shuffles on
    # l_orderkey anyway — pinning that exchange at core count both
    # parallelizes the decimal/date math and stops AQE folding the
    # tiny local shuffle to one partition
    li = spread(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    s = table(spark, sf_dir, "supplier")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            _sum_money(DISC_PRICE, "revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
            F.expr(
                "CAST(SUM(CASE WHEN datediff(CAST(l_shipdate AS DATE), "
                "CAST(o_orderdate AS DATE)) <= 30 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_on_time"),
            F.expr(
                "CAST(SUM(datediff(CAST(l_shipdate AS DATE), "
                "CAST(o_orderdate AS DATE))) AS BIGINT)"
            ).alias("total_ship_days"),
        )
    )
    return (
        per.join(broadcast(s), per.l_suppkey == s.s_suppkey)
        .select(
            "s_name",
            "revenue",
            "n_lineitems",
            F.expr("n_on_time / n_lineitems").alias("on_time_rate"),
            F.expr("total_ship_days / n_lineitems").alias("avg_ship_days"),
        )
        .orderBy(F.col("revenue").desc(), "s_name")
        .limit(20)
    )


QUERIES["supplier_scorecard"] = supplier_scorecard

ORACLES["supplier_scorecard"] = """
    WITH per AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS DOUBLE) AS revenue,
               count(*) AS n_lineitems,
               CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                            CAST(l_shipdate AS DATE)) <= 30
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_on_time,
               CAST(SUM(date_diff('day', CAST(o_orderdate AS DATE),
                                  CAST(l_shipdate AS DATE))) AS BIGINT)
                   AS total_ship_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1
    )
    SELECT s_name, revenue, n_lineitems,
           n_on_time / CAST(n_lineitems AS DOUBLE) AS on_time_rate,
           total_ship_days / CAST(n_lineitems AS DOUBLE) AS avg_ship_days
    FROM per JOIN supplier ON l_suppkey = s_suppkey
    ORDER BY revenue DESC, s_name
    LIMIT 20
"""


# Customer recency cohorts — months-since-last-order histogram, the
# churn-risk mix report. One orders agg to per-customer last order
# (partial-aggregated), a one-row corpus max broadcast back, then a
# tiny cohort-bucket agg.
def customer_recency_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    last = o.groupBy("o_custkey").agg(F.max("o_orderdate").alias("last_order"))
    anchor = last.agg(F.max("last_order").alias("corpus_max"))
    return (
        last.join(F.broadcast(anchor))
        .select(
            F.expr(
                "CAST(LEAST(FLOOR(months_between(corpus_max, last_order) / 6), 5) "
                "AS BIGINT)"
            ).alias("halfyear_bucket")
        )
        .groupBy("halfyear_bucket")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


QUERIES["customer_recency_cohorts"] = customer_recency_cohorts

# DuckDB has no months_between; the month delta is reconstructed from
# date_diff('month') plus a day-of-month fraction exactly as Spark
# defines months_between (31-day months) — but for bucket boundaries
# only whole 6-month steps matter, so date_diff('month') with a
# day-of-month correction is exact here: months_between floors to the
# same 6-month bucket as calendar month difference adjusted by whether
# the day-of-month has been reached.
ORACLES["customer_recency_cohorts"] = """
    WITH last AS (
        SELECT o_custkey, MAX(o_orderdate) AS last_order FROM orders GROUP BY 1
    ),
    anchor AS (SELECT MAX(last_order) AS corpus_max FROM last),
    months AS (
        SELECT date_diff('month', last_order, corpus_max)
               - CASE WHEN day(corpus_max) < day(last_order) THEN 1 ELSE 0 END
                   AS full_months
        FROM last CROSS JOIN anchor
    )
    SELECT CAST(LEAST(FLOOR(full_months / 6.0), 5) AS BIGINT) AS halfyear_bucket,
           count(*) AS n_customers
    FROM months
    GROUP BY 1
"""


# ---------------------------------------------- ABC (Pareto) classes
#
# Classic warehouse ABC analysis: parts contributing the first 80% of
# cumulative revenue are class A, the next 15% B, the tail C. The
# global cumulative sum is computed DISTRIBUTED with the
# range-partition + broadcast prefix-sum-offsets pattern (the same
# trick to_pgn uses for game numbering): revenue ranks
# range-partition, each partition cumsums locally, and only
# n_partitions offset rows cross a single-partition window — never
# the parts table itself, which a plain ORDER BY window would
# serialize through one task at 100 TB. All revenue lives on an exact
# scale-4 integer grid and class boundaries are integer
# cross-multiplications, so the classification is bit-identical to
# the oracle's ordinary window formulation. The ranked frame is a
# session memo (both the offsets branch and the data branch must
# observe ONE physical partitioning).
_REV_INT = ("CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(8,2)))) * 10000 AS BIGINT)")


@session_memo("abc_ranked")
def _abc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spread(spark, sf_dir, "lineitem",
                table(spark, sf_dir, "lineitem").select(
                    "l_partkey", "l_extendedprice", "l_discount"),
                keys=("l_partkey",))
    rev = li.groupBy("l_partkey").agg(F.expr(_REV_INT).alias("r"))
    return (
        rev.repartitionByRange(F.col("r").desc(), F.col("l_partkey"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )


def abc_parts_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ranked = _abc_ranked(spark, sf_dir)
    wo = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranked.groupBy("_pid")
        .agg(F.expr("SUM(r)").alias("_psum"))
        .select(
            "_pid",
            F.coalesce(F.sum("_psum").over(wo), F.lit(0)).alias("_off"),
        )
    )
    wl = Window.partitionBy("_pid").orderBy(
        F.col("r").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    total = ranked.agg(F.expr("SUM(r)").alias("_tot"))
    return (
        ranked.withColumn("_lcum", F.sum("r").over(wl))
        .join(F.broadcast(offsets), "_pid")
        .join(F.broadcast(total))
        .select(
            # DECIMAL(38) cross-multiplication: the cumulative revenue
            # on the e4 grid approaches ~2e15 per TPC-H SF unit, so a
            # BIGINT ×100 overflows int64 around SF 40 — three orders
            # below the design point. Decimal keeps the comparison
            # exact at any scale (and matches DuckDB's HUGEINT math).
            F.expr(
                "CASE WHEN CAST(_lcum + _off AS DECIMAL(38,0)) * 100 "
                "<= CAST(_tot AS DECIMAL(38,0)) * 80 THEN 'A' "
                "WHEN CAST(_lcum + _off AS DECIMAL(38,0)) * 100 "
                "<= CAST(_tot AS DECIMAL(38,0)) * 95 THEN 'B' "
                "ELSE 'C' END"
            ).alias("abc_class"),
            "r",
        )
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("CAST(SUM(r) AS BIGINT)").alias("class_revenue_e4"),
        )
    )


QUERIES["abc_parts_revenue"] = abc_parts_revenue

ORACLES["abc_parts_revenue"] = f"""
    WITH rev AS (
        SELECT l_partkey, {_REV_INT} AS r
        FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT SUM(r) AS t FROM rev),
    c AS (
        SELECT r, SUM(r) OVER (ORDER BY r DESC, l_partkey
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
        FROM rev
    )
    SELECT CASE WHEN cum * 100 <= t * 80 THEN 'A'
                WHEN cum * 100 <= t * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           count(*) AS n_parts,
           CAST(SUM(r) AS BIGINT) AS class_revenue_e4
    FROM c CROSS JOIN tot
    GROUP BY 1
"""


# ---------------------------------------- customer value-band windows
#
# Rank-family window breadth over a GROUPED partition (never a global
# sort — each window partitions by market segment, so sorted runs are
# bounded by segment size; at 100 TB you'd band by broadcast
# approx-quantile cut points in the same output shape): quartile bands
# per segment with percent-rank / cume-dist of each band's edges and
# the segment's 2nd-highest balance. One shuffle (the window
# partition), one partial agg on top.
#
# Engine-robustness (r4 driver verdict; sharpened r5→r6): the oracle
# must NOT lean on the engine's rank-statistic library — DuckDB's
# ntile remainder placement has changed across releases, and a band is
# a GROUP KEY here, so a different remainder rule silently reshapes
# every band aggregate while keeping row count + schema (exactly the
# r3/r4 red signature). Both sides therefore derive band/pr/cd from
# the only window functions every engine agrees on bit-for-bit —
# row_number() and count(*) — via pure integer arithmetic: the
# SQL-standard ntile formula (first n%t buckets get one extra row)
# written out as integer CASE math, and ppm grids
# (rn-1)*1e6 DIV (n-1) / rn*1e6 DIV n (Spark `DIV` ↔ DuckDB `//`).
#
# r6: the LAST engine-sensitive construct removed. r3/r4/r5 all
# exposed `CAST(MIN/MAX(DOUBLE c_acctbal) AS DECIMAL(12,2))` — the
# only sampled entry with agg-of-double→DECIMAL, red all three rounds:
# double→decimal digit materialization differs across engine versions
# (Spark: shortest-repr BigDecimal HALF_UP; DuckDB: exact-binary
# conversion whose rounding mode changed across releases). The fix is
# the house pattern proven driver-green by orders_median_by_priority:
# normalize ONCE at the scan (bare-column CAST to DECIMAL(18,2), an
# unambiguous conversion since acctbal is cents-valued) → exact *100 →
# BIGINT cents, and run every window / agg / exposed column on that
# integer grid. Exposed schema is VARCHAR/INT/BIGINT only.
def w_customer_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    ranked = c.selectExpr(
        "c_mktsegment",
        "c_custkey",
        # BIGINT cents at the scan: the only double→exact conversion,
        # bare-column (no arithmetic, no aggregate inside the cast)
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_c",
    ).selectExpr(
        "c_mktsegment",
        "bal_c",
        # row_number() is INT in Spark (BIGINT in DuckDB): widen before
        # the *1e6 grid multiply or it overflows int32 beyond ~2147 rows
        "CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
        "ORDER BY bal_c DESC, c_custkey) AS BIGINT) AS rn",
        "COUNT(*) OVER (PARTITION BY c_mktsegment) AS nseg",
    )
    banded = ranked.selectExpr(
        "c_mktsegment",
        "bal_c",
        # standard ntile(4): base = n DIV 4, rem = n % 4; rows
        # 1..rem*(base+1) fall in the first rem (base+1)-sized
        # buckets, the rest in base-sized buckets. CASE keeps the
        # base=0 division unreachable when n < 4.
        "CAST(CASE WHEN rn <= (nseg % 4) * (nseg DIV 4 + 1) "
        "THEN (rn - 1) DIV (nseg DIV 4 + 1) + 1 "
        "ELSE (nseg % 4) + (rn - 1 - (nseg % 4) * (nseg DIV 4 + 1)) "
        "DIV (nseg DIV 4) + 1 END AS INT) AS band",
        "CASE WHEN nseg = 1 THEN CAST(0 AS BIGINT) "
        "ELSE (rn - 1) * 1000000 DIV (nseg - 1) END AS pr",
        "rn * 1000000 DIV nseg AS cd",
        "MAX(CASE WHEN rn = 2 THEN bal_c END) "
        "OVER (PARTITION BY c_mktsegment) AS second_highest_c",
    )
    return banded.groupBy("c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.expr("MIN(bal_c)").alias("min_bal_c"),
        F.expr("MAX(bal_c)").alias("max_bal_c"),
        F.min("pr").alias("pr_lo"),
        F.max("cd").alias("cd_hi"),
        F.expr("MAX(second_highest_c)").alias("second_highest_c"),
    )


QUERIES["w_customer_value_bands"] = w_customer_value_bands

ORACLES["w_customer_value_bands"] = """
    WITH cents AS (
        SELECT c_mktsegment, c_custkey,
               CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS bal_c
        FROM customer
    ),
    ranked AS (
        SELECT c_mktsegment, bal_c,
               CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                        ORDER BY bal_c DESC, c_custkey) AS BIGINT) AS rn,
               COUNT(*) OVER (PARTITION BY c_mktsegment) AS nseg
        FROM cents
    ),
    banded AS (
        SELECT c_mktsegment, bal_c,
               CAST(CASE WHEN rn <= (nseg % 4) * (nseg // 4 + 1)
                    THEN (rn - 1) // (nseg // 4 + 1) + 1
                    ELSE (nseg % 4) + (rn - 1 - (nseg % 4) * (nseg // 4 + 1))
                         // (nseg // 4) + 1 END AS INT) AS band,
               CASE WHEN nseg = 1 THEN CAST(0 AS BIGINT)
                    ELSE (rn - 1) * 1000000 // (nseg - 1) END AS pr,
               rn * 1000000 // nseg AS cd,
               MAX(CASE WHEN rn = 2 THEN bal_c END)
                   OVER (PARTITION BY c_mktsegment) AS second_highest_c
        FROM ranked
    )
    SELECT c_mktsegment, band,
           COUNT(*) AS n_customers,
           MIN(bal_c) AS min_bal_c,
           MAX(bal_c) AS max_bal_c,
           MIN(pr) AS pr_lo,
           MAX(cd) AS cd_hi,
           MAX(second_highest_c) AS second_highest_c
    FROM banded
    GROUP BY c_mktsegment, band
"""


# ------------------------------------- SQL surface: windowed CTE query
#
# Second pure-SQL-surface entry (next to sql_revenue_by_region): a
# user-authored CTE + window + top-1-per-group query run verbatim via
# spark.sql over the registered views — the "paste your warehouse SQL
# at the engine" path. ANSI enough that the IDENTICAL string is the
# DuckDB oracle; the plan is the same broadcast-dim + single
# fact-shuffle shape as the DataFrame twin would build.
_SQL_TOP_CUSTOMER_PER_NATION = """
    WITH spend AS (
        SELECT c.c_custkey, c.c_name, n.n_name,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DOUBLE) AS total_spend,
               COUNT(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY c.c_custkey, c.c_name, n.n_name
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY n_name
                                     ORDER BY total_spend DESC, c_custkey)
                      AS rn
        FROM spend
    )
    SELECT n_name, c_custkey, c_name, total_spend, n_orders
    FROM ranked WHERE rn = 1
"""


def sql_top_customer_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_TOP_CUSTOMER_PER_NATION)


QUERIES["sql_top_customer_per_nation"] = sql_top_customer_per_nation
ORACLES["sql_top_customer_per_nation"] = _SQL_TOP_CUSTOMER_PER_NATION


# --------------------------------------------------- cohort LTV curves
#
# Customer lifetime value by acquisition cohort: cohort = month of the
# customer's first order; for each (cohort, months-since-first) report
# the cohort's cumulative revenue and LTV per acquired customer — the
# curve a growth team reads to see payback periods. Month arithmetic is
# pure integers (year*12 + month), revenue sums exact decimal, and the
# cumulative window partitions BY COHORT ordered by month index
# (bounded sorted runs — never a global sort); cohort sizes ride a
# broadcast of the tiny per-cohort dimension.
def customer_ltv_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    first = o.groupBy("o_custkey").agg(
        F.expr("MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1)")
        .alias("m0")
    )
    # `first` is one row per customer already — a plain count suffices
    cohort_sizes = first.groupBy("m0").agg(
        F.count(F.lit(1)).alias("cohort_customers")
    )
    monthly = (
        o.join(first, "o_custkey")
        .withColumn(
            "months_since",
            F.expr(
                "CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 - m0 "
                "AS BIGINT)"
            ),
        )
        .groupBy("m0", "months_since")
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.expr(
                "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))"
            ).alias("revenue"),
        )
    )
    return (
        monthly
        .withColumn(
            "cum_revenue",
            F.expr(
                "CAST(SUM(revenue) OVER (PARTITION BY m0 ORDER BY months_since "
                "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
                "AS DECIMAL(18,2))"
            ),
        )
        .join(F.broadcast(cohort_sizes), "m0")
        .select(
            F.expr("CONCAT(CAST(m0 DIV 12 AS STRING), '-', "
                   "LPAD(CAST(m0 % 12 + 1 AS STRING), 2, '0'))")
            .alias("cohort_month"),
            "months_since",
            "n_active",
            "cohort_customers",
            F.expr("CAST(cum_revenue AS DOUBLE)").alias("cum_revenue"),
            F.expr("CAST(ROUND(CAST(cum_revenue AS DOUBLE) "
                   "/ cohort_customers * 1e6) AS BIGINT)")
            .alias("ltv_per_customer"),
        )
    )


QUERIES["customer_ltv_cohorts"] = customer_ltv_cohorts

ORACLES["customer_ltv_cohorts"] = """
    WITH first AS (
        SELECT o_custkey,
               MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m0
        FROM orders GROUP BY 1
    ),
    sizes AS (
        SELECT m0, COUNT(DISTINCT o_custkey) AS cohort_customers
        FROM first GROUP BY 1
    ),
    monthly AS (
        SELECT f.m0,
               CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - 1
                    - f.m0 AS BIGINT) AS months_since,
               COUNT(DISTINCT o.o_custkey) AS n_active,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS revenue
        FROM orders o JOIN first f ON o.o_custkey = f.o_custkey
        GROUP BY 1, 2
    ),
    cum AS (
        SELECT m0, months_since, n_active,
               CAST(SUM(revenue) OVER (PARTITION BY m0 ORDER BY months_since
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DECIMAL(18,2)) AS cum_revenue
        FROM monthly
    )
    SELECT CAST(m0 // 12 AS VARCHAR) || '-'
               || lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0') AS cohort_month,
           months_since, n_active, s.cohort_customers,
           CAST(cum_revenue AS DOUBLE) AS cum_revenue,
           CAST(ROUND(CAST(cum_revenue AS DOUBLE) / s.cohort_customers * 1e6)
                AS BIGINT) AS ltv_per_customer
    FROM cum JOIN sizes s USING (m0)
"""


# ------------------------------------------- supplier concentration
#
# Herfindahl–Hirschman market-concentration index per part type: each
# supplier's share of the type's supply cost, squared and summed
# (HHI ∈ (0, 1]; 1 = monopoly). Two partial-agg shuffles — per
# (type, supplier) then per type — with BOTH the squared-cost sum and
# the total-cost sum as exact decimals (a double SUM's accumulation
# order differs across partitionings/engines) and one double division
# at the end; no window, no join beyond the broadcast part dim. The
# procurement-risk readout next to q16's variety count.
def part_type_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem")
    supply = (
        l.join(F.broadcast(p.select("p_partkey", "p_type")),
               l.l_partkey == p.p_partkey)
        .groupBy("p_type", "l_suppkey")
        .agg(
            F.expr(
                "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) "
                "AS DECIMAL(18,2))"
            ).alias("supplier_cost")
        )
    )
    return (
        supply.groupBy("p_type")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr(
                "CAST(SUM(supplier_cost) AS DOUBLE)"
            ).alias("total_cost"),
            F.expr(
                "CAST(ROUND(CAST(SUM(supplier_cost * supplier_cost) AS DOUBLE) "
                "/ POW(CAST(SUM(supplier_cost) AS DOUBLE), 2) * 1e9) AS BIGINT)"
            ).alias("hhi"),
        )
    )


QUERIES["part_type_hhi"] = part_type_hhi

ORACLES["part_type_hhi"] = """
    WITH supply AS (
        SELECT p.p_type, l.l_suppkey,
               CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS supplier_cost
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    )
    SELECT p_type,
           COUNT(*) AS n_suppliers,
           CAST(SUM(supplier_cost) AS DOUBLE) AS total_cost,
           CAST(ROUND(CAST(SUM(supplier_cost * supplier_cost) AS DOUBLE)
                 / POW(CAST(SUM(supplier_cost) AS DOUBLE), 2) * 1e9)
                AS BIGINT) AS hhi
    FROM supply GROUP BY 1
"""


# -------------------------------------------- priority share trends
#
# Is expedited ordering growing? Monthly share of each order priority,
# with an integer-grid OLS slope per priority over the month index
# (the doc_zipf_slope formulation, text.py: exact integer sums into
# one double division — no window over time, order-independent). Two
# partial-agg shuffles and a broadcast of the tiny per-month totals.
def orders_priority_share_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate) - 1").alias("m"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n"))
    totals = monthly.groupBy("m").agg(F.sum("n").alias("n_month"))
    shares = (
        monthly.join(F.broadcast(totals), "m")
        .select(
            "o_orderpriority",
            "m",
            F.expr(
                "CAST(round(n * 1000000.0 / n_month) AS BIGINT)"
            ).alias("share_ppm"),
        )
    )
    base = shares.agg(F.min("m").alias("m_min"))
    xy = shares.crossJoin(F.broadcast(base)).select(
        "o_orderpriority",
        F.expr("CAST(m - m_min AS BIGINT)").alias("x"),
        F.col("share_ppm").alias("y"),
    )
    return xy.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_months"),
        # ppm / nano grids (mean in ppm; slope in nano-share/month)
        F.expr("CAST(ROUND(AVG(CAST(y AS DOUBLE))) AS BIGINT)")
        .alias("mean_share"),
        # NULLIF: a single-month series has zero x-variance — emit
        # NULL, not 0/0 = NaN
        F.expr(
            "CAST(ROUND(CAST(count(*) * SUM(x * y) - SUM(x) * SUM(y) "
            "AS DOUBLE) / "
            "NULLIF(CAST(count(*) * SUM(x * x) - SUM(x) * SUM(x) "
            "AS DOUBLE), 0) * 1e3) AS BIGINT)"
        ).alias("share_slope_per_month"),
    )


QUERIES["orders_priority_share_trend"] = orders_priority_share_trend

ORACLES["orders_priority_share_trend"] = """
    WITH monthly AS (
        SELECT year(o_orderdate) * 12 + month(o_orderdate) - 1 AS m,
               o_orderpriority, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    totals AS (SELECT m, SUM(n) AS n_month FROM monthly GROUP BY 1),
    shares AS (
        SELECT o_orderpriority, m,
               CAST(round(n * 1000000.0 / n_month) AS BIGINT) AS share_ppm
        FROM monthly JOIN totals USING (m)
    ),
    base AS (SELECT MIN(m) AS m_min FROM shares),
    xy AS (
        SELECT o_orderpriority, CAST(m - m_min AS BIGINT) AS x,
               share_ppm AS y
        FROM shares CROSS JOIN base
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_months,
           CAST(ROUND(AVG(CAST(y AS DOUBLE))) AS BIGINT) AS mean_share,
           CAST(ROUND(CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS DOUBLE) /
                 NULLIF(CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)
                             AS DOUBLE), 0)
                 * 1e3) AS BIGINT) AS share_slope_per_month
    FROM xy GROUP BY 1
"""


# --------------------------------------------- order-value ANOVA
#
# Does order priority associate with order value? One-way ANOVA of
# o_totalprice across priorities: F = between-group variance /
# within-group variance. Determinism discipline: every cross-row SUM
# is over EXACT values (decimal sums; the Σ s²/n term is rounded to
# an integer per group before summing) because a double SUM's
# accumulation order differs between engines — division to double
# happens only in row-local final expressions. One data shuffle; the
# grand row broadcasts.
def orders_value_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "SUM(CAST(o_totalprice AS DECIMAL(18,2)))"
        ).alias("s"),
        F.expr(
            "SUM(CAST(o_totalprice AS DECIMAL(18,2)) "
            "* CAST(o_totalprice AS DECIMAL(18,2)))"
        ).alias("ss"),
    )
    grand = per_g.agg(
        F.sum("n").alias("nt"),
        F.expr("SUM(s)").alias("st"),
        F.expr("SUM(ss)").alias("sst"),
        F.count(F.lit(1)).alias("k"),
        # r4 lesson (driver verdict): NEVER materialize a >2^53 double
        # into DECIMAL/BIGINT digits — Spark's BigDecimal.valueOf
        # (shortest-repr) and DuckDB's exact-binary conversion disagree
        # below the ulp. Scale the double under 2^53 FIRST (s²/n is
        # ~nt·mean² ≈ 3e19 at sf1000; /1e6 → ~3e13), THEN round: the
        # divide is identical IEEE arithmetic on both engines and the
        # BIGINT cast is exact. The per-group terms then sum exactly.
        F.expr(
            "SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n "
            "/ 1e6) AS BIGINT))"
        ).alias("ssb_num_m"),
    )
    return (
        per_g.crossJoin(F.broadcast(grand))
        .select(
            "o_orderpriority",
            "n",
            # grids: mean on ppm BIGINT; ssb contributions on a
            # millions-grid BIGINT (scaled before rounding, see above);
            # F on ppm BIGINT
            F.expr("CAST(ROUND(CAST(s AS DOUBLE) / n * 1e6) AS BIGINT)")
            .alias("mean_value"),
            F.expr(
                "CAST(ROUND((CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n "
                "- CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt * n / nt) "
                "/ 1e6) AS BIGINT)"
            ).alias("ssb_contrib_m"),
            F.expr(
                "CAST(ROUND(((CAST(ssb_num_m AS DOUBLE) * 1e6 "
                "- CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt) / (k - 1)) "
                "/ ((CAST(sst AS DOUBLE) - CAST(ssb_num_m AS DOUBLE) * 1e6) "
                "/ (nt - k)) * 1e6) AS BIGINT)"
            ).alias("f_stat"),
        )
    )


QUERIES["orders_value_anova"] = orders_value_anova

ORACLES["orders_value_anova"] = """
    WITH per_g AS (
        SELECT o_orderpriority, COUNT(*) AS n,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))
                   * CAST(o_totalprice AS DECIMAL(18,2))) AS ss
        FROM orders GROUP BY 1
    ),
    grand AS (
        SELECT SUM(n) AS nt, SUM(s) AS st, SUM(ss) AS sst, COUNT(*) AS k,
               SUM(CAST(ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
                        / 1e6) AS BIGINT)) AS ssb_num_m
        FROM per_g
    )
    SELECT o_orderpriority, n,
           CAST(ROUND(CAST(s AS DOUBLE) / n * 1e6) AS BIGINT) AS mean_value,
           CAST(ROUND((CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n
                 - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt * n / nt)
                / 1e6) AS BIGINT) AS ssb_contrib_m,
           CAST(ROUND(((CAST(ssb_num_m AS DOUBLE) * 1e6
                   - CAST(st AS DOUBLE) * CAST(st AS DOUBLE) / nt)
                  / (k - 1)) /
                 ((CAST(sst AS DOUBLE) - CAST(ssb_num_m AS DOUBLE) * 1e6)
                  / (nt - k)) * 1e6) AS BIGINT) AS f_stat
    FROM per_g CROSS JOIN grand
"""


# ------------------------ exact per-group median, engine-proof shape
#
# Exact median order value per priority WITHOUT any engine median /
# percentile_cont call (whose interpolation and NULL rules drift
# across engines/versions): rank each group with row_number over a
# deterministic total order (value, then key as tiebreak), keep the
# one or two middle rows by integer arithmetic, and expose the SUM of
# the middle values in exact-decimal cents ×2-invariant form
# (odd group: 2×the middle row; even: the two middles) — so the
# median is median_x2_cents / 200, but the exposed column is pure
# BIGINT and bit-identical everywhere. One window + one groupBy on
# the same key.
def orders_median_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    ranked = o.select(
        "o_orderpriority",
        F.expr("CAST(o_totalprice AS DECIMAL(18,2))").alias("price"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        ).cast("long").alias("n"),
    )
    mid = ranked.filter(
        "(n % 2 = 1 AND rn = (n + 1) DIV 2) "
        "OR (n % 2 = 0 AND (rn = n DIV 2 OR rn = n DIV 2 + 1))"
    )
    return mid.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.expr(
            "CAST(SUM(price * 100) * IF(MAX(n) % 2 = 1, 2, 1) AS BIGINT)"
        ).alias("median_x2_cents"),
    )


QUERIES["orders_median_by_priority"] = orders_median_by_priority

ORACLES["orders_median_by_priority"] = """
    WITH ranked AS (
        SELECT o_orderpriority,
               CAST(o_totalprice AS DECIMAL(18,2)) AS price,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY o_orderpriority)
                   AS BIGINT) AS n
        FROM orders
    )
    SELECT o_orderpriority, max(n) AS n_orders,
           CAST(SUM(price * 100)
                * CASE WHEN MAX(n) % 2 = 1 THEN 2 ELSE 1 END AS BIGINT)
               AS median_x2_cents
    FROM ranked
    WHERE (n % 2 = 1 AND rn = (n + 1) // 2)
       OR (n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1))
    GROUP BY o_orderpriority
"""


# ----------------------------------- entity resolution (blocked fuzzy)
#
# Blocking + edit-distance entity resolution over the customer
# dimension — the classic MDM/dedupe shape (Fellegi-Sunter blocking
# stage): candidate pairs are generated ONLY within a blocking key
# (c_nationkey, 16-char name prefix), so the comparison count is
# Σ block² — never the |customers|² cross join that's impossible at
# scale. Within a block every pair is scored with Levenshtein edit
# distance (built into both Spark and DuckDB with identical classic
# semantics, JVM-side on the Spark plan) and bucketed: distance ≤ 1 is
# a near-certain duplicate, 2 a review candidate. The report
# aggregates per nation: blocks, pairs compared, and match-bucket
# counts — all BIGINT. The same pattern at 100 TB: the block key is
# the shuffle key, hot blocks get salted exactly like the MinHash
# band buckets (operators/dedup.py).
def er_customer_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    blocked = c.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.expr("substring(c_name, 1, 16)").alias("blk"),
    )
    pairs = (
        blocked.alias("a")
        .join(
            blocked.alias("b"),
            [
                F.col("a.c_nationkey") == F.col("b.c_nationkey"),
                F.col("a.blk") == F.col("b.blk"),
                F.col("a.c_custkey") < F.col("b.c_custkey"),
            ],
        )
        .select(
            F.col("a.c_nationkey").alias("c_nationkey"),
            F.levenshtein("a.c_name", "b.c_name").alias("d"),
        )
    )
    blocks = blocked.groupBy("c_nationkey").agg(
        F.expr("CAST(COUNT(DISTINCT blk) AS BIGINT)").alias("n_blocks")
    )
    return (
        pairs.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr(
                "CAST(SUM(CASE WHEN d <= 1 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dup_certain"),
            F.expr(
                "CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)"
            ).alias("n_dup_review"),
        )
        .join(broadcast(blocks), "c_nationkey")
        .select(
            "c_nationkey",
            "n_blocks",
            "n_pairs",
            "n_dup_certain",
            "n_dup_review",
        )
    )


QUERIES["er_customer_blocks"] = er_customer_blocks

ORACLES["er_customer_blocks"] = """
    WITH blocked AS (
        SELECT c_custkey, c_name, c_nationkey,
               substring(c_name, 1, 16) AS blk
        FROM customer
    ),
    pairs AS (
        SELECT a.c_nationkey,
               levenshtein(a.c_name, b.c_name) AS d
        FROM blocked a
        JOIN blocked b
          ON a.c_nationkey = b.c_nationkey
         AND a.blk = b.blk
         AND a.c_custkey < b.c_custkey
    ),
    blocks AS (
        SELECT c_nationkey,
               CAST(COUNT(DISTINCT blk) AS BIGINT) AS n_blocks
        FROM blocked GROUP BY 1
    ),
    agg AS (
        SELECT c_nationkey, count(*) AS n_pairs,
               CAST(SUM(CASE WHEN d <= 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_certain,
               CAST(SUM(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dup_review
        FROM pairs GROUP BY 1
    )
    SELECT a.c_nationkey, n_blocks, n_pairs, n_dup_certain, n_dup_review
    FROM agg a JOIN blocks b ON a.c_nationkey = b.c_nationkey
"""


# --------------------------------------------- join-key skew profiler
#
# The pre-flight check before any big join: how skewed is the key?
# For each candidate join key the profiler reports rows-per-key
# distribution stats — exact p50/p99/max via the house middle-row
# selection over the (much smaller) per-key count table, and the
# max/mean ratio on a ×100 integer grid (the number AQE's skew-join
# threshold reasons about; ev_skew_salted_join is the remediation this
# report tells you to reach for). Per key: one partial-agg shuffle to
# build counts, then rank math over |keys| rows — at 100 TB the counts
# table is orders of magnitude smaller than the fact table, which is
# the whole point of profiling counts instead of rows.
def _key_skew_arm(df: DataFrame, key: str, label: str) -> DataFrame:
    counts = df.groupBy(key).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("cnt")
    ranked = counts.select(
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n_keys"),
        F.sum("cnt")
        .over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n_rows"),
    )
    return ranked.groupBy("n_keys", "n_rows").agg(
        F.lit(label).alias("key_col"),
        F.expr(
            "CAST(MAX(CASE WHEN rn = (n_keys + 1) DIV 2 THEN cnt END) "
            "AS BIGINT)"
        ).alias("p50_rows"),
        F.expr(
            "CAST(MAX(CASE WHEN rn = (99 * n_keys + 99) DIV 100 THEN cnt "
            "END) AS BIGINT)"
        ).alias("p99_rows"),
        F.expr("CAST(MAX(cnt) AS BIGINT)").alias("max_rows"),
    ).select(
        "key_col",
        "n_rows",
        "n_keys",
        F.expr("n_rows * 100 DIV n_keys").alias("avg_x100"),
        "p50_rows",
        "p99_rows",
        "max_rows",
        F.expr("max_rows * 100 * n_keys DIV n_rows").alias("skew_x100"),
    )


def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        _key_skew_arm(orders, "o_custkey", "orders.o_custkey")
        .unionByName(_key_skew_arm(li, "l_partkey", "lineitem.l_partkey"))
        .unionByName(_key_skew_arm(li, "l_suppkey", "lineitem.l_suppkey"))
    )


QUERIES["join_key_skew_profile"] = join_key_skew_profile

_SKEW_ARM_SQL = """
        WITH counts AS (
            SELECT {key} AS k, count(*) AS cnt FROM {tbl} GROUP BY 1
        ),
        ranked AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt) AS rn,
                   count(*) OVER () AS n_keys,
                   SUM(cnt) OVER () AS n_rows
            FROM counts
        )
        SELECT '{label}' AS key_col,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_keys AS BIGINT) AS n_keys,
               CAST(n_rows * 100 // n_keys AS BIGINT) AS avg_x100,
               CAST(MAX(CASE WHEN rn = (n_keys + 1) // 2 THEN cnt END)
                    AS BIGINT) AS p50_rows,
               CAST(MAX(CASE WHEN rn = (99 * n_keys + 99) // 100 THEN cnt
                    END) AS BIGINT) AS p99_rows,
               CAST(MAX(cnt) AS BIGINT) AS max_rows,
               CAST(MAX(cnt) * 100 * n_keys // n_rows AS BIGINT)
                   AS skew_x100
        FROM ranked GROUP BY n_keys, n_rows"""

ORACLES["join_key_skew_profile"] = " UNION ALL ".join(
    "SELECT * FROM (" + _SKEW_ARM_SQL.format(key=k, tbl=t, label=lb) + ")"
    for k, t, lb in [
        ("o_custkey", "orders", "orders.o_custkey"),
        ("l_partkey", "lineitem", "lineitem.l_partkey"),
        ("l_suppkey", "lineitem", "lineitem.l_suppkey"),
    ]
)


# ---------------------------------- temporal (point-in-time) SCD2 join
#
# The point-in-time dimension lookup every warehouse needs once it has
# SCD2 history: enrich a fact row with the dimension version that was
# CURRENT at the fact's own timestamp — here each lineitem joined to
# the customer's order-history version (scd2_order_history's interval
# table) in effect on the item's ship date. The join is an equi-join
# on the customer key with a residual interval predicate
# (valid_from <= d < valid_to, NULL-open tail), so Spark executes one
# keyed shuffle with row-local interval filtering; SCD2 intervals
# partition the timeline per key (same-day versions collapse to empty
# intervals), so the join is provably fanout-free — every fact row
# matches at most one version. The report aggregates by the as-of
# status with exact-decimal quantity sums. At 100 TB both sides
# shuffle once on the customer key; bucketed tables make it
# exchange-free (pkg/sinks.py bucketed join).
def _scd2_dim(o: DataFrame) -> DataFrame:
    """SCD2 interval table from orders (shared by the shuffle-join
    query entry and the bucketed exchange-free serving variant)."""
    w = "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey"
    return o.select(
        F.col("o_custkey").alias("d_custkey"),
        "o_orderstatus",
        F.col("o_orderdate").alias("valid_from"),
        F.expr(f"lead(o_orderdate) OVER ({w})").alias("valid_to"),
        F.expr(f"CAST(row_number() OVER ({w}) AS BIGINT)").alias("version"),
    )


def _scd2_fact(li: DataFrame, o: DataFrame) -> DataFrame:
    return li.join(
        o.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("o_custkey", "l_orderkey", "l_shipdate", "l_quantity")


def _scd2_pit_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Point-in-time join: equi-key + interval residual, fanout-free
    since SCD2 intervals partition the timeline per key."""
    return fact.join(
        dim,
        (F.col("o_custkey") == F.col("d_custkey"))
        & (F.col("l_shipdate") >= F.col("valid_from"))
        & (F.col("valid_to").isNull()
           | (F.col("l_shipdate") < F.col("valid_to"))),
        "left",
    )


def _scd2_report(joined: DataFrame) -> DataFrame:
    return joined.groupBy(
        F.coalesce("o_orderstatus", F.lit("NONE")).alias("as_of_status")
    ).agg(
        F.count(F.lit(1)).alias("n_lineitems"),
        F.expr("CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)").alias(
            "n_orders"
        ),
        F.expr(
            "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))"
        ).alias("sum_qty"),
        F.expr("CAST(MAX(version) AS BIGINT)").alias("max_version"),
    )


def temporal_scd2_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # spread the fact side on its join key (see supplier_scorecard)
    li = spread(spark, sf_dir, "lineitem")
    return _scd2_report(_scd2_pit_join(_scd2_fact(li, o), _scd2_dim(o)))


def temporal_scd2_join_bucketed(spark: SparkSession, sf_dir: str,
                                n_buckets: int = 8,
                                prefix: str = "scd2_pit") -> DataFrame:
    """The 100 TB SERVING shape of the point-in-time join: both sides
    written ONCE as bucketed+sorted tables on the customer key
    (sinks.write_bucketed), after which every point-in-time lookup is
    a sort-merge join over pre-co-located buckets — ZERO exchange in
    the join plan (asserted in tests/test_sinks.py). The dim build
    pays its window shuffle at write time; the recurring cost, the
    fact-dim join every downstream query repeats, never shuffles
    again. Side-effectful (saveAsTable), so tests-only — not a
    queries() entry. Returns the pre-aggregation joined frame so
    callers can assert the join plan before composing aggregates."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark import sinks

    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    sinks.write_bucketed(_scd2_dim(o), f"{prefix}_dim", ["d_custkey"],
                         n_buckets, sort_cols=["d_custkey"])
    sinks.write_bucketed(_scd2_fact(li, o), f"{prefix}_fact", ["o_custkey"],
                         n_buckets, sort_cols=["o_custkey"])
    fact = spark.table(f"{prefix}_fact")
    dim = spark.table(f"{prefix}_dim")
    # merge hint: at test scale AQE would broadcast (its own exchange);
    # the scale-relevant plan is the exchange-free sort-merge join
    return _scd2_pit_join(fact.hint("merge"), dim)


QUERIES["temporal_scd2_join"] = temporal_scd2_join

ORACLES["temporal_scd2_join"] = """
    WITH dim AS (
        SELECT o_custkey AS d_custkey, o_orderstatus,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                   AS valid_to,
               CAST(row_number() OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)
                    AS BIGINT) AS version
        FROM orders
    ),
    fact AS (
        SELECT o.o_custkey, l.l_orderkey, l.l_shipdate, l.l_quantity
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    joined AS (
        SELECT f.*, d.o_orderstatus, d.version
        FROM fact f
        LEFT JOIN dim d
          ON f.o_custkey = d.d_custkey
         AND f.l_shipdate >= d.valid_from
         AND (d.valid_to IS NULL OR f.l_shipdate < d.valid_to)
    )
    SELECT COALESCE(o_orderstatus, 'NONE') AS as_of_status,
           count(*) AS n_lineitems,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(18,2))
               AS sum_qty,
           CAST(MAX(version) AS BIGINT) AS max_version
    FROM joined GROUP BY 1
"""


# -------------------------------------- recursive CTE (Spark 4 surface)
#
# WITH RECURSIVE hierarchy rollup — the org-chart/bill-of-materials
# query class that needs true recursion (depth is data-dependent, so
# no fixed number of self-joins expresses it). Spark gained recursive
# CTEs in 4.0; this runs one THROUGH spark.sql against a supplier
# hierarchy derived arithmetically on both engines (parent = suppkey
# DIV 10 — a 10-ary tree over the real supplier table; suppkeys are
# 0-based, so the `>= 10` guard keeps node 0 from being its own child
# and the recursion provably terminates at depth ceil(log10(n))).
# Each iteration is one broadcast-able join of the frontier against
# supplier; the frontier is O(level width), never the cumulative tree,
# so the 100 TB shape is sound: Spark's UnionLoopExec feeds ONLY the
# previous step's rows to the next join. Money lands on the exact
# cents grid (BIGINT) per the engine-robustness lint.
_SQL_RECURSIVE_SUPPLIER_TREE_SPARK = """
    WITH RECURSIVE tree(root, k, depth, bal_cents) AS (
        SELECT s_suppkey, s_suppkey, 0,
               CAST(ROUND(s_acctbal * 100) AS BIGINT)
        FROM supplier WHERE s_suppkey <= 9
        UNION ALL
        SELECT t.root, s.s_suppkey, t.depth + 1,
               CAST(ROUND(s.s_acctbal * 100) AS BIGINT)
        FROM tree t JOIN supplier s
          ON s.s_suppkey DIV 10 = t.k AND s.s_suppkey >= 10
    )
    SELECT CAST(root AS BIGINT) AS root,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(bal_cents) AS BIGINT) AS subtree_bal_cents,
           CAST(MAX(depth) AS BIGINT) AS max_depth
    FROM tree GROUP BY root
"""


def sql_recursive_supplier_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_RECURSIVE_SUPPLIER_TREE_SPARK)


QUERIES["sql_recursive_supplier_tree"] = sql_recursive_supplier_tree
# identical text modulo integer-division spelling (Spark DIV, DuckDB //)
ORACLES["sql_recursive_supplier_tree"] = (
    _SQL_RECURSIVE_SUPPLIER_TREE_SPARK.replace("DIV", "//")
)


# ----------------------------------- LATERAL correlated subquery (SQL)
#
# The LATERAL join surface — "for each outer row, run this correlated
# subquery" — is how SQL users write per-group top-k without window
# functions. Catalyst decorrelates it (DecorrelateInnerQuery) into a
# ranked join rather than executing the subquery per row, so the plan
# is the same shuffle-once shape as the window formulation; the entry
# pins that rewrite. The statement text is fully engine-portable and
# IS the oracle, like sql_revenue_by_region. Money is exposed on the
# exact BIGINT cents grid; ORDER BY ties break on c_name.
_SQL_LATERAL_TOPK = """
    SELECT n.n_name, c.c_name, c.bal_cents
    FROM nation n,
    LATERAL (
        SELECT c_name, CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer WHERE c_nationkey = n.n_nationkey
        ORDER BY bal_cents DESC, c_name LIMIT 2
    ) c
"""


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_LATERAL_TOPK)


QUERIES["sql_lateral_topk"] = sql_lateral_topk
ORACLES["sql_lateral_topk"] = _SQL_LATERAL_TOPK


# --------------------------- chi-square independence (categorical)
#
# The categorical sibling of orders_value_anova (continuous Y): is
# order PRIORITY independent of order STATUS? Pearson's chi-square
# over the 5×3 contingency table — per cell, observed count vs the
# independence expectation r_i·c_j/N and the cell's χ² contribution.
# Determinism discipline: the contingency counts, row/column totals
# and N are exact BIGINTs from ONE groupBy shuffle (the marginals are
# re-aggregations of the tiny cell table, broadcast back); expected
# and contribution are single row-local double formulas over those
# ints, written identically in the oracle, exposed on ×1e3 grids.
# No engine stat library anywhere (rule A), nothing wide (rule B).
def stat_priority_status_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cells = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_obs")
    )
    rows = cells.groupBy("o_orderpriority").agg(F.sum("n_obs").alias("r"))
    cols = cells.groupBy("o_orderstatus").agg(F.sum("n_obs").alias("c"))
    grand = cells.agg(F.sum("n_obs").alias("nt"))
    return (
        cells.join(F.broadcast(rows), "o_orderpriority")
        .join(F.broadcast(cols), "o_orderstatus")
        .crossJoin(F.broadcast(grand))
        .selectExpr(
            "o_orderpriority",
            "o_orderstatus",
            "n_obs",
            "CAST(ROUND(CAST(r AS DOUBLE) * CAST(c AS DOUBLE) "
            "/ CAST(nt AS DOUBLE) * 1e3) AS BIGINT) AS expected_m",
            "CAST(ROUND((CAST(n_obs AS DOUBLE) - CAST(r AS DOUBLE) "
            "* CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) "
            "* (CAST(n_obs AS DOUBLE) - CAST(r AS DOUBLE) "
            "* CAST(c AS DOUBLE) / CAST(nt AS DOUBLE)) "
            "/ (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) "
            "/ CAST(nt AS DOUBLE)) * 1e3) AS BIGINT) AS chi2_contrib_m",
        )
    )


QUERIES["stat_priority_status_chi2"] = stat_priority_status_chi2

ORACLES["stat_priority_status_chi2"] = """
    WITH cells AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS n_obs
        FROM orders GROUP BY 1, 2
    ),
    rows_t AS (SELECT o_orderpriority, SUM(n_obs) AS r FROM cells GROUP BY 1),
    cols_t AS (SELECT o_orderstatus, SUM(n_obs) AS c FROM cells GROUP BY 1),
    grand AS (SELECT SUM(n_obs) AS nt FROM cells)
    SELECT x.o_orderpriority, x.o_orderstatus, x.n_obs,
           CAST(ROUND(CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                / CAST(nt AS DOUBLE) * 1e3) AS BIGINT) AS expected_m,
           CAST(ROUND((CAST(n_obs AS DOUBLE) - CAST(r AS DOUBLE)
                 * CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                * (CAST(n_obs AS DOUBLE) - CAST(r AS DOUBLE)
                 * CAST(c AS DOUBLE) / CAST(nt AS DOUBLE))
                / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)
                 / CAST(nt AS DOUBLE)) * 1e3) AS BIGINT)
               AS chi2_contrib_m
    FROM cells x
    JOIN rows_t USING (o_orderpriority)
    JOIN cols_t USING (o_orderstatus)
    CROSS JOIN grand
"""


# ------------------------------ Kaplan-Meier customer survival curve
#
# Survival analysis next to the LTV curves (customer_ltv_cohorts asks
# "how much do they spend"; this asks "WHEN do they leave"): the
# Kaplan-Meier estimator over discrete month durations. Lifetime =
# months between a customer's first and last order; customers whose
# last order falls in the dataset's final 3 months are CENSORED
# (still alive — treating them as churned is survivorship bias, the
# estimator's whole reason to exist). s(t) = Π_{u≤t} (1 − d_u/n_u)
# with d = churn events at u, n = at-risk at u.
#
# Determinism discipline for the cumulative PRODUCT (the construct
# every engine-stat library hides): the curve is folded on the house
# ppm grid — s_t = s_{t-1}·(n_t−d_t) DIV n_t, all nonneg BIGINTs, so
# truncation is identical in Spark and DuckDB. The per-month duration
# table is tiny (≤ #months), so the per-t prefix fold (O(T²) lambda
# steps on a ≤100-element array in ONE row) costs nothing; the data
# shuffles exactly once (per-customer rollup). DuckDB's list_reduce
# evaluates struct fields sequentially, so the acc-reading field 's'
# is ordered FIRST in the step struct on the oracle side.
def customer_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1)")
        .alias("m0"),
        F.expr("MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1)")
        .alias("m1"),
    )
    horizon = per_cust.agg(F.expr("MAX(m1)").alias("mmax"))
    lifetimes = per_cust.crossJoin(F.broadcast(horizon)).selectExpr(
        "CAST(m1 - m0 AS BIGINT) AS t",
        "CASE WHEN m1 >= mmax - 2 THEN 1 ELSE 0 END AS censored",
    )
    by_t = lifetimes.groupBy("t").agg(
        F.expr("SUM(1 - censored)").alias("d"),
        F.count(F.lit(1)).alias("ending"),
    )
    # at-risk n_t = everyone whose observed lifetime is >= t: total
    # minus the running count of lifetimes that ended before t
    w = "ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING"
    stats = by_t.crossJoin(
        F.broadcast(lifetimes.agg(F.count(F.lit(1)).alias("total")))
    ).selectExpr(
        "t", "d",
        f"total - COALESCE(SUM(ending) OVER ({w}), 0) AS n",
    )
    folded = stats.agg(
        F.expr("array_sort(collect_list(named_struct("
               "'t', t, 'd', d, 'n', n)))").alias("fs")
    )
    curve = (
        "transform(sequence(1, size(fs)), i -> named_struct("
        "'t', element_at(fs, i).t, "
        "'d', element_at(fs, i).d, "
        "'n', element_at(fs, i).n, "
        "'s', aggregate(slice(fs, 1, i), CAST(1000000 AS BIGINT), "
        "(acc, e) -> acc * (e.n - e.d) DIV e.n)))"
    )
    return (
        folded.select(F.explode(F.expr(curve)).alias("p"))
        .selectExpr(
            "p.t AS duration_months",
            "p.n AS n_at_risk",
            "p.d AS n_churned",
            "p.s AS survival_ppm",
        )
    )


QUERIES["customer_survival_km"] = customer_survival_km

ORACLES["customer_survival_km"] = """
    WITH per_cust AS (
        SELECT o_custkey,
               MIN(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m0,
               MAX(year(o_orderdate) * 12 + month(o_orderdate) - 1) AS m1
        FROM orders GROUP BY 1
    ),
    horizon AS (SELECT MAX(m1) AS mmax FROM per_cust),
    lifetimes AS (
        SELECT CAST(m1 - m0 AS BIGINT) AS t,
               CASE WHEN m1 >= mmax - 2 THEN 1 ELSE 0 END AS censored
        FROM per_cust CROSS JOIN horizon
    ),
    by_t AS (
        SELECT t, SUM(1 - censored) AS d, count(*) AS ending
        FROM lifetimes GROUP BY t
    ),
    stats AS (
        SELECT t, d,
               (SELECT count(*) FROM lifetimes)
                   - COALESCE(SUM(ending) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS n
        FROM by_t
    ),
    folded AS (
        SELECT list(struct_pack(t := t, d := d, n := n) ORDER BY t) AS fs
        FROM stats
    ),
    curve AS (
        SELECT unnest(list_transform(range(1, len(fs) + 1), i ->
            struct_pack(
                t := fs[i].t, d := fs[i].d, n := fs[i].n,
                s := list_reduce(
                    list_prepend(struct_pack(s := CAST(1000000 AS BIGINT),
                                             d := CAST(0 AS BIGINT),
                                             n := CAST(1 AS BIGINT)),
                        list_transform(fs[1:i], e ->
                            struct_pack(s := CAST(0 AS BIGINT),
                                        d := e.d, n := e.n))),
                    (acc, e) -> struct_pack(
                        s := acc.s * (e.n - e.d) // e.n,
                        d := e.d, n := e.n))
                    .s))) AS p
        FROM folded
    )
    SELECT p.t AS duration_months, p.n AS n_at_risk,
           p.d AS n_churned, p.s AS survival_ppm
    FROM curve
"""


# ----------------------------- Theil-Sen robust trend estimator
#
# The robust sibling of orders_priority_share_trend's OLS slope: the
# Theil-Sen estimator (median of all pairwise slopes) has a 29.3%
# breakdown point, so a few anomalous months cannot drag the trend —
# the estimator a forecaster trusts on dirty operational series.
# Pairwise slopes live on the house ×1e6 BIGINT grid ((Δy·1e6) DIV Δx
# — identical truncation both engines); the median is the engine-free
# middle-row selection (orders_median_by_priority's pattern: lower
# median at rn = (n+1) DIV 2, ties broken by the pair key). Pair
# volume is O(months²) per priority on the TINY monthly rollup — the
# corpus contributes one partial-agg shuffle; at a century of months
# the pair table is still < 1M rows.
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        "o_orderpriority",
        F.expr("year(o_orderdate) * 12 + month(o_orderdate) - 1")
        .cast("long").alias("m"),
    ).agg(F.count(F.lit(1)).alias("y"))
    a = monthly.alias("a")
    b = monthly.alias("b")
    slopes = (
        a.join(
            b,
            (F.expr("a.o_orderpriority = b.o_orderpriority"))
            & (F.col("b.m") > F.col("a.m")),
        )
        .selectExpr(
            "a.o_orderpriority AS o_orderpriority",
            # monthly counts are data-proportional — slope numerator
            # rides DECIMAL(38,0) (rule F); the quotient fits BIGINT
            "CAST(CAST(b.y - a.y AS DECIMAL(38,0)) * 1000000 "
            "DIV (b.m - a.m) AS BIGINT) AS s_ppm",
            "a.m * 100000 + b.m AS pair_key",
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("s_ppm", "pair_key")
    ranked = slopes.select(
        "o_orderpriority",
        "s_ppm",
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        ).cast("long").alias("n"),
    )
    return (
        ranked.filter("rn = (n + 1) DIV 2")
        .selectExpr(
            "o_orderpriority",
            "n AS n_pairs",
            "s_ppm AS ts_slope_ppm",
        )
    )


QUERIES["orders_theilsen_trend"] = orders_theilsen_trend

ORACLES["orders_theilsen_trend"] = """
    WITH monthly AS (
        SELECT o_orderpriority,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
                    AS BIGINT) AS m,
               count(*) AS y
        FROM orders GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.o_orderpriority,
               CAST(CAST(b.y - a.y AS HUGEINT) * 1000000
                   // (b.m - a.m) AS BIGINT) AS s_ppm,
               a.m * 100000 + b.m AS pair_key
        FROM monthly a JOIN monthly b
          ON a.o_orderpriority = b.o_orderpriority AND b.m > a.m
    ),
    ranked AS (
        SELECT o_orderpriority, s_ppm,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY s_ppm, pair_key) AS BIGINT) AS rn,
               CAST(count(*) OVER (PARTITION BY o_orderpriority)
                   AS BIGINT) AS n
        FROM slopes
    )
    SELECT o_orderpriority, n AS n_pairs, s_ppm AS ts_slope_ppm
    FROM ranked WHERE rn = (n + 1) // 2
"""


# ------------------------- Mann-Whitney U (nonparametric two-sample)
#
# The nonparametric member of the stats family (ANOVA = parametric
# means, chi² = categorical, KM = survival): does the order-value
# DISTRIBUTION differ between URGENT and LOW priority orders, with no
# normality assumption? Exact U from the VALUE HISTOGRAM, never a
# global row rank: per distinct cents value the two group counts, a
# cumulative window over the (much smaller) distinct-value table, and
# U_A = Σ_v nA(v)·cumB(<v) + nA(v)·nB(v)/2 — ties get half-credit, so
# everything rides a ×2 integer grid. The tie-corrected normal
# approximation's variance uses Σ(t³−t) (exact BIGINT over the same
# histogram); z is one identical row-local double formula on the ×1e3
# grid. At 100 TB the histogram is bounded by value cardinality (a
# money column's distinct cents), not row count — and since r11 even
# that table never single-partitions: the cumulative count is
# TWO-LEVEL (partitioned within price band + a broadcast of the
# ~#bands offset relation), the abc_parts_revenue discipline, so the
# only ORDER-BY-everything window runs over bands.
_MWU_A = "'1-URGENT'"
_MWU_B = "'5-LOW'"


def stat_orders_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    hist = (
        o.filter(f"o_orderpriority IN ({_MWU_A}, {_MWU_B})")
        .selectExpr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS v",
            f"CASE WHEN o_orderpriority = {_MWU_A} THEN 1 ELSE 0 END "
            "AS in_a",
        )
        .groupBy("v")
        .agg(
            F.expr("SUM(in_a)").alias("na_v"),
            F.expr("SUM(1 - in_a)").alias("nb_v"),
        )
        .withColumn("band", F.expr("v DIV 1000000"))
    )
    win = ("PARTITION BY band ORDER BY v "
           "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    within = hist.selectExpr(
        "band", "na_v", "nb_v",
        f"COALESCE(SUM(nb_v) OVER ({win}), 0) AS cumb_in",
    )
    wo = ("ORDER BY band ROWS BETWEEN UNBOUNDED PRECEDING "
          "AND 1 PRECEDING")
    boff = (
        hist.groupBy("band").agg(F.expr("SUM(nb_v)").alias("b_nb"))
        .selectExpr("band",
                    f"COALESCE(SUM(b_nb) OVER ({wo}), 0) AS cumb_off")
    )
    cum = within.join(broadcast(boff), "band").selectExpr(
        "na_v", "nb_v",
        "cumb_in + cumb_off AS cumb_before",
        "na_v + nb_v AS t",
    )
    # count×cum-count products reach n² ≈ 1e22 (and t³ ≈ 1e36) at
    # 100 TB — U, ties, and the mean ride the DECIMAL(38,0) grid
    return cum.agg(
        F.expr("SUM(na_v)").alias("n_a"),
        F.expr("SUM(nb_v)").alias("n_b"),
        # ×2 grid: wins count double, ties single
        F.expr("SUM(2 * CAST(na_v AS DECIMAL(38,0)) * cumb_before "
               "+ CAST(na_v AS DECIMAL(38,0)) * nb_v)")
        .alias("u_a_x2"),
        F.expr("SUM(CAST(t AS DECIMAL(38,0)) * t * t - t)")
        .alias("tie_term"),
    ).selectExpr(
        "n_a",
        "n_b",
        "u_a_x2",
        "CAST(n_a AS DECIMAL(38,0)) * n_b AS mean_u_x2",  # 2·(nA·nB/2)
        # z = (U − nAnB/2) / sqrt(nAnB/12·((n+1) − Σ(t³−t)/(n(n−1))))
        "CAST(ROUND((CAST(u_a_x2 AS DOUBLE) / 2 "
        "- CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2) "
        "/ SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12 "
        "* (CAST(n_a + n_b + 1 AS DOUBLE) "
        "- CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE) "
        "* CAST(n_a + n_b - 1 AS DOUBLE)))) * 1e3) AS BIGINT) AS z_m",
    )


QUERIES["stat_orders_mannwhitney"] = stat_orders_mannwhitney

ORACLES["stat_orders_mannwhitney"] = f"""
    WITH hist AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v,
               SUM(CASE WHEN o_orderpriority = {_MWU_A} THEN 1 ELSE 0 END)
                   AS na_v,
               SUM(CASE WHEN o_orderpriority = {_MWU_B} THEN 1 ELSE 0 END)
                   AS nb_v
        FROM orders
        WHERE o_orderpriority IN ({_MWU_A}, {_MWU_B})
        GROUP BY 1
    ),
    cum AS (
        SELECT na_v, nb_v,
               COALESCE(SUM(nb_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                 0) AS cumb_before,
               na_v + nb_v AS t
        FROM hist
    ),
    agg AS (
        SELECT SUM(na_v) AS n_a, SUM(nb_v) AS n_b,
               SUM(2 * CAST(na_v AS HUGEINT) * cumb_before
                   + CAST(na_v AS HUGEINT) * nb_v) AS u_a_x2,
               SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term
        FROM cum
    )
    SELECT n_a, n_b, u_a_x2,
           CAST(n_a AS HUGEINT) * n_b AS mean_u_x2,
           CAST(ROUND((CAST(u_a_x2 AS DOUBLE) / 2
                - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2)
               / SQRT(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12
               * (CAST(n_a + n_b + 1 AS DOUBLE)
               - CAST(tie_term AS DOUBLE) / (CAST(n_a + n_b AS DOUBLE)
               * CAST(n_a + n_b - 1 AS DOUBLE)))) * 1e3) AS BIGINT) AS z_m
    FROM agg
"""


# --------------------------------------------------------------------------
# Kolmogorov-Smirnov two-sample test (URGENT vs LOW order totals) — the
# distribution-shape sibling of the Mann-Whitney location test: D =
# sup|F_A - F_B| over the pooled support. Same at-scale discipline as
# the M-W twin: ECDFs come from the VALUE HISTOGRAM (one shuffle, then
# a window over distinct cents values — never a global row rank), and
# the statistic is exact integer math to the end: the max is taken over
# |cumA·nB - cumB·nA| (common denominator nA·nB), so no float enters
# until never — D is reported on the ppm grid by integer division.
# Totals ride a broadcast one-row aggregate.
_KS_A = "'1-URGENT'"
_KS_B = "'5-LOW'"


def stat_orders_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    hist = (
        o.filter(f"o_orderpriority IN ({_KS_A}, {_KS_B})")
        .selectExpr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
            "AS v",
            f"CASE WHEN o_orderpriority = {_KS_A} THEN 1 ELSE 0 END "
            "AS in_a",
        )
        .groupBy("v")
        .agg(
            F.expr("SUM(in_a)").alias("na_v"),
            F.expr("SUM(1 - in_a)").alias("nb_v"),
        )
    )
    w = "ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    cum = hist.selectExpr(
        "v",
        f"SUM(na_v) OVER ({w}) AS ca",
        f"SUM(nb_v) OVER ({w}) AS cb",
    )
    tots = hist.agg(F.expr("SUM(na_v)").alias("n_a"),
                    F.expr("SUM(nb_v)").alias("n_b"))
    # cum-count × group-count products reach n_a·n_b ≈ 1e22 at 100 TB
    # — the whole diff chain rides the DECIMAL(38,0) grid (rule F)
    diffs = cum.crossJoin(broadcast(tots)).selectExpr(
        "v", "n_a", "n_b",
        "abs(CAST(ca AS DECIMAL(38,0)) * n_b "
        "- CAST(cb AS DECIMAL(38,0)) * n_a) AS diff")
    peak = diffs.groupBy("n_a", "n_b").agg(
        F.expr("MAX(diff)").alias("max_diff"))
    return (
        diffs.join(broadcast(peak), ["n_a", "n_b"])
        .filter("diff = max_diff")
        .groupBy("n_a", "n_b", "max_diff")
        .agg(F.expr("MIN(v)").alias("d_at_cents"))
        .selectExpr(
            "n_a", "n_b",
            "CAST(1000000 * max_diff "
            "DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) AS d_ppm",
            "d_at_cents",
        )
    )


QUERIES["stat_orders_ks"] = stat_orders_ks

ORACLES["stat_orders_ks"] = f"""
    WITH hist AS (
        SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS v,
               SUM(CASE WHEN o_orderpriority = {_KS_A} THEN 1 ELSE 0 END)
                   AS na_v,
               SUM(CASE WHEN o_orderpriority = {_KS_B} THEN 1 ELSE 0 END)
                   AS nb_v
        FROM orders
        WHERE o_orderpriority IN ({_KS_A}, {_KS_B})
        GROUP BY 1
    ),
    cum AS (
        SELECT v,
               SUM(na_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS ca,
               SUM(nb_v) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
                   PRECEDING AND CURRENT ROW) AS cb
        FROM hist
    ),
    tots AS (
        SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
               CAST(SUM(nb_v) AS BIGINT) AS n_b
        FROM hist
    ),
    diffs AS (
        SELECT v, n_a, n_b,
               abs(CAST(ca AS HUGEINT) * n_b
                   - CAST(cb AS HUGEINT) * n_a) AS diff
        FROM cum, tots
    ),
    peak AS (
        SELECT n_a, n_b, MAX(diff) AS max_diff FROM diffs GROUP BY 1, 2
    )
    SELECT d.n_a, d.n_b,
           CAST(1000000 * p.max_diff
               // (CAST(d.n_a AS HUGEINT) * d.n_b) AS BIGINT)
               AS d_ppm,
           CAST(MIN(d.v) AS BIGINT) AS d_at_cents
    FROM diffs d JOIN peak p
      ON d.n_a = p.n_a AND d.n_b = p.n_b AND d.diff = p.max_diff
    GROUP BY d.n_a, d.n_b, p.max_diff
"""


# --------------------------------------------------------------------------
# Gini coefficient of customer revenue concentration, PER NATION — the
# inequality-curve sibling of part_type_hhi (share-squared) and
# abc_parts_revenue (Pareto classes). Per-nation windows partition the
# rank cleanly (no global sort at any scale); revenue lives on the
# BIGINT cents grid and G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) is exact
# integer math until the final ppm division. Ties rank
# deterministically by (revenue, custkey). Covers transacting
# customers (inner join: a customer with no orders has no revenue
# observation). Overflow headroom: Σ i·x grows ∝ sf² (≈1e13 at sf0.1,
# past 2⁶³ by sf≈100), and the ×1e6 ppm product tops 2.1e19 at sf0.1
# already — so Σ i·x accumulates in DECIMAL(38,0) and the whole ppm
# projection stays on the DECIMAL(38,0) grid (exact to 1e38; DuckDB's
# HUGEINT mirror is exact to 1.7e38), divided ONCE at the end. The
# r9 driver bench caught the BIGINT formulation dying with
# ARITHMETIC_OVERFLOW at sf0.1.
def orders_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT)").alias("x"))
    )
    ranked = rev.selectExpr(
        "n_name", "x",
        "ROW_NUMBER() OVER (PARTITION BY n_name "
        "ORDER BY x, c_custkey) AS i",
    )
    return (
        ranked.groupBy("n_name")
        .agg(
            F.expr("COUNT(*)").alias("n_cust"),
            F.expr("SUM(x)").alias("total_cents"),
            F.expr("SUM(CAST(i AS DECIMAL(38,0)) * x)").alias("ix"),
        )
        .selectExpr(
            "n_name", "n_cust", "total_cents",
            "CAST((2 * ix - (CAST(n_cust AS DECIMAL(38,0)) + 1) "
            "* total_cents) * 1000000 "
            "DIV (CAST(n_cust AS DECIMAL(38,0)) * total_cents) "
            "AS BIGINT) AS gini_ppm",
        )
    )


QUERIES["orders_gini_by_nation"] = orders_gini_by_nation

ORACLES["orders_gini_by_nation"] = """
    WITH rev AS (
        SELECT n_name, c_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                   AS BIGINT) AS x
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT n_name, x,
               ROW_NUMBER() OVER (PARTITION BY n_name
                   ORDER BY x, c_custkey) AS i
        FROM rev
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(x) AS BIGINT) AS total_cents,
           CAST((2 * SUM(CAST(i AS HUGEINT) * x)
                   - (CAST(COUNT(*) AS HUGEINT) + 1) * SUM(x)) * 1000000
               // (CAST(COUNT(*) AS HUGEINT) * SUM(x))
               AS BIGINT) AS gini_ppm
    FROM ranked
    GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Seasonal index per calendar month (the classical ratio-to-overall-
# average decomposition step), composed from two ppm SHARES so every
# intermediate fits BIGINT at any scale (a direct 1e6·cents·tn product
# overflows): index = revenue share / order-count share, each share on
# the exact ppm grid first (truncation composes identically in both
# engines). Broadcast grand-total row; one shuffle to 12 groups. The
# multiplicative sibling of orders_priority_share_trend.
def orders_seasonal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = (
        o.groupBy(F.expr("MONTH(o_orderdate)").alias("m"))
        .agg(
            F.expr("COUNT(*)").alias("n_orders"),
            F.expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
                   "AS BIGINT)").alias("cents"),
        )
    )
    tot = monthly.agg(F.expr("SUM(n_orders)").alias("tn"),
                      F.expr("SUM(cents)").alias("tc"))
    return (
        monthly.crossJoin(broadcast(tot))
        .selectExpr(
            "m", "n_orders",
            # monthly cents/counts are data-proportional (1e15+/month
            # at 100 TB) — the share products ride DECIMAL(38,0)
            "CAST(1000000 * CAST(cents AS DECIMAL(38,0)) DIV tc "
            "AS BIGINT) AS rev_share_ppm",
            "CAST(1000000 * CAST(n_orders AS DECIMAL(38,0)) DIV tn "
            "AS BIGINT) AS n_share_ppm",
        )
        .selectExpr(
            "m", "n_orders", "rev_share_ppm",
            "CAST(1000000 * rev_share_ppm DIV n_share_ppm AS BIGINT) "
            "AS index_ppm",
        )
    )


QUERIES["orders_seasonal_index"] = orders_seasonal_index

ORACLES["orders_seasonal_index"] = """
    WITH monthly AS (
        SELECT MONTH(o_orderdate) AS m,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                   AS BIGINT) AS cents
        FROM orders GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_orders) AS BIGINT) AS tn,
               CAST(SUM(cents) AS BIGINT) AS tc
        FROM monthly
    ),
    shares AS (
        SELECT m, n_orders,
               CAST(1000000 * CAST(cents AS HUGEINT) // tc AS BIGINT)
                   AS rev_share_ppm,
               CAST(1000000 * CAST(n_orders AS HUGEINT) // tn AS BIGINT)
                   AS n_share_ppm
        FROM monthly, tot
    )
    SELECT m, n_orders, rev_share_ppm,
           CAST(1000000 * rev_share_ppm // n_share_ppm AS BIGINT)
               AS index_ppm
    FROM shares
"""


# --------------------------------------------------------------------------
# Lorenz curve deciles of customer revenue, PER NATION — the curve the
# orders_gini_by_nation scalar summarizes: customers ranked by revenue
# within their nation, cut into 10 equal-population deciles, each
# decile's exact cumulative revenue share on the ppm grid. Per-nation
# windows only (no global sort at any scale); revenue on the BIGINT
# cents grid with every cross-decile product on DECIMAL(38,0)/HUGEINT
# (rule F: cum·1e6 passes 2⁶³ at 100 TB). The 10-row-per-nation
# cumulative window is over the tiny decile table, not the customers.
def orders_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) "
            "AS BIGINT)").alias("x"))
    )
    ranked = rev.selectExpr(
        "n_name", "x",
        "ROW_NUMBER() OVER (PARTITION BY n_name "
        "ORDER BY x, c_custkey) AS i",
        "COUNT(*) OVER (PARTITION BY n_name) AS n",
    ).selectExpr(
        "n_name", "x",
        "CAST((10 * (i - 1)) DIV n + 1 AS INT) AS decile",
    )
    deciles = ranked.groupBy("n_name", "decile").agg(
        F.expr("COUNT(*)").alias("n_cust"),
        F.expr("SUM(x)").alias("cents"),
    )
    return deciles.selectExpr(
        "n_name", "decile", "n_cust", "cents",
        "SUM(cents) OVER (PARTITION BY n_name ORDER BY decile "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
        "SUM(cents) OVER (PARTITION BY n_name) AS tot",
    ).selectExpr(
        "n_name", "decile", "n_cust", "cents",
        "CAST(1000000 * CAST(cum AS DECIMAL(38,0)) DIV tot AS BIGINT) "
        "AS cum_share_ppm",
    )


QUERIES["orders_lorenz_deciles"] = orders_lorenz_deciles

ORACLES["orders_lorenz_deciles"] = """
    WITH rev AS (
        SELECT n_name, c_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100)
                   AS BIGINT) AS x
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT n_name, x,
               CAST((10 * (ROW_NUMBER() OVER (PARTITION BY n_name
                       ORDER BY x, c_custkey) - 1))
                   // (COUNT(*) OVER (PARTITION BY n_name)) + 1
                   AS INT) AS decile
        FROM rev
    ),
    deciles AS (
        SELECT n_name, decile,
               CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(x) AS BIGINT) AS cents
        FROM ranked GROUP BY 1, 2
    )
    SELECT n_name, decile, n_cust, cents,
           CAST(1000000 * CAST(SUM(cents) OVER (PARTITION BY n_name
                   ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS HUGEINT)
               // (SUM(cents) OVER (PARTITION BY n_name))
               AS BIGINT) AS cum_share_ppm
    FROM deciles
"""


# --------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) of parts per brand — the
# multi-criteria "not dominated" operator Spark has no verb for: a
# part is on the frontier iff no same-brand part has size >= AND
# price >= it with one strictly greater. NOT a quadratic self-join:
# phase 1 collapses to the per-(brand, size) max price (equal-size
# rows below their size's max are dominated within the group), phase
# 2 runs ONE window over the tiny distinct-size table per brand
# (ordered size DESC, running max of price over strictly larger
# sizes) — the classic sort-first skyline, partitioned per brand so
# there is no global sort at any scale. Price on the BIGINT cents
# grid; ties on (size, cents) all survive, per the standard
# definition (neither strictly dominates).
def part_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").selectExpr(
        "p_brand", "p_partkey", "p_size",
        "CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents",
    )
    size_max = p.groupBy("p_brand", "p_size").agg(
        F.expr("MAX(cents)").alias("mc"))
    frontier_sizes = size_max.selectExpr(
        "p_brand", "p_size", "mc",
        "MAX(mc) OVER (PARTITION BY p_brand ORDER BY p_size DESC "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better",
    ).filter("better IS NULL OR mc > better")
    return (
        p.join(frontier_sizes.select("p_brand", "p_size", "mc"),
               ["p_brand", "p_size"])
        .filter("cents = mc")
        .selectExpr("p_brand", "p_partkey", "p_size", "cents")
    )


QUERIES["part_skyline_2d"] = part_skyline_2d

ORACLES["part_skyline_2d"] = """
    WITH p AS (
        SELECT p_brand, p_partkey, p_size,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100
                   AS BIGINT) AS cents
        FROM part
    )
    SELECT b.p_brand, b.p_partkey, b.p_size, b.cents
    FROM p b
    WHERE NOT EXISTS (
        SELECT 1 FROM p a
        WHERE a.p_brand = b.p_brand
          AND a.p_size >= b.p_size AND a.cents >= b.cents
          AND (a.p_size > b.p_size OR a.cents > b.cents)
    )
"""


# --------------------------------------------------------------------------
# ABC–XYZ inventory matrix — the classic two-axis part classification
# every supply-chain planner draws: ABC = cumulative revenue share
# WITHIN the part's type (A ≤ 80%, B ≤ 95%, C rest — the
# abc_parts_revenue thresholds, but per-type windows so the rank never
# needs a global sort), XYZ = demand variability from the squared CV
# of monthly shipped quantity (X < 0.25e6 ppm, Y < 1e6, Z above — the
# CV<0.5 / CV<1 textbook cuts on the exact ppm grid). Revenue on the
# e4 grid with DECIMAL(38,0) cross-multiplied thresholds and CV²
# products on DECIMAL(38,0)/HUGEINT (rule F). Output: the 9-cell
# (abc, xyz) matrix with part counts and exact class revenue.
def part_abc_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    # spread(): the broadcast-join probe + per-row decimal grid math
    # feed two aggregation branches from the one-task scan (§2.5)
    li = spread(spark, sf_dir, "lineitem",
                table(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_partkey", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"))
    p = table(spark, sf_dir, "part")
    base = li.join(
        broadcast(p.select("p_partkey", "p_type")),
        li.l_partkey == p.p_partkey,
    )
    rev = base.groupBy("p_type", "l_partkey").agg(
        F.expr(_REV_INT).alias("r"))
    wc = Window.partitionBy("p_type").orderBy(
        F.col("r").desc(), F.col("l_partkey")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wt = Window.partitionBy("p_type")
    abc = rev.select(
        "l_partkey", "r",
        F.sum("r").over(wc).alias("cum"),
        F.sum("r").over(wt).alias("tot"),
    ).selectExpr(
        "l_partkey", "r",
        "CASE WHEN CAST(cum AS DECIMAL(38,0)) * 100 "
        "<= CAST(tot AS DECIMAL(38,0)) * 80 THEN 'A' "
        "WHEN CAST(cum AS DECIMAL(38,0)) * 100 "
        "<= CAST(tot AS DECIMAL(38,0)) * 95 THEN 'B' "
        "ELSE 'C' END AS abc_class",
    )
    monthly = base.groupBy(
        "l_partkey",
        F.expr("year(l_shipdate) * 12 + month(l_shipdate)").alias("m"),
    ).agg(F.expr(
        "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)"
    ).alias("q"))
    xyz = (
        monthly.groupBy("l_partkey")
        .agg(
            F.expr("COUNT(*)").alias("nm"),
            F.expr("SUM(q)").alias("sq"),
            F.expr("SUM(CAST(q AS DECIMAL(38,0)) * q)").alias("ssq"),
        )
        .selectExpr(
            "l_partkey",
            "CAST((nm * ssq - CAST(sq AS DECIMAL(38,0)) * sq) "
            "* 1000000 DIV (CAST(sq AS DECIMAL(38,0)) * sq) "
            "AS BIGINT) AS cv2_ppm",
        )
        .selectExpr(
            "l_partkey",
            "CASE WHEN cv2_ppm < 250000 THEN 'X' "
            "WHEN cv2_ppm < 1000000 THEN 'Y' ELSE 'Z' END AS xyz_class",
        )
    )
    return (
        abc.join(xyz, "l_partkey")
        .groupBy("abc_class", "xyz_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.expr("CAST(SUM(r) AS BIGINT)").alias("revenue_e4"),
        )
    )


QUERIES["part_abc_xyz"] = part_abc_xyz

ORACLES["part_abc_xyz"] = """
    WITH base AS (
        SELECT p.p_type, l.l_partkey, l.l_extendedprice, l.l_discount,
               l.l_quantity, l.l_shipdate
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    rev AS (
        SELECT p_type, l_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(8,2)))) * 10000
                   AS BIGINT) AS r
        FROM base GROUP BY 1, 2
    ),
    abc AS (
        SELECT l_partkey, r,
               CASE WHEN CAST(SUM(r) OVER (PARTITION BY p_type
                       ORDER BY r DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS HUGEINT) * 100
                   <= CAST(SUM(r) OVER (PARTITION BY p_type)
                       AS HUGEINT) * 80 THEN 'A'
               WHEN CAST(SUM(r) OVER (PARTITION BY p_type
                       ORDER BY r DESC, l_partkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS HUGEINT) * 100
                   <= CAST(SUM(r) OVER (PARTITION BY p_type)
                       AS HUGEINT) * 95 THEN 'B'
               ELSE 'C' END AS abc_class
        FROM rev
    ),
    monthly AS (
        SELECT l_partkey,
               year(l_shipdate) * 12 + month(l_shipdate) AS m,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * 100)
                   AS BIGINT) AS q
        FROM base GROUP BY 1, 2
    ),
    xyz AS (
        SELECT l_partkey,
               CASE WHEN cv2_ppm < 250000 THEN 'X'
                    WHEN cv2_ppm < 1000000 THEN 'Y'
                    ELSE 'Z' END AS xyz_class
        FROM (
            SELECT l_partkey,
                   CAST((COUNT(*) * SUM(CAST(q AS HUGEINT) * q)
                       - CAST(SUM(q) AS HUGEINT) * SUM(q)) * 1000000
                       // (CAST(SUM(q) AS HUGEINT) * SUM(q))
                       AS BIGINT) AS cv2_ppm
            FROM monthly GROUP BY l_partkey
        )
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS BIGINT) AS revenue_e4
    FROM abc JOIN xyz USING (l_partkey)
    GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Wald–Wolfowitz runs test on the daily order-count series — "is daily
# demand RANDOM around its trend, or do up/down days cluster?" The
# stats-family randomness dial next to stat_orders_ks (shape) and
# ev_cusum_shift (level): too FEW runs = momentum/autocorrelation, too
# MANY = oscillation. The sign sequence (day up vs not-up against the
# previous day) and the run count come from windows over the TINY
# daily table (the ev_acf/holt precedent — never over raw orders);
# n₁·n₂ products ride DECIMAL(38,0)/HUGEINT (rule F: day counts are
# data-proportional) and z lands on the audited 1e3 grid via one
# final double ROUND (the stat_orders_mannwhitney construction).
def orders_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.expr("CAST(o_orderdate AS DATE)").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    signs = daily.selectExpr(
        "day", "c",
        "LAG(c) OVER (ORDER BY day) AS prev",
    ).filter("prev IS NOT NULL").selectExpr(
        "day",
        "IF(c > prev, 1, 0) AS up",
    )
    runs = signs.selectExpr(
        "up",
        "IF(LAG(up) OVER (ORDER BY day) IS NULL "
        "OR up <> LAG(up) OVER (ORDER BY day), 1, 0) AS run_start",
    ).agg(
        F.expr("SUM(up)").alias("n_up"),
        F.expr("SUM(1 - up)").alias("n_down"),
        F.expr("SUM(run_start)").alias("n_runs"),
    )
    return runs.selectExpr(
        "n_up", "n_down", "n_runs",
        # mu = 2*n1*n2/(n1+n2) + 1 on the exact 1e6 grid
        "CAST(2 * CAST(n_up AS DECIMAL(38,0)) * n_down * 1000000 "
        "DIV (n_up + n_down) + 1000000 AS BIGINT) AS mean_runs_ppm",
        "CAST(ROUND((CAST(n_runs AS DOUBLE) "
        "- (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) "
        "/ (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) + 1)) "
        "/ SQRT(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) "
        "* (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE) "
        "- CAST(n_up AS DOUBLE) - CAST(n_down AS DOUBLE)) "
        "/ ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) "
        "* (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) "
        "* (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) - 1))) "
        "* 1e3) AS BIGINT) AS z_m",
    )


QUERIES["orders_runs_test"] = orders_runs_test

ORACLES["orders_runs_test"] = """
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    signs AS (
        SELECT day, CASE WHEN c > prev THEN 1 ELSE 0 END AS up
        FROM (
            SELECT day, c, LAG(c) OVER (ORDER BY day) AS prev
            FROM daily
        ) WHERE prev IS NOT NULL
    ),
    runs AS (
        SELECT CAST(SUM(up) AS BIGINT) AS n_up,
               CAST(SUM(1 - up) AS BIGINT) AS n_down,
               CAST(SUM(run_start) AS BIGINT) AS n_runs
        FROM (
            SELECT up,
                   CASE WHEN LAG(up) OVER (ORDER BY day) IS NULL
                        OR up <> LAG(up) OVER (ORDER BY day)
                        THEN 1 ELSE 0 END AS run_start
            FROM signs
        )
    )
    SELECT n_up, n_down, n_runs,
           CAST(2 * CAST(n_up AS HUGEINT) * n_down * 1000000
               // (n_up + n_down) + 1000000 AS BIGINT) AS mean_runs_ppm,
           CAST(ROUND((CAST(n_runs AS DOUBLE)
               - (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               / (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE)) + 1))
               / SQRT(2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               * (2.0 * CAST(n_up AS DOUBLE) * CAST(n_down AS DOUBLE)
               - CAST(n_up AS DOUBLE) - CAST(n_down AS DOUBLE))
               / ((CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
               * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE))
               * (CAST(n_up AS DOUBLE) + CAST(n_down AS DOUBLE) - 1)))
               * 1e3) AS BIGINT) AS z_m
    FROM runs
"""


# --------------------------------------------------------------------------
# Inter-purchase time — the reorder-cadence profile a replenishment
# planner (or churn model) reads: per order PRIORITY, the exact median
# and p90 of the day gaps between a customer's consecutive orders.
# Gaps are integer datediffs (LAG over each customer's order dates);
# the exact order-statistics come from the row_number/count middle-row
# selection (the orders_median_by_priority discipline — no engine
# percentile statistics, rule A). Two shuffles: one hash by customer
# for the LAG, one by priority for the rank windows; both keys are
# high-cardinality/low-skew, and the gap table is strictly smaller
# than orders, so the plan scales linearly.
def orders_interpurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    wc = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey", "o_orderpriority", "o_orderdate",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(wc)
        ).cast("long").alias("gap"),
    ).filter("gap IS NOT NULL")
    wp = Window.partitionBy("o_orderpriority").orderBy(
        "gap", "o_custkey", "o_orderdate")
    ranked = gaps.select(
        "o_orderpriority", "gap",
        F.row_number().over(wp).cast("long").alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy("o_orderpriority")
        ).cast("long").alias("n"),
    )
    # ONE pass selects the median middle row(s) AND the p90 order
    # statistic (n − floor(n/10) == ceil(9n/10) for every n), then
    # conditional aggregates split them back out — the ranked window
    # subtree is scanned once, not once per statistic
    picked = ranked.withColumn(
        "is_mid",
        F.expr(
            "(n % 2 = 1 AND rn = (n + 1) DIV 2) "
            "OR (n % 2 = 0 AND (rn = n DIV 2 OR rn = n DIV 2 + 1))"
        ),
    ).withColumn("is_p90", F.expr("rn = n - (n DIV 10)")) \
        .filter("is_mid OR is_p90")
    return picked.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_gaps"),
        F.expr(
            "CAST(SUM(IF(is_mid, gap, 0)) "
            "* IF(MAX(n) % 2 = 1, 2, 1) AS BIGINT)"
        ).alias("median_x2_days"),
        F.expr("MAX(IF(is_p90, gap, NULL))").alias("p90_days"),
    )


QUERIES["orders_interpurchase"] = orders_interpurchase

ORACLES["orders_interpurchase"] = """
    WITH gaps AS (
        SELECT o_orderpriority, o_custkey, o_orderdate,
               CAST(datediff('day',
                   lag(o_orderdate) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS BIGINT) AS gap
        FROM orders
    ),
    ranked AS (
        SELECT o_orderpriority, gap, o_custkey, o_orderdate,
               CAST(row_number() OVER (PARTITION BY o_orderpriority
                   ORDER BY gap, o_custkey, o_orderdate) AS BIGINT)
                   AS rn,
               CAST(count(*) OVER (PARTITION BY o_orderpriority)
                   AS BIGINT) AS n
        FROM gaps WHERE gap IS NOT NULL
    ),
    picked AS (
        SELECT o_orderpriority, gap, n,
               ((n % 2 = 1 AND rn = (n + 1) // 2)
                OR (n % 2 = 0 AND (rn = n // 2 OR rn = n // 2 + 1)))
                   AS is_mid,
               rn = n - (n // 10) AS is_p90
        FROM ranked
    )
    SELECT o_orderpriority, max(n) AS n_gaps,
           CAST(SUM(CASE WHEN is_mid THEN gap ELSE 0 END)
                * CASE WHEN MAX(n) % 2 = 1 THEN 2 ELSE 1 END
                AS BIGINT) AS median_x2_days,
           MAX(CASE WHEN is_p90 THEN gap END) AS p90_days
    FROM picked
    WHERE is_mid OR is_p90
    GROUP BY o_orderpriority
"""


# --------------------------------------------------------------------------
# Supplier return-rate profile — the supplier-quality dial a sourcing
# desk reads per nation: share of shipped lineitems that came back
# (l_returnflag = 'R') and the revenue share tied up in returns, both
# exact ppm (q10 reads returns from the customer side; this is the
# supplier side). Counts/revenue are exact integers on the e4 grid,
# widened to DECIMAL(38,0)/HUGEINT before ×1e6 (a nation's revenue
# passes 2⁶³ at warehouse scale); all dividends non-negative
# (DIV↔// safe). One broadcast join + one partial-agg shuffle on the
# 25-nation key.
def supplier_return_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    base = (
        li.join(broadcast(s.select("s_suppkey", "s_nationkey")),
                li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(
            "n_name",
            F.expr("IF(l_returnflag = 'R', 1, 0)").alias("ret"),
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) "
                "* (1 - CAST(l_discount AS DECIMAL(8,2))) * 10000 "
                "AS BIGINT)"
            ).alias("rev"),
        )
    )
    return base.groupBy("n_name").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_items"),
        F.expr("CAST(SUM(ret) AS BIGINT)").alias("n_returned"),
        F.expr(
            "CAST(CAST(SUM(ret) AS DECIMAL(38,0)) * 1000000 "
            "DIV COUNT(*) AS BIGINT)"
        ).alias("returned_ppm"),
        F.expr(
            "CAST(CAST(SUM(IF(ret = 1, rev, 0)) AS DECIMAL(38,0)) "
            "* 1000000 DIV SUM(CAST(rev AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("returned_rev_ppm"),
    )


QUERIES["supplier_return_rate"] = supplier_return_rate

ORACLES["supplier_return_rate"] = """
    WITH base AS (
        SELECT n_name,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret,
               CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(8,2))) * 10000
                   AS BIGINT) AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
    )
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(ret) AS BIGINT) AS n_returned,
           CAST(CAST(sum(ret) AS HUGEINT) * 1000000 // count(*)
               AS BIGINT) AS returned_ppm,
           CAST(CAST(sum(CASE WHEN ret = 1 THEN rev ELSE 0 END)
                   AS HUGEINT) * 1000000
               // sum(CAST(rev AS HUGEINT)) AS BIGINT)
               AS returned_rev_ppm
    FROM base GROUP BY n_name
"""


# --------------------------------------------------------------------------
# Discount elasticity — the merchandising question behind every
# promo-budget review: per part type, the exact OLS slope of shipped
# quantity on discount (does a deeper discount actually move units?).
# x = discount on the e2 grid (0..10), y = quantity in whole units;
# slope numerator nΣxy − ΣxΣy and variance denominator nΣx² − (Σx)²
# are exact integer sums widened to DECIMAL(38,0)/HUGEINT (n² terms
# pass 2⁶³ near 1e10 rows per type), and the e6 slope projection is
# SIGN-SPLIT so Spark's truncating DIV and DuckDB's flooring // never
# see a negative dividend. One partial-agg shuffle on the ~150 part
# types.
def lineitem_discount_elasticity(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    # spread(): per-row DECIMAL casts + the decimal moment sums ran in
    # the one-task scan (guide §2.5)
    li = spread(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part")
    xy = (
        li.join(broadcast(p.select("p_partkey", "p_type")),
                li.l_partkey == p.p_partkey)
        .select(
            "p_type",
            F.expr(
                "CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(CAST(l_quantity AS DECIMAL(18,2)) DIV 1 AS BIGINT)"
            ).alias("y"),
        )
    )
    agg = xy.groupBy("p_type").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n"),
        F.expr("SUM(x)").alias("sx"),
        F.expr("SUM(y)").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    return agg.selectExpr(
        "p_type", "n",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) "
        "* sy AS num_raw",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) "
        "* sx AS den_raw",
    ).selectExpr(
        "p_type", "n",
        "CASE WHEN den_raw = 0 THEN NULL "
        "WHEN num_raw >= 0 THEN "
        "CAST(num_raw * 1000000 DIV den_raw AS BIGINT) "
        "ELSE -CAST((-num_raw) * 1000000 DIV den_raw AS BIGINT) END "
        "AS slope_e6",
    )


QUERIES["lineitem_discount_elasticity"] = lineitem_discount_elasticity

ORACLES["lineitem_discount_elasticity"] = """
    WITH xy AS (
        SELECT p_type,
               CAST(CAST(l_discount AS DECIMAL(8,2)) * 100 AS BIGINT)
                   AS x,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) // 1 AS BIGINT)
                   AS y
        FROM lineitem JOIN part ON l_partkey = p_partkey
    ),
    agg AS (
        SELECT p_type, CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(CAST(x AS HUGEINT) * y) AS sxy,
               sum(CAST(x AS HUGEINT) * x) AS sxx
        FROM xy GROUP BY p_type
    ),
    nd AS (
        SELECT p_type, n,
               CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                   AS num_raw,
               CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx
                   AS den_raw
        FROM agg
    )
    SELECT p_type, n,
           CASE WHEN den_raw = 0 THEN NULL
                WHEN num_raw >= 0 THEN
                    CAST(num_raw * 1000000 // den_raw AS BIGINT)
                ELSE -CAST((-num_raw) * 1000000 // den_raw AS BIGINT)
           END AS slope_e6
    FROM nd
"""




# --------------------------------- supplier concentration (HHI) audit
#
# Herfindahl-Hirschman index of supplier revenue concentration within
# each nation — the procurement-risk rollup (part_type_hhi is the
# same statistic on the part-type axis; this one also demonstrates
# the integer formulation that stays exact at any scale). Supplier revenues partial-
# agg on the exact e4 money grid; per-nation totals are a 25-row
# broadcast; shares collapse to ppm BEFORE squaring, so the HHI sum is
# corpus-size-INDEPENDENT (share_ppm <= 1e6, sum of squares <= 1e12 *
# n_suppliers on the DECIMAL(38,0) grid — no overflow at any scale,
# where squaring raw revenues would pass 1e40 at 100 TB).
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    rev = (
        li.join(broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(F.expr(
            "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
            "* (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000 "
            "AS DECIMAL(38,0))").alias("rev_e4"))
    )
    nat = rev.groupBy("n_name").agg(
        F.expr("SUM(rev_e4)").alias("nat_e4"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    shares = rev.join(broadcast(nat), "n_name").selectExpr(
        "n_name", "n_suppliers",
        "CAST(rev_e4 * 1000000 DIV nat_e4 AS BIGINT) AS share_ppm",
    )
    return shares.groupBy("n_name", "n_suppliers").agg(
        F.expr("CAST(SUM(CAST(share_ppm AS DECIMAL(38,0)) * share_ppm) "
               "DIV 1000000 AS BIGINT)").alias("hhi_ppm"),
        F.expr("MAX(share_ppm)").alias("top_share_ppm"),
    )


QUERIES["nation_supplier_hhi"] = nation_supplier_hhi

ORACLES["nation_supplier_hhi"] = """
    WITH rev AS (
        SELECT n_name, s_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) * 10000
                    AS HUGEINT) AS rev_e4
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2
    ),
    nat AS (
        SELECT n_name, SUM(rev_e4) AS nat_e4,
               count(*) AS n_suppliers
        FROM rev GROUP BY 1
    ),
    shares AS (
        SELECT r.n_name, n_suppliers,
               CAST(rev_e4 * 1000000 // nat_e4 AS BIGINT) AS share_ppm
        FROM rev r JOIN nat USING (n_name)
    )
    SELECT n_name, n_suppliers,
           CAST(SUM(CAST(share_ppm AS HUGEINT) * share_ppm)
                // 1000000 AS BIGINT) AS hhi_ppm,
           MAX(share_ppm) AS top_share_ppm
    FROM shares GROUP BY 1, 2
"""




# --------------------------- Poisson bootstrap confidence interval
#
# The SCALABLE bootstrap (the only kind that works at 100 TB): instead
# of materializing R resamples of the data, each row contributes to
# every replicate with an independent Poisson(1) multiplicity — the
# classic Poisson approximation to multinomial resampling. One pass:
# a 32-way in-task explode (no data copies, no shuffle of resamples),
# map-side partial aggregation collapses to O(groups × R) shuffle
# rows, and the CI is an order statistic over the 32 replicate means
# per group. Every draw is md5-derived from (orderkey, replicate), so
# the DuckDB oracle reproduces the weights bit-for-bit. Weight sums
# ride DECIMAL(38,0): w ≤ 6, cents < 2^26, rows ~1.5e10 at 100 TB →
# Σ ≤ ~6e18·1e3 « 10^38 with the ×1000 milli grid.
N_BOOT = 32
#: Poisson(1) CDF on the u ∈ [0, 1e6) grid (floor of cum·1e6)
_POIS_W = ("CASE WHEN u < 367879 THEN 0 WHEN u < 735758 THEN 1 "
           "WHEN u < 919698 THEN 2 WHEN u < 981011 THEN 3 "
           "WHEN u < 996340 THEN 4 WHEN u < 999405 THEN 5 ELSE 6 END")


def stat_orders_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90% bootstrap CI for the mean order value per priority: Poisson
    bootstrap, R=32 replicates in one pass, CI = (2nd, 31st) order
    statistic of the replicate means on the integer milli-cent grid."""
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (
        SPARK_HASH_SQL,
    )

    o = table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority", "o_orderkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents",
    )
    u_expr = SPARK_HASH_SQL(
        "CONCAT(CAST(o_orderkey AS STRING), ':', CAST(r AS STRING))"
    ) + " % 1000000"
    # ONE orders scan: each replicate group also carries the
    # UNWEIGHTED sum/count (identical rows per replicate, so any
    # replicate's plain aggregates ARE the point-estimate inputs —
    # no second scan for the point mean).
    # Redistribute BEFORE the 32× explode: the replicate fan-out is
    # 32× per-row md5 compute, and it parallelizes only as far as the
    # scan's partitioning — a compact 3-column projection shuffle is
    # noise next to that compute, and it guarantees even distribution
    # whatever the input file layout (locally: one small parquet = ONE
    # partition = the whole fan-out on one core, measured 3× slower).
    means = (
        o.repartition(spark.sparkContext.defaultParallelism)
        .select(
            "o_orderpriority", "cents", "o_orderkey",
            F.expr(f"explode(sequence(0, {N_BOOT - 1}))").alias("r"),
        )
        .withColumn("u", F.expr(u_expr))
        .withColumn("wt", F.expr(_POIS_W))
        .groupBy("o_orderpriority", "r")
        .agg(
            F.expr("SUM(CAST(wt AS DECIMAL(38,0)) * cents)").alias("ws"),
            F.expr("SUM(CAST(wt AS BIGINT))").alias("wn"),
            F.expr("SUM(CAST(cents AS DECIMAL(38,0)))").alias("cs"),
            F.expr("COUNT(*)").alias("cnt"),
        )
        .selectExpr("o_orderpriority", "r", "cs", "cnt",
                    "CAST(ws * 1000 DIV wn AS BIGINT) AS m")
    )
    w = Window.partitionBy("o_orderpriority").orderBy("m", "r")
    return (
        means.withColumn("rn", F.row_number().over(w))
        .groupBy("o_orderpriority")
        .agg(
            F.expr("MAX(cnt)").alias("n_orders"),
            F.expr("CAST(MAX(cs) * 1000 DIV MAX(cnt) AS BIGINT)")
            .alias("mean_milli"),
            F.expr("MAX(CASE WHEN rn = 2 THEN m END)")
            .alias("ci_lo_milli"),
            F.expr(f"MAX(CASE WHEN rn = {N_BOOT - 1} THEN m END)")
            .alias("ci_hi_milli"),
        )
        .select("o_orderpriority", "n_orders", "mean_milli",
                "ci_lo_milli", "ci_hi_milli")
    )


QUERIES["stat_orders_bootstrap_ci"] = stat_orders_bootstrap_ci

from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.functions.hashing import (  # noqa: E402
    STABLE_HASH_SQL as _SH,
)

ORACLES["stat_orders_bootstrap_ci"] = f"""
    WITH base AS (
        SELECT o_orderpriority AS pri, o_orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents
        FROM orders
    ),
    rep AS (
        SELECT pri, cents, r,
               {_SH("(CAST(o_orderkey AS VARCHAR) || ':' || CAST(r AS VARCHAR))")}
                   % 1000000 AS u
        FROM (SELECT *, unnest(range(0, {N_BOOT})) AS r FROM base)
    ),
    means AS (
        SELECT pri, r,
               CAST(SUM(CAST(({_POIS_W}) AS HUGEINT) * cents) * 1000
                    // SUM(CAST(({_POIS_W}) AS BIGINT)) AS BIGINT) AS m
        FROM rep GROUP BY pri, r
    ),
    ranked AS (
        SELECT pri, m,
               row_number() OVER (PARTITION BY pri ORDER BY m, r) AS rn
        FROM means
    ),
    point AS (
        SELECT pri, COUNT(*) AS n_orders,
               CAST(SUM(CAST(cents AS HUGEINT)) * 1000 // COUNT(*)
                    AS BIGINT) AS mean_milli
        FROM base GROUP BY pri
    )
    SELECT pri AS o_orderpriority, n_orders, mean_milli,
           MAX(CASE WHEN rn = 2 THEN m END) AS ci_lo_milli,
           MAX(CASE WHEN rn = {N_BOOT - 1} THEN m END) AS ci_hi_milli
    FROM point JOIN ranked USING (pri)
    GROUP BY 1, 2, 3
"""


# ------------------------------ Hill tail-index (power-law exponent)
#
# Gini/Lorenz/Pareto measure CONCENTRATION; the Hill estimator fits
# the tail's power-law EXPONENT α — the dial that says whether extreme
# order values are heavy-tailed enough to break mean-based planning
# (α ≤ 2: infinite variance). Top-k order statistics per priority via
# PARTITIONED rank windows (never a global sort), k = 100;
# α = (k−1) / Σ_{i<k} ln(x_i / x_k), every ln row-local on the e6
# grid and the sum pure integers (zipf discipline). Deterministic
# top-k under ties via the orderkey.
K_HILL = 100


def stat_orders_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").selectExpr(
        "o_orderpriority", "o_orderkey",
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "AS cents",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents").desc(), F.col("o_orderkey"))
    top = (
        o.withColumn("rn", F.row_number().over(w))
        .filter(f"rn <= {K_HILL}")
        .selectExpr(
            "o_orderpriority", "rn", "cents",
            "CAST(ROUND(ln(cents) * 1000000) AS BIGINT) AS li",
        )
    )
    return (
        top.groupBy("o_orderpriority")
        .agg(
            F.expr("MAX(rn)").alias("k_used"),
            F.expr("SUM(li)").alias("sl"),
            F.expr(f"MAX(CASE WHEN rn = {K_HILL} THEN li END)")
            .alias("lk"),
            F.expr(f"MAX(CASE WHEN rn = {K_HILL} THEN cents END)")
            .alias("xmin_cents"),
        )
        .selectExpr(
            "o_orderpriority", "k_used", "xmin_cents",
            "CAST(CAST(k_used - 1 AS DECIMAL(38,0)) * 1000000000000 "
            "DIV NULLIF(sl - k_used * lk, 0) AS BIGINT) AS alpha_e6",
        )
    )


QUERIES["stat_orders_hill_tail"] = stat_orders_hill_tail

ORACLES["stat_orders_hill_tail"] = f"""
    WITH top AS (
        SELECT o_orderpriority, rn, cents,
               CAST(ROUND(ln(cents) * 1000000) AS BIGINT) AS li
        FROM (
            SELECT o_orderpriority,
                   CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT) AS cents,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2))
                                * 100 AS BIGINT) DESC, o_orderkey) AS rn
            FROM orders
        ) WHERE rn <= {K_HILL}
    )
    SELECT o_orderpriority, MAX(rn) AS k_used,
           MAX(CASE WHEN rn = {K_HILL} THEN cents END) AS xmin_cents,
           CAST(CAST(MAX(rn) - 1 AS HUGEINT) * 1000000000000
                // NULLIF(SUM(li) - MAX(rn)
                          * MAX(CASE WHEN rn = {K_HILL} THEN li END), 0)
                AS BIGINT) AS alpha_e6
    FROM top GROUP BY 1
"""


# --------------------------------- SQL pipe syntax (Spark 4 `|>`)
#
# The third pure-SQL-surface entry: Spark 4's SQL pipe syntax
# (SPARK-49555, the FROM-first `|>` operator chain a SQL user writes
# as a readable left-to-right pipeline) spelling of a classic chained
# filter → aggregate → top-k. The pipe chain is pure parser surface —
# Catalyst plans the identical filter-pushed, partial-agg'd,
# TakeOrderedAndProject shape as the ANSI spelling, which IS the
# oracle (same statement modulo the `|>` dialect). Money is pure
# DECIMAL arithmetic at the scan (the DISC_PRICE discipline — no
# double ever enters), surfaced on the exact 1e4 grid; top-k ties
# break on l_suppkey so LIMIT is deterministic.
_SQL_PIPE_TOPK_SPARK = """
    FROM lineitem
    |> WHERE l_shipdate >= DATE '1994-01-01'
             AND l_shipdate < DATE '1995-01-01'
    |> AGGREGATE
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l_discount AS DECIMAL(8,2)))) AS rev_d,
           COUNT(*) AS n_items
       GROUP BY l_suppkey
    |> SELECT l_suppkey, CAST(rev_d * 10000 AS BIGINT) AS rev_e4,
              n_items
    |> ORDER BY rev_e4 DESC, l_suppkey
    |> LIMIT 10
"""


def sql_pipe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from batch_processing_etl_pipeline_for_chess_puzzle_generator_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_PIPE_TOPK_SPARK)


QUERIES["sql_pipe_topk"] = sql_pipe_topk
# the ANSI spelling of the same statement — DuckDB has no `|>` chain
ORACLES["sql_pipe_topk"] = """
    SELECT l_suppkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(8,2)))) * 10000
               AS BIGINT) AS rev_e4,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01'
      AND l_shipdate < DATE '1995-01-01'
    GROUP BY l_suppkey
    ORDER BY rev_e4 DESC, l_suppkey
    LIMIT 10
"""


# ------------------------------- Kendall rank correlation (tau-b)
#
# The rank-based sibling of stat_sales_corr (Pearson) and
# orders_theilsen_trend (median slopes): does customer COUNT rank
# nations the same way customer WEALTH does? Kendall's tau-b over the
# 25-nation aggregate — every pair of nations classified concordant /
# discordant / tied by SIGN comparisons only (never the cross-product
# of magnitudes, which overflows BIGINT at warehouse scale), with the
# tie-corrected denominator. Determinism discipline: the per-nation
# aggregates are exact ints (COUNT, DECIMAL-cents SUM) from one
# groupBy; the pair table is |nations|² — O(dim²), broadcast, corpus-
# size-independent; tau is one row-local double formula over exact
# integer tallies, written identically in the oracle, exposed ×1e6.
def stat_nation_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    per_nation = c.groupBy("c_nationkey").agg(
        F.expr("COUNT(*)").alias("x"),
        F.expr("CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * 100) "
               "AS BIGINT)").alias("y"),
    )
    a = per_nation.selectExpr("c_nationkey AS ka", "x AS xa", "y AS ya")
    b = per_nation.selectExpr("c_nationkey AS kb", "x AS xb", "y AS yb")
    pairs = a.join(F.broadcast(b), F.expr("ka < kb"))
    return pairs.agg(
        F.expr("COUNT(*)").alias("n_pairs"),
        F.expr("SUM(CASE WHEN SIGN(xa - xb) * SIGN(ya - yb) = 1 "
               "THEN 1 ELSE 0 END)").alias("concordant"),
        F.expr("SUM(CASE WHEN SIGN(xa - xb) * SIGN(ya - yb) = -1 "
               "THEN 1 ELSE 0 END)").alias("discordant"),
        F.expr("SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END)")
        .alias("ties_x"),
        F.expr("SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END)")
        .alias("ties_y"),
    ).selectExpr(
        "n_pairs", "concordant", "discordant", "ties_x", "ties_y",
        "CAST(ROUND(1000000 * (concordant - discordant) / "
        "NULLIF(SQRT(CAST((n_pairs - ties_x) AS DOUBLE) * "
        "(n_pairs - ties_y)), 0)) AS BIGINT) AS tau_b_e6",
    )


QUERIES["stat_nation_kendall"] = stat_nation_kendall

ORACLES["stat_nation_kendall"] = """
    WITH per_nation AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS x,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)) * 100)
                    AS BIGINT) AS y
        FROM customer GROUP BY 1
    ),
    pairs AS (
        SELECT a.x AS xa, a.y AS ya, b.x AS xb, b.y AS yb
        FROM per_nation a JOIN per_nation b
          ON a.c_nationkey < b.c_nationkey
    ),
    tallies AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(SUM(CASE WHEN SIGN(xa - xb) * SIGN(ya - yb) = 1
                    THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
               CAST(SUM(CASE WHEN SIGN(xa - xb) * SIGN(ya - yb) = -1
                    THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
               CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT)
                   AS ties_x,
               CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT)
                   AS ties_y
        FROM pairs
    )
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           CAST(ROUND(1000000 * (concordant - discordant) /
                NULLIF(SQRT(CAST((n_pairs - ties_x) AS DOUBLE) *
                (n_pairs - ties_y)), 0)) AS BIGINT) AS tau_b_e6
    FROM tallies
"""


# ------------------------------ Mann-Kendall monotone-trend test
#
# The significance sibling of orders_theilsen_trend (which estimates
# the SLOPE; Mann-Kendall tests whether a monotone trend exists at
# all) and the temporal cousin of stat_nation_kendall (same S
# statistic, here one series against time). Over the monthly order
# counts: S = Σ_{i<j} SIGN(x_j − x_i), the tie-corrected variance
# 18·Var(S) = n(n−1)(2n+5) − Σ t(t−1)(2t+5), and the
# continuity-corrected Z. Scale shape: the pair table is |months|²
# (calendar-bounded — ~100 rows at ANY corpus size, the
# orders_backlog discipline), tie groups by exact count value; every
# tally is exact integer, Z is one row-local double formula over
# them, written identically in the oracle, exposed ×1e6.
def stat_orders_mannkendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.expr("CAST(date_trunc('month', o_orderdate) AS DATE)")
        .alias("month")
    ).agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("x"))
    a = monthly.selectExpr("month AS ma", "x AS xa")
    b = monthly.selectExpr("month AS mb", "x AS xb")
    s = (
        a.join(F.broadcast(b), F.expr("ma < mb"))
        .agg(F.expr("CAST(SUM(SIGN(xb - xa)) AS BIGINT)").alias("s_stat"))
    )
    n = monthly.agg(F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_months"))
    ties = (
        monthly.groupBy("x").agg(F.expr("COUNT(*)").alias("t"))
        .agg(F.expr("CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT)")
             .alias("tie_term"))
    )
    return (
        s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(ties))
        .selectExpr(
            "n_months", "s_stat",
            "CAST(n_months * (n_months - 1) * (2 * n_months + 5) "
            "- tie_term AS BIGINT) AS var_s_x18",
            # continuity-corrected Z: (S − SIGN(S)) / sqrt(Var(S))
            "CAST(ROUND(1000000 * (s_stat - SIGN(s_stat)) / "
            "NULLIF(SQRT((n_months * (n_months - 1) * (2 * n_months + 5)"
            " - tie_term) / 18.0), 0)) AS BIGINT) AS z_e6",
        )
    )


QUERIES["stat_orders_mannkendall"] = stat_orders_mannkendall

ORACLES["stat_orders_mannkendall"] = """
    WITH monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(SUM(SIGN(b.x - a.x)) AS BIGINT) AS s_stat
        FROM monthly a JOIN monthly b ON a.month < b.month
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_months FROM monthly),
    ties AS (
        SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t
              FROM monthly GROUP BY x)
    )
    SELECT n_months, s_stat,
           CAST(n_months * (n_months - 1) * (2 * n_months + 5)
                - tie_term AS BIGINT) AS var_s_x18,
           CAST(ROUND(1000000 * (s_stat - SIGN(s_stat)) /
                NULLIF(SQRT((n_months * (n_months - 1) * (2 * n_months + 5)
                 - tie_term) / 18.0), 0)) AS BIGINT) AS z_e6
    FROM s, n, ties
"""
