"""TPC-H shapes and the fact-table analytics around them.

The reference exposes its processed tables to Amazon Athena for SQL
analytics (reference README.md "Amazon Athena" row); this module is the
scan/join/aggregate core of that surface: the TPC-H query shapes (Q1-Q22
adapted to the test lake's columns: there is no partsupp table and
lineitem carries no commit/receipt dates or shipmodes, so each query
keeps the reference JOIN/SUBQUERY/AGG structure and swaps the missing
column for an available stand-in), plus the supplier/part/nation
rollups, order-size, discount-band and ship-delay profiles.

Determinism discipline (plans/registry.py): exact DECIMAL aggregation
internally, ONE double cast/division at the output boundary, unique
tiebreakers on every top-k. Dimension joins broadcast; fact-fact joins
shuffle on the join key with AQE skew handling; scalar subqueries
become broadcast cross-joins of one-row aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.moments import sum_sq_dec
from lakehouse_architecture_transaction_spark.plans.registry import register

# Shared exact-decimal fragments (see registry docstring for why).
# Aggregation is DECIMAL (exact, order-independent across partitions /
# engines); the OUTPUT boundary is DOUBLE — pandas/Arrow bridges in
# downstream tools float decimals anyway, and an identical decimal
# narrows to an identical double in both engines, so results stay
# bit-comparable without leaking engine-specific decimal rendering.
_REV = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_SUM_REV = f"CAST(CAST(SUM({_REV}) AS DECIMAL(18,4)) AS DOUBLE)"


def _rev_sum_col():
    return F.expr(f"SUM({_REV})").cast("decimal(18,4)").cast("double")


@register(
    "q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_base_price,
           {_SUM_REV} AS sum_disc_price,
           CAST(CAST(SUM(CAST({_REV} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag ASC, l_linestatus ASC
    """,
    headline=True,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship scan+agg. One pass over lineitem,
    map-side partial aggregation, 2-key groupBy."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'")
    )
    dec_qty = F.expr("CAST(l_quantity AS DECIMAL(18,2))")
    dec_price = F.expr("CAST(l_extendedprice AS DECIMAL(18,2))")
    dec_disc = F.expr("CAST(l_discount AS DECIMAL(18,2))")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec_qty).cast("decimal(18,2)").cast("double").alias("sum_qty"),
            F.sum(dec_price).cast("decimal(18,2)").cast("double").alias("sum_base_price"),
            _rev_sum_col().alias("sum_disc_price"),
            F.expr(f"SUM(CAST({_REV} AS DECIMAL(18,4)) * (1 + CAST(l_tax AS DECIMAL(18,2))))")
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sum_charge"),
            (F.sum(dec_qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(dec_price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(dec_disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy(F.col("l_returnflag").asc(), F.col("l_linestatus").asc())
    )


@register(
    "q3_shipping_priority",
    oracle=f"""
    SELECT l_orderkey, {_SUM_REV} AS revenue, o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC
    LIMIT 10
    """,
    headline=True,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dim filter → fact join → top-k.
    customer is filtered before the join so the build side stays small."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate < TIMESTAMP '1998-01-01 00:00:00'")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate > TIMESTAMP '1998-01-01 00:00:00'")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_sum_col().alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate").asc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle=f"""
    SELECT n_name, {_SUM_REV} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
      AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
      AND n_regionkey = r_regionkey AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name ASC
    """,
    headline=True,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join. All dims broadcast; only the
    orders↔lineitem fact join shuffles."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
        )
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_sum_col().alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


@register(
    "q6_revenue_delta",
    oracle="""
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    headline=True,
)
def q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure selective scan — every predicate pushes to
    the parquet reader; no shuffle at all (single global agg)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'"
            " AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24"
        )
    )
    return li.agg(
        F.expr("SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)))")
        .cast("decimal(18,4)")
        .cast("double")
        .alias("revenue"),
        F.count("*").alias("n_items"),
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name, {_SUM_REV} AS revenue, c_acctbal, n_name
    FROM customer, orders, lineitem, nation
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R' AND c_nationkey = n_nationkey
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
    headline=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue ranking."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-10-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'"
        )
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_rev_sum_col().alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


@register(
    "top_parts_by_revenue",
    oracle=f"""
    SELECT p_partkey, p_name, p_brand, {_SUM_REV} AS revenue,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_qty
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY p_partkey, p_name, p_brand
    ORDER BY revenue DESC, p_partkey ASC
    LIMIT 20
    """,
    headline=True,
)
def top_parts_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product revenue ranking (reference data model's products
    dimension → part). Aggregate BEFORE the dim join so the shuffle
    carries one row per part, not one per lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        _rev_sum_col().alias("revenue"),
        F.expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("total_qty"),
    )
    return (
        per_part.join(F.broadcast(part), per_part.l_partkey == part.p_partkey)
        .select("p_partkey", "p_name", "p_brand", "revenue", "total_qty")
        .orderBy(F.col("revenue").desc(), F.col("p_partkey").asc())
        .limit(20)
    )


@register(
    "mktsegment_summary",
    oracle="""
    SELECT c_mktsegment,
           COUNT(DISTINCT c_custkey) AS n_customers,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC
    """,
)
def mktsegment_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-segment rollup over the customer×orders join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    dec_price = F.expr("CAST(o_totalprice AS DECIMAL(18,2))")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
            F.sum(dec_price).cast("decimal(18,2)").cast("double").alias("total_spend"),
            (F.sum(dec_price).cast("double") / F.count("*")).alias("avg_order_value"),
        )
        .orderBy(F.col("c_mktsegment").asc())
    )


@register(
    "rollup_revenue",
    oracle="""
    SELECT r_name, n_name,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST
    """,
    headline=True,
)
def rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP (region → nation → grand total) over order
    revenue — the lakehouse 'reporting cube' surface."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("total_spend"),
            F.count("*").alias("n_orders"),
        )
        .orderBy(F.col("r_name").asc_nulls_first(), F.col("n_name").asc_nulls_first())
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery as a LEFT SEMI join —
    the probe side streams, the build side carries only the join key,
    and no row is ever duplicated by multiple matches."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1996-07-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-10-01 00:00:00'"
        )
    )
    flagged_items = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(flagged_items, orders.o_orderkey == flagged_items.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy(F.col("o_orderpriority").asc())
    )


@register(
    "cube_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid ASC, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with grouping_id: all four marginal combinations in one
    pass (Spark expands grouping sets before the single aggregation —
    no repeated scans). grouping_id disambiguates rollup rows from
    genuinely-null keys; its bit order matches DuckDB's GROUPING()."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_orders"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_spend"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_spend")
        .orderBy(
            F.col("gid").asc(),
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "q7_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           {_SUM_REV} AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name != cn.n_name
      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY supp_nation ASC, cust_nation ASC, ship_year ASC
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-nation trade volume by ship year (full
    pair matrix — the two-nation TPC-H restriction is vacuous on the
    small fixtures). Nation lookups broadcast onto supplier/customer
    before the fact join; the date filter pushes to the lineitem
    scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr("l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'")
    )
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("bigint").alias("ship_year"))
        .agg(_rev_sum_col().alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


@register(
    "q14_promo_revenue",
    oracle=f"""
    SELECT 100.0 * (
             CAST(CAST(SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS DOUBLE)
             / CAST(CAST(SUM({_REV}) AS DECIMAL(18,4)) AS DOUBLE)
           ) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregate ratio (promo share of
    revenue). Both sums decimal-exact; ONE double division and one
    multiply, in the same order in both engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"
        )
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    promo = F.expr(
        f"SUM(CASE WHEN p_type LIKE 'PROMO%' THEN {_REV} ELSE CAST(0 AS DECIMAL(18,4)) END)"
    ).cast("decimal(18,4)").cast("double")
    total = F.expr(f"SUM({_REV})").cast("decimal(18,4)").cast("double")
    return joined.agg(
        (F.lit(100.0) * (promo / total)).alias("promo_revenue_pct"),
        F.count("*").alias("n_items"),
    )


@register(
    "q19_disjunctive_revenue",
    oracle=f"""
    SELECT {_SUM_REV} AS revenue, COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of multi-column conjuncts across
    both join sides. Catalyst extracts the common single-side conjuncts
    (brand/size set on part, quantity envelope on lineitem) below the
    join, so each scan still prunes before rows meet."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5)
    ) | (
        (F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10)
    ) | (
        (F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(_rev_sum_col().alias("revenue"), F.count("*").alias("n_items"))
    )


@register(
    "customers_without_recent_orders",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
    ORDER BY c_custkey ASC
    """,
)
def customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS as a LEFT ANTI join (TPC-H Q22 shape): the canonical
    distributed negative-membership test — no driver-side key
    collection, no row duplication. Scoped to recent orders so the
    result is non-trivial on this fixture (every customer has SOME
    order)."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.expr("o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
        SELECT l_suppkey, {_SUM_REV} AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey ASC
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate → scalar-max subquery → equality
    filter (ALL argmax rows, not LIMIT 1 — ties survive). The revenue
    table is computed once and reused for both the max and the probe;
    the max is a broadcast scalar, not a driver round-trip."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.expr(
            "l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'"
        )
    )
    supp = load_table(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(_rev_sum_col().alias("total_revenue"))
    max_rev = rev.agg(F.max("total_revenue").alias("m"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == max_rev.m)
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "order_value_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 25000) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_value,
           MAX(o_totalprice) AS max_value
    FROM orders
    GROUP BY 1
    ORDER BY bin ASC
    """,
)
def order_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (bin = floor(value/25k)): one
    map-side-combinable aggregation, the scalable histogram shape
    (vs NTILE, which needs a global sort)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.floor(F.col("o_totalprice") / 25000).cast("bigint").alias("bin"))
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_totalprice").alias("min_value"),
            F.max("o_totalprice").alias("max_value"),
        )
        .orderBy("bin")
    )


@register(
    "orders_priority_pivot",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
           COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS high,
           COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
           COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS not_specified,
           COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS low
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus ASC
    """,
)
def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (priority columns per status row) with an EXPLICIT value
    list: Spark's pivot without one runs an extra distinct-collect job
    to discover columns — never in production plans. Compiles to one
    pass with conditional counts."""
    orders = load_table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderstatus")
        .pivot(
            "o_orderpriority",
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
        )
        .count()
    )
    renames = {
        "1-URGENT": "urgent",
        "2-HIGH": "high",
        "3-MEDIUM": "medium",
        "4-NOT SPECIFIED": "not_specified",
        "5-LOW": "low",
    }
    out = pivoted
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out.select(
        "o_orderstatus",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in renames.values()],
    ).orderBy("o_orderstatus")


_DEC_QTY = "CAST(l_quantity AS DECIMAL(18,2))"
_DEC_PRICE = "CAST(l_extendedprice AS DECIMAL(18,2))"


@register(
    "q2_min_cost_supplier",
    oracle="""
    WITH unit AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS avg_unit_price
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        GROUP BY l_partkey, l_suppkey
    ),
    ranked AS (
        SELECT p_partkey, p_name, p_brand, s_name, avg_unit_price,
               ROW_NUMBER() OVER (PARTITION BY p_partkey
                                  ORDER BY avg_unit_price ASC, l_suppkey ASC) AS rn
        FROM unit
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        JOIN supplier ON l_suppkey = s_suppkey
    )
    SELECT p_partkey, p_name, p_brand, s_name, avg_unit_price
    FROM ranked WHERE rn = 1
    ORDER BY p_partkey ASC
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost supplier per part): the reference's
    correlated-min subquery over partsupp, re-keyed to observed unit
    prices from lineitem (no partsupp in the lake). Region-filtered
    suppliers, per-(part, supplier) aggregate, argmin per part via
    window — the aggregate runs BELOW the part dim join."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    unit = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            (
                F.expr(f"SUM({_DEC_PRICE})").cast("double")
                / F.expr(f"SUM({_DEC_QTY})").cast("double")
            ).alias("avg_unit_price")
        )
    )
    w = Window.partitionBy("p_partkey").orderBy(F.col("avg_unit_price").asc(), F.col("l_suppkey").asc())
    return (
        unit.join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_partkey", "p_name", "p_brand", "s_name", "avg_unit_price")
        .orderBy("p_partkey")
    )


@register(
    "q8_market_share",
    oracle=f"""
    WITH flat AS (
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_REV} AS rev, ns.n_name AS supp_nation
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ns ON s_nationkey = ns.n_nationkey
        JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
        WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev
                              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DECIMAL(18,4)) AS DOUBLE)
             / CAST(CAST(SUM(rev) AS DECIMAL(18,4)) AS DOUBLE) AS mkt_share
    FROM flat
    GROUP BY o_year
    ORDER BY o_year ASC
    """,
    headline=True,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): 8-way star join, share
    = conditional decimal sum / total decimal sum in one double
    division per year. All dims broadcast; one fact-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.expr(
            "o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"
        )
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nc = nation.alias("nc")
    ns = nation.alias("ns")
    flat = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nc), cust.c_nationkey == F.col("nc.n_nationkey"))
        .join(F.broadcast(region), F.col("nc.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(ns), supp.s_nationkey == F.col("ns.n_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            F.expr(_REV).alias("rev"),
            F.col("ns.n_name").alias("supp_nation"),
        )
    )
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_2", F.col("rev")).otherwise(
            F.expr("CAST(0 AS DECIMAL(18,4))")
        )
    )
    return (
        flat.groupBy("o_year")
        .agg(
            (
                num.cast("decimal(18,4)").cast("double")
                / F.sum("rev").cast("decimal(18,4)").cast("double")
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    "q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
           CAST(CAST(SUM({_REV} - CAST(p_retailprice AS DECIMAL(18,2))
                             * CAST(0.60 AS DECIMAL(18,2))
                             * {_DEC_QTY}) AS DECIMAL(18,6)) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE '%widget%'
    GROUP BY n_name, o_year
    ORDER BY nation ASC, o_year DESC
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by nation and year).
    partsupp's supplycost is absent, so cost stands in as 60% of
    p_retailprice — the profit expression keeps Q9's
    revenue-minus-cost decimal arithmetic exactly."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    profit = F.expr(
        f"{_REV} - CAST(p_retailprice AS DECIMAL(18,2)) * CAST(0.60 AS DECIMAL(18,2)) * {_DEC_QTY}"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("decimal(18,6)").cast("double").alias("sum_profit"))
        .orderBy(F.col("nation").asc(), F.col("o_year").desc())
    )


@register(
    "q11_important_parts",
    oracle=f"""
    WITH scoped AS (
        SELECT l_partkey, {_REV} AS rev
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
    ),
    per_part AS (
        SELECT l_partkey, CAST(CAST(SUM(rev) AS DECIMAL(18,4)) AS DOUBLE) AS value
        FROM scoped GROUP BY l_partkey
    ),
    total AS (SELECT CAST(CAST(SUM(rev) AS DECIMAL(18,4)) AS DOUBLE) AS tv,
                     COUNT(DISTINCT l_partkey) AS np
              FROM scoped)
    SELECT l_partkey, value
    FROM per_part, total
    WHERE value > 1.5 * tv / np
    ORDER BY value DESC, l_partkey ASC
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): per-part value vs a global
    threshold scalar. The scalar is a 1-row aggregate broadcast into a
    cross join — no driver collect. Q11's fixed fraction must shrink
    with SF (the TPC spec divides it by SF); a MEAN-relative threshold
    (>1.5× the average part value) is the scale-free equivalent and
    keeps the result meaningful at any corpus size."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    scoped = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("l_partkey", F.expr(_REV).alias("rev"))
    )
    per_part = scoped.groupBy("l_partkey").agg(
        F.sum("rev").cast("decimal(18,4)").cast("double").alias("value")
    )
    # total recomputed from the DECIMAL base (not the per-part doubles):
    # decimal sums are order-independent, double re-sums are not
    total = scoped.agg(
        F.sum("rev").cast("decimal(18,4)").cast("double").alias("tv"),
        F.countDistinct("l_partkey").alias("np"),
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("value") > F.lit(1.5) * F.col("tv") / F.col("np"))
        .select("l_partkey", "value")
        .orderBy(F.col("value").desc(), F.col("l_partkey").asc())
    )


@register(
    "q12_late_lineitems",
    oracle="""
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
           CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY THEN 0 ELSE 1 END) AS BIGINT) AS ontime_count
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
)
def q12_late_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode/receipt buckets → late-shipment
    buckets; the lake has no shipmode or receiptdate): one fact-fact
    join, conditional counts per priority class."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    late = F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).alias("late_count"),
            F.sum(F.when(late, 0).otherwise(1)).alias("ontime_count"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q13_order_count_distribution",
    oracle="""
    WITH per_cust AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer
        LEFT JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
    headline=True,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    keeps zero-order customers, two-level aggregation (per-customer
    count, then histogram of counts — second shuffle is on the tiny
    count domain)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "q16_supplier_part_variety",
    oracle="""
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#13' AND p_size IN (5, 10, 15, 20, 25, 30, 35, 40)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
    """,
)
def q16_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier variety per part class): NOT-filter +
    IN-list on the part dim, COUNT DISTINCT over the fact join (two-
    stage distinct aggregation — partial per partition, exact merge)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13") & F.col("p_size").isin(5, 10, 15, 20, 25, 30, 35, 40)
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
    )


@register(
    "q17_small_qty_revenue",
    oracle=f"""
    WITH avg_qty AS (
        SELECT l_partkey AS ap,
               CAST(SUM({_DEC_QTY}) AS DOUBLE) / COUNT(*) AS aq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM({_DEC_PRICE}) AS DECIMAL(18,2)) AS DOUBLE) / 7.0 AS avg_yearly
    FROM lineitem
    JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#13'
    JOIN avg_qty ON l_partkey = ap
    WHERE CAST(l_quantity AS DOUBLE) < 0.5 * aq
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): the correlated
    per-part AVG subquery becomes an aggregate-then-join — the
    per-part average is computed once, shuffled at part-key
    cardinality, and joined back; no per-row subquery execution."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ap")).agg(
        (F.expr(f"SUM({_DEC_QTY})").cast("double") / F.count("*")).alias("aq")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("ap"))
        .filter(F.col("l_quantity").cast("double") < 0.5 * F.col("aq"))
        .agg(
            (F.expr(f"SUM({_DEC_PRICE})").cast("decimal(18,2)").cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "q18_large_volume_customers",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey AS bk, CAST(SUM({_DEC_QTY}) AS DECIMAL(18,2)) AS sq
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM({_DEC_QTY}) > 250
    )
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(sq AS DOUBLE) AS sum_qty
    FROM big
    JOIN orders ON bk = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey ASC
    LIMIT 100
    """,
    headline=True,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): the IN-subquery over
    a grouped HAVING becomes aggregate-then-join; the order/customer
    joins run on the small filtered aggregate, not the raw fact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("bk"))
        .agg(F.expr(f"SUM({_DEC_QTY})").cast("decimal(18,2)").alias("sq"))
        .filter(F.col("sq") > 250)
    )
    return (
        big.join(orders, F.col("bk") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .limit(100)
    )


@register(
    "q20_heavy_shippers",
    oracle=f"""
    WITH shipped AS (
        SELECT l_suppkey, CAST(SUM({_DEC_QTY}) AS DOUBLE) AS total_qty
        FROM lineitem
        JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        GROUP BY l_suppkey
    )
    SELECT s_name, CAST(s_acctbal AS DOUBLE) AS s_acctbal, total_qty
    FROM shipped
    JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_qty > 100
    ORDER BY s_name ASC
    """,
)
def q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (suppliers with significant stock of a part
    family): nested subquery chain (parts LIKE → per-supplier shipped
    quantity → threshold → supplier semi-join) as aggregate-then-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = load_table(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.expr(f"SUM({_DEC_QTY})").cast("double").alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )
    return (
        shipped.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"), "total_qty")
        .orderBy("s_name")
    )


@register(
    "q21_sole_late_supplier",
    oracle="""
    WITH per_os AS (
        SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS max_ship
        FROM lineitem GROUP BY l_orderkey, l_suppkey
    ),
    flagged AS (
        SELECT p.l_orderkey, p.l_suppkey,
               CASE WHEN p.max_ship > o_orderdate + INTERVAL 90 DAY THEN 1 ELSE 0 END AS late
        FROM per_os p JOIN orders ON p.l_orderkey = o_orderkey
    ),
    per_order AS (
        SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late,
               MAX(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
        FROM flagged GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM per_order
    JOIN supplier ON late_supp = s_suppkey
    WHERE n_supp >= 2 AND n_late = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name ASC
    """,
    headline=True,
)
def q21_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): the
    EXISTS/NOT-EXISTS pair over other suppliers' lineitems becomes
    per-(order, supplier) aggregates + per-order flags — "multi-
    supplier order where exactly this one supplier shipped late"
    (late = >90 days after order date; no receipt/commit dates in
    the lake). ONE fact shuffle total (r15, guide §2.4): the
    (l_orderkey, l_suppkey) aggregate used to plan its own
    Exchange(ok, sk) — which compresses nothing map-side, the key is
    ~unique per lineitem — followed by a second Exchange(ok) feeding
    the per-order flags. Repartitioning the pruned fact ONCE by
    l_orderkey satisfies the (ok, sk) clustering, the orders join,
    AND the per-order aggregate from the same exchange (partitioning
    on a subset of the grouping keys is a valid clustered
    distribution), so the two cascaded exchanges collapse to one. No
    correlated subqueries."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    per_os = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .repartition(F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("max_ship"))
    )
    flagged = per_os.join(orders, per_os.l_orderkey == orders.o_orderkey).select(
        per_os.l_orderkey,
        "l_suppkey",
        F.when(F.expr("max_ship > o_orderdate + INTERVAL 90 DAY"), 1).otherwise(0).alias("late"),
    )
    per_order = flagged.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("late").alias("n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late") == 1))
        .join(F.broadcast(supp), F.col("late_supp") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
    )


@register(
    "orders_grouping_sets",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), (o_orderpriority, o_orderstatus), ())
    ORDER BY gid ASC, o_orderpriority ASC NULLS FIRST, o_orderstatus ASC NULLS FIRST
    """,
)
def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form rollup/cube
    specialize): four simultaneous aggregation granularities in ONE
    pass — Spark expands the sets map-side and shuffles once, not once
    per set. grouping_id disambiguates NULL-as-group from NULL data."""
    orders = load_table(spark, sf_dir, "orders")
    gid = (F.grouping("o_orderpriority") * 2 + F.grouping("o_orderstatus")).cast("bigint")
    return (
        orders.groupingSets(
            [["o_orderpriority"], ["o_orderstatus"], ["o_orderpriority", "o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            gid.alias("gid"),
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total"),
        )
        .select("o_orderpriority", "o_orderstatus", "gid", "n_orders", "total")
        .orderBy(
            F.col("gid").asc(),
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


@register(
    "q22_idle_rich_customers",
    oracle="""
    WITH thresh AS (
        SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
                 / COUNT(*) AS avg_bal
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c_nationkey,
           COUNT(*) AS numcust,
           CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS totacctbal
    FROM customer, thresh
    WHERE CAST(c_acctbal AS DOUBLE) > avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    ORDER BY c_nationkey ASC
    """,
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): scalar AVG subquery
    (broadcast 1-row cross join) + anti-join against a filtered orders
    set, grouped by nation (the lake's country-code stand-in; Q22's
    "no orders at all" is empty on this lake, so the anti-join keys on
    urgent orders — same NOT EXISTS plan shape)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    thresh = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("decimal(18,2)").cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("decimal(18,2)")
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# ------------------------------------------------------------------
# part_supplier_hhi — supply-concentration audit
# ------------------------------------------------------------------

_HHI_TOP = 50

PART_HHI_ORACLE = f"""
WITH q AS (
    SELECT l_partkey, l_suppkey,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS BIGINT) AS qty
    FROM lineitem GROUP BY 1, 2
),
p AS (
    SELECT l_partkey,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(qty) AS BIGINT) AS total_qty,
           SUM(CAST(qty AS HUGEINT) * CAST(qty AS HUGEINT)) AS sq
    FROM q GROUP BY 1
)
SELECT l_partkey, n_suppliers, total_qty,
       CAST(sq AS DOUBLE) / (CAST(total_qty AS DOUBLE) * CAST(total_qty AS DOUBLE)) AS hhi
FROM p WHERE n_suppliers >= 2
ORDER BY hhi DESC, l_partkey ASC
LIMIT {_HHI_TOP}
"""


@register("part_supplier_hhi", oracle=PART_HHI_ORACLE, headline=True)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-concentration audit: the Herfindahl–Hirschman index of
    supplier quantity shares per part (Σ share² — the antitrust/
    supply-chain concentration metric, and the same algebraic family
    as docs_char_diversity's Simpson index). Parts with ≥2 suppliers
    ranked by concentration: HHI → 1 means one supplier dominates a
    nominally multi-sourced part — the procurement-risk flag.
    Quantities are integral, so the DECIMAL→BIGINT boundary is exact;
    HHI is one fixed double chain over exact sums. Σqty² accumulates
    in DECIMAL(38,0), not int64 (r13 moment-discipline sweep): a
    30%-hot l_partkey at corpus scale pushes one (part, supplier)
    qty past ~3e9, whose square exits 64 bits — the exact
    customer_order_value_cv class the skew probe crashed in r12; the
    oracle mirrors with HUGEINT.

    Scale shape: two map-side-combined aggregates — (part, supplier)
    then part — and a TakeOrdered top-k. Nothing wider than the
    (part, supplier) frame ever shuffles."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr("SUM(CAST(l_quantity AS DECIMAL(18,2)))")
        .cast("decimal(18,2)")
        .cast("bigint")
        .alias("qty")
    )
    p = q.groupBy("l_partkey").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("qty").cast("bigint").alias("total_qty"),
        sum_sq_dec(F.col("qty")).alias("sq"),
    )
    tot = F.col("total_qty").cast("double")
    return (
        p.filter(F.col("n_suppliers") >= 2)
        .select(
            "l_partkey",
            "n_suppliers",
            "total_qty",
            (F.col("sq").cast("double") / (tot * tot)).alias("hhi"),
        )
        .orderBy(F.col("hhi").desc(), F.col("l_partkey").asc())
        .limit(_HHI_TOP)
    )


NATION_FLOW_ORACLE = f"""
SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
       CAST(COUNT(*) AS BIGINT) AS n_lineitems,
       {_SUM_REV} AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation ns ON s.s_nationkey = ns.n_nationkey
JOIN nation nc ON c.c_nationkey = nc.n_nationkey
GROUP BY 1, 2
ORDER BY supp_nation ASC, cust_nation ASC
"""


@register("nation_flow_matrix", oracle=NATION_FLOW_ORACLE, headline=True)
def nation_flow_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL bilateral trade matrix — TPC-H Q7 generalized from one
    nation pair to all 25×25 (supp_nation, cust_nation) flows: revenue
    and lineitem count per ordered pair, the origin-destination table
    every logistics/market dashboard draws. Exact-decimal money
    discipline (same _REV/_SUM_REV constants as the Q7/YoY plans).

    Scale shape: fact-fact join on orderkey, then THREE broadcast
    dims (customer is the only non-broadcast side at real scale —
    its join shuffles on custkey at order cardinality); the final
    aggregate is 625 rows with map-side combine."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("sk"), F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("sk"),
        )
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("ck"), F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("ck"),
        )
        .groupBy("supp_nation", "cust_nation")
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            F.expr(f"SUM({_REV})").cast("decimal(18,4)").cast("double").alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation")
    )


# ------------------------------------------------------------------
# lineitem_shipdelay_trend — per-nation OLS delay drift
# ------------------------------------------------------------------

#: x = days since the dataset's first order year, NOT 1970 — keeps
#: per-group n·Σx² inside int64 through bench scales (see
#: grouped_linreg's exactness bound).
_TREND_EPOCH = "1995-01-01"

LINEITEM_SHIPDELAY_TREND_ORACLE = f"""
WITH pts AS (
    SELECT n.n_name,
           date_diff('day', DATE '{_TREND_EPOCH}', CAST(o.o_orderdate AS DATE)) AS x,
           date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS y
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
),
m AS (
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM pts GROUP BY 1
),
sl AS (
    SELECT *, CASE WHEN n_points >= 2 AND n_points * sxx - sx * sx > 0
                   THEN CAST(n_points * sxy - sx * sy AS DOUBLE)
                        / CAST(n_points * sxx - sx * sx AS DOUBLE) END AS slope
    FROM m
)
SELECT n_name, n_points, slope,
       CASE WHEN slope IS NOT NULL
            THEN (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n_points AS DOUBLE)
            END AS intercept
FROM sl
ORDER BY n_name ASC
"""


@register("lineitem_shipdelay_trend", oracle=LINEITEM_SHIPDELAY_TREND_ORACLE, headline=True)
def lineitem_shipdelay_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier-nation shipping-delay trend (operators/timeseries.py
    grouped_linreg): OLS slope/intercept of delay-in-days (l_shipdate −
    o_orderdate) against order date, per nation — the fulfilment-drift
    detector (slope in delay-days per calendar day; a positive slope
    is a supply chain getting slower). Both coordinates are exact day
    integers; x counts from {epoch} so per-group moments stay far
    inside int64; the slope/intercept chain is engine-replayable.

    Scale shape: ONE fact-fact equi-join (lineitem⋈orders on orderkey
    — the shuffle every delay metric pays), broadcast supplier/nation
    dims, then a single map-side-combinable moment aggregate at
    NATION cardinality. No windows, no per-group sorting.""".format(
        epoch=_TREND_EPOCH
    )
    from lakehouse_architecture_transaction_spark.operators.timeseries import grouped_linreg

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pts = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"), F.to_date(F.lit(_TREND_EPOCH))
            ).alias("x"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            ).alias("y"),
        )
    )
    return grouped_linreg(pts, ["n_name"], "x", "y").orderBy("n_name")


# ------------------------------------------------------------------
# orders_order_size_histogram
# ------------------------------------------------------------------

ORDERS_SIZE_HISTOGRAM_ORACLE = """
WITH per_order AS (
    SELECT o.o_orderkey, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items
    FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
),
hist AS (
    SELECT n_items, CAST(COUNT(*) AS BIGINT) AS n_orders FROM per_order GROUP BY 1
),
tot AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS n_total FROM hist)
SELECT n_items, n_orders,
       CAST(n_orders AS DOUBLE) / CAST(n_total AS DOUBLE) AS share
FROM hist, tot
ORDER BY n_items ASC
"""


@register("orders_order_size_histogram", oracle=ORDERS_SIZE_HISTOGRAM_ORACLE, headline=True)
def orders_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution: how many orders carry k lineitems
    (k = 0 included via the left join — phantom orders are a data-
    quality signal in their own right), with the share of all orders.
    The profile that sets expectations for every orderkey-keyed join's
    group sizes downstream.

    Scale shape: lineitem pre-aggregates to per-order counts FIRST
    (map-side partial combine collapses the ~4-6 lines per order
    before the shuffle — the r12 broadcast audit caught the original
    join-then-count shape moving full lineitem rows), then an
    order-cardinality left join restores the zero-item orders, a
    histogram aggregate at order-size cardinality, and the total as a
    re-aggregation of the localCheckpoint-ed histogram frame."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    counts = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    per_order = orders.join(counts, "o_orderkey", "left").select(
        "o_orderkey", F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_items")
    )
    hist = (
        per_order.groupBy("n_items")
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .localCheckpoint(eager=True)
    )
    tot = hist.agg(F.sum("n_orders").cast("bigint").alias("n_total"))
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "n_items",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("n_total").cast("double")).alias(
                "share"
            ),
        )
        .orderBy("n_items")
    )


# ------------------------------------------------------------------
# nation_trade_balance — flow-matrix marginals
# ------------------------------------------------------------------

_REV_E4 = (
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(18,4)) * 10000 AS BIGINT)"
)

NATION_TRADE_BALANCE_ORACLE = f"""
WITH flow AS (
    SELECT s.s_nationkey AS supp_nk, c.c_nationkey AS cust_nk,
           {_REV_E4} AS rev_e4
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY 1, 2
),
exp AS (SELECT supp_nk AS nk, CAST(SUM(rev_e4) AS BIGINT) AS exp_e4 FROM flow GROUP BY 1),
imp AS (SELECT cust_nk AS nk, CAST(SUM(rev_e4) AS BIGINT) AS imp_e4 FROM flow GROUP BY 1)
SELECT n.n_name AS n_name,
       CAST(COALESCE(e.exp_e4, 0) AS DOUBLE) / 10000.0 AS exports,
       CAST(COALESCE(i.imp_e4, 0) AS DOUBLE) / 10000.0 AS imports,
       CAST(COALESCE(e.exp_e4, 0) - COALESCE(i.imp_e4, 0) AS DOUBLE) / 10000.0 AS balance
FROM nation n
LEFT JOIN exp e ON n.n_nationkey = e.nk
LEFT JOIN imp i ON n.n_nationkey = i.nk
ORDER BY n_name ASC
"""


@register("nation_trade_balance", oracle=NATION_TRADE_BALANCE_ORACLE, headline=True)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance — the marginals of the 25×25
    nation_flow_matrix: revenue exported (as supplier nation) minus
    revenue imported (as customer nation), every nation listed (zero
    flows included). Money stays in exact 1e-4-dollar BIGINT units
    from the per-cell decimal sum through both marginal sums and the
    subtraction; ONE final division per output column.

    Scale shape: the same fact-fact join as the flow matrix collapsed
    to a 625-cell aggregate, localCheckpoint-ed because BOTH marginal
    sums consume it; the nation dim joins broadcast at 25 rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    flow = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(
            F.col("s_nationkey").alias("supp_nk"), F.col("c_nationkey").alias("cust_nk")
        )
        .agg(F.expr(_REV_E4).alias("rev_e4"))
        .localCheckpoint(eager=True)
    )
    exp = flow.groupBy(F.col("supp_nk").alias("nk")).agg(
        F.sum("rev_e4").cast("bigint").alias("exp_e4")
    )
    imp = flow.groupBy(F.col("cust_nk").alias("nk")).agg(
        F.sum("rev_e4").cast("bigint").alias("imp_e4")
    )
    return (
        nation.join(exp, nation["n_nationkey"] == exp["nk"], "left")
        .join(imp, nation["n_nationkey"] == imp["nk"], "left")
        .select(
            "n_name",
            (F.coalesce(F.col("exp_e4"), F.lit(0)).cast("double") / F.lit(10000.0)).alias(
                "exports"
            ),
            (F.coalesce(F.col("imp_e4"), F.lit(0)).cast("double") / F.lit(10000.0)).alias(
                "imports"
            ),
            (
                (F.coalesce(F.col("exp_e4"), F.lit(0)) - F.coalesce(F.col("imp_e4"), F.lit(0)))
                .cast("double")
                / F.lit(10000.0)
            ).alias("balance"),
        )
        .orderBy("n_name")
    )


# ------------------------------------------------------------------
# part_price_dispersion_by_type
# ------------------------------------------------------------------

PART_PRICE_DISPERSION_ORACLE = """
WITH cents AS (
    SELECT p_type, CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
    FROM part WHERE p_retailprice IS NOT NULL
),
wc AS (
    SELECT p_type, x, CAST(COUNT(*) AS BIGINT) AS c FROM cents GROUP BY 1, 2
),
tot AS (SELECT p_type, CAST(SUM(c) AS BIGINT) AS nt FROM wc GROUP BY 1),
r AS (
    SELECT w.p_type, w.x, w.c, t.nt,
           SUM(w.c) OVER (PARTITION BY w.p_type ORDER BY w.x ASC) AS cum
    FROM wc w JOIN tot t ON w.p_type = t.p_type
),
med AS (
    SELECT p_type, MIN(CASE WHEN cum >= (nt + 1) // 2 THEN x END) AS med_cents
    FROM r GROUP BY 1
),
d AS (
    SELECT w.p_type, abs(w.x - m.med_cents) AS ad, w.c
    FROM wc w JOIN med m ON w.p_type = m.p_type
),
da AS (SELECT p_type, ad, CAST(SUM(c) AS BIGINT) AS c FROM d GROUP BY 1, 2),
rd AS (
    SELECT a.p_type, a.ad, t.nt,
           SUM(a.c) OVER (PARTITION BY a.p_type ORDER BY a.ad ASC) AS cum
    FROM da a JOIN tot t ON a.p_type = t.p_type
),
madt AS (
    SELECT p_type, MIN(CASE WHEN cum >= (nt + 1) // 2 THEN ad END) AS mad_cents,
           MAX(ad) AS max_ad
    FROM rd GROUP BY 1
)
SELECT m.p_type AS p_type, t.nt AS n_parts,
       CAST(m.med_cents AS DOUBLE) / 100.0 AS median_price,
       CAST(ma.mad_cents AS DOUBLE) / 100.0 AS mad_price,
       CAST(ma.max_ad AS DOUBLE) / 100.0 AS max_abs_dev,
       CASE WHEN ma.mad_cents = 0 THEN NULL
            ELSE CAST(ma.max_ad AS DOUBLE) / CAST(ma.mad_cents AS DOUBLE) END AS max_dev_over_mad
FROM med m JOIN madt ma ON m.p_type = ma.p_type
JOIN tot t ON m.p_type = t.p_type
ORDER BY p_type ASC
"""


@register("part_price_dispersion_by_type", oracle=PART_PRICE_DISPERSION_ORACLE, headline=True)
def part_price_dispersion_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type robust price dispersion: lower-median and MAD of part
    retail price in exact BIGINT cents, plus the maximum absolute
    deviation and its ratio over the MAD — the robust outlier screen
    reported as a PROFILE (a clean catalog reads ratio ≈ small; a
    fat-fingered price reads ratio ≫ 3), so the row set cannot go
    hollow the way a thresholded filter does on well-behaved data.
    NULL ratio (not 0/0) when MAD is zero (over half the type at one
    price). Lower-median convention matches events_mad_anomalies;
    NULL prices are excluded (a missing price is a validation-class
    row, not a dispersion vote).

    Scale shape: money lives on a bounded CENT GRID, so both medians
    are WEIGHTED medians over (type, cent) counts — one map-side-
    combinable aggregate collapses part cardinality to grid
    cardinality (~1.2e5 cents per type regardless of corpus size),
    then per-type weighted-median folds over collect_list'd
    (value, count) arrays run entirely map-side at TYPE cardinality.
    Replaces the r12-preview bucketed-rank implementation: two
    grouped_exact_rank passes over full part cardinality (rank
    machinery ∝ rows) became one aggregate ∝ distinct grid values —
    measured 3.9 s → ~1 s warm at sf0.1, and the 100 TB cost is the
    (type, cent) aggregate's shuffle instead of two row-cardinality
    rank pipelines."""
    part = load_table(spark, sf_dir, "part")
    wc = (
        part.filter(F.col("p_retailprice").isNotNull())
        .select(
            "p_type",
            F.expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("x"),
        )
        .groupBy("p_type", "x")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    # Weighted lower median from a rank-ordered (value, count) array:
    # first value whose cumulative count reaches ceil(nt/2). The fold
    # is exact-integer and deterministic (array_sort on distinct
    # values); grid cardinality bounds the array, not corpus size.
    def _wmedian(pairs: str, nt: str) -> str:
        return (
            f"aggregate({pairs}, named_struct('cum', CAST(0 AS BIGINT), "
            f"'med', CAST(NULL AS BIGINT)), (acc, e) -> named_struct("
            f"'cum', acc.cum + e.c, "
            f"'med', IF(acc.med IS NULL AND acc.cum + e.c >= ({nt} + 1) div 2, "
            f"e.v, acc.med))).med"
        )

    byt = wc.groupBy("p_type").agg(
        F.expr("array_sort(collect_list(struct(x AS v, c)))").alias("__xs"),
        F.sum("c").cast("bigint").alias("n_parts"),
    )
    med = byt.select(
        "p_type",
        "n_parts",
        F.expr(_wmedian("__xs", "n_parts")).alias("med_cents"),
        "__xs",
    )
    # Deviations live on the same grid: |x − med| with the same
    # counts, re-sorted map-side — no join back to part rows.
    dev = med.select(
        "p_type",
        "n_parts",
        "med_cents",
        F.expr(
            "array_sort(transform(__xs, e -> struct(abs(e.v - med_cents) AS v, e.c)))"
        ).alias("__ds"),
    )
    return (
        dev.select(
            "p_type",
            "n_parts",
            "med_cents",
            F.expr(_wmedian("__ds", "n_parts")).alias("mad_cents"),
            F.expr("array_max(transform(__ds, e -> e.v))").alias("max_ad"),
        )
        .select(
            "p_type",
            "n_parts",
            (F.col("med_cents").cast("double") / F.lit(100.0)).alias("median_price"),
            (F.col("mad_cents").cast("double") / F.lit(100.0)).alias("mad_price"),
            (F.col("max_ad").cast("double") / F.lit(100.0)).alias("max_abs_dev"),
            F.when(
                F.col("mad_cents") == 0, F.lit(None).cast("double")
            ).otherwise(F.col("max_ad").cast("double") / F.col("mad_cents").cast("double"))
            .alias("max_dev_over_mad"),
        )
        .orderBy("p_type")
    )


# ------------------------------------------------------------------
# lineitem_discount_profile — the promotion schedule audit
# ------------------------------------------------------------------

LINEITEM_DISCOUNT_PROFILE_ORACLE = """
WITH b AS (
    SELECT CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT) AS discount_pct,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS gross_cents,
           CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                     * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * 10000 AS BIGINT)
               AS disc_e4
    FROM lineitem
),
g AS (
    SELECT discount_pct, CAST(COUNT(*) AS BIGINT) AS n_lineitems,
           CAST(SUM(gross_cents) AS BIGINT) AS gross_cents,
           CAST(SUM(disc_e4) AS BIGINT) AS disc_e4
    FROM b GROUP BY 1
),
tot AS (SELECT CAST(SUM(gross_cents) AS BIGINT) AS total_gross FROM g)
SELECT discount_pct, n_lineitems,
       CAST(gross_cents AS DOUBLE) / 100.0 AS gross_revenue,
       CAST(disc_e4 AS DOUBLE) / 10000.0 AS discount_given,
       CAST(gross_cents * 100 - disc_e4 AS DOUBLE) / 10000.0 AS net_revenue,
       CAST(gross_cents AS DOUBLE) / CAST(total_gross AS DOUBLE) AS gross_share
FROM g, tot
ORDER BY discount_pct ASC
"""


@register("lineitem_discount_profile", oracle=LINEITEM_DISCOUNT_PROFILE_ORACLE, headline=True)
def lineitem_discount_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full promotion-schedule audit — TPC-H Q6/Q14 generalized
    from one band to every discount level: per discount percentage,
    lineitem volume, gross revenue, revenue given away to the
    discount, net revenue, and each band's share of gross. Money
    stays exact: gross in BIGINT cents, the discount product in
    BIGINT 1e-4-dollar units (price×discount needs 4 decimals), the
    net as an exact integer subtraction on the common 1e-4 grid —
    ONE division per output column.

    Scale shape: one scan, one ~11-group aggregate with map-side
    combine; the total re-aggregates the localCheckpoint-ed band
    frame."""
    li = load_table(spark, sf_dir, "lineitem")
    b = li.select(
        F.expr("CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "discount_pct"
        ),
        F.expr("CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "gross_cents"
        ),
        F.expr(
            "CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4)) * 10000 AS BIGINT)"
        ).alias("disc_e4"),
    )
    g = (
        b.groupBy("discount_pct")
        .agg(
            F.count("*").cast("bigint").alias("n_lineitems"),
            F.sum("gross_cents").cast("bigint").alias("gross_cents"),
            F.sum("disc_e4").cast("bigint").alias("disc_e4"),
        )
        .localCheckpoint(eager=True)
    )
    tot = g.agg(F.sum("gross_cents").cast("bigint").alias("total_gross"))
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "discount_pct",
            "n_lineitems",
            (F.col("gross_cents").cast("double") / F.lit(100.0)).alias("gross_revenue"),
            (F.col("disc_e4").cast("double") / F.lit(10000.0)).alias("discount_given"),
            (
                (F.col("gross_cents") * 100 - F.col("disc_e4")).cast("double")
                / F.lit(10000.0)
            ).alias("net_revenue"),
            (F.col("gross_cents").cast("double") / F.col("total_gross").cast("double")).alias(
                "gross_share"
            ),
        )
        .orderBy("discount_pct")
    )
