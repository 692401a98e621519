"""Window-function and customer-value analytics.

Ranking (DENSE_RANK, PERCENT_RANK/CUME_DIST, NTILE), running, moving and
RANGE frames, LAG deltas and gaps-and-islands over orders and
customers, plus the lifetime-value tier: inter-purchase cadence,
acquisition cohorts, supplier Pareto concentration, RFM segmentation,
Gini, survival curves and spend-consistency CV.

Determinism discipline throughout: exact DECIMAL money sums with a
DOUBLE output boundary, ONE double division per ratio, integer
day/month arithmetic instead of fractional date math, unique
tiebreakers on every ordering, and dates surfaced as midnight
TIMESTAMP_NTZ (the lake's date-output convention, so pandas and DuckDB
agree on dtype). Row-scaled global orderings take the bucketed
prefix-sum pattern (operators/ranking.py) instead of a single-task
window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.moments import m2_numerator, sum_sq_dec
from lakehouse_architecture_transaction_spark.operators.ranking import exact_global_cumsum
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.plans.tpch import _REV

@register(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        FROM orders
    ) WHERE rn <= 3
    ORDER BY o_custkey ASC, rn ASC
    """,
    headline=True,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k-per-group via window row_number — the canonical
    distributed pattern (one shuffle on the partition key)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy(F.col("o_custkey").asc(), F.col("rn").asc())
    )


@register(
    "customer_running_spend",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,2)) AS DOUBLE) AS running_spend
    FROM orders
    ORDER BY o_custkey ASC, o_orderkey ASC
    """,
)
def customer_running_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total per customer (exact decimal accumulation)."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
        .over(w)
        .cast("decimal(18,2)")
        .cast("double")
        .alias("running_spend"),
    ).orderBy(F.col("o_custkey").asc(), F.col("o_orderkey").asc())


@register(
    "customer_moving_avg",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(*) OVER w AS moving_avg_3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    ORDER BY o_custkey ASC, o_orderkey ASC
    """,
)
def customer_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-frame window (last-3-orders moving average): exact
    decimal sum over the frame, ONE double division — same
    cross-engine determinism discipline as the running sum."""
    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
        .rowsBetween(-2, Window.currentRow)
    )
    dec = F.expr("CAST(o_totalprice AS DECIMAL(18,2))")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (F.sum(dec).over(w).cast("double") / F.count("*").over(w)).alias("moving_avg_3"),
    ).orderBy("o_custkey", "o_orderkey")


@register(
    "orders_above_customer_avg",
    oracle="""
    WITH avgs AS (
        SELECT o_custkey AS k,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
        FROM orders GROUP BY o_custkey
    )
    SELECT o_orderkey, o_custkey, o_totalprice, avg_price
    FROM orders JOIN avgs ON o_custkey = k
    WHERE o_totalprice > 1.5 * avg_price
    ORDER BY o_orderkey ASC
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape (TPC-H Q17 family): aggregate once
    per group, join back, filter — the aggregate side is tiny (one row
    per customer), so at scale it broadcasts or shuffles on the same
    key as the probe with no extra pass over the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    avgs = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).cast("double") / F.count("*")).alias(
            "avg_price"
        )
    )
    return (
        orders.join(avgs, orders.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select("o_orderkey", "o_custkey", "o_totalprice", "avg_price")
        .orderBy("o_orderkey")
    )


@register(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT o_custkey,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT *, NTILE(10) OVER (ORDER BY total ASC, o_custkey ASC) AS decile FROM spend
    )
    SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_customers,
           CAST(CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS decile_spend,
           MIN(total) AS min_spend, MAX(total) AS max_spend
    FROM ranked GROUP BY decile
    ORDER BY decile ASC
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile segmentation of customer lifetime spend. NTILE needs the
    exact global rank; instead of a ``Window.orderBy`` (which funnels
    every customer through ONE task), the rank comes from the bucketed
    prefix-sum pattern (operators/ranking.py ntile_exact): range
    buckets from approxQuantile, parallel within-bucket numbering,
    broadcast offsets, NTILE's closed form on the exact rank — same
    result as the SQL NTILE the oracle states, at any scale."""
    from lakehouse_architecture_transaction_spark.operators.ranking import ntile_exact

    orders = load_table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("total")
    )
    ranked = ntile_exact(spend, value_col="total", tiebreakers=["o_custkey"], n=10, tile_col="decile")
    return (
        ranked.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").alias("n_customers"),
            F.expr("SUM(CAST(total AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("decile_spend"),
            F.min("total").alias("min_spend"),
            F.max("total").alias("max_spend"),
        )
        .orderBy("decile")
    )


@register(
    "customer_order_span",
    oracle="""
    SELECT o_custkey,
           CAST(CAST(first_dt AS DATE) AS TIMESTAMP) AS first_dt,
           CAST(CAST(last_dt AS DATE) AS TIMESTAMP) AS last_dt,
           CAST(first_price AS DOUBLE) AS first_price,
           CAST(last_price AS DOUBLE) AS last_price,
           n_orders
    FROM (
        SELECT o_custkey,
               FIRST_VALUE(o_orderdate) OVER w AS first_dt,
               LAST_VALUE(o_orderdate) OVER w AS last_dt,
               FIRST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS first_price,
               LAST_VALUE(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS last_price,
               COUNT(*) OVER (PARTITION BY o_custkey) AS n_orders,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderkey ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ) WHERE rn = 1
    ORDER BY o_custkey ASC
    """,
    headline=True,
)
def customer_order_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE/LAST_VALUE over an unbounded frame: each customer's
    first and last order date and price in ONE window pass (no
    min/max + join-back). Partitioned by custkey — fully parallel at
    any scale; (date, orderkey) ordering makes the frame total."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    price = F.expr("CAST(o_totalprice AS DECIMAL(18,2))")
    return (
        orders.select(
            "o_custkey",
            F.first(F.col("o_orderdate")).over(wf).alias("__fd"),
            F.last(F.col("o_orderdate")).over(wf).alias("__ld"),
            F.first(price).over(wf).alias("__fp"),
            F.last(price).over(wf).alias("__lp"),
            F.count("*").over(Window.partitionBy("o_custkey")).alias("n_orders"),
            F.row_number().over(w).alias("__rn"),
        )
        .filter(F.col("__rn") == 1)
        .select(
            "o_custkey",
            F.expr("CAST(CAST(__fd AS DATE) AS TIMESTAMP_NTZ)").alias("first_dt"),
            F.expr("CAST(CAST(__ld AS DATE) AS TIMESTAMP_NTZ)").alias("last_dt"),
            F.col("__fp").cast("double").alias("first_price"),
            F.col("__lp").cast("double").alias("last_price"),
            "n_orders",
        )
        .orderBy("o_custkey")
    )


@register(
    "orders_pctrank_in_segment",
    oracle="""
    SELECT o.o_orderkey,
           c.c_mktsegment,
           CAST(year(o.o_orderdate) AS INTEGER) AS yr,
           CAST(o.o_totalprice AS DOUBLE) AS price,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume_dist
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WINDOW w AS (PARTITION BY c.c_mktsegment, year(o.o_orderdate)
                 ORDER BY CAST(o.o_totalprice AS DECIMAL(18,2)) ASC)
    ORDER BY o_orderkey ASC
    """,
    headline=True,
)
def orders_pctrank_in_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK + CUME_DIST of each order's value within its
    (market segment × year), via operators/ranking.py
    grouped_percent_rank: rows collapse to (group, value) counts,
    values bucket on GLOBAL quantile boundaries, and ranks assemble
    from per-(group, bucket) prefixes + broadcast offsets — the
    tie-sharing SQL semantics exactly, with NO per-group global sort
    (a bare segment×year window funnels 1/35 of the fact table
    through one task at 100 TB)."""
    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_percent_rank

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    d = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey",
        "c_mktsegment",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.expr("CAST(o_totalprice AS DECIMAL(18,2))").alias("__vdec"),
    )
    ranked = grouped_percent_rank(
        d, group_cols=["c_mktsegment", "yr"], value_col="__vdec"
    )
    return ranked.select(
        "o_orderkey",
        "c_mktsegment",
        "yr",
        F.col("__vdec").cast("double").alias("price"),
        "pct_rank",
        "cume_dist",
    ).orderBy("o_orderkey")


@register(
    "lineitem_returnflag_discount_ranks",
    oracle=f"""
    WITH a AS (
        SELECT l_returnflag, l_discount,
               COUNT(*) AS n_items,
               CAST(SUM({_REV}) AS DECIMAL(18,4)) AS rev
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag, CAST(l_discount AS DOUBLE) AS discount, n_items,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY rev DESC) AS BIGINT) AS rev_rank
    FROM a
    ORDER BY l_returnflag ASC, rev_rank ASC, discount ASC
    """,
)
def lineitem_returnflag_discount_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE_RANK of discount levels by revenue within each return flag.
    The window runs over the AGGREGATE (3 flags × 11 discount levels —
    constant cardinality however large the fact table), never the
    fact; dense_rank is tie-stable so no tiebreaker is needed in the
    rank itself (the output ordering carries one)."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.groupBy("l_returnflag", "l_discount").agg(
        F.count("*").alias("n_items"),
        F.expr(f"SUM({_REV})").cast("decimal(18,4)").alias("rev"),
    )
    w = Window.partitionBy("l_returnflag").orderBy(F.col("rev").desc())
    return a.select(
        "l_returnflag",
        F.col("l_discount").cast("double").alias("discount"),
        "n_items",
        F.col("rev").cast("double").alias("revenue"),
        F.dense_rank().over(w).cast("bigint").alias("rev_rank"),
    ).orderBy(F.col("l_returnflag").asc(), F.col("rev_rank").asc(), F.col("discount").asc())


@register(
    "orders_gap_islands",
    oracle="""
    WITH m AS (
        SELECT DISTINCT o_custkey,
               year(o_orderdate) * 12 + month(o_orderdate) AS mnum
        FROM orders
    ),
    isl AS (
        SELECT o_custkey,
               mnum - ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY mnum ASC) AS island_key
        FROM m
    ),
    lens AS (
        SELECT o_custkey, island_key, COUNT(*) AS island_len
        FROM isl GROUP BY 1, 2
    )
    SELECT CAST(island_len AS BIGINT) AS island_len,
           COUNT(*) AS n_islands,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM lens GROUP BY island_len
    ORDER BY island_len ASC
    """,
    headline=True,
)
def orders_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over each customer's active MONTHS: runs of
    consecutive ordering months (island_key = month_number − row_number,
    the classic trick), profiled as a run-length histogram. Everything
    is integer arithmetic on custkey-partitioned windows — parallel at
    any scale, and the final histogram is at run-length cardinality."""
    orders = load_table(spark, sf_dir, "orders")
    m = orders.select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mnum"),
    ).distinct()
    w = Window.partitionBy("o_custkey").orderBy(F.col("mnum").asc())
    isl = m.select("o_custkey", (F.col("mnum") - F.row_number().over(w)).alias("island_key"))
    lens = isl.groupBy("o_custkey", "island_key").agg(F.count("*").alias("island_len"))
    return (
        lens.groupBy(F.col("island_len").cast("bigint").alias("island_len"))
        .agg(F.count("*").alias("n_islands"), F.countDistinct("o_custkey").alias("n_customers"))
        .orderBy("island_len")
    )


@register(
    "orders_weekday_profile",
    oracle="""
    WITH a AS (
        SELECT isodow(CAST(o_orderdate AS DATE)) AS dow,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        FROM orders GROUP BY 1
    ),
    t AS (SELECT SUM(rev) AS tot FROM a)
    SELECT CAST(dow AS INTEGER) AS dow, n_orders,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(rev AS DOUBLE) / n_orders AS avg_order_value,
           CAST(rev AS DOUBLE) / CAST(t.tot AS DOUBLE) AS revenue_share
    FROM a, t
    ORDER BY dow ASC
    """,
)
def orders_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order volume/revenue by ISO weekday (1=Mon..7=Sun): map-side
    combinable 7-group aggregate; shares divide by a broadcast scalar
    total (no window over the aggregate needed). Spark's weekday()
    (0=Mon) + 1 equals DuckDB's isodow."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.groupBy((F.expr("weekday(o_orderdate)") + 1).cast("int").alias("dow")).agg(
        F.count("*").alias("n_orders"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").cast("decimal(18,2)").alias("rev"),
    )
    tot = a.agg(F.sum("rev").alias("tot"))
    return (
        a.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            (F.col("rev").cast("double") / F.col("n_orders")).alias("avg_order_value"),
            (F.col("rev").cast("double") / F.col("tot").cast("double")).alias("revenue_share"),
        )
        .orderBy("dow")
    )


@register(
    "orders_monthly_share",
    oracle="""
    WITH a AS (
        SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mon,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        FROM orders GROUP BY 1, 2
    ),
    y AS (SELECT yr, SUM(rev) AS yrev FROM a GROUP BY yr)
    SELECT CAST(a.yr AS INTEGER) AS yr, CAST(a.mon AS INTEGER) AS mon, a.n_orders,
           CAST(a.rev AS DOUBLE) AS revenue,
           CAST(a.rev AS DOUBLE) / CAST(y.yrev AS DOUBLE) AS share_of_year
    FROM a JOIN y ON a.yr = y.yr
    ORDER BY yr ASC, mon ASC
    """,
)
def orders_monthly_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue as a share of its year: fact collapses to
    (year, month) with exact decimal sums; year totals re-aggregate
    the 12-row groups and broadcast back — no window over the fact,
    one double division per share."""
    orders = load_table(spark, sf_dir, "orders")
    a = orders.groupBy(
        F.year("o_orderdate").alias("yr"), F.month("o_orderdate").alias("mon")
    ).agg(
        F.count("*").alias("n_orders"),
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").cast("decimal(18,2)").alias("rev"),
    )
    y = a.groupBy("yr").agg(F.sum("rev").alias("yrev"))
    return (
        a.join(F.broadcast(y), on="yr")
        .select(
            F.col("yr").cast("int").alias("yr"),
            F.col("mon").cast("int").alias("mon"),
            "n_orders",
            F.col("rev").cast("double").alias("revenue"),
            (F.col("rev").cast("double") / F.col("yrev").cast("double")).alias("share_of_year"),
        )
        .orderBy("yr", "mon")
    )


@register(
    "part_top_brand_per_type",
    oracle=f"""
    WITH a AS (
        SELECT p.p_type, p.p_brand,
               COUNT(*) AS n_items,
               CAST(SUM({_REV}) AS DECIMAL(18,4)) AS rev
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        GROUP BY 1, 2
    )
    SELECT p_type, p_brand AS top_brand, n_items,
           CAST(rev AS DOUBLE) AS revenue
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY p_type ORDER BY rev DESC, p_brand ASC) AS rn
        FROM a
    ) WHERE rn = 1
    ORDER BY p_type ASC
    """,
)
def part_top_brand_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top revenue brand per part type: partkey-keyed fact-dim join,
    aggregate to (type, brand) — ~150×25 rows — then argmax per type
    over the tiny aggregate with a (revenue desc, brand asc)
    tiebreak."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    a = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(f"SUM({_REV})").cast("decimal(18,4)").alias("rev"),
        )
    )
    w = Window.partitionBy("p_type").orderBy(F.col("rev").desc(), F.col("p_brand").asc())
    return (
        a.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_type",
            F.col("p_brand").alias("top_brand"),
            "n_items",
            F.col("rev").cast("double").alias("revenue"),
        )
        .orderBy("p_type")
    )


@register(
    "customer_segment_median_order",
    oracle="""
    SELECT c.c_mktsegment,
           COUNT(*) AS n_orders,
           quantile_cont(o.o_totalprice, 0.5) AS median_value,
           quantile_cont(o.o_totalprice, 0.9) AS p90_value,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_value
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    ORDER BY c_mktsegment ASC
    """,
)
def customer_segment_median_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median/p90 order value per market segment (both engines
    interpolate at rank p·(n−1), so doubles match bit-for-bit — the
    events_value_percentiles precedent), mean as one division of the
    exact decimal sum. custkey-keyed join, 5-group aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("percentile(o_totalprice, 0.5)").alias("median_value"),
            F.expr("percentile(o_totalprice, 0.9)").alias("p90_value"),
            (
                F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").cast("double") / F.count("*")
            ).alias("mean_value"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "orders_ship_delay_stats",
    oracle="""
    WITH d AS (
        SELECT o.o_orderpriority,
               date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS delay_d
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(SUM(delay_d) AS DOUBLE) / COUNT(*) AS mean_delay_d,
           quantile_cont(delay_d, 0.5) AS p50_delay_d,
           quantile_cont(delay_d, 0.9) AS p90_delay_d,
           MAX(delay_d) AS max_delay_d
    FROM d GROUP BY 1
    ORDER BY o_orderpriority ASC
    """,
)
def orders_ship_delay_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per priority class (the SLA
    table): orderkey-keyed fact-fact join, integer day arithmetic,
    exact mean (BIGINT sum / count) and exact interpolated quantiles
    per 5-row priority group."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_orderdate")
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff(F.expr("CAST(l_shipdate AS DATE)"), F.expr("CAST(o_orderdate AS DATE)")).alias("delay_d"),
    )
    return (
        d.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            (F.sum("delay_d").cast("double") / F.count("*")).alias("mean_delay_d"),
            F.expr("percentile(delay_d, 0.5)").alias("p50_delay_d"),
            F.expr("percentile(delay_d, 0.9)").alias("p90_delay_d"),
            F.max("delay_d").cast("bigint").alias("max_delay_d"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "customer_range_frame_spend",
    oracle="""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               CAST(date_diff('day', TIMESTAMP '1970-01-01 00:00:00', o_orderdate) AS BIGINT) AS d,
               CAST(o_totalprice AS DECIMAL(18,2)) AS p
        FROM orders
    )
    SELECT o_orderkey, o_custkey,
           CAST(CAST(SUM(p) OVER (
               PARTITION BY o_custkey ORDER BY d
               RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
           ) AS DECIMAL(18,2)) AS DOUBLE) AS spend_30d
    FROM o
    ORDER BY o_orderkey ASC
    """,
)
def customer_range_frame_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): per order, the
    same customer's total spend over the trailing 30 DAYS inclusive.
    Row frames break on ties and gaps; a RANGE frame over the
    day-epoch is deterministic regardless of intra-day order — and is
    the frame variant row-windows can't emulate. One shuffle on the
    customer key; decimal sum, double boundary."""
    orders = load_table(spark, sf_dir, "orders")
    o = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp_ntz")).cast("long").alias("d"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    w = Window.partitionBy("o_custkey").orderBy("d").rangeBetween(-30, 0)
    return (
        o.withColumn("spend_30d", F.sum("p").over(w).cast("decimal(18,2)").cast("double"))
        .select("o_orderkey", "o_custkey", "spend_30d")
        .orderBy("o_orderkey")
    )


@register(
    "customer_interpurchase_gaps",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               date_diff('day',
                   CAST(LAG(o_orderdate) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate ASC, o_orderkey ASC) AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap
        FROM orders
    ),
    per AS (
        SELECT o_custkey, COUNT(gap) AS n_gaps, SUM(gap) AS sum_gap, MAX(gap) AS max_gap
        FROM seq WHERE gap IS NOT NULL GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_repeat_customers,
           CAST(SUM(n_gaps) AS BIGINT) AS n_gaps,
           CAST(SUM(sum_gap) AS DOUBLE) / CAST(SUM(n_gaps) AS BIGINT) AS avg_gap_days,
           CAST(MAX(max_gap) AS BIGINT) AS max_gap_days
    FROM per JOIN customer ON c_custkey = per.o_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC
    """,
    headline=True,
)
def customer_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase cadence per market segment: day gaps between a
    customer's consecutive orders, aggregated per c_mktsegment.

    Scale shape: ONE shuffle on o_custkey feeds the lag() window (the
    unavoidable per-customer ordering pass), gaps collapse to a
    per-customer aggregate on the SAME key (no second exchange), then
    the customer join runs custkey-co-partitioned and the final agg is
    5 segments wide. Gaps are integer datediff days — no fractional
    date math — and the segment average is one double division of
    exact integer sums.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    gaps = (
        orders.select(
            "o_custkey",
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))).alias("gap"),
        )
        .filter(F.col("gap").isNotNull())
    )
    per = gaps.groupBy("o_custkey").agg(
        F.count("gap").alias("n_gaps"),
        F.sum("gap").alias("sum_gap"),
        F.max("gap").alias("max_gap"),
    )
    return (
        per.join(customer, per.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_repeat_customers"),
            F.sum("n_gaps").cast("bigint").alias("n_gaps"),
            (F.sum("sum_gap").cast("double") / F.sum("n_gaps").cast("bigint")).alias("avg_gap_days"),
            F.max("max_gap").cast("bigint").alias("max_gap_days"),
        )
        .orderBy(F.col("c_mktsegment").asc())
    )


@register(
    "customer_cohort_ltv",
    oracle="""
    WITH f AS (
        SELECT o_custkey, MIN(o_orderdate) AS first_dt FROM orders GROUP BY o_custkey
    )
    SELECT CAST(make_date(CAST(year(f.first_dt) AS INT), CAST(month(f.first_dt) AS INT), 1) AS TIMESTAMP) AS cohort_month,
           CAST((year(o.o_orderdate) - year(f.first_dt)) * 12
                + (month(o.o_orderdate) - month(f.first_dt)) AS BIGINT) AS month_offset,
           COUNT(DISTINCT o.o_custkey) AS n_active,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
    FROM orders o JOIN f ON o.o_custkey = f.o_custkey
    GROUP BY 1, 2
    ORDER BY cohort_month ASC, month_offset ASC
    """,
    headline=True,
)
def customer_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Acquisition-cohort LTV matrix: customers bucketed by the month
    of their FIRST order; revenue and active-customer counts by whole
    months since acquisition — the cumulative-LTV curve input.

    Scale shape: groupBy(o_custkey) for first-order dates, then a
    fact-to-aggregate join co-partitioned on the SAME key (the first
    shuffle's partitioning is reused), finishing in an aggregate of
    |cohorts| × |offsets| rows. Month offsets are exact integer
    (year, month) arithmetic — months_between() floats would drift
    cross-engine.
    """
    orders = load_table(spark, sf_dir, "orders")
    first = orders.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt"))
    return (
        orders.join(first, "o_custkey")
        .groupBy(
            # date → TIMESTAMP_NTZ is midnight wall-clock, no session
            # timezone involved (the lake's date-output convention).
            F.expr("CAST(make_date(year(first_dt), month(first_dt), 1) AS TIMESTAMP_NTZ)").alias(
                "cohort_month"
            ),
            F.expr(
                "CAST((year(o_orderdate) - year(first_dt)) * 12"
                " + (month(o_orderdate) - month(first_dt)) AS BIGINT)"
            ).alias("month_offset"),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            F.count("*").alias("n_orders"),
            # DECIMAL(28,2) cell sums (not 18,2): a cohort cell at the
            # 100 TB point can exceed DECIMAL(18,2)'s 1e16 bound, and
            # Spark would null the overflow. Consistent with the RFM
            # monetary sum.
            F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))"))
            .cast("decimal(28,2)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(F.col("cohort_month").asc(), F.col("month_offset").asc())
    )


@register(
    "supplier_revenue_pareto",
    oracle=f"""
    WITH s AS (
        SELECT l_suppkey AS suppkey, CAST(SUM({_REV}) AS DECIMAL(18,4)) AS rev
        FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT SUM(rev) AS t FROM s),
    c AS (
        SELECT suppkey, rev,
               ROW_NUMBER() OVER (ORDER BY rev DESC, suppkey ASC) AS rnk,
               SUM(rev) OVER (ORDER BY rev DESC, suppkey ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM s
    )
    SELECT suppkey,
           CAST(rnk AS BIGINT) AS rank,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(cum AS DOUBLE) AS cum_revenue,
           CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
           (CAST(cum AS DOUBLE) / CAST(t AS DOUBLE)) <= 0.8 AS in_top80
    FROM c, tot
    ORDER BY rank ASC
    """,
    headline=True,
)
def supplier_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration (Pareto / 80-20): per-supplier
    discounted revenue, exact descending rank, exact running share of
    total, and the top-80% flag.

    Scale shape: the fact scan collapses to supplier cardinality with
    map-side combine; the descending running sum is NOT a bare global
    window — operators/ranking.exact_global_cumsum range-buckets on
    revenue and offsets per-bucket (count, DECIMAL sum) prefixes, so
    ranks and cumulative sums are exact with no single-partition sort
    (supplier is 10k rows per TPC-H SF unit — 1e9 at the 100 TB
    point). The share is one double division against a broadcast
    1-row total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = (
        li.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.expr(f"SUM({_REV})").cast("decimal(18,4)").alias("rev"))
        # Rank on the WIDENED INTEGER key (rev·10⁴ is exact in BIGINT
        # up to 9.2e14 currency units): a double key would collide
        # distinct decimals beyond 2^53 and tiebreak by suppkey where
        # the oracle orders by true decimal value. Bucket boundaries
        # still come from the double projection internally — they only
        # affect load balance, never order.
        .withColumn("revi", F.expr("CAST(rev * 10000 AS BIGINT)"))
        # supplier-cardinality aggregate consumed 5× (total + the
        # ranking's four passes) — materialize once
        .localCheckpoint(eager=True)
    )
    tot = s.agg(F.sum("rev").alias("t"))
    ranked = exact_global_cumsum(
        s, value_col="revi", sum_col="rev", tiebreakers=["suppkey"],
        rank_col="rank", cum_col="cum", descending=True, materialize=False,
    )
    share = F.col("cum").cast("double") / F.col("t").cast("double")
    return (
        ranked.crossJoin(F.broadcast(tot))
        .select(
            "suppkey",
            "rank",
            F.col("rev").cast("double").alias("revenue"),
            F.col("cum").cast("double").alias("cum_revenue"),
            share.alias("cum_share"),
            (share <= F.lit(0.8)).alias("in_top80"),
        )
        .orderBy(F.col("rank").asc())
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-12-31') AS DOUBLE) AS rec,
               CAST(COUNT(*) AS DOUBLE) AS freq,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS mon
        FROM orders GROUP BY o_custkey
    ),
    th AS (
        SELECT quantile_cont(rec, 1.0/3) AS r1, quantile_cont(rec, 2.0/3) AS r2,
               quantile_cont(freq, 1.0/3) AS f1, quantile_cont(freq, 2.0/3) AS f2,
               quantile_cont(CAST(mon AS DOUBLE), 1.0/3) AS m1,
               quantile_cont(CAST(mon AS DOUBLE), 2.0/3) AS m2
        FROM per
    ),
    scored AS (
        SELECT CAST(CASE WHEN rec <= r1 THEN 3 WHEN rec <= r2 THEN 2 ELSE 1 END AS INT) AS r_score,
               CAST(CASE WHEN freq >= f2 THEN 3 WHEN freq >= f1 THEN 2 ELSE 1 END AS INT) AS f_score,
               CAST(CASE WHEN CAST(mon AS DOUBLE) >= m2 THEN 3
                         WHEN CAST(mon AS DOUBLE) >= m1 THEN 2 ELSE 1 END AS INT) AS m_score,
               mon
        FROM per, th
    )
    SELECT r_score, f_score, m_score,
           COUNT(*) AS n_customers,
           CAST(CAST(SUM(mon) AS DECIMAL(28,2)) AS DOUBLE) AS total_monetary
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score ASC, f_score ASC, m_score ASC
    """,
    headline=True,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency (days from last order to the fixed
    1998-12-31 anchor), frequency (order count), monetary (exact
    decimal spend) per customer, each cut into terciles at exact
    interpolated 1/3-2/3 quantiles; output is the 27-cell segment
    grid with counts and exact total spend.

    Scale shape: one groupBy(o_custkey) pass builds the RFM triple;
    the tercile thresholds are a 1-row aggregate broadcast back (the
    same exact-interpolation percentile both engines share — see
    events_value_percentiles); scoring is a map-side CASE chain and
    the final aggregate is ≤27 rows. Monetary stays DECIMAL through
    both aggregations — only comparisons and the output boundary are
    double.
    """
    orders = load_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.expr("CAST(datediff(DATE '1998-12-31', CAST(MAX(o_orderdate) AS DATE)) AS DOUBLE)").alias("rec"),
        F.count("*").cast("double").alias("freq"),
        F.sum(F.expr("CAST(o_totalprice AS DECIMAL(18,2))")).cast("decimal(28,2)").alias("mon"),
    )
    th = per.agg(
        F.expr("percentile(rec, 1.0/3)").alias("r1"),
        F.expr("percentile(rec, 2.0/3)").alias("r2"),
        F.expr("percentile(freq, 1.0/3)").alias("f1"),
        F.expr("percentile(freq, 2.0/3)").alias("f2"),
        F.expr("percentile(CAST(mon AS DOUBLE), 1.0/3)").alias("m1"),
        F.expr("percentile(CAST(mon AS DOUBLE), 2.0/3)").alias("m2"),
    )
    scored = per.crossJoin(F.broadcast(th)).select(
        F.expr("CAST(CASE WHEN rec <= r1 THEN 3 WHEN rec <= r2 THEN 2 ELSE 1 END AS INT)").alias("r_score"),
        F.expr("CAST(CASE WHEN freq >= f2 THEN 3 WHEN freq >= f1 THEN 2 ELSE 1 END AS INT)").alias("f_score"),
        F.expr(
            "CAST(CASE WHEN CAST(mon AS DOUBLE) >= m2 THEN 3"
            " WHEN CAST(mon AS DOUBLE) >= m1 THEN 2 ELSE 1 END AS INT)"
        ).alias("m_score"),
        "mon",
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("mon").cast("decimal(28,2)").cast("double").alias("total_monetary"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


CUSTOMER_GINI_ORACLE = """
WITH spend AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
    FROM orders GROUP BY 1
),
j AS (
    SELECT s.o_custkey, s.spend, c.c_mktsegment
    FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                 ORDER BY spend ASC, o_custkey ASC) AS i
    FROM j
),
g AS (
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           SUM(spend) AS s0,
           SUM(i * spend) AS s1
    FROM r GROUP BY 1
)
SELECT c_mktsegment, n_customers,
       CAST(CAST(s0 * 100 AS BIGINT) AS DOUBLE) / 100.0 AS total_spend,
       (2.0 * (CAST(CAST(s1 * 100 AS BIGINT) AS DOUBLE) / 100.0)
        - (CAST(n_customers AS DOUBLE) + 1.0) * (CAST(CAST(s0 * 100 AS BIGINT) AS DOUBLE) / 100.0))
           / (CAST(n_customers AS DOUBLE) * (CAST(CAST(s0 * 100 AS BIGINT) AS DOUBLE) / 100.0)) AS gini
FROM g ORDER BY c_mktsegment ASC
"""


@register("customer_mktseg_gini", oracle=CUSTOMER_GINI_ORACLE, headline=True)
def customer_mktseg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment Gini coefficient of customer spend — the
    inequality/concentration metric a revenue-analytics user computes
    over every segmentation. Uses the rank-sum identity
    G = (2·Σ i·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with x ascending: spend
    totals are exact DECIMAL sums, ranks are exact integers, Σ i·xᵢ is
    an exact DECIMAL sum of products, and G is one fixed chain of
    double ops on identical exact inputs — bit-replayable. Tie order
    (equal spends) cannot change Σ i·xᵢ, so the rank tiebreak is
    value-neutral.

    Engine boundary per the house int64 rule (the emb_dim_stats 1-ulp
    lesson): both sums cross to DOUBLE as exact BIGINT cent units
    (×100), because BIGINT→DOUBLE is correctly rounded in both
    engines while wide-DECIMAL→DOUBLE is not guaranteed to be.

    Scale shape: spend aggregate at customer cardinality, then the
    house bucketed-prefix grouped rank (operators/ranking.py
    grouped_exact_rank — (segment × value-bucket) parallel windows +
    broadcast prefix offsets; a bare Window.partitionBy(segment) would
    sort customer cardinality in FIVE tasks, the low-cardinality-window
    failure SURVEY §6 bans), one segment aggregate."""
    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_exact_rank

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("spend"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_custkey", "spend", "c_mktsegment")
    )
    ranked = grouped_exact_rank(
        spend, group_cols=["c_mktsegment"], value_col="spend",
        tiebreakers=["o_custkey"], rank_col="i",
    )
    agg = ranked.groupBy("c_mktsegment").agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.sum("spend").alias("__s0"),
        F.sum(F.col("i") * F.col("spend")).alias("__s1"),
    )
    s0 = (F.col("__s0") * 100).cast("long").cast("double") / F.lit(100.0)
    s1 = (F.col("__s1") * 100).cast("long").cast("double") / F.lit(100.0)
    n = F.col("n_customers").cast("double")
    return agg.select(
        "c_mktsegment",
        "n_customers",
        ((F.col("__s0") * 100).cast("long").cast("double") / F.lit(100.0)).alias("total_spend"),
        ((F.lit(2.0) * s1 - (n + F.lit(1.0)) * s0) / (n * s0)).alias("gini"),
    ).orderBy("c_mktsegment")


# ------------------------------------------------------------------
# orders_backlog_daily — interval stabbing via delta cumsum
# ------------------------------------------------------------------

ORDERS_BACKLOG_ORACLE = """
WITH span AS (
    SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS start_day,
           CAST(MAX(l.l_shipdate) + INTERVAL 1 DAY AS DATE) AS end_day
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY 1, 2
),
deltas AS (
    SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
        SELECT start_day AS day, 1 AS d FROM span
        UNION ALL
        SELECT end_day AS day, -1 AS d FROM span
    ) GROUP BY 1
)
SELECT CAST(day AS TIMESTAMP) AS day, delta,
       CAST(SUM(delta) OVER (ORDER BY day ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS backlog
FROM deltas
ORDER BY day ASC
"""


@register("orders_backlog_daily", oracle=ORDERS_BACKLOG_ORACLE, headline=True)
def orders_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog (orders placed but not yet fully
    shipped) — the interval-stabbing time series computed WITHOUT a
    day × order join: each order contributes +1 at its order date and
    −1 the day after its last shipment, deltas aggregate at day
    cardinality, and the running sum turns deltas into the backlog
    level. The classic sweep-line rewrite that makes "how many
    intervals cover each day" linear in orders instead of
    days × orders.

    The cumulative sum runs through exact_global_cumsum's bucketed
    prefixes (operators/ranking.py) keyed on the epoch-day number —
    no single-partition global window even though the day axis is
    calendar-bounded; deltas and backlog are exact BIGINTs.

    Scale shape: per-order span aggregate (orderkey-keyed), day
    aggregate (map-side combined), then the bucketed-prefix cumsum at
    day cardinality."""
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    span = (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", F.to_date("o_orderdate").alias("start_day"))
        .agg(F.date_add(F.to_date(F.max("l_shipdate")), 1).alias("end_day"))
    )
    deltas = (
        span.select(F.col("start_day").alias("day"), F.lit(1).alias("d"))
        .unionByName(span.select(F.col("end_day").alias("day"), F.lit(-1).alias("d")))
        .groupBy("day")
        .agg(F.sum("d").cast("bigint").alias("delta"))
        .withColumn("day_num", F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long"))
    )
    cum = exact_global_cumsum(
        deltas, value_col="day_num", sum_col="delta", tiebreakers=["day_num"], cum_col="backlog"
    )
    return (
        cum.select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "delta",
            F.col("backlog").cast("bigint").alias("backlog"),
        )
        .orderBy("day")
    )


# ------------------------------------------------------------------
# customer_survival_curve — lifetime survival function
# ------------------------------------------------------------------

_SURV_MAX_MONTHS = 12

CUSTOMER_SURVIVAL_ORACLE = f"""
WITH span AS (
    SELECT o_custkey,
           date_diff('day', MIN(CAST(o_orderdate AS DATE)), MAX(CAST(o_orderdate AS DATE))) // 30
               AS life_months
    FROM orders GROUP BY 1
),
tot AS (SELECT CAST(COUNT(life_months) AS BIGINT) AS n_total FROM span),
k AS (SELECT unnest(generate_series(0, {_SURV_MAX_MONTHS})) AS months),
surv AS (
    SELECT k.months, CAST(COUNT(s.o_custkey) AS BIGINT) AS n_surviving
    FROM k LEFT JOIN span s ON s.life_months >= k.months
    GROUP BY 1
)
SELECT CAST(months AS BIGINT) AS months, n_surviving,
       CASE WHEN n_total = 0 THEN 0.0
            ELSE CAST(n_surviving AS DOUBLE) / CAST(n_total AS DOUBLE) END AS survival_frac
FROM surv, tot
ORDER BY months ASC
"""


def _survival_curve_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 13-point (months, n_surviving) curve BEFORE the 13-row
    checkpoint — split out so tests can pin the LAZY plan: the
    >= theta join must broadcast the month-cardinality lifetime
    histogram, never the per-customer span frame (see
    customer_survival_curve's scale-shape note)."""
    orders = load_table(spark, sf_dir, "orders")
    span = orders.groupBy("o_custkey").agg(
        (
            F.datediff(
                F.max(F.col("o_orderdate").cast("date")), F.min(F.col("o_orderdate").cast("date"))
            )
            .cast("long")
            / F.lit(30)
        )
        .cast("long")
        .alias("life_months")
    )
    # month-cardinality histogram: the one frame the theta join sees
    hist = span.groupBy("life_months").agg(F.count("*").cast("bigint").alias("__n"))
    ks = spark.range(0, _SURV_MAX_MONTHS + 1).select(F.col("id").cast("long").alias("months"))
    return (
        ks.join(F.broadcast(hist), hist["life_months"] >= ks["months"], "left")
        .groupBy("months")
        .agg(F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_surviving"))
    )


@register("customer_survival_curve", oracle=CUSTOMER_SURVIVAL_ORACLE, headline=True)
def customer_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime survival curve: for k = 0..{m} months, how
    many customers' observed lifetime (days between first and last
    order, floored to 30-day months) reaches k, and the surviving
    fraction — the retention curve drawn from customer_order_span's
    raw spans. Exact integer lifetimes, one division per point. The
    denominator is customers with an OBSERVABLE lifetime (non-null
    order dates — oracle COUNT(life_months), Spark's months==0 row);
    both engines exclude null-lifetime customers by the same
    definition, so the parity does not lean on TPC-H's non-null
    o_orderdate.

    Scale shape: the span aggregate runs at customer cardinality
    (map-side combined), then collapses to a LIFETIME HISTOGRAM at
    distinct-month cardinality (≤ a few hundred rows at any corpus
    size) BEFORE the ≥-theta join against the 13-point curve — the
    theta join is tiny × tiny. The first cut of this plan joined the
    13 k-points to the per-CUSTOMER span frame directly: Spark plans
    a non-equi left join as BroadcastNestedLoopJoin building the
    RIGHT side, i.e. it broadcast customer-cardinality rows — fine at
    sf0.1, an OOM at 100 TB (caught by plan inspection ahead of the
    r11 registration; pinned by test_plans).""".format(m=_SURV_MAX_MONTHS)
    surv = _survival_curve_points(spark, sf_dir).localCheckpoint(eager=True)
    tot = surv.filter(F.col("months") == 0).select(F.col("n_surviving").alias("n_total"))
    return (
        surv.crossJoin(F.broadcast(tot))
        .select(
            "months",
            "n_surviving",
            F.when(F.col("n_total") == 0, F.lit(0.0))
            .otherwise(F.col("n_surviving").cast("double") / F.col("n_total").cast("double"))
            .alias("survival_frac"),
        )
        .orderBy("months")
    )


# ------------------------------------------------------------------
# customer_order_value_cv — spend-consistency outliers
# ------------------------------------------------------------------

_CV_MIN_ORDERS = 5
_CV_TOP = 100

CUSTOMER_ORDER_CV_ORACLE = f"""
WITH cents AS (
    SELECT o_custkey, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS x
    FROM orders
),
m AS (
    -- HUGEINT moments mirror the engine's DECIMAL(38,0) discipline:
    -- a hot customer overflows Sum(x*x) in 64 bits (r12 skew probe)
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(x AS HUGEINT)) AS sx,
           SUM(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx
    FROM cents GROUP BY 1
),
scored AS (
    SELECT o_custkey, n_orders,
           CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE) / 100.0 AS mean_order_value,
           sqrt(CAST(CAST(n_orders AS HUGEINT) * sxx - sx * sx AS DOUBLE)
                / CAST(CAST(n_orders AS HUGEINT) * (n_orders - 1) AS DOUBLE))
               / (CAST(sx AS DOUBLE) / CAST(n_orders AS DOUBLE)) AS cv
    FROM m WHERE n_orders >= {_CV_MIN_ORDERS} AND sx > 0
),
r AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY cv DESC, o_custkey ASC) AS rn FROM scored
)
SELECT o_custkey, n_orders, mean_order_value, cv
FROM r WHERE rn <= {_CV_TOP}
ORDER BY cv DESC, o_custkey ASC
"""


@register("customer_order_value_cv", oracle=CUSTOMER_ORDER_CV_ORACLE, headline=True)
def customer_order_value_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{top} most ERRATIC spenders: per-customer coefficient of
    variation (sample std dev / mean) of order value, customers with
    ≥ {mn} orders — the spend-consistency axis RFM doesn't capture
    (same total spend can be steady subscriptions or one spike; CV
    separates them for forecasting and fraud review). Moments are
    exact DECIMAL(38,0) cent sums — NOT int64: the r12 skew probe
    measured a 30%-hot customer overflowing Σx² (x ≤ ~5.5e7 cents,
    x² ≈ 3e15, 45k hot orders ≈ 1.4e20 > 2^63; ANSI raises). In
    38-digit decimals the worst term n·Σx² stays exact to ~1e7
    orders per customer at full corpus price ranges (~1e30 ≪ 1e38);
    mean, sd and cv are one fixed chain of IEEE ops per customer.
    mean_order_value is reported in dollars (one extra division by
    100 — still deterministic).

    Scale shape: ONE map-side-combinable moment aggregate at customer
    cardinality, then the top-k rank (TakeOrdered at k={top}, no
    global sort materialization)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_custkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)").alias("x"),
    )
    xd = F.col("x").cast("decimal(19,0)")
    m = cents.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(xd).alias("__sx"),
        sum_sq_dec(F.col("x")).alias("__sxx"),
    )
    n = F.col("n_orders")
    nd = n.cast("decimal(38,0)")
    mean_cents = F.col("__sx").cast("double") / n.cast("double")
    # m2_numerator = exact nd·Σx² − (Σx)² with the non-ANSI
    # silent-overflow guard — functions/moments.py
    sd = F.sqrt(
        m2_numerator(n, F.col("__sx"), F.col("__sxx")).cast("double")
        / (nd * (nd - F.lit(1))).cast("double")
    )
    scored = (
        m.filter((n >= _CV_MIN_ORDERS) & (F.col("__sx") > 0))
        .select(
            "o_custkey",
            "n_orders",
            (mean_cents / F.lit(100.0)).alias("mean_order_value"),
            (sd / mean_cents).alias("cv"),
        )
    )
    return scored.orderBy(F.col("cv").desc(), F.col("o_custkey").asc()).limit(_CV_TOP)
