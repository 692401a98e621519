"""Behavioral sequence analytics: event-type transitions, top
session paths, market-basket co-occurrence, bot users, year-over-year
nation growth and first/last-touch attribution.

The sequence-mining tier beyond the reference's hourly rollups
(reference scripts/glue/script.py processes batch tables only). Exact
integer counts, ONE double division per ratio, unique-tiebreaker
ordering on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.plans.graph import _copurchase_pairs
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.plans.tpch import _REV, _SUM_REV

@register(
    "events_user_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS prev_type,
               LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS next_type
        FROM events
    ),
    c AS (
        SELECT prev_type, next_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_prev,
           CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p
    FROM c
    ORDER BY prev_type ASC, next_type ASC
    """,
    headline=True,
)
def events_user_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams: P(next_type | prev_type) from consecutive event pairs.

    Scale shape: ONE shuffle on user_id feeds the lead() window (the
    same key sessionization uses — at 100 TB this is the unavoidable
    per-user ordering pass), then the pair counts collapse to
    |types|² rows with map-side combine; the denominator folds in as
    a window over the SAME prev_type key, so no second corpus pass.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    seq = events.select(
        F.col("event_type").alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    counted = seq.groupBy("prev_type", "next_type").agg(F.count("*").alias("n"))
    wprev = Window.partitionBy("prev_type")
    return (
        counted.withColumn("n_prev", F.sum("n").over(wprev))
        .withColumn("p", F.col("n").cast("double") / F.col("n_prev"))
        .orderBy("prev_type", "next_type")
    )


_PATH_LEN = 5
_TOP_PATHS = 20


@register(
    "events_top_paths",
    oracle=f"""
    WITH s AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               list(event_type ORDER BY ts ASC, event_id ASC) AS seq
        FROM events GROUP BY user_id, CAST(ts AS DATE)
    ),
    p AS (SELECT array_to_string(seq[1:{_PATH_LEN}], '>') AS path FROM s)
    SELECT path, COUNT(*) AS n_user_days FROM p
    GROUP BY path
    ORDER BY n_user_days DESC, path ASC
    LIMIT {_TOP_PATHS}
    """,
    headline=True,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user-day paths: the first 5 event types of each
    user-day, ordered by time, joined with '>' — the path-analysis
    query behind every funnel-discovery UI.

    Scale shape (r13 bounded-state rewrite): the path needs only the
    FIRST 5 events of each (user, day), so the prefix comes from the
    house grouped-top-k pattern (row_number ≤ 5 over the (user, day)
    window, the same shape as top3_orders_per_customer). Catalyst
    pushes the rank limit below the shuffle — the plan carries
    `WindowGroupLimit` on BOTH sides of the exchange (PLANS.md), so
    each map partition forwards ≤ 5 rows per (user, day) and the
    sort/exchange volume is bounded by 5·groups·partitions, not raw
    event volume; the reduce side's per-group buffer is a
    disk-spillable UnsafeRowArray besides. ONLY the ≤ 5 surviving
    rows per group reach the collect — the collect group is
    hard-bounded by the constant 5, not by a user's event volume (the
    collect_list OOM class the previous single-level shape carried).
    Then the path frequency count is a map-side-combining groupBy at
    path cardinality, and the top-k executes as TakeOrdered
    (per-partition heaps, no global sort). Ties break on path text.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    first5 = (
        events.select("user_id", F.to_date("ts").alias("day"), "ts", "event_id", "event_type")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= _PATH_LEN)
    )
    grp = first5.groupBy("user_id", "day").agg(
        F.expr("array_sort(collect_list(struct(__rn, event_type)))").alias("seq")
    )
    path = F.array_join(F.expr("transform(seq, s -> s.event_type)"), ">").alias("path")
    return (
        grp.select(path)
        .groupBy("path")
        .agg(F.count("*").alias("n_user_days"))
        .orderBy(F.col("n_user_days").desc(), F.col("path").asc())
        .limit(_TOP_PATHS)
    )


_TOP_PAIRS = 20


@register(
    "orders_market_basket",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a ASC, part_b ASC
    LIMIT {_TOP_PAIRS}
    """,
    headline=True,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: the top part pairs co-occurring in
    the same order (frequent-itemset support counting, k=2).

    Scale shape: the self-join keys BOTH sides on l_orderkey — one
    shuffle each, co-partitioned — and per-order fan-out is bounded
    by the square of the order's line count (TPC-H: ≤ 7 lines, ≤ 21
    pairs), so the join output is a small constant multiple of the
    input at any corpus size. Pair counts aggregate with map-side
    combine at pair cardinality; the top-k is TakeOrdered with
    (part_a, part_b) tiebreaks.
    """
    return (
        _copurchase_pairs(spark, sf_dir)
        .withColumnRenamed("w", "n_orders")
        .orderBy(F.col("n_orders").desc(), F.col("part_a").asc(), F.col("part_b").asc())
        .limit(_TOP_PAIRS)
    )


@register(
    "nation_yoy_growth",
    oracle=f"""
    WITH y AS (
        SELECT n.n_name AS nation,
               CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS year,
               {_SUM_REV} AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        GROUP BY n.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER)
    )
    SELECT nation, year, revenue,
           LAG(revenue) OVER (PARTITION BY nation ORDER BY year ASC) AS prev_revenue,
           (revenue - LAG(revenue) OVER (PARTITION BY nation ORDER BY year ASC))
               / LAG(revenue) OVER (PARTITION BY nation ORDER BY year ASC) AS yoy_growth
    FROM y
    ORDER BY nation ASC, year ASC
    """,
    headline=True,
)
def nation_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year supplier-nation revenue growth: the
    lag-over-aggregate reporting shape. One fact shuffle
    (orders↔lineitem), broadcast dims, then the lag window runs on
    the AGGREGATE (|nations|·|years| rows) — never on the fact table;
    growth is IEEE ops on the exact decimal-sum revenue."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    y = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("year"),
        )
        .agg(F.expr(f"SUM({_REV})").cast("decimal(18,4)").cast("double").alias("revenue"))
    )
    w = Window.partitionBy("nation").orderBy(F.col("year").asc())
    prev = F.lag("revenue").over(w)
    return (
        y.withColumn("prev_revenue", prev)
        .withColumn("yoy_growth", (F.col("revenue") - prev) / prev)
        .orderBy("nation", "year")
    )


_BOT_FACTOR = 1.2


@register(
    "events_bot_users",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n_events,
               COUNT(DISTINCT CAST(ts AS DATE)) AS n_days
        FROM events GROUP BY user_id
    ),
    tot AS (
        SELECT CAST(SUM(n_events) AS BIGINT) AS total_events,
               CAST(SUM(n_days) AS BIGINT) AS total_days
        FROM per_user
    )
    SELECT user_id, n_events, n_days,
           CAST(n_events AS DOUBLE) / n_days AS events_per_day
    FROM per_user, tot
    WHERE CAST(n_events AS DOUBLE) / n_days >
          {_BOT_FACTOR} * (CAST(total_events AS DOUBLE) / total_days)
    ORDER BY user_id ASC
    """,
    headline=True,
)
def events_bot_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot-rate flagging: users whose events-per-active-day exceeds 1.2× the corpus average — the traffic-cleaning filter ahead of any
    behavioral modeling. One user-keyed aggregate; the global average
    is a broadcast 1-row scalar (exact integer sums, one division per
    side of the comparison — both engines evaluate the identical IEEE
    expression)."""
    events = load_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct(F.to_date("ts")).alias("n_days"),
    )
    tot = per_user.groupBy().agg(
        F.sum("n_events").cast("bigint").alias("total_events"),
        F.sum("n_days").cast("bigint").alias("total_days"),
    )
    epd = F.col("n_events").cast("double") / F.col("n_days")
    avg = F.col("total_events").cast("double") / F.col("total_days")
    return (
        per_user.crossJoin(F.broadcast(tot))
        .filter(epd > F.lit(_BOT_FACTOR) * avg)
        .select("user_id", "n_events", "n_days", epd.alias("events_per_day"))
        .orderBy("user_id")
    )


# ------------------------------------------------------------------
# events_touch_attribution — first/last-touch half-credit units
# ------------------------------------------------------------------

EVENTS_TOUCH_ATTRIBUTION_ORACLE = """
WITH p AS (
    SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
),
t AS (
    SELECT user_id, event_id AS t_id, event_type AS t_type, ts AS t_ts
    FROM events WHERE event_type <> 'purchase'
),
w AS (
    SELECT p.p_id, t.t_id, t.t_type, t.t_ts
    FROM p JOIN t ON p.user_id = t.user_id
     AND t.t_ts BETWEEN p.p_ts - INTERVAL 1 HOUR AND p.p_ts
),
r AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts ASC, t_id ASC) AS rf,
           ROW_NUMBER() OVER (PARTITION BY p_id ORDER BY t_ts DESC, t_id DESC) AS rl
    FROM w
),
credits AS (
    SELECT t_type, SUM(CASE WHEN rf = 1 THEN 1 ELSE 0 END) AS n_first,
           SUM(CASE WHEN rl = 1 THEN 1 ELSE 0 END) AS n_last
    FROM r GROUP BY 1
)
SELECT t_type AS event_type,
       CAST(n_first AS BIGINT) AS n_first,
       CAST(n_last AS BIGINT) AS n_last,
       CAST(n_first + n_last AS DOUBLE) / 2.0 AS credit
FROM credits
ORDER BY event_type ASC
"""


@register("events_touch_attribution", oracle=EVENTS_TOUCH_ATTRIBUTION_ORACLE, headline=True)
def events_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First/last-touch multi-touch attribution: for each purchase,
    the non-purchase events of the same user in the preceding hour are
    its touchpoints; the FIRST touch (position-based "introducer") and
    the LAST touch ("closer") each earn half a conversion credit —
    a single-touch window earns both halves. Credits are exact
    half-units (integer first/last counts, ONE division by 2.0), so
    the oracle replays them bit-for-bit — the reason this is first/
    last rather than U-shaped: fractional middle credits 0.2/(n−2)
    would force order-dependent double sums across the engine
    boundary. Ties on ts break by event_id in BOTH directions.

    Scale shape: the pair space comes from the bucketed interval join
    (operators/interval.py — shuffle keyed by (user, time-bucket),
    never per-user history); the two rank windows run per purchase at
    window-pair cardinality; the credit aggregate is map-side
    combinable at event-type cardinality."""
    from lakehouse_architecture_transaction_spark.operators.interval import (
        bucketed_interval_join,
    )

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts")
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("t_type"),
        F.col("ts").alias("t_ts"),
    )
    pairs = bucketed_interval_join(
        purchases,
        touches,
        left_ts="ts",
        right_ts="t_ts",
        lower_seconds=-3600,
        upper_seconds=0,
        on=[("user_id", "t_user")],
    )
    wf = Window.partitionBy("p_id").orderBy(F.col("t_ts").asc(), F.col("t_id").asc())
    wl = Window.partitionBy("p_id").orderBy(F.col("t_ts").desc(), F.col("t_id").desc())
    ranked = pairs.withColumn("rf", F.row_number().over(wf)).withColumn(
        "rl", F.row_number().over(wl)
    )
    credits = ranked.groupBy("t_type").agg(
        F.sum(F.when(F.col("rf") == 1, 1).otherwise(0)).cast("bigint").alias("n_first"),
        F.sum(F.when(F.col("rl") == 1, 1).otherwise(0)).cast("bigint").alias("n_last"),
    )
    return credits.select(
        F.col("t_type").alias("event_type"),
        "n_first",
        "n_last",
        ((F.col("n_first") + F.col("n_last")).cast("double") / F.lit(2.0)).alias("credit"),
    ).orderBy("event_type")
