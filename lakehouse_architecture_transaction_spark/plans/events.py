"""Event and time-series analytics over the events table.

Sessionization, hourly/daily rollups (incremental and gap-filled),
as-of joins to orders, percentiles and sketches, retention cohorts,
DAU/MAU, rolling distinct users, funnels, anomaly and drift detection
(z-score, MAD, CUSUM), seasonal decomposition, autocorrelation, audience
overlap and growth accounting.

Events are read through ``catalog.load_table``, which always yields a
TIMESTAMP_NTZ ``ts`` whatever the parquet physical type. Counts are
exact integers and each ratio is ONE double division.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.moments import m2_numerator, sum_sq_dec
from lakehouse_architecture_transaction_spark.operators.asof import asof_join
from lakehouse_architecture_transaction_spark.plans.registry import register

@register(
    "events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start ASC, event_type ASC
    """,
    headline=True,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation over the event stream table — the
    batch twin of the streaming pipeline (streaming/pipeline.py runs
    the same plan incrementally with a watermark)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("total_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "n_users", "total_value")
        .orderBy(F.col("hour_start").asc(), F.col("event_type").asc())
    )


@register(
    "sessionize_events",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id ASC, session_id ASC
    """,
    headline=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag + cumulative
    sum of session-break flags — one shuffle on user_id, no UDF."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # Microsecond precision to match the oracle's interval comparison
    # exactly (cast-to-seconds would truncate sub-second gaps).
    # unix_micros needs TIMESTAMP; the ntz→ltz cast is a no-op on the
    # stored micros under the UTC session timezone.
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    flagged = events.withColumn(
        "new_s",
        F.when(micros - F.lag(micros).over(w) > 1800 * 1_000_000, 1).otherwise(0),
    )
    sess = flagged.withColumn(
        "session_id", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    )
    return (
        sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("session_value"),
        )
        .orderBy(F.col("user_id").asc(), F.col("session_id").asc())
    )


@register(
    "events_json_extract",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured property extraction from the JSON props column
    (get_json_object JVM-side) + aggregation."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(k).cast("bigint").alias("sum_k"),
            (F.sum(k).cast("double") / F.count("*")).alias("avg_k"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "events_asof_orders",
    oracle="""
    WITH od AS (
        SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn
            FROM orders
        ) WHERE rn = 1
    )
    SELECT e.event_id, e.user_id, e.ts, od.o_orderkey, od.o_totalprice
    FROM events e
    ASOF LEFT JOIN od ON e.user_id = od.o_custkey AND e.ts >= od.o_orderdate
    ORDER BY e.event_id ASC
    """,
    headline=True,
)
def events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each event carries the user's most
    recent order as of the event time (operators/asof.py — one
    key-shuffle union+window, no per-pair join). Orders are
    deduplicated to one per (customer, date) with a max-orderkey
    tiebreak so the as-of match is total."""
    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    od = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
    )
    return asof_join(
        events,
        od,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload=["o_orderkey", "o_totalprice"],
    ).orderBy("event_id")


@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.9)  AS p90,
           quantile_cont(value, 0.99) AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
    headline=True,
)
def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantiles per event type. Both engines use the same
    linear-interpolation definition (rank = p·(n-1)), so doubles match
    bit-for-bit. Exact percentile sorts within each group — fine at
    per-group cardinalities; the sketch path below is the 100 TB
    variant."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.9)").alias("p90"),
            F.expr("percentile(value, 0.99)").alias("p99"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "incremental_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour_start ASC, event_type ASC
    """,
)
def incremental_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (operators/incremental.py): the
    hourly rollup computed as base partials (first half of the data)
    MERGED with delta partials (second half) — the oracle recomputes
    from scratch, proving merge-of-partials == full recompute
    bit-for-bit (decomposable measures, exact decimal sums)."""
    from lakehouse_architecture_transaction_spark.operators.incremental import merge_partial_aggs

    events = load_table(spark, sf_dir, "events")
    cutoff = "TIMESTAMP_NTZ '2024-01-15 00:00:00'"

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type").agg(
            F.count("*").alias("n_events"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))").cast("decimal(18,2)").alias("total_value"),
        )

    base = partial(events.filter(F.expr(f"ts < {cutoff}")))
    delta = partial(events.filter(F.expr(f"ts >= {cutoff}")))
    merged = merge_partial_aggs(
        base, delta, keys=["hour_start", "event_type"], sum_cols=["total_value"], count_cols=["n_events"]
    )
    return merged.select(
        "hour_start",
        "event_type",
        "n_events",
        F.col("total_value").cast("decimal(18,2)").cast("double").alias("total_value"),
    ).orderBy("hour_start", "event_type")


@register(
    "events_funnel",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS st FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS ct
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'click' AND e.ts >= s.st
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS pt
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.ct
        GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM c) AS n_click_after_signup,
           (SELECT COUNT(*) FROM p) AS n_purchase_after_click
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (signup → click → purchase): each stage keeps
    users whose stage event occurs AT/AFTER their previous stage's
    first event. Two semi-join+agg rounds — per-stage state is one
    row per user, never the event history."""
    events = load_table(spark, sf_dir, "events")

    def stage(prev: DataFrame, prev_ts: str, etype: str, out_ts: str) -> DataFrame:
        e = events.filter(F.col("event_type") == etype)
        return (
            e.join(prev, on="user_id")
            .filter(F.col("ts") >= F.col(prev_ts))
            .groupBy("user_id")
            .agg(F.min("ts").alias(out_ts))
        )

    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("st"))
    )
    c = stage(s, "st", "click", "ct")
    p = stage(c, "ct", "purchase", "pt")
    return (
        s.agg(F.count("*").alias("n_signup"))
        .crossJoin(c.agg(F.count("*").alias("n_click_after_signup")))
        .crossJoin(p.agg(F.count("*").alias("n_purchase_after_click")))
    )


@register(
    "events_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        -- cast: DuckDB's date_trunc yields DATE, Spark's a timestamp
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_week
                 FROM events)
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, a.active_week) / 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT a.user_id) AS n_users
    FROM activity a JOIN first_seen f ON a.user_id = f.user_id
    GROUP BY 1, 2
    ORDER BY cohort_week ASC, week_offset ASC
    """,
    headline=True,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen
    week, counted in each later active week. Week offsets computed
    calendar-wise (datediff of week starts / 7) — timezone- and
    DST-independent on ntz timestamps."""
    events = load_table(spark, sf_dir, "events")
    first_seen = events.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    activity = events.select("user_id", F.date_trunc("week", F.col("ts")).alias("active_week")).distinct()
    return (
        activity.join(first_seen, on="user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("bigint").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "events_daily_gapfill",
    oracle="""
    WITH bounds AS (SELECT CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0,
                           CAST(date_trunc('day', MAX(ts)) AS DATE) AS d1 FROM events),
    spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day FROM bounds),
    daily AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
               CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
        FROM events GROUP BY 1
    )
    SELECT CAST(s.day AS TIMESTAMP) AS day,
           COALESCE(d.n, 0) AS n_events, COALESCE(d.total_value, 0.0) AS total_value
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    ORDER BY day ASC
    """,
)
def events_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily series: a generated date spine (min..max day)
    left-joined to the daily aggregate, zero-filling silent days —
    the standard fix for time series where absence of data IS data.
    The spine is sequence() on the driver-free aggregate bounds (two
    scalar subqueries), exploded JVM-side; no driver loop."""
    events = load_table(spark, sf_dir, "events")
    bounds = events.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("d1"),
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    daily = events.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")).agg(
        F.count("*").alias("n"),
        F.expr("SUM(CAST(value AS DECIMAL(18,2)))").cast("decimal(18,2)").cast("double").alias("tv"),
    )
    return (
        spine.join(daily, on="day", how="left")
        .select(
            # DATE at the output boundary splits engines at the pandas
            # bridge (object vs datetime64) — emit timestamps, like
            # every other temporal output.
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n_events"),
            F.coalesce(F.col("tv"), F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day")
    )


@register("events_approx_sketches")  # no oracle: sketch results are
# engine-specific by design → driver records the rows-only check.
def events_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch path for 100 TB: HyperLogLog++ distinct counts and
    GK approximate quantiles — fixed-size mergeable state, one
    map-side-combined pass, no per-group sort. Numbers are
    approximate so no cross-engine oracle exists; accuracy is pinned
    by tests/test_operators.py against exact values at test scale."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.expr("approx_percentile(value, array(0.5, 0.99), 10000)").alias("approx_p"),
        )
        .select(
            "event_type",
            "approx_users",
            F.col("approx_p")[0].alias("approx_p50"),
            F.col("approx_p")[1].alias("approx_p99"),
        )
        .orderBy(F.col("event_type").asc())
    )


@register(
    "events_daily_anomalies",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    stats AS (
        -- HUGEINT squares mirror the engine's DECIMAL(38,0): daily
        -- counts past ~3e9 square out of 64 bits (the r12 CV class)
        SELECT event_type, SUM(n) AS sx,
               SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sxx,
               COUNT(*) AS nd
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.n AS n_events,
           CAST(s.sx AS DOUBLE) / s.nd AS mean_events
    FROM daily d JOIN stats s USING (event_type)
    WHERE s.nd > 1
      AND CAST(s.nd - 1 AS DOUBLE) * CAST(s.nd * d.n - s.sx AS DOUBLE) * CAST(s.nd * d.n - s.sx AS DOUBLE)
          > 4.0 * CAST(s.nd AS DOUBLE)
                * CAST(s.nd * s.sxx - CAST(s.sx AS HUGEINT) * CAST(s.sx AS HUGEINT) AS DOUBLE)
    ORDER BY d.event_type ASC, d.day ASC
    """,
    headline=True,
)
def events_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume anomaly detection: flag (event_type, day) cells whose
    daily count sits more than 2 sample standard deviations from that
    type's mean — the monitoring query every event pipeline runs.

    The |z| > 2 test is evaluated as the cross-multiplied inequality
    (nd-1)·(nd·x - sx)² > 4·nd·(nd·sxx - sx²) (2σ, so the synthetic
    uniform fixture still yields non-empty output at every sf): sums and counts stay
    exact BIGINTs from one narrow two-level aggregation (days × types
    cardinality, map-side combined), and the comparison is a fixed
    chain of correctly-rounded double ops on identical integers in
    both engines — no sqrt, no per-group second pass, no window. The
    stats side is tiny (one row per event_type) and broadcast."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").alias("n"))
    # DECIMAL squares via the shared moment helpers, not int64: a
    # type whose daily count passes ~3e9 squares out of 64 bits, and
    # sx² follows (the r12 skew-probe CV overflow class); nd·x − sx
    # stays comfortably inside int64 (days-per-type × daily count).
    # m2_numerator also guards the non-ANSI silent-NULL overflow path
    # — see functions/moments.py.
    stats = daily.groupBy("event_type").agg(
        F.sum("n").alias("sx"),
        sum_sq_dec(F.col("n")).alias("sxx"),
        F.count("*").alias("nd"),
    )
    d, s = F.col, F.col
    lhs = (
        (s("nd") - 1).cast("double")
        * (s("nd") * d("n") - s("sx")).cast("double")
        * (s("nd") * d("n") - s("sx")).cast("double")
    )
    rhs = (
        F.lit(4.0)
        * s("nd").cast("double")
        * m2_numerator(s("nd"), s("sx"), s("sxx")).cast("double")
    )
    return (
        daily.join(F.broadcast(stats), on="event_type")
        .filter((s("nd") > 1) & (lhs > rhs))
        .select(
            "event_type",
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.col("n").alias("n_events"),
            (s("sx").cast("double") / s("nd")).alias("mean_events"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "events_interarrival_by_type",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               date_diff('microseconds',
                   LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC),
                   ts) AS gap_us
        FROM events
    )
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS DOUBLE) / COUNT(gap_us) / 1e6 AS mean_gap_s,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM seq WHERE gap_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type ASC
    """,
    headline=True,
)
def events_interarrival_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival gaps (LAG over the user timeline) in
    exact integer MICROSECONDS — second-granularity date_diff counts
    boundary crossings differently across engines, micros are the
    storage resolution and exact in both — re-aggregated by the
    arriving event's type. One user-key window pass, then a small
    groupBy; mean is one division of exact BIGINT sums."""
    events = load_table(spark, sf_dir, "events")
    gaps = events.select(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC), ts)"
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        gaps.groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            (F.sum("gap_us").cast("double") / F.count("gap_us") / F.lit(1e6)).alias("mean_gap_s"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type")
    )


@register(
    "events_peak_hour_per_day",
    oracle="""
    WITH h AS (
        SELECT CAST(ts AS DATE) AS day, hour(ts) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           CAST(hr AS INTEGER) AS peak_hour, n AS n_events
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, hr ASC) AS rn
        FROM h
    ) WHERE rn = 1
    ORDER BY day ASC
    """,
    headline=True,
)
def events_peak_hour_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Busiest hour of each day: aggregate to (day, hour) first (the
    shuffle collapses to 24 rows per day with map-side combine), then
    a row_number over each day's ≤24 rows — argmax with a
    deterministic (count desc, hour asc) tiebreak, never a window over
    raw events."""
    events = load_table(spark, sf_dir, "events")
    h = events.groupBy(
        F.expr("CAST(ts AS DATE)").alias("day"), F.hour("ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("hr").asc())
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.expr("CAST(day AS TIMESTAMP_NTZ)").alias("day"),
            F.col("hr").cast("int").alias("peak_hour"),
            F.col("n").alias("n_events"),
        )
        .orderBy("day")
    )


@register(
    "events_session_stats",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered
    ), per AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
               date_diff('microseconds', MIN(ts), MAX(ts)) AS dur_us
        FROM sess GROUP BY 1, 2
    )
    SELECT COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single_event,
           CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_events,
           CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1e6 AS mean_duration_s,
           CAST(MAX(dur_us) AS DOUBLE) / 1e6 AS max_duration_s,
           quantile_cont(n_events, 0.5) AS p50_events
    FROM per
    """,
)
def events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level distribution over the batch sessionization (the
    summary a product team reads off A12's session table): session
    count, single-event share, mean events/duration, exact median
    events. Composes sessionize_events — the sessions aggregate once
    more to ONE row; durations are exact integer micros."""
    sess = sessionize_events(spark, sf_dir)
    per = sess.select(
        "n_events",
        F.expr("timestampdiff(MICROSECOND, session_start, session_end)").alias("dur_us"),
    )
    single = F.when(F.col("n_events") == 1, 1).otherwise(0)
    return per.agg(
        F.count("*").alias("n_sessions"),
        F.sum(single).cast("bigint").alias("n_single_event"),
        (F.sum("n_events").cast("double") / F.count("*")).alias("mean_events"),
        (F.sum("dur_us").cast("double") / F.count("*") / F.lit(1e6)).alias("mean_duration_s"),
        (F.max("dur_us").cast("double") / F.lit(1e6)).alias("max_duration_s"),
        F.expr("percentile(n_events, 0.5)").alias("p50_events"),
    )


@register(
    "events_weekly_active_users",
    oracle="""
    WITH w AS (
        SELECT CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
               COUNT(DISTINCT user_id) AS wau,
               COUNT(*) AS n_events
        FROM events GROUP BY 1
    )
    SELECT week_start, wau, n_events,
           wau - LAG(wau) OVER (ORDER BY week_start ASC) AS wau_delta
    FROM w
    ORDER BY week_start ASC
    """,
)
def events_weekly_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active users with week-over-week delta: the fact
    collapses to (week, distinct users) — COUNT DISTINCT shuffles on
    (week, user) with partial dedup map-side — and the LAG runs over
    the |weeks|-row aggregate only (bounded at ~52 rows/year — the
    unpartitioned window touches a constant-size frame, the same class
    as a scalar aggregate, never the fact). date_trunc('week') is
    Monday-based in both engines."""
    events = load_table(spark, sf_dir, "events")
    w = events.groupBy(F.date_trunc("week", F.col("ts")).alias("week_start")).agg(
        F.countDistinct("user_id").alias("wau"),
        F.count("*").alias("n_events"),
    )
    lw = Window.orderBy(F.col("week_start").asc())
    return (
        w.withColumn("wau_delta", F.col("wau") - F.lag("wau").over(lw))
        .orderBy("week_start")
    )


@register(
    "events_session_window",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_s
        FROM events
    ), sess AS (
        SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM ordered
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, session_id
    ORDER BY user_id ASC, session_start ASC
    """,
    headline=True,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap sessionization via Spark's NATIVE session_window aggregate
    (the same operator Structured Streaming uses for streaming
    sessions): one groupBy(user, session_window(ts, gap)) — no window
    functions, no lag/cumsum — with merge-on-overlap semantics
    identical to A12's lag+cumsum formulation, which the oracle
    replays. session_window.end is last_event + gap by definition, so
    session_end surfaces as MAX(ts) (same aggregate, no correction
    arithmetic). The shuffle is one exchange on user_id with session
    merge in the aggregate — strictly fewer passes than the window
    variant; at 100 TB both shuffle once on the same key."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id", F.session_window(F.col("ts"), "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
        .orderBy(F.col("user_id").asc(), F.col("session_start").asc())
    )


@register(
    "events_hourly_seasonality",
    oracle="""
    WITH a AS (
        SELECT isodow(CAST(ts AS DATE)) AS dow, hour(ts) AS hr, COUNT(*) AS n_events
        FROM events GROUP BY 1, 2
    ),
    t AS (SELECT SUM(n_events) AS total FROM a)
    SELECT CAST(dow AS INTEGER) AS dow, CAST(hr AS INTEGER) AS hr, n_events,
           CAST(n_events AS DOUBLE) / t.total AS share
    FROM a, t
    ORDER BY dow ASC, hr ASC
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × ISO-weekday activity heatmap (the traffic
    seasonality profile behind capacity planning and anomaly
    baselines): one map-side-combinable aggregate at 7×24 cardinality,
    shares against a broadcast scalar."""
    events = load_table(spark, sf_dir, "events")
    a = events.groupBy(
        (F.expr("weekday(ts)") + 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hr"),
    ).agg(F.count("*").alias("n_events"))
    t = a.agg(F.sum("n_events").alias("total"))
    return (
        a.crossJoin(F.broadcast(t))
        .select("dow", "hr", "n_events", (F.col("n_events").cast("double") / F.col("total")).alias("share"))
        .orderBy("dow", "hr")
    )


@register(
    "events_dau_mau_stickiness",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    spine AS (SELECT DISTINCT day FROM ud),
    dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
    mau AS (
        SELECT s.day, COUNT(DISTINCT u.user_id) AS mau
        FROM spine s JOIN ud u ON u.day BETWEEN s.day - 29 AND s.day
        GROUP BY s.day
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day, d.dau, m.mau,
           CAST(d.dau AS DOUBLE) / m.mau AS stickiness
    FROM dau d JOIN mau m USING (day)
    ORDER BY day ASC
    """,
    headline=True,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per active day — the product-health ratio of
    daily to trailing-30-day distinct users. Same scale plan as
    events_rolling_distinct_users: dedupe to (user, day) — the one big
    shuffle — then a BOUNDED 30× explode of each user-day into the
    days it serves; no per-day self-joins, no sliding COUNT(DISTINCT)
    window. The ratio is ONE double division of exact counts.

    The spine join carries an EXPLICIT broadcast hint (r10 broadcast
    audit): AQE sizes the contrib side by its pre-Generate shuffle
    stats — the ×30 explode fan-out is invisible at the query-stage
    boundary — so left to itself it broadcast the exploded USER-DAY
    frame (120k rows / 68 MiB for a 30-row spine at sf0.01, i.e.
    already OVER the 64 MiB broadcast ceiling it thought it was
    under; the under-estimate grows with the corpus until the
    pre-explode stage itself exceeds the threshold). The spine is day
    cardinality at any corpus size — it is the side that must build."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    spine = ud.select("day").distinct()
    dau = ud.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = ud.select(
        F.explode(F.expr("sequence(day, date_add(day, 29))")).alias("day"), "user_id"
    )
    mau = (
        contrib.join(F.broadcast(spine), on="day", how="inner")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return (
        dau.join(mau, on="day")
        .select(
            F.col("day").cast("timestamp_ntz").alias("day"),
            "dau",
            "mau",
            (F.col("dau").cast("double") / F.col("mau")).alias("stickiness"),
        )
        .orderBy("day")
    )


@register(
    "events_sliding_windows",
    oracle="""
    WITH base AS (
        SELECT event_type, value, time_bucket(INTERVAL 30 MINUTES, ts) AS s0 FROM events
    ),
    assigned AS (
        SELECT event_type, value, s0 - k * INTERVAL 30 MINUTES AS window_start
        FROM base, UNNEST([0, 1, 2, 3]) AS t(k)
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_value
    FROM assigned
    GROUP BY window_start, event_type
    ORDER BY window_start ASC, event_type ASC
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation (2 h windows every 30 min): each
    event lands in exactly 4 overlapping windows — Spark's
    ``F.window(ts, '2 hours', '30 minutes')`` assignment, mirrored in
    the oracle as an explicit 4-window explode. The overlap factor is
    the slide ratio, so the shuffle grows 4×, not quadratically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "2 hours", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
        .orderBy("window_start", "event_type")
    )


@register(
    "events_click_attribution",
    oracle="""
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    hits AS (
        SELECT p.event_id, COUNT(*) AS n
        FROM p JOIN c ON p.user_id = c.user_id
         AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        GROUP BY p.event_id
    )
    SELECT p.event_id, p.user_id, CAST(COALESCE(hits.n, 0) AS BIGINT) AS n_prior_clicks
    FROM p LEFT JOIN hits ON p.event_id = hits.event_id
    ORDER BY p.event_id ASC
    """,
)
def events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution range join (operators/interval.py
    bucketed_interval_join): clicks within the hour BEFORE each
    purchase, per user — the batch interval join Spark lacks natively,
    bucketed so the shuffle is keyed by (user, time-bucket) instead of
    degenerating to per-key history pairs."""
    from lakehouse_architecture_transaction_spark.operators.interval import bucketed_interval_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    pairs = bucketed_interval_join(
        purchases,
        clicks,
        left_ts="ts",
        right_ts="c_ts",
        lower_seconds=-3600,
        upper_seconds=0,
        on=[("user_id", "c_user")],
    )
    hits = pairs.groupBy("event_id").agg(F.count("*").alias("n"))
    return (
        purchases.join(hits, on="event_id", how="left")
        .select(
            "event_id",
            "user_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_prior_clicks"),
        )
        .orderBy("event_id")
    )


@register(
    "events_rolling_distinct_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    spine AS (SELECT DISTINCT day FROM ud)
    SELECT CAST(s.day AS TIMESTAMP) AS day, COUNT(DISTINCT u.user_id) AS users_7d
    FROM spine s JOIN ud u ON u.day BETWEEN s.day - 6 AND s.day
    GROUP BY s.day ORDER BY day ASC
    """,
    headline=True,
)
def events_rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per active day. COUNT(DISTINCT)
    over a sliding frame has no streamable window form, so the scale
    plan is: dedupe to (user, day) — the only big shuffle, keyed by
    user×day — then a BOUNDED 7× explode of each user-day into the
    days it serves, and an exact distinct count per day. Fan-out is
    constant (7), so the plan survives any corpus size; no
    per-day self-joins, no window over the raw stream.

    The spine join carries an EXPLICIT broadcast hint (r10 broadcast
    audit): AQE sizes the contrib side by its pre-Generate shuffle
    stats — the explode's ×7 fan-out is invisible at the query-stage
    boundary — so left to itself it broadcast the exploded USER-DAY
    frame (28k rows for a 30-row spine at sf0.01, under-estimated by
    the fan-out factor; an OOM amplifier at scale). The spine is day
    cardinality at any corpus size — it is the side that must build."""
    events = load_table(spark, sf_dir, "events")
    ud = events.select(F.to_date("ts").alias("day"), "user_id").distinct()
    spine = ud.select("day").distinct()
    contrib = ud.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("day"), "user_id"
    )
    return (
        contrib.join(F.broadcast(spine), on="day", how="inner")
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        # DATE splits engines at the pandas bridge — ship TIMESTAMP_NTZ
        # like every other temporal output (see events_daily_gapfill).
        .select(F.col("day").cast("timestamp_ntz").alias("day"), "users_7d")
        .orderBy("day")
    )


# -------------------------------------------------------- event QA


@register(
    "events_type_cooccurrence",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           COUNT(*) AS n_users
    FROM u a JOIN u b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
    ORDER BY type_a ASC, type_b ASC
    """,
)
def events_type_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence: users exhibiting both types, per
    unordered pair — the behavioral-overlap matrix. Dedup to
    (user, type) first (≤ |types| rows per user, so the user-keyed
    self-join has bounded fan-out), aggregate at |types|²."""
    events = load_table(spark, sf_dir, "events")
    u = events.select("user_id", "event_type").distinct()
    a = u.select("user_id", F.col("event_type").alias("type_a"))
    b = u.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, on="user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_users"))
        .orderBy("type_a", "type_b")
    )


@register(
    "events_user_activity_quantiles",
    oracle="""
    WITH c AS (SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id)
    SELECT COUNT(*) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_events,
           quantile_cont(n, 0.5) AS p50,
           quantile_cont(n, 0.9) AS p90,
           quantile_cont(n, 0.99) AS p99
    FROM c
    """,
)
def events_user_activity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity distribution (exact p50/p90/p99 of event
    counts + mean): the engagement-skew summary that sizes bot cuts
    and sampling rates. User counts aggregate in parallel; the exact
    quantile then runs at USER cardinality (not events). Both engines
    interpolate at rank p·(n−1), so doubles match bit-for-bit."""
    events = load_table(spark, sf_dir, "events")
    c = events.groupBy("user_id").agg(F.count("*").alias("n"))
    return c.agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("n_events"),
        (F.sum("n").cast("double") / F.count("*")).alias("mean_events"),
        F.expr("percentile(n, 0.5)").alias("p50"),
        F.expr("percentile(n, 0.9)").alias("p90"),
        F.expr("percentile(n, 0.99)").alias("p99"),
    )


@register(
    "events_sketch_accuracy",
    oracle="""
    WITH v AS (
        SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    c AS (SELECT event_type, COUNT(*) AS n FROM v GROUP BY 1),
    u AS (
        SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
        FROM events GROUP BY 1
    ),
    r AS (
        SELECT event_type, value,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn
        FROM v
    ),
    b AS (
        SELECT r.event_type,
               MIN(CASE WHEN rn = CAST(ceil(0.45 * CAST(n AS DOUBLE)) AS BIGINT)
                        THEN value END) AS p50_lo,
               MIN(CASE WHEN rn = CAST(ceil(0.55 * CAST(n AS DOUBLE)) AS BIGINT)
                        THEN value END) AS p50_hi
        FROM r JOIN c USING (event_type) GROUP BY 1
    )
    SELECT u.event_type, exact_users,
           CAST(exact_users AS DOUBLE) * 0.9 AS users_lo,
           CAST(exact_users AS DOUBLE) * 1.1 AS users_hi,
           CAST(1 AS BIGINT) AS users_within,
           p50_lo, p50_hi,
           CAST(1 AS BIGINT) AS p50_within
    FROM u JOIN b ON u.event_type = b.event_type
    ORDER BY u.event_type ASC
    """,
)
def events_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checkable companion to events_approx_sketches (A16): runs
    the HLL++ distinct sketch and the GK p50 sketch, then checks each
    estimate against EXACT, SQL-replayable tolerance bands — distinct
    users within ±10 % of the exact count (HLL rsd=0.02 → 3σ = 6 %),
    p50 between the exact rank-selected 45th and 55th percentile
    VALUES (element selection, so no interpolation-formula drift).
    The output carries the exact values, the bands, and 0/1
    within-band flags; the oracle computes the same exact side and
    asserts the flags are 1 — so a sketch-accuracy regression flips a
    flag and fails the value hash. The sketches stay fixed-size
    mergeable state (one map-side-combined pass); the band side is a
    per-type rank selection through the bucketed-prefix machinery
    (grouped_percent_rank with the exact #≤ column — round 8: the
    previous per-type row_number sorted raw event values in 6 tasks,
    the SURVEY §6 low-cardinality-window funnel; the value at sorted
    position r equals the min value whose #≤ ≥ r, tie-order
    invariant, so the rank selection never needs a per-type sort)."""
    from lakehouse_architecture_transaction_spark.operators.ranking import grouped_percent_rank

    events = load_table(spark, sf_dir, "events")
    vals = events.filter(F.col("value").isNotNull()).select("event_type", "value")
    counts = vals.groupBy("event_type").agg(F.count("*").alias("n"))
    ranked = grouped_percent_rank(
        vals, group_cols=["event_type"], value_col="value", le_col="__n_le"
    ).join(F.broadcast(counts), "event_type")
    lo_rank = F.ceil(F.lit(0.45) * F.col("n").cast("double")).cast("bigint")
    hi_rank = F.ceil(F.lit(0.55) * F.col("n").cast("double")).cast("bigint")
    bands = ranked.groupBy("event_type").agg(
        F.min(F.when(F.col("__n_le") >= lo_rank, F.col("value"))).alias("p50_lo"),
        F.min(F.when(F.col("__n_le") >= hi_rank, F.col("value"))).alias("p50_hi"),
    )
    # Two aggregates joined on the 10-row type key, NOT one mixed agg:
    # count_distinct alongside the object-typed sketch functions plans
    # an Expand (every fact row duplicated per aggregate group) with a
    # sort-agg fallback for the sketches — measured 4.96 s vs 0.45 s
    # split at sf0.1, and at 100 TB the Expand would double the fact
    # shuffle. Found by the r11 noop-action audit: the old count()
    # bench action pruned the aggregate expressions, so this cost was
    # invisible to every earlier capture.
    sketches = events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 10000)").alias("approx_p50"),
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("exact_users")
    )
    sk = sketches.join(exact, "event_type")
    return (
        sk.join(bands, "event_type")
        .select(
            "event_type",
            "exact_users",
            (F.col("exact_users").cast("double") * 0.9).alias("users_lo"),
            (F.col("exact_users").cast("double") * 1.1).alias("users_hi"),
            F.when(
                (F.col("approx_users").cast("double") >= F.col("exact_users").cast("double") * 0.9)
                & (F.col("approx_users").cast("double") <= F.col("exact_users").cast("double") * 1.1),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("bigint").alias("users_within"),
            "p50_lo",
            "p50_hi",
            F.when(
                (F.col("approx_p50") >= F.col("p50_lo")) & (F.col("approx_p50") <= F.col("p50_hi")),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("bigint").alias("p50_within"),
        )
        .orderBy("event_type")
    )


EVENTS_MAD_ORACLE = """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS nd,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n ASC, day ASC) AS rn
    FROM daily
),
m AS (
    SELECT *, MAX(CASE WHEN rn = CAST(ceil(CAST(nd AS DOUBLE) / 2) AS BIGINT) THEN n END)
                  OVER (PARTITION BY event_type) AS med
    FROM r
),
a AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY abs(n - med) ASC, day ASC) AS ra
    FROM m
),
d AS (
    SELECT *, MAX(CASE WHEN ra = CAST(ceil(CAST(nd AS DOUBLE) / 2) AS BIGINT)
                       THEN abs(n - med) END)
                  OVER (PARTITION BY event_type) AS mad
    FROM a
)
SELECT event_type, day, n AS n_events, med, mad
FROM d WHERE abs(n - med) > 3 * mad
ORDER BY event_type ASC, day ASC
"""


@register("events_mad_anomalies", oracle=EVENTS_MAD_ORACLE, headline=True)
def events_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily-volume anomalies: flag (event_type, day) cells
    whose count deviates from the per-type MEDIAN by more than 3× the
    median absolute deviation — the robust twin of the 2σ z-test
    (events_daily_anomalies), immune to the anomalies polluting their
    own baseline. Both medians are LOWER-median rank selections
    (element at ceil(n/2) in sorted order) over exact integer counts,
    so every value crossing the engine boundary is an exact BIGINT —
    no interpolation, no variance formula, bit-replayable.

    Scale shape: daily counts aggregate (map-side combined), then two
    event_type-partitioned rank windows at days×types cardinality —
    the windows never touch raw events."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wc = Window.partitionBy("event_type")
    wn = Window.partitionBy("event_type").orderBy(F.col("n").asc(), F.col("day").asc())
    med = (
        daily.withColumn("__nd", F.count("*").over(wc))
        .withColumn("__rn", F.row_number().over(wn))
        .withColumn("med", F.max(F.when(F.col("__rn") == F.ceil(F.col("__nd") / 2), F.col("n"))).over(wc))
    )
    wa = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("n") - F.col("med")).asc(), F.col("day").asc()
    )
    mad = (
        med.withColumn("__ra", F.row_number().over(wa))
        .withColumn(
            "mad",
            F.max(
                F.when(F.col("__ra") == F.ceil(F.col("__nd") / 2), F.abs(F.col("n") - F.col("med")))
            ).over(wc),
        )
    )
    return (
        mad.filter(F.abs(F.col("n") - F.col("med")) > 3 * F.col("mad"))
        .select(
            "event_type",
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.col("n").alias("n_events"),
            "med",
            "mad",
        )
        .orderBy("event_type", "day")
    )


# ------------------------------------------------------------------
# events_cusum_drift — sequential drift detection on daily volume
# ------------------------------------------------------------------

_CUSUM_TOP = 5  # worst drift days per event type

EVENTS_CUSUM_ORACLE = f"""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
r AS (
    SELECT *, COUNT(*) OVER (PARTITION BY event_type) AS nd,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY n ASC, day ASC) AS rn
    FROM daily
),
m AS (
    SELECT *, MAX(CASE WHEN rn = CAST(ceil(CAST(nd AS DOUBLE) / 2) AS BIGINT) THEN n END)
                  OVER (PARTITION BY event_type) AS med
    FROM r
),
c AS (
    SELECT event_type, day, n, med,
           CAST(SUM(n - med) OVER (PARTITION BY event_type ORDER BY day ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cusum
    FROM m
)
SELECT event_type, day, n AS n_events, med, cusum, CAST(drift_rank AS INTEGER) AS drift_rank
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY abs(cusum) DESC, day ASC) AS drift_rank
    FROM c
) WHERE drift_rank <= {_CUSUM_TOP}
ORDER BY event_type ASC, drift_rank ASC
"""


@register("events_cusum_drift", oracle=EVENTS_CUSUM_ORACLE, headline=True)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential drift detection on daily event volume: the running
    sum of deviations from the per-type MEDIAN (lower-median rank
    selection, same exact-BIGINT machinery as events_mad_anomalies)
    accumulates SUSTAINED level shifts — a 10%% volume drop that
    never trips a per-day anomaly test keeps growing the CUSUM. The
    page-test complement to the pointwise z-score (A48) and MAD (L79)
    detectors. Output: the top-{top} |CUSUM| days per type (rank, not
    a fixed threshold — a threshold K·median flags nothing once daily
    counts concentrate at larger corpora, and a 0-row result is a
    hollow correctness check); every boundary value is an exact
    BIGINT.

    Scale shape: daily aggregate (map-side combined), then three
    event_type-partitioned windows at days×types cardinality — the
    cumulative window never touches raw events.""".format(top=_CUSUM_TOP)
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    wc = Window.partitionBy("event_type")
    wn = Window.partitionBy("event_type").orderBy(F.col("n").asc(), F.col("day").asc())
    med = (
        daily.withColumn("__nd", F.count("*").over(wc))
        .withColumn("__rn", F.row_number().over(wn))
        .withColumn(
            "med",
            F.max(F.when(F.col("__rn") == F.ceil(F.col("__nd") / 2), F.col("n"))).over(wc),
        )
    )
    wd = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = med.withColumn("cusum", F.sum(F.col("n") - F.col("med")).over(wd).cast("bigint"))
    wr = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        c.withColumn("drift_rank", F.row_number().over(wr))
        .filter(F.col("drift_rank") <= _CUSUM_TOP)
        .select(
            "event_type",
            F.col("day").cast("timestamp_ntz").alias("day"),
            F.col("n").alias("n_events"),
            "med",
            "cusum",
            F.col("drift_rank").cast("int").alias("drift_rank"),
        )
        .orderBy("event_type", "drift_rank")
    )


# ------------------------------------------------------------------
# events_seasonal_decompose — trend / weekday seasonal / residual
# ------------------------------------------------------------------

EVENTS_SEASONAL_DECOMPOSE_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
),
e AS (
    SELECT day, n_events,
           date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS ed
    FROM daily
),
w AS (
    SELECT *, SUM(n_events) OVER win AS trend_num, COUNT(*) OVER win AS n_win
    FROM e WINDOW win AS (ORDER BY ed RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
c AS (
    SELECT day, n_events, trend_num,
           7 * n_events - trend_num AS detr_num,
           (ed + 3) % 7 AS phase
    FROM w WHERE n_win = 7
),
s AS (SELECT phase, SUM(detr_num) AS s_num, COUNT(*) AS n_phase FROM c GROUP BY 1)
SELECT c.day AS day, c.n_events AS n_events, CAST(c.phase AS BIGINT) AS phase,
       CAST(trend_num AS DOUBLE) / 7.0 AS trend,
       CAST(s_num AS DOUBLE) / (7.0 * CAST(n_phase AS DOUBLE)) AS seasonal,
       CAST(detr_num AS DOUBLE) / 7.0
           - CAST(s_num AS DOUBLE) / (7.0 * CAST(n_phase AS DOUBLE)) AS residual
FROM c JOIN s USING (phase)
ORDER BY day ASC
"""


@register("events_seasonal_decompose", oracle=EVENTS_SEASONAL_DECOMPOSE_ORACLE, headline=True)
def events_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event volume
    (operators/timeseries.py seasonal_decompose): centered 7-day
    moving-average trend (RANGE window on epoch days — calendar gaps
    do not slide neighbours in), per-ISO-weekday seasonal means of the
    exact detrended numerators, residual as one double subtraction.
    phase 0..6 = Monday..Sunday. Only days with a full 7-day window
    appear (the decomposition is undefined at the edges). The
    is-Monday-traffic-really-higher / was-that-day-actually-anomalous
    triage every daily series eventually needs — MAD (events_mad_*)
    flags outliers, this explains them.

    Engine boundary: every aggregate (window sum, per-phase sum) is an
    exact BIGINT; trend/seasonal/residual are fixed chains of
    correctly-rounded IEEE ops on those integers — bit-replayable.

    Scale shape: the raw-event groupBy is map-side combined; the
    ordered window and everything after run at DAY cardinality
    (bounded by the calendar, not data volume)."""
    from lakehouse_architecture_transaction_spark.operators.timeseries import seasonal_decompose

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count("*").cast("long").alias("n_events")
    )
    dec = seasonal_decompose(daily, "day", "n_events", period=7)
    return dec.select(
        F.col("day").cast("timestamp_ntz").alias("day"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("phase").cast("bigint").alias("phase"),
        "trend",
        "seasonal",
        "residual",
    ).orderBy("day")


# ------------------------------------------------------------------
# orders_revenue_autocorr — lag-1..7 revenue autocorrelation
# ------------------------------------------------------------------

ORDERS_REVENUE_AUTOCORR_ORACLE = """
WITH daily AS (
    SELECT CAST(date_trunc('day', o_orderdate) AS TIMESTAMP) AS day,
           SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
    FROM orders GROUP BY 1
),
h AS (
    SELECT date_diff('day', DATE '1970-01-01', CAST(day AS DATE)) AS ed,
           CAST(rev * 100 AS BIGINT) // 10000 AS v
    FROM daily
),
l AS (
    SELECT k.lag AS lag, h.ed + k.lag AS ed2, h.v AS x
    FROM h, (SELECT unnest(generate_series(1, 7)) AS lag) k
),
p AS (SELECT l.lag, l.x, h2.v AS y FROM l JOIN h h2 ON l.ed2 = h2.ed),
m AS (
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy,
           SUM(x*x) AS sxx, SUM(y*y) AS syy
    FROM p GROUP BY 1
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CASE WHEN n_pairs >= 3
                 AND n_pairs * sxx - sx * sx > 0
                 AND n_pairs * syy - sy * sy > 0
            THEN CAST(n_pairs * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                        * CAST(n_pairs * syy - sy * sy AS DOUBLE))
            END AS autocorr
FROM m
ORDER BY lag ASC
"""


@register("orders_revenue_autocorr", oracle=ORDERS_REVENUE_AUTOCORR_ORACLE, headline=True)
def orders_revenue_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson autocorrelation of daily order revenue at lags 1..7
    (operators/timeseries.py lagged_autocorr) — the
    does-revenue-have-a-weekly-pulse / how-persistent-is-demand
    detector, and the quantitative cousin of orders_weekday_profile.
    Pairs match on CALENDAR distance (epoch-day + k), so missing days
    shrink n_pairs instead of silently pairing non-adjacent rows.

    Engine boundary: daily revenue crosses to the moment sums as
    exact hundred-dollar BIGINT units (DECIMAL cent sum → ×100 →
    BIGINT → floor-div 10⁴ — the gini cent discipline, coarsened so
    every moment Σx², Σxy stays far inside int64 at bench scales),
    and r is one fixed double chain (two products, sqrt, divide) on
    exact integers. Constant/short series yield NULL, not 0/0.

    Scale shape: groupBy day (map-side combined), then a ×7 explode
    and one equi-join + aggregate at CALENDAR cardinality."""
    from lakehouse_architecture_transaction_spark.operators.timeseries import lagged_autocorr

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(F.date_trunc("day", F.col("o_orderdate")).alias("day")).agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))").alias("__rev")
    )
    daily = daily.select(
        "day", F.expr("CAST(__rev * 100 AS BIGINT) div 10000").alias("rev_h")
    )
    return (
        lagged_autocorr(daily, "day", "rev_h", max_lag=7)
        .select(F.col("lag").cast("bigint").alias("lag"), "n_pairs", "autocorr")
        .orderBy("lag")
    )


# ------------------------------------------------------------------
# events_usertype_overlap — audience co-usage matrix
# ------------------------------------------------------------------

EVENTS_USERTYPE_OVERLAP_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users FROM tu GROUP BY 1),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, sa.n_users AS n_users_a, sb.n_users AS n_users_b,
       p.n_common,
       CAST(p.n_common AS DOUBLE)
           / CAST(sa.n_users + sb.n_users - p.n_common AS DOUBLE) AS jaccard
FROM pairs p
JOIN sizes sa ON p.type_a = sa.event_type
JOIN sizes sb ON p.type_b = sb.event_type
ORDER BY type_a ASC, type_b ASC
"""


@register("events_usertype_overlap", oracle=EVENTS_USERTYPE_OVERLAP_ORACLE, headline=True)
def events_usertype_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap between event types: for every type pair, the
    distinct-user counts of both types, the overlap, and the Jaccard
    of their user sets — which behaviors share an audience (the
    cross-sell / feature-adoption matrix). Set-level complement to
    events_type_cooccurrence's within-window counts: co-occurrence
    says "together in time", this says "same people at all".

    Scale shape: ONE distinct aggregate (map-side partial) at
    (type, user) cardinality, localCheckpoint-ed because the sizes
    and the pair self-join both consume it; the self-join keys on
    user_id at distinct-pair cardinality and the matrix is
    types²/2 rows."""
    tu = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = tu.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_users"))
    a = tu.select(F.col("event_type").alias("type_a"), "user_id")
    b = tu.select(F.col("event_type").alias("type_b"), "user_id")
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_users_a"))),
            "type_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_users_b"))),
            "type_b",
        )
        .select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("n_users_a") + F.col("n_users_b") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("type_a", "type_b")
    )


# ------------------------------------------------------------------
# events_growth_accounting — weekly new/retained/resurrected/churned
# ------------------------------------------------------------------

EVENTS_GROWTH_ACCOUNTING_ORACLE = """
WITH wa AS (
    SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
    FROM events
),
first_w AS (SELECT user_id, MIN(week) AS first_week FROM wa GROUP BY 1),
cur AS (
    SELECT w.week, w.user_id, f.first_week,
           CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS was_prev
    FROM wa w
    JOIN first_w f ON w.user_id = f.user_id
    LEFT JOIN wa p ON p.user_id = w.user_id
                  AND p.week = w.week - INTERVAL 7 DAYS
),
act AS (
    SELECT week,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           CAST(SUM(CASE WHEN first_week = week THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(was_prev) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN first_week < week AND was_prev = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_resurrected
    FROM cur GROUP BY 1
),
ch AS (
    SELECT p.week + INTERVAL 7 DAYS AS week, CAST(COUNT(*) AS BIGINT) AS n_churned
    FROM wa p
    LEFT JOIN wa n ON n.user_id = p.user_id AND n.week = p.week + INTERVAL 7 DAYS
    WHERE n.user_id IS NULL
    GROUP BY 1
)
SELECT a.week AS week, n_active, n_new, n_retained, n_resurrected,
       CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned
FROM act a LEFT JOIN ch c ON a.week = c.week
ORDER BY week ASC
"""


@register("events_growth_accounting", oracle=EVENTS_GROWTH_ACCOUNTING_ORACLE, headline=True)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting — the standard product-analytics
    decomposition of the active-user curve: per ISO week, active
    users split into NEW (first-ever week), RETAINED (also active the
    prior week) and RESURRECTED (returned after a gap), plus CHURNED
    (active the prior week, absent this one). The identity
    active = new + retained + resurrected holds exactly by
    construction, and active(w) − active(w−1) =
    new + resurrected − churned — the growth ledger DAU/MAU
    stickiness (A73) cannot decompose. Churn for weeks after the
    observation window is unknowable and not reported.

    Scale shape: ONE distinct (user, week) aggregate (map-side
    partial), localCheckpoint-ed — four branches (first-week
    aggregate, current/prev self-join, churn anti-join) consume it;
    everything downstream runs at user×week cardinality with
    user-keyed equi-joins on calendar-shifted weeks."""
    wa = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", F.col("ts")).alias("week"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    first_w = wa.groupBy("user_id").agg(F.min("week").alias("first_week"))
    prev = wa.select(
        F.col("user_id").alias("__pu"), (F.col("week") + F.expr("INTERVAL 7 DAYS")).alias("__pw")
    )
    cur = (
        wa.join(first_w, "user_id")
        .join(
            prev,
            (F.col("user_id") == F.col("__pu")) & (F.col("week") == F.col("__pw")),
            "left",
        )
        .select(
            "week",
            "first_week",
            F.when(F.col("__pu").isNotNull(), 1).otherwise(0).alias("was_prev"),
        )
    )
    act = cur.groupBy("week").agg(
        F.count("*").cast("bigint").alias("n_active"),
        F.sum(F.when(F.col("first_week") == F.col("week"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum("was_prev").cast("bigint").alias("n_retained"),
        F.sum(
            F.when((F.col("first_week") < F.col("week")) & (F.col("was_prev") == 0), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    nxt = wa.select(
        F.col("user_id").alias("__nu"), F.col("week").alias("__nw")
    )
    ch = (
        wa.join(
            nxt,
            (F.col("user_id") == F.col("__nu"))
            & (F.col("__nw") == F.col("week") + F.expr("INTERVAL 7 DAYS")),
            "left_anti",
        )
        .select((F.col("week") + F.expr("INTERVAL 7 DAYS")).alias("week"))
        .groupBy("week")
        .agg(F.count("*").cast("bigint").alias("n_churned"))
    )
    return (
        act.join(ch, "week", "left")
        .select(
            F.col("week").cast("timestamp_ntz").alias("week"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0)).cast("bigint").alias("n_churned"),
        )
        .orderBy("week")
    )


# ------------------------------------------------------------------
# events_hourly_concentration — traffic-mix concentration by hour
# ------------------------------------------------------------------

EVENTS_HOURLY_CONCENTRATION_ORACLE = """
WITH c AS (
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
h AS (
    -- HUGEINT square-sum mirrors the engine's DECIMAL(38,0): a cell
    -- past ~3e9 events squares out of 64 bits (the CV-overflow class)
    SELECT hour_of_day,
           CAST(SUM(n) AS BIGINT) AS n_events,
           SUM(CAST(n AS HUGEINT) * CAST(n AS HUGEINT)) AS sum_sq,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM c GROUP BY 1
),
top AS (
    SELECT hour_of_day, event_type AS top_type FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_of_day
                                     ORDER BY n DESC, event_type ASC) AS rn
        FROM c
    ) WHERE rn = 1
)
SELECT h.hour_of_day AS hour_of_day, n_events, n_types, t.top_type,
       CAST(sum_sq AS DOUBLE) / (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE))
           AS simpson,
       (CAST(n_events AS DOUBLE) * CAST(n_events AS DOUBLE)) / CAST(sum_sq AS DOUBLE)
           AS effective_types
FROM h JOIN top t ON h.hour_of_day = t.hour_of_day
ORDER BY hour_of_day ASC
"""


@register("events_hourly_concentration", oracle=EVENTS_HOURLY_CONCENTRATION_ORACLE, headline=True)
def events_hourly_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic-mix concentration by hour of day: per hour, total
    events, the dominant event type (count desc, type asc ties), the
    Simpson concentration index Σp² of the type mix, and its inverse
    (the "effective number of types" — 1.0 means one behavior owns
    the hour, n_types means a perfectly even mix). The
    when-does-the-traffic-mix-narrow diagnostic behind alerting
    thresholds that vary by hour; Simpson (exact rational Σc²/T² in
    DECIMAL(38,0) squares and ONE division each way) rather than
    entropy — ln is a libm call the engine boundary forbids, and the
    docs_char_diversity precedent applies verbatim.

    Scale shape: one (hour, type) aggregate with map-side combine
    (24×types rows); everything downstream — hour rollup, argmax
    window — runs at that aggregate cardinality. The (hour, type)
    frame is localCheckpoint-ed: the rollup and the argmax window
    both consume it."""
    c = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.hour(F.col("ts")).cast("bigint").alias("hour_of_day"), F.col("event_type")
        )
        .agg(F.count("*").cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    # DECIMAL square-sum via the shared moment helper, not int64: an
    # hour-type cell past ~3e9 events squares out of 64 bits (the r12
    # skew-probe CV overflow class); exact to ~1e19 events per cell
    # in 38 digits (functions/moments.py)
    h = c.groupBy("hour_of_day").agg(
        F.sum("n").cast("bigint").alias("n_events"),
        sum_sq_dec(F.col("n")).alias("sum_sq"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    w = Window.partitionBy("hour_of_day").orderBy(F.col("n").desc(), F.col("event_type").asc())
    top = (
        c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("hour_of_day", F.col("event_type").alias("top_type"))
    )
    ne = F.col("n_events").cast("double")
    return (
        h.join(top, "hour_of_day")
        .select(
            "hour_of_day",
            "n_events",
            "n_types",
            "top_type",
            (F.col("sum_sq").cast("double") / (ne * ne)).alias("simpson"),
            ((ne * ne) / F.col("sum_sq").cast("double")).alias("effective_types"),
        )
        .orderBy("hour_of_day")
    )
