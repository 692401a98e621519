"""Bounded streaming replays.

Each query runs a real Structured Streaming pipeline
(streaming/pipeline.py) as a bounded availableNow run over a replayed
source, to completion, and returns its sink as a batch DataFrame:
hourly and trending windows, native and stateful sessionization,
exact dedup against a re-delivering source, a stream-stream interval
join, stream-static enrichment and a foreachBatch upsert into a
versioned LakeTable. Complete mode or a no-eviction horizon makes each
run batch-equivalent by semantics, so the oracle is first-principles
SQL over the base tables.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.plans.registry import register

# ------------------------------------------------------------------
# events_stream_hourly — the STREAMING pipeline, oracle-checked
# ------------------------------------------------------------------

_STREAM_SRC_MEMO: dict[tuple[str, str], str] = {}


def _stream_events_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per app+sf_dir) the events table as an 8-file
    parquet landing zone for the file-source streams."""
    key = (spark.sparkContext.applicationId, sf_dir)
    src = _STREAM_SRC_MEMO.get(key)
    if src is None:
        src = tempfile.mkdtemp(prefix="lakehouse_architecture_transaction_stream_events_")
        atexit.register(shutil.rmtree, src, ignore_errors=True)
        load_table(spark, sf_dir, "events").repartition(8).write.mode("overwrite").parquet(src)
        _STREAM_SRC_MEMO[key] = src
    return src

EVENTS_STREAM_HOURLY_ORACLE = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start ASC, event_type ASC
"""


@register("events_stream_hourly", oracle=EVENTS_STREAM_HOURLY_ORACLE, headline=True)
def events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL Structured Streaming pipeline (streaming/pipeline.py
    read_event_stream → hourly_stream_agg), executed as a bounded
    availableNow run and returned as a DataFrame — which makes the
    streaming path itself an oracle-checked, oracle-hashed query
    surface instead of a tests-only component. Complete output mode
    makes the bounded run batch-equivalent BY SEMANTICS: the memory
    sink holds every (window, type) group at stream end, and in
    complete mode the watermark neither evicts state nor drops late
    rows — so the staged files' arbitrary event-time order (8-way
    repartitioned landing zone, maxFilesPerTrigger=4 → multiple
    micro-batches with heavy cross-batch 'lateness') cannot change
    the result. The oracle states the plain batch aggregate.

    Scale shape: identical to the batch twin (map-side-combined
    (window, type) aggregate); state is (windows × types), bounded in
    production by the watermark (append mode) — complete mode here is
    the bounded-run harness, not the 100 TB deployment mode."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        gate_state_partitions,
        hourly_stream_agg,
        read_event_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = f"stream_hourly_{uuid.uuid4().hex[:8]}"
    with gate_state_partitions(spark):
        q = (
            hourly_stream_agg(read_event_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            F.col("hour_start").cast("timestamp_ntz").alias("hour_start"),
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("total_value").cast("decimal(18,2)").cast("double").alias("total_value"),
        )
        .orderBy("hour_start", "event_type")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


# ------------------------------------------------------------------
# events_stream_trending — sliding-window streaming top-k
# ------------------------------------------------------------------

_TREND_K = 3

EVENTS_STREAM_TRENDING_ORACLE = f"""
WITH w AS (
    SELECT time_bucket(INTERVAL '30 minutes', ts) AS t30, event_type FROM events
),
e AS (
    SELECT t30 AS window_start, event_type FROM w
    UNION ALL
    SELECT t30 - INTERVAL '30 minutes' AS window_start, event_type FROM w
),
c AS (
    SELECT window_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM e GROUP BY 1, 2
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY window_start
                  ORDER BY n_events DESC, event_type ASC) AS rank
    FROM c
)
SELECT CAST(window_start AS TIMESTAMP) AS window_start,
       CAST(rank AS INTEGER) AS rank, event_type, n_events
FROM r WHERE rank <= {_TREND_K}
ORDER BY window_start ASC, rank ASC
"""


@register("events_stream_trending", oracle=EVENTS_STREAM_TRENDING_ORACLE, headline=True)
def events_stream_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trending-feed STREAMING pipeline (streaming/pipeline.py
    sliding_stream_counts → top_k_per_window): 1-hour windows sliding
    every 30 minutes over the bounded availableNow stream (complete
    mode — batch-equivalent, see events_stream_hourly), then the
    deterministic per-window top-k rank applied to the drained sink
    exactly as the foreachBatch serving layer would. The oracle
    derives the same sliding windows arithmetically (each event lands
    in exactly window/slide = 2 windows, starts aligned to the
    30-minute epoch grid — Spark's F.window origin).

    Scale shape: the stream aggregate is (windows × types) with
    map-side combine (each event expands to 2 window rows); the rank
    window runs at that aggregate cardinality."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        gate_state_partitions,
        read_event_stream,
        sliding_stream_counts,
        top_k_per_window,
    )

    src = _stream_events_src(spark, sf_dir)
    name = f"stream_trending_{uuid.uuid4().hex[:8]}"
    with gate_state_partitions(spark):
        q = (
            sliding_stream_counts(read_event_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        top_k_per_window(spark.table(name), k=_TREND_K)
        .select(
            F.col("window_start").cast("timestamp_ntz").alias("window_start"),
            "rank",
            "event_type",
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("window_start", "rank")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


EVENTS_STREAM_SESSIONS_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
), sess AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM ordered
), s AS (
    SELECT user_id, session_id,
           CAST(COUNT(*) AS INTEGER) AS session_size,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
    FROM sess GROUP BY user_id, session_id
)
SELECT session_size,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 1000000.0 AS total_duration_s
FROM s GROUP BY session_size
ORDER BY session_size ASC
"""


# ------------------------------------------------------------------
# S8: native session_window streaming sessionization, oracle-checked
# ------------------------------------------------------------------
#
# Pattern (see events_stream_hourly): the REAL streaming
# pipeline run as a bounded availableNow stream against a staged
# multi-file landing zone, drained from the memory sink, and reduced
# to a compact, oracle-replayable audit. Complete mode makes the
# bounded run batch-equivalent BY SEMANTICS (no state eviction, no
# late-row drops), so the staged files' arbitrary event-time order
# cannot change the result.


@register("events_stream_sessions", oracle=EVENTS_STREAM_SESSIONS_ORACLE, headline=True)
def events_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 as an oracle-checked query: Spark-native streaming
    sessionization (streaming/pipeline.py sessionize_native —
    watermarked ``session_window`` aggregate, the declarative
    alternative to applyInPandasWithState) executed as a bounded
    availableNow run in complete mode, then reduced to the
    session-size distribution: per session size (n_events), how many
    sessions closed and their exact total duration. The oracle replays
    30-minute-gap sessionization with the lag+cumsum gaps-and-islands
    formulation — so the streaming engine's merge-on-overlap session
    state is value-checked against first-principles SQL, duration to
    the microsecond (exact BIGINT micros; the only division is one
    exact-double /1e6 both sides compute identically).

    Scale shape: one exchange on user_id with in-aggregate session
    merge (same as the batch twin events_session_window); production
    runs append mode where the watermark bounds state — complete mode
    here is the bounded-run harness, not the deployment mode."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        gate_state_partitions,
        read_event_stream,
        sessionize_native,
    )

    src = _stream_events_src(spark, sf_dir)
    name = f"stream_sessions_{uuid.uuid4().hex[:8]}"
    with gate_state_partitions(spark):
        q = (
            sessionize_native(read_event_stream(spark, src))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy(F.col("n_events").cast("int").alias("session_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.unix_micros("session_end") - F.unix_micros("session_start"))
            .cast("bigint")
            .alias("total_duration_us"),
        )
        .select(
            "session_size",
            "n_sessions",
            (F.col("total_duration_us").cast("double") / F.lit(1000000.0)).alias(
                "total_duration_s"
            ),
        )
        .orderBy("session_size")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


# ------------------------------------------------------------------
# S4: streaming exact dedup against a re-delivering source
# ------------------------------------------------------------------

_DUP_SRC_MEMO: dict[tuple[str, str], str] = {}


def _redelivered_events_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per app+sf_dir) a landing zone where every fifth
    event (event_id % 5 == 0) is DELIVERED TWICE — the at-least-once
    feed the streaming dedup exists for. The copies are byte-exact
    re-deliveries, so whichever arrives first is the keeper and the
    deduped stream equals the original table regardless of file/batch
    order."""
    key = (spark.sparkContext.applicationId, sf_dir)
    src = _DUP_SRC_MEMO.get(key)
    if src is None:
        src = tempfile.mkdtemp(prefix="lakehouse_architecture_transaction_stream_dups_")
        atexit.register(shutil.rmtree, src, ignore_errors=True)
        ev = load_table(spark, sf_dir, "events")
        ev.unionByName(ev.filter(F.col("event_id") % 5 == 0)).repartition(
            8
        ).write.mode("overwrite").parquet(src)
        _DUP_SRC_MEMO[key] = src
    return src


EVENTS_STREAM_DEDUP_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type ASC
"""


@register("events_stream_dedup", oracle=EVENTS_STREAM_DEDUP_ORACLE, headline=True)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 as an oracle-checked query: the streaming exact-dedup
    operator (streaming/pipeline.py dedup_stream →
    dropDuplicatesWithinWatermark, the reference's dropDuplicates made
    incremental — reference scripts/glue/script.py:196) run as a
    bounded availableNow stream over a landing zone where 20% of
    events are delivered twice, then audited per event_type. The
    bounded run passes a lateness horizon longer than the data's time
    span so no dedup state is evicted mid-replay: the surviving rows
    are then EXACTLY the original events table (the oracle), however
    the files batch. Production uses a small horizon (state bounded by
    the watermark); the within-horizon eviction semantics are pinned
    separately by tests/test_streaming.py.

    Scale shape: dedup state is one key per event inside the horizon
    (hash-partitioned on event_id); the audit aggregate is map-side
    combinable at event_type cardinality."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        dedup_stream,
        gate_state_partitions,
        read_event_stream,
    )

    src = _redelivered_events_src(spark, sf_dir)
    name = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    with gate_state_partitions(spark):
        q = (
            dedup_stream(
                read_event_stream(spark, src), keys=["event_id"], within="3650 days"
            )
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("event_type")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


EVENTS_STREAM_CLICKS_ORACLE = """
WITH pairs AS (
    SELECT p.user_id, p.value,
           CAST(FLOOR((epoch_us(p.ts) - epoch_us(c.ts)) / 600000000) AS INTEGER)
               AS latency_bucket_10m
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND c.ts <= p.ts AND p.ts <= c.ts + INTERVAL 3600 SECONDS
)
SELECT latency_bucket_10m,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS attributed_value
FROM pairs
GROUP BY latency_bucket_10m
ORDER BY latency_bucket_10m ASC
"""


# ------------------------------------------------------------------
# S5: stream-stream interval join (click → purchase attribution feed)
# ------------------------------------------------------------------


@register("events_stream_clicks", oracle=EVENTS_STREAM_CLICKS_ORACLE, headline=True)
def events_stream_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 as an oracle-checked query: the stream-stream interval join
    (streaming/pipeline.py click_purchase_join — purchases matched to
    every preceding click by the same user within 1 hour, both sides
    watermarked) run as a bounded availableNow stream, then reduced to
    the click-to-purchase LATENCY PROFILE: per 10-minute latency
    bucket, pair count, distinct converting users, and exact attributed
    value. The bounded run passes a lateness horizon longer than the
    data's span so no join state is evicted mid-replay — the emitted
    pairs are exactly the batch interval join (the oracle's self-join),
    however the files batch. This is the ALL-PAIRS interval join (the
    attribution-candidate feed); first-touch selection on top is the
    batch L28 events_click_attribution.

    Scale shape: the join state is per-user clicks inside the horizon,
    hash-partitioned on user_id; the audit aggregate has 6 rows.

    GATE-ONLY HORIZON: the "3650 days" watermark below is
    the bounded-replay gate setting — it exists so the registered
    artifact's emitted set equals the batch join EXACTLY regardless of
    file batching, making the row hash-checkable. It is NOT the
    deployment pattern: production passes a small horizon (the default
    "2 hours"), which bounds join state to ~21% of input — measured by
    test_stream_stream_join_state_bounded_by_watermark."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        click_purchase_join,
        gate_state_partitions,
        read_event_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    name = f"stream_clicks_{uuid.uuid4().hex[:8]}"
    # Width 4, not the family default 8 (r16, guide §5): a
    # stream-stream join runs FOUR state stores per partition, so this
    # replay's per-micro-batch commit cost is 4x the single-store
    # replays' — at width 8 that is 32 store instances per batch of
    # pure fixed overhead. Emitted rows are exact at ANY width (state
    # hash-partitioning is internal, same contract as the module
    # constant), 4 keeps the replay multi-partition, and the
    # interleaved width probe read 8/4/2 = 4.46/3.36/3.17 s min
    # (0.75x at 4; 2 forfeits distribution coverage for 6% more).
    with gate_state_partitions(spark, 4):
        q = (
            click_purchase_join(read_event_stream(spark, src), watermark="3650 days")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .select(
            F.floor(
                (F.unix_micros("purchase_ts") - F.unix_micros("click_ts"))
                / F.lit(600_000_000)
            )
            .cast("int")
            .alias("latency_bucket_10m"),
            "user_id",
            "value",
        )
        .groupBy("latency_bucket_10m")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("attributed_value"),
        )
        .orderBy("latency_bucket_10m")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


EVENTS_STREAM_ENRICHED_ORACLE = """
SELECT c.c_mktsegment AS mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
ORDER BY mktsegment ASC
"""


# ------------------------------------------------------------------
# S6a: stream-static broadcast enrichment
# ------------------------------------------------------------------


@register("events_stream_enriched", oracle=EVENTS_STREAM_ENRICHED_ORACLE, headline=True)
def events_stream_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6a as an oracle-checked query: stream-static enrichment
    (streaming/pipeline.py enrich_stream_static — each micro-batch
    broadcast-joins the BATCH customer dimension, the streaming
    analogue of the reference's curated-dimension lookups) run as a
    bounded availableNow stream, audited per enriched market segment.
    Enrichment is stateless (no watermark, no streaming state), so the
    bounded append-mode run is trivially batch-equivalent: the oracle
    is the plain events⋈customer aggregate.

    Scale shape: per-batch broadcast hash join (dim ≪ stream);
    the audit aggregate is map-side combinable at segment
    cardinality."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        enrich_stream_static,
        gate_state_partitions,
        read_event_stream,
    )

    src = _stream_events_src(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    name = f"stream_enriched_{uuid.uuid4().hex[:8]}"
    with gate_state_partitions(spark):
        q = (
            enrich_stream_static(read_event_stream(spark, src), dim, on="user_id")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    out = (
        spark.table(name)
        .groupBy(F.col("c_mktsegment").alias("mktsegment"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.expr("SUM(CAST(value AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("mktsegment")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out


# ------------------------------------------------------------------
# S7: foreachBatch streaming upsert → versioned LakeTable → CDC diff
# ------------------------------------------------------------------

_UPSERT_CDC_MEMO: dict[tuple[str, str], str] = {}


def _stream_upserted_orders(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per app+sf_dir) the S7 scenario: a versioned
    LakeTable seeded with a deliberately WRONG orders snapshot
    (keys ≡ 0 mod 13 missing; keys ≡ 0 mod 7 with a zeroed total),
    then the TRUE orders table staged as an 8-file landing zone and
    streamed through the foreachBatch upsert sink
    (streaming/pipeline.py stream_upsert_into — the reference's
    continuous-MERGE serving pattern, scripts/glue/script.py:204–227)
    until drained. Each micro-batch MERGEs by key and commits a new
    snapshot; however the files batch, per-key content converges to
    the true row, and unchanged upserts don't alter content — so
    diff(v0, latest) is batch-order-independent."""
    from lakehouse_architecture_transaction_spark.streaming.pipeline import stream_upsert_into

    key = (spark.sparkContext.applicationId, sf_dir)
    path = _UPSERT_CDC_MEMO.get(key)
    if path is None:
        root = tempfile.mkdtemp(prefix="lakehouse_architecture_transaction_s7_cdc_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders")
        ptype = orders.schema["o_totalprice"].dataType.simpleString()
        seed = orders.filter(F.col("o_orderkey") % 13 != 0).withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit(0).cast(ptype)
            ).otherwise(F.col("o_totalprice")),
        )
        table = LakeTable(spark, f"{root}/orders", keys=["o_orderkey"], versioned=True)
        table.create(seed)  # v0: the stale serving snapshot
        src = f"{root}/landing"
        orders.repartition(8).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(orders.schema)
            .option("maxFilesPerTrigger", 3)
            .parquet(src)
        )
        from lakehouse_architecture_transaction_spark.streaming.pipeline import (
            gate_state_partitions,
        )

        # no stream state stores here (the table IS the state), but
        # each micro-batch's merge join still shuffles at session
        # width — pin the replay like the other bounded runs
        with gate_state_partitions(spark):
            q = stream_upsert_into(stream, table, checkpoint_dir=f"{root}/ckpt")
            q.processAllAvailable()
            q.stop()
        path = f"{root}/orders"
        _UPSERT_CDC_MEMO[key] = path
    return path


ORDERS_STREAM_UPSERT_CDC_ORACLE = """
WITH ch AS (
    SELECT 'insert' AS change_type, o_totalprice
    FROM orders WHERE o_orderkey % 13 = 0
    UNION ALL
    SELECT 'update_postimage' AS change_type, o_totalprice
    FROM orders WHERE o_orderkey % 7 = 0 AND o_orderkey % 13 <> 0
)
SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)
           AS total_price
FROM ch GROUP BY 1
ORDER BY change_type ASC
"""


@register("orders_stream_upsert_cdc", oracle=ORDERS_STREAM_UPSERT_CDC_ORACLE, headline=True)
def orders_stream_upsert_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 as an oracle-checked query: the foreachBatch streaming
    upsert sink feeding a versioned LakeTable (S3's sink + E20's
    change feed composed end-to-end), audited through the table's CDC
    diff between the pre-stream seed snapshot and the drained head.
    The seed is wrong in two deterministic ways — keys ≡ 0 mod 13
    absent (the stream INSERTS them) and keys ≡ 0 mod 7 zero-priced
    (the stream UPDATES them); every other upsert is content-identical
    and the null-safe struct compare keeps it out of the feed. The
    oracle states the exact expected change ledger from the base
    table's modular arithmetic.

    Scale shape: the upsert merges are key-partitioned per batch
    (state = the table, not stream memory); the diff is one full-outer
    key join of two snapshots; the audit aggregate has 2 rows. Unlike
    S4/S5 this registered artifact needs NO gate-only watermark: the
    sink carries no in-memory stream state to protect from eviction —
    the table itself is the state, and per-key MERGE convergence makes
    the final diff batch-order-independent at any horizon. The one
    gate-only knob is the snapshot CHAIN length (one commit per
    micro-batch replayed here; production compacts — see SCALE.md's
    upsert-CDC row)."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable as LT

    path = _stream_upserted_orders(spark, sf_dir)
    t = LT(spark, path, keys=["o_orderkey"], versioned=True)
    return (
        t.diff(0, t.latest_version())
        .groupBy(F.col("_change_type").alias("change_type"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("change_type")
    )


# ------------------------------------------------------------------
# events_stream_sessions_stateful — the HOUSE applyInPandasWithState
#    sessionizer (S2) as an oracle-checked query
# ------------------------------------------------------------------
#
# The last streaming component without a registered companion: S8
# covered the NATIVE session_window engine; this covers the custom
# stateful operator itself. Determinism without relying on timer
# timing: the landing zone is staged as time-ordered event slices
# (ascending file names AND mtimes, one file per micro-batch) plus a
# FINAL sentinel file carrying one far-future event per user. The
# sentinel exceeds every possible gap, so the state function closes
# each user's open tail INLINE on the data path (streaming/pipeline.py
# _make_session_fn: `ts_us - end_us > gap` → emit) — no reliance on
# event-time timers firing before shutdown. Mid-replay timer firings
# are consistent by construction: a timer fires only when
# watermark > end + gap, and every future event's ts exceeds the
# watermark (time-ordered slices), so any timer-emitted session would
# have been split at the same boundary by the data path. The emitted
# set is therefore EXACTLY the batch gap-sessionization of the real
# events; the sentinel sessions stay open in state and never emit.

_SFS_MEMO: dict[tuple[str, str], str] = {}
_SFS_SLICES = 6


def _stateful_sessions_src(spark: SparkSession, sf_dir: str) -> str:
    """Stage (once per app+sf_dir) the events table as 6 time-ordered
    slices + 1 sentinel file (one event per user, 1 day past the max
    ts — beyond any gap), names and mtimes ascending so the file
    source replays them in event-time order."""
    import os

    key = (spark.sparkContext.applicationId, sf_dir)
    src = _SFS_MEMO.get(key)
    if src is not None:
        return src
    src = tempfile.mkdtemp(prefix="lakehouse_architecture_transaction_sessfn_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    ev = load_table(spark, sf_dir, "events")
    # 1-ROW aggregate collect at memo time (slice boundaries for the
    # replay harness) — not a data collect; the staged zone itself is
    # written distributed.
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]
    stage = tempfile.mkdtemp(prefix="lakehouse_architecture_transaction_sessfn_stage_")
    atexit.register(shutil.rmtree, stage, ignore_errors=True)

    def _ship(df, i: int) -> None:
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = [f for f in os.listdir(stage) if f.startswith("part-") and f.endswith(".parquet")]
        dst = os.path.join(src, f"slice_{i:02d}.parquet")
        shutil.copyfile(os.path.join(stage, part[0]), dst)
        os.utime(dst, (1_700_000_000 + i * 60,) * 2)

    if lo is None:
        _ship(ev, 0)  # empty corpus: one empty, schema-bearing file
        _SFS_MEMO[key] = src
        return src
    span = (hi - lo) / _SFS_SLICES

    def _ntz(dt):
        # ts is TIMESTAMP_NTZ: the boundary must be built WITHOUT any
        # timezone hop. F.lit(datetime) converts the naive value to an
        # instant via the PYTHON-side zone while a later cast/coercion
        # renders in the SESSION zone — under a non-UTC driver the
        # round-trip shifts by the offset and silently cut the last
        # <offset> hours of events out of the final slice (5 dropped
        # rows, 5 missing sessions under America/New_York; pinned by
        # the companion's non-UTC oracle test). A string parsed as
        # TIMESTAMP_NTZ is wall-clock on both ends.
        return F.lit(dt.isoformat(sep=" ")).cast("timestamp_ntz")

    for i in range(_SFS_SLICES):
        s, e = lo + i * span, lo + (i + 1) * span
        cond = (F.col("ts") >= _ntz(s)) & (
            (F.col("ts") <= _ntz(hi)) if i == _SFS_SLICES - 1 else (F.col("ts") < _ntz(e))
        )
        _ship(ev.filter(cond), i)
    sentinel = (
        ev.select("user_id")
        .distinct()
        .select(
            F.lit(-1).cast("bigint").alias("event_id"),
            (_ntz(hi) + F.expr("INTERVAL 1 DAY")).alias("ts"),
            F.col("user_id"),
            F.lit("__sentinel__").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit(None).cast("string").alias("props"),
        )
    )
    _ship(sentinel.select([f.name for f in ev.schema.fields]), _SFS_SLICES)
    _SFS_MEMO[key] = src
    return src


EVENTS_STREAM_SESSIONS_STATEFUL_ORACLE = """
WITH ordered AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                     > INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
    FROM events
), sess AS (
    SELECT user_id, ts,
           SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
    FROM ordered
), s AS (
    SELECT user_id, session_id,
           CAST(COUNT(*) AS INTEGER) AS session_size,
           epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
    FROM sess GROUP BY user_id, session_id
)
SELECT session_size,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(CAST(SUM(dur_us) AS BIGINT) AS DOUBLE) / 1000000.0 AS total_duration_s
FROM s GROUP BY session_size
ORDER BY session_size ASC
"""


@register(
    "events_stream_sessions_stateful",
    oracle=EVENTS_STREAM_SESSIONS_STATEFUL_ORACLE,
    headline=True,
)
def events_stream_sessions_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 as an oracle-checked query: the house applyInPandasWithState
    gap sessionizer (streaming/pipeline.py sessionize_stateful,
    event-time timers, 30-min gap) run as a bounded availableNow
    stream over the time-ordered staged zone, reduced to the
    session-size distribution. A sentinel event per user 1 day past
    the corpus closes every real session on the data path (see module
    comment), so the emitted set equals first-principles batch
    sessionization and the oracle is the same lag+cumsum SQL the
    native-engine twin (events_stream_sessions) is checked against —
    the custom operator and the built-in engine are value-checked
    against the SAME ground truth. Sentinel-started sessions remain
    open in state and are excluded by construction (they never emit).

    Scale shape: state is one (start, end, n) row per LIVE user key
    (measured: tests/test_streaming.py state accounting); the shuffle
    keys on user_id once per micro-batch; Arrow batches the state
    function. Production bounds state by the watermark horizon — the
    sentinel is a replay-harness device, not a deployment pattern."""
    import uuid

    from lakehouse_architecture_transaction_spark.streaming.pipeline import (
        EVENT_SCHEMA,
        gate_state_partitions,
        sessionize_stateful,
    )

    src = _stateful_sessions_src(spark, sf_dir)
    # maxFilesPerTrigger=3 groups adjacent time-ordered slices into 3
    # micro-batches (two 3-slice spans + the sentinel file alone):
    # replay granularity is a harness knob (the
    # oracle is cell-exact at any batching), and the streaming
    # coverage is preserved — each data batch still crosses slice
    # boundaries mid-session, sessions spanning the s2|s3 boundary
    # still carry state ACROSS batches, and the sentinel still closes
    # every real session from its own later batch. r15 progress-metric
    # measurement: addBatch is ~2 s of fixed cost per batch (state
    # commit + Arrow round trip) even for the 1500-row sentinel batch,
    # so batch count is the whole cost model (was 4 data batches at
    # maxFilesPerTrigger=2).
    raw = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "3")
        .parquet(src)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    name = f"sessfn_{uuid.uuid4().hex[:8]}"
    # The final NO-DATA micro-batch exists to fire event-time timers
    # once the watermark passes end+gap with no new input. Here it is
    # provably emission-free: the sentinel (1 day past max ts, beyond
    # any gap) closes every REAL session on the data path in the last
    # data batch, and sentinel-started sessions have timer = sentinel
    # ts + gap, which the watermark (sentinel ts − 2 h) never passes —
    # so the empty batch commits state and emits zero rows (~0.9 s of
    # pure overhead, r15 progress metrics). Disable it for this
    # bounded replay, scoped and restored like gate_state_partitions.
    prev_ndmb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        # Width 16, not the family default 8 (r16, guide §5/§2.6): this
        # replay's per-batch cost is the Arrow state FUNCTION fanned
        # across the state partitions (Python-side work per 1500-key
        # batch), not store commits — wider means more state-fn tasks
        # in flight on 32 cores. Interleaved width probe 8/16/32 =
        # 5.08/4.51/5.18 s min (0.89x at 16; at 32 the doubled store
        # instances' commit overhead overtakes the extra parallelism).
        # Emitted rows are exact at any width, as above.
        with gate_state_partitions(spark, 16):
            q = (
                sessionize_stateful(raw, event_time_gap_s=1800, watermark="2 hours")
                .writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndmb)
    out = (
        spark.table(name)
        .groupBy(F.col("n_events").cast("int").alias("session_size"))
        .agg(
            F.count("*").cast("bigint").alias("n_sessions"),
            F.sum(F.unix_micros("session_end") - F.unix_micros("session_start"))
            .cast("bigint")
            .alias("total_duration_us"),
        )
        .select(
            "session_size",
            "n_sessions",
            (F.col("total_duration_us").cast("double") / F.lit(1000000.0)).alias(
                "total_duration_s"
            ),
        )
        .orderBy("session_size")
        .localCheckpoint(eager=True)
    )
    spark.catalog.dropTempView(name)
    return out
