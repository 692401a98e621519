"""SparkSession factory tuned for the engine.

Local mode is the test bed; the conf is written so the same code path
scales to a multi-executor cluster: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), shuffle partitions sized from the
environment, Arrow enabled for the Pandas-UDF slow path, session
timezone pinned to UTC so timestamp semantics match the DuckDB oracle
and any other engine reading the same parquet.

It also holds the session memo: plan helpers that build an artifact
once per session (a staged table, a landing zone, a trained index, a
checkpointed pair frame) and serve it to every query that reads it.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

from lakehouse_architecture_transaction_spark.catalog import TABLES, corpus_fingerprint


def get_spark(
    app_name: str = "lakehouse-spark", cpus: int | None = None, ui: bool = False
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. Shuffle
    partitions track the core count — at cluster scale you'd size this
    to ~2-3x total executor cores instead; AQE coalescing makes the
    exact number forgiving. ``ui=True`` enables the Spark UI (off by
    default — tests/gates don't need the port) so measurement tools
    can read stage, task, SQL and shuffle metrics from its REST API
    through ``measure.SparkUI``, the one reader of it.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r15 (guide §3.1/§9): allow shuffled-hash joins instead of
        # always sort-merge — both knobs are size-CONDITIONED, so SMJ
        # remains the fallback whenever a build side could be large:
        # the planner picks SHJ only when its per-partition build fits
        # (canBuildLocalHashMap), and AQE additionally rewrites SMJ ->
        # SHJ at runtime when every post-shuffle partition is under
        # the 64 MB local-map threshold (a per-partition bound, valid
        # at any cluster scale; AQE skew-split still applies to SHJ).
        # Interleaved A/B at sf0.1 over 20 join-heavy queries across
        # two sessions: 0.837x and 0.917x totals, worst single query
        # 1.037x (noise). Env overrides keep it parameterised.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCALMAP", str(64 * 1024 * 1024)),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # serve bare MIN/MAX/COUNT from parquet footers (no data pages)
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "true" if ui else "false")
        # A UI session is read by measure.SparkUI. Its status store then
        # aggregates each SQL execution's metrics on the listener thread
        # (the default hands that to a background thread), so the
        # reader's listener-bus barrier covers them too: read right
        # after the action, broadcast row counts otherwise come back
        # missing on some runs.
        .config("spark.appStateStore.asyncTracking.enable", "false" if ui else "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: Entries kept per memoized builder: covers every gate/bench sweep
#: (one app × ≤3 sf dirs) without rebuild thrash, and lets frames of
#: stopped sessions go once newer apps replace them.
_MEMO_CAP = 4
#: One dict per memoized builder, so clear() reaches all of them.
_MEMOS: list[dict] = []


def _lru_touch(memo: dict, key, value, cap: int):
    """Insert/refresh ``key`` (insertion order = recency) and evict
    past ``cap`` by dropping the reference ONLY. The values are
    localCheckpoint-backed: their lineage is already truncated, so an
    eager ``unpersist()`` would delete the checkpoint blocks under any
    still-held reference, turning its next action into a
    checkpoint-block-not-found crash instead of a recompute. Dropping the reference lets ContextCleaner reclaim the
    blocks once the RDD is garbage-collected — callers that retained
    an evicted frame keep a working (still block-backed) handle until
    they release it."""
    memo.pop(key, None)
    memo[key] = value
    while len(memo) > cap:
        memo.pop(next(iter(memo)))
    return value


def _lake_fingerprint(sf_dir: str) -> tuple:
    """(table, name, size, mtime_ns) of every file of every catalog
    table under ``sf_dir`` — a rewritten input changes the memo key."""
    return tuple(
        (table, *f) for table in TABLES for f in corpus_fingerprint(sf_dir, table)["files"]
    )


def session_memo(build):
    """Memoize a ``build(spark, sf_dir)`` plan helper per (applicationId,
    sf_dir, lake fingerprint): queries that share a session share the
    artifact, a new session or rewritten input files build it afresh,
    and each builder keeps at most ``_MEMO_CAP`` entries (LRU, see
    _lru_touch)."""
    memo: dict = {}
    _MEMOS.append(memo)

    @functools.wraps(build)
    def memoized(spark: SparkSession, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir, _lake_fingerprint(sf_dir))
        value = memo[key] if key in memo else build(spark, sf_dir)
        return _lru_touch(memo, key, value, _MEMO_CAP)

    return memoized


def clear() -> None:
    """Forget every session memo entry; the next call of each builder
    builds again."""
    for memo in _MEMOS:
        memo.clear()


def scratch_dir(prefix: str) -> str:
    """mkdtemp with process-exit cleanup: staged tables and landing
    zones are session artifacts, not deliverables — without the
    atexit hook every gate/bench run would leak an orders+lineitem
    copy into the temp dir."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
