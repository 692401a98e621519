"""Measurement: the one module that warms a session up, forces and
times a registered query, and reads the Spark UI's metrics. The bench
and every probe/audit tool call it instead of keeping their own copy.

One definition of "force this query" so the harnesses can never drift
apart on action semantics again — the r11 count()-era bug was exactly
that: an action Catalyst could partially prune (aggregate expressions
under grouped aggregates, one-row-plan unions, map-only projections),
silently under-measuring different queries in different tools.
"""

from __future__ import annotations

import json
import time
import urllib.request

from pyspark.sql import DataFrame, SparkSession


def force_full_result(df: DataFrame) -> None:
    """Execute the FULL plan of ``df`` and discard the rows
    executor-side: a noop-sink write computes every output column
    (nothing is prunable against a write) with no driver transfer to
    distort big-output shapes. This is THE measurement action — do
    not replace with count()/collect() in any harness."""
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the session's one-time costs before anything is timed: JVM,
    codegen and parquet footer caches through the flagship query, forced
    by the measurement action so the noop sink's own init (datasource
    lookup, write-path codegen) lands here, not in the first timed run;
    then the Python worker pool (Arrow-batched ops otherwise pay ~3 s of
    daemon spin-up on their first query — boot cost, not plan cost)."""
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    force_full_result(REGISTRY["q1_pricing_summary"].fn(spark, sf_dir))
    cpus = spark.sparkContext.defaultParallelism
    spark.range(cpus).repartition(cpus).mapInPandas(lambda it: it, "id long").count()


def timed_run(spark: SparkSession, name: str, sf_dir: str) -> float:
    """Build and force the registered query ``name`` once; return the
    wall seconds from the plan build through the action. Intermediates
    the query persisted are released afterwards, outside the timed
    window, so caches never leak into the next run."""
    from lakehouse_architecture_transaction_spark.operators.dedup import release_persisted
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    try:
        t0 = time.perf_counter()
        force_full_result(REGISTRY[name].fn(spark, sf_dir))
        return time.perf_counter() - t0
    finally:
        release_persisted()


class SparkUI:
    """Reader of one session's Spark UI REST API — stage, task, SQL and
    executor metrics. The session must run with the UI on
    (``get_spark(ui=True)``, which also makes the UI's status store
    apply every event on the listener thread). Failure rule: building the
    reader on any other session raises, and so does any failed HTTP read
    — a metric that could not be read is never reported as zero.

    ``new_stages`` and ``new_sql_executions`` each return only what no
    earlier call on this reader returned, so a call right after a run
    yields that run's stages or executions."""

    def __init__(self, spark: SparkSession) -> None:
        sc = spark.sparkContext
        if not sc.uiWebUrl:
            raise RuntimeError("the Spark UI is off for this session; build it with get_spark(ui=True)")
        if sc.getConf().get("spark.appStateStore.asyncTracking.enable", "true") != "false":
            raise RuntimeError("the Spark UI tracks metrics asynchronously; build the session with get_spark(ui=True)")
        self._bus = sc._jsc.sc().listenerBus()
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self._seen_stages: set[tuple[int, int]] = set()
        self._last_sql_id = -1

    def _get(self, path: str):
        # A finished action has posted all of its events; wait until the
        # listeners have applied them, so no read sees a half-updated run.
        self._bus.waitUntilEmpty()
        with urllib.request.urlopen(self._base + path) as r:
            return json.load(r)

    def new_stages(self) -> list[dict]:
        """Completed stages not returned before, keyed by (stageId,
        attemptId)."""
        fresh = [
            s
            for s in self._get("/stages?status=complete")
            if (s["stageId"], s["attemptId"]) not in self._seen_stages
        ]
        self._seen_stages.update((s["stageId"], s["attemptId"]) for s in fresh)
        return fresh

    def max_task_ms(self, stage: dict) -> float:
        """Longest single task of ``stage`` (ms): its taskSummary
        ``duration`` at the 1.0 quantile."""
        summary = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=1.0")
        return float(summary.get("duration", [0.0])[0])

    def new_sql_executions(self) -> list[dict]:
        """SQL executions (with plan-node metrics) whose id is above
        every id an earlier call saw. Read in pages of 200."""
        page = 200
        execs: list[dict] = []
        while True:
            batch = self._get(
                f"/sql?details=true&planDescription=false&offset={len(execs)}&length={page}"
            )
            execs.extend(batch)
            if len(batch) < page:
                break
        fresh = [ex for ex in execs if ex["id"] > self._last_sql_id]
        self._last_sql_id = max([self._last_sql_id] + [ex["id"] for ex in execs])
        return fresh

    def shuffle_write_bytes(self) -> int:
        """Shuffle bytes written over the application's lifetime. Read
        from the executors, not the stages: the stage list is evicted
        past ``spark.ui.retainedStages``, while each executor's
        ``totalShuffleWrite`` is cumulative and a few hundred bytes to
        fetch. The delta around a run is that run's shuffle volume."""
        return sum(e["totalShuffleWrite"] for e in self._get("/executors"))
