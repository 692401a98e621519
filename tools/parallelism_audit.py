"""Parallelism-funnel audit: catch heavy stages running on few tasks.

The triangles bug class (caught round 11): AQE's partition coalescing
targets BYTES (advisory partition size), so a shuffle that moves only
a few MB gets folded to a handful of partitions — correct for
byte-bound stages, a wall-clock cliff for COMPUTE-dense ones
(array_intersect kernels, per-row hashing, Arrow round trips). The
part_copurchase_triangles wedge stages ran 4-wide on 32 cores and the
query went 2.99 s -> 4.47 s between driver captures. A static plan
read cannot adjudicate this (the exchange still SAYS 32 partitions
before AQE re-plans it), so this tool MEASURES it: run every
registered query once, read each run's completed stages from the UI
REST API (measure.SparkUI), and flag queries with a stage that is BOTH
slow (sum of task time above a floor) AND narrow (fewer tasks than
cores/4).

Reading the flags: single-row aggregates, TakeOrdered finals, and
driver-side memo builds are legitimately narrow AND fast — the task-
time floor keeps them out. Bounded streaming replays pin their own
width (streaming/pipeline.py gate_state_partitions) and are skipped.
A flagged batch query is either an AQE byte/compute mismatch (fix:
user-numbered repartition — REPARTITION_BY_NUM is exempt from
coalescing) or a genuinely serial shape that needs a redesign.
Verdicts live in SCALE.md next to the broadcast audit's.

Usage: python tools/parallelism_audit.py [sf_dir] [query ...]
Default: /root/testdata/sf0.1 (funnels need enough data to hurt).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_transaction_spark.plans import REGISTRY  # noqa: E402
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_transaction_spark.measure import SparkUI, timed_run  # noqa: E402

#: a stage is "slow" when its tasks together burned this much CPU-ms —
#: below it, narrowness is noise (tiny finals, 1-row aggregates)
STAGE_TASKTIME_FLOOR_MS = 1_500
#: a stage is "narrow" when it ran with fewer tasks than cores/4
NARROW_DIVISOR = 4
#: streaming replays pin their own gate width — skip them
SKIP_PREFIXES = ("events_stream_", "orders_stream_")


def audit(spark, sf_dir: str, only: set[str]) -> list[tuple[str, int, int, int]]:
    ui = SparkUI(spark)
    cores = spark.sparkContext.defaultParallelism
    narrow_cut = max(2, cores // NARROW_DIVISOR)
    flags: list[tuple[str, int, int, int]] = []
    ui.new_stages()  # absorb the stages that ran before the audit
    for name in REGISTRY:
        if only and name not in only:
            continue
        if name.startswith(SKIP_PREFIXES):
            continue
        try:
            timed_run(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — audit everything else
            print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:100]}", flush=True)
            ui.new_stages()
            continue
        worst = None
        for s in ui.new_stages():
            n_tasks = s.get("numCompleteTasks", 0)
            ttime = s.get("executorRunTime", 0)
            if ttime >= STAGE_TASKTIME_FLOOR_MS and 0 < n_tasks < narrow_cut:
                if worst is None or ttime > worst[1]:
                    worst = (s.get("stageId"), ttime, n_tasks)
        if worst:
            flags.append((name, *worst))
            print(
                f"  NARROW {name}: stage {worst[0]} burned {worst[1]} task-ms "
                f"on {worst[2]} task(s) (cut {narrow_cut} of {cores} cores)",
                flush=True,
            )
    return flags


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    only = set(args[1:])
    spark = get_spark("parallelism-audit", cpus=32, ui=True)
    print(f"auditing at {sf_dir} ...", flush=True)
    flags = audit(spark, sf_dir, only)
    print(f"{len(flags)} narrow-heavy quer{'y' if len(flags) == 1 else 'ies'} flagged")
    spark.stop()


if __name__ == "__main__":
    main()
