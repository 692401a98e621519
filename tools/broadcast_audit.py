"""Broadcast-growth audit: catch broadcasts that scale with the data.

The survival-curve bug class (caught round 10, ahead of its
registration): a non-equi join plans as BroadcastNestedLoopJoin, and
for an outer join Spark must build a specific side — if that side is
fact-shaped, the plan works at test SF and OOMs at corpus scale. A
static grep cannot adjudicate this (plenty of broadcasts legitimately
carry key columns), so this tool MEASURES it: run every registered
query at two scale factors, read each run's BroadcastExchange
"number of output rows" metrics from the UI REST API's SQL endpoint
through measure.SparkUI (Spark 4.1 no longer reports a broadcast
data-size metric), and flag any query whose LARGEST broadcast grows
with the corpus.

Reading the flags: dims (region/nation at fixed cardinality) and
aggregate/argmax frames stay ~flat across SFs. SURVEY §6's documented
TPC-H-ratio dim broadcasts (supplier/part/customer enrichment joins)
grow ~linearly ON PURPOSE — for those, adjudicate WHICH table grew
(a dim the optimizer would shuffle-join at real scale via the 64 MB
autoBroadcast ceiling vs an explicit F.broadcast that would force the
OOM). Anything ELSE that grows is a plan bug of the survival-curve
class. The audit's verdicts live in SCALE.md.

Usage: python tools/broadcast_audit.py [sfA sfB]
Defaults: /root/testdata/sf0.001 vs /root/testdata/sf0.01 (10x rows).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_transaction_spark.plans import REGISTRY  # noqa: E402
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_transaction_spark.measure import SparkUI, timed_run  # noqa: E402

GROWTH_FLOOR_ROWS = 5_000  # ignore smaller broadcasts at sfB
GROWTH_RATIO = 4.0  # flag when rows(sfB) > 4x rows(sfA) for 10x rows


def parse_rows(v: str) -> int:
    """Max row count out of a Spark humanized metric string
    (e.g. '6,800' or 'total (min, med, max)\n6,800 (100, 200, 300)')."""
    best = 0
    for m in re.finditer(r"[\d,]+", v):
        n = int(m.group(0).replace(",", "") or 0)
        best = max(best, n)
    return best


def max_broadcast_rows(ui: SparkUI) -> int:
    """Max BroadcastExchange output rows over the SQL executions that
    ``ui`` has not returned before."""
    best = 0
    for ex in ui.new_sql_executions():
        for node in ex.get("nodes", []):
            if "BroadcastExchange" not in node.get("nodeName", ""):
                continue
            for metric in node.get("metrics", []):
                if metric.get("name") == "number of output rows":
                    best = max(best, parse_rows(metric.get("value", "")))
    return best


def measure(spark, sf_dir: str) -> dict[str, int]:
    ui = SparkUI(spark)
    ui.new_sql_executions()  # drain pre-existing
    sizes: dict[str, int] = {}
    for name in REGISTRY:
        try:
            timed_run(spark, name, sf_dir)
        except Exception as e:  # noqa: BLE001 — audit everything else
            print(f"  ERROR {name}: {type(e).__name__}: {str(e)[:100]}", flush=True)
            sizes[name] = -1
            # still advance past the failed query's partial SQL
            # executions — otherwise its BroadcastExchange metrics
            # get attributed to the NEXT query (r10 advice).
            ui.new_sql_executions()
            continue
        sizes[name] = max_broadcast_rows(ui)
    return sizes


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_a = args[0] if len(args) > 0 else "/root/testdata/sf0.001"
    sf_b = args[1] if len(args) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("broadcast-audit", cpus=16, ui=True)
    print(f"measuring at {sf_a} ...", flush=True)
    a = measure(spark, sf_a)
    print(f"measuring at {sf_b} ...", flush=True)
    b = measure(spark, sf_b)
    rows = []
    for name in sorted(REGISTRY, key=lambda n: -(b.get(n, 0))):
        sa, sb = a.get(name, 0), b.get(name, 0)
        if sb < GROWTH_FLOOR_ROWS:
            continue
        ratio = (sb / sa) if sa > 0 else float("inf")
        flag = "GROWS" if ratio > GROWTH_RATIO else "flat-ish"
        rows.append((name, sa, sb, ratio, flag))
        print(
            f"  {name:45s} {sa:10d} -> {sb:10d} rows  x{ratio:6.1f}  {flag}",
            flush=True,
        )
    grows = [r for r in rows if r[4] == "GROWS"]
    print(f"{len(rows)} queries above the {GROWTH_FLOOR_ROWS}-row floor; "
          f"{len(grows)} grow >{GROWTH_RATIO}x for 10x rows")
    spark.stop()


if __name__ == "__main__":
    main()
