"""Per-query optimization probe (r15): isolated min-of-N timing with
the house noop-sink action plus a formatted-plan dump for before/after
evidence.

Usage:
    python tools/qprobe.py [--plans OUTDIR] [--suffix TAG] [--runs N]
                           [--sf SF_DIR] query [query ...]

For each query: warm the session with measure.warm_up (the bench's
warm-up), then run min-of-N measure.timed_run and print every run's
wall time and the min, one line per query. With
``--plans`` the ``explain("formatted")`` output is written to
``OUTDIR/<query>_<suffix>.txt`` (the r15 deliverable format).
"""

from __future__ import annotations

import argparse
import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_transaction_spark.plans import REGISTRY  # noqa: E402
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_transaction_spark.measure import timed_run, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--plans", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("qprobe", cpus=cpus)
    warm_up(spark, args.sf)

    from lakehouse_architecture_transaction_spark.operators.dedup import release_persisted
    from bench import measure_anchor_mc

    print(f"anchor_mc_s={measure_anchor_mc(spark, 3, cpus)}")
    for name in args.queries:
        if name not in REGISTRY:
            print(f"SKIP {name}: not registered")
            continue
        samples = [timed_run(spark, name, args.sf) for _ in range(args.runs)]
        if args.plans:
            os.makedirs(args.plans, exist_ok=True)
            df = REGISTRY[name].fn(spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(args.plans, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(buf.getvalue())
            release_persisted()
        print(
            f"{name}: min={min(samples):.3f}s runs={[round(s, 3) for s in samples]}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
