"""The benchmark's workloads. Each drives the program's user-facing
entry points from outside and checks every op's output.

A workload is set up once (inputs generated, lake preloaded), then
runs passes: ``reset`` (untimed) restores the start state, and
``run_pass`` times each op of one pass over a fixed op list and checks
its output untimed. A pass with the same seed does the same work, so
counts from two passes must match exactly.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np

from perfbench import check, gen

#: Sizes. ingest_cdc keeps the ratios of the sizing probe at sf0.1
#: (150k orders, 600k lineitem): a cycle lands ~1.5% of the orders and
#: their items, so each merge rewrites ~100 target rows per source row.
#: Its lake is a third of sf0.1; perfbench/README.md records the cycle
#: times measured at both sizes.
SIZES = {
    "ingest_cdc": dict(orders=50_000, cycles=3),
    "lake_queries": dict(orders=10_000, events=12_000, docs=600, vecs=400),
}

#: The lake_queries list: two per family, and one streaming replay
#: (read_event_stream -> hourly_stream_agg into the memory sink).
QUERIES = {
    "tpch": ["q1_pricing_summary", "q12_late_lineitems"],
    "window": ["top3_orders_per_customer", "customer_running_spend"],
    "events": ["events_hourly", "events_funnel"],
    "behavior": ["events_user_transitions", "events_top_paths"],
    "text_dedup_ann": ["docs_exact_dedup", "emb_knn_bruteforce"],
    "lakehouse": ["orders_snapshot_timetravel_stats", "orders_pruned_scan_sql"],
    "streaming": ["events_stream_hourly"],
}
#: Queries that build a session memo (a staged table or landing zone)
#: on first call; set-up calls them once so passes time the query, not
#: the memo build.
MEMO_QUERIES = ["orders_snapshot_timetravel_stats", "orders_pruned_scan_sql", "events_stream_hourly"]


@dataclass
class Op:
    """One timed op: a landing cycle or a query, with its wall time and
    the CPU time the program spent on it."""

    name: str
    seconds: float
    cpu_s: float
    rows: int = 0
    errors: list[str] = field(default_factory=list)


def cpu_seconds() -> float:
    """CPU time used so far by this process and by the session's JVM
    with all its descendants (Python workers), read from /proc. Unlike
    wall time it does not grow while a shared host keeps the program's
    threads waiting for a core."""
    from pyspark import SparkContext

    children: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while listing
            continue
        children.setdefault(int(fields[1]), []).append(int(entry))
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])  # utime, stime, cutime, cstime
    total, todo = 0, [SparkContext._gateway.proc.pid]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK") + time.process_time()


@contextmanager
def timed():
    """Measure a block: yields a dict that gets ``seconds`` and ``cpu_s``."""
    out: dict[str, float] = {}
    c0, t0 = cpu_seconds(), time.perf_counter()
    try:
        yield out
    finally:
        out["seconds"], out["cpu_s"] = time.perf_counter() - t0, cpu_seconds() - c0


def dir_stats(root: str) -> tuple[int, int]:
    """(parquet files, bytes) under ``root``, hidden and ``_`` entries skipped."""
    files = size = 0
    for dirpath, dirnames, names in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        for n in names:
            if n.endswith(".parquet") and not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Workload:
    """Common shape: ``run_pass`` returns the pass's ops. The traced run
    replaces ``scope`` (wraps each op's timed section; opens a tracer op)
    and ``span`` (a span the workload opens itself, around a registry
    query's plan build)."""

    name = ""
    input_bytes = 0

    @staticmethod
    def scope(name: str):
        return nullcontext()

    @staticmethod
    def span(name: str, layer: str):
        return nullcontext()

    def reset(self) -> None:
        """Restore the state a pass starts from (untimed)."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> list[Op]:
        raise NotImplementedError

    def finish(self, ops: list[Op]) -> None:
        """Checks made once per run, after the timed passes."""

    def live_files(self) -> int:
        raise NotImplementedError


class IngestCdc(Workload):
    """CDC cycles through ``orchestration.process_landing`` on a
    preloaded curated lake."""

    name = "ingest_cdc"

    def __init__(self, spark, root: str, seed: int) -> None:
        from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

        self.spark, self.root = spark, root
        size = SIZES[self.name]
        base = gen.clean_tables(seed, size["orders"])
        self.drops = gen.cdc_drops(seed, base, size["cycles"])
        self.pristine = os.path.join(root, "pristine")
        for ds, table in base.items():
            path = os.path.join(root, "base", f"{ds}.parquet")
            gen.write_table(table, path)
            keys = list(gen.KEYS[ds])
            LakeTable(spark, os.path.join(self.pristine, "curated", ds), keys=keys).create(spark.read.parquet(path))
        # each cycle's drop is written once and copied into the landing zone per pass
        self.staged = [gen.land(d, os.path.join(root, "drops", f"c{i:04d}")) for i, d in enumerate(self.drops)]
        self.zones = {z: os.path.join(root, z) for z in ("landing", "archive", "error", "lake")}
        self.input_bytes = sum(b for _, b in self.staged)

    def reset(self) -> None:
        for z in ("landing", "archive", "error"):
            _fresh(self.zones[z])
        shutil.rmtree(self.zones["lake"], ignore_errors=True)
        shutil.copytree(self.pristine, self.zones["lake"])

    def warm_up(self) -> None:
        """The first cycle only: enough to compile the cycle's code paths."""
        self.reset()
        self.run_pass(cycles=1)

    def run_pass(self, cycles: int | None = None) -> list[Op]:
        from lakehouse_architecture_transaction_spark import orchestration

        z = self.zones
        ops = []
        for i, drop in enumerate(self.drops[:cycles]):
            src = os.path.join(self.root, "drops", f"c{i:04d}")
            for f in sorted(os.listdir(src)):
                shutil.copy(os.path.join(src, f), z["landing"])
            results, errors = [], []
            with self.scope(f"cycle{i + 1}"), timed() as t:
                try:
                    results = orchestration.process_landing(self.spark, z["landing"], z["archive"], z["error"], z["lake"])
                except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
                    errors.append(f"raised {exc!r}")
            errors += check.compare_files(drop.expected, results, z["archive"], z["error"], z["landing"])
            errors += check.compare_lake(drop.expected, check.lake_summary(z["lake"]))
            ops.append(Op(f"cycle{i + 1}", t["seconds"], t["cpu_s"], self.staged[i][0], errors))
        return ops

    def lake_bytes(self) -> int:
        return dir_stats(self.zones["lake"])[1]

    def live_files(self) -> int:
        return dir_stats(self.zones["lake"])[0]


class LakeQueries(Workload):
    """One pass over a fixed list of registry queries, each built and
    forced with ``measure.force_full_result``; the seed shuffles the
    order."""

    name = "lake_queries"

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark, self.seed = spark, seed
        self.sf_dir = os.path.join(root, "lake")
        gen.write_lake(gen.lake_tables(seed, **SIZES[self.name]), self.sf_dir)
        self.names = [q for family in QUERIES.values() for q in family]
        self.expected = gen.oracle_digests(self.sf_dir, self.names)
        self.input_bytes = dir_stats(self.sf_dir)[1]
        self.passes = 0
        self.frames: dict = {}  # each query's first DataFrame forced without error, for the check

    def warm_up(self) -> None:
        """The memo-building queries, once each."""
        from lakehouse_architecture_transaction_spark import measure
        from lakehouse_architecture_transaction_spark.plans import REGISTRY

        for name in MEMO_QUERIES:
            measure.force_full_result(REGISTRY[name].fn(self.spark, self.sf_dir))

    def run_pass(self) -> list[Op]:
        from lakehouse_architecture_transaction_spark import measure
        from lakehouse_architecture_transaction_spark.plans import REGISTRY

        order = gen.seeded_rng(self.seed, "query-order", self.passes).permutation(len(self.names))
        self.passes += 1
        ops = []
        for i in order:
            name = self.names[i]
            errors = []
            with self.scope(name), timed() as t:
                try:
                    with self.span(name, "plans"):
                        df = REGISTRY[name].fn(self.spark, self.sf_dir)
                    measure.force_full_result(df)
                    self.frames.setdefault(name, df)
                except Exception as exc:  # noqa: BLE001 - an op that raises is a failed op
                    errors.append(f"raised {exc!r}")
            ops.append(Op(name, t["seconds"], t["cpu_s"], errors=errors))
        return ops

    def finish(self, ops: list[Op]) -> None:
        """Compare each query's result (its first DataFrame that was
        forced without error, collected) with its oracle once, and mark
        every timed op of a wrong query failed."""
        wrong = {name: check.compare_query(name, self.expected[name], df) for name, df in self.frames.items()}
        for op in ops:
            op.errors = op.errors or wrong.get(op.name, ["no result to check"])

    def live_files(self) -> int:
        return dir_stats(self.sf_dir)[0]


WORKLOADS = {w.name: w for w in (IngestCdc, LakeQueries)}


def tail(values: list[float]) -> tuple[float, int]:
    """The highest of p50/p75/p90/p95/p99 with at least 10 samples
    beyond it, and that percentile; the maximum (percentile 100) when
    fewer than 20 samples leave no such percentile."""
    n = len(values)
    for p in (99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            return float(np.percentile(values, p)), p
    return float(max(values)), 100
