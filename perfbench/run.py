#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_cdc --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run sets up the workload several
times (session start, input generation, warm-up) and reports the
median set-up time, then runs whole passes of the workload until
``--seconds`` of timed work have passed, checking every op's output,
and reports the CPU time the program spent per op and per pass.
``--trace 1`` instead runs two traced passes between two untraced ones
and reports per-layer metrics (see perfbench/README.md).

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the details (seed, nproc, sample counts, the per-workload metric
names, the first errors). Everything the run writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps of traced runs) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "lakehouse_architecture_transaction_spark"
SETUPS = 3  # set-ups per run; setup_s is their median
DRIVER_MEMORY = "2g"


def parse_args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def isolate(work: str, trace: bool) -> int:
    """Keep every file Spark, the JVM and Python write under ``work``,
    pin the time zone, and size the session. Returns nproc."""
    nproc = len(os.sched_getaffinity(0))
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    confs = {"spark.local.dir": local, "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        confs.update({"spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000",
                      "spark.sql.ui.retainedExecutions": "1000000"})
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ.update(
        TZ="UTC",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        PYSPARK_SUBMIT_ARGS=" ".join(shlex.quote(a) for a in args) + " pyspark-shell",
    )
    time.tzset()
    tempfile.tempdir = None
    return nproc


def set_up(args, work: str):
    """``SETUPS`` full set-ups; the last one's session and workload are
    kept. Returns (spark, workload, set-up seconds, session start seconds)."""
    from lakehouse_architecture_transaction_spark.session import get_spark
    from perfbench.workloads import WORKLOADS

    spark, workload, times, starts = None, None, [], []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        root = os.path.join(work, f"setup{i}")
        shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", ui=bool(args.trace))
        starts.append(time.perf_counter() - t0)
        workload = WORKLOADS[args.workload](spark, root, args.seed)
        workload.warm_up()
        times.append(time.perf_counter() - t0)
    return spark, workload, times, starts


def timed_passes(workload, seconds: float) -> list[list]:
    """Whole passes until ``seconds`` of timed work; returns each pass's ops."""
    passes: list[list] = []
    while sum(op.seconds for p in passes for op in p) < seconds or not passes:
        workload.reset()
        passes.append(workload.run_pass())
    workload.finish([op for p in passes for op in p])
    return passes


def workload_metrics(workload, ops, passes) -> dict:
    """Wall-time metrics under the per-workload names (detail line)."""
    from perfbench.workloads import tail

    times = [op.seconds for op in ops]
    p50, (t, pct) = statistics.median(times), tail(times)
    pass_s = statistics.median(sum(op.seconds for op in p) for p in passes)
    if workload.name == "ingest_cdc":
        return {
            "cycle_s_p50": p50,
            "cycle_s_tail": t,
            "tail_percentile": pct,
            "ingest_rows_per_s": sum(op.rows for op in ops) / sum(times),
            "lake_bytes_per_input_byte": workload.lake_bytes() / workload.input_bytes,
        }
    return {"query_s_p50": p50, "query_s_tail": t, "tail_percentile": pct, "query_pass_s": pass_s}


def run(args, work: str) -> tuple[dict, dict]:
    spark, workload, setups, starts = set_up(args, work)
    try:
        if args.trace:
            return traced(args, spark, workload, setups, starts)
        passes = timed_passes(workload, args.seconds)
    finally:
        spark.stop()
    ops = [op for p in passes for op in p]
    failed = [op for op in ops if op.errors]
    metrics = {
        "setup_s": (statistics.median(setups), "s"),
        "op_cpu_s_p50": (statistics.median(op.cpu_s for op in ops), "s"),
        "pass_cpu_s": (statistics.median(sum(op.cpu_s for op in p) for p in passes), "s"),
    }
    detail = {
        "setups_s": setups,
        "ops": len(ops),
        "passes": len(passes),
        "failed_frac": len(failed) / len(ops),
        "wall": workload_metrics(workload, ops, passes),
        "errors": [f"{op.name}: {e}" for op in failed[:3] for e in op.errors[:2]],
    }
    return result(not failed, len(ops), len(failed), metrics), detail


def traced(args, spark, workload, setups, starts) -> tuple[dict, dict]:
    """Two traced passes between two untraced ones (the overhead
    baseline). Per-layer metrics describe the second traced pass; the
    counts in ``layers.REPEATED`` must agree between the two."""
    from perfbench import layers
    from perfbench.trace import StageMetrics, Tracer, self_times

    tracer = Tracer(spark)
    layers.install(tracer)
    streams = layers.ProgressLog()
    spark.streams.addListener(streams)
    next_op = iter(range(1_000_000))
    untraced = []
    workload.reset()
    untraced.append(sum(op.seconds for op in workload.run_pass()))
    workload.scope = lambda name: tracer.op(next(next_op), name)
    workload.span = tracer.span
    ops, passes, pass_spans = [], [], []
    for k in range(2):
        workload.reset()
        streams.current = k
        first = len(tracer.spans)
        p_ops = workload.run_pass()
        ops += p_ops
        passes.append(sum(op.seconds for op in p_ops))
        pass_spans.append(tracer.spans[first:])
    streams.current = -1
    del workload.scope, workload.span
    workload.reset()
    untraced.append(sum(op.seconds for op in workload.run_pass()))
    workload.finish(ops)
    tracer.unwrap_all()
    streams.settle()
    spark.streams.removeListener(streams)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{args.workload}-{args.seed}.jsonl"))

    attribution = layers.Attribution(tracer.spans, StageMetrics(spark))
    reports = [
        layers.report(spans, attribution, starts, workload.input_bytes, workload.live_files(), *streams.of_pass(k),
                      "/landing/")
        for k, spans in enumerate(pass_spans)
    ]
    errors = [f"{op.name}: {e}" for op in ops if op.errors for e in op.errors[:2]][:3]
    for name in layers.REPEATED:
        if reports[0][name] != reports[1][name]:
            errors.append(f"{name} differs between two passes of one seed: {reports[0][name]} vs {reports[1][name]}")
    if workload.name == "ingest_cdc":
        selfs = self_times(tracer.spans)
        for root in (s for s in tracer.spans if s.layer == "op"):
            covered = sum(selfs[s.id] for s in tracer.spans if s.op == root.op)
            if abs(covered - root.duration) > 1e-6:
                errors.append(f"{root.name}: self times sum to {covered:.6f} s, cycle took {root.duration:.6f} s")
    final = reports[1]
    final["trace.overhead_frac"] = statistics.mean(passes) / statistics.mean(untraced) - 1
    final["trace.spans"] = len(pass_spans[1])
    metrics = {name: (final[name], _unit(name)) for name in layers.metric_names()}
    failed = [op for op in ops if op.errors]
    detail = {
        "untraced_passes_s": untraced,
        "traced_passes_s": passes,
        "repeated": {name: [r[name] for r in reports] for name in layers.REPEATED},
        "errors": errors,
    }
    if workload.name == "lake_queries":
        detail["per_query"] = _per_query_split(pass_spans[1])
    ok = not failed and not errors
    return result(ok, len(ops), len(failed), metrics), detail


def _per_query_split(spans) -> dict:
    """Per query of a traced lake_queries pass: plan build vs execution."""
    out = {}
    by_op = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    for group in by_op.values():
        root = next(s for s in group if s.layer == "op")
        out[root.name] = {
            "plans.build_s": sum(s.duration for s in group if s.layer == "plans"),
            "measure.exec_s": sum(s.duration for s in group if s.layer == "measure"),
        }
    return out


def _unit(name: str) -> str:
    metric = name.rsplit(".", 1)[-1]
    if metric.endswith("_s"):
        return "s"
    if metric == "rows_per_batch":
        return "rows"
    if "_per_" in metric or metric.endswith("_frac") or metric == "max_over_median_task":
        return "ratio"
    if "bytes" in metric:
        return "bytes"
    if "rows" in metric:
        return "rows"
    return "count"


def stop_jvm() -> None:
    """Shut down the session's JVM and wait until it has exited (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def result(correct: bool, attempted: int, failed: int, metrics: dict) -> dict:
    return {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    args = parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"no {PACKAGE}/ next to perfbench/: run from a checkout of the project", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    try:
        nproc = isolate(work, bool(args.trace))
        res, detail = run(args, work)
    finally:
        if "pyspark" in sys.modules:
            stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    detail.update(workload=args.workload, seed=args.seed, nproc=nproc, trace=args.trace)
    print(json.dumps(detail, default=float))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.path[0] = ROOT  # import perfbench as a package; its modules must not shadow the stdlib
    sys.exit(main())
