"""Per-layer metrics of a traced run.

``install`` wraps each layer's public functions and ``ProgressLog``
collects the progress of every streaming query; ``report`` folds the
recorded spans, the Spark jobs/stages/SQL executions attributed to
them, and the streaming progress into one flat dict of
``<layer>.<metric>`` values.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq
from pyspark.sql.streaming import StreamingQueryListener

from perfbench.trace import GROUP_PREFIX, Span, StageMetrics, Tracer, self_times

LAYERS = (
    "session",
    "catalog",
    "orchestration",
    "pipelines",
    "functions.validation",
    "operators.dedup",
    "operators.merge",
    "lakehouse.table",
    "plans",
    "measure",
    "streaming.pipeline",
)
COMMON = ("calls", "self_s", "jobs", "task_s", "shuffle_bytes", "spill_bytes")
SPECIFIC = {
    "session": ("start_s",),
    "catalog": ("load_s", "inference_jobs"),
    "orchestration": ("files_archived", "files_quarantined", "move_retries", "fs_s"),
    "pipelines": ("stage_s", "jobs_per_stage", "input_scans_per_stage"),
    "functions.validation": ("rows_in", "rows_rejected", "reject_frac"),
    "operators.dedup": ("rows_in", "rows_out"),
    "operators.merge": ("source_rows", "target_rows", "rows_rewritten_per_source_row"),
    "lakehouse.table": (
        "write_s",
        "read_s",
        "bytes_written",
        "files_written",
        "bytes_written_per_input_byte",
        "live_files",
        "commits",
    ),
    "plans": ("build_s", "build_jobs"),
    "measure": ("exec_s", "exec_jobs", "max_over_median_task"),
    "streaming.pipeline": ("batches", "rows_per_batch", "add_batch_s", "query_planning_s", "wal_commit_s", "state_rows"),
}
#: Counts a pass with one seed must repeat exactly.
REPEATED = (
    "pipelines.input_scans_per_stage",
    "pipelines.jobs_per_stage",
    "operators.merge.rows_rewritten_per_source_row",
    "lakehouse.table.files_written",
)
WRITES = ("create", "upsert", "append", "overwrite")
TRACE_METRICS = ("trace.overhead_frac", "trace.spans")


def metric_names() -> list[str]:
    return [f"{layer}.{m}" for layer in LAYERS for m in COMMON + SPECIFIC[layer]] + list(TRACE_METRICS)


def _footer_rows(files) -> int:
    return sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows for f in files)


def _listing(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def install(tracer: Tracer) -> None:
    """Wrap the public entry points of every traced layer."""
    from lakehouse_architecture_transaction_spark import catalog, measure, orchestration, pipelines
    from lakehouse_architecture_transaction_spark.functions import validation
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.operators import dedup, merge
    from lakehouse_architecture_transaction_spark.sources import append, csv, json
    from lakehouse_architecture_transaction_spark.streaming import pipeline

    def landing_results(span, args, results):
        span.attrs["archived"] = sum(r.status == "archived" for r in results)
        span.attrs["quarantined"] = sum(r.status == "quarantined" for r in results)
        span.attrs["retries"] = sum(r.attempts - 1 for r in results)

    def stage_input(span, args):
        span.attrs["rows_in"] = _footer_rows(args[1].inputFiles())

    def stage_result(span, args, result):
        span.attrs.update(valid=result[0].valid_rows, rejected=result[0].rejected_rows)

    def merge_target(span, args):
        span.attrs["target_rows"] = _footer_rows(args[0].inputFiles())

    def before_write(span, args):
        span.attrs["before"] = _listing(args[0].path)

    def after_write(span, args, result):
        before, after = span.attrs.pop("before"), _listing(args[0].path)
        new = [p for p, meta in after.items() if before.get(p) != meta]
        span.attrs.update(
            files=len(new), bytes=sum(after[p][0] for p in new), rows=_footer_rows(new)
        )

    tracer.wrap(orchestration, "process_landing", "orchestration", on_exit=landing_results)
    tracer.wrap(pipelines, "process_dataset", "pipelines", on_enter=stage_input, on_exit=stage_result)
    tracer.wrap(validation, "validate", "functions.validation")
    tracer.wrap(dedup, "dedup_exact", "operators.dedup")
    tracer.wrap(merge, "merge_upsert", "operators.merge", on_enter=merge_target)
    for attr in WRITES:
        tracer.wrap(LakeTable, attr, "lakehouse.table", on_enter=before_write, on_exit=after_write)
    tracer.wrap(LakeTable, "read", "lakehouse.table")
    for attr in ("load_table", "register_views"):
        tracer.wrap(catalog, attr, "catalog")
    tracer.wrap(csv, "read_csv_enforced", "catalog")
    tracer.wrap(json, "read_json_enforced", "catalog")
    tracer.wrap(append, "append_datasets", "catalog")
    tracer.wrap(measure, "force_full_result", "measure")
    for attr in ("read_event_stream", "hourly_stream_agg", "run_stream_to_memory", "stream_upsert_into"):
        tracer.wrap(pipeline, attr, "streaming.pipeline")


class ProgressLog(StreamingQueryListener):
    """Every streaming query's progress, tagged with the pass that
    started the query (``current``, set by the runner)."""

    def __init__(self) -> None:
        self.current = -1
        self.pass_of: dict[str, int] = {}  # run id -> pass
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # delivered synchronously by start()
        self.pass_of[str(event.runId)] = self.current

    def onQueryProgress(self, event) -> None:
        self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self) -> None:
        """Wait until the asynchronous progress events stop arriving."""
        seen = -1
        while seen != len(self.progress):
            seen = len(self.progress)
            time.sleep(0.5)

    def of_pass(self, k: int) -> tuple[set[str], list[dict]]:
        runs = {r for r, p in self.pass_of.items() if p == k}
        return runs, [p for p in self.progress if p["runId"] in runs]


class Attribution:
    """Jobs, stages and SQL executions of the traced ops, each
    attributed to the innermost span that launched it. Streaming
    micro-batch jobs run under their query's run id as job group; they
    are kept apart, per run id."""

    def __init__(self, spans: list[Span], stage_metrics: StageMetrics) -> None:
        self.by_id = {s.id: s for s in spans}
        self.jobs: dict[int, list[dict]] = defaultdict(list)  # span id -> jobs
        self.run_jobs: dict[str, list[dict]] = defaultdict(list)  # streaming run id -> jobs
        self.span_of_job: dict[int, int] = {}
        for job in stage_metrics.jobs():
            group = job.get("jobGroup") or ""
            if not group.startswith(GROUP_PREFIX):
                self.run_jobs[group].append(job)
                continue
            sid = int(group[len(GROUP_PREFIX):])
            if sid in self.by_id:
                self.jobs[sid].append(job)
                self.span_of_job[job["jobId"]] = sid
        self.stages = stage_metrics.stages()
        self.metrics = stage_metrics

    def stages_of(self, jobs) -> list[dict]:
        ids = {st for job in jobs for st in job["stageIds"]}
        return [self.stages[i] for i in sorted(ids) if i in self.stages]

    def ancestor(self, span: Span, layer: str) -> Span | None:
        while span.parent is not None:
            span = self.by_id[span.parent]
            if span.layer == layer:
                return span
        return None

    def input_scans(self, landing_marker: str) -> dict[int, int]:
        """Per pipelines span: scans of a landing file in the plans of
        the SQL executions its jobs ran."""
        out: dict[int, int] = defaultdict(int)
        for ex in self.metrics.sql():
            job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            sid = next((self.span_of_job[j] for j in job_ids if j in self.span_of_job), None)
            if sid is None:
                continue
            span = self.by_id[sid]
            stage = span if span.layer == "pipelines" else self.ancestor(span, "pipelines")
            if stage is None:
                continue
            out[stage.id] += sum(
                1 for line in ex.get("planDescription", "").splitlines()
                if line.startswith("Location:") and landing_marker in line
            )
        return out


def report(
    spans: list[Span],
    attribution: Attribution,
    session_starts: list[float],
    input_bytes: int,
    live_files: int,
    runs: set[str],
    progress: list[dict],
    landing_marker: str,
) -> dict[str, float]:
    """All per-layer metrics of one pass: its ``spans``, and the run ids
    and ``progress`` of the streaming queries it started."""
    selfs = self_times(spans)
    by_layer: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        by_layer[s.layer].append(s)
    out: dict[str, float] = {}
    for layer in LAYERS:
        mine = by_layer.get(layer, [])
        jobs = [job for s in mine for job in attribution.jobs.get(s.id, ())]
        if layer == "streaming.pipeline":
            jobs += [job for run in runs for job in attribution.run_jobs.get(run, ())]
        stages = attribution.stages_of(jobs)
        out[f"{layer}.calls"] = len(mine)
        out[f"{layer}.self_s"] = sum(selfs[s.id] for s in mine)
        out[f"{layer}.jobs"] = len(jobs)
        out[f"{layer}.task_s"] = sum(st.get("executorRunTime", 0) for st in stages) / 1000
        out[f"{layer}.shuffle_bytes"] = sum(st.get("shuffleReadBytes", 0) + st.get("shuffleWriteBytes", 0) for st in stages)
        out[f"{layer}.spill_bytes"] = sum(st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0) for st in stages)

    out["session.calls"] = len(session_starts)
    out["session.self_s"] = sum(session_starts)
    out["session.start_s"] = statistics.median(session_starts)

    out["catalog.load_s"] = sum(s.duration for s in by_layer["catalog"])
    out["catalog.inference_jobs"] = out["catalog.jobs"]

    landing = [s for s in by_layer["orchestration"] if s.name.endswith("process_landing")]
    stages = by_layer["pipelines"]
    out["orchestration.files_archived"] = sum(s.attrs.get("archived", 0) for s in landing)
    out["orchestration.files_quarantined"] = sum(s.attrs.get("quarantined", 0) for s in landing)
    out["orchestration.move_retries"] = sum(s.attrs.get("retries", 0) for s in landing)
    out["orchestration.fs_s"] = sum(s.duration for s in landing) - sum(
        s.duration for s in stages if attribution.ancestor(s, "orchestration") is not None
    )

    stage_ids = {s.id for s in stages}
    subtree_jobs = 0
    for s in spans:
        stage = s if s.layer == "pipelines" else attribution.ancestor(s, "pipelines")
        if stage is not None:
            subtree_jobs += len(attribution.jobs.get(s.id, ()))
    scans = attribution.input_scans(landing_marker)
    n = max(len(stages), 1)
    out["pipelines.stage_s"] = sum(s.duration for s in stages) / n
    out["pipelines.jobs_per_stage"] = subtree_jobs / n
    out["pipelines.input_scans_per_stage"] = sum(v for k, v in scans.items() if k in stage_ids) / n

    rows_in = sum(s.attrs.get("rows_in", 0) for s in stages)
    rejected = sum(s.attrs.get("rejected", 0) for s in stages)
    out["functions.validation.rows_in"] = rows_in
    out["functions.validation.rows_rejected"] = rejected
    out["functions.validation.reject_frac"] = rejected / rows_in if rows_in else 0.0
    out["operators.dedup.rows_in"] = rows_in - rejected
    out["operators.dedup.rows_out"] = sum(s.attrs.get("valid", 0) for s in stages)

    table_spans = by_layer["lakehouse.table"]
    writes = [
        s for s in table_spans
        if s.name.rsplit(".", 1)[-1] in WRITES and (
            s.parent is None or attribution.by_id[s.parent].layer != "lakehouse.table"
        )
    ]
    merges = by_layer["operators.merge"]
    source = 0
    for m in merges:
        stage = attribution.ancestor(m, "pipelines")
        source += stage.attrs.get("valid", 0) if stage is not None else 0
    merge_writes = {w.id for w in (attribution.ancestor(m, "lakehouse.table") for m in merges) if w is not None}
    rewritten = sum(s.attrs.get("rows", 0) for s in writes if s.id in merge_writes)
    out["operators.merge.source_rows"] = source
    out["operators.merge.target_rows"] = sum(m.attrs.get("target_rows", 0) for m in merges)
    out["operators.merge.rows_rewritten_per_source_row"] = rewritten / source if source else 0.0

    out["lakehouse.table.write_s"] = sum(s.duration for s in writes)
    out["lakehouse.table.read_s"] = sum(s.duration for s in table_spans if s.name.endswith(".read"))
    out["lakehouse.table.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes)
    out["lakehouse.table.files_written"] = sum(s.attrs.get("files", 0) for s in writes)
    out["lakehouse.table.bytes_written_per_input_byte"] = out["lakehouse.table.bytes_written"] / input_bytes
    out["lakehouse.table.live_files"] = live_files
    out["lakehouse.table.commits"] = len(writes)

    out["plans.build_s"] = sum(s.duration for s in by_layer["plans"])
    out["plans.build_jobs"] = out["plans.jobs"]

    measured = by_layer["measure"]
    ratios = []
    for st in attribution.stages_of(job for s in measured for job in attribution.jobs.get(s.id, ())):
        if st.get("numTasks", 0) >= 2 and st.get("status") == "COMPLETE":
            med, top = attribution.metrics.task_quantiles(st)
            if med > 0:
                ratios.append(top / med)
    out["measure.exec_s"] = sum(s.duration for s in measured)
    out["measure.exec_jobs"] = out["measure.jobs"]
    out["measure.max_over_median_task"] = max(ratios, default=0.0)

    batches = [p for p in progress if p["numInputRows"] > 0]
    out["streaming.pipeline.batches"] = len(batches)
    out["streaming.pipeline.rows_per_batch"] = (
        sum(p["numInputRows"] for p in batches) / len(batches) if batches else 0.0
    )
    out["streaming.pipeline.add_batch_s"] = sum(p["durationMs"].get("addBatch", 0) for p in batches) / 1000
    out["streaming.pipeline.query_planning_s"] = sum(p["durationMs"].get("queryPlanning", 0) for p in batches) / 1000
    out["streaming.pipeline.wal_commit_s"] = sum(
        p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in batches
    ) / 1000
    last = {p["runId"]: p for p in progress}  # each query's final progress
    out["streaming.pipeline.state_rows"] = sum(
        op.get("numRowsTotal", 0) for p in last.values() for op in p.get("stateOperators", [])
    )
    return out
