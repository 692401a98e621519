"""The measurement module (measure.py) is the one place that times a
query and the one reader of the Spark UI REST API: the bench and every
probe/audit tool go through it."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(REPO, "lakehouse_architecture_transaction_spark")

#: q13 broadcasts its filtered orders and aggregates through a shuffle,
#: so one run exercises every reader. Its SQL metrics are read first,
#: right after the session's first action: they are there only if the
#: UI status store has applied the execution's end (get_spark(ui=True)
#: plus SparkUI's listener-bus barrier).
_UI_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from lakehouse_architecture_transaction_spark.measure import SparkUI, timed_run
from lakehouse_architecture_transaction_spark.session import get_spark
from tools.broadcast_audit import parse_rows

spark = get_spark("measure-test", cpus=2, ui=True)
ui = SparkUI(spark)
ui.new_stages()
ui.new_sql_executions()
shuffle0 = ui.shuffle_write_bytes()
seconds = timed_run(spark, "q13_order_count_distribution", {sf_dir!r})
broadcast_rows = [
    parse_rows(m["value"])
    for ex in ui.new_sql_executions()
    for node in ex["nodes"]
    if "BroadcastExchange" in node["nodeName"]
    for m in node["metrics"]
    if m["name"] == "number of output rows"
]
stages = ui.new_stages()
print("MEASURE_JSON:" + json.dumps({{
    "seconds": seconds,
    "stages": len(stages),
    "stages_again": len(ui.new_stages()),
    "max_task_ms": max((ui.max_task_ms(s) for s in stages), default=0.0),
    "shuffle_grew": ui.shuffle_write_bytes() - shuffle0,
    "broadcast_rows": broadcast_rows,
    "sql_again": len(ui.new_sql_executions()),
}}))
spark.stop()
"""


def test_spark_ui_reads_one_timed_run(sf_dir):
    """A UI-on session: one timed_run of a shuffle-and-broadcast query
    shows up in every SparkUI reader, and each "new" reader returns a
    run's stages or executions once only."""
    script = _UI_SCRIPT.format(repo=REPO, sf_dir=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300, cwd=REPO
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = [ln for ln in out.stdout.splitlines() if ln.startswith("MEASURE_JSON:")]
    assert payload, out.stdout[-2000:]
    got = json.loads(payload[0][len("MEASURE_JSON:"):])
    assert got["seconds"] > 0
    assert got["stages"] > 0
    assert got["stages_again"] == 0
    assert got["max_task_ms"] > 0
    assert got["shuffle_grew"] > 0
    assert got["broadcast_rows"] and max(got["broadcast_rows"]) > 0
    assert got["sql_again"] == 0


def test_spark_ui_refuses_a_session_without_the_ui(spark):
    """The test session runs with the UI off: building a reader on it
    raises instead of reading nothing (a silent empty stage list made
    the parallelism audit report a false all-clear)."""
    from lakehouse_architecture_transaction_spark.measure import SparkUI

    with pytest.raises(RuntimeError, match="UI is off"):
        SparkUI(spark)


def _tree(path: str) -> ast.AST:
    with open(path) as f:
        return ast.parse(f.read(), filename=path)


def _imports_urllib(tree: ast.AST) -> bool:
    for node in ast.walk(tree):
        if isinstance(node, ast.Import) and any(a.name.split(".")[0] == "urllib" for a in node.names):
            return True
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[0] == "urllib":
            return True
    return False


def test_one_spark_ui_reader_and_one_timing_path():
    """bench.py and the tools time through measure.timed_run and read
    the Spark UI through measure.SparkUI: none of them imports urllib,
    reads ``uiWebUrl`` or calls ``force_full_result`` itself. In the
    package, measure.py is the only module that imports urllib."""
    found = []
    for path in [os.path.join(REPO, "bench.py")] + sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))):
        tree = _tree(path)
        rel = os.path.relpath(path, REPO)
        if _imports_urllib(tree):
            found.append(f"{rel}: imports urllib")
        for node in ast.walk(tree):
            if isinstance(node, ast.Attribute) and node.attr == "uiWebUrl":
                found.append(f"{rel}:{node.lineno}: reads uiWebUrl")
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "force_full_result":
                    found.append(f"{rel}:{node.lineno}: calls force_full_result")
    assert not found, found

    importers = [
        os.path.relpath(path, PACKAGE)
        for path in sorted(glob.glob(os.path.join(PACKAGE, "**", "*.py"), recursive=True))
        if _imports_urllib(_tree(path))
    ]
    assert importers == ["measure.py"]
