"""The session memo (session.session_memo): every plan helper that
builds an artifact once per session goes through it, and a rewritten
input file rebuilds the artifact instead of serving the old data."""

from __future__ import annotations

import ast
import os
import shutil

PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "lakehouse_architecture_transaction_spark",
    "plans",
)


def test_memo_rebuilds_when_an_input_file_is_rewritten(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    from lakehouse_architecture_transaction_spark.plans.etl import clustered_orders_path

    lake = str(tmp_path / "sf")
    os.mkdir(lake)
    for name in os.listdir(sf_dir):
        shutil.copyfile(os.path.join(sf_dir, name), os.path.join(lake, name))

    first = clustered_orders_path(spark, lake)
    assert clustered_orders_path(spark, lake) == first  # same input: memo hit

    orders = os.path.join(lake, "orders.parquet")
    table = pq.read_table(orders)
    kept = table.num_rows // 2
    os.remove(orders)
    pq.write_table(table.slice(0, kept), orders)

    second = clustered_orders_path(spark, lake)
    assert second != first, "rewritten orders.parquet served the stale memo entry"
    assert spark.read.parquet(second).count() == kept


def test_plans_hand_roll_no_memo_or_scratch_dir():
    """Plan modules memoize through session.session_memo and stage
    through session.scratch_dir: a module-level ``*_MEMO`` name, or an
    import of tempfile or atexit (a hand-rolled mkdtemp + atexit
    cleanup), in plans/ fails."""
    found = []
    for name in sorted(os.listdir(PLANS)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(PLANS, name)) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for t in targets:
                if isinstance(t, ast.Name) and t.id.endswith("_MEMO"):
                    found.append(f"{name}:{node.lineno} module-level {t.id}")
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                mods = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                mods = [node.module]
            else:
                continue
            for mod in set(mods) & {"tempfile", "atexit"}:
                found.append(f"{name}:{node.lineno} imports {mod}")
    assert not found, found
