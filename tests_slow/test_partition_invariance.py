"""Partition-count invariance: the 100 TB determinism claim is
"results don't depend on parallelism", but the oracle gates only ever
run one session shape. This sweep runs a rotating registry sample at
spark.sql.shuffle.partitions = 16 vs 199 (coprime-ish, no common
factor with the data layout) asserting identical canonical output —
the cheapest trap for an accidentally order-dependent fold (double
accumulation order, non-deterministic tie, first()-style agg) — and
one subprocess smoke query at local[4] to vary executor-thread count
as well, not just shuffle fan-out.

The sample rotates with the round counter (number of CORRECTNESS_r*
files), so across rounds the whole registry cycles through without
paying the full 2× registry sweep every run.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys

import pytest

from lakehouse_architecture_transaction_spark.plans import REGISTRY

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SAMPLE_SIZE = 15


def _round_count() -> int:
    return len(glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")))


def _sample() -> list[str]:
    names = sorted(REGISTRY)
    start = (_round_count() * _SAMPLE_SIZE) % len(names)
    return [names[(start + i) % len(names)] for i in range(_SAMPLE_SIZE)]


def _canon(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


@pytest.mark.parametrize("name", _sample())
def test_shuffle_partition_invariance(spark, sf_dir, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        a = _canon(REGISTRY[name].fn(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "199")
        b = _canon(REGISTRY[name].fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name}: output depends on shuffle partition count"


_LOCAL4_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from lakehouse_architecture_transaction_spark.plans import REGISTRY
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "7").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
df = REGISTRY[{name!r}].fn(spark, {sf_dir!r})
rows = sorted(tuple(repr(v) for v in r) for r in df.collect())
print("ROWS_JSON:" + json.dumps(rows))
spark.stop()
"""

#: shuffle-heavy shape for the cross-parallelism smoke: global-quantile
#: buckets + per-(group,bucket) prefix sums + join-back — the plan most
#: exposed to accumulation-order mistakes.
_SMOKE_QUERY = "orders_pctrank_in_segment"


def test_executor_count_invariance_smoke(spark, sf_dir):
    import json

    expected = _canon(REGISTRY[_SMOKE_QUERY].fn(spark, sf_dir))
    script = _LOCAL4_SCRIPT.format(repo=_REPO, name=_SMOKE_QUERY, sf_dir=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=300,
        env=dict(os.environ),
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS_JSON:")]
    assert payload, out.stdout[-2000:]
    got = [tuple(r) for r in json.loads(payload[0][len("ROWS_JSON:"):])]
    assert got == expected, f"{_SMOKE_QUERY}: output depends on executor-thread count"


#: Queued (not-yet-registered) queries with real shuffles and NO
#: session memo (a memoized frame would make the second run trivially
#: identical): each call rebuilds its plan, so 16 vs 199 genuinely
#: re-shuffles every stage.
_QUEUED_SAMPLE = [
    ("tpch", "nation_flow_matrix"),
    ("window", "orders_backlog_daily"),
    ("etl", "catalog_inclusion_profile"),
    ("text", "docs_source_distinctive_terms"),
    ("tpch", "lineitem_shipdelay_trend"),
    ("behavior", "events_touch_attribution"),
    ("window", "customer_survival_curve"),
    # the rest of the r11 registrations (r11: all eight now registered;
    # the gdpr audit is excluded — its LakeTable is session-memoized,
    # so the second run reads the same staged table and the check
    # would be vacuous)
    ("text", "docs_langid_confusion"),
    ("dedup", "emb_pair_sim_histogram"),
    ("etl", "orders_benford_audit"),
    ("text", "docs_bpe_merges"),
    # the r14 batch (per-call localCheckpoints only — no module memo,
    # so the second run genuinely re-shuffles every stage)
    ("etl", "catalog_fd_profile"),
    ("etl", "catalog_column_stats"),
    ("sampling", "docs_dsir_select"),
    ("ann", "emb_matryoshka_recall"),
    ("text", "docs_quality_calibration"),
    # r13 bounded-state rewrite (grouped-top-k window + constant-5
    # collect): pins that the path result is independent of shuffle
    # width/partitioning
    ("behavior", "events_top_paths"),
]


@pytest.mark.parametrize("mod_name,fn_name", _QUEUED_SAMPLE)
def test_queued_shuffle_partition_invariance(spark, sf_dir, mod_name, fn_name):
    import importlib

    mod = importlib.import_module(
        f"lakehouse_architecture_transaction_spark.plans.{mod_name}"
    )
    fn = getattr(mod, fn_name)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "16")
        a = _canon(fn(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "199")
        b = _canon(fn(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{fn_name}: output depends on shuffle partition count"
