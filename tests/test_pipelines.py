"""End-to-end test of the three-dataset pipeline driver
(pipelines.py), mirroring the reference's integration test strategy
(reference tests/test_glue_etl.py: process each dataset, check
valid/rejected splits and RI enforcement)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark import StorageLevel

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.pipelines import run_reference_pipeline, summary_df


def test_reference_pipeline_end_to_end(spark, sf_dir, tmp_path):
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    # Dirty the dims so every stage has rejections: null names, and
    # drop some orders so order_items RI has violations to catch.
    part_dirty = part.withColumn(
        "p_name", F.when(F.col("p_partkey") % 23 == 0, F.lit(None)).otherwise(F.col("p_name"))
    )
    orders = load_table(spark, sf_dir, "orders")
    orders_dirty = orders.withColumn(
        "o_orderdate", F.when(F.col("o_orderkey") % 43 == 0, F.lit(None)).otherwise(F.col("o_orderdate"))
    )
    items = load_table(spark, sf_dir, "lineitem")

    results = run_reference_pipeline(
        spark, part_dirty, orders_dirty, items, lake_root=str(tmp_path / "lake")
    )
    by_name = {r.name: r for r in results}

    # Every stage ran and committed exactly its valid rows.
    assert set(by_name) == {"products", "orders", "order_items"}
    for r in results:
        assert r.table_rows == r.valid_rows
        assert r.valid_rows > 0

    # Rejections happened where we injected problems.
    assert by_name["products"].rejected_rows > 0
    assert by_name["orders"].rejected_rows > 0
    # order_items loses rows via RI: its FK targets exclude the
    # rejected orders, so at least those lineitems must bounce.
    assert by_name["order_items"].rejected_rows > 0

    # The rejected zone carries the reference's metadata columns.
    rejected = spark.read.parquet(str(tmp_path / "lake" / "rejected" / "order_items"))
    assert {"validation_errors", "rejection_time", "source"} <= set(rejected.columns)
    errs = {r["validation_errors"] for r in rejected.select("validation_errors").distinct().collect()}
    assert "Invalid order reference" in errs

    # Idempotent re-run: merging the same valid rows changes nothing.
    results2 = run_reference_pipeline(
        spark, part_dirty, orders_dirty, items, lake_root=str(tmp_path / "lake")
    )
    assert {r.name: r.table_rows for r in results2} == {r.name: r.table_rows for r in results}

    sdf = summary_df(spark, results)
    assert sdf.count() == 3


def test_landing_zone_watcher_e2e(spark, sf_dir, tmp_path):
    # Drop files → pipeline runs in dependency order → sources archived;
    # a corrupt drop is quarantined without killing the cycle; a second
    # cycle is a no-op (landing zone drained — no double processing).
    import os

    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    landing = tmp_path / "landing"
    archive = tmp_path / "archive"
    errors = tmp_path / "errors"
    lake = tmp_path / "lake"
    landing.mkdir()

    part = load_table(spark, sf_dir, "part").limit(100)
    orders = load_table(spark, sf_dir, "orders").limit(200)
    li = load_table(spark, sf_dir, "lineitem").limit(300)
    part.write.parquet(str(landing / "products_batch1.parquet"))
    orders.write.parquet(str(landing / "orders_batch1.parquet"))
    li.write.parquet(str(landing / "order_items_batch1.parquet"))
    # a malformed drop: recognized dataset name, unreadable content
    (landing / "orders_corrupt.parquet").write_text("not parquet at all")

    results = process_landing(spark, str(landing), str(archive), str(errors), str(lake))
    by_file = {os.path.basename(r.file): r.status for r in results}
    assert by_file["products_batch1.parquet"] == "archived"
    assert by_file["orders_batch1.parquet"] == "archived"
    assert by_file["order_items_batch1.parquet"] == "archived"
    assert by_file["orders_corrupt.parquet"] == "quarantined"
    assert sorted(os.listdir(landing)) == []  # drained
    assert (errors / "orders_corrupt.parquet").exists()

    curated = LakeTable(spark, str(lake / "curated" / "order_items"), keys=["l_orderkey", "l_linenumber"])
    assert curated.exists() and curated.read().count() > 0

    # second cycle: nothing to do
    assert process_landing(spark, str(landing), str(archive), str(errors), str(lake)) == []


def test_landing_zone_gates_items_on_missing_dims(spark, sf_dir, tmp_path):
    # order_items dropped BEFORE any dims are curated must quarantine
    # (Step Function sequencing: FK targets don't exist yet).
    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    landing = tmp_path / "landing2"
    landing.mkdir()
    li = load_table(spark, sf_dir, "lineitem").limit(50)
    li.write.parquet(str(landing / "order_items_early.parquet"))
    results = process_landing(
        spark, str(landing), str(tmp_path / "a2"), str(tmp_path / "e2"), str(tmp_path / "lake2")
    )
    assert len(results) == 1 and results[0].status == "quarantined"
    assert "requires curated" in results[0].detail


def test_landing_archive_retries_transient_failures(spark, sf_dir, tmp_path, monkeypatch):
    # The reference's "Archive Files" Retry block: transient errors
    # back off and retry (3 attempts); success on a later attempt still
    # archives, and the attempt count is reported.
    import shutil as _shutil

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    load_table(spark, sf_dir, "part").limit(50).write.parquet(str(landing / "products_drop.parquet"))

    real_move = _shutil.move
    calls = {"n": 0}

    def flaky_move(src, dst):
        calls["n"] += 1
        if calls["n"] <= 2:
            raise OSError("transient storage hiccup")
        return real_move(src, dst)

    monkeypatch.setattr(orch.shutil, "move", flaky_move)
    results = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results] == ["archived"]
    assert results[0].attempts == 3
    assert list(archive.iterdir())  # file landed in the archive

def test_landing_archive_failure_never_requarantines_ingested_data(spark, sf_dir, tmp_path, monkeypatch):
    # Post-ingest archive failure (ALL retries exhausted) must NOT route
    # the file to quarantine — the data is already committed, and a
    # re-dropped quarantined file would re-ingest (duplicates for the
    # append-mode rejected zone). Instead: status ingested_archive_failed,
    # file stays in landing with an .ingested sidecar, and the NEXT cycle
    # retries the move only — table row count must not change.
    import shutil as _shutil

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    load_table(spark, sf_dir, "part").limit(50).write.parquet(str(landing / "products_d1.parquet"))

    real_move = _shutil.move

    def always_fail(src, dst):
        raise OSError("storage down")

    monkeypatch.setattr(orch.shutil, "move", always_fail)
    results = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results] == ["ingested_archive_failed"]
    assert (landing / "products_d1.parquet").exists()  # NOT quarantined
    assert (landing / "products_d1.parquet.ingested").exists()
    assert not list(errors.iterdir()) if errors.exists() else True
    curated = LakeTable(spark, str(lake / "curated" / "products"), keys=["p_partkey"])
    n_after_ingest = curated.read().count()
    assert n_after_ingest > 0

    # next cycle, storage recovered: move-only retry — no re-ingest
    monkeypatch.setattr(orch.shutil, "move", real_move)
    results2 = orch.process_landing(
        spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
    )
    assert [r.status for r in results2] == ["archived"]
    assert (archive / "products_d1.parquet").exists()
    assert not (landing / "products_d1.parquet.ingested").exists()
    assert curated.read().count() == n_after_ingest

def test_stale_ingested_sidecar_never_suppresses_new_drop(spark, sf_dir, tmp_path):
    # A sidecar that does not match the data file now in the landing
    # zone (crash leftovers, then a NEW same-named drop) must not
    # suppress ingestion; an orphan sidecar with NO data file is swept.
    import os

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    # orphan: sidecar without its data file -> swept, nothing processed
    (landing / "products_ghost.parquet.ingested").write_text("123:456")
    assert orch.process_landing(spark, str(landing), str(archive), str(errors), str(lake)) == []
    assert not (landing / "products_ghost.parquet.ingested").exists()

    # stale sidecar + NEW same-named file -> ingested normally
    load_table(spark, sf_dir, "part").limit(40).write.parquet(str(landing / "products_x.parquet"))
    (landing / "products_x.parquet.ingested").write_text("1:1")  # wrong identity
    results = orch.process_landing(spark, str(landing), str(archive), str(errors), str(lake))
    assert [r.status for r in results] == ["archived"]
    curated = LakeTable(spark, str(lake / "curated" / "products"), keys=["p_partkey"])
    assert curated.read().count() > 0  # the new file WAS ingested
    assert not os.path.exists(str(landing / "products_x.parquet.ingested"))


def test_redropped_names_never_nest_or_overwrite(spark, tmp_path):
    # The same good name dropped in three cycles and the same corrupt
    # name in two: each drop lands beside the earlier ones in its zone
    # (first under its own name, then suffixed), never inside or over them.
    import os

    from lakehouse_architecture_transaction_spark import orchestration as orch
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    landing, archive, errors, lake = (
        tmp_path / "landing", tmp_path / "archive", tmp_path / "errors", tmp_path / "lake"
    )
    landing.mkdir()
    for cycle in range(3):
        batch = [(cycle * 10 + i, f"part{cycle}-{i}") for i in range(4)]
        spark.createDataFrame(batch, "p_partkey long, p_name string").write.parquet(
            str(landing / "products_daily.parquet")
        )
        if cycle < 2:
            (landing / "orders_bad.parquet").write_text(f"not parquet, cycle {cycle}")
        results = orch.process_landing(
            spark, str(landing), str(archive), str(errors), str(lake), retry_interval_s=0.0
        )
        got = sorted((os.path.basename(r.file), r.status) for r in results)
        want = [("products_daily.parquet", "archived")]
        if cycle < 2:
            want.insert(0, ("orders_bad.parquet", "quarantined"))
        assert got == want
        assert os.listdir(landing) == []

    archived = ["products_daily.1.parquet", "products_daily.2.parquet", "products_daily.parquet"]
    assert sorted(os.listdir(archive)) == archived
    for name in archived:
        assert all((archive / name / f).is_file() for f in os.listdir(archive / name))
        assert spark.read.parquet(str(archive / name)).count() == 4
    assert sorted(os.listdir(errors)) == ["orders_bad.1.parquet", "orders_bad.parquet"]
    assert (errors / "orders_bad.parquet").read_text() == "not parquet, cycle 0"
    assert (errors / "orders_bad.1.parquet").read_text() == "not parquet, cycle 1"
    assert LakeTable(spark, str(lake / "curated" / "products"), keys=["p_partkey"]).num_rows() == 12


def test_both_entry_points_leave_the_same_lake(spark, tmp_path):
    # run_reference_pipeline on frames and process_landing on the same
    # rows dropped as files share one dataset contract, so they leave
    # the same curated tables and the same rejected rows.
    import os

    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    inputs = {
        "products": spark.createDataFrame(
            [(10, "bolt"), (11, "nut"), (12, None), (13, "gear"), (13, "gear")],
            "p_partkey long, p_name string",
        ),
        "orders": spark.createDataFrame(
            [(1, "2024-01-01", 5.0), (2, "2024-01-02", -1.0), (3, None, 2.0), (4, "2024-01-04", None)],
            "o_orderkey long, o_orderdate string, o_totalprice double",
        ),
        "order_items": spark.createDataFrame(ITEMS_BATCH, ITEMS_SCHEMA),
    }
    direct = tmp_path / "direct"
    run_reference_pipeline(spark, *inputs.values(), lake_root=str(direct))

    landing, landed = tmp_path / "landing", tmp_path / "landed"
    for ds, df in inputs.items():
        df.write.parquet(str(landing / f"{ds}_batch.parquet"))
    results = process_landing(
        spark, str(landing), str(tmp_path / "archive"), str(tmp_path / "errors"), str(landed)
    )
    assert [r.status for r in results] == ["archived"] * 3

    def rows(df) -> list:
        return sorted((tuple(r) for r in df.collect()), key=repr)

    for ds in inputs:
        curated = [rows(LakeTable(spark, str(root / "curated" / ds), keys=[]).read()) for root in (direct, landed)]
        assert curated[0] == curated[1] and curated[0]
        rejected = [rows(spark.read.parquet(str(root / "rejected" / ds)).drop("rejection_time")) for root in (direct, landed)]
        assert rejected[0] == rejected[1] and rejected[0]
    assert os.listdir(landing) == []


# ------------------------------------------------ one validation per stage

ITEMS_SCHEMA = "l_orderkey long, l_linenumber int, l_partkey long, l_shipdate string"
#: A first batch: 6 rows pass the checks (two of them repeat a key, so
#: 4 survive the dedup), 2 fail a rule and 2 carry an orphan FK.
ITEMS_BATCH = [
    (1, 1, 10, "d1"),
    (1, 2, 11, "d1"),
    (2, 1, 12, "d1"),
    (3, 1, 10, "d1"),
    (1, 1, 10, "d1"),  # exact duplicate
    (2, 1, 11, "d2"),  # same key, other values
    (None, 1, 10, "d1"),  # null key
    (4, 1, 10, None),  # null ship date
    (9, 1, 10, "d1"),  # orphan order
    (5, 1, 99, "d1"),  # orphan product
]
#: A second batch merged over the first: one update, one insert and its
#: duplicate, one orphan order and one null ship date.
ITEMS_REMERGE = [
    (3, 1, 11, "d3"),
    (5, 1, 12, "d3"),
    (5, 1, 12, "d3"),
    (7, 1, 10, "d3"),
    (2, 2, 10, None),
]

#: Spark jobs one order_items-shaped re-merge stage may launch: the
#: rejected count (which fills the validation cache, with the two FK
#: broadcasts), the merge rewrite, the reject append and the valid
#: count. A new eager action inside process_dataset has to raise this
#: on purpose.
ITEMS_STAGE_JOB_BUDGET = 15


def _items_stage(spark, tmp_path):
    """Curated orders (keys 1..5) and products (10..12), and the
    order_items spec that FK-checks against both."""
    from lakehouse_architecture_transaction_spark.functions.validation import FkCheck, not_null
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.pipelines import DatasetSpec

    lake = str(tmp_path / "lake")
    orders = LakeTable(spark, f"{lake}/curated/orders", keys=["o_orderkey"])
    orders.create(spark.createDataFrame([(k,) for k in range(1, 6)], "o_orderkey long"))
    products = LakeTable(spark, f"{lake}/curated/products", keys=["p_partkey"])
    products.create(spark.createDataFrame([(k,) for k in (10, 11, 12)], "p_partkey long"))
    spec = DatasetSpec(
        name="order_items",
        keys=["l_orderkey", "l_linenumber"],
        rules=[not_null("l_orderkey"), not_null("l_linenumber"), not_null("l_shipdate", "Invalid timestamp")],
        fk_checks=[
            FkCheck("l_orderkey", orders.read(), "o_orderkey", "Invalid order reference"),
            FkCheck("l_partkey", products.read(), "p_partkey", "Invalid product reference"),
        ],
    )
    return lake, spec


def test_stage_counts_match_the_lake(spark, tmp_path):
    # valid_rows, rejected_rows and table_rows come from the cached
    # validation and the parquet footers; each must equal what a
    # direct read of the lake shows, on the first load and a re-merge.
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
    from lakehouse_architecture_transaction_spark.pipelines import process_dataset

    lake, spec = _items_stage(spark, tmp_path)
    curated = LakeTable(spark, f"{lake}/curated/order_items", keys=spec.keys)
    rejected = LakeTable(spark, f"{lake}/rejected/order_items", keys=spec.keys)
    expected = [(4, 4, 4), (2, 2, 5)]  # (valid, rejected, table) per batch
    for rows, (n_valid, n_rejected, n_table) in zip((ITEMS_BATCH, ITEMS_REMERGE), expected):
        batch = spark.createDataFrame(rows, ITEMS_SCHEMA)
        deduped_valid = {
            (r[0], r[1]) for r in rows if None not in r and r[0] <= 5 and r[2] in (10, 11, 12)
        }
        before = rejected.read().count() if rejected.exists() else 0
        res, curated_df = process_dataset(spark, batch, spec, lake)
        assert res.valid_rows == len(deduped_valid) == n_valid
        assert res.rejected_rows == rejected.read().count() - before == n_rejected
        assert res.table_rows == curated.read().count() == curated_df.count() == n_table
        assert res.table_rows == curated.num_rows()
    out = {(r.l_orderkey, r.l_linenumber): (r.l_partkey, r.l_shipdate) for r in curated.read().collect()}
    assert out[(3, 1)] == (11, "d3") and out[(5, 1)] == (12, "d3")


def test_stage_job_budget(spark, tmp_path):
    # One validation per stage: the landing scan, rules and FK joins
    # run once into a cache and every later action reads it. Pinned so
    # a new eager action in a stage is a reviewed change.
    from lakehouse_architecture_transaction_spark.pipelines import process_dataset

    lake, spec = _items_stage(spark, tmp_path)
    process_dataset(spark, spark.createDataFrame(ITEMS_BATCH, ITEMS_SCHEMA), spec, lake)
    batch = spark.createDataFrame(ITEMS_REMERGE, ITEMS_SCHEMA)
    sc, group = spark.sparkContext, f"stage-budget-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        process_dataset(spark, batch, spec, lake)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= ITEMS_STAGE_JOB_BUDGET


def test_stage_releases_its_cache(spark, tmp_path):
    # The stage's validation cache is gone when the stage returns, and
    # also when it raises part-way (here: a batch whose columns no
    # longer match the curated table fails in the merge, after the
    # cache was filled).
    from lakehouse_architecture_transaction_spark.functions.validation import validate
    from lakehouse_architecture_transaction_spark.pipelines import process_dataset

    jsc = spark.sparkContext._jsc
    lake, spec = _items_stage(spark, tmp_path)
    good = spark.createDataFrame(ITEMS_BATCH, ITEMS_SCHEMA)
    bad = good.withColumn("l_comment", F.lit("x"))
    for batch, raises in ((good, False), (good, False), (bad, True)):
        held = jsc.getPersistentRDDs().size()
        if raises:
            with pytest.raises(ValueError, match="column mismatch"):
                process_dataset(spark, batch, spec, lake)
        else:
            process_dataset(spark, batch, spec, lake)
        assert jsc.getPersistentRDDs().size() == held
        # no cached plan left that a fresh validation would hit
        flagged = validate(batch, rules=spec.rules, fk_checks=spec.fk_checks).flagged
        assert flagged.storageLevel == StorageLevel.NONE
