"""Plain-Python pipeline driver — the engine's stand-in for the
reference's Step Functions orchestration (reference
code/step_function_code.json; SURVEY §4).

The reference's graph is strictly ordered because order_items
validates against BOTH upstream datasets: products → orders →
order_items (reference scripts/glue/script.py:235-260). Each dataset
runs the same stage chain the Glue job runs per dataset
(scripts/glue/script.py:163-232):

    enforce schema → validate (rules + FK checks) → dedup by PK
    → MERGE into the curated lakehouse table
    → append rejected rows (+ rejection_time / source metadata)
      to the rejected zone, one unpartitioned table per dataset.

Each dataset's contract (keys, rules, FK checks and their error
strings) is stated once, in :func:`spec_for` — the reference's
per-dataset config dict (scripts/glue/script.py:100-132). Both entry
points use it: :func:`run_reference_pipeline` on in-memory frames and
``orchestration.process_landing`` on landing-zone drops.

Orchestration is deliberately dumb Python: the distributed work is
all inside the DataFrame plans; this file only sequences them and
returns counts. Retries/alerting/event triggers (the reference's
Lambda + Step Functions plumbing, scripts/lambda/*.py) are deployment
concerns outside engine scope.

Each stage reads and validates its batch once: the validated frame is
cached for the stage, so the rejected count, the merge, the reject
append and the valid count share one scan of the input and one run of
the FK joins, and the curated row count comes from parquet footers
rather than from a rescan of the table.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.functions.validation import FkCheck, Rule, not_null, positive, validate
from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.operators.dedup import dedup_exact


@dataclass
class DatasetSpec:
    """One dataset's processing contract (reference
    scripts/glue/script.py:100-132 config dict)."""

    name: str
    keys: list[str]
    rules: list[Rule] = field(default_factory=list)
    fk_checks: list[FkCheck] = field(default_factory=list)


#: Processing order: order_items validates against curated dims, so
#: dims must land first (reference code/step_function_code.json runs
#: the three Glue jobs in sequence).
DATASET_ORDER = ("products", "orders", "order_items")


def spec_for(spark: SparkSession, dataset: str, lake_root: str) -> DatasetSpec:
    """The contract of ``dataset``. order_items FK-checks against the
    CURATED products and orders under ``lake_root`` (the reference
    validates order_items against the processed dims —
    scripts/glue/script.py:252-258), so those must exist."""
    if dataset == "products":
        return DatasetSpec(
            name="products",
            keys=["p_partkey"],
            rules=[not_null("p_partkey"), not_null("p_name", "Null product_name")],
        )
    if dataset == "orders":
        return DatasetSpec(
            name="orders",
            keys=["o_orderkey"],
            rules=[
                not_null("o_orderkey"),
                not_null("o_orderdate", "Invalid timestamp"),
                positive("o_totalprice"),
            ],
        )
    if dataset != "order_items":
        raise KeyError(dataset)
    fk_checks = []
    for dim, fk_col, ref_col, err in (
        ("orders", "l_orderkey", "o_orderkey", "Invalid order reference"),
        ("products", "l_partkey", "p_partkey", "Invalid product reference"),
    ):
        dim_table = LakeTable(spark, os.path.join(lake_root, "curated", dim), keys=[ref_col])
        if not dim_table.exists():
            raise RuntimeError(
                f"order_items requires curated {dim!r} before it can FK-validate "
                "(Step Function sequencing)"
            )
        fk_checks.append(FkCheck(fk_col=fk_col, ref=dim_table.read(), ref_col=ref_col, error=err))
    return DatasetSpec(
        name="order_items",
        keys=["l_orderkey", "l_linenumber"],
        rules=[
            not_null("l_orderkey"),
            not_null("l_linenumber"),
            not_null("l_shipdate", "Invalid timestamp"),
        ],
        fk_checks=fk_checks,
    )


@dataclass
class StageResult:
    name: str
    valid_rows: int
    rejected_rows: int
    table_rows: int


def process_dataset(
    spark: SparkSession,
    df: DataFrame,
    spec: DatasetSpec,
    lake_root: str,
) -> tuple[StageResult, DataFrame]:
    """Run one dataset through validate → dedup → merge → rejected
    append. Returns the stage summary and the CURATED dataframe (read
    back from the lake so downstream FK checks see exactly what was
    committed, as the reference's sequential job does).

    The batch is validated once: the flagged frame (every input row
    with its first failure, if any) is persisted, and the rejected
    count fills the cache before anything commits. The dedup, the
    upsert, the reject append and the valid count then read the cache
    instead of re-running the landing scan, the rules and the FK
    joins. ``table_rows`` comes from the curated table's parquet
    footers (:meth:`LakeTable.num_rows`), not from a scan. The cache is
    released when the stage ends, whether it succeeded or raised."""
    res = validate(df, rules=spec.rules, fk_checks=spec.fk_checks)
    res.flagged.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        rejected = res.rejected_with_meta(source=spec.name)
        n_rejected = rejected.count()
        valid = dedup_exact(res.valid, keys=spec.keys)

        table = LakeTable(
            spark,
            os.path.join(lake_root, "curated", spec.name),
            keys=spec.keys,
        )
        table.upsert(valid)

        if n_rejected:
            rejected_zone = LakeTable(
                spark,
                os.path.join(lake_root, "rejected", spec.name),
                keys=spec.keys,
            )
            rejected_zone.append(rejected)
        n_valid = valid.count()
    finally:
        res.flagged.unpersist()

    return (
        StageResult(
            name=spec.name,
            valid_rows=n_valid,
            rejected_rows=n_rejected,
            table_rows=table.num_rows(),
        ),
        table.read(),
    )


def run_reference_pipeline(
    spark: SparkSession,
    products: DataFrame,
    orders: DataFrame,
    order_items: DataFrame,
    lake_root: str,
) -> list[StageResult]:
    """The reference's three-dataset flow on arbitrary input frames:
    each dataset in :data:`DATASET_ORDER` runs through
    :func:`process_dataset` under its :func:`spec_for` contract, so
    order_items FK-checks against the dims curated just before it
    (broadcast in the FK joins)."""
    frames = {"products": products, "orders": orders, "order_items": order_items}
    return [
        process_dataset(spark, frames[ds], spec_for(spark, ds, lake_root), lake_root)[0]
        for ds in DATASET_ORDER
    ]


def summary_df(spark: SparkSession, results: list[StageResult]) -> DataFrame:
    rows = [(r.name, r.valid_rows, r.rejected_rows, r.table_rows) for r in results]
    return spark.createDataFrame(
        rows, "name string, valid_rows long, rejected_rows long, table_rows long"
    ).orderBy(F.col("name"))
