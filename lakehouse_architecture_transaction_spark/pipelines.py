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
      to the rejected zone, partitioned like the reference's.

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

from lakehouse_architecture_transaction_spark.functions.validation import FkCheck, Rule, validate
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
    partition_by: str | None = None


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
            partition_by=spec.partition_by,
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
    product_key: str = "p_partkey",
    order_key: str = "o_orderkey",
    item_keys: tuple[str, str] = ("l_orderkey", "l_linenumber"),
) -> list[StageResult]:
    """The reference's three-dataset flow on arbitrary input frames.

    products and orders are curated first; order_items then FK-checks
    against the CURATED dims (the reference validates order_items
    against the processed products/orders — scripts/glue/script.py:
    252-258). Dims are broadcast in the FK anti-joins; at fact-sized
    reference sets FkCheck(broadcast=False) shuffles instead.
    """
    from lakehouse_architecture_transaction_spark.functions.validation import not_null, positive

    results: list[StageResult] = []

    prod_spec = DatasetSpec(
        name="products",
        keys=[product_key],
        rules=[not_null(product_key), not_null("p_name", "Null product_name")],
    )
    r, curated_products = process_dataset(spark, products, prod_spec, lake_root)
    results.append(r)

    order_spec = DatasetSpec(
        name="orders",
        keys=[order_key],
        rules=[
            not_null(order_key),
            not_null("o_orderdate", "Invalid timestamp"),
            positive("o_totalprice"),
        ],
    )
    r, curated_orders = process_dataset(spark, orders, order_spec, lake_root)
    results.append(r)

    item_spec = DatasetSpec(
        name="order_items",
        keys=list(item_keys),
        rules=[not_null(k) for k in item_keys] + [not_null("l_shipdate", "Invalid timestamp")],
        fk_checks=[
            FkCheck(
                fk_col="l_orderkey",
                ref=curated_orders,
                ref_col=order_key,
                error="Invalid order reference",
            ),
            FkCheck(
                fk_col="l_partkey",
                ref=curated_products,
                ref_col=product_key,
                error="Invalid product reference",
            ),
        ],
    )
    r, _ = process_dataset(spark, order_items, item_spec, lake_root)
    results.append(r)
    return results


def summary_df(spark: SparkSession, results: list[StageResult]) -> DataFrame:
    rows = [(r.name, r.valid_rows, r.rejected_rows, r.table_rows) for r in results]
    return spark.createDataFrame(
        rows, "name string, valid_rows long, rejected_rows long, table_rows long"
    ).orderBy(F.col("name"))
