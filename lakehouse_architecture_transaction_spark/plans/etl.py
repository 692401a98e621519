"""Lakehouse ETL, table-format and catalog queries.

The reference pipeline (reference scripts/glue/script.py) is: schema
cast → validate (split valid/rejected) → dedup by PK → Delta
merge/upsert. Each stage is registered here as a deterministic query
over the testdata. The testdata is clean, so validation/dedup stages
first DIRTY it with deterministic key-derived perturbations (both
engines compute the same dirty input): the operator then has real work
to do and the oracle checks the interesting path, not a pass-through.

The LakeTable/metastore surface is here too: pruned, Z-ordered and
bucketed scans by table name, CDC diffs, compaction, schema evolution,
RESTORE/CLONE, time travel, CHECK constraints, CSV landing with corrupt
routing, the three-dataset pipeline and the landing-zone orchestrator,
GDPR erasure. Each builds its scenario in a session-memoized temp
LakeTable or landing zone and returns a content audit whose oracle
derives the same expectation from the base tables arithmetically
(correctness is pruning-independent by construction: pruned reads
re-apply their predicates as ordinary filters). The catalog profilers
(functional and inclusion dependencies, column statistics, supply-graph
degrees, Benford) complete the module.
"""

from __future__ import annotations

import datetime as _dt
import math as _math
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.validation import (
    FkCheck,
    enforce_schema,
    not_null,
    positive,
    validate,
)
from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable
from lakehouse_architecture_transaction_spark.operators.dedup import dedup_exact
from lakehouse_architecture_transaction_spark.operators.merge import merge_upsert
from lakehouse_architecture_transaction_spark.operators.scd2 import scd2_build
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.session import scratch_dir, session_memo

@register(
    "profile_orders",
    oracle="""
    SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(o_orderkey) AS n_null,
           COUNT(DISTINCT o_orderkey) AS n_distinct,
           CAST(MIN(o_orderkey) AS DOUBLE) AS min_num, CAST(MAX(o_orderkey) AS DOUBLE) AS max_num
    FROM orders
    UNION ALL
    SELECT 'o_custkey', COUNT(*), COUNT(*) - COUNT(o_custkey), COUNT(DISTINCT o_custkey),
           CAST(MIN(o_custkey) AS DOUBLE), CAST(MAX(o_custkey) AS DOUBLE)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice), COUNT(DISTINCT o_totalprice),
           MIN(o_totalprice), MAX(o_totalprice)
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
           NULL, NULL
    FROM orders
    ORDER BY column_name ASC
    """,
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (null rate / cardinality / numeric range
    per column) — the observability half of the reference's validation
    theme, computed in ONE pass over the table (a single aggregate
    with all metrics, unpivoted afterwards; no per-column scans)."""
    orders = load_table(spark, sf_dir, "orders")
    numeric = ["o_orderkey", "o_custkey", "o_totalprice"]
    string_cols = ["o_orderstatus"]
    aggs = [F.count("*").alias("n_rows")]
    for c in numeric + string_cols:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"null_{c}"),
            F.countDistinct(c).alias(f"dist_{c}"),
        ]
    for c in numeric:
        aggs += [F.min(c).cast("double").alias(f"min_{c}"), F.max(c).cast("double").alias(f"max_{c}")]
    one = orders.agg(*aggs)
    rows = []
    for c in numeric:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.col(f"min_{c}").alias("min_num"),
                F.col(f"max_{c}").alias("max_num"),
            )
        )
    for c in string_cols:
        rows.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows"),
                F.col(f"null_{c}").alias("n_null"),
                F.col(f"dist_{c}").alias("n_distinct"),
                F.lit(None).cast("double").alias("min_num"),
                F.lit(None).cast("double").alias("max_num"),
            )
        )
    return (
        one.select(F.explode(F.array(*rows)).alias("p"))
        .select("p.*")
        .orderBy("column_name")
    )


# Deterministic dirtying of orders: key-derived nulls / sign flips
# (mirrors the dirty-CSV conditions the reference validates against).
_DIRTY_ORDERS_SQL = """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 47 = 0 THEN NULL ELSE o_custkey END AS o_custkey,
           o_orderstatus,
           CASE WHEN o_orderkey % 41 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
           CASE WHEN o_orderkey % 43 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate,
           o_orderpriority
    FROM orders
"""

_ORDER_RULES_SQL = """
    CASE WHEN o_orderkey IS NULL THEN 'Null o_orderkey'
         WHEN o_custkey IS NULL THEN 'Null o_custkey'
         WHEN o_orderdate IS NULL THEN 'Invalid timestamp'
         WHEN o_totalprice IS NOT NULL AND o_totalprice <= 0 THEN 'Non-positive o_totalprice'
         ELSE NULL END
"""


def _dirty_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 47 == 0, F.lit(None)).otherwise(F.col("o_custkey")).alias("o_custkey"),
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 41 == 0, -F.col("o_totalprice")).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 43 == 0, F.lit(None)).otherwise(F.col("o_orderdate")).alias("o_orderdate"),
        "o_orderpriority",
    )


def _order_rules():
    return [
        not_null("o_orderkey", "Null o_orderkey"),
        not_null("o_custkey", "Null o_custkey"),
        not_null("o_orderdate", "Invalid timestamp"),
        positive("o_totalprice", "Non-positive o_totalprice"),
    ]


@register(
    "validate_orders_valid",
    oracle=f"""
    WITH dirty AS ({_DIRTY_ORDERS_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM (SELECT *, {_ORDER_RULES_SQL} AS validation_errors FROM dirty)
    WHERE validation_errors IS NULL
    ORDER BY o_orderkey ASC
    """,
)
def validate_orders_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Valid split of the validation rule engine (reference
    scripts/glue/script.py:134-141 orders rules)."""
    return validate(_dirty_orders(spark, sf_dir), rules=_order_rules()).valid.orderBy("o_orderkey")


@register(
    "validate_orders_rejected",
    oracle=f"""
    WITH dirty AS ({_DIRTY_ORDERS_SQL})
    SELECT * FROM (SELECT *, {_ORDER_RULES_SQL} AS validation_errors FROM dirty)
    WHERE validation_errors IS NOT NULL
    ORDER BY o_orderkey ASC
    """,
)
def validate_orders_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejected split with first-failing-rule message (reference
    scripts/glue/script.py:152-153)."""
    return validate(_dirty_orders(spark, sf_dir), rules=_order_rules()).rejected.orderBy("o_orderkey")


@register(
    "ri_violations_events",
    oracle="""
    SELECT event_id, user_id, 'Invalid user_id reference' AS validation_errors
    FROM events
    WHERE user_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey % 3 != 0)
    ORDER BY event_id ASC
    """,
)
def ri_violations_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity violations of events.user_id against a
    (deterministically restricted) customer dimension. The reference
    collects FK keys to the driver and uses isin
    (tests/functions.py:29-36); here it's a broadcast anti-join that
    scales to fact-sized reference sets.
    """
    events = load_table(spark, sf_dir, "events")
    customers = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 != 0)
    res = validate(
        events,
        fk_checks=[FkCheck(fk_col="user_id", ref=customers, ref_col="c_custkey", error="Invalid user_id reference")],
    )
    return res.rejected.select("event_id", "user_id", "validation_errors").orderBy("event_id")


@register(
    "dedup_pk_lineitem",
    oracle="""
    WITH inp AS (
        SELECT * FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity - 1 AS l_quantity,
               l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM lineitem WHERE l_orderkey % 11 = 0
    )
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_orderkey, l_linenumber
            ORDER BY l_partkey ASC NULLS LAST, l_suppkey ASC NULLS LAST, l_quantity ASC NULLS LAST,
                     l_extendedprice ASC NULLS LAST, l_discount ASC NULLS LAST, l_tax ASC NULLS LAST,
                     l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST, l_shipdate ASC NULLS LAST
        ) AS rn FROM inp
    ) WHERE rn = 1
    ORDER BY l_orderkey ASC, l_linenumber ASC
    """,
    headline=True,
)
def dedup_pk_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PK dedup (reference scripts/glue/script.py:196
    dropDuplicates, made reproducible). Input: lineitem with injected
    near-duplicate rows (same PK, l_quantity-1) for l_orderkey % 11 = 0.
    (l_orderkey, l_linenumber) is not unique in the raw data either, so
    the oracle restates the identical survivor-order window.
    """
    li = load_table(spark, sf_dir, "lineitem")
    dupes = li.filter(F.col("l_orderkey") % 11 == 0).withColumn("l_quantity", F.col("l_quantity") - 1)
    return dedup_exact(li.unionByName(dupes), keys=["l_orderkey", "l_linenumber"]).orderBy(
        "l_orderkey", "l_linenumber"
    )


_MERGE_SOURCE_SQL = """
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'N' AS o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 10 = 1
"""


@register(
    "merge_upsert_orders",
    oracle=f"""
    WITH src AS ({_MERGE_SOURCE_SQL})
    SELECT * FROM src
    UNION ALL
    SELECT t.* FROM orders t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
    ORDER BY o_orderkey ASC
    """,
    headline=True,
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta MERGE parity (reference scripts/glue/script.py:204-227:
    whenMatchedUpdateAll + whenNotMatchedInsertAll), emulated as a
    join-based upsert. Source batch: updates for o_orderkey % 10 = 0
    (price +10, status 'U') and inserts of new keys (+1e8, status 'N').
    """
    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 10 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
    )
    source = updates.unionByName(inserts.select(*updates.columns))
    return merge_upsert(orders, source, keys=["o_orderkey"]).orderBy("o_orderkey")


_CDC_SOURCE_SQL = """
    SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 10.0 AS o_totalprice,
           o_orderdate, o_orderpriority, 'U' AS op
    FROM orders WHERE o_orderkey % 10 = 0
    UNION ALL
    SELECT o_orderkey + 100000000, o_custkey, 'N' AS o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, 'I' AS op
    FROM orders WHERE o_orderkey % 10 = 1
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority, 'D' AS op
    FROM orders WHERE o_orderkey % 10 = 5
"""


@register(
    "merge_delete_orders",
    oracle=f"""
    WITH src AS ({_CDC_SOURCE_SQL})
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
    FROM src WHERE op != 'D'
    UNION ALL
    SELECT t.* FROM orders t WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src)
    ORDER BY o_orderkey ASC
    """,
    headline=True,
)
def merge_delete_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta MERGE with a delete clause (whenMatchedDelete beside
    update-all/insert-all — the APPLY CHANGES / CDC-apply shape the
    reference's merge step needs once upstream emits deletions;
    operators/merge.py apply_changes). Change batch: updates for
    o_orderkey % 10 = 0, inserts of new keys (% 10 = 1, +1e8), and
    deletions for % 10 = 5."""
    from lakehouse_architecture_transaction_spark.operators.merge import apply_changes

    orders = load_table(spark, sf_dir, "orders")
    updates = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 10.0)
        .withColumn("op", F.lit("U"))
    )
    inserts = (
        orders.filter(F.col("o_orderkey") % 10 == 1)
        .withColumn("o_orderkey", F.col("o_orderkey") + 100000000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("op", F.lit("I"))
    )
    deletes = orders.filter(F.col("o_orderkey") % 10 == 5).withColumn("op", F.lit("D"))
    source = updates.unionByName(inserts.select(*updates.columns)).unionByName(
        deletes.select(*updates.columns)
    )
    return apply_changes(orders, source, keys=["o_orderkey"], op_col="op").orderBy("o_orderkey")


# --------------------------------------------------------------------------
# The reference's CORE flow: order_items validated against BOTH dimension
# datasets (products AND orders) with per-dataset rules, then deduplicated
# (reference scripts/glue/script.py:100-132 rule config, 235-260 pipeline
# order products→orders→order_items). lineitem plays order_items, part plays
# products. Dims are deterministically restricted so the RI checks have real
# violations to find.

_LI_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate"
)

_DIRTY_LI_SQL = """
    SELECT l_orderkey,
           CASE WHEN l_orderkey % 37 = 0 THEN NULL ELSE l_partkey END AS l_partkey,
           l_suppkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,
           l_returnflag, l_linestatus,
           CASE WHEN l_orderkey % 53 = 0 THEN NULL ELSE l_shipdate END AS l_shipdate
    FROM lineitem
"""

_LI_RULES_SQL = """
    CASE WHEN l_orderkey IS NULL THEN 'Null l_orderkey'
         WHEN l_linenumber IS NULL THEN 'Null l_linenumber'
         WHEN l_partkey IS NULL THEN 'Null l_partkey'
         WHEN l_shipdate IS NULL THEN 'Invalid timestamp'
         WHEN l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey % 5 != 0)
              THEN 'Invalid order reference'
         WHEN l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_partkey % 11 != 0)
              THEN 'Invalid product reference'
         ELSE NULL END
"""


def _order_items_validated(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    dirty = li.select(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 37 == 0, F.lit(None)).otherwise(F.col("l_partkey")).alias("l_partkey"),
        "l_suppkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
        F.when(F.col("l_orderkey") % 53 == 0, F.lit(None)).otherwise(F.col("l_shipdate")).alias("l_shipdate"),
    )
    odim = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 != 0)
    pdim = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") % 11 != 0)
    return validate(
        dirty,
        rules=[
            not_null("l_orderkey", "Null l_orderkey"),
            not_null("l_linenumber", "Null l_linenumber"),
            not_null("l_partkey", "Null l_partkey"),
            not_null("l_shipdate", "Invalid timestamp"),
        ],
        fk_checks=[
            FkCheck(fk_col="l_orderkey", ref=odim, ref_col="o_orderkey", error="Invalid order reference"),
            FkCheck(fk_col="l_partkey", ref=pdim, ref_col="p_partkey", error="Invalid product reference"),
        ],
    )


@register(
    "process_order_items_valid",
    oracle=f"""
    WITH dirty AS ({_DIRTY_LI_SQL}),
    flagged AS (SELECT *, {_LI_RULES_SQL} AS validation_errors FROM dirty)
    SELECT {_LI_COLS} FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY l_orderkey, l_linenumber
            ORDER BY l_partkey ASC NULLS LAST, l_suppkey ASC NULLS LAST, l_quantity ASC NULLS LAST,
                     l_extendedprice ASC NULLS LAST, l_discount ASC NULLS LAST, l_tax ASC NULLS LAST,
                     l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST, l_shipdate ASC NULLS LAST
        ) AS rn FROM flagged WHERE validation_errors IS NULL
    ) WHERE rn = 1
    ORDER BY l_orderkey ASC, l_linenumber ASC
    """,
    headline=True,
)
def process_order_items_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end order_items processing, valid branch: per-dataset
    rules + dual-FK referential integrity (orders AND products) + PK
    dedup — the reference's full process_dataset flow
    (scripts/glue/script.py:100-132,235-260) in one declarative plan.
    """
    valid = _order_items_validated(spark, sf_dir).valid
    return dedup_exact(valid, keys=["l_orderkey", "l_linenumber"]).orderBy("l_orderkey", "l_linenumber")


@register(
    "process_order_items_rejected",
    oracle=f"""
    WITH dirty AS ({_DIRTY_LI_SQL}),
    flagged AS (SELECT *, {_LI_RULES_SQL} AS validation_errors FROM dirty)
    SELECT l_orderkey, l_linenumber, l_partkey, validation_errors
    FROM flagged WHERE validation_errors IS NOT NULL
    ORDER BY l_orderkey ASC, l_linenumber ASC, l_partkey ASC NULLS FIRST, validation_errors ASC
    """,
)
def process_order_items_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejected branch of the order_items flow: first failing rule per
    row across rules AND both FK checks (reference rejected-zone
    routing, scripts/glue/script.py:175-190 minus the wall-clock
    rejection_time metadata, which pipelines.py adds)."""
    rejected = _order_items_validated(spark, sf_dir).rejected
    return rejected.select("l_orderkey", "l_linenumber", "l_partkey", "validation_errors").orderBy(
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
        F.col("l_partkey").asc_nulls_first(),
        F.col("validation_errors").asc(),
    )


@register(
    "validate_part_rejected",
    oracle="""
    WITH dirty AS (
        SELECT p_partkey,
               CASE WHEN p_partkey % 23 = 0 THEN NULL ELSE p_name END AS p_name,
               p_brand,
               CASE WHEN p_partkey % 29 = 0 THEN -p_retailprice ELSE p_retailprice END AS p_retailprice
        FROM part
    )
    SELECT *, CASE WHEN p_partkey IS NULL THEN 'Null p_partkey'
                   WHEN p_name IS NULL THEN 'Null p_name'
                   WHEN p_retailprice IS NOT NULL AND p_retailprice <= 0 THEN 'Non-positive p_retailprice'
                   ELSE NULL END AS validation_errors
    FROM dirty
    WHERE p_name IS NULL OR (p_retailprice IS NOT NULL AND p_retailprice <= 0)
    ORDER BY p_partkey ASC
    """,
)
def validate_part_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """products rule set (reference scripts/glue/script.py:143-149:
    null product_id / product_name) on the part dimension, plus the
    non-positive-price rule shared with orders."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 23 == 0, F.lit(None)).otherwise(F.col("p_name")).alias("p_name"),
        "p_brand",
        F.when(F.col("p_partkey") % 29 == 0, -F.col("p_retailprice")).otherwise(F.col("p_retailprice")).alias(
            "p_retailprice"
        ),
    )
    res = validate(
        dirty,
        rules=[
            not_null("p_partkey", "Null p_partkey"),
            not_null("p_name", "Null p_name"),
            positive("p_retailprice", "Non-positive p_retailprice"),
        ],
    )
    return res.rejected.orderBy("p_partkey")


@register(
    "schema_cast_orders",
    oracle="""
    WITH strings AS (
        SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey,
               CAST(o_custkey AS VARCHAR) AS o_custkey,
               o_orderstatus,
               CASE WHEN o_orderkey % 13 = 0 THEN 'oops' ELSE CAST(o_totalprice AS VARCHAR) END AS o_totalprice,
               CASE WHEN o_orderkey % 17 = 0 THEN 'not-a-date' ELSE CAST(o_orderdate AS VARCHAR) END AS o_orderdate
        FROM orders
    )
    SELECT TRY_CAST(o_orderkey AS BIGINT) AS o_orderkey,
           TRY_CAST(o_custkey AS BIGINT) AS o_custkey,
           o_orderstatus,
           TRY_CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           TRY_CAST(o_orderdate AS TIMESTAMP) AS o_orderdate
    FROM strings
    ORDER BY TRY_CAST(o_orderkey AS BIGINT) ASC
    """,
)
def schema_cast_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema enforcement as an oracle-checked query (E6): orders
    round-tripped through strings with deterministically-injected junk
    ('oops' prices, 'not-a-date' dates), then enforce_schema casts
    every field back — junk lands as NULL (reference cast-to-null,
    scripts/glue/script.py:169-171), never as a runtime error."""
    from pyspark.sql import types as T

    orders = load_table(spark, sf_dir, "orders")
    strings = orders.select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        F.col("o_custkey").cast("string").alias("o_custkey"),
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 13 == 0, F.lit("oops"))
        .otherwise(F.col("o_totalprice").cast("string"))
        .alias("o_totalprice"),
        F.when(F.col("o_orderkey") % 17 == 0, F.lit("not-a-date"))
        .otherwise(F.col("o_orderdate").cast("string"))
        .alias("o_orderdate"),
    )
    target = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
        ]
    )
    return enforce_schema(strings, target).orderBy("o_orderkey")


@register(
    "scd2_customer_history",
    oracle="""
    WITH chg AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, TIMESTAMP '1995-01-01 00:00:00' AS eff_ts FROM customer
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, TIMESTAMP '1995-06-01 00:00:00' FROM customer
        WHERE c_custkey % 21 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal + 100.0, c_mktsegment, TIMESTAMP '1996-06-01 00:00:00' FROM customer
        WHERE c_custkey % 7 = 0
        UNION ALL
        SELECT c_custkey, c_acctbal + 100.0, 'MOVED', TIMESTAMP '1997-01-01 00:00:00' FROM customer
        WHERE c_custkey % 14 = 0
    ),
    versions AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, eff_ts FROM (
            SELECT *, LAG(c_acctbal) OVER w AS pa, LAG(c_mktsegment) OVER w AS pm
            FROM chg WINDOW w AS (PARTITION BY c_custkey ORDER BY eff_ts ASC)
        ) WHERE (pa IS DISTINCT FROM c_acctbal) OR (pm IS DISTINCT FROM c_mktsegment)
    )
    SELECT c_custkey, c_acctbal, c_mktsegment, eff_ts AS valid_from,
           LEAD(eff_ts) OVER w2 AS valid_to,
           LEAD(eff_ts) OVER w2 IS NULL AS is_current
    FROM versions WINDOW w2 AS (PARTITION BY c_custkey ORDER BY eff_ts ASC)
    ORDER BY c_custkey ASC, valid_from ASC
    """,
    headline=True,
)
def scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension history (operators/scd2.py) over a deterministic
    customer change log: a no-op re-statement (collapses), a balance
    update, and a segment move. Extends the reference's latest-only
    MERGE (scripts/glue/script.py:204-216) with queryable history."""
    cust = load_table(spark, sf_dir, "customer")

    def _v(filter_expr, acct, seg, ts):
        df = cust.filter(filter_expr) if filter_expr is not None else cust
        return df.select(
            "c_custkey",
            acct.alias("c_acctbal"),
            seg.alias("c_mktsegment"),
            F.expr(f"TIMESTAMP_NTZ '{ts}'").alias("eff_ts"),
        )

    changes = (
        _v(None, F.col("c_acctbal"), F.col("c_mktsegment"), "1995-01-01 00:00:00")
        .unionByName(
            _v(F.col("c_custkey") % 21 == 0, F.col("c_acctbal"), F.col("c_mktsegment"), "1995-06-01 00:00:00")
        )
        .unionByName(
            _v(F.col("c_custkey") % 7 == 0, F.col("c_acctbal") + 100.0, F.col("c_mktsegment"), "1996-06-01 00:00:00")
        )
        .unionByName(
            _v(F.col("c_custkey") % 14 == 0, F.col("c_acctbal") + 100.0, F.lit("MOVED"), "1997-01-01 00:00:00")
        )
    )
    hist = scd2_build(changes, key="c_custkey", eff_ts="eff_ts", attrs=["c_acctbal", "c_mktsegment"])
    return hist.orderBy("c_custkey", "valid_from")


#: files in the clustered copy — small enough that every file spans
#: months (pruning visible at sf0.001), large enough that a 6-month
#: predicate skips most of them
_SCAN_FILES = 8

_SCAN_FROM = _dt.datetime(1996, 1, 1)
_SCAN_TO = _dt.datetime(1996, 7, 1)


#: The clustered "curated orders" table path is session-memoized — the
#: crawl/cluster step runs once per session (it IS the table build;
#: queries pay only the scan), matching the _lsh_index/_cluster_frame
#: amortization pattern.
@session_memo
def clustered_orders_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per app+sf_dir) the date-clustered curated orders
    table: ``repartitionByRange`` on o_orderdate gives each parquet
    file a tight, disjoint date span — the single-column analogue of
    zorder_write, and the layout that makes footer pruning bite on
    date predicates."""
    path = scratch_dir("lakehouse_architecture_transaction_scan_orders_")
    orders = load_table(spark, sf_dir, "orders")
    orders.repartitionByRange(_SCAN_FILES, "o_orderdate").write.mode("overwrite").parquet(path)
    return path


def pruned_scan_report(spark: SparkSession, sf_dir: str) -> dict:
    """Register the pruned scan view and return the skipping report —
    split out so tests can assert files_read < files_total on the SAME
    path the registered query takes."""
    path = clustered_orders_path(spark, sf_dir)
    t = LakeTable(spark, path, keys=["o_orderkey"])
    where = [("o_orderdate", ">=", _SCAN_FROM), ("o_orderdate", "<", _SCAN_TO)]
    return t.register_scan("orders_pruned_scan", where)


@register(
    "orders_pruned_scan_sql",
    oracle=f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '{_SCAN_FROM:%Y-%m-%d %H:%M:%S}'
      AND o_orderdate <  TIMESTAMP '{_SCAN_TO:%Y-%m-%d %H:%M:%S}'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
    headline=True,
)
def orders_pruned_scan_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority mix of H1-1996 orders, answered BY NAME over the
    footer-pruned scan view (lakehouse/table.py register_scan): the
    crawler→catalog→SQL read path of the reference, with file-level
    data skipping on the date predicate (6 months of a multi-year
    range-clustered table — most files never open). The oracle runs
    the same predicate unpruned; tests pin files_read < files_total
    via pruned_scan_report."""
    pruned_scan_report(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
        FROM orders_pruned_scan
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority ASC
        """
    )


@register(
    "orders_salted_segment_revenue",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment ASC
    """,
    headline=True,
)
def orders_salted_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment revenue through the SALTED join path (operators/skew.py
    salted_join — until round 5 an 'Also' component pinned only by
    unit tests): the fact side takes a random salt, the customer dim
    replicates across all 16 salt values, and the hot-key shuffle
    spreads over 16 reducers. Logically identical to the plain
    equi-join — which is exactly what the oracle checks."""
    from lakehouse_architecture_transaction_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = salted_join(orders, cust, left_key="o_custkey", right_key="c_custkey", salt=16)
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("c_mktsegment")
    )


#: The bucketed fact tables (orders + lineitem bucketed by order key)
#: are session-memoized: the write IS the pre-shuffle; every keyed join
#: afterwards runs with zero exchange on the bucketed columns.
@session_memo
def bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build (once per app+sf_dir) catalog-registered bucketed copies
    of orders and lineitem, co-bucketed on the order key — E14's
    zero-exchange fact-fact join layout, served to a registered query.
    Returns the two table names."""
    import hashlib

    from lakehouse_architecture_transaction_spark.lakehouse.table import write_bucketed

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    o_name, l_name = f"bkt_orders_{tag}", f"bkt_lineitem_{tag}"
    root = scratch_dir("lakehouse_architecture_transaction_bucketed_")
    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        o_name,
        f"{root}/orders",
        num_buckets=8,
        bucket_cols=["o_orderkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        l_name,
        f"{root}/lineitem",
        num_buckets=8,
        bucket_cols=["l_orderkey"],
    )
    return o_name, l_name


@register(
    "orders_lineitem_bucketed_join",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority ASC
    """,
    headline=True,
)
def orders_lineitem_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join revenue by priority over CO-BUCKETED tables
    (lakehouse/table.py write_bucketed, E14 — until round 5 pinned
    only by a plan test): both facts are bucketed 8-way on the order
    key at write time, so the join reads bucket-aligned files with no
    exchange on either side — at 100 TB this converts the dominant
    nightly shuffle into a local zip. The oracle runs the plain join;
    tests pin the exchange-free plan."""
    o_name, l_name = bucketed_fact_tables(spark, sf_dir)
    o = spark.table(o_name)
    li = spark.table(l_name)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.expr(
                "SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))"
            )
            .cast("decimal(18,4)")
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("o_orderpriority")
    )


_Z_FILES = 8
_Z_PARTKEY_LT = 99
_Z_SUPPKEY_LT = 5


#: The Z-order-clustered lineitem copy is session-memoized like the
#: range-clustered orders above.
@session_memo
def zordered_lineitem_path(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per app+sf_dir) the Z-order-clustered lineitem copy
    on (l_partkey, l_suppkey): Morton-interleaved quantile-scaled keys
    give every file a compact hyper-RECTANGLE of the two-key space, so
    footer pruning bites on BOTH predicates at once — the multi-column
    claim E25's single-column range clustering cannot make."""
    from lakehouse_architecture_transaction_spark.lakehouse.table import zorder_write

    path = scratch_dir("lakehouse_architecture_transaction_zorder_lineitem_")
    li = load_table(spark, sf_dir, "lineitem")
    # bits=6 (64 bins/dim): with only 8 output files, finer Morton
    # resolution buys no extra pruning, and the quantile sketch cost
    # scales with 2^bits probes — 10 bits spent ~90 s sketching at
    # sf0.1 for identical files_read.
    zorder_write(li, path, cols=["l_partkey", "l_suppkey"], num_files=_Z_FILES, bits=6)
    return path


def zorder_scan_report(spark: SparkSession, sf_dir: str) -> dict:
    """Register the Z-order pruned scan view and return the skipping
    report — split out (same pattern as pruned_scan_report) so tests
    assert files_read < files_total on the registered query's path."""
    path = zordered_lineitem_path(spark, sf_dir)
    t = LakeTable(spark, path, keys=["l_orderkey", "l_linenumber"])
    where = [("l_partkey", "<", _Z_PARTKEY_LT), ("l_suppkey", "<", _Z_SUPPKEY_LT)]
    return t.register_scan("lineitem_zorder_scan", where)


@register(
    "lineitem_zorder_pruned_scan",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n_items,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                AS DECIMAL(18,4)) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_partkey < {_Z_PARTKEY_LT} AND l_suppkey < {_Z_SUPPKEY_LT}
    GROUP BY l_returnflag
    ORDER BY l_returnflag ASC
    """,
)
def lineitem_zorder_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-flag mix of the (part < {pk}, supplier < {sk}) slice,
    answered BY NAME over the Z-ORDER-clustered footer-pruned scan
    view (lakehouse/table.py zorder_write + register_scan — E17, until
    round 6 pinned only by a per-file span test): multi-column file
    skipping on the actual SQL path. Correctness is layout-independent
    by construction (pruned_read re-applies the predicates), which is
    exactly what the plain-table oracle checks; tests pin
    files_read < files_total via zorder_scan_report."""
    zorder_scan_report(spark, sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag,
               COUNT(*) AS n_items,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))))
                    AS DECIMAL(18,4)) AS DOUBLE) AS revenue
        FROM lineitem_zorder_scan
        GROUP BY l_returnflag
        ORDER BY l_returnflag ASC
        """
    )


#: The versioned orders LakeTable used by the CDC query (v0 = initial
#: load, v1 = deterministic merge) is session-memoized.
@session_memo
def cdc_orders_table(spark: SparkSession, sf_dir: str):
    """Build (once per app+sf_dir) a versioned LakeTable with two
    committed snapshots: v0 = the orders table; v1 = after a
    deterministic MERGE that updates the priority of every key
    divisible by 100 and inserts a negated-key copy of every key
    ≡ 1 (mod 100). The modification is a pure function of the data,
    so a SQL oracle can state the expected change feed exactly."""
    path = scratch_dir("lakehouse_architecture_transaction_cdc_orders_")
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
    t.create(orders)  # v0
    updates = orders.filter(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_orderpriority", F.lit("9-CDC")
    )
    inserts = orders.filter(F.col("o_orderkey") % 100 == 1).withColumn(
        "o_orderkey", -F.col("o_orderkey")
    )
    t.upsert(updates.unionByName(inserts))  # v1
    return t


@register(
    "orders_cdc_diff",
    oracle="""
    SELECT o_orderkey, '9-CDC' AS o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           'update_postimage' AS change_type
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT -o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           'insert' AS change_type
    FROM orders WHERE o_orderkey % 100 = 1
    ORDER BY change_type ASC, o_orderkey ASC
    """,
)
def orders_cdc_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed between two committed snapshots
    (lakehouse/table.py diff — E20, until round 6 pinned only by unit
    tests): v1 applies a deterministic merge (priority update on keys
    ≡ 0 mod 100, negated-key inserts for keys ≡ 1 mod 100) and the
    query returns diff(v0, v1) — Delta CDF's insert/update_postimage
    rows, computed from the copy-on-write snapshots with one
    full-outer key join and a null-safe struct compare. The oracle
    states the exact expected feed from the base table."""
    t = cdc_orders_table(spark, sf_dir)
    return (
        t.diff(0, 1)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("_change_type").alias("change_type"),
        )
        .orderBy("change_type", "o_orderkey")
    )


@session_memo
def _compacted_orders(spark: SparkSession, sf_dir: str):
    """Build (once per app+sf_dir) a versioned orders LakeTable whose
    history is: v0 = a deliberately fragmented 64-file load (the
    small-file state streaming appends produce), v1 = the OPTIMIZE
    compaction rewrite. The query reads the compacted snapshot."""
    path = scratch_dir("lakehouse_architecture_transaction_compact_orders_")
    t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
    t.create(load_table(spark, sf_dir, "orders").repartition(64))  # fragmented v0
    t.compact(target_files=4)  # v1
    return t


ORDERS_COMPACTED_ORACLE = """
SELECT o_orderstatus, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1, 2
ORDER BY o_orderstatus ASC, o_orderpriority ASC
"""


@register("orders_compacted_scan", oracle=ORDERS_COMPACTED_ORACLE, headline=True)
def orders_compacted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status/priority mix read from the COMPACTED snapshot of a
    deliberately fragmented orders table (lakehouse/table.py compact —
    E16, OPTIMIZE bin-packing): compaction must be content-neutral, so
    the plain-table oracle checks the rewrite byte-for-byte while the
    file count (64 → 4) is pinned by the compaction unit tests. At
    scale the file count, not the byte count, is the scan bottleneck —
    this query is the read path that motivates the rewrite."""
    t = _compacted_orders(spark, sf_dir)
    return (
        t.read()
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


@session_memo
def _evolved_orders(spark: SparkSession, sf_dir: str):
    """Build (once per app+sf_dir) a versioned orders LakeTable whose
    schema EVOLVES across commits: v0 loads orders without any extra
    column; v1 merges the keys ≡ 0 (mod 7) with a NEW
    ``priority_class`` column under evolve_schema=True (Delta
    mergeSchema). Untouched rows carry NULL in the new column — the
    exact semantics the oracle states."""
    path = scratch_dir("lakehouse_architecture_transaction_evo_orders_")
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
    t.create(orders)  # v0: original schema
    update = orders.filter(F.col("o_orderkey") % 7 == 0).withColumn(
        "priority_class", F.substring("o_orderpriority", 1, 1)
    )
    t.upsert(update, evolve_schema=True)  # v1: schema + column
    return t


ORDERS_EVOLUTION_ORACLE = """
SELECT CASE WHEN o_orderkey % 7 = 0 THEN substr(o_orderpriority, 1, 1) END AS priority_class,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM orders
GROUP BY 1
ORDER BY priority_class ASC NULLS FIRST
"""


@register("orders_schema_evolution_stats", oracle=ORDERS_EVOLUTION_ORACLE)
def orders_schema_evolution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-evolution audit of the schema-evolved table
    (lakehouse/table.py upsert(evolve_schema=True) — E18, Delta
    mergeSchema): per priority_class (NULL = rows untouched by the
    evolving merge), row count and exact total. The oracle derives the
    same partition of the base table from the deterministic merge
    predicate — so backfill semantics (new column NULL for old rows,
    populated for merged rows) are value-checked, not just
    schema-checked."""
    t = _evolved_orders(spark, sf_dir)
    return (
        t.read()
        .groupBy("priority_class")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("total_price"),
        )
        .orderBy(F.col("priority_class").asc_nulls_first())
    )


_TOTAL = (
    'CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE)'
)


def _total_col():
    return (
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,2)))")
        .cast("decimal(18,2)")
        .cast("double")
        .alias("total_price")
    )


# ------------------------------------------------------------------
# E24: RESTORE / CLONE
# ------------------------------------------------------------------

@session_memo
def _restore_clone_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """v0 = base orders; v1 = deterministic merge (keys ≡ 0 mod 9 get
    o_totalprice + 1.00); clone = deep copy of v1; then RESTORE the
    source table to v0 (a NEW commit — history moves forward)."""
    root = scratch_dir("lakehouse_architecture_transaction_restore_clone_")
    src_path, clone_path = f"{root}/src", f"{root}/clone"
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, src_path, keys=["o_orderkey"], versioned=True)
    t.create(orders)  # v0
    update = orders.filter(F.col("o_orderkey") % 9 == 0).withColumn(
        "o_totalprice",
        (F.col("o_totalprice").cast("decimal(18,2)") + F.lit(1.00).cast("decimal(18,2)"))
        .cast("double"),
    )
    t.upsert(update)  # v1
    t.clone(clone_path)  # snapshot of v1
    t.restore(0)  # v2 = v0 content, history intact
    return (src_path, clone_path)


ORDERS_RESTORE_CLONE_ORACLE = f"""
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders, {_TOTAL} AS total_price FROM orders
),
merged AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))
                     + CASE WHEN o_orderkey % 9 = 0 THEN CAST(1.00 AS DECIMAL(18,2))
                            ELSE CAST(0.00 AS DECIMAL(18,2)) END)
                 AS DECIMAL(18,2)) AS DOUBLE) AS total_price
    FROM orders
)
SELECT 'clone_of_v1' AS snapshot, n_orders, total_price FROM merged
UNION ALL
SELECT 'restored_current' AS snapshot, n_orders, total_price FROM base
UNION ALL
SELECT 'v1_history' AS snapshot, n_orders, total_price FROM merged
ORDER BY snapshot ASC
"""


@register("orders_restore_clone_audit", oracle=ORDERS_RESTORE_CLONE_ORACLE, headline=True)
def orders_restore_clone_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E24 end-to-end: content audit across the RESTORE/CLONE
    lifecycle (lakehouse/table.py restore/clone — Delta RESTORE TABLE
    / deep CLONE). After create(v0) → merge(v1) → clone → restore(v0):
    the CURRENT table must read as the base again, version 1 must stay
    queryable in history (restore moves forward, never erases), and
    the clone must still hold the merged snapshot it was taken from.
    The oracle derives all three expectations from the base table and
    the deterministic merge rule.

    Scale shape: three aggregate scans at table cardinality; the
    lifecycle operations themselves are the copy-on-write commits the
    versioned table is built on."""
    src_path, clone_path = _restore_clone_tables(spark, sf_dir)
    t = LakeTable(spark, src_path, keys=["o_orderkey"], versioned=True)
    clone = LakeTable(spark, clone_path, keys=["o_orderkey"], versioned=True)

    def stats(df: DataFrame, label: str) -> DataFrame:
        return df.groupBy().agg(
            F.count("*").cast("bigint").alias("n_orders"), _total_col()
        ).select(F.lit(label).alias("snapshot"), "n_orders", "total_price")

    return (
        stats(clone.read(), "clone_of_v1")
        .unionByName(stats(t.read(), "restored_current"))
        .unionByName(stats(t.read(version=1), "v1_history"))
        .orderBy("snapshot")
    )


# ------------------------------------------------------------------
# E9: partitioned versioned write + time travel
# ------------------------------------------------------------------

@session_memo
def _timetravel_table(spark: SparkSession, sf_dir: str) -> str:
    """v0 = orders WITHOUT the deterministic late batch (keys ≡ 0
    mod 11), partitioned by o_orderstatus; v1 = append of that batch."""
    path = scratch_dir("lakehouse_architecture_transaction_timetravel_")
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(
        spark, path, keys=["o_orderkey"], partition_by="o_orderstatus", versioned=True
    )
    t.create(orders.filter(F.col("o_orderkey") % 11 != 0))  # v0
    t.append(orders.filter(F.col("o_orderkey") % 11 == 0))  # v1
    return path


ORDERS_TIMETRAVEL_ORACLE = f"""
WITH v0 AS (
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders, {_TOTAL} AS total_price
    FROM orders WHERE o_orderkey % 11 != 0 GROUP BY 1
),
v1 AS (
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders, {_TOTAL} AS total_price
    FROM orders GROUP BY 1
)
SELECT 0 AS version, * FROM v0
UNION ALL
SELECT 1 AS version, * FROM v1
ORDER BY version ASC, o_orderstatus ASC
"""


@register("orders_snapshot_timetravel_stats", oracle=ORDERS_TIMETRAVEL_ORACLE, headline=True)
def orders_snapshot_timetravel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E9 end-to-end: partitioned versioned write + time travel
    (lakehouse/table.py versioned=True, partition_by) — per-status
    stats read from snapshot v0 AND from the current version after a
    deterministic append commit. The oracle derives both snapshots
    from the base table and the append predicate, so the immutability
    of v0 under the later commit is value-checked (a mutated or
    partially-visible snapshot changes the hash).

    Scale shape: two partition-pruned-capable scans of the versioned
    table at aggregate cardinality."""
    path = _timetravel_table(spark, sf_dir)
    t = LakeTable(
        spark, path, keys=["o_orderkey"], partition_by="o_orderstatus", versioned=True
    )

    def stats(df: DataFrame, v: int) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.count("*").cast("bigint").alias("n_orders"), _total_col()
        ).select(F.lit(v).alias("version"), "o_orderstatus", "n_orders", "total_price")

    return (
        stats(t.read(version=0), 0)
        .unionByName(stats(t.read(), 1))
        .orderBy("version", "o_orderstatus")
    )


# ------------------------------------------------------------------
# E19: CHECK constraints + commit log
# ------------------------------------------------------------------

@session_memo
def _constrained_table(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """A constrained table (CHECK o_totalprice > 0): the valid commit
    lands; the violating commit (prices negated on keys ≡ 0 mod 13)
    must be REFUSED atomically — nothing from it becomes visible."""
    path = scratch_dir("lakehouse_architecture_transaction_constraint_")
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(
        spark,
        path,
        keys=["o_orderkey"],
        versioned=True,
        constraints={"positive_price": "o_totalprice > 0"},
    )
    t.create(orders)  # valid commit
    bad = orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 13 == 0, -F.col("o_totalprice")).otherwise(
            F.col("o_totalprice")
        ),
    )
    refused = 0
    try:
        t.upsert(bad)
    except ValueError:
        refused = 1
    return (path, refused)


ORDERS_CONSTRAINT_ORACLE = f"""
SELECT CAST(1 AS BIGINT) AS violating_commit_refused,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_rows_in_refused_update,
       {_TOTAL} AS total_price
FROM orders
"""


@register("orders_constraint_audit", oracle=ORDERS_CONSTRAINT_ORACLE, headline=True)
def orders_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 end-to-end: CHECK-constraint enforcement
    (lakehouse/table.py constraints=) — a violating merge (negated
    prices on a deterministic key subset) must be refused ATOMICALLY:
    the audit reads the table afterwards and hashes (refusal happened,
    row count, how many rows the refused update carried, exact total).
    A constraint engine that half-applies the bad commit, or one that
    silently accepts it, changes the value hash. The oracle states
    the base-table expectation.

    Scale shape: constraint check = one filtered limit-1 scan of the
    incoming commit; audit = one aggregate scan."""
    path, refused = _constrained_table(spark, sf_dir)
    t = LakeTable(
        spark,
        path,
        keys=["o_orderkey"],
        versioned=True,
        constraints={"positive_price": "o_totalprice > 0"},
    )
    orders = load_table(spark, sf_dir, "orders")
    n_bad = orders.filter(F.col("o_orderkey") % 13 == 0)
    return (
        t.read()
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_orders"), _total_col())
        .crossJoin(
            F.broadcast(
                n_bad.groupBy().agg(
                    F.count("*").cast("bigint").alias("n_rows_in_refused_update")
                )
            )
        )
        .select(
            F.lit(refused).cast("bigint").alias("violating_commit_refused"),
            "n_orders",
            "n_rows_in_refused_update",
            "total_price",
        )
    )


# ------------------------------------------------------------------
# E7: CSV ingest + corrupt routing
# ------------------------------------------------------------------

_CSV_BAD_LINES = [
    '999999991,"unclosed quote,F,123.45,1995-01-01',
    '999999992,BAD"QUOTE"MID,O,99.99,1995-01-02,extra,fields,beyond,schema',
]


@session_memo
def _csv_landing_zone(spark: SparkSession, sf_dir: str) -> str:
    """Stage orders as a CSV landing zone (one header-bearing part)
    plus a file of structurally corrupt lines (bad quoting) that the
    PERMISSIVE reader must route to the corrupt channel."""
    import os

    src = scratch_dir("lakehouse_architecture_transaction_csv_zone_")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.col("o_totalprice").cast("decimal(18,2)").cast("string").alias("o_totalprice"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
    )
    staged = os.path.join(src, "csv")
    orders.coalesce(1).write.option("header", "true").csv(staged)
    # header=true skips the FIRST line of EVERY file, so the
    # corrupt part carries a header line too
    header = "o_orderkey,o_custkey,o_orderstatus,o_totalprice,o_orderdate"
    with open(os.path.join(staged, "part-corrupt.csv"), "w") as f:
        f.write(header + "\n" + "\n".join(_CSV_BAD_LINES) + "\n")
    return staged


ORDERS_CSV_ROUNDTRIP_ORACLE = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_parsed,
       CAST({len(_CSV_BAD_LINES)} AS BIGINT) AS n_corrupt,
       {_TOTAL} AS total_price,
       CAST(CAST(SUM(CAST(o_custkey AS BIGINT)) AS BIGINT) AS BIGINT) AS custkey_sum
FROM orders
"""


@register("orders_csv_roundtrip_stats", oracle=ORDERS_CSV_ROUNDTRIP_ORACLE, headline=True)
def orders_csv_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E7 end-to-end: CSV ingest with enforced schema + corrupt-line
    routing (sources/csv.py read_csv_enforced — the reference's
    PERMISSIVE read + cast-all-fields semantics, reference
    scripts/glue/script.py schema apply). Orders round-trip through a
    CSV landing zone that also contains structurally corrupt lines
    (unterminated quote, token overflow); the parsed channel must
    reproduce the base table's exact aggregate and the corrupt
    channel must hold exactly the bad lines. The oracle states both
    from the base table and the staged corruption.

    Scale shape: one CSV scan; parsed/corrupt split is a map-side
    filter on the PERMISSIVE reader's corrupt-record column."""
    from pyspark.sql import types as T

    from lakehouse_architecture_transaction_spark.sources.csv import read_csv_enforced

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.DateType()),
        ]
    )
    src = _csv_landing_zone(spark, sf_dir)
    parsed, corrupt = read_csv_enforced(spark, src, schema)
    agg = parsed.groupBy().agg(
        F.count("*").cast("bigint").alias("n_parsed"),
        _total_col(),
        F.sum("o_custkey").cast("bigint").alias("custkey_sum"),
    )
    n_corrupt = corrupt.groupBy().agg(F.count("*").cast("bigint").alias("n_corrupt"))
    return agg.crossJoin(F.broadcast(n_corrupt)).select(
        "n_parsed", "n_corrupt", "total_price", "custkey_sum"
    )


# ------------------------------------------------------------------
# E15: the reference's three-dataset flow (pipelines.py)
# ------------------------------------------------------------------

_PIPE_OFF = 1_000_000_000


@session_memo
def _pipeline_results(spark: SparkSession, sf_dir: str) -> list:
    """Run the reference pipeline ONCE per (app, sf_dir) on inputs
    with deterministic injected dirt:

    - products: base part ∪ offset copies with p_name NULLed on base
      key ≡ 0 (mod 3) → those copies reject on the name rule;
    - orders: base ∪ offset copies with o_totalprice negated on ≡ 0
      (mod 5) and o_orderdate NULLed on ≡ 0 (mod 7) → copies reject
      on either rule;
    - order_items: base ∪ copies re-pointed at the OFFSET orders →
      a copy's FK resolves iff its offset order survived curation, so
      the rejected count is exactly the items of rejected orders."""
    from lakehouse_architecture_transaction_spark.pipelines import run_reference_pipeline

    root = scratch_dir("lakehouse_architecture_transaction_pipeline_")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    products_in = part.unionByName(
        part.withColumn(
            "p_name",
            F.when(F.col("p_partkey") % 3 == 0, F.lit(None).cast("string")).otherwise(
                F.col("p_name")
            ),
        ).withColumn("p_partkey", F.col("p_partkey") + _PIPE_OFF)
    )
    orders_in = orders.unionByName(
        orders.withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 5 == 0, -F.col("o_totalprice")).otherwise(
                F.col("o_totalprice")
            ),
        )
        .withColumn(
            "o_orderdate",
            F.when(
                F.col("o_orderkey") % 7 == 0, F.lit(None).cast("timestamp_ntz")
            ).otherwise(F.col("o_orderdate")),
        )
        .withColumn("o_orderkey", F.col("o_orderkey") + _PIPE_OFF)
    )
    items_in = li.unionByName(
        li.withColumn("l_orderkey", F.col("l_orderkey") + _PIPE_OFF)
    )
    return run_reference_pipeline(
        spark, products_in, orders_in, items_in, lake_root=root
    )


PIPELINE_SUMMARY_ORACLE = """
WITH p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part),
pbad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part WHERE p_partkey % 3 = 0),
o AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
obad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders
         WHERE o_orderkey % 5 = 0 OR o_orderkey % 7 = 0),
libad AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lineitem
          WHERE l_orderkey % 5 = 0 OR l_orderkey % 7 = 0),
-- the valid channel dedups by the (l_orderkey, l_linenumber) PK
-- (the testdata carries deliberate PK duplicates -- the E4 scenario),
-- so valid/table counts are DISTINCT-PK counts
lid AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem)),
lidgood AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM
        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem
         WHERE NOT (l_orderkey % 5 = 0 OR l_orderkey % 7 = 0)))
SELECT 'order_items' AS name, lid.n + lidgood.n AS valid_rows,
       libad.n AS rejected_rows, lid.n + lidgood.n AS table_rows
FROM lid, lidgood, libad
UNION ALL
SELECT 'orders', o.n + o.n - obad.n, obad.n, o.n + o.n - obad.n FROM o, obad
UNION ALL
SELECT 'products', p.n + p.n - pbad.n, pbad.n, p.n + p.n - pbad.n FROM p, pbad
ORDER BY name ASC
"""


@register("pipeline_three_dataset_summary", oracle=PIPELINE_SUMMARY_ORACLE, headline=True)
def pipeline_three_dataset_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15 end-to-end: the reference's THREE-DATASET flow
    (pipelines.py run_reference_pipeline — products → orders →
    order_items with curated-dim FK checks, rejected zone, PK dedup;
    reference scripts/glue/script.py:100-132,252-258 and the Step
    Function sequence) run on inputs with deterministic injected
    dirt, summarized per stage. The oracle derives every
    valid/rejected/table count from the base tables and the injection
    rules — including the CASCADE: an order item whose (offset) order
    was rejected must itself reject on the FK check against the
    CURATED dim, not the raw input. A pipeline that validated against
    raw orders, skipped the dedup, or half-committed a stage changes
    the hash.

    Scale shape: each stage is the validated broadcast-anti-join +
    PK-dedup plan (E1/E3/E10 shapes); the summary is three counts."""
    from lakehouse_architecture_transaction_spark.pipelines import summary_df

    return summary_df(spark, _pipeline_results(spark, sf_dir)).select(
        "name",
        F.col("valid_rows").cast("bigint").alias("valid_rows"),
        F.col("rejected_rows").cast("bigint").alias("rejected_rows"),
        F.col("table_rows").cast("bigint").alias("table_rows"),
    )


# ------------------------------------------------------------------
# E21: event-driven orchestration (landing-zone watcher cycle)
# ------------------------------------------------------------------

@session_memo
def _orchestrated_zone(spark: SparkSession, sf_dir: str) -> tuple[str, str, str, str]:
    """Stage a landing zone (products/orders/order_items parquet drops
    + ONE structurally corrupt orders drop) and run ONE watcher cycle
    (orchestration.process_landing): good drops ingest in dependency
    order and archive; the corrupt drop quarantines WITHOUT killing
    the cycle."""
    import os

    from lakehouse_architecture_transaction_spark.orchestration import process_landing

    root = scratch_dir("lakehouse_architecture_transaction_orch_")
    landing = os.path.join(root, "landing")
    archive = os.path.join(root, "archive")
    errors = os.path.join(root, "errors")
    lake = os.path.join(root, "lake")
    os.makedirs(landing, exist_ok=True)
    load_table(spark, sf_dir, "part").write.parquet(
        os.path.join(landing, "products_1.parquet")
    )
    load_table(spark, sf_dir, "orders").write.parquet(
        os.path.join(landing, "orders_1.parquet")
    )
    load_table(spark, sf_dir, "lineitem").write.parquet(
        os.path.join(landing, "order_items_1.parquet")
    )
    with open(os.path.join(landing, "orders_corrupt_2.parquet"), "wb") as f:
        f.write(b"this is not a parquet file\n")
    process_landing(spark, landing, archive, errors, lake)
    return (landing, archive, errors, lake)


ORCHESTRATION_AUDIT_ORACLE = """
SELECT 'files' AS kind, 'archived' AS name, CAST(3 AS BIGINT) AS value
UNION ALL SELECT 'files', 'landing_left', CAST(0 AS BIGINT)
UNION ALL SELECT 'files', 'quarantined', CAST(1 AS BIGINT)
UNION ALL SELECT 'table_rows', 'order_items',
    (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
UNION ALL SELECT 'table_rows', 'orders', (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)
UNION ALL SELECT 'table_rows', 'products', (SELECT CAST(COUNT(*) AS BIGINT) FROM part)
ORDER BY kind ASC, name ASC
"""


@register("orchestration_landing_audit", oracle=ORCHESTRATION_AUDIT_ORACLE, headline=True)
def orchestration_landing_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E21 end-to-end: the event-driven orchestration cycle
    (orchestration.py process_landing — the reference's S3-event →
    Step Function → Glue → archive-on-success flow, reference
    scripts/lambda/trigger_sfn.py + archive_on_success.py) audited on
    REAL filesystem + lake state: after one cycle over three good
    drops and one corrupt drop, the archive must hold exactly the
    ingested files, the quarantine exactly the corrupt one, the
    landing zone must be empty, and the curated tables must carry the
    full (PK-deduped) content — so per-file failure isolation,
    dependency ordering (order_items FK-validates against the curated
    dims committed earlier in the SAME cycle), and archive-on-success
    are all value-checked. The oracle states every count from the
    base tables and the staged zone.

    Scale shape: each ingest is the standard validate+dedup+merge
    plan; the audit is three counts + three directory listings."""
    import os

    landing, archive, errors, lake = _orchestrated_zone(spark, sf_dir)
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable as LT

    files = [
        ("files", "archived", len(os.listdir(archive))),
        ("files", "landing_left", len(os.listdir(landing))),
        ("files", "quarantined", len(os.listdir(errors))),
    ]
    fdf = spark.createDataFrame(files, "kind string, name string, value long")
    tables = None
    for ds, keys in (
        ("order_items", ["l_orderkey", "l_linenumber"]),
        ("orders", ["o_orderkey"]),
        ("products", ["p_partkey"]),
    ):
        t = LT(spark, f"{lake}/curated/{ds}", keys=keys)
        row = t.read().groupBy().agg(F.count("*").cast("bigint").alias("value")).select(
            F.lit("table_rows").alias("kind"), F.lit(ds).alias("name"), "value"
        )
        tables = row if tables is None else tables.unionByName(row)
    return fdf.unionByName(tables).orderBy("kind", "name")


# ------------------------------------------------------------------
# catalog_inclusion_profile — inclusion-dependency (FK) discovery
# ------------------------------------------------------------------

#: (child_table, child_col, parent_table, parent_col): the candidate
#: FK edges a catalog crawler would propose. The last entry is a
#: deliberate negative control (overlapping integer ranges, no
#: semantic FK) so the profile demonstrates separation, not just 1.0s.
_INCLUSION_PAIRS: list[tuple[str, str, str, str]] = [
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("part", "p_partkey", "orders", "o_orderkey"),
]


def _inclusion_oracle() -> str:
    parts = []
    for ct, cc, pt, pc in _INCLUSION_PAIRS:
        parts.append(f"""
        SELECT '{ct}' AS child_table, '{cc}' AS child_col,
               '{pt}' AS parent_table, '{pc}' AS parent_col,
               CAST((SELECT COUNT(DISTINCT {cc}) FROM {ct} WHERE {cc} IS NOT NULL) AS BIGINT) AS n_child_distinct,
               CAST((SELECT COUNT(DISTINCT {pc}) FROM {pt} WHERE {pc} IS NOT NULL) AS BIGINT) AS n_parent_distinct,
               CAST((SELECT COUNT(*) FROM
                     (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL) a
                     JOIN (SELECT DISTINCT {pc} AS v FROM {pt} WHERE {pc} IS NOT NULL) b USING (v)
                    ) AS BIGINT) AS n_common
        """)
    union = " UNION ALL ".join(parts)
    return f"""
    WITH u AS ({union})
    SELECT child_table, child_col, parent_table, parent_col,
           n_child_distinct, n_parent_distinct, n_common,
           CASE WHEN n_child_distinct = 0 THEN 0.0
                ELSE CAST(n_common AS DOUBLE) / CAST(n_child_distinct AS DOUBLE) END AS containment_child,
           CASE WHEN n_parent_distinct = 0 THEN 0.0
                ELSE CAST(n_common AS DOUBLE) / CAST(n_parent_distinct AS DOUBLE) END AS containment_parent
    FROM u
    ORDER BY child_table ASC, child_col ASC, parent_table ASC
    """


CATALOG_INCLUSION_ORACLE = _inclusion_oracle()


@register("catalog_inclusion_profile", oracle=CATALOG_INCLUSION_ORACLE, headline=True)
def catalog_inclusion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency discovery across the catalog (the
    join-graph profiler behind FK inference in data-discovery systems
    — Aurum-style): for each candidate (child_col → parent_col) edge,
    the distinct-value counts of both sides, the size of their
    intersection, and the containment coefficients
    |A∩B|/|A| and |A∩B|/|B|. containment_child == 1.0 recovers every
    true TPC-H FK; the deliberate negative-control edge
    (part.p_partkey → orders.o_orderkey) shows range overlap without
    semantic inclusion. The same profile run on an unknown lake is
    how a crawler proposes join keys.

    Scale shape (r15 rewrite, guide §2.3/§2.4; r16 scan fusion,
    guide §6): per edge the two sides carry a (child, parent)
    membership flag and collapse in ONE value-keyed aggregate —
    MAX(flag) per (edge, value) is the distinct set of each side and
    the intersection at once, with map-side partial aggregation
    (each mapper emits one row per distinct (edge, value) it saw).
    The r14 shape paid two distinct aggregates plus a full-outer
    sort-merge join of the distinct sets per edge; r15 collapsed
    that to one exchange per edge but still scanned every edge side
    separately (16 scans, 8 independent aggregate pipelines). r16
    stacks all edges into ONE (edge, v, flags) frame built from ONE
    scan per table (lineitem's three FK columns ride a single pass,
    orders/customer/part/supplier/nation each fold their child and
    parent roles into one scan) and collapses the whole profile in
    one (edge, v) exchange + one 8-row summary aggregate. At 100 TB
    this is the difference between 16 full table passes and 7.
    Counts are exact BIGINTs; the containments are single double
    divisions of exact ints. Edges with empty inputs keep their
    (0, 0, 0) row via the left join from the 8-row edge spine."""
    from collections import defaultdict

    # one scan per table: every (edge, column, role) on that table is
    # emitted by a single explode over per-edge structs
    by_table: dict[str, list[tuple[int, str, int, int]]] = defaultdict(list)
    for i, (ct, cc, pt, pc) in enumerate(_INCLUSION_PAIRS):
        by_table[ct].append((i, cc, 1, 0))
        by_table[pt].append((i, pc, 0, 1))
    frames = []
    for tbl, sides in by_table.items():
        rows = F.array(
            *[
                F.struct(
                    F.lit(e).alias("e"),
                    F.col(c).cast("long").alias("v"),
                    F.lit(is_c).alias("__c"),
                    F.lit(is_p).alias("__p"),
                )
                for e, c, is_c, is_p in sides
            ]
        )
        frames.append(
            load_table(spark, sf_dir, tbl)
            .select(F.explode(rows).alias("x"))
            .select("x.*")
            .filter(F.col("v").isNotNull())
        )

    counts = (
        reduce(lambda a, b: a.unionAll(b), frames)
        .groupBy("e", "v")
        .agg(F.max("__c").alias("__c"), F.max("__p").alias("__p"))
        .groupBy("e")
        .agg(
            F.sum("__c").cast("bigint").alias("__nc"),
            F.sum("__p").cast("bigint").alias("__np"),
            F.sum(F.col("__c") * F.col("__p")).cast("bigint").alias("__ncommon"),
        )
    )
    spine = spark.createDataFrame(
        [(i, ct, cc, pt, pc) for i, (ct, cc, pt, pc) in enumerate(_INCLUSION_PAIRS)],
        "e int, child_table string, child_col string, parent_table string, parent_col string",
    )
    u = spine.join(F.broadcast(counts), "e", "left").select(
        "child_table",
        "child_col",
        "parent_table",
        "parent_col",
        F.coalesce(F.col("__nc"), F.lit(0)).cast("bigint").alias("n_child_distinct"),
        F.coalesce(F.col("__np"), F.lit(0)).cast("bigint").alias("n_parent_distinct"),
        F.coalesce(F.col("__ncommon"), F.lit(0)).cast("bigint").alias("n_common"),
    )
    return (
        u.select(
            "*",
            F.when(F.col("n_child_distinct") == 0, F.lit(0.0))
            .otherwise(
                F.col("n_common").cast("double") / F.col("n_child_distinct").cast("double")
            )
            .alias("containment_child"),
            F.when(F.col("n_parent_distinct") == 0, F.lit(0.0))
            .otherwise(
                F.col("n_common").cast("double") / F.col("n_parent_distinct").cast("double")
            )
            .alias("containment_parent"),
        )
        .orderBy("child_table", "child_col", "parent_table")
    )


# ------------------------------------------------------------------
# orders_gdpr_erasure_audit — right-to-be-forgotten lifecycle
# ------------------------------------------------------------------

@session_memo
def _erasure_table(spark: SparkSession, sf_dir: str) -> str:
    """v0 = base orders; v1 = base minus every order of the single
    heaviest customer (most orders, min custkey tiebreak), erased via
    the copy-on-write overwrite commit (stage-and-swap safe against
    read-then-overwrite)."""
    root = scratch_dir("lakehouse_architecture_transaction_gdpr_")
    path = f"{root}/orders"
    orders = load_table(spark, sf_dir, "orders")
    t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
    t.create(orders)  # v0
    victim = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("o_custkey").asc())
        .limit(1)
        .select("o_custkey")
    )
    t.overwrite(t.read().join(F.broadcast(victim), "o_custkey", "left_anti"))  # v1
    return path


ORDERS_GDPR_ERASURE_ORACLE = """
WITH vc AS (
    SELECT o_custkey AS victim, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY 1
    ORDER BY n DESC, victim ASC LIMIT 1
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM orders)
SELECT 'cdf_delete_rows' AS metric, n AS n_value FROM vc
UNION ALL SELECT 'cdf_nonvictim_changes', 0 FROM vc
UNION ALL SELECT 'post_total_orders', n_total - n FROM vc, tot
UNION ALL SELECT 'victim_custkey', victim FROM vc
UNION ALL SELECT 'victim_orders_post', 0 FROM vc
UNION ALL SELECT 'victim_orders_pre', n FROM vc
ORDER BY metric ASC
"""


@register("orders_gdpr_erasure_audit", oracle=ORDERS_GDPR_ERASURE_ORACLE, headline=True)
def orders_gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten, end-to-end on the versioned lakehouse
    (lakehouse/table.py overwrite — the copy-on-write DELETE commit;
    reference parity: the Delta MERGE/DELETE storage layer at
    reference scripts/glue/script.py:204-227): erase every order of
    the single heaviest customer, then audit that (a) the CDF diff
    v0→v1 reports EXACTLY the victim's rows as deletes, (b) no
    non-victim row changed, (c) the victim reads back empty while
    total row count dropped by exactly the victim's count. The oracle
    derives every expectation from the base table alone — if the
    erasure under- or over-deletes, the audit frame cannot match.

    Scale shape: the erasure is one broadcast anti-join inside a
    stage-and-swap commit; the audit is the CDF full-outer join at
    table cardinality plus count aggregates."""
    path = _erasure_table(spark, sf_dir)
    t = LakeTable(spark, path, keys=["o_orderkey"], versioned=True)
    orders = load_table(spark, sf_dir, "orders")
    victim = (
        orders.groupBy("o_custkey")
        .agg(F.count("*").alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("o_custkey").asc())
        .limit(1)
        .select("o_custkey")
        .localCheckpoint(eager=True)
    )
    cdf = t.diff(0).localCheckpoint(eager=True)

    def metric(label: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count("*").cast("bigint").alias("n_value")).select(
            F.lit(label).alias("metric"), "n_value"
        )

    victim_key = victim.select(F.col("o_custkey").cast("bigint").alias("n_value")).select(
        F.lit("victim_custkey").alias("metric"), "n_value"
    )
    pre = metric(
        "victim_orders_pre", t.read(version=0).join(F.broadcast(victim), "o_custkey")
    )
    post = metric(
        "victim_orders_post", t.read().join(F.broadcast(victim), "o_custkey")
    )
    deletes = metric(
        "cdf_delete_rows",
        cdf.filter(F.col("_change_type") == "delete").join(F.broadcast(victim), "o_custkey"),
    )
    nonvictim = metric(
        "cdf_nonvictim_changes", cdf.join(F.broadcast(victim), "o_custkey", "left_anti")
    )
    post_total = metric("post_total_orders", t.read())
    return (
        deletes.unionByName(nonvictim)
        .unionByName(post_total)
        .unionByName(victim_key)
        .unionByName(post)
        .unionByName(pre)
        .orderBy("metric")
    )


#: Benford expected share log10(1 + 1/d), computed ONCE here and
#: embedded as the identical literal in both engines (repr round-trips
#: the exact double — no runtime log anywhere).
_BENFORD = {d: _math.log10(1.0 + 1.0 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    cases = " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD.items())
    return f"""
    WITH cents AS (
        SELECT CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR) AS s
        FROM orders
    ),
    obs AS (
        SELECT CAST(substr(s, 1, 1) AS BIGINT) AS digit, CAST(COUNT(*) AS BIGINT) AS n_obs
        FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n_total FROM obs)
    SELECT digit, n_obs,
           CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE) AS obs_share,
           CAST(CASE digit {cases} END AS DOUBLE) AS benford_p,
           (CAST(n_obs AS DOUBLE) / CAST(n_total AS DOUBLE))
               / CAST(CASE digit {cases} END AS DOUBLE) AS benford_lift
    FROM obs, tot
    ORDER BY digit ASC
    """


ORDERS_BENFORD_ORACLE = _benford_oracle()


@register("orders_benford_audit", oracle=ORDERS_BENFORD_ORACLE, headline=True)
def orders_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order amounts — the classic
    fabricated-numbers / data-quality screen: observed share of each
    leading digit of the exact cent amount vs the Benford expectation
    log10(1+1/d), as a per-digit lift. Organic monetary data tracks
    Benford closely (lift ≈ 1); uniform synthetic generators (this
    corpus — correctly flagged) and fabricated ledgers don't. The
    Benford constants are computed once in Python and embedded as the
    same literal in both engines, so no runtime log crosses the
    engine boundary; digits come from the exact BIGINT cent string
    (double formatting never touches the data).

    Scale shape: one scan → 9-group aggregate with map-side combine;
    the total is a re-aggregation of the localCheckpoint-ed 9-row
    frame."""
    orders = load_table(spark, sf_dir, "orders")
    obs = (
        orders.select(
            F.substring(
                F.expr("CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)"),
                1,
                1,
            )
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
        .localCheckpoint(eager=True)
    )
    tot = obs.agg(F.sum("n_obs").cast("bigint").alias("n_total"))
    p = F.create_map(
        *[x for d, pv in _BENFORD.items() for x in (F.lit(d), F.lit(pv))]
    )[F.col("digit")]
    return (
        obs.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            (F.col("n_obs").cast("double") / F.col("n_total").cast("double")).alias(
                "obs_share"
            ),
            p.alias("benford_p"),
            (
                (F.col("n_obs").cast("double") / F.col("n_total").cast("double")) / p
            ).alias("benford_lift"),
        )
        .orderBy("digit")
    )


# ------------------------------------------------------------------
# supplier_part_degree_profile
# ------------------------------------------------------------------

SUPPLIER_PART_DEGREE_ORACLE = """
WITH sp AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
sdeg AS (SELECT l_suppkey, COUNT(*) AS degree FROM sp GROUP BY 1),
pdeg AS (SELECT l_partkey, COUNT(*) AS degree FROM sp GROUP BY 1),
u AS (
    SELECT 'supplier' AS side, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM sdeg GROUP BY 2
    UNION ALL
    SELECT 'part' AS side, degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM pdeg GROUP BY 2
)
SELECT side, CAST(degree AS BIGINT) AS degree, n_nodes
FROM u
ORDER BY side ASC, degree ASC
"""


@register("supplier_part_degree_profile", oracle=SUPPLIER_PART_DEGREE_ORACLE, headline=True)
def supplier_part_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite degree profile of the supply relationship: from the
    distinct (supplier, part) pairs observed in lineitem, the
    histogram of how many parts each supplier ships and how many
    suppliers each part has — the fan-out chart that decides whether
    the supply graph's joins broadcast, bucket, or salt (a heavy tail
    on either side is the pre-skew warning). Companion to
    part_supplier_hhi's concentration index.

    Scale shape: ONE distinct aggregate over the fact (map-side
    partial distinct), localCheckpoint-ed because both side-degree
    branches consume it; each side is then two aggregates at
    node/degree cardinality."""
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_suppkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=True)
    )

    def side_hist(key: str, label: str) -> DataFrame:
        deg = sp.groupBy(key).agg(F.count("*").cast("bigint").alias("degree"))
        return deg.groupBy("degree").agg(
            F.count("*").cast("bigint").alias("n_nodes")
        ).select(F.lit(label).alias("side"), "degree", "n_nodes")

    return (
        side_hist("l_suppkey", "supplier")
        .unionByName(side_hist("l_partkey", "part"))
        .orderBy("side", "degree")
    )


# ------------------------------------------------------------------
# catalog_fd_profile — functional-dependency discovery
# ------------------------------------------------------------------

#: (table, determinant columns, dependent column): the candidate FDs a
#: catalog profiler would score. Alternating positive controls (TPC-H
#: key FDs) and negative controls (attributes that genuinely vary per
#: determinant), plus the load-bearing discovery: the raw zone's
#: CLAIMED composite PK (l_orderkey, l_linenumber) → l_partkey FAILS
#: on the synthetic landing data — duplicated line numbers are exactly
#: why E4 dedup_pk_lineitem exists, and this profile is how a crawler
#: finds that out instead of trusting the schema doc.
_FD_PAIRS: list[tuple[str, tuple[str, ...], str]] = [
    ("orders", ("o_orderkey",), "o_custkey"),
    ("orders", ("o_custkey",), "o_orderpriority"),
    ("lineitem", ("l_orderkey", "l_linenumber"), "l_partkey"),
    ("lineitem", ("l_partkey",), "l_suppkey"),
    ("customer", ("c_custkey",), "c_nationkey"),
    ("customer", ("c_nationkey",), "c_mktsegment"),
    ("nation", ("n_nationkey",), "n_regionkey"),
    ("nation", ("n_regionkey",), "n_name"),
]


def _fd_oracle() -> str:
    parts = []
    for t, det, dep in _FD_PAIRS:
        d = ", ".join(det)
        nn = " AND ".join(f"{c} IS NOT NULL" for c in (*det, dep))
        parts.append(f"""
        SELECT '{t}' AS table_name, '{",".join(det)}' AS determinant,
               '{dep}' AS dependent,
               CAST(COUNT(*) AS BIGINT) AS n_det,
               CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n_pairs,
               CAST(COALESCE(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
                   AS n_violating_det,
               CAST(COALESCE(MAX(c), 0) AS BIGINT) AS max_dep_per_det
        FROM (SELECT {d}, COUNT(*) AS c
              FROM (SELECT DISTINCT {d}, {dep} FROM {t} WHERE {nn})
              GROUP BY {d})
        """)
    union = " UNION ALL ".join(parts)
    return f"""
    WITH u AS ({union})
    SELECT table_name, determinant, dependent, n_det, n_pairs,
           n_violating_det, max_dep_per_det,
           CAST(CASE WHEN n_det = 0 THEN NULL
                     WHEN n_violating_det = 0 THEN 1 ELSE 0 END AS BIGINT) AS fd_holds,
           CASE WHEN n_pairs = 0 THEN NULL
                ELSE CAST(n_det AS DOUBLE) / CAST(n_pairs AS DOUBLE) END AS strength
    FROM u
    ORDER BY table_name ASC, determinant ASC, dependent ASC
    """


CATALOG_FD_ORACLE = _fd_oracle()


@register("catalog_fd_profile", oracle=CATALOG_FD_ORACLE)
def catalog_fd_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over curated candidate FDs —
    the within-table half of catalog profiling (E26
    catalog_inclusion_profile is the cross-table half): for each
    determinant → dependent candidate, the distinct determinant
    count, distinct (determinant, dependent) pair count, how many
    determinant values map to MORE than one dependent (violations),
    the worst fan-out, the 0/1 verdict (NULL when the relation is
    empty — zero observations is no evidence, not a pass), and
    strength = n_det/n_pairs
    (1.0 iff the FD holds exactly). Rows with a NULL determinant or
    dependent are excluded — NULL-key rows are RI validation's (E3)
    failure class, not a dependency vote. The profile recovers every
    true TPC-H key FD, rejects the attribute negatives, and — the
    point — FLAGS the raw zone's claimed composite PK
    (l_orderkey, l_linenumber) → l_partkey as violated, which is the
    dedup_pk_lineitem (E4) rationale discovered from data rather than
    assumed from the schema doc.

    Scale shape: per candidate ONE distinct aggregate over only the
    candidate's columns (pruned scan, map-side partial distinct) at
    distinct-pair cardinality, then a determinant-keyed count and a
    1-row summary — never a row-level join, never a window. The 8
    candidates are independent 1-row frames unioned at the end."""
    frames = []
    for t, det, dep in _FD_PAIRS:
        sel = load_table(spark, sf_dir, t).select(*det, dep)
        for c in (*det, dep):
            sel = sel.filter(F.col(c).isNotNull())
        g = sel.distinct().groupBy(*det).agg(F.count("*").alias("c"))
        summary = g.agg(
            F.count("*").cast("bigint").alias("n_det"),
            F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.sum(F.when(F.col("c") > 1, 1).otherwise(0)), F.lit(0))
            .cast("bigint")
            .alias("n_violating_det"),
            F.coalesce(F.max("c"), F.lit(0)).cast("bigint").alias("max_dep_per_det"),
        )
        frames.append(
            summary.select(
                F.lit(t).alias("table_name"),
                F.lit(",".join(det)).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_det",
                "n_pairs",
                "n_violating_det",
                "max_dep_per_det",
            )
        )
    u = reduce(lambda a, b: a.unionAll(b), frames)
    return (
        u.select(
            "*",
            # n_det = 0 is vacuous truth (the FD was never observed on
            # any row): emit NULL, not 1, so a catalog crawler cannot
            # promote an FD with zero evidence — same NULL-not-0/0
            # discipline as strength below.
            F.when(F.col("n_det") == 0, F.lit(None))
            .when(F.col("n_violating_det") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("fd_holds"),
            F.when(F.col("n_pairs") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_det").cast("double") / F.col("n_pairs").cast("double"))
            .alias("strength"),
        )
        .orderBy("table_name", "determinant", "dependent")
    )


# ------------------------------------------------------------------
# catalog_column_stats — ANALYZE-style per-column profile
# ------------------------------------------------------------------

#: table → columns profiled (static schema from TESTDATA.md — the
#: profiler is the ANALYZE pass that FEEDS a CBO, so it enumerates
#: columns explicitly rather than discovering them at plan time).
_STATS_COLS: list[tuple[str, tuple[str, ...]]] = [
    ("orders", ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                "o_orderdate", "o_orderpriority")),
    ("customer", ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
    ("events", ("event_id", "ts", "user_id", "event_type", "value", "props")),
]


def _column_stats_oracle() -> str:
    parts = []
    for t, cols in _STATS_COLS:
        for c in cols:
            parts.append(f"""
            SELECT '{t}' AS table_name, '{c}' AS column_name,
                   CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT({c}) AS BIGINT) AS n_nonnull,
                   CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
                   CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct
            FROM {t}
            """)
    union = " UNION ALL ".join(parts)
    return f"""
    WITH u AS ({union})
    SELECT table_name, column_name, n_rows, n_nonnull, n_nulls, n_distinct,
           CASE WHEN n_rows = 0 THEN NULL
                ELSE CAST(n_nulls AS DOUBLE) / CAST(n_rows AS DOUBLE) END AS null_frac,
           CASE WHEN n_nonnull = 0 THEN NULL
                ELSE CAST(n_distinct AS DOUBLE) / CAST(n_nonnull AS DOUBLE) END
               AS distinct_ratio
    FROM u
    ORDER BY table_name ASC, column_name ASC
    """


CATALOG_COLUMN_STATS_ORACLE = _column_stats_oracle()


@register("catalog_column_stats", oracle=CATALOG_COLUMN_STATS_ORACLE)
def catalog_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style per-column statistics — the third leg of the
    catalog-profiling trio (E26 cross-table inclusion, E29
    within-table FDs, and here the per-column stats a cost-based
    optimizer and every data-discovery UI feed on): per column the
    row count, non-null/null counts, EXACT distinct count, null
    fraction, and distinct ratio (1.0 reads "key-like", ~0 reads
    "category-like"; NULL not 0/0 on empty inputs). Counts are exact
    BIGINTs; the two ratios are single double divisions.

    Scale shape: one PRUNED single-column scan per profiled column
    (the inclusion-profile precedent), each an independent two-stage
    count_distinct aggregate — shuffle at the column's distinct
    cardinality with map-side partial distinct, 1-row summaries
    unioned at the end. At 100 TB you would batch columns of one
    table into a shared scan when I/O dominates; per-column pruning
    is the right default while distinct state dominates."""
    frames = []
    for t, cols in _STATS_COLS:
        tbl = load_table(spark, sf_dir, t)
        for c in cols:
            agg = tbl.select(c).agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count(c).cast("bigint").alias("n_nonnull"),
                (F.count("*") - F.count(c)).cast("bigint").alias("n_nulls"),
                F.count_distinct(F.col(c)).cast("bigint").alias("n_distinct"),
            )
            frames.append(
                agg.select(
                    F.lit(t).alias("table_name"),
                    F.lit(c).alias("column_name"),
                    "n_rows",
                    "n_nonnull",
                    "n_nulls",
                    "n_distinct",
                )
            )
    u = reduce(lambda a, b: a.unionAll(b), frames)
    return (
        u.select(
            "*",
            F.when(F.col("n_rows") == 0, F.lit(None).cast("double"))
            .otherwise(F.col("n_nulls").cast("double") / F.col("n_rows").cast("double"))
            .alias("null_frac"),
            F.when(F.col("n_nonnull") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.col("n_distinct").cast("double") / F.col("n_nonnull").cast("double")
            )
            .alias("distinct_ratio"),
        )
        .orderBy("table_name", "column_name")
    )
