"""Table catalog over the parquet test lake.

The engine's "catalog" layer: named tables backed by parquet
directories (stand-in for the reference's Glue Data Catalog over S3 —
reference README.md "AWS Glue Data Catalog" row). Reads are plain
``spark.read.parquet`` so Catalyst gets pushdown/pruning for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should be broadcast in joins at any scale
#: (TPC-H ratios: region=5 rows, nation=25; supplier/part grow slowly).
BROADCAST_DIMS = frozenset({"region", "nation", "supplier"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def corpus_fingerprint(sf_dir: str, table: str = "embeddings") -> dict:
    """Cheap fingerprint of one table: (name, size, mtime_ns) of its
    parquet file(s). The ANN index store saves it into its manifest at
    build time and refuses a load when the corpus was regenerated
    under the index (same failure mode a stale Delta manifest would
    catch via snapshot ids); session memos key on it for every table,
    so a rewritten input rebuilds instead of serving the old data."""
    path = table_path(sf_dir, table)
    if os.path.isdir(path):
        paths = [
            os.path.join(path, n)
            for n in sorted(os.listdir(path))
            if not n.startswith((".", "_"))
        ]
    else:
        paths = [path]
    files = []
    for p in paths:
        try:
            st = os.stat(p)
        except OSError:
            continue
        files.append([os.path.basename(p), st.st_size, st.st_mtime_ns])
    return {"table": table, "files": files}


def _spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Guarantee scan parallelism for compute-bound row-local
    pipelines. A single-row-group parquet file is UNSPLITTABLE — Spark
    assigns it to one task no matter what maxPartitionBytes says — so
    a small-file table would run an expensive per-row pipeline (text
    hashing, PCA gram rows, quantization) on one core. Round-robin
    repartition ONLY when the file count is below the cluster's
    parallelism: at real scale the table arrives as many files and
    this is a no-op (no shuffle); at bench/test scale it costs one
    tiny shuffle of the input bytes and buys full-width execution."""
    par = spark.sparkContext.defaultParallelism
    if len(df.inputFiles()) < par:
        return df.repartition(par)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    if name == "events":
        # events.ts must come out TIMESTAMP_NTZ regardless of how the
        # parquet stores it — generator snapshots have varied between
        # TIMESTAMP(NANOS) (Spark reads as long under nanosAsLong) and
        # tz-less TIMESTAMP(MICROS) (Spark 4 reads natively as ntz).
        # Branch on the type actually read. Non-ntz sources are
        # normalized through epoch-date + day-time interval rather
        # than a plain cast because casts route through the SESSION
        # TIMEZONE — correct under our UTC-pinned session but silently
        # wrong wall-clocks under any other driver's session. This
        # construction is timezone-independent and micro-exact
        # (interval seconds carry a decimal(18,0)/1e6).
        prior = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(table_path(sf_dir, name))
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type not in ("long", "bigint"):
            # The file is not legacy-NANOS, so execution never needs
            # the conf — restore the caller's session state instead of
            # leaking it (a NANOS file must keep it set: the scan
            # itself re-reads footers under the session conf).
            if prior is None:
                spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
            else:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prior)
        if ts_type == "timestamp_ntz":
            return _spread(df, spark) if spread else df
        # long = legacy nanos file; timestamp (ltz reader) = epoch
        # micros, which unix_micros() extracts timezone-independently.
        micros = "ts DIV 1000" if ts_type in ("long", "bigint") else "unix_micros(ts)"
        ntz = (
            f"CAST(date_add(DATE '1970-01-01', CAST(({micros}) DIV 86400000000 AS INT)) AS TIMESTAMP_NTZ)"
            f" + make_dt_interval(0, 0, 0, CAST(({micros}) % 86400000000 AS DECIMAL(18,0)) / 1000000)"
        )
        df = df.withColumn("ts", F.expr(ntz))
        return _spread(df, spark) if spread else df
    df = spark.read.parquet(table_path(sf_dir, name))
    return _spread(df, spark) if spread else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLES) -> None:
    """Register each table as a temp view for the SQL API."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def register_metastore(
    spark: SparkSession,
    sf_dir: str,
    database: str = "lake",
    tables: tuple[str, ...] = TABLES,
) -> None:
    """Register the lake in the session metastore so any SQL client
    can query tables BY NAME — the engine-side analog of the
    reference's Glue-crawler → Athena flow (reference
    code/step_function_code.json "StartCrawler" state: crawl the
    written S3 prefix, register schemas, query from Athena).

    Plain parquet tables register as EXTERNAL (``USING parquet
    LOCATION``): the metastore stores only schema + location, exactly
    like a crawled Glue table — no data copied, and Catalyst still
    gets pushdown/pruning through the catalog relation. ``events``
    needs its nanos→TIMESTAMP_NTZ normalization (see load_table), so
    it materializes as a managed table — the crawler-equivalent of a
    normalizing ingest step. Idempotent: re-registration replaces.
    """
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    for name in tables:
        spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
        if name == "events":
            load_table(spark, sf_dir, name).write.mode("overwrite").saveAsTable(f"{database}.{name}")
        else:
            path = os.path.abspath(table_path(sf_dir, name))
            spark.sql(
                f"CREATE TABLE {database}.{name} USING parquet LOCATION '{path}'"
            )
