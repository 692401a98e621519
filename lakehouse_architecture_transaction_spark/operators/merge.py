"""Delta-style MERGE (upsert) as a join-based DataFrame operator.

Parity with the reference's Delta merge (reference
scripts/glue/script.py:204-227): ``whenMatchedUpdateAll`` +
``whenNotMatchedInsertAll`` on a primary-key equality condition.
delta-spark isn't in this image, so the engine expresses the same
semantics as a full-outer join that prefers the source row — exactly
what Delta's merge produces for update-all/insert-all, minus the
transaction log. ``lakehouse/table.py`` wires this into a persistent
parquet table.

Scale: one shuffle on the merge key for each side (or broadcast when
the update batch is small — the common CDC case, which Catalyst/AQE
picks automatically). Delta/Iceberg at scale add file-level pruning on
top; the logical plan is the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _source_wins(target: DataFrame, source: DataFrame, keys: list[str], delete=None) -> DataFrame:
    """Null-safe full-outer join on ``keys`` in which a present source
    row wins every column it carries; target columns the source lacks
    keep their target values. ``delete``, a predicate over the
    source's columns, removes the matched rows it holds for."""
    source_cols = set(source.columns)
    t = target.alias("t")
    # Literal presence flag: key-nullability is NOT a reliable match
    # signal (the join is eqNullSafe, so a legitimately-null key
    # component would mis-classify a matched source row).
    s = source.withColumn("__src", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, on=cond, how="full_outer")
    matched = F.col("s.__src").isNotNull()
    if delete is not None:
        joined = joined.filter(~(matched & delete))
    # A source row with a null non-key value must still win over the
    # matched target value (update-all semantics), so pick by the
    # source-presence flag rather than coalesce of the value columns.
    picked = [
        (
            F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            if c in source_cols
            else F.col(f"t.{c}").alias(c)
        )
        for c in target.columns
    ]
    return joined.select(*picked)


def merge_upsert(
    target: DataFrame, source: DataFrame, keys: list[str], evolve_schema: bool = False
) -> DataFrame:
    """Rows from ``source`` replace matching ``target`` rows (matched →
    update-all); unmatched source rows are inserted; unmatched target
    rows are kept. Columns must match by name unless
    ``evolve_schema`` (Delta ``mergeSchema`` semantics): new source
    columns are added to the table (null for pre-existing rows), and
    columns the source doesn't carry KEEP their target values on
    matched rows rather than being nulled.
    """
    if evolve_schema:
        for f in source.schema.fields:
            if f.name not in target.columns:
                target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
    elif set(target.columns) != set(source.columns):
        raise ValueError(f"column mismatch: {target.columns} vs {source.columns}")
    return _source_wins(target, source, keys)


def apply_changes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """CDC change application: Delta MERGE with a delete clause
    (``whenMatchedDelete`` alongside update-all/insert-all), i.e. the
    APPLY CHANGES shape. ``source`` carries the target's columns plus
    ``op_col``; a matched row with op = ``delete_op`` is removed,
    any other source row upserts, and a delete for an absent key is a
    no-op.

    Same scale shape as merge_upsert: one key shuffle per side (or a
    broadcast when the change batch is small — the common CDC case,
    left to Catalyst/AQE).
    """
    value_cols = [c for c in source.columns if c != op_col]
    if set(value_cols) != set(target.columns):
        raise ValueError(f"column mismatch: {target.columns} vs {value_cols}")
    return _source_wins(target, source, keys, delete=F.col(f"s.{op_col}") == delete_op)
