"""Declarative data-validation rule engine.

Parity with the reference's ``validate_data`` (reference
scripts/glue/script.py:93-161, tests/functions.py:13-73): each dataset
gets a list of rules; the first failing rule's message lands in a
``validation_errors`` column; rows split into a valid set (column
dropped) and a rejected set (column kept, plus ``rejection_time`` /
``source`` metadata as in scripts/glue/script.py:182-183).

Scale-critical difference from the reference: referential-integrity
checks there collect() the reference keys to the driver and use
``isin`` (tests/functions.py:29-30) — that dies on a 100 TB fact
table. Here RI is a broadcast LEFT JOIN against the distinct key set:
fully distributed, and the keys are never collected to one process.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: The column carrying each row's first failure (null = valid).
_ERR = "validation_errors"


@dataclass(frozen=True)
class Rule:
    """A validation rule: rows where ``predicate`` is true FAIL with ``error``."""

    error: str
    predicate: Column


def not_null(col: str, error: str | None = None) -> Rule:
    return Rule(error or f"Null {col}", F.col(col).isNull())


def positive(col: str, error: str | None = None) -> Rule:
    """Fails non-positive values; nulls pass (reference treats null
    total_amount as valid — scripts/glue/script.py:139)."""
    return Rule(error or f"Non-positive {col}", F.col(col).isNotNull() & (F.col(col) <= 0))


@dataclass(frozen=True)
class FkCheck:
    """Referential-integrity check: ``fk_col`` must exist in
    ``ref[ref_col]``. Null FKs are handled by a not_null rule if the
    FK is mandatory; here null FK rows pass (SQL FK semantics)."""

    fk_col: str
    ref: DataFrame
    ref_col: str
    error: str = ""

    def message(self) -> str:
        return self.error or f"Invalid {self.fk_col} reference"


@dataclass
class ValidationResult:
    #: Every input row with its first failure in ``validation_errors``
    #: (null = valid); ``valid`` and ``rejected`` are the two filters
    #: over it, so a caller that persists it runs the scan, rules and
    #: FK joins once for both sides.
    flagged: DataFrame

    @property
    def valid(self) -> DataFrame:
        return self.flagged.filter(F.col(_ERR).isNull()).drop(_ERR)

    @property
    def rejected(self) -> DataFrame:
        return self.flagged.filter(F.col(_ERR).isNotNull())

    def rejected_with_meta(self, source: str) -> DataFrame:
        """Rejected rows enriched like the reference's rejected zone
        (scripts/glue/script.py:182-183)."""
        return self.rejected.withColumn("rejection_time", F.current_timestamp()).withColumn(
            "source", F.lit(source)
        )


def validate(df: DataFrame, rules: list[Rule] = (), fk_checks: list[FkCheck] = ()) -> ValidationResult:
    """Apply rules in order (first failure wins, matching the
    reference's chained ``when`` — scripts/glue/script.py:102-109),
    then FK checks, then split valid/rejected (two filters over the
    returned ``flagged`` frame).

    One narrow projection + at most one join per FK check; the whole
    thing stays inside whole-stage codegen except the joins.
    """
    out = df
    join_flags: list[tuple[str, str]] = []
    for i, fk in enumerate(fk_checks):
        flag = f"__fk_ok_{i}"
        keys = fk.ref.select(F.col(fk.ref_col).alias(fk.fk_col)).distinct().withColumn(flag, F.lit(True))
        out = out.join(F.broadcast(keys), on=fk.fk_col, how="left")
        join_flags.append((flag, fk.message()))

    err: Column = F.lit(None).cast("string")
    # Build the first-failure-wins chain in declaration order.
    conds: list[tuple[Column, str]] = [(r.predicate, r.error) for r in rules]
    conds += [
        (F.col(flag).isNull() & F.col(fk.fk_col).isNotNull(), msg)
        for (flag, msg), fk in zip(join_flags, fk_checks)
    ]
    for pred, msg in reversed(conds):
        err = F.when(pred, F.lit(msg)).otherwise(err)

    return ValidationResult(out.withColumn(_ERR, err).drop(*[f for f, _ in join_flags]))


def enforce_schema(df: DataFrame, schema) -> DataFrame:
    """Cast every field to the declared type (bad values → null), the
    reference's schema-enforcement step (scripts/glue/script.py:169-171).
    Single select → one projection, not N withColumns.

    ``try_cast`` (not ``cast``): Spark 4 defaults to ANSI mode, where a
    plain cast THROWS on malformed input — the reference's Spark-3 Glue
    semantics are cast-to-null, with the nulls routed downstream by the
    validation rules.
    """
    return df.select(*[F.col(f.name).try_cast(f.dataType).alias(f.name) for f in schema.fields])
