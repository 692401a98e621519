"""Registry of named queries with their DuckDB oracle SQL.

Each operator the engine claims is registered here as a
``QuerySpec``: a Spark callable ``(spark, sf_dir) -> DataFrame``,
(when SQL-expressible) an ANSI-SQL oracle string DuckDB can run on the
same parquet tables, its family and its headline flag. The family is
the plan module that defines the query (``plans/<family>.py``); the
headline flag puts the query in ``bench.py``'s timed set. The
correctness gates, the bench and the perf workloads all read this one
registry, so the engine, its oracle and its bench grouping can never
drift apart silently.

Determinism discipline (what makes cross-engine value-hashing work):
- aggregate sums over money/quantity go through DECIMAL casts — exact
  in both engines, so results match bit-for-bit regardless of
  partitioning or accumulation order;
- ratios/averages are ONE double division of exact quantities
  (decimal-sum cast to double / count) — IEEE ops on identical inputs
  are identical in both engines;
- every probabilistic op hashes via md5 (functions/hashing.py);
- every top-k orders with a unique tiebreaker column.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    family: str
    oracle: str | None = None
    headline: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(name: str, oracle: str | None = None, headline: bool = False):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        family = fn.__module__.rsplit(".", 1)[-1]
        REGISTRY[name] = QuerySpec(
            name=name, fn=fn, family=family, oracle=oracle, headline=headline
        )
        return fn

    return deco
