"""Query plan library, one module per query family.

Importing this package registers every query into
``lakehouse_architecture_transaction_spark.plans.registry.REGISTRY``; a
query's family is the name of the module that defines it.
``__spark_entry__`` exposes the registry through ``queries()`` and
``oracle_sql()``.
"""

from lakehouse_architecture_transaction_spark.plans import (  # noqa: F401
    tpch,
    window,
    events,
    etl,
    ann,
    text,
    dedup,
    emb,
    streaming,
    graph,
    behavior,
    sampling,
    mm,
)
from lakehouse_architecture_transaction_spark.plans.registry import REGISTRY, QuerySpec  # noqa: F401
