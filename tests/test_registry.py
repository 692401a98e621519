"""Registry identity (no Spark): every query's name, oracle SQL, family
and headline flag, pinned as one hash.

A change to any of the four shows up here first. When the change is
intended (a new query, an edited oracle, a query moved to another
family module or into the bench headline), recompute the constant with
``_identity()`` and say in the change which entries moved.
"""

from __future__ import annotations

import hashlib
import json

from lakehouse_architecture_transaction_spark.plans import REGISTRY

REGISTRY_SHA256 = "68cc6db0de5c8e905270c685b0f658d1801c0ab1f452eb8e118b8c9a149f8703"


def _identity() -> str:
    rows = sorted(
        (
            name,
            hashlib.sha256((spec.oracle or "").encode()).hexdigest(),
            spec.family,
            spec.headline,
        )
        for name, spec in REGISTRY.items()
    )
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def test_registry_identity():
    assert len(REGISTRY) == 228
    assert sum(spec.headline for spec in REGISTRY.values()) == 137
    assert _identity() == REGISTRY_SHA256
