"""Standing Σx²/power-sum overflow discipline (VERDICT r12 item 3).

The r12 skew probe crashed customer_order_value_cv on an int64
square-sum (Σx² of cent values past 2^63 under a 30%-hot customer),
and the r13 registration sweep found the same latent class in
part_supplier_hhi (Σqty²), emb_norm_outliers (Σ(Σq²)²) and the PCA
gram sums (Σqi·qj past ~6e8 vectors). The pattern: a per-term product
that fits int64 comfortably at test SF while the corpus-scale SUM
exits 64 bits.

This test makes the class fail CI at introduction time: it scans every
package source file for sum-of-product aggregate sites (both
``F.sum(a * b)`` and SQL ``SUM(expr * expr)`` inside oracle strings,
comments stripped, parens balanced). A site passes automatically when
its body carries a DECIMAL/HUGEINT cast (the functions/moments.py
discipline and its DuckDB mirror); anything else must appear in the
ALLOWED inventory below with an exact occurrence count and a written
overflow bound. Adding a new raw int64 power-sum — or a second copy of
an allowed one — fails here until it is either routed through
functions/moments.py (sum_sq_dec / m2_numerator) or audited and added
with its bound.
"""

from __future__ import annotations

import os
import re

import pytest

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lakehouse_architecture_transaction_spark")

#: (relpath, whitespace-normalized SUM body) -> (expected count, audited bound)
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("plans/dedup.py", "((h >> {j}) & 1) * 2 - 1"):
        (1, "simhash oracle: ±1 per row, |Σ| ≤ corpus rows"),
    ("plans/emb.py", "qi * qj"):
        (1, "label-covariance oracle: 256-quantized, |q|≤~2^10, per-term ≤2^20; "
            "overflow needs ≥9e12 rows per (label,i,j) group, ~600x the 100 TB "
            "embedding count"),
    ("plans/emb.py", 'F.col("qi") * F.col("qj")'):
        (1, "label-covariance engine twin of the above, same 2^20 per-term bound"),
    ("plans/emb.py",
     "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"):
        (1, "per-(label,pos) centroid sum of 1e9-scaled components: |Σ| ≤ 1e9·N_label; "
            "overflow needs ~9e9 rows in ONE label — ~6x the 100 TB per-label count"),
    ("plans/emb.py",
     '(CASE WHEN v < 0 THEN -1 ELSE 1 END) * " "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)'):
        (1, "engine twin of the centroid sum (string-concat seam), same bound"),
    ("plans/window.py", 'F.col("i") * F.col("spend")'):
        (1, "gini: spend is DECIMAL(38,2), product stays decimal (exact, "
            "ANSI-raising); rank×spend ≤ ~1e19/row, Σ ≤ ~1e29 ≪ 1e38"),
    ("plans/window.py", "i * spend"):
        (1, "gini oracle: spend is DuckDB DECIMAL(38,2), same decimal bound"),
    ("plans/text.py", "cnt * cnt"):
        (2, "hash-embed oracle: per-DOC Σcnt² ≤ n_tokens² — bounded by the JVM "
            "2^31 string length, (2^31)² < 2^63; char-diversity oracle: per-DOC "
            "Σcnt² ≤ n_chars² < (2^31)² < 2^63 (JVM string length bound)"),
    ("plans/text.py", 'F.col("cnt") * F.col("cnt")'):
        (1, "char-diversity engine twin, same per-doc JVM-string bound"),
    ("plans/etl.py", 'F.col("__c") * F.col("__p")'):
        (1, "inclusion profile: 0/1 indicator product, Σ ≤ distinct keys"),
    ("plans/events.py", "x*y"):
        (1, "seasonal/autocorr oracle: x,y are coarse integer units with the "
            "documented operators/timeseries.py contract (value²·days < 2^63)"),
    ("plans/events.py", "x*x"):
        (1, "same timeseries coarse-unit contract"),
    ("plans/events.py", "y*y"):
        (1, "same timeseries coarse-unit contract"),
    ("plans/tpch.py", "x * y"):
        (1, "grouped_linreg oracle: x is a small day index per the documented "
            "exactness bound in operators/timeseries.py"),
    ("plans/tpch.py", "x * x"):
        (1, "same grouped_linreg day-index bound"),
    ("plans/text.py", 'F.col("freq") * F.size("after")'):
        (1, "BPE totals: Σ = corpus BPE token count ≤ corpus chars ≪ 2^63"),
    ("operators/dedup.py", "F.shiftright(F.col(\"__h\"), j).bitwiseAND(F.lit(1)) * 2 - 1"):
        (1, "simhash engine: ±1 per row, |Σ| ≤ corpus rows"),
    ("operators/graph.py", "CAST(floor(pr * 1e9 + 0.5) AS BIGINT)"):
        (1, "pagerank mass check: Σ of 1e9-scaled pr over all nodes ≈ 1e9 "
            "(total mass is 1), never near 2^63"),
    ("operators/similarity.py", 'F.expr(f"qi * __q[{j}]")'):
        (1, "PCA gram LEVEL-1 partial: per-(i, row-bucket) int64 sum bounded "
            "STRUCTURALLY at 2^partial_bucket_log2 rows (id>>19 bucket, "
            "partition-local) × ~2^34/term ≈ 9e15 ≪ 2^63 — safe on "
            "corpus-scale partitions too (ADVICE r13); level 2 merges "
            "partials in DECIMAL(38,0)"),
    ("operators/text.py", 'F.col("__n_occ") * F.col("__n_bpe")'):
        (1, "BPE corpus totals, ≤ corpus chars ≪ 2^63"),
    ("operators/timeseries.py", 'F.col("__x") * F.col("__y")'):
        (1, "documented module contract: coarse integer units, value²·days < 2^63"),
    ("operators/timeseries.py", 'F.col("__x") * F.col("__x")'):
        (1, "same timeseries contract"),
    ("operators/timeseries.py", 'F.col("__y") * F.col("__y")'):
        (1, "same timeseries contract"),
    ("operators/timeseries.py", 'F.col(x_col).cast("long") * F.col(y_col).cast("long")'):
        (1, "grouped_linreg: documented exactness bound (keep x a small index)"),
    ("operators/timeseries.py", 'F.col(x_col).cast("long") * F.col(x_col).cast("long")'):
        (1, "same grouped_linreg bound"),
    ("functions/moments.py", "xd * xd"):
        (1, "sum_sq_dec itself — xd is the decimal(19,0) cast one line up"),
}


def _scan() -> dict[tuple[str, str], int]:
    found: dict[tuple[str, str], int] = {}
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            text = re.sub(r"--[^\n]*", "", open(path).read())  # SQL comments
            for m in re.finditer(r"\bsum(_distinct)?\s*\(", text, re.I):
                i, depth, start = m.end(), 1, m.end()
                while i < len(text) and depth:
                    if text[i] == "(":
                        depth += 1
                    elif text[i] == ")":
                        depth -= 1
                    i += 1
                body = " ".join(text[start : i - 1].split())
                if "*" not in body:
                    continue
                if re.search(r"decimal|hugeint", body, re.I):
                    continue  # the moments.py discipline / HUGEINT mirror
                key = (rel, body)
                found[key] = found.get(key, 0) + 1
    return found


def test_no_unaudited_int64_power_sums():
    found = _scan()
    new = {k: c for k, c in found.items() if k not in ALLOWED}
    assert not new, (
        "unaudited sum-of-product aggregate site(s) — route through "
        "functions/moments.py (sum_sq_dec / m2_numerator + HUGEINT oracle) "
        f"or audit the overflow bound and add it to ALLOWED: {new}"
    )
    drifted = {
        k: (c, ALLOWED[k][0]) for k, c in found.items() if c != ALLOWED[k][0]
    }
    assert not drifted, f"allowed site count changed (found, expected): {drifted}"
    gone = {k for k in ALLOWED if k not in found}
    assert not gone, f"stale ALLOWED entries (site removed or rewritten): {gone}"


def test_sum_sq_dec_exact(spark):
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.functions.moments import (
        m2_numerator,
        sum_sq_dec,
    )

    # values whose int64 square-sum would overflow: 4 × (3.5e9)² ≈ 4.9e19 > 2^63
    big = 3_500_000_000
    df = spark.createDataFrame([(big,)] * 4, "x long")
    agg = df.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        sum_sq_dec(F.col("x")).alias("sxx"),
    )
    row = agg.select("n", "sx", "sxx", m2_numerator(
        F.col("n"), F.col("sx"), F.col("sxx")).alias("m2")).collect()[0]
    assert int(row["sxx"]) == 4 * big * big
    # constant series: n·Σx² − (Σx)² is exactly 0
    assert int(row["m2"]) == 0
    # and a non-constant one reproduces the exact integer numerator
    df2 = spark.createDataFrame([(big,), (big + 3,)], "x long")
    r2 = df2.agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"),
        sum_sq_dec(F.col("x")).alias("sxx"),
    ).select(m2_numerator(F.col("n"), F.col("sx"), F.col("sxx")).alias("m2")).collect()[0]
    assert int(r2["m2"]) == 2 * (big * big + (big + 3) ** 2) - (2 * big + 3) ** 2
    # NULL inputs (empty group) stay NULL — no evidence, not overflow
    empty = spark.createDataFrame([], "x long").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx"),
        sum_sq_dec(F.col("x")).alias("sxx"),
    ).select(m2_numerator(F.col("n"), F.col("sx"), F.col("sxx")).alias("m2")).collect()[0]
    assert empty["m2"] is None


def test_m2_numerator_overflow_never_silent(spark):
    # past 38 digits the product must RAISE in BOTH session modes —
    # ANSI raises natively; non-ANSI would silently NULL (and drop
    # rows from downstream predicates) without the guard (ADVICE r12)
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.functions.moments import m2_numerator

    from decimal import Decimal

    df = spark.createDataFrame(
        [(10, 0, Decimal(10**37))], "n long, sx long, sxx decimal(38,0)"
    )
    expr = m2_numerator(F.col("n"), F.col("sx"), F.col("sxx")).alias("m2")
    old = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for ansi in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", ansi)
            with pytest.raises((PySparkException, Py4JJavaError)):
                df.select(expr).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


def test_m2_numerator_null_input_sum_raises(spark):
    # ADVICE r13: if Σx or Σx² themselves overflowed their decimal SUM
    # in a non-ANSI session they arrive NULL while n > 0 — the guard
    # must raise there too, not wave the NULL through as "empty group".
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.functions.moments import m2_numerator

    expr = m2_numerator(F.col("n"), F.col("sx"), F.col("sxx")).alias("m2")
    schema = "n long, sx decimal(38,0), sxx decimal(38,0)"
    for row in [(10, None, 0), (10, 0, None)]:
        df = spark.createDataFrame(
            [(row[0],
              None if row[1] is None else __import__("decimal").Decimal(row[1]),
              None if row[2] is None else __import__("decimal").Decimal(row[2]))],
            schema,
        )
        with pytest.raises((PySparkException, Py4JJavaError)):
            df.select(expr).collect()
    # the genuinely-empty shapes still pass NULL through: n NULL (outer
    # join miss) and n == 0 (COUNT of an empty group) with NULL sums
    for n_val in (None, 0):
        df = spark.createDataFrame([(n_val, None, None)], schema)
        assert df.select(expr).collect()[0]["m2"] is None


def test_m2_numerator_n_contract(spark):
    # ADVICE r14: n must be COUNT(x) (the NON-NULL observation count).
    # A COUNT(x) caller over a nullable column is green even on an
    # all-NULL group (n == 0 -> NULL result, no raise); the same group
    # fed COUNT(*) hits the input-sum guard and raises — the contract
    # is documented in the docstring and pinned here.
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.functions.moments import (
        m2_numerator,
        sum_sq_dec,
    )

    df = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 3)], "g string, x long"
    )
    agg = df.groupBy("g").agg(
        F.count("x").alias("n_x"),
        F.count("*").alias("n_star"),
        F.sum(F.col("x").cast("decimal(19,0)")).alias("sx"),
        sum_sq_dec(F.col("x")).alias("sxx"),
    )
    # COUNT(x): the all-NULL group "a" has n_x == 0 -> NULL through
    ok = (
        agg.select("g", m2_numerator(F.col("n_x"), F.col("sx"), F.col("sxx")).alias("m2"))
        .orderBy("g")
        .collect()
    )
    assert ok[0]["m2"] is None and ok[1]["m2"] is not None
    # COUNT(*): group "a" arrives as n=2 with NULL sums — the guard
    # (correctly, per the documented contract) refuses it
    with pytest.raises((PySparkException, Py4JJavaError)):
        agg.select(m2_numerator(F.col("n_star"), F.col("sx"), F.col("sxx"))).collect()
