"""Standing 100 TB discipline checks: unbounded collect_list/set
groups, single-task global windows, and crossJoin sites (r13,
generalizing the moment-discipline pattern of
tests/test_moment_discipline.py).

Three hazard classes that pass every small-SF gate and fail only at
corpus scale:

1. ``collect_list``/``collect_set`` materializes a whole group in one
   task's memory — fine when the group is structurally bounded (a
   vector's dims, a codebook's codes, a trained merge table), an OOM
   when it is data-sized (a hot user's events: the class the r13
   events_top_paths rewrite removed by collecting per-partition
   prefixes first). Every site must carry an audited bound below;
   a NEW site fails here until reviewed.

2. ``Window.orderBy(...)`` without ``partitionBy`` funnels the whole
   frame through ONE task. Legitimate only on frames already
   aggregated to calendar/dimension cardinality; anything row-scaled
   takes the bucketed prefix-sum pattern (operators/ranking.py).

3. ``crossJoin`` multiplies cardinalities — a data x data cross join
   is quadratic output. Every site in the tree is the broadcast-
   yardstick pattern (one side a 1-row aggregate or a constant-
   cardinality frame: a quantile threshold, a corpus total, the d-row
   covariance matrix, the 8-row merge table); the audit pins each
   site so a new one gets reviewed for which side is constant-bounded.

Keys are PER-SITE — (file, innermost enclosing def) with an exact
occurrence count (r13 verdict item 5: the per-FILE counts could let a
new site silently absorb a simultaneously-removed old one in the same
file; a function-scoped key can't — a moved, swapped, or added site
changes some key's count). Module-level sites key as "<module>".
"""

from __future__ import annotations

import ast
import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "lakehouse_architecture_transaction_spark")

#: (relpath, enclosing def) -> (expected collect_list/set count, bound)
COLLECT_ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("plans/behavior.py", "events_top_paths"):
        (1, "path assembly collects AFTER the row_number<=5 filter — group "
            "hard-bounded by the constant 5 (r13 rewrite; the window's "
            "per-group buffer is disk-spillable, unlike a collect's array "
            "state)"),
    ("plans/emb.py", "_centroids"):
        (1, "centroid matrix assembly at label x dim cardinality "
            "(<= labels * 64 rows per group)"),
    ("plans/graph.py", "part_copurchase_triangles"):
        (1, "forward-adjacency: degree-ordered orientation bounds per-src "
            "out-degree by O(sqrt m) — hubs never fan out"),
    ("plans/sampling.py", "docs_temperature_mixture"):
        (1, "source-counts fold at source cardinality (~10)"),
    ("plans/text.py", "docs_bpe_invariants"):
        (2, "folds over the trained BPE merge table (8 rows by construction)"),
    ("plans/tpch.py", "part_price_dispersion_by_type"):
        (1, "weighted-median fold over the (type, cent) grid — bounded by "
            "the price domain, not row count"),
    ("operators/similarity.py", "_assign"):
        (1, "k centroid rows into one broadcastable array (k <= 256)"),
    ("operators/similarity.py", "_packed_codes"):
        (1, "per-vector packed code array at subspace cardinality "
            "(m subspaces, structural)"),
    ("operators/similarity.py", "_packed_dtable"):
        (2, "ADC distance-table assembly: 256-code map per subspace, then "
            "the m-subspace list (structural)"),
    ("operators/similarity.py", "assign"):
        (1, "centroid array for the kmeans assign step (k rows)"),
    ("operators/similarity.py", "kmeans_centroids"):
        (1, "centroid component fold at dim cardinality (<= 64)"),
    ("operators/similarity.py", "pca_power_project"):
        (4, "gram/eigenvector row assembly at d x d (d <= 64, structural)"),
    ("operators/similarity.py", "pq_pack_index"):
        (2, "codebook centroid assembly (<= 256 per subspace) and the "
            "m-subspace list"),
    ("operators/similarity.py", "product_quantize"):
        (1, "codebook centroid assembly at dim cardinality (<= 64)"),
    ("operators/similarity.py", "sq8_topk"):
        (1, "per-vector dequantized reconstruction at dim cardinality "
            "(<= 64)"),
    ("operators/similarity.py", "variance_top_dims"):
        (1, "selected top-dim position list (<= 64)"),
    ("operators/text.py", "<module>"):
        (1, "BPE merge-table expr (8 rows by construction)"),
    ("operators/text.py", "hash_embed"):
        (1, "per-word hash-bucket map (<= bucket constant per word)"),
}

#: (relpath, enclosing def) -> (expected Window.orderBy-without-
#: partitionBy count, bound)
GLOBAL_WINDOW_ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("plans/events.py", "events_weekly_active_users"):
        (1, "lag over the WEEK rollup — calendar cardinality (thousands of "
            "rows at any corpus size)"),
    ("operators/timeseries.py", "seasonal_decompose"):
        (1, "centered moving average over the DAY rollup — calendar "
            "cardinality"),
    ("operators/similarity.py", "variance_top_dims"):
        (1, "matryoshka dim ranking over per-DIM variance rows (<= 64)"),
}

#: (relpath, enclosing def) -> expected .crossJoin( count. Audited
#: 2026-08-16 (per-site re-audit of the r13 per-file inventory): every
#: site joins a 1-row aggregate (corpus totals, thresholds, shift/tau
#: yardsticks, funnel counts) or a constant-cardinality broadcast
#: frame (d-row covariance/eigenvector iterates, k centroids, 256-code
#: distance maps, the 8-row BPE merge table, dangling-mass 1-row in
#: pagerank) — no data x data cross join exists in the tree.
CROSSJOIN_ALLOWED: dict[tuple[str, str], int] = {
    ("operators/graph.py", "pagerank"): 1,
    ("operators/ranking.py", "ntile_exact"): 1,
    ("operators/sampling.py", "priority_sample"): 1,
    ("operators/similarity.py", "_assign"): 1,
    ("operators/similarity.py", "_ivf_probe"): 1,
    ("operators/similarity.py", "_packed_dtable_mapside"): 1,
    ("operators/similarity.py", "cosine_topk"): 1,
    ("operators/similarity.py", "lsh_var_build"): 1,
    ("operators/similarity.py", "pca_power_project"): 5,
    ("operators/similarity.py", "pq_adc_topk"): 1,
    ("operators/text.py", "bpe_learn_merges"): 1,
    ("operators/text.py", "bpe_segment"): 1,
    ("operators/text.py", "source_distinctive_terms"): 1,
    ("operators/text.py", "tfidf_top_terms"): 1,
    ("plans/events.py", "events_funnel"): 2,
    ("plans/events.py", "events_hourly_seasonality"): 1,
    ("plans/window.py", "orders_weekday_profile"): 1,
    ("plans/tpch.py", "q11_important_parts"): 1,
    ("plans/tpch.py", "q22_idle_rich_customers"): 1,
    ("plans/behavior.py", "events_bot_users"): 1,
    ("plans/window.py", "customer_rfm_segments"): 1,
    ("plans/window.py", "supplier_revenue_pareto"): 1,
    ("plans/text.py", "docs_length_histogram"): 1,
    ("plans/emb.py", "emb_centroid_distance_matrix"): 1,
    ("plans/emb.py", "emb_nearest_centroid_confusion"): 1,
    ("plans/emb.py", "emb_norm_outliers"): 1,
    ("plans/sampling.py", "docs_temperature_mixture"): 1,
    ("plans/window.py", "customer_survival_curve"): 1,
    ("plans/text.py", "docs_bpe_invariants"): 3,
    ("plans/dedup.py", "emb_pair_sim_histogram"): 1,
    ("plans/etl.py", "orders_benford_audit"): 1,
    ("plans/tpch.py", "orders_order_size_histogram"): 1,
    ("plans/tpch.py", "lineitem_discount_profile"): 1,
    ("plans/sampling.py", "docs_dsir_select"): 3,
    ("plans/ann.py", "emb_ivf_cell_balance"): 1,
    ("plans/etl.py", "orders_constraint_audit"): 1,
    ("plans/etl.py", "orders_csv_roundtrip_stats"): 1,
}


def _scan(pattern: str) -> dict[tuple[str, str], int]:
    """Count regex matches per (file, innermost enclosing def).

    Comment lines (first non-space char '#') are stripped before
    matching (ADVICE r14): a prose comment mentioning an audited
    construct is not a site, and counting it couples the audit to
    comment wording."""
    found: dict[tuple[str, str], int] = {}
    rx = re.compile(pattern)
    for dirpath, _, files in os.walk(PKG):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, PKG).replace(os.sep, "/")
            raw = open(path).read()
            # blank out comment lines in place (offsets preserved so
            # lineno attribution below stays exact)
            text = "\n".join(
                "" if ln.lstrip().startswith("#") else ln
                for ln in raw.split("\n")
            )
            defs = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(ast.parse(text))
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for m in rx.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                enc = [d for d in defs if d[0] <= line <= d[1]]
                name = min(enc, key=lambda d: d[1] - d[0])[2] if enc else "<module>"
                key = (rel, name)
                found[key] = found.get(key, 0) + 1
    return found


def _expected(allowed, key):
    v = allowed[key]
    return v[0] if isinstance(v, tuple) else v


def _check(found: dict, allowed: dict, what: str):
    new = {k: c for k, c in found.items() if k not in allowed}
    assert not new, (
        f"unaudited {what} site(s) — audit the group/frame bound and add to the "
        f"allowlist (or restructure: two-level prefix collect / bucketed prefix-sum "
        f"rank / broadcast yardstick): {new}"
    )
    drifted = {
        k: (c, _expected(allowed, k))
        for k, c in found.items()
        if c != _expected(allowed, k)
    }
    assert not drifted, f"{what} count changed (found, expected): {drifted}"
    gone = {k for k in allowed if k not in found}
    assert not gone, f"stale {what} allowlist entries (site moved/removed): {gone}"


def test_no_unaudited_collect_groups():
    _check(_scan(r"collect_(list|set)\s*\("), COLLECT_ALLOWED, "collect_list/set")


def test_no_unaudited_global_windows():
    _check(_scan(r"Window\.orderBy\s*\("), GLOBAL_WINDOW_ALLOWED, "global-window")


def test_no_unaudited_cross_joins():
    _check(_scan(r"\.crossJoin\s*\("), CROSSJOIN_ALLOWED, "crossJoin")


def test_top_paths_collect_group_is_bounded(spark):
    # the rewrite's safety property, isolated: whatever a (user, day)
    # group's raw volume, the frame reaching the collect carries at
    # most 5 rows per group — the collect's array state can never be
    # data-sized (r13; the pre-rewrite shape collected the whole
    # user-day)
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(1, i, i, f"e{i % 7}") for i in range(400)]
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, event_type string"
    ).repartition(8)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    first5 = ev.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= 5)
    assert first5.count() == 5
    seq = first5.groupBy("user_id").agg(
        F.expr("array_sort(collect_list(struct(__rn, event_type)))").alias("seq")
    ).collect()[0]["seq"]
    assert [r["event_type"] for r in seq] == ["e0", "e1", "e2", "e3", "e4"]
