"""Regenerate PLANS.md: formatted physical plans + audit notes for
the headline queries. Run after plan-affecting changes."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_architecture_transaction_spark.plans import REGISTRY  # noqa: E402
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402

AUDITED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_revenue_delta",
    "top_parts_by_revenue",
    "top3_orders_per_customer",
    "events_asof_orders",
    "process_order_items_valid",
    "docs_minhash_lsh_pairs",
    "emb_knn_bruteforce",
    "emb_ann_ivf",
    "q8_market_share",
    "q13_order_count_distribution",
    "q21_sole_late_supplier",
    "docs_shuffled_batches",
    "docs_tfidf_top_terms",
    "docs_contamination",
    "docs_packed_sequences",
    "orders_grouping_sets",
    "customer_range_frame_spend",
    "emb_ann_multiprobe",
    "events_click_attribution",
    "emb_kmeans",
    "emb_ann_sq8",
    "docs_chunk_dup_docs",
    "events_rolling_distinct_users",
    "events_daily_anomalies",
    "merge_delete_orders",
    "docs_source_mixture_sample",
    "docs_pii_redaction",
    "events_user_transitions",
    "events_top_paths",
    "orders_market_basket",
    "docs_lm_familiarity",
    "emb_pca_project",
    "nation_yoy_growth",
    # round 4
    "supplier_revenue_pareto",
    "docs_winnowing",
    "customer_order_span",
    "orders_pctrank_in_segment",
    "docs_minhash_jaccard_est",
    "docs_top_quality_per_source",
    "emb_norm_outliers",
    "emb_nearest_centroid_confusion",
    "docs_near_dup_rate_by_source",
    "events_weekly_active_users",
    "events_session_window",
    "emb_product_quantize",
    "emb_ann_pq_adc",
    # round 5
    "emb_ann_lsh",
    "orders_pruned_scan_sql",
    "orders_salted_segment_revenue",
    "orders_lineitem_bucketed_join",
    "events_dau_mau_stickiness",
    "docs_lsh_precision",
    "emb_ann_ivfpq",
    "emb_semantic_dedup",
    # round 6
    "docs_hash_embed",
    "docs_quality_logistic",
    "docs_gopher_quality",
    "docs_shingle_novelty",
    "events_sketch_accuracy",
    "docs_grouped_folds",
    # round 7
    "docs_curation_pipeline",
    "events_mad_anomalies",
    "customer_mktseg_gini",
    "part_copurchase_triangles",
    "part_copurchase_jaccard",
    "docs_temperature_mixture",
    "docs_char_diversity",
    "emb_pq_reconstruction_error",
    # round 8 (the four events_stream_* registrations are NOT audited
    # here: each drains a bounded availableNow run into a memory sink
    # and returns a localCheckpointed frame, so the final "plan" is a
    # bare Scan ExistingRDD — the streaming plan itself is pinned by
    # tests/test_streaming.py and described in the query docstrings)
    "docs_ngram_containment",
    "events_cusum_drift",
    "part_supplier_hhi",
    "emb_ivf_cell_balance",
    "orders_backlog_daily",
    "nation_flow_matrix",
    # round 9 (the streaming trio events_stream_clicks /
    # events_stream_enriched / orders_stream_upsert_cdc is excluded for
    # the same availableNow-drain reason as the round-8 streaming rows)
    "orders_csv_roundtrip_stats",
    "orders_snapshot_timetravel_stats",
    "pipeline_three_dataset_summary",
    "orders_constraint_audit",
    "orchestration_landing_audit",
    "orders_restore_clone_audit",
    # round 10 (events_stream_sessions_stateful is excluded for the
    # same availableNow-drain reason as the other streaming rows: its
    # final plan is the drained memory sink's Scan ExistingRDD; the
    # operator plan is pinned by tests/test_streaming.py)
    "docs_priority_sample",
    "docs_dup_spans",
    "docs_split_leakage",
    "catalog_inclusion_profile",
    "events_seasonal_decompose",
    "orders_revenue_autocorr",
    "docs_vocab_growth",
    "docs_source_distinctive_terms",
    # round 11
    "lineitem_shipdelay_trend",
    "customer_survival_curve",
    "events_touch_attribution",
    "docs_langid_confusion",
    "emb_pair_sim_histogram",
    "orders_gdpr_erasure_audit",
    "orders_benford_audit",
    "docs_bpe_merges",
]

#: per-query audit notes appended under the stats line — used where
#: the final plan alone would mislead (e.g. memo-fed queries whose
#: upstream stages ran eagerly at checkpoint time).
NOTES = {
    "events_top_paths": (
        "The r13 bounded-state shape: `WindowGroupLimit` appears on BOTH "
        "sides of the exchange — Catalyst pushes the row_number<=5 rank "
        "limit below the shuffle, so each map partition forwards at most "
        "5 rows per (user, day) and the sort/exchange volume is bounded "
        "by 5 x groups x partitions, not raw event volume; the path "
        "collect then sees <=5-row groups (the collect_list OOM class "
        "the pre-r13 whole-group collect carried)."
    ),
    "orders_market_basket": (
        "`Scan ExistingRDD` is the session-memoized co-purchase pair frame "
        "(graph.py `_copurchase_pairs`): the fact scan + distinct + "
        "orderkey-co-partitioned self-join + pair aggregate run ONCE per "
        "session at checkpoint time and are shared with part_pagerank / "
        "part_copurchase_jaccard / part_copurchase_triangles."
    ),
    "part_copurchase_jaccard": (
        "Both `Scan ExistingRDD`s are shared session memos (distinct "
        "(order, part) frame + weighted pair frame, graph.py); the "
        "degree joins broadcast from the materialized frames."
    ),
    "part_copurchase_triangles": (
        "Reads the shared pair-frame memo (graph.py), orients edges by "
        "(degree, id), builds oriented out-adjacency lists, and closes "
        "triangles with a per-edge array_intersect — open wedges never "
        "reach a shuffle; adjacency arrays are capped at ~sqrt(m) by the "
        "orientation. r11 regression closure (VERDICT r10 item 2): the "
        "r10 driver capture read 4.47 s vs the builder's same-weather "
        "2.99 s (mc anchors 1.86 vs 1.89 — NOT machine drift). Measured "
        "cause: the wedge exchanges move only a few MB of long pairs/"
        "arrays, so AQE's byte-targeted partition coalescing folded the "
        "compute-dense array_intersect stages to 4 tasks on 32 cores, "
        "and the orientation localCheckpoint materialized on ONE task "
        "(1.2-1.8 s single-threaded per run). Fix: user-numbered "
        "repartition(spark.sql.shuffle.partitions, src/dst) around the "
        "checkpoint and before the closing join — REPARTITION_BY_NUM is "
        "exempt from AQE coalescing, and the width is config-derived, "
        "not hardcoded. Before/after at sf0.1 local[32], min-of-3 fresh "
        "sessions: 4.52 s -> 2.84-3.15 s (three probes), back at the "
        "r7-r9 ~2.9 s band. Pinned by test_plans (>=2 REPARTITION_BY_NUM "
        "exchanges must stay in the plan)."
    ),
    "emb_ivf_cell_balance": (
        "`Scan ExistingRDD` is the session-memoized served IVF index "
        "(plans/ann.py `_ivf_index` — the same clustered corpus the "
        "search paths probe); the audit itself is one cell-cardinality "
        "aggregate + a broadcast 1-row total."
    ),
    "orders_backlog_daily": (
        "The running backlog sum routes through exact_global_cumsum's "
        "bucketed prefixes (operators/ranking.py): the Window nodes are "
        "partitioned by the epoch-day range bucket, never a single "
        "partition; `Scan ExistingRDD` is the checkpointed day-delta "
        "frame the rank machinery materializes once."
    ),
    "orders_csv_roundtrip_stats": (
        "The CSV landing zone (base orders + staged corrupt lines) is "
        "written once per (app, sf_dir); the audited plan is the "
        "PERMISSIVE csv scan with the parsed/corrupt split as map-side "
        "filters on the corrupt-record column — one pass, no shuffle "
        "before the final 1-row aggregates."
    ),
    "orders_snapshot_timetravel_stats": (
        "Both `Scan parquet` nodes read versioned LakeTable snapshots "
        "(v0 and current) from the per-(app, sf_dir) memoized table; "
        "each side is a status-partitioned scan feeding a per-status "
        "aggregate — time travel costs a manifest lookup, not a diff "
        "replay."
    ),
    "pipeline_three_dataset_summary": (
        "The reference's three-dataset flow (pipelines.py) runs ONCE "
        "per (app, sf_dir) at memo time; the audited plan reads the "
        "committed lakehouse outputs and unions three 1-row aggregate "
        "scans — orchestration cost is in the commits, not this read."
    ),
    "orders_constraint_audit": (
        "The violating merge was refused at memo time (constraint = one "
        "filtered LIMIT-1 probe of the incoming commit); the audited "
        "plan is one aggregate scan of the surviving snapshot plus a "
        "broadcast 1-row count of the refused update."
    ),
    "orchestration_landing_audit": (
        "Event-driven orchestration (orchestration.py) ran at memo "
        "time — landing → trigger → processed/rejected routing; the "
        "audited plan unions per-zone aggregate scans of the committed "
        "outputs."
    ),
    "orders_restore_clone_audit": (
        "create→merge→clone→restore ran at memo time (copy-on-write "
        "commits); the audited plan is three snapshot aggregate scans "
        "(clone, restored current, v1 history) unioned — RESTORE moves "
        "the head forward, so v1 stays a manifest lookup."
    ),
    "docs_priority_sample": (
        "TakeOrderedAndProject keeps a 51-row heap per partition (top "
        "k+1 by the deterministic md5 priority), so cross-partition "
        "traffic is k+1 rows per partition at any corpus size; tau and "
        "the estimator are a broadcast 1-row frame."
    ),
    "docs_dup_spans": (
        "The duplicate-window shuffle keys on unhex(md5(window)) — a "
        "fixed 16-byte binary, ~3x less key volume than the 50-char "
        "substring at identical equivalence classes (128-bit md5: "
        "~1e-15 expected collisions at 1e12 windows, no confirm pass; "
        "the r10 registered production shape, r9 verdict item 4). "
        "Position explode is row-local; span merge windows partition "
        "by (doc, island), never globally."
    ),
    "docs_split_leakage": (
        "`Scan ExistingRDD` is the session-memoized LSH pair frame "
        "(plans/dedup.py `_cand_pairs_frame` — shared with L4/L17/L43/"
        "L59/L65/L67); the audit itself is the pair frame joined twice "
        "to the hash-split assignment (broadcast — split table is "
        "doc_id+class only) and one class-pair aggregate."
    ),
    "catalog_inclusion_profile": (
        "Per-column DISTINCT aggregates run first (shuffles at distinct "
        "cardinality, not row count); candidate edges then full-outer "
        "join distinct SETS — a row-level join of the base tables never "
        "appears in the plan."
    ),
    "events_seasonal_decompose": (
        "All three windows (centered 7-day trend RANGE frame, per-"
        "weekday seasonal mean, residual) run at DAY cardinality after "
        "one map-side-combined daily aggregate of the fact scan — the "
        "windows never see event rows."
    ),
    "orders_revenue_autocorr": (
        "Daily revenue aggregates once (map-side combine, exact "
        "hundred-dollar BIGINT units); the 7 lag joins and moment sums "
        "run at day cardinality; `Scan ExistingRDD` is the "
        "checkpointed day frame serving all lags."
    ),
    "docs_vocab_growth": (
        "V(t) comes from ONE first-occurrence (min doc-id) aggregate at "
        "vocabulary cardinality serving all 8 cuts via a broadcast "
        "8-row cut frame; token totals are row-local size() sums — "
        "probe measured ~0 MB shuffle at every factor."
    ),
    "docs_source_distinctive_terms": (
        "`Scan ExistingRDD` is the localCheckpointed (source, token) "
        "count frame (three consuming re-aggregations: per-source "
        "totals, corpus totals, rank); the lift is exact BIGINT "
        "products with one double division; the rank window partitions "
        "per source at per-source vocabulary cardinality."
    ),
    "customer_mktseg_gini": (
        "Round 8: the spend rank runs through grouped_exact_rank "
        "(operators/ranking.py) — the Window is partitioned by "
        "(c_mktsegment, __rb value bucket), not the bare 5-value "
        "segment; offsets come from a broadcast triangular join over "
        "the (segment × bucket) count table. `Scan ExistingRDD` is the "
        "checkpointed customer-spend aggregate."
    ),
    "lineitem_shipdelay_trend": (
        "The lineitem⋈orders fact-fact join reduces immediately to "
        "per-nation int64 OLS moments (map-side combine at ~25 "
        "groups); supplier/nation dims broadcast by explicit hint "
        "(the r11 broadcast-audit adjudication: the orders side may "
        "only AQE-broadcast while its runtime size sits under the "
        "ceiling — past it the same stats flip to shuffle join with "
        "the moment shape unchanged)."
    ),
    "customer_survival_curve": (
        "The k-point >= theta join is a BroadcastNestedLoopJoin whose "
        "build side is the MONTH-cardinality lifetime histogram (13 "
        "rows), never per-customer spans — the r10 pre-registration "
        "fix; pinned by test_plans (every BroadcastExchange input must "
        "carry life_months and no o_custkey)."
    ),
    "events_touch_attribution": (
        "Purchase×touch pair space comes from the bucketed interval "
        "join (hour-bucket equi-keys + range filter, never a raw "
        "theta-join); first/last ranks window per purchase with "
        "event_id tie-breaks; credits are exact integer counts with "
        "one ÷2.0."
    ),
    "docs_langid_confusion": (
        "Reuses the registered langid plan (broadcast lexicon join + "
        "per-doc argmax); `Scan ExistingRDD` is the checkpointed "
        "(true, predicted) matrix frame — the per-class totals and "
        "shares re-aggregate it rather than replaying the corpus scan."
    ),
    "emb_pair_sim_histogram": (
        "`Scan ExistingRDD` is the session-memoized capped LSH pair "
        "frame (shared with L4/L17/L43/L59/L65/L67); the baseline is "
        "an id-shifted self-join at corpus cardinality; both cosine "
        "branches fold deterministically before the 0.1-bin floor, so "
        "bins are exact."
    ),
    "orders_gdpr_erasure_audit": (
        "The copy-on-write erasure (MERGE-delete of the heaviest "
        "customer) committed at memo time; the audited plan unions "
        "snapshot aggregate scans (pre/post/CDF diff) of the versioned "
        "LakeTable — the audit reads manifests, not a replay of the "
        "rewrite."
    ),
    "orders_benford_audit": (
        "First significant digit via one map-side string expression "
        "over the pruned o_totalprice scan, a 9-group aggregate, and "
        "the Benford expectations as a broadcast 9-row literal frame "
        "(log10 constants embedded from Python at plan build — no "
        "runtime log in either engine)."
    ),
    "docs_bpe_merges": (
        "The iterative trainer (operators/text.py bpe_learn_merges — "
        "per-round pair-count aggregate + 1-row argmax broadcast + "
        "merge apply, lineage-checkpointed per round) ran at build "
        "time; the audited plan reads the checkpointed 8-row merge "
        "table. No driver-side corpus collect at any round — pinned "
        "by tests/test_properties.py against a Python reference."
    ),
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans", cpus=8)
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by tools/dump_plans.py at {os.path.basename(sf_dir)};",
        "plan-shape INVARIANTS are enforced by tests/test_plans.py — this",
        "file is the human-readable audit trail.",
        "",
    ]
    for name in AUDITED:
        df = REGISTRY[name].fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        out += [
            f"## {name}",
            "",
            "```",
            tree.strip(),
            "```",
            "",
            f"- scans: {len(schemas)}, read widths: {[len(s.split(',')) for s in schemas]} cols",
            f"- pushed filters: {[p for p in pushed if p.strip()] or 'none (no filters in query)'}",
            f"- broadcast joins: {plan.count('BroadcastHashJoin')}, "
            f"shuffle exchanges: {len(re.findall(r'[^t] Exchange', plan))}, "
            f"sort-merge joins: {plan.count('SortMergeJoin')}",
            "",
        ]
        if name in NOTES:
            out += [f"- note: {NOTES[name]}", ""]
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # preserve the maintained tail blocks (bench delta — tools/
    # bench_delta.py — and the ANN frontier — tools/ann_frontier.py)
    frontier = ""
    if os.path.exists(path):
        prev = open(path).read()
        m = re.search(
            r"## Cross-round normalized bench delta.*", prev, re.DOTALL
        ) or re.search(r"## ANN recall/latency frontier.*", prev, re.DOTALL)
        if m:
            frontier = "\n" + m.group(0).rstrip() + "\n"
    with open(path, "w") as f:
        f.write("\n".join(out) + frontier)
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
