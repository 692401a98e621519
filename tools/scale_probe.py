"""Scale-up probe: replicate the sf0.1 tables ×2/×4/×8 with consistent
key offsets, rerun representative registry queries on each scaled
copy, and record how wall time grows vs data volume — measured
evidence for the "would this plan hold at 1000×?" question that a
fixed-sf bench cannot answer.

Replication model (how real scale-up behaves, not naive row copies):
- FACT/ENTITY tables (customer, orders, lineitem, part, supplier,
  events, documents, embeddings) are replicated with every entity key
  shifted by replica × (max_key + 1), using ONE shared offset per
  entity across all referencing tables — FK joins stay 1:1-shaped and
  the join key space grows with the data, exactly like a bigger
  corpus (no artificial hot keys, no broken RI).
- DIMENSIONS (region, nation) are NOT replicated — 25 nations serve
  any corpus size, so broadcast-side cardinality stays fixed at scale.
- Document text gets a per-replica suffix and embeddings a per-replica
  tail perturbation so dedup/ANN ops see a GROWN corpus rather than r
  exact copies of the old one (which would degenerate every
  similarity bucket).

Measured action: a noop-sink write of the full result (every column,
executor-side discard). Earlier rounds used .count(), which Catalyst
partially PRUNES — ungrouped-aggregate unions and map-only
projections collapse to row-count shortcuts, so their rows measured
less than the real query (fixed round 11; the whole table is
regenerated under the noop action).

Usage: python tools/scale_probe.py [--factors 1,2,4,8] [--only=q,...] [--update-md]
Writes per-factor parquet to /tmp/spark_graft_scale/x{f}/ (reused if
present) and, with --update-md, rewrites the table in SCALE.md (with
--only, merges the probed rows into it).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_transaction_spark.measure import SparkUI, timed_run, warm_up  # noqa: E402
from tools.skew_probe import _write_block  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_scale"

#: entity → (home table, key column) — the offset source of truth.
#: events.user_id shares the CUSTKEY space (events_asof_orders joins
#: e.user_id = o_custkey), so it must use the custkey offset — its own
#: max (1499 at sf0.1) would land every replica's users inside the
#: base custkey range and silently break the FK the probe promises.
ENTITIES = {
    "custkey": ("customer", "c_custkey"),
    "orderkey": ("orders", "o_orderkey"),
    "partkey": ("part", "p_partkey"),
    "suppkey": ("supplier", "s_suppkey"),
    "event": ("events", "event_id"),
    "doc": ("documents", "doc_id"),
    "vec": ("embeddings", "vec_id"),
}

#: table → {column: entity} for key shifting
KEYMAP = {
    "customer": {"c_custkey": "custkey"},
    "orders": {"o_orderkey": "orderkey", "o_custkey": "custkey"},
    "lineitem": {"l_orderkey": "orderkey", "l_partkey": "partkey", "l_suppkey": "suppkey"},
    "part": {"p_partkey": "partkey"},
    "supplier": {"s_suppkey": "suppkey"},
    "events": {"event_id": "event", "user_id": "custkey"},
    "documents": {"doc_id": "doc"},
    "embeddings": {"vec_id": "vec"},
}

DIMS = ["region", "nation"]

#: one file count for EVERY factor — matches local[32] task slots
N_FILES = 32

#: representative shapes: scan-agg, shuffle join, window machinery,
#: dedup PK, shingle/banding explosion, as-of, vector scan, sessions
PROBES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q18_large_volume_customers",
    "dedup_pk_lineitem",
    "top3_orders_per_customer",
    "sessionize_events",
    "events_asof_orders",
    "docs_minhash_lsh_pairs",
    "docs_token_stats",
    "emb_knn_bruteforce",
    # iterative / machinery-heavy shapes
    "docs_dup_clusters",
    "orders_pctrank_in_segment",
    "scd2_customer_history",
    "orders_market_basket",
    "emb_ann_ivf",
    # round-6 additions: hash-embed pack, prefix-novelty join-back,
    # map-only rule filter (the new curation shapes)
    "docs_hash_embed",
    "docs_shingle_novelty",
    "docs_gopher_quality",
    # round-7 addition: the wedge join is the one potentially
    # super-linear stage — the degree-ordered orientation should show
    # as near-linear time/shuffle growth (hubs never fan out)
    "part_copurchase_triangles",
    # r10-queue additions (queued, resolved via _fn fallback):
    # distinct-set full-outer joins ×8 edges (the FK-discovery shape —
    # shuffles at DISTINCT cardinality, which grows with the shifted
    # key spaces), and the pair-frame × split-frame classification
    # joins (incremental cost on top of the shared LSH memo)
    "catalog_inclusion_profile",
    "docs_split_leakage",
    # round-8 additions (VERDICT r7 item 8): the iterative 1-row-argmax
    # BPE trainer (per-round aggregate + broadcast merge apply — the
    # shape where a hidden driver round-trip would show as super-linear
    # scheduler cost), the 4-branch checkpointed growth ledger, and the
    # Gini rerouted through the bucketed-prefix grouped rank (item 2 —
    # the fix must hold its flat-time/linear-shuffle shape, not just
    # pass the plan test)
    "docs_bpe_merges",
    "events_growth_accounting",
    "customer_mktseg_gini",
    # round-8 registrations: the STREAMING family's first scale rows.
    # Each is the real pipeline as a bounded availableNow run over an
    # 8-file staging zone with maxFilesPerTrigger=4 (2 stateful
    # micro-batches at every factor, 8× rows per file at ×8 — per-batch
    # state-merge work grows with the data, batch count stays fixed).
    # Caveat recorded in SCALE.md: hourly/trending/sessions run the
    # bounded-run harness mode (complete, no eviction); production is
    # append mode where the watermark bounds state, so these curves
    # bound the worst case (full-state recompute per batch).
    "events_stream_hourly",
    "events_stream_trending",
    "events_stream_sessions",
    "events_stream_dedup",
    # round-9 registrations (VERDICT r8 item 5): the stream-stream
    # interval join (state = per-user clicks inside the horizon — the
    # one streaming shape whose state scales with the DATA, not the
    # window grain), the stateless broadcast enrichment (control:
    # per-batch broadcast join, no state), and the foreachBatch
    # upsert-CDC loop (per-batch MERGE commits into a versioned
    # LakeTable — prices per-batch commit cost + snapshot-chain
    # growth, the shape SCALE.md had not measured).
    "events_stream_clicks",
    "events_stream_enriched",
    "orders_stream_upsert_cdc",
    # round-9 tenth-slot registration: priority sampling — the
    # TakeOrderedAndProject top-(k+1) per-partition-heap shape; the
    # probe should show near-flat time and shuffle bounded by
    # k × partition count, independent of corpus growth.
    "docs_priority_sample",
    # queued-queue risk shapes probed ahead of their registration
    # rounds (resolved via the _fn fallback):
    # - docs_dup_spans (r10): the documented ~window× position
    #   amplification — posexplode to per-position 50-char keys, ONE
    #   shuffle at position cardinality; shuffle should scale linearly
    #   with corpus chars (the 100 TB variant ships xxhash64(window)
    #   keys instead, same plan shape).
    # - docs_vocab_growth (r10): first-occurrence aggregate — shuffle
    #   at token-instance cardinality, output at vocabulary
    #   cardinality (sub-linear by Heaps' law).
    # - emb_pair_sim_histogram (r11): the pair-space shape — capped
    #   LSH pair miner + id-shifted baseline self-join; linear-in-
    #   regime proof that no all-pairs stage hides in the branches.
    "docs_dup_spans",
    "docs_vocab_growth",
    "emb_pair_sim_histogram",
    # r11-queue probes (round 10, ahead of registration):
    # - lineitem_shipdelay_trend: the one fact-fact equi-join in the
    #   batch (lineitem⋈orders) reduced to nation-cardinality moments
    #   — shuffle should track the join linearly, output fixed.
    # - customer_survival_curve: re-probed on the round-10 reshape
    #   (month-histogram build side) — time should be flat, shuffle at
    #   customer-span aggregate cardinality, nothing broadcast-heavy.
    # - orders_gdpr_erasure_audit: lakehouse copy-on-write erasure
    #   commits at memo time + audited snapshot scans — prices the
    #   erasure rewrite's growth with table size.
    "lineitem_shipdelay_trend",
    "customer_survival_curve",
    "orders_gdpr_erasure_audit",
    # r14-queue probes (round 11 second wave, ahead of registration):
    # - catalog_fd_profile: 8 independent distinct-aggregates — shuffle
    #   at distinct-(det,dep) cardinality (grows with the shifted key
    #   spaces), zero joins; time should stay near-flat.
    # - docs_dsir_select: (doc,bucket) count + 64-row broadcast weights
    #   + top-k heaps — shuffle linear in token volume, nothing
    #   corpus-sized broadcast.
    # - emb_matryoshka_recall: two brute-force yardstick scans (full +
    #   sliced projection) — linear corpus scans, Q×k result joins.
    # - docs_quality_calibration: two map-only feature passes + doc-id
    #   join + bucketed-prefix NTILE — the grouped-rank funnel shape at
    #   corpus cardinality.
    "catalog_fd_profile",
    "docs_dsir_select",
    "emb_matryoshka_recall",
    "docs_quality_calibration",
    # - catalog_column_stats: 17 independent single-column
    #   count_distinct aggregates — shuffle at per-column distinct
    #   cardinality, zero joins.
    "catalog_column_stats",
    # r12 registrations (VERDICT r11 item 5 — scale rows at
    # registration time). Expected shapes: orderkey-grouped count →
    # 14-bucket histogram (map-side combine); distinct-(supp,part)
    # degree aggregates; per-customer decimal moment aggregate +
    # top-100 TakeOrdered; two nation-keyed decimal rollups; per-type
    # robust-median over part; distinct-user pair overlap at type-pair
    # cardinality; 11-bucket discount rollup; 24-row hourly
    # concentration; and the BPE invariant companion (vocab-sized
    # folds + the shared trainer memo).
    "orders_order_size_histogram",
    "supplier_part_degree_profile",
    "customer_order_value_cv",
    "nation_trade_balance",
    "part_price_dispersion_by_type",
    "events_usertype_overlap",
    "lineitem_discount_profile",
    "events_hourly_concentration",
    "docs_bpe_invariants",
    # r7-stale cohort (VERDICT r11 item 6): none of these had a
    # noop-era scale row. Expected shapes: map-only chunkers/redaction/
    # quantize/projections (flat time, near-zero shuffle); chunk-hash
    # dup groupBy; cluster-size recount; bigram-LM join; weighted
    # reservoir TakeOrdered; per-source mixture sample; SQ8 rerank on
    # the memoized index; per-dim moment aggregate; 7-day rolling
    # distinct via explode (shuffle linear in days×users); Arrow
    # mapInPandas feature extraction (flat per-row cost).
    "docs_char_chunks",
    "docs_chunk_dup_docs",
    "docs_dup_cluster_sizes",
    "docs_lm_familiarity",
    "docs_pii_redaction",
    "docs_reservoir_sample",
    "docs_source_mixture_sample",
    "emb_ann_sq8",
    "emb_dim_stats",
    "emb_int8_quantize",
    "events_rolling_distinct_users",
    "mm_features",
    "mm_frame_features",
]


def build_scaled(spark, factor: int) -> str:
    out_dir = os.path.join(OUT, f"x{factor}")
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    offs = {
        ent: spark.read.parquet(f"{BASE}/{tbl}.parquet").agg(
            (F.max(col) + 1).alias("m")
        ).collect()[0]["m"]
        for ent, (tbl, col) in ENTITIES.items()
    }
    for t in DIMS:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out_dir}/{t}.parquet"
        )
    for t, keys in KEYMAP.items():
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        reps = []
        for r in range(factor):
            rep = df
            for col, ent in keys.items():
                rep = rep.withColumn(col, (F.col(col) + F.lit(r * offs[ent])).cast("bigint"))
            if t == "documents" and r > 0:
                # grown corpus, not r carbon copies: keep most shingles
                # (realistic near-dup rates) but break exact identity
                rep = rep.withColumn("text", F.concat(F.col("text"), F.lit(f" r{r}")))
                rep = rep.withColumn("n_chars", F.col("n_chars") + F.lit(len(f" r{r}")))
            if t == "embeddings" and r > 0:
                # deterministic small tail rotation per replica
                rep = rep.withColumn(
                    "embedding",
                    F.expr(
                        f"transform(embedding, (x, i) -> CAST(x + {r} * 1e-3 * "
                        "CASE WHEN i % 2 = 0 THEN 1 ELSE -1 END AS FLOAT))"
                    ),
                )
            reps.append(rep)
        scaled = reps[0]
        for rep in reps[1:]:
            scaled = scaled.unionByName(rep)
        # SAME file count at every factor: per-task row volume scales
        # with the data, and the ×1 baseline gets the same read
        # parallelism as ×8 (a factor-proportional file count made ×1
        # parallelism-starved and deflated every ratio).
        scaled.repartition(N_FILES).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir


def main() -> None:
    global PROBES
    factors = [1, 2, 4, 8]
    only: list[str] | None = None
    argv = sys.argv[1:]
    for i, a in enumerate(argv):
        if a == "--factors" and i + 1 < len(argv):
            factors = [int(x) for x in argv[i + 1].split(",")]
        elif a.startswith("--factors="):
            factors = [int(x) for x in a.split("=", 1)[1].split(",")]
        elif a.startswith("--only="):
            # probe a subset; --update-md then MERGES these rows into
            # the existing SCALE.md table instead of replacing it
            only = [x for x in a.split("=", 1)[1].split(",") if x]
    if only:
        unknown = [n for n in only if n not in PROBES]
        if unknown:
            raise SystemExit(f"--only names not in PROBES: {unknown}")
        PROBES = only
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("scale-probe", cpus=cpus, ui=True)
    warm_up(spark, BASE)
    ui = SparkUI(spark)

    # factor 1 goes through the SAME writer: identical file counts and
    # row-group layout, so ratios measure data growth, not the base
    # snapshot's different (single-file) layout.
    dirs = {}
    for f_ in factors:
        t0 = time.perf_counter()
        dirs[f_] = build_scaled(spark, f_)
        print(f"built x{f_} in {time.perf_counter() - t0:.1f}s", flush=True)

    # cold = first run on a fresh (app, sf_dir) key — session-memoized
    # index/signature builds are PART of the measured cost (they are
    # the part that scales); warm = min of the two repeat runs.
    cold: dict[str, dict[int, float]] = {}
    warm: dict[str, dict[int, float]] = {}
    shuf: dict[str, dict[int, float]] = {}
    for name in PROBES:
        cold[name], warm[name], shuf[name] = {}, {}, {}
        for f_ in factors:
            sh0 = ui.shuffle_write_bytes()
            times = [timed_run(spark, name, dirs[f_]) for _ in range(3)]
            # 3 identical runs → per-run shuffle volume = delta / 3
            # (memoized builds land in run 1's share; fine — cold owns
            # the build in the time columns too)
            shuf[name][f_] = (ui.shuffle_write_bytes() - sh0) / 3 / 1e6
            cold[name][f_] = times[0]
            warm[name][f_] = min(times[1:])
        row = "  ".join(
            f"x{f_}={cold[name][f_]:.2f}/{warm[name][f_]:.2f}s/{shuf[name][f_]:.0f}MB"
            for f_ in factors
        )
        print(f"{name:32s} {row}", flush=True)

    fmax, f0 = factors[-1], factors[0]
    lines = [
        "| query | "
        + " | ".join(f"×{f_} cold/warm (s) · shuffle (MB)" for f_ in factors)
        + f" | cold t(×{fmax})/t(×{f0}) | shuffle ×{fmax}/×{f0} |",
        "|---|" + "---|" * (len(factors) + 2),
    ]
    for name in PROBES:
        ratio = cold[name][fmax] / cold[name][f0] if cold[name][f0] else float("nan")
        sratio = (
            shuf[name][fmax] / shuf[name][f0]
            if shuf[name].get(f0) and shuf[name][f0] > 0
            else float("nan")
        )
        lines.append(
            f"| `{name}` | "
            + " | ".join(
                f"{cold[name][f_]:.2f} / {warm[name][f_]:.2f} · {shuf[name][f_]:.1f}"
                for f_ in factors
            )
            + f" | {ratio:.1f}× | {sratio:.1f}× |"
        )
    table = "\n".join(lines)
    print(table)
    if "--update-md" in sys.argv:
        if only:
            _merge_md_rows(lines[2:])
        else:
            _write_block("SCALE-PROBE", f"Measured on local[{cpus}].\n\n{table}")
        print("SCALE.md updated")


def _merge_md_rows(rows: list[str]) -> None:
    """Row-level merge of a --only subset run into the existing
    SCALE.md table: rows for already-probed queries are replaced in
    place, new queries append at the table end. Requires the same
    factor set as the existing table (the header and the ``local[N]``
    line are kept as-is)."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    _, rest = open(path).read().split("<!-- SCALE-PROBE:BEGIN -->", 1)
    out_lines = rest.split("<!-- SCALE-PROBE:END -->", 1)[0].strip("\n").split("\n")
    by_name = {r.split("`")[1]: r for r in rows}
    last_row_idx = max(i for i, ln in enumerate(out_lines) if ln.startswith("| `"))
    merged = []
    for i, ln in enumerate(out_lines):
        if ln.startswith("| `"):
            name = ln.split("`")[1]
            ln = by_name.pop(name, ln)
        merged.append(ln)
        if i == last_row_idx:
            merged.extend(by_name.values())
            by_name = {}
    _write_block("SCALE-PROBE", "\n".join(merged))


if __name__ == "__main__":
    main()
