"""Plan-shape regression tests: the perf-critical physical-plan
properties are contracts, not accidents. If a refactor reintroduces a
full-column scan, drops a broadcast, or adds a shuffle, these fail
before any benchmark notices."""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

from lakehouse_architecture_transaction_spark.plans import REGISTRY


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q6_filters_pushed_and_columns_pruned(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q6_revenue_delta"].fn(spark, sf_dir))
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert pushed and "l_shipdate" in pushed.group(1), "date range must reach the parquet scan"
    schema = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = schema.group(1).split(",")
    assert len(cols) <= 4, f"q6 must read only its 4 columns, read {len(cols)}"


def test_q3_dims_broadcast(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["q3_shipping_priority"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, "filtered customer dim must broadcast"
    # every scan carries its filter
    assert len(re.findall(r"PushedFilters: \[[^\]]+\]", plan)) >= 3


def test_top_parts_aggregates_before_dim_join(spark, sf_dir):
    # The per-part aggregation must happen BELOW the join with part.
    # Formatted-plan node ids number bottom-up, so the aggregate's id
    # must be smaller than the join's.
    plan = _formatted_plan(REGISTRY["top_parts_by_revenue"].fn(spark, sf_dir))
    agg_ids = [int(m) for m in re.findall(r"HashAggregate \((\d+)\)", plan)]
    join_ids = [int(m) for m in re.findall(r"BroadcastHashJoin[^(]*\((\d+)\)", plan)]
    assert agg_ids and join_ids
    assert min(agg_ids) < min(join_ids), "aggregate must run below the part join (one row per part)"


def test_validation_fk_checks_broadcast_not_collect(spark, sf_dir):
    plan = _formatted_plan(REGISTRY["process_order_items_valid"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, "both FK checks must be broadcast joins"
    # dims are pruned to the key column
    key_only = re.findall(r"ReadSchema: struct<(o_orderkey:bigint|p_partkey:bigint)>", plan)
    assert len(key_only) == 2, "FK reference scans must read only the key column"


def test_shuffle_and_shard_has_no_global_sort(spark, sf_dir):
    # The epoch-shuffle sharder must number rows within 256 hash-range
    # buckets, never via a single-partition total sort: one
    # ``Window.orderBy`` with no partitionBy collapses 100 TB onto one
    # task. The only acceptable SinglePartition exchanges are over the
    # 256-row bucket-count table — but the chosen triangular-join
    # prefix sum needs none, so the plan must be entirely free of them.
    plan = _formatted_plan(REGISTRY["docs_shuffled_batches"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan, "sharder re-introduced a single-partition stage"
    assert "row_number" in plan


def test_mktseg_gini_rank_window_is_bucketed(spark, sf_dir):
    # The per-segment spend rank must run through the bucketed-prefix
    # grouped rank (operators/ranking.py grouped_exact_rank): a bare
    # Window.partitionBy(c_mktsegment) sorts customer cardinality in
    # FIVE tasks — the low-cardinality-window failure SURVEY §6 bans.
    # Every row_number window over the segment must therefore also be
    # keyed by the __rb value bucket, and no stage may collapse to a
    # single partition.
    plan = _formatted_plan(REGISTRY["customer_mktseg_gini"].fn(spark, sf_dir))
    assert "SinglePartition" not in plan
    specs = re.findall(r"windowspecdefinition\(c_mktsegment#\d+,\s*(\w+)", plan)
    assert specs, "expected a rank window over c_mktsegment"
    assert all(s.startswith("__rb") for s in specs), (
        f"segment rank window not bucket-keyed: {specs}"
    )


def test_priority_sample_is_take_ordered_not_global_sort(spark, sf_dir):
    # Priority sampling must select its top-(k+1) via per-partition
    # heaps (TakeOrderedAndProject), never a global range-sort — the
    # plan property that keeps the sample O(k) per partition at any
    # corpus size. (A SinglePartition exchange IS present and fine:
    # it is the 1-row tau aggregate over the checkpointed (k+1)-row
    # frame, not a data-bearing stage.)
    plan = _formatted_plan(REGISTRY["docs_priority_sample"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan, "global sort crept into the sample path"


def test_no_cartesian_anywhere_in_headline(spark, sf_dir):
    import bench

    for name in bench.HEADLINE:
        plan = _formatted_plan(REGISTRY[name].fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_spread_repartitions_single_file_but_not_many_files(spark, sf_dir, tmp_path):
    """catalog._spread: an unsplittable single-row-group file gets a
    round-robin repartition to the cluster's parallelism; a table that
    already arrives as many files is passed through untouched (the
    100 TB no-op guarantee)."""
    from lakehouse_architecture_transaction_spark.catalog import _spread, load_table

    one = load_table(spark, sf_dir, "documents", spread=True)
    plan = _formatted_plan(one)
    assert "RoundRobinPartitioning" in plan or "REPARTITION" in plan

    par = spark.sparkContext.defaultParallelism
    src = str(tmp_path / "many_files")
    load_table(spark, sf_dir, "documents").repartition(par + 4).write.parquet(src)
    many = spark.read.parquet(src)
    assert _spread(many, spark) is many, "many-file input must not be repartitioned"


def test_salted_top_quality_equals_direct_window(spark, sf_dir):
    """The two-phase salted per-source top-k must equal the direct
    (single-window) top-k under the same total order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.operators.text import quality_score

    got = {
        (r["source"], r["rank"], r["doc_id"])
        for r in REGISTRY["docs_top_quality_per_source"].fn(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    q = quality_score(docs, id_col="doc_id", text_col="text").select("doc_id", "quality").join(
        docs.select("doc_id", "source"), on="doc_id"
    )
    w = Window.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    direct = q.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 2)
    want = {(r["source"], r["rank"], r["doc_id"]) for r in direct.collect()}
    assert got == want


def test_gopher_quality_is_map_only(spark, sf_dir):
    # The Gopher filter claims "map-only over the corpus, zero
    # shuffles": the plan must contain no Exchange except the final
    # presentation sort's range exchange.
    plan = _formatted_plan(REGISTRY["docs_gopher_quality"].fn(spark, sf_dir))
    exchanges = re.findall(r"Exchange (\w+)", plan)
    assert all(kind == "rangepartitioning" for kind in exchanges), exchanges
    assert "ReadSchema" in plan


def test_sketch_accuracy_window_is_partitioned(spark, sf_dir):
    # Round 8: the rank selection routes through grouped_percent_rank's
    # bucketed machinery — every window over event_type must also carry
    # the __rb value bucket (a bare 6-partition window sorts raw event
    # values in 6 tasks), and nothing may collapse to one partition.
    plan = _formatted_plan(REGISTRY["events_sketch_accuracy"].fn(spark, sf_dir))
    assert "Window" in plan
    assert "SinglePartition" not in plan, "rank selection collapsed to one partition"
    specs = re.findall(r"windowspecdefinition\(event_type#\d+,\s*(\w+)", plan)
    assert specs, "expected a window keyed on event_type"
    assert all(s.startswith("__rb") for s in specs), (
        f"event_type window not bucket-keyed: {specs}"
    )


def test_temperature_mixture_two_pass_floor(spark, sf_dir):
    """docs_temperature_mixture: the final plan reads the corpus
    exactly ONCE (the rates side is served from the materialized
    counts frame; the first pass already ran inside the checkpoint)
    and every join is broadcast — the shape that holds when the
    corpus is 100 TB and the source list is a few hundred rows."""
    plan = _formatted_plan(REGISTRY["docs_temperature_mixture"].fn(spark, sf_dir))
    # formatted plans print each node in the tree AND the detail
    # section, so count ReadSchema (detail-only, one per scan)
    assert len(re.findall(r"ReadSchema", plan)) == 1, "corpus must be scanned once per pass"
    assert "SortMergeJoin" not in plan, "source-cardinality joins must broadcast"


def test_copurchase_graph_queries_materialize_shared_frames(spark, sf_dir):
    """part_copurchase_jaccard / part_copurchase_triangles: the
    distinct (order, part) frame / edge set is consumed by several
    plan branches; without materialization Spark re-runs the whole
    pair-mining stage per branch (re-scanning the fact). The final
    plans must contain NO parquet scan — every branch reads the
    checkpointed frame."""
    plan = _formatted_plan(REGISTRY["part_copurchase_jaccard"].fn(spark, sf_dir))
    assert len(re.findall(r"ReadSchema", plan)) == 0
    assert "SortMergeJoin" not in plan, "degree joins must broadcast from the materialized frame"
    plan = _formatted_plan(REGISTRY["part_copurchase_triangles"].fn(spark, sf_dir))
    assert len(re.findall(r"ReadSchema", plan)) == 0
    # r11: the wedge stages' exchanges are byte-light but compute-dense
    # (array_intersect), so AQE's byte-targeted coalescing folded them
    # to 4 tasks on 32 cores (2.99 -> 4.47 s at sf0.1). The two pinned
    # user-numbered repartitions are exempt from coalescing and must
    # stay in the plan.
    assert len(re.findall(r"REPARTITION_BY_NUM", plan)) >= 2, (
        "wedge-stage parallelism pin lost — AQE will re-funnel the "
        "intersect kernel onto a handful of tasks"
    )


def test_curation_pipeline_single_corpus_scan(spark, sf_dir):
    """docs_curation_pipeline: gopher flags are computed NEXT TO the
    document columns (gopher_quality_flags keep=), so the whole
    filter→dedup→fold→aggregate chain reads the corpus exactly once —
    no join-back on doc_id, no replicated scan."""
    plan = _formatted_plan(REGISTRY["docs_curation_pipeline"].fn(spark, sf_dir))
    assert len(re.findall(r"ReadSchema", plan)) == 1
    assert "SortMergeJoin" not in plan


def test_r10_queued_materialize_shared_frames(spark, sf_dir):
    # The round-10 queue's shared-subtree contracts (the r7 plan-
    # materialization lesson): once the shared frame is localCheckpoint-ed,
    # the FINAL plan must contain ZERO parquet scans — every branch reads
    # the materialized frame, never re-running the upstream per branch.
    from lakehouse_architecture_transaction_spark.plans.dedup import docs_split_leakage
    from lakehouse_architecture_transaction_spark.plans.events import orders_revenue_autocorr
    from lakehouse_architecture_transaction_spark.plans.text import docs_source_distinctive_terms

    for fn in (docs_split_leakage, docs_source_distinctive_terms, orders_revenue_autocorr):
        plan = _formatted_plan(fn(spark, sf_dir))
        n_scans = plan.count("ReadSchema")
        assert n_scans == 0, f"{fn.__name__}: expected 0 parquet scans after materialization, saw {n_scans}"


def test_seasonal_decompose_single_scan_and_broadcast(spark, sf_dir):
    # events_seasonal_decompose materializes the windowed frame; the
    # final plan re-reads only that frame and broadcasts the ≤7-row
    # per-phase seasonal means.
    from lakehouse_architecture_transaction_spark.plans import events as Q

    plan = _formatted_plan(Q.events_seasonal_decompose(spark, sf_dir))
    assert plan.count("ReadSchema") == 0
    assert "BroadcastHashJoin" in plan, "phase means must broadcast"


def test_inclusion_profile_one_scan_per_table_pruned(spark, sf_dir):
    # The FK-discovery profile reads each table EXACTLY ONCE (r16 scan
    # fusion: all of a table's edge sides ride one stacked explode —
    # 16 per-side scans became 7 table scans), and each scan is pruned
    # to exactly the key columns its edges need. A scan count above 7
    # means an edge side grew its own pipeline again; an over-wide
    # ReadSchema means the explode stopped pruning.
    from lakehouse_architecture_transaction_spark.plans import etl as Q

    expected_cols = {
        ("o_custkey", "o_orderkey"),  # orders: child e0, parent e1/e7
        ("l_orderkey", "l_partkey", "l_suppkey"),  # lineitem: 3 children
        ("p_partkey",),  # part: parent e2 + child e7 share the column
        ("s_nationkey", "s_suppkey"),  # supplier
        ("c_custkey", "c_nationkey"),  # customer
        ("n_nationkey",),  # nation: parent of e4+e5
        ("user_id",),  # events
    }
    plan = _formatted_plan(Q.catalog_inclusion_profile(spark, sf_dir))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 7, f"expected 7 single-pass table scans, saw {len(schemas)}"
    got = {tuple(sorted(c.split(":")[0] for c in s.split(","))) for s in schemas}
    assert got == expected_cols, f"scan pruning drifted: {sorted(got)}"
    # the whole profile collapses in ONE (edge, value) exchange + the
    # 8-row summary/spine/sort machinery — the r15 shape's 32 exchanges
    # (4 per edge) must not come back
    n_exchanges = len(re.findall(r"\n\s*\(\d+\) Exchange", plan))
    assert n_exchanges <= 4, f"expected <=4 exchanges after fusion, saw {n_exchanges}"


def test_vocab_growth_two_scans_and_broadcast_cuts(spark, sf_dir):
    # vocab_growth reads the corpus exactly twice by design (row-local
    # size() pass + the explode→min-first-occurrence aggregate); the
    # 8-row checkpoint frame joins via broadcast (nested-loop on the
    # <= range predicate is fine — the broadcast side is 8 rows).
    from lakehouse_architecture_transaction_spark.plans import text as Q

    plan = _formatted_plan(Q.docs_vocab_growth(spark, sf_dir))
    assert plan.count("ReadSchema") == 2
    assert "BroadcastNestedLoopJoin" in plan


def test_rolling_distinct_windows_broadcast_spine_not_userdays(spark, sf_dir):
    # r10 broadcast audit: the trailing-window distinct plans join the
    # exploded user-day contrib frame to a day spine. AQE sizes the
    # contrib side by its PRE-Generate shuffle stats (the x7/x30
    # explode fan-out is invisible at the query-stage boundary) and
    # broadcast the exploded USER-DAY frame — 68 MiB materialized
    # under a 64 MiB ceiling at sf0.01 for dau_mau; the error scales
    # with the corpus. The explicit hint must keep every
    # BroadcastExchange input user-free (day spine only).
    for q in ("events_rolling_distinct_users", "events_dau_mau_stickiness"):
        plan = _formatted_plan(REGISTRY[q].fn(spark, sf_dir))
        hits = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\n]*\])", plan)
        # guard against explain-format drift making this vacuous: the
        # day-spine hint guarantees at least one BroadcastExchange
        assert hits, f"{q}: no BroadcastExchange matched — explain format drifted?"
        for inputs in hits:
            assert "user_id" not in inputs, (
                f"{q}: user-scale frame on the broadcast side: {inputs}"
            )


def test_survival_curve_broadcasts_month_histogram_not_customers(spark, sf_dir):
    # The k-point >= theta join plans as BroadcastNestedLoopJoin, and
    # for a LEFT join Spark must broadcast the RIGHT side. The right
    # side therefore has to be the month-cardinality lifetime
    # HISTOGRAM (a HashAggregate keyed on life_months below the
    # BroadcastExchange), never the per-customer span frame — the
    # first cut of this plan broadcast customer cardinality, an OOM
    # at real scale (caught ahead of the r11 registration).
    from lakehouse_architecture_transaction_spark.plans import window as Q

    # pin the LAZY curve plan (the registered fn checkpoints the
    # 13-row result, which would hide the join from explain)
    plan = _formatted_plan(Q._survival_curve_points(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert re.search(r"Keys \[1\]: \[life_months#\d+", plan), (
        "the BNLJ build side must be the life_months histogram, "
        "not raw customer spans"
    )
    # every BroadcastExchange input must be the 2-col histogram
    # (life_months, count) — never a frame still carrying o_custkey
    hits = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\n]*\])", plan)
    assert hits, "no BroadcastExchange matched — explain format drifted?"
    for inputs in hits:
        assert "o_custkey" not in inputs, f"customer-cardinality broadcast: {inputs}"
        assert "life_months" in inputs


def test_fd_profile_pruned_scans_no_row_joins(spark, sf_dir):
    # The FD profiler is pure per-candidate aggregation: each of the 8
    # candidates scans ONLY its determinant+dependent columns and the
    # plan contains NO row-level join of any kind — a join (or an
    # unpruned scan) means the distinct-aggregate shape regressed.
    from lakehouse_architecture_transaction_spark.plans import etl as Q

    plan = _formatted_plan(Q.catalog_fd_profile(spark, sf_dir))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == len(Q._FD_PAIRS), f"expected 8 pruned scans, saw {len(schemas)}"
    widths = sorted(len(s.split(",")) for s in schemas)
    want = sorted(len(det) + 1 for _, det, _ in Q._FD_PAIRS)
    assert widths == want, f"scan widths {widths} != determinant+dependent {want}"
    for join in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert join not in plan, f"FD profile must not plan a {join}"


def test_column_stats_pruned_scans_no_joins(spark, sf_dir):
    # ANALYZE-style stats: one single-column pruned scan per profiled
    # column, no joins anywhere — 17 scans of width 1.
    from lakehouse_architecture_transaction_spark.plans import etl as Q

    plan = _formatted_plan(Q.catalog_column_stats(spark, sf_dir))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    n_cols = sum(len(cols) for _, cols in Q._STATS_COLS)
    assert len(schemas) == n_cols, f"expected {n_cols} single-column scans, saw {len(schemas)}"
    multi = [s for s in schemas if "," in s]
    assert not multi, f"scans must read exactly one column, saw: {multi[:3]}"
    for join in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin"):
        assert join not in plan, f"column stats must not plan a {join}"


def test_dsir_broadcasts_bucket_marginals_not_docs(spark, sf_dir):
    # DSIR's broadcast sides must stay at bucket cardinality (64-row
    # weight/marginal frames) or 1-row totals; the per-doc count frame
    # and the doc metadata join are corpus-sized and must NEVER sit
    # under a BroadcastExchange (the doc-id join correctly plans as
    # sort-merge — both sides scale with the corpus).
    from lakehouse_architecture_transaction_spark.plans import sampling as Q

    plan = _formatted_plan(Q.docs_dsir_select(spark, sf_dir))
    hits = re.findall(r"\(\d+\) BroadcastExchange\nInput \[\d+\]: (\[[^\n]*\])", plan)
    assert hits, "no BroadcastExchange matched — explain format drifted?"
    for inputs in hits:
        assert "doc_id" not in inputs, f"doc-cardinality broadcast: {inputs}"
    assert "TakeOrderedAndProject" in plan, "top-k must avoid a global sort"


def test_r14_shared_topk_frames_materialized_once(spark, sf_dir):
    # emb_matryoshka_recall consumes each top-k frame twice
    # (intersection + top-1) and docs_quality_calibration's ranked
    # frame feeds ntile bucketing + the decile rollup; the eager
    # checkpoints must shield every downstream branch from re-scanning
    # the corpus (a ReadSchema in the result plan means a branch
    # replays the scan).
    from lakehouse_architecture_transaction_spark.plans.ann import emb_matryoshka_recall
    from lakehouse_architecture_transaction_spark.plans.text import docs_quality_calibration

    for fn in (emb_matryoshka_recall, docs_quality_calibration):
        plan = _formatted_plan(fn(spark, sf_dir))
        assert plan.count("ReadSchema") == 0, f"{fn.__name__} re-scans past its checkpoint"


def test_r13_dispersion_single_scan_no_rank_machinery(spark, sf_dir):
    # The weighted-median rewrite (r12): ONE pruned scan of
    # (p_type, p_retailprice), one (type, cent) aggregate, and
    # map-side folds — no joins, no windows, no checkpointed branches
    # re-reading the scan. A second ReadSchema or any join/window
    # means the grid-collapse shape regressed to row-cardinality
    # machinery.
    from lakehouse_architecture_transaction_spark.plans import tpch as Q

    plan = _formatted_plan(Q.part_price_dispersion_by_type(spark, sf_dir))
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    assert len(schemas) == 1, f"expected one part scan, saw {len(schemas)}"
    cols = sorted(c.split(":")[0] for c in schemas[0].split(","))
    assert cols == ["p_retailprice", "p_type"], f"unpruned scan: {schemas[0]}"
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "Window"):
        assert bad not in plan, f"dispersion must not plan a {bad}"


def test_shj_session_config_is_size_conditioned(spark):
    # r16 (VERDICT r15 item 7): the session-wide shuffled-hash-join
    # enablement (session.py preferSortMergeJoin=false) must stay
    # SIZE-CONDITIONED — SHJ only when the planner can prove the build
    # side's per-partition hash map fits (canBuildLocalHashMap =
    # stats size < autoBroadcastJoinThreshold x shuffle partitions,
    # AND 3x smaller than the probe side); sort-merge remains the
    # fallback for large build sides, which is what makes the config
    # safe at 100 TB where stats may be stale. spark.range carries
    # exact 8-byte/row statistics, so the two shapes below pin both
    # planner legs deterministically (explain-only, nothing executes).
    from pyspark.sql import functions as F

    thresh = int(spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    local_map_cap = thresh * nparts
    big_rows = 4 * local_map_cap // 8  # comfortably above the cap
    small_rows = min(local_map_cap // 32, big_rows // 8)  # fits, and ≪ probe
    assert small_rows * 8 > thresh, "small side must still exceed broadcast"
    big = spark.range(big_rows).select(F.col("id").alias("k"))
    small = spark.range(small_rows).select(F.col("id").alias("k"))

    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    plan = _formatted_plan(big.join(small, "k"))
    assert "ShuffledHashJoin" in plan, (
        "build side fits its local map: the tuned session must pick SHJ"
    )
    plan = _formatted_plan(big.join(spark.range(big_rows).select(F.col("id").alias("k")), "k"))
    assert "SortMergeJoin" in plan and "ShuffledHashJoin" not in plan, (
        "build side above the local-map bound must FALL BACK to sort-merge"
    )
    # the env-parameterised escape hatch restores the default planner
    prev = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    try:
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        plan = _formatted_plan(big.join(small, "k"))
        assert "SortMergeJoin" in plan and "ShuffledHashJoin" not in plan
    finally:
        spark.conf.set("spark.sql.join.preferSortMergeJoin", prev)
