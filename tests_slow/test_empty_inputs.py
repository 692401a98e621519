"""Degenerate-input robustness: every registered query must RUN (not
necessarily return rows) on inputs a cluster actually produces:

- EMPTY tables — partition pruning, a selective pushed filter, or a
  fresh ingest zone routinely hand an operator zero rows;
- SINGLE-ROW tables — the seed/init paths of iterative ops (k-means
  seeding, covariance over n=1, normalization of a zero vector);
- NULL-HEAVY tables — every non-key column NULL on alternating rows
  (corrupt blobs, absent text, missing metrics) under ANSI mode,
  where an unguarded 0/0 or bytes(None) kills the whole job.

Each sweep runs the FULL registry in one test so a new query that
regresses fails CI by name. These sweeps found and pinned real bugs:
emb_pca_project's zero-norm 0/0 on a 1-row corpus and bytes(None)
crashes in all three multimodal extractors.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import TABLES
from lakehouse_architecture_transaction_spark.operators.dedup import release_persisted
from lakehouse_architecture_transaction_spark.plans import REGISTRY

#: key columns that keep their values in the null-heavy variant (a
#: null PK/FK is a different failure class — RI validation's job)
_KEYS = {
    "r_regionkey", "n_nationkey", "n_regionkey", "c_custkey", "c_nationkey",
    "s_suppkey", "s_nationkey", "p_partkey", "o_orderkey", "o_custkey",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "event_id", "user_id", "doc_id", "vec_id",
}


def _sweep(spark, data_dir: str) -> list[str]:
    failures = []
    for name, ent in REGISTRY.items():
        try:
            ent.fn(spark, data_dir).count()
        except Exception as e:  # noqa: BLE001 — collecting the full list
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
        finally:
            release_persisted()
    return failures


@pytest.fixture(scope="module")
def degenerate_dirs(spark, sf_dir, tmp_path_factory) -> dict[str, str]:
    root = tmp_path_factory.mktemp("degenerate")
    dirs = {
        "empty": str(root / "empty"),
        "one_row": str(root / "one"),
        "null_heavy": str(root / "nulls"),
        "dirty_values": str(root / "dirty"),
    }
    for t in TABLES:
        base = spark.read.parquet(f"{sf_dir}/{t}.parquet")
        base.limit(0).coalesce(1).write.parquet(f"{dirs['empty']}/{t}.parquet")
        base.limit(1).coalesce(1).write.parquet(f"{dirs['one_row']}/{t}.parquet")
        nh = base
        cond = F.monotonically_increasing_id() % 2 == 0
        for c, dt in base.dtypes:
            if c not in _KEYS:
                nh = nh.withColumn(c, F.when(cond, F.lit(None).cast(dt)).otherwise(F.col(c)))
        nh.coalesce(1).write.parquet(f"{dirs['null_heavy']}/{t}.parquet")
        dirty = base
        for c, dt in base.dtypes:
            if dt == "string" and c not in _KEYS and c != "source":
                dirty = dirty.withColumn(c, F.when(cond, F.lit("")).otherwise(F.col(c)))
            if dt == "double":
                dirty = dirty.withColumn(
                    c,
                    F.when(F.monotonically_increasing_id() % 13 == 0, F.lit(float("nan")))
                    .when(F.monotonically_increasing_id() % 17 == 0, F.lit(float("inf")))
                    .otherwise(F.col(c)),
                )
        dirty.coalesce(1).write.parquet(f"{dirs['dirty_values']}/{t}.parquet")
    return dirs


def test_every_registered_query_survives_empty_tables(spark, degenerate_dirs):
    failures = _sweep(spark, degenerate_dirs["empty"])
    assert not failures, "queries crashed on empty input:\n" + "\n".join(failures)


def test_every_registered_query_survives_single_row_tables(spark, degenerate_dirs):
    failures = _sweep(spark, degenerate_dirs["one_row"])
    assert not failures, "queries crashed on 1-row input:\n" + "\n".join(failures)


def test_every_registered_query_survives_null_heavy_tables(spark, degenerate_dirs):
    failures = _sweep(spark, degenerate_dirs["null_heavy"])
    assert not failures, "queries crashed on null-heavy input:\n" + "\n".join(failures)


def test_every_registered_query_survives_dirty_values(spark, degenerate_dirs):
    # empty strings in text/props columns + NaN/Infinity in every
    # double column — the ANSI hazards (x/0 on length-0 text; NaN
    # passes `> 0` rules because Spark orders NaN largest) that nulls
    # alone cannot reach.
    failures = _sweep(spark, degenerate_dirs["dirty_values"])
    assert not failures, "queries crashed on dirty values:\n" + "\n".join(failures)


def test_validate_embeddings_splits_and_unblocks_vector_ops(spark, sf_dir, tmp_path):
    # Malformed vectors (zero-length, null, wrong dim, non-finite) are
    # NOT survivable inside the vector operators — an empty array turns
    # every cosine into an ANSI DIVIDE_BY_ZERO mid-job. The contract is
    # validation at the ingest boundary instead: validate_embeddings
    # splits them out (reject-zone pattern), and every emb_ query runs
    # green on the validated remainder.
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.operators.similarity import validate_embeddings

    base = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(base.select("embedding").first()["embedding"])
    corrupted = base.withColumn(
        "embedding",
        F.when(F.col("vec_id") % 17 == 0, F.expr("CAST(array() AS ARRAY<FLOAT>)"))
        .when(F.col("vec_id") % 23 == 0, F.lit(None).cast("array<float>"))
        .otherwise(F.col("embedding")),
    )
    valid, rejected = validate_embeddings(corrupted, "vec_id", "embedding", dim=dim)
    n_bad = corrupted.filter((F.col("vec_id") % 17 == 0) | (F.col("vec_id") % 23 == 0)).count()
    assert rejected.count() == n_bad
    assert valid.count() == base.count() - n_bad
    reasons = {r["reject_reason"] for r in rejected.select("reject_reason").distinct().collect()}
    assert reasons == {"wrong_dim", "null_vector"}

    out = str(tmp_path / "validated")
    for t in TABLES:
        if t == "embeddings":
            valid.write.parquet(f"{out}/{t}.parquet")
        else:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").write.parquet(f"{out}/{t}.parquet")
    failures = []
    for name, ent in REGISTRY.items():
        if not name.startswith("emb_"):
            continue
        try:
            ent.fn(spark, out).count()
        except Exception as e:  # noqa: BLE001
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
        finally:
            release_persisted()
    assert not failures, "emb queries crashed on validated input:\n" + "\n".join(failures)


def test_laketable_degenerate_lifecycle(spark, tmp_path):
    # The storage layer's empty/degenerate paths: create from an empty
    # frame, append/upsert empty sources, compact, diff, restore,
    # vacuum, clone — none may throw, and versioning must stay sane
    # (a fresh ingest zone IS empty until the first real drop).
    from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable

    schema = "k long, v string"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, "a")], schema)
    t = LakeTable(spark, str(tmp_path / "t1"), keys=["k"], versioned=True)
    t.create(empty)
    assert t.read().count() == 0
    t.append(empty)
    t.upsert(one)
    t.upsert(empty)  # no-op upsert must not clobber
    assert t.read().count() == 1
    t.compact()
    assert t.diff(0).count() == 1  # the single insert vs the empty v0
    t.restore(0)
    assert t.read().count() == 0
    t.vacuum()
    t2 = t.clone(str(tmp_path / "t2"))
    assert t2.read().count() == 0


def _queued_fns():
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    return [
        # the r9 streaming companions (bounded availableNow runs: an
        # EMPTY landing zone must drain to an empty frame, not crash).
        # events_stream_{sessions,dedup,hourly,trending} and the rest
        # of the r8 batch were REGISTERED in round 8 and now ride the
        # registry-wide degenerate sweep above.
        ("events_stream_clicks", REGISTRY["events_stream_clicks"].fn),
        ("events_stream_enriched", REGISTRY["events_stream_enriched"].fn),
        ("orders_stream_upsert_cdc", REGISTRY["orders_stream_upsert_cdc"].fn),
        # the r10 training ops (k > n path, window > text length path)
        ("docs_priority_sample", REGISTRY["docs_priority_sample"].fn),
        ("docs_dup_spans", REGISTRY["docs_dup_spans"].fn),
        # the r10 diagnostics batch (empty pair frame, all-NULL keys,
        # series shorter than the window/lag horizon, empty vocabulary)
        ("docs_split_leakage", REGISTRY["docs_split_leakage"].fn),
        ("catalog_inclusion_profile", REGISTRY["catalog_inclusion_profile"].fn),
        ("events_seasonal_decompose", REGISTRY["events_seasonal_decompose"].fn),
        ("orders_revenue_autocorr", REGISTRY["orders_revenue_autocorr"].fn),
        ("docs_vocab_growth", REGISTRY["docs_vocab_growth"].fn),
        ("docs_source_distinctive_terms", REGISTRY["docs_source_distinctive_terms"].fn),
        # the house stateful sessionizer companion (empty landing
        # zone: one empty schema-bearing slice, no sentinel file)
        ("events_stream_sessions_stateful", REGISTRY["events_stream_sessions_stateful"].fn),
        # the r11 batch (no purchases, constant-x groups, empty corpus,
        # single-vector embeddings, empty victim)
        ("lineitem_shipdelay_trend", REGISTRY["lineitem_shipdelay_trend"].fn),
        ("customer_survival_curve", REGISTRY["customer_survival_curve"].fn),
        ("events_touch_attribution", REGISTRY["events_touch_attribution"].fn),
        ("docs_langid_confusion", REGISTRY["docs_langid_confusion"].fn),
        ("emb_pair_sim_histogram", REGISTRY["emb_pair_sim_histogram"].fn),
        ("orders_gdpr_erasure_audit", REGISTRY["orders_gdpr_erasure_audit"].fn),
        ("orders_benford_audit", REGISTRY["orders_benford_audit"].fn),
        ("docs_bpe_merges", REGISTRY["docs_bpe_merges"].fn),
        # the r12 batch (empty facts, all-null money, single-row dims)
        ("orders_order_size_histogram", REGISTRY["orders_order_size_histogram"].fn),
        ("supplier_part_degree_profile", REGISTRY["supplier_part_degree_profile"].fn),
        ("customer_order_value_cv", REGISTRY["customer_order_value_cv"].fn),
        ("nation_trade_balance", REGISTRY["nation_trade_balance"].fn),
        # the r13 batch (all-null types, empty facts, one-user events)
        ("part_price_dispersion_by_type", REGISTRY["part_price_dispersion_by_type"].fn),
        ("events_usertype_overlap", REGISTRY["events_usertype_overlap"].fn),
        ("lineitem_discount_profile", REGISTRY["lineitem_discount_profile"].fn),
        ("events_growth_accounting", REGISTRY["events_growth_accounting"].fn),
        ("events_hourly_concentration", REGISTRY["events_hourly_concentration"].fn),
        # the r14 batch (empty catalog tables, empty/one-doc corpus with
        # zero-token texts, single-vector embeddings, all-null langs)
        ("catalog_fd_profile", REGISTRY["catalog_fd_profile"].fn),
        ("catalog_column_stats", REGISTRY["catalog_column_stats"].fn),
        ("docs_dsir_select", REGISTRY["docs_dsir_select"].fn),
        ("emb_matryoshka_recall", REGISTRY["emb_matryoshka_recall"].fn),
        ("docs_quality_calibration", REGISTRY["docs_quality_calibration"].fn),
    ]


@pytest.mark.parametrize("variant", ["empty", "one_row", "null_heavy", "dirty_values"])
def test_queued_queries_survive_degenerate_inputs(spark, degenerate_dirs, variant):
    # Queued (not-yet-registered) queries don't ride the registry
    # sweeps above until registration — pre-pin them here so the
    # future @register can't detonate the sweep.
    failures = []
    for name, fn in _queued_fns():
        try:
            fn(spark, degenerate_dirs[variant]).count()
        except Exception as e:  # noqa: BLE001 — collecting the full list
            failures.append(f"{name}: {type(e).__name__}: {str(e)[:120]}")
        finally:
            release_persisted()
    assert not failures, f"queued queries crashed on {variant} input:\n" + "\n".join(failures)


def test_fd_profile_empty_relation_gives_null_not_pass(spark, degenerate_dirs):
    # Vacuous truth guard (ADVICE r11): an EMPTY relation has zero
    # observations of the FD — the verdict must be NULL (no evidence),
    # never 1, so a catalog crawler cannot promote an unobserved FD.
    from lakehouse_architecture_transaction_spark.plans import etl as Q

    rows = Q.catalog_fd_profile(spark, degenerate_dirs["empty"]).collect()
    assert rows, "profile must still emit one row per candidate"
    for r in rows:
        assert r["n_det"] == 0
        assert r["fd_holds"] is None
        assert r["strength"] is None
