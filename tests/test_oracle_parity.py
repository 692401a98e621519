"""Local version of the driver's t2 correctness gate: run every
registered query in Spark AND its DuckDB oracle on the same parquet,
compare row counts, column names, and exact values (order-insensitive).

This is the pytest front line — if a query passes here at sf0.001 it
should pass the driver's hash compare at sf0.01.
"""

from __future__ import annotations

import importlib
import math
import os
from decimal import Decimal

import duckdb
import pytest

from lakehouse_architecture_transaction_spark.catalog import TABLES, table_path
from lakehouse_architecture_transaction_spark.plans import REGISTRY


def _duck(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        p = table_path(sf_dir, t)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    if isinstance(v, int):
        return ("i", v)
    return ("o", str(v))


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in idx) for r in rows)


ORACLE_QUERIES = sorted(name for name, spec in REGISTRY.items() if spec.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, name):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = _duck(sf_dir)
    res = con.execute(spec.oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    s_set = _rowset(s_cols, s_rows)
    d_set = _rowset(d_cols, d_rows)
    if s_set != d_set:
        diffs = [(a, b) for a, b in zip(s_set, d_set) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_hash_embed_oracle_parity_preview(spark, sf_dir):
    # Round-6 registration preview: hash_embed's DuckDB oracle, verified
    # cell-exact here so next round's @register is a copy-paste. Same
    # normalization as the driver gate (sorted columns, repr equality).
    import duckdb

    from lakehouse_architecture_transaction_spark.operators.text import hash_embed
    from lakehouse_architecture_transaction_spark.plans.text import _TOKENS

    dim = 16
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: list(r["embedding"])
        for r in hash_embed(docs, "doc_id", "text", dim=dim).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id,
               (('0x' || substr(md5(t), 1, 8))::BIGINT) % {dim} AS bkt,
               CASE WHEN (('0x' || substr(md5(t || '#s'), 1, 8))::BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    ),
    c AS (SELECT doc_id, bkt, CAST(SUM(sgn) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
    dense AS (
        SELECT d.doc_id, g.i, coalesce(c.cnt, 0) AS cnt
        FROM (SELECT DISTINCT doc_id FROM c) d
        CROSS JOIN (SELECT unnest(generate_series(0, {dim - 1})) AS i) g
        LEFT JOIN c ON c.doc_id = d.doc_id AND c.bkt = g.i
    ),
    packed AS (
        SELECT doc_id, list(cnt ORDER BY i) AS raw,
               sqrt(CAST(list_reduce(list_transform(list(cnt ORDER BY i), v -> v * v),
                                     (a, x) -> a + x) AS DOUBLE)) AS nrm
        FROM dense GROUP BY doc_id
    )
    SELECT doc_id,
           list_transform(raw, v -> CAST(v AS DOUBLE) /
               (CASE WHEN nrm = 0.0 THEN 1.0 ELSE nrm END)) AS embedding
    FROM packed ORDER BY doc_id
    """
    want = {r[0]: list(r[1]) for r in con.execute(sql).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert [repr(x) for x in got[d]] == [repr(x) for x in want[d]], f"doc {d} drifts"


def test_quality_logistic_oracle_parity_preview(spark, sf_dir):
    # Round-6 registration preview for quality_logistic_score: the
    # algebraic sigmoid (+,*,/,abs only) must replay bit-for-bit.
    import duckdb

    from lakehouse_architecture_transaction_spark.operators.text import (
        QUALITY_WEIGHTS as W,
        quality_logistic_score,
    )
    from lakehouse_architecture_transaction_spark.plans.text import _STOPS_SQL, _TOKENS

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {
        r["doc_id"]: (r["raw_score"], r["quality_p"])
        for r in quality_logistic_score(docs, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = f"""
    WITH base AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
    m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
               CAST(len(list_filter(tk, x -> list_contains({_STOPS_SQL}, lower(x)))) AS DOUBLE) / greatest(len(tk), 1) AS stop_ratio
        FROM base
    ),
    s AS (
        SELECT doc_id,
               {W["bias"]} + CAST(chars AS DOUBLE) * {W["chars"]}
             + CAST(n_tokens AS DOUBLE) * {W["n_tokens"]}
             + punct_ratio * {W["punct_ratio"]}
             + digit_ratio * {W["digit_ratio"]}
             + stop_ratio * {W["stop_ratio"]} AS raw_score
        FROM m
    )
    SELECT doc_id, raw_score,
           0.5 + 0.5 * raw_score / (1.0 + abs(raw_score)) AS quality_p
    FROM s ORDER BY doc_id
    """
    want = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert repr(got[d][0]) == repr(want[d][0]), f"doc {d} raw_score drifts"
        assert repr(got[d][1]) == repr(want[d][1]), f"doc {d} quality_p drifts"


def test_script_profile_oracle_parity_preview(spark, sf_dir):
    # Round-6 preview: per-doc unicode-script ratios, cell-exact vs
    # DuckDB (BMP range regexes — no \p properties, RE2-portable).
    import duckdb

    from lakehouse_architecture_transaction_spark.operators.text import (
        SCRIPT_RANGES,
        script_profile,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = {r["doc_id"]: r.asDict() for r in script_profile(docs, "doc_id", "text").collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    ratio_sql = ", ".join(
        f"CAST(len(regexp_extract_all(text, '[{rng}]')) AS DOUBLE) / greatest(length(text), 1)"
        f" AS {name}_ratio"
        for name, rng in SCRIPT_RANGES.items()
    )
    total = " + ".join(f"{name}_ratio" for name in SCRIPT_RANGES)
    sql = f"""
    WITH m AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS chars, length(text) AS ln, {ratio_sql}
        FROM documents
    )
    SELECT doc_id, chars, {", ".join(f"{n}_ratio" for n in SCRIPT_RANGES)},
           CASE WHEN ln = 0 THEN 0.0 ELSE 1.0 - ({total}) END AS other_ratio
    FROM m ORDER BY doc_id
    """
    cols = ["chars", *[f"{n}_ratio" for n in SCRIPT_RANGES], "other_ratio"]
    for row in con.execute(sql).fetchall():
        d, vals = row[0], dict(zip(cols, row[1:]))
        for c in cols:
            assert repr(got[d][c]) == repr(vals[c]), f"doc {d} col {c}: {got[d][c]} vs {vals[c]}"


def test_paragraph_dups_oracle_parity_preview(spark, sf_dir):
    # Round-6 preview: cross-doc duplicate paragraphs via md5 hashes.
    import duckdb

    from lakehouse_architecture_transaction_spark.operators.text import paragraph_dups

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sorted(
        map(tuple, paragraph_dups(docs, "doc_id", "text", min_chars=30).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    sql = r"""
    WITH paras AS (
        SELECT doc_id, trim(unnest(regexp_split_to_array(text, '\n\s*\n'))) AS p
        FROM documents
    ),
    kept AS (SELECT doc_id, md5(p) AS paragraph_hash FROM paras WHERE length(p) >= 30)
    SELECT paragraph_hash,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(doc_id) AS canonical_doc
    FROM kept GROUP BY paragraph_hash HAVING COUNT(DISTINCT doc_id) >= 2
    """
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want


def _canon_rows(df):
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _duck_rows(con, sql):
    return sorted(tuple(repr(v) for v in r) for r in con.execute(sql).fetchall())


def test_events_mad_anomalies_oracle_parity_preview(spark, sf_dir):
    # Round-7 registration preview (plans/events.py): lower-median rank
    # selections over exact integer counts — cell-exact now so the
    # r7 @register is a verified copy-paste.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.events import (
        EVENTS_MAD_ORACLE,
        events_mad_anomalies,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    got = _canon_rows(events_mad_anomalies(spark, sf_dir))
    want = _duck_rows(con, EVENTS_MAD_ORACLE)
    assert got == want


def test_customer_gini_oracle_parity_preview(spark, sf_dir):
    # Round-7 preview: rank-sum Gini — exact DECIMAL sums + one fixed
    # double chain, replayed cell-exact by DuckDB.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.window import (
        CUSTOMER_GINI_ORACLE,
        customer_mktseg_gini,
    )

    con = duckdb.connect()
    for t in ("orders", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    got = _canon_rows(customer_mktseg_gini(spark, sf_dir))
    want = _duck_rows(con, CUSTOMER_GINI_ORACLE)
    assert got == want
    # sanity: gini in [0, 1) for positive spends
    for r in customer_mktseg_gini(spark, sf_dir).collect():
        assert 0.0 <= r["gini"] < 1.0


def test_curation_pipeline_oracle_parity_preview(spark, sf_dir):
    # Round-7 preview: the composed gopher→dedup→fold pipeline, its
    # oracle assembled from the same building-block SQL fragments the
    # registered stage queries use.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.text import (
        _CUR_FOLDS,
        docs_curation_pipeline,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    # the gopher stage's oracle is already pinned cell-exact by the
    # registered docs_gopher_quality query, so this composition oracle
    # reuses its VERDICT rather than re-deriving every rule in SQL:
    # compute the surviving doc set via the registered oracle's
    # passes_gopher column, then dedup + fold + aggregate in SQL.
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    gopher_sql = REGISTRY["docs_gopher_quality"].oracle
    sql = f"""
    WITH gq AS ({gopher_sql}),
    kept AS (
        SELECT d.doc_id, d.source, d.text
        FROM documents d JOIN gq ON d.doc_id = gq.doc_id
        WHERE gq.passes_gopher = 1
    ),
    dd AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id ASC) AS rn
        FROM kept
    ),
    folded AS (
        SELECT doc_id, source, text,
               CAST((('0x' || substr(md5('fold-v1:' ||
                     coalesce(CAST(source AS VARCHAR), chr(0) || 'null')), 1, 8))::BIGINT)
                    % {_CUR_FOLDS} AS INTEGER) AS fold
        FROM dd WHERE rn = 1
    )
    SELECT fold, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(length(text)) AS BIGINT) AS total_chars
    FROM folded GROUP BY 1, 2 ORDER BY fold ASC, source ASC
    """
    got = _canon_rows(docs_curation_pipeline(spark, sf_dir))
    want = _duck_rows(con, sql)
    assert got == want


def test_compacted_scan_oracle_parity_preview(spark, sf_dir):
    # Round-7 preview (E16 companion): compaction is content-neutral —
    # the compacted snapshot aggregates exactly like the plain table.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.etl import (
        ORDERS_COMPACTED_ORACLE,
        orders_compacted_scan,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    assert _canon_rows(orders_compacted_scan(spark, sf_dir)) == _duck_rows(
        con, ORDERS_COMPACTED_ORACLE
    )


def test_schema_evolution_oracle_parity_preview(spark, sf_dir):
    # Round-7 preview (E18 companion): evolve_schema backfill semantics
    # value-checked — NULL class for untouched rows, populated for the
    # deterministically merged subset.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.etl import (
        ORDERS_EVOLUTION_ORACLE,
        orders_schema_evolution_stats,
    )

    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{sf_dir}/orders.parquet')")
    assert _canon_rows(orders_schema_evolution_stats(spark, sf_dir)) == _duck_rows(
        con, ORDERS_EVOLUTION_ORACLE
    )


def test_part_triangles_oracle_parity_preview(spark, sf_dir):
    # Round-7 preview: degree-ordered exact triangle counting. Also
    # sanity-pin the orientation against the naive id-ordered count —
    # both formulations must agree on the total.
    import duckdb

    from lakehouse_architecture_transaction_spark.plans.graph import (
        PART_TRIANGLES_ORACLE,
        part_copurchase_triangles,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    got = _canon_rows(part_copurchase_triangles(spark, sf_dir))
    want = _duck_rows(con, PART_TRIANGLES_ORACLE)
    assert got == want
    naive_total = con.execute("""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (SELECT a.l_partkey pa, b.l_partkey pb FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2)
    SELECT COUNT(*) FROM e e1 JOIN e e2 ON e1.pb = e2.pa
    JOIN e e3 ON e1.pa = e3.pa AND e2.pb = e3.pb
    """).fetchone()[0]
    oriented_total = con.execute("""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (SELECT a.l_partkey part_a, b.l_partkey part_b FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey GROUP BY 1, 2),
    deg AS (SELECT p, COUNT(*) deg FROM (SELECT part_a p FROM edges UNION ALL SELECT part_b FROM edges) GROUP BY 1),
    o AS (SELECT CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN e.part_a ELSE e.part_b END src,
                 CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN e.part_b ELSE e.part_a END dst,
                 CASE WHEN (da.deg, e.part_a) < (db.deg, e.part_b) THEN db.deg ELSE da.deg END ddeg
          FROM edges e JOIN deg da ON da.p = e.part_a JOIN deg db ON db.p = e.part_b)
    SELECT COUNT(*) FROM o w1 JOIN o w2 ON w1.src = w2.src AND (w1.ddeg, w1.dst) < (w2.ddeg, w2.dst)
    JOIN o c ON c.src = w1.dst AND c.dst = w2.dst
    """).fetchone()[0]
    assert naive_total == oriented_total


# ---------------- Round-8 registered-query invariants ------------------
# (their oracle parity now rides the registry-wide test_oracle_parity
# sweep — registered in round 8; only the EXTRA invariants the preview
# tests carried are kept here)


def test_r8_registered_invariants(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.plans.ann import emb_ivf_cell_balance
    from lakehouse_architecture_transaction_spark.plans.dedup import docs_ngram_containment
    from lakehouse_architecture_transaction_spark.plans.tpch import part_supplier_hhi
    from lakehouse_architecture_transaction_spark.plans.window import orders_backlog_daily

    # containment threshold applies to the LARGER direction by identity
    for r in docs_ngram_containment(spark, sf_dir).collect():
        assert max(r["containment_a"], r["containment_b"]) >= 0.5
    # HHI of k >= 2 suppliers lives in [1/k, 1)
    for r in part_supplier_hhi(spark, sf_dir).collect():
        assert 1.0 / r["n_suppliers"] <= r["hhi"] < 1.0
    # cell shares partition the corpus
    rows = emb_ivf_cell_balance(spark, sf_dir).collect()
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-9
    # sweep-line sanity: backlog never negative, ends at zero (every
    # order eventually ships)
    rows = orders_backlog_daily(spark, sf_dir).orderBy("day").collect()
    assert all(r["backlog"] >= 0 for r in rows)
    assert rows[-1]["backlog"] == 0


def test_events_stream_hourly_repeatable(spark, sf_dir):
    # A registered STREAMING query must be idempotent per session
    # (bench runs it 3x): a fresh bounded run per call, same result.
    from lakehouse_architecture_transaction_spark.plans.streaming import events_stream_hourly

    first = _canon_rows(events_stream_hourly(spark, sf_dir))
    assert _canon_rows(events_stream_hourly(spark, sf_dir)) == first


# ---------------- Round-9 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("orders_restore_clone_audit", "ORDERS_RESTORE_CLONE_ORACLE"),
        ("orders_snapshot_timetravel_stats", "ORDERS_TIMETRAVEL_ORACLE"),
        ("orders_constraint_audit", "ORDERS_CONSTRAINT_ORACLE"),
        ("orders_csv_roundtrip_stats", "ORDERS_CSV_ROUNDTRIP_ORACLE"),
        ("pipeline_three_dataset_summary", "PIPELINE_SUMMARY_ORACLE"),
        ("orchestration_landing_audit", "ORCHESTRATION_AUDIT_ORACLE"),
        # S-row streaming companions: bounded availableNow runs of the
        # REAL streaming pipelines, batch-equivalent by construction
        # (complete mode / no-eviction horizon — see each docstring)
        # events_stream_sessions / events_stream_dedup were registered
        # in round 8 and now ride the registry-wide sweep
        ("events_stream_clicks", "EVENTS_STREAM_CLICKS_ORACLE"),
        ("events_stream_enriched", "EVENTS_STREAM_ENRICHED_ORACLE"),
        # S7 companion (VERDICT r7 item 7): foreachBatch upsert →
        # versioned LakeTable → CDC diff as a bounded run
        ("orders_stream_upsert_cdc", "ORDERS_STREAM_UPSERT_CDC_ORACLE"),
    ],
)
def test_r9_lakehouse_companion_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


# ---------------- Round-10 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("docs_priority_sample", "DOCS_PRIORITY_SAMPLE_ORACLE"),
        ("docs_dup_spans", "DOCS_DUP_SPANS_ORACLE"),
        ("docs_split_leakage", "DOCS_SPLIT_LEAKAGE_ORACLE"),
        ("catalog_inclusion_profile", "CATALOG_INCLUSION_ORACLE"),
        ("events_seasonal_decompose", "EVENTS_SEASONAL_DECOMPOSE_ORACLE"),
        ("orders_revenue_autocorr", "ORDERS_REVENUE_AUTOCORR_ORACLE"),
        ("docs_vocab_growth", "DOCS_VOCAB_GROWTH_ORACLE"),
        ("docs_source_distinctive_terms", "DOCS_DISTINCTIVE_TERMS_ORACLE"),
        # the house applyInPandasWithState sessionizer (S2) as a
        # bounded availableNow run — sentinel-closed, so the emitted
        # set equals batch sessionization exactly (see plans/streaming.py)
        ("events_stream_sessions_stateful", "EVENTS_STREAM_SESSIONS_STATEFUL_ORACLE"),
    ],
)
def test_r10_training_ops_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


def test_priority_sample_estimator_invariants(spark, sf_dir):
    # Duffield-Lund-Thorup invariants: exactly k rows, every kept
    # priority >= tau (= every kept est_weight >= its weight), and the
    # estimator reproduces the EXACT total weight for the certainty
    # set (w >= tau rows carry their own weight).
    from lakehouse_architecture_transaction_spark.plans.sampling import _PS_K, docs_priority_sample

    rows = docs_priority_sample(spark, sf_dir).collect()
    assert len(rows) == _PS_K
    for r in rows:
        assert r["est_weight"] >= float(r["n_chars"])
        assert r["priority"] > 0.0


def test_dup_spans_coverage_invariants(spark, sf_dir):
    # Interval-union invariants: covered chars never exceed the doc
    # (dup_frac <= 1), every covered span is at least window chars, and
    # coverage >= position count (windows are 50 wide, positions step 1).
    from lakehouse_architecture_transaction_spark.plans.dedup import _SPAN_W, docs_dup_spans

    rows = docs_dup_spans(spark, sf_dir).collect()
    assert rows, "synthetic corpus repeats boilerplate; expected some coverage"
    for r in rows:
        assert 0.0 < r["dup_frac"] <= 1.0
        assert r["dup_chars"] >= _SPAN_W
        assert r["dup_chars"] >= r["n_dup_positions"]


# ---------------- Round-11 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("lineitem_shipdelay_trend", "LINEITEM_SHIPDELAY_TREND_ORACLE"),
        ("customer_survival_curve", "CUSTOMER_SURVIVAL_ORACLE"),
        ("events_touch_attribution", "EVENTS_TOUCH_ATTRIBUTION_ORACLE"),
        ("docs_langid_confusion", "DOCS_LANGID_CONFUSION_ORACLE"),
        ("emb_pair_sim_histogram", "EMB_PAIR_SIM_HISTOGRAM_ORACLE"),
        ("orders_gdpr_erasure_audit", "ORDERS_GDPR_ERASURE_ORACLE"),
        ("orders_benford_audit", "ORDERS_BENFORD_ORACLE"),
    ],
)
def test_r11_ops_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


def test_bpe_merges_query_deterministic_and_shaped(spark, sf_dir):
    # docs_bpe_merges registers WITHOUT an oracle (iterative argmax is
    # not SQL-expressible) — pin what the rows-only driver check can't:
    # exactly 8 ranked merges, multi-char merges compose from earlier
    # ones, and a repeat run in the same session is bit-identical.
    from lakehouse_architecture_transaction_spark.plans.text import docs_bpe_merges

    a = docs_bpe_merges(spark, sf_dir).collect()
    assert [r["rank"] for r in a] == list(range(1, 9))
    for r in a:
        assert r["merged"] == r["left"] + r["right"]
        assert r["weight"] > 0
    b = docs_bpe_merges(spark, sf_dir).collect()
    assert a == b


# ---------------- Round-12 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("orders_order_size_histogram", "ORDERS_SIZE_HISTOGRAM_ORACLE"),
        ("supplier_part_degree_profile", "SUPPLIER_PART_DEGREE_ORACLE"),
        ("customer_order_value_cv", "CUSTOMER_ORDER_CV_ORACLE"),
        ("nation_trade_balance", "NATION_TRADE_BALANCE_ORACLE"),
    ],
)
def test_r12_ops_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


# ---------------- Round-13 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("part_price_dispersion_by_type", "PART_PRICE_DISPERSION_ORACLE"),
        ("events_usertype_overlap", "EVENTS_USERTYPE_OVERLAP_ORACLE"),
        ("lineitem_discount_profile", "LINEITEM_DISCOUNT_PROFILE_ORACLE"),
        ("events_growth_accounting", "EVENTS_GROWTH_ACCOUNTING_ORACLE"),
        ("events_hourly_concentration", "EVENTS_HOURLY_CONCENTRATION_ORACLE"),
    ],
)
def test_r13_ops_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


def test_growth_accounting_ledger_identities(spark, sf_dir):
    # The decomposition must balance exactly: active = new + retained
    # + resurrected for every week, and week-over-week growth equals
    # new + resurrected - churned.
    from lakehouse_architecture_transaction_spark.plans.events import events_growth_accounting

    rows = events_growth_accounting(spark, sf_dir).orderBy("week").collect()
    assert rows, "growth accounting must not be hollow"
    for r in rows:
        assert r["n_active"] == r["n_new"] + r["n_retained"] + r["n_resurrected"]
    for a, b in zip(rows, rows[1:]):
        assert b["n_active"] - a["n_active"] == (
            b["n_new"] + b["n_resurrected"] - b["n_churned"]
        )


# ---------------- Round-14 registration previews --


@pytest.mark.parametrize(
    "fn_name,oracle_name",
    [
        ("catalog_fd_profile", "CATALOG_FD_ORACLE"),
        ("catalog_column_stats", "CATALOG_COLUMN_STATS_ORACLE"),
        ("docs_dsir_select", "DOCS_DSIR_ORACLE"),
        ("emb_matryoshka_recall", "EMB_MATRYOSHKA_ORACLE"),
        ("docs_quality_calibration", "DOCS_QUALITY_CALIBRATION_ORACLE"),
    ],
)
def test_r14_ops_oracle_parity_preview(spark, sf_dir, fn_name, oracle_name):
    Q = importlib.import_module(REGISTRY[fn_name].fn.__module__)

    con = _duck(sf_dir)
    got = _canon_rows(getattr(Q, fn_name)(spark, sf_dir))
    want = _duck_rows(con, getattr(Q, oracle_name))
    assert got == want


def test_fd_profile_recovers_controls(spark, sf_dir):
    # The profiler must recover the true TPC-H key FDs, reject the
    # attribute negatives, and FLAG the raw zone's dirty composite PK
    # (duplicated (l_orderkey, l_linenumber) — the E4 dedup rationale).
    from lakehouse_architecture_transaction_spark.plans.etl import catalog_fd_profile

    rows = {
        (r["table_name"], r["determinant"], r["dependent"]): r
        for r in catalog_fd_profile(spark, sf_dir).collect()
    }
    assert rows[("orders", "o_orderkey", "o_custkey")]["fd_holds"] == 1
    assert rows[("customer", "c_custkey", "c_nationkey")]["fd_holds"] == 1
    assert rows[("nation", "n_nationkey", "n_regionkey")]["fd_holds"] == 1
    assert rows[("orders", "o_custkey", "o_orderpriority")]["fd_holds"] == 0
    assert rows[("nation", "n_regionkey", "n_name")]["fd_holds"] == 0
    dirty_pk = rows[("lineitem", "l_orderkey,l_linenumber", "l_partkey")]
    assert dirty_pk["fd_holds"] == 0 and dirty_pk["n_violating_det"] > 0
    for r in rows.values():
        assert (r["fd_holds"] == 1) == (r["strength"] == 1.0)


def test_column_stats_semantics(spark, sf_dir):
    # Key columns read key-like (distinct_ratio 1.0), enums read
    # category-like, and the clean fixtures carry no nulls — the
    # stats a CBO trusts must hold their defining invariants.
    from lakehouse_architecture_transaction_spark.plans.etl import catalog_column_stats

    rows = {
        (r["table_name"], r["column_name"]): r
        for r in catalog_column_stats(spark, sf_dir).collect()
    }
    assert rows[("orders", "o_orderkey")]["distinct_ratio"] == 1.0
    assert rows[("customer", "c_custkey")]["distinct_ratio"] == 1.0
    assert rows[("orders", "o_orderpriority")]["n_distinct"] <= 5
    assert rows[("customer", "c_mktsegment")]["n_distinct"] <= 5
    for r in rows.values():
        assert r["n_nonnull"] + r["n_nulls"] == r["n_rows"]
        assert r["n_distinct"] <= r["n_nonnull"]
        assert r["null_frac"] == 0.0


def test_dsir_selection_concentrates_target(spark, sf_dir):
    # Importance resampling must shift the selected mix TOWARD the
    # target language without degenerating into a hard lang filter.
    from lakehouse_architecture_transaction_spark.plans.sampling import (
        _DSIR_TARGET_LANG,
        docs_dsir_select,
    )
    from pyspark.sql import functions as F

    from lakehouse_architecture_transaction_spark.catalog import load_table

    sel = docs_dsir_select(spark, sf_dir).collect()
    assert sel, "selection must not be hollow"
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("lang") == _DSIR_TARGET_LANG).count() / docs.count()
    got = sum(1 for r in sel if r["lang"] == _DSIR_TARGET_LANG) / len(sel)
    assert got > base, f"selected target share {got:.2f} <= base rate {base:.2f}"
    assert got < 1.0, "selection collapsed into a hard lang filter"


def test_matryoshka_recall_bounds(spark, sf_dir):
    from lakehouse_architecture_transaction_spark.plans.ann import (
        _MT_K,
        _MT_QMAX,
        emb_matryoshka_recall,
    )

    rows = emb_matryoshka_recall(spark, sf_dir).collect()
    assert len(rows) == _MT_QMAX
    for r in rows:
        assert 0 <= r["n_common"] <= r["n_full"] <= _MT_K
        assert 0.0 <= r["recall"] <= 1.0
        assert r["top1_preserved"] in (0, 1)


def test_quality_calibration_partitions_corpus(spark, sf_dir):
    # Deciles must partition the corpus exactly and carry disjoint,
    # ascending score ranges (NTILE over a total order).
    from lakehouse_architecture_transaction_spark.catalog import load_table
    from lakehouse_architecture_transaction_spark.plans.text import docs_quality_calibration

    rows = docs_quality_calibration(spark, sf_dir).orderBy("decile").collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    assert [r["decile"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert a["max_p"] <= b["min_p"]
    for r in rows:
        assert 0 <= r["n_pass"] <= r["n_docs"]


#: the timezone-risk surface: NTZ→TIMESTAMP casts (streaming
#: watermarks require TIMESTAMP), session/window arithmetic on the
#: cast column, and calendar bucketing — one registered query per
#: risky shape.
_TZ_SENSITIVE = [
    "events_stream_hourly",    # streaming tumbling window on the cast ts
    "events_stream_sessions",  # session_window merge + duration math
    "events_session_window",   # the batch gaps-and-islands twin
    "events_hourly",           # date_trunc calendar bucketing
    "events_asof_orders",      # event-time as-of join
    "orders_backlog_daily",    # epoch-day bucketed running sum
    "events_stream_clicks",    # stream-stream interval join + latency buckets (r9)
    "events_stream_dedup",     # watermark-horizon eviction on the cast ts (r9)
]


def test_timestamp_queries_session_timezone_independent(spark, sf_dir):
    """House invariant (SURVEY §6): correctness cannot depend on the
    driver session's timezone. The lake stores TIMESTAMP_NTZ, but the
    streaming paths must cast to TIMESTAMP for watermarks — a leaked
    session-tz rendering (or a window boundary computed in local time)
    would pass every UTC-host gate and fail the first non-UTC driver.
    Rerun the risky shapes under a DST-observing timezone against the
    SAME DuckDB oracle; the collect() round-trip is part of the check
    (outputs must be NTZ/strings/numbers, never session-tz datetimes)."""
    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        for name in _TZ_SENSITIVE:
            test_oracle_parity(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)


def test_stateful_sessions_companion_session_timezone_independent(spark, sf_dir):
    """The house-sessionizer companion under a non-UTC driver: it
    exercises every tz-risk layer at once (NTZ sentinel arithmetic in
    the staging, the NTZ→TIMESTAMP stream cast, the state function's
    engine-computed ts_us epoch micros — ALL ordering/gap/timer math
    runs on unix_micros, never on Arrow's session-tz-rendered naive
    timestamps — and the unix_micros duration reduction) — rerun
    against the same DuckDB oracle. A fresh staged zone per timezone
    (the memo keys on app+sf_dir, so clear it) keeps the sentinel
    computation itself under test."""
    from lakehouse_architecture_transaction_spark.plans import streaming as Q
    from lakehouse_architecture_transaction_spark.session import clear

    prior = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        clear()
        con = _duck(sf_dir)
        got = _canon_rows(Q.events_stream_sessions_stateful(spark, sf_dir))
        want = _duck_rows(con, Q.EVENTS_STREAM_SESSIONS_STATEFUL_ORACLE)
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prior)
        clear()
