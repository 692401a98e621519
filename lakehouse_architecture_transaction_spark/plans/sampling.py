"""Sampling and data selection over the documents table:
train/val splits, stratified, reservoir and shuffled-batch sampling,
grouped folds, source and temperature mixtures, priority sampling with
its unbiased estimator, and DSIR importance-resampling selection.

Every draw is a pure function of md5 hashes of the row key, so the
sample replays bit-exact in DuckDB under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.hashing import h32_col
from lakehouse_architecture_transaction_spark.operators import sampling as SA
from lakehouse_architecture_transaction_spark.operators.dedup import tokens_expr
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.plans.text import _TOKENS

@register(
    "docs_train_val_split",
    oracle=f"""
    WITH b AS (
        SELECT doc_id,
               (('0x' || substr(md5('split-v1' || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    ORDER BY doc_id ASC
    """,
)
def docs_train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split by hashed doc id
    (operators/sampling.py): reproducible, repartition-stable, and
    leak-free — unlike randomSplit, which is partition-order
    dependent."""
    from lakehouse_architecture_transaction_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        hash_split(docs, id_col="doc_id", weights={"train": 0.9, "val": 0.05, "test": 0.05})
        .select("doc_id", "split")
        .orderBy("doc_id")
    )


@register(
    "docs_shuffled_batches",
    oracle="""
    WITH ordered AS (
        SELECT doc_id,
               ROW_NUMBER() OVER (
                   ORDER BY md5('shuffle-v1' || '-' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
               ) - 1 AS shuffle_pos
        FROM documents
    )
    SELECT doc_id, CAST(shuffle_pos AS BIGINT) AS shuffle_pos,
           CAST(shuffle_pos // 64 AS BIGINT) AS batch_idx
    FROM ordered
    ORDER BY doc_id ASC
    """,
    headline=True,
)
def docs_shuffled_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training shuffle + sharding
    (operators/sampling.py shuffle_and_shard): rows permuted by
    md5(salt||id) and cut into 64-row batches — reproducible epoch
    order on any cluster, re-dealt by bumping the salt."""
    from lakehouse_architecture_transaction_spark.operators.sampling import shuffle_and_shard

    docs = load_table(spark, sf_dir, "documents")
    return (
        shuffle_and_shard(docs, id_col="doc_id", batch_size=64)
        .select("doc_id", F.col("shuffle_pos").cast("bigint").alias("shuffle_pos"), "batch_idx")
        .orderBy("doc_id")
    )


_STRAT_FRACS = {"en": 0.25, "de": 1.0, "fr": 0.5, "es": 0.5, "zh": 0.5}


def _strat_oracle() -> str:
    whens = " ".join(
        f"WHEN lang = '{s}' THEN {int(round(f * 10000))}" for s, f in sorted(_STRAT_FRACS.items())
    )
    return f"""
    WITH b AS (
        SELECT doc_id, lang,
               (('0x' || substr(md5('strat-v1' || '-' || lang || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS bucket,
               CASE {whens} ELSE 0 END AS bound
        FROM documents
    )
    SELECT doc_id, lang FROM b WHERE bucket < bound
    ORDER BY doc_id ASC
    """


@register("docs_stratified_sample", oracle=_strat_oracle())
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified training-mix sampling (operators/sampling.py
    stratified_hash_sample): per-language hash fractions — downsample
    the dominant language, keep all of the rare one — deterministic,
    repartition-stable, map-side (no shuffle)."""
    from lakehouse_architecture_transaction_spark.operators.sampling import stratified_hash_sample

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        stratified_hash_sample(docs, id_col="doc_id", strata_col="lang", fractions=_STRAT_FRACS)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


#: Training-mixture weights: src0..src19 cycle through 25/50/75/100%
#: keep rates (i % 4). Generated, not hand-listed, so the Spark CASE
#: and the oracle CASE can never disagree.
_MIX_WEIGHTS = {f"src{i}": (i % 4 + 1) / 4.0 for i in range(20)}


def _mix_oracle() -> str:
    arms = " ".join(
        f"WHEN source = '{s}' THEN {int(round(w * 10000))}" for s, w in sorted(_MIX_WEIGHTS.items())
    )
    return f"""
    WITH b AS (
        SELECT doc_id, source, lang,
               (('0x' || substr(md5('mix-v1' || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS bucket
        FROM documents
    )
    SELECT doc_id, source, lang FROM b
    WHERE bucket < (CASE {arms} ELSE 10000 END)
    ORDER BY doc_id ASC
    """


@register("docs_source_mixture_sample", oracle=_mix_oracle(), headline=True)
def docs_source_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-weighted mixture sampling (operators/sampling.py
    weighted_stratum_sample): the per-domain keep-rate knob of a
    training mix. Deterministic hash membership — map-side, no
    shuffle, monotone in the weights."""
    from lakehouse_architecture_transaction_spark.operators.sampling import (
        weighted_stratum_sample,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        weighted_stratum_sample(
            docs, id_col="doc_id", stratum_col="source", weights=_MIX_WEIGHTS
        )
        .select("doc_id", "source", "lang")
        .orderBy("doc_id")
    )


_RSV_N = 100


@register(
    "docs_reservoir_sample",
    oracle=f"""
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang FROM documents
        ORDER BY md5('rsv-v1' || '-' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
        LIMIT {_RSV_N}
    ) ORDER BY doc_id ASC
    """,
)
def docs_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-100 deterministic uniform sample (operators/sampling.py
    hash_sample_exact): the reproducible batch analogue of reservoir
    sampling — smallest 100 md5(salt||id) ranks win. Executes as
    TakeOrdered (per-partition n-heaps), no global sort."""
    from lakehouse_architecture_transaction_spark.operators.sampling import hash_sample_exact

    docs = load_table(spark, sf_dir, "documents", spread=True).select("doc_id", "source", "lang")
    return hash_sample_exact(docs, id_col="doc_id", n=_RSV_N, salt="rsv-v1").orderBy("doc_id")


_FOLD_K = 5


@register(
    "docs_grouped_folds",
    oracle=f"""
    SELECT doc_id, source,
           CAST((('0x' || substr(md5('fold-v1:' ||
                 coalesce(CAST(source AS VARCHAR), chr(0) || 'null')), 1, 8))::BIGINT)
                % {_FOLD_K} AS INTEGER) AS fold
    FROM documents ORDER BY doc_id ASC
    """,
)
def docs_grouped_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-coherent k-fold assignment (operators/sampling.py
    grouped_fold_assign — GroupKFold semantics): every doc of a source
    lands in the same fold, so grouped data never straddles the
    train/eval boundary. fold = h32(salt||source) mod k — row-local,
    zero shuffles, stable under incremental ingest (adding docs never
    reassigns an existing source)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return (
        SA.grouped_fold_assign(docs, "source", k=_FOLD_K)
        .select("doc_id", "source", "fold")
        .orderBy("doc_id")
    )


_TEMP_FRACTION = 0.5  # corpus-wide target keep fraction
_TEMP_RES = 1_000_000  # hash-threshold resolution (millionths)
_TEMP_NULL = "\x00null"

TEMPERATURE_MIXTURE_ORACLE = f"""
WITH counts AS (
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_source FROM documents GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_source) AS BIGINT) AS n_total,
           list_reduce(list_sort(list(sqrt(CAST(n_source AS DOUBLE)))), (a, b) -> a + b) AS wsum
    FROM counts
),
rates AS (
    SELECT source, n_source,
           CAST(floor(least(1.0,
               (CAST(CAST(ceil({_TEMP_FRACTION} * n_total) AS BIGINT) AS DOUBLE)
                * sqrt(CAST(n_source AS DOUBLE)) / wsum)
               / CAST(n_source AS DOUBLE)) * {_TEMP_RES}) AS BIGINT) AS thr
    FROM counts CROSS JOIN tot
),
sel AS (
    SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(length(d.text)) AS BIGINT) AS selected_chars
    FROM documents d JOIN rates r ON r.source IS NOT DISTINCT FROM d.source
    WHERE (('0x' || substr(md5('temp-v1:' ||
               coalesce(CAST(d.source AS VARCHAR), chr(0) || 'null') || ':' ||
               CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT) % {_TEMP_RES} < r.thr
    GROUP BY 1
)
SELECT r.source, r.n_source,
       coalesce(s.n_selected, 0) AS n_selected,
       coalesce(s.selected_chars, 0) AS selected_chars,
       CAST(r.thr AS DOUBLE) / {_TEMP_RES} AS rate
FROM rates r LEFT JOIN sel s ON s.source IS NOT DISTINCT FROM r.source
ORDER BY r.source ASC NULLS FIRST
"""


@register("docs_temperature_mixture", oracle=TEMPERATURE_MIXTURE_ORACLE, headline=True)
def docs_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based (α = 0.5) source mixture sampling — the
    multilingual/multi-domain rebalancing primitive (XLM-R-style
    α-sampling): keep-probability per source ∝ n^α / Σ n^α scaled to a
    corpus-wide target fraction and capped at 1, so dominant sources
    are downsampled and rare sources kept whole, with the WEIGHTS
    DERIVED FROM THE CORPUS COUNTS inside the query (unlike
    docs_source_mixture_sample's fixed weight map). Membership is the
    deterministic md5-threshold rule (same id-identity guarantees as
    operators/sampling.py); Σ√n folds over a SORTED list so the one
    cross-source double sum is order-stable; every other boundary
    value is an exact BIGINT or a fixed double chain.

    Scale shape: one source-cardinality aggregate — materialized
    (localCheckpoint) because four plan branches consume it (total,
    Σ√n, rates, final join) and Spark replicates unshared subtrees,
    which would re-scan the corpus per branch — then a broadcast
    1-row total, a broadcast rates join, and one map-side filtered
    source-cardinality aggregate over the corpus' second (and last)
    scan. Two corpus passes total is the floor: the rates are derived
    from the same corpus the selection filters."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_source"))
        .localCheckpoint(eager=True)
    )
    tot = counts.agg(
        F.sum("n_source").cast("bigint").alias("n_total"),
        F.expr(
            "aggregate(array_sort(collect_list(sqrt(CAST(n_source AS DOUBLE)))), "
            "CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
        ).alias("wsum"),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_source",
        F.floor(
            F.least(
                F.lit(1.0),
                (
                    F.ceil(F.lit(_TEMP_FRACTION) * F.col("n_total")).cast("double")
                    * F.sqrt(F.col("n_source").cast("double"))
                    / F.col("wsum")
                )
                / F.col("n_source").cast("double"),
            )
            * _TEMP_RES
        )
        .cast("bigint")
        .alias("thr"),
    )
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("temp-v1:"),
                        F.coalesce(F.col("source"), F.lit(_TEMP_NULL)),
                        F.lit(":"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % _TEMP_RES
    )
    sel = (
        docs.join(F.broadcast(rates.select("source", "thr")), ["source"])
        .filter(h < F.col("thr"))
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_selected"),
            F.sum(F.length("text")).cast("bigint").alias("selected_chars"),
        )
    )
    return (
        rates.join(F.broadcast(sel), ["source"], "left")
        .select(
            "source",
            "n_source",
            F.coalesce(F.col("n_selected"), F.lit(0)).cast("bigint").alias("n_selected"),
            F.coalesce(F.col("selected_chars"), F.lit(0)).cast("bigint").alias("selected_chars"),
            (F.col("thr").cast("double") / _TEMP_RES).alias("rate"),
        )
        .orderBy(F.col("source").asc_nulls_first())
    )


# ------------------------------------------------------------------
# docs_priority_sample — weighted sample + unbiased estimator
# ------------------------------------------------------------------

_PS_K = 50
_PS_SALT = "priority-v1"

DOCS_PRIORITY_SAMPLE_ORACLE = f"""
WITH scored AS (
    SELECT doc_id, source, n_chars,
           CAST(n_chars AS DOUBLE) /
             ((CAST(('0x' || substr(md5('{_PS_SALT}' || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 1.0)
              / 4294967296.0) AS priority
    FROM documents
),
r AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY priority DESC, doc_id ASC) AS rn FROM scored
),
tau AS (
    SELECT CASE WHEN COUNT(*) > {_PS_K} THEN MIN(priority) ELSE 0.0 END AS tau
    FROM r WHERE rn <= {_PS_K + 1}
)
SELECT doc_id, source, n_chars, priority,
       GREATEST(CAST(n_chars AS DOUBLE), tau) AS est_weight
FROM r, tau
WHERE rn <= {_PS_K}
ORDER BY priority DESC, doc_id ASC
"""


@register("docs_priority_sample", oracle=DOCS_PRIORITY_SAMPLE_ORACLE, headline=True)
def docs_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling over the corpus, weighted by document length
    (operators/sampling.py priority_sample — Duffield–Lund–Thorup,
    JACM 2007): the k={k} highest-priority docs (q = w/u, u md5-derived
    in (0,1]) plus the unbiased subset-sum estimator est_weight =
    max(w, τ) against the (k+1)-th priority τ. The length-weighted
    sample is the char-budget-proportional corpus slice a training mix
    draws; Σ est_weight over ANY subset of the sample estimates that
    subset's true total chars unbiasedly. Chosen over
    Efraimidis–Spirakis u^(1/w) keys because the priority is ONE IEEE
    division of exact doubles — no pow/log — so the oracle replays the
    exact ranking and estimates bit-for-bit.

    Scale shape: TakeOrderedAndProject top-(k+1) (per-partition heaps,
    no global sort), τ broadcasts from a (k+1)-row frame.""".format(k=_PS_K)
    from lakehouse_architecture_transaction_spark.operators.sampling import priority_sample

    docs = load_table(spark, sf_dir, "documents", spread=True).select(
        "doc_id", "source", "n_chars"
    )
    return (
        priority_sample(docs, id_col="doc_id", weight_col="n_chars", k=_PS_K, salt=_PS_SALT)
        .select("doc_id", "source", "n_chars", "priority", "est_weight")
        .orderBy(F.col("priority").desc(), F.col("doc_id").asc())
    )


# ------------------------------------------------------------------
# docs_dsir_select — importance-resampling data selection
# ------------------------------------------------------------------

_DSIR_BUCKETS = 64
_DSIR_K = 64
_DSIR_TARGET_LANG = "en"

DOCS_DSIR_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang,
           (('0x' || substr(md5(lower(unnest({_TOKENS}))), 1, 8))::BIGINT) % {_DSIR_BUCKETS} AS bkt
    FROM documents
),
c AS (
    SELECT doc_id, lang, bkt, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tok GROUP BY 1, 2, 3
),
r AS (SELECT bkt, CAST(SUM(cnt) AS BIGINT) AS rcnt FROM c GROUP BY 1),
tb AS (SELECT bkt, CAST(SUM(cnt) AS BIGINT) AS tcnt
       FROM c WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY 1),
tot AS (
    SELECT CAST((SELECT COALESCE(SUM(rcnt), 0) FROM r) AS BIGINT) AS raw_total,
           CAST((SELECT COALESCE(SUM(tcnt), 0) FROM tb) AS BIGINT) AS tgt_total
),
w AS (
    SELECT r.bkt AS bkt,
           CAST(COALESCE(tb.tcnt, 0) AS DECIMAL(38,0)) * CAST(tot.raw_total AS DECIMAL(38,0))
         - CAST(r.rcnt AS DECIMAL(38,0)) * CAST(tot.tgt_total AS DECIMAL(38,0)) AS w
    FROM r LEFT JOIN tb ON r.bkt = tb.bkt CROSS JOIN tot
),
s AS (
    SELECT c.doc_id AS doc_id,
           SUM(CAST(c.cnt AS DECIMAL(38,0)) * w.w) AS num,
           CAST(SUM(c.cnt) AS BIGINT) AS n_tokens
    FROM c JOIN w ON c.bkt = w.bkt GROUP BY 1
),
dn AS (
    SELECT CAST(CAST(tgt_total AS DECIMAL(38,0))
              * CAST(raw_total AS DECIMAL(38,0)) AS DOUBLE) AS denom
    FROM tot
),
scored AS (
    SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source,
           CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
           CASE WHEN s.num IS NULL OR dn.denom = 0.0 THEN 0.0
                ELSE CAST(s.num AS DOUBLE) / dn.denom
           END AS score
    FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id CROSS JOIN dn
),
rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rn FROM scored)
SELECT doc_id, lang, source, n_tokens, score FROM rk WHERE rn <= {_DSIR_K}
ORDER BY score DESC, doc_id ASC
"""


@register("docs_dsir_select", oracle=DOCS_DSIR_ORACLE)
def docs_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023, hashed n-gram
    importance resampling): hash lowercased unigrams into
    {b} buckets, estimate the target distribution from the
    lang='{tl}' slice and the raw distribution from the whole corpus,
    score every document by its feature-count dot product with the
    per-bucket importance, and keep the top {k} (score desc, doc_id
    tiebreak). The importance is the first-order surrogate
    p_target(b) − p_raw(b) rather than the paper's log-ratio: ln is a
    libm call the engine boundary forbids (docs_char_diversity
    precedent), and the surrogate keeps every weight an EXACT integer
    on the common denominator T·R —
    w(b) = tcnt(b)·R − rcnt(b)·T in DECIMAL(38,0), doc score =
    Σ_b c_doc(b)·w(b) exact, ONE double division by T·R at the end.
    T·R must stay below 2^53 for the final division's operands to be
    dot-exact in both engines — at ~1e13 tokens a side you would
    rescale to per-million counts (same 2^53 gate discipline as the
    rank tie-split). Zero-token docs score 0.0 and rank by id among
    themselves. On the synthetic corpus the selected mix concentrates
    to ~60% '{tl}' vs a ~40% base rate — selection, not a lang filter:
    cross-language docs sharing target-heavy vocabulary score in.

    Scale shape: one (doc, bucket)-keyed count with map-side combine
    (state per doc ≤ {b} longs), the bucket marginals at {b}-row
    cardinality broadcast back, per-doc score one more map-side
    aggregate, and TakeOrderedAndProject for the top-k — no global
    sort, no row-level self-join."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # lang rides the explode (needed for the target marginal); source
    # does NOT — it re-joins from the doc-level frame at the end, so
    # the widest shuffle of the query carries no dead string column
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(tokens_expr("text")).alias("__t"),
    ).select(
        "doc_id",
        "lang",
        (h32_col(F.lower(F.col("__t"))) % _DSIR_BUCKETS).alias("bkt"),
    )
    c = tok.groupBy("doc_id", "lang", "bkt").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    c = c.localCheckpoint(eager=True)  # marginals + score join both consume it
    r = c.groupBy("bkt").agg(F.sum("cnt").cast("bigint").alias("rcnt"))
    tb = (
        c.filter(F.col("lang") == _DSIR_TARGET_LANG)
        .groupBy("bkt")
        .agg(F.sum("cnt").cast("bigint").alias("tcnt"))
    )
    tot = (
        r.agg(F.coalesce(F.sum("rcnt"), F.lit(0)).cast("bigint").alias("raw_total"))
        .crossJoin(
            tb.agg(F.coalesce(F.sum("tcnt"), F.lit(0)).cast("bigint").alias("tgt_total"))
        )
    )
    w = (
        r.join(tb, "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            F.expr(
                "CAST(COALESCE(tcnt, 0) AS DECIMAL(38,0)) * CAST(raw_total AS DECIMAL(38,0))"
                " - CAST(rcnt AS DECIMAL(38,0)) * CAST(tgt_total AS DECIMAL(38,0))"
            ).alias("w"),
        )
    )
    s = (
        c.join(F.broadcast(w), "bkt")
        .groupBy("doc_id")
        .agg(
            F.expr("SUM(CAST(cnt AS DECIMAL(38,0)) * w)").alias("num"),
            F.sum("cnt").cast("bigint").alias("n_tokens"),
        )
    )
    denom = tot.select(
        F.expr(
            "CAST(CAST(tgt_total AS DECIMAL(38,0)) * CAST(raw_total AS DECIMAL(38,0)) AS DOUBLE)"
        ).alias("__denom")
    )
    scored = (
        docs.select("doc_id", "lang", "source")
        .join(s, "doc_id", "left")
        .crossJoin(F.broadcast(denom))
        .select(
            "doc_id",
            "lang",
            "source",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_tokens"),
            # denom = 0 (no target-language tokens) forces every weight
            # to 0, so score 0.0 — guarded, not divided, under ANSI.
            F.when(F.col("num").isNull() | (F.col("__denom") == 0.0), F.lit(0.0))
            .otherwise(F.col("num").cast("double") / F.col("__denom"))
            .alias("score"),
        )
    )
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(_DSIR_K)


# guard None: python -OO strips docstrings, and an AttributeError here
# would kill every import of the plans package
if docs_dsir_select.__doc__:
    docs_dsir_select.__doc__ = docs_dsir_select.__doc__.format(
        b=_DSIR_BUCKETS, k=_DSIR_K, tl=_DSIR_TARGET_LANG
    )
