"""Vector search over the embeddings table.

Brute-force kNN and the ANN indexes (LSH, multiprobe LSH, IVF, SQ8,
PQ/ADC, IVF-PQ), their recall evaluation, the IVF cell-balance audit
and truncated-dimension (Matryoshka) recall, plus the shared vector
SQL fragments (exact dot/norm folds, HALF_UP decimal rounding, k-means
assignment/update steps) the embedding and dedup oracles reuse.

Index builds are session-memoized (session.session_memo), so min-of-N
timings measure search, not training; when a persisted index store
exists for the sf_dir (lakehouse/ann_index.py,
tools/build_ann_index.py) the loaders read it instead of retraining.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import corpus_fingerprint, load_table
from lakehouse_architecture_transaction_spark.operators import similarity as S
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.session import session_memo

# -------------------------------------------------- embedding queries

_Q_MAX = 8  # query set = vec_id < 8
_K = 5


#: variance-selected sign-LSH (emb_ann_lsh): 6 bits over the 6
#: highest-variance dims, probed to Hamming radius 2 (22 probes of 64
#: buckets) — recall@5 0.775 at ~35% corpus scanned vs 0.100 for the
#: round-4 single-probe leading-dims variant (tools/ann_frontier.py)
_LSHV_BITS = 6
_LSHV_RADIUS = 2
#: trained-IVF knobs (emb_ann_ivf): 16 Lloyd cells, 2 training rounds,
#: probe the 2 nearest cells (~12% of the corpus) — recall@5 1.000 on
#: the frontier corpus vs 0.250 for the round-4 label-cell variant
_IVF_CELLS = 16
_IVF_ITERS = 2
_IVF_NPROBE = 2

# Exact half-up quantization of a float to 9 decimals, as an integer
# numerator. Spark's float→DECIMAL(18,9) cast rounds HALF_UP on the
# exact value; DuckDB's rounds half-to-EVEN, and floats of the form
# odd/2^10 (e.g. 0.1494140625 → x.5 exactly at 1e9 scale, expected
# once per ~2^17 draws) diverge by 1e-9. floor(|v|·1e9 + 0.5) is exact
# at those boundaries (v·1e9 fits a double exactly when v = m/2^10)
# and every non-boundary float sits ≥1e-13 from a boundary — far
# beyond double error — so this reproduces Spark's cast bit-for-bit.
_V9_HALF_UP = (
    "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS DECIMAL(28,0))"
)

# 1e6 variant (see the int64-exact-numerator note in plans/emb.py,
# above emb_label_covariance).
_V6_HALF_UP = (
    "(CASE WHEN v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
)

# Deterministic DOUBLE left-folds mirroring operators/similarity.py:
# list_reduce folds left-to-right from the first element, which equals
# Spark's aggregate() fold from a 0.0 seed bit-for-bit.
_N2_FOLD = "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
_DOT_FOLD = (
    "list_reduce(list_transform(list_zip(q.embedding, c.embedding), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b)"
)


@register(
    "emb_knn_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding, {_N2_FOLD} AS n2 FROM embeddings WHERE vec_id < {_Q_MAX}),
    c AS (SELECT vec_id, embedding, {_N2_FOLD} AS n2 FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM c CROSS JOIN q
        WHERE c.vec_id != q.vec_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id ASC, rank ASC
    """,
    headline=True,
)
def emb_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k over the embedding corpus (broadcast query
    set, single corpus scan)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.cosine_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_Q_MAX)), k=_K)


# The ANN index structures are session-memoized — the same
# build-once-query-many pattern as _signature_frame/_cluster_frame. A
# vector index (LSH buckets, IVF centroids + inverted lists, PQ codes)
# is trained/persisted once in any real deployment; queries pay only
# the probe path. Frames are localCheckpointed so repeated queries
# (and the min-of-3 frontier timings) measure SEARCH latency, not the
# amortized build.


def _train_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the variance-bit sign-LSH index from the CURRENT corpus —
    no store consultation, no memo: this is the build path
    build_persisted_ann_index calls so a refresh always retrains
    instead of re-committing a loaded (possibly stale) index."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.lsh_var_build(
        emb, id_col="vec_id", vec_col="embedding", bits=_LSHV_BITS
    ).localCheckpoint(eager=True)


@session_memo
def _lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Persisted index first — same contract as _ivf_index below.
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import default_store

    store = default_store(spark, sf_dir)
    if store is not None and store.has_lsh():
        return store.load_lsh(bits=_LSHV_BITS, fingerprint=corpus_fingerprint(sf_dir))
    return _train_lsh(spark, sf_dir)


def _train_ivf(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Train the IVF index from the CURRENT corpus (see _train_lsh)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent, corpus = S.ivf_build(
        emb, id_col="vec_id", vec_col="embedding", n_cells=_IVF_CELLS, iters=_IVF_ITERS
    )
    return (cent.localCheckpoint(eager=True), corpus.localCheckpoint(eager=True))


@session_memo
def _ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # Persisted index first ($SPARK_GRAFT_ANN_INDEX_DIR, see
    # lakehouse/ann_index.py): a new session LOADS the committed
    # centroids + clustered corpus instead of re-training — at scale
    # the build is iters × corpus-scans that should be paid once per
    # refresh, not once per session. Results are bit-identical either
    # way (round-trip pinned by test_ann_index_store). The live corpus
    # fingerprint travels with the load so a regenerated corpus
    # refuses the stale index instead of serving old neighbors.
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import default_store

    store = default_store(spark, sf_dir)
    if store is not None and store.has_ivf():
        return store.load_ivf(
            n_cells=_IVF_CELLS, iters=_IVF_ITERS, fingerprint=corpus_fingerprint(sf_dir)
        )
    return _train_ivf(spark, sf_dir)


def _lshv_oracle(radius: int = 2) -> str:
    b = _LSHV_BITS
    flip1 = (
        "substr(bkt, 1, i - 1) || (CASE WHEN substr(bkt, i, 1) = '1' THEN '0' ELSE '1' END) "
        "|| substr(bkt, i + 1)"
    )
    flip2 = (
        "substr(bkt, 1, i - 1) || (CASE WHEN substr(bkt, i, 1) = '1' THEN '0' ELSE '1' END) "
        "|| substr(bkt, i + 1, j - i - 1) "
        "|| (CASE WHEN substr(bkt, j, 1) = '1' THEN '0' ELSE '1' END) || substr(bkt, j + 1)"
    )
    shell2 = (
        f"""
                   || flatten(list_transform(generate_series(1, {b} - 1),
                          i -> list_transform(generate_series(i + 1, {b}), j -> {flip2})))"""
        if radius == 2
        else ""
    )
    return f"""
    WITH xv AS (SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
                FROM embeddings),
    st AS (SELECT pos, SUM({_V6_HALF_UP}) AS sq,
                  SUM(CAST(({_V6_HALF_UP}) AS HUGEINT) * ({_V6_HALF_UP})) AS sq2, COUNT(*) AS n
           FROM xv GROUP BY pos),
    dimarr AS (SELECT list(pos ORDER BY pos ASC) AS ds FROM (
        SELECT pos FROM st ORDER BY (n * sq2 - sq * sq) DESC, pos ASC LIMIT {b})),
    bk AS (
        SELECT vec_id, embedding,
               array_to_string(list_transform(d.ds,
                   p -> CASE WHEN embedding[p] >= 0 THEN '1' ELSE '0' END), '') AS bkt,
               {_N2_FOLD} AS n2
        FROM embeddings CROSS JOIN dimarr d
    ),
    probes AS (
        SELECT vec_id AS query_id, embedding, n2,
               unnest(list_distinct(
                   [bkt]
                   || list_transform(generate_series(1, {b}), i -> {flip1}){shell2}
               )) AS bkt
        FROM bk WHERE vec_id < {_Q_MAX}
    ),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM bk c JOIN probes q ON c.bkt = q.bkt AND c.vec_id != q.query_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id ASC, rank ASC
    """


@register("emb_ann_lsh", oracle=_lshv_oracle(_LSHV_RADIUS), headline=True)
def emb_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN, variance-selected bits + Hamming-2 probe shell
    (operators/similarity.py sign_lsh_var_ann): hyperplanes are the 6
    highest-variance dims (exact integer scores, so the oracle picks
    the same dims) and each query probes its bucket's Hamming-≤2
    shell. Round-4's single-probe leading-dims variant measured
    recall@5 = 0.100; this one measures 0.775 at ~35% of the corpus
    scanned (tools/ann_frontier.py)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.sign_lsh_var_ann(
        emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_Q_MAX)),
        k=_K, bits=_LSHV_BITS, radius=_LSHV_RADIUS,
        bucketed=_lsh_index(spark, sf_dir),
    )


@register("emb_ann_multiprobe", oracle=_lshv_oracle(1))
def emb_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al., VLDB'07): each query
    probes its bucket plus every Hamming-1 neighbor. Round 6
    CONSOLIDATED this into the variance-bit LSH family: the former
    standalone leading-dims variant (recall@5 0.625 at ~31% scan) was
    strictly dominated by emb_ann_lsh, so this entry is now the
    radius-1 parameterization of the SAME sign_lsh_var_ann operator
    and SAME memoized index — one index serves the whole radius curve.

    Measured radius curve on the frontier corpus (sf0.1, bits=6):
    radius-1 = 0.425 recall@5 at ~11% scanned (this entry, the
    cheapest-scan LSH point), radius-2 = 0.775 at ~34% (emb_ann_lsh).
    A radius-1 sweep over bit widths found no non-dominated higher
    point (bits=4 → 0.550 @ 31%, bits=3 → 0.775 @ 50%): on this
    corpus near neighbors typically differ in ≥ 2 thresholded dims,
    so the Hamming-1 shell cannot reach the radius-2 recall at less
    scan — the recorded reason this stays a parameterization rather
    than a retune."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.sign_lsh_var_ann(
        emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_Q_MAX)),
        k=_K, bits=_LSHV_BITS, radius=1,
        bucketed=_lsh_index(spark, sf_dir),
    )


_KM_SQDIST = (
    "list_reduce(list_transform(list_zip(e.embedding, c.cvec), "
    "z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])), (a, b) -> a + b)"
)


def _km_assign_sql(cent_cte: str) -> str:
    return f"""(
    SELECT vec_id, cluster FROM (
        SELECT e.vec_id, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                   ORDER BY {_KM_SQDIST} ASC, c.cluster ASC) AS rn
        FROM embeddings e CROSS JOIN {cent_cte} c
    ) WHERE rn = 1)"""


def _km_update_sql(assign_cte: str) -> str:
    return f"""(
    SELECT cluster, list(cv ORDER BY pos) AS cvec FROM (
        SELECT a.cluster, x.pos, CAST(CAST(SUM({_V9_HALF_UP}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS cv
        FROM (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     unnest(embedding) AS v FROM embeddings) x
        JOIN {assign_cte} a USING (vec_id)
        GROUP BY a.cluster, x.pos
    ) GROUP BY cluster)"""


def _ivf_oracle() -> str:
    parts = [
        f"""c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < {_IVF_CELLS})"""
    ]
    for i in range(_IVF_ITERS):
        parts.append(f"a{i + 1} AS {_km_assign_sql(f'c{i}')}")
        parts.append(f"c{i + 1} AS {_km_update_sql(f'a{i + 1}')}")
    parts.append(f"fin AS {_km_assign_sql(f'c{_IVF_ITERS}')}")
    parts.append(
        f"q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_Q_MAX})"
    )
    parts.append(
        f"""dist AS (
        SELECT q.query_id, q.qv, c.cluster,
               list_reduce(list_transform(list_zip(q.qv, c.cvec),
                   z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])),
                   (a, b) -> a + b) AS d
        FROM q CROSS JOIN c{_IVF_ITERS} c)"""
    )
    parts.append(
        f"""cell AS (
        SELECT query_id, qv, cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d ASC, cluster ASC) AS rn
            FROM dist
        ) WHERE rn <= {_IVF_NPROBE})"""
    )
    parts.append(
        f"""cc AS (SELECT e.vec_id, e.embedding, f.cluster, {_N2_FOLD} AS n2
                   FROM embeddings e JOIN fin f USING (vec_id))"""
    )
    parts.append(
        """scored AS (
        SELECT cell.query_id, cc.vec_id AS neighbor_id,
               list_reduce(list_transform(list_zip(cell.qv, cc.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b)
               / (sqrt(list_reduce(list_transform(cell.qv,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b))
                  * sqrt(cc.n2)) AS cosine
        FROM cc JOIN cell ON cc.cluster = cell.cluster AND cc.vec_id != cell.query_id)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id ASC, rank ASC
    """
    )


@register("emb_ann_ivf", oracle=_ivf_oracle(), headline=True)
def emb_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (operators/similarity.py
    ivf_topk): deterministic Lloyd cells (16 cells, 2 rounds, low-id
    seeds — the kmeans_centroids core), nprobe=2 nearest-cell probes,
    exact cosine inside the probed inverted lists. Round-4's label-cell
    stand-in measured recall@5 = 0.250; trained Voronoi cells measure
    1.000 scanning ~12% of the corpus (tools/ann_frontier.py). The
    oracle replays the training rounds with the same decimal-exact
    means and (distance, cluster) tie rule."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.ivf_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_Q_MAX)),
        k=_K, n_cells=_IVF_CELLS, iters=_IVF_ITERS, nprobe=_IVF_NPROBE,
        index=_ivf_index(spark, sf_dir),
    )


def _sq8_oracle() -> str:
    return f"""
    WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
    s AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY pos),
    qz AS (SELECT vec_id, x.pos,
                  CASE WHEN s.hi = s.lo THEN 0.0
                       ELSE floor((x.v - s.lo) / (s.hi - s.lo) * 254 + 0.5) - 127 END AS q,
                  s.lo, s.hi
           FROM x JOIN s USING (pos)),
    rec AS (SELECT vec_id,
                   list(lo + (q + 127) * (hi - lo) / 254 ORDER BY pos) AS rvec
            FROM qz GROUP BY vec_id),
    n AS (SELECT vec_id, rvec,
                 list_reduce(list_transform(rvec, e -> e * e), (a, b) -> a + b) AS n2
          FROM rec),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_reduce(list_transform(list_zip(q.rvec, c.rvec), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)),
                           (a, b) -> a + b) / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM n c CROSS JOIN n q
        WHERE q.vec_id < {_Q_MAX} AND c.vec_id != q.vec_id
    )
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM scored
    ) WHERE rank <= {_K}
    ORDER BY query_id ASC, rank ASC
    """


@register("emb_ann_sq8", oracle=_sq8_oracle(), headline=True)
def emb_ann_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-k over int8-reconstructed vectors
    (operators/similarity.py sq8_topk): the memory-bound search path
    over the 4×-compressed corpus. Recall vs the exact search is
    pinned by test (test_operators.py)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.sq8_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_Q_MAX)), k=_K)


def _recall_eval_oracle() -> str:
    from lakehouse_architecture_transaction_spark.plans.registry import REGISTRY

    brute = REGISTRY["emb_knn_bruteforce"].oracle
    return f"""
    WITH brute AS ({brute}),
    approx AS ({_sq8_oracle()})
    SELECT b.query_id,
           CAST(COUNT(a.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(a.neighbor_id) AS DOUBLE) / COUNT(*) AS recall
    FROM brute b
    LEFT JOIN approx a ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    ORDER BY b.query_id ASC
    """


@register("emb_ann_recall_eval", oracle=_recall_eval_oracle())
def emb_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation: per-query recall@k of the SQ8 quantized
    search against the exact brute-force top-k — the quality gate an
    embedding index ships with (tools/ann_frontier.py reports the same
    number fleet-wide; this query makes it a first-class, oracle-checked
    table). Both sides are the registered queries; the join is at
    (query × k) cardinality."""
    from lakehouse_architecture_transaction_spark.plans.registry import REGISTRY

    brute = REGISTRY["emb_knn_bruteforce"].fn(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("nb")
    )
    approx = REGISTRY["emb_ann_sq8"].fn(spark, sf_dir).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("anb")
    )
    j = brute.join(
        approx, (F.col("query_id") == F.col("aq")) & (F.col("nb") == F.col("anb")), "left"
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count("anb").cast("bigint").alias("n_hits"),
            (F.count("anb").cast("double") / F.count("*")).alias("recall"),
        )
        .orderBy("query_id")
    )


#: Round-4 trained 8 subspaces × 8 dims at k=8 codes, 1 round — ADC
#: recall@5 measured 0.275. Finer subspaces + more codes + one more
#: round (16×4d, k=16, 2 rounds) plus the exact re-rank below lift it
#: to ≥0.8 at unchanged plan shape (tools/ann_frontier.py).
_PQ_M, _PQ_DSUB, _PQ_K, _PQ_ITERS = 16, 4, 16, 2
_PQ_V9 = (
    "(CASE WHEN x.v < 0 THEN -1 ELSE 1 END) * "
    "CAST(floor(abs(CAST(x.v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)"
)
_PQ_SQDIST = (
    "list_reduce(list_transform(list_zip(e.sv, c.cvec), "
    "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), "
    "(a, b) -> a + b)"
)


def _pq_assign_sql(cent_cte: str) -> str:
    return f"""(
    SELECT vec_id, s, cluster FROM (
        SELECT e.vec_id, e.s, c.cluster,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.s
                   ORDER BY {_PQ_SQDIST} ASC, c.cluster ASC) AS rn
        FROM sub e JOIN {cent_cte} c ON e.s = c.s
    ) WHERE rn = 1)"""


def _pq_update_sql(assign_cte: str) -> str:
    return f"""(
    SELECT s, cluster, list(cv ORDER BY pos) AS cvec FROM (
        SELECT x.s, a.cluster, x.pos, CAST(CAST(SUM({_PQ_V9}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS cv
        FROM (SELECT vec_id, s, generate_subscripts(sv, 1) AS pos, unnest(sv) AS v FROM sub) x
        JOIN {assign_cte} a ON a.vec_id = x.vec_id AND a.s = x.s
        GROUP BY x.s, a.cluster, x.pos
    ) GROUP BY s, cluster)"""


def _pq_oracle() -> str:
    parts = [
        f"""sub AS (
        SELECT vec_id, ss.s,
               list_transform(embedding[ss.s * {_PQ_DSUB} + 1 : (ss.s + 1) * {_PQ_DSUB}],
                              x -> CAST(x AS DOUBLE)) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss)""",
        f"""c0 AS (
        SELECT s, CAST(vec_id AS INTEGER) AS cluster, sv AS cvec
        FROM sub WHERE vec_id < {_PQ_K})""",
    ]
    for i in range(_PQ_ITERS):
        parts.append(f"a{i + 1} AS {_pq_assign_sql(f'c{i}')}")
        parts.append(f"c{i + 1} AS {_pq_update_sql(f'a{i + 1}')}")
    parts.append(f"fin AS {_pq_assign_sql(f'c{_PQ_ITERS}')}")
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT vec_id, CAST(s AS INTEGER) AS subspace, CAST(cluster AS INTEGER) AS code "
        "FROM fin ORDER BY vec_id ASC, subspace ASC"
    )


def _train_pq(spark: SparkSession, sf_dir: str):
    """Train the PQ index from the CURRENT corpus — no store, no memo
    (the build path build_persisted_ann_index uses, so a refresh
    always retrains; see _train_ivf)."""
    from lakehouse_architecture_transaction_spark.operators.similarity import product_quantize

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    codes, cent = product_quantize(
        emb, id_col="vec_id", vec_col="embedding",
        m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_K, iters=_PQ_ITERS, return_codebook=True,
    )
    return (codes.localCheckpoint(eager=True), cent.localCheckpoint(eager=True))


#: The trained PQ index (codes + codebooks) is session-memoized —
#: emb_product_quantize and emb_ann_pq_adc train the SAME index; in a
#: real pipeline it is persisted once. Same pattern as
#: _lsh_index/_ivf_index.
@session_memo
def _pq_index(spark: SparkSession, sf_dir: str):
    # Persisted index first — same contract as _ivf_index
    # (load the committed codes/codebooks instead of re-training; the
    # manifest check refuses a hyperparameter mismatch, the corpus
    # fingerprint refuses a stale index after data regeneration).
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import default_store

    store = default_store(spark, sf_dir)
    if store is not None and store.has_pq():
        return store.load_pq(
            m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_K, iters=_PQ_ITERS,
            fingerprint=corpus_fingerprint(sf_dir),
        )
    return _train_pq(spark, sf_dir)


def build_persisted_ann_index(spark: SparkSession, sf_dir: str, base_path: str) -> dict[str, int]:
    """TRAIN the IVF, PQ, and LSH indexes from the current corpus and
    COMMIT them to an AnnIndexStore at ``base_path/<sf basename>`` —
    the explicit build step of the index lifecycle (build → commit →
    sessions load → periodic refresh = new commit, with
    LakeTable.diff() giving the index delta). Always retrains via the
    _train_* builders — never the store-consulting _*_index loaders —
    so a refresh with $SPARK_GRAFT_ANN_INDEX_DIR pointing at the same
    store picks up corpus changes instead of re-committing the stale
    persisted index verbatim. Returns the committed version per
    component table."""
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import AnnIndexStore

    store = AnnIndexStore(
        spark, os.path.join(base_path, os.path.basename(os.path.normpath(sf_dir)))
    )
    fp = corpus_fingerprint(sf_dir)
    cent, corpus = _train_ivf(spark, sf_dir)
    versions = store.save_ivf(cent, corpus, n_cells=_IVF_CELLS, iters=_IVF_ITERS, fingerprint=fp)
    codes, books = _train_pq(spark, sf_dir)
    versions.update(
        store.save_pq(
            codes, books, m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_K, iters=_PQ_ITERS, fingerprint=fp
        )
    )
    versions.update(store.save_lsh(_train_lsh(spark, sf_dir), bits=_LSHV_BITS, fingerprint=fp))
    return versions


#: Search-side packing of the memoized PQ index (packed codes + the
#: one-row broadcast codebook) — session-memoized like the index
#: itself; emb_ann_pq_adc and emb_ann_ivfpq share it so their searches
#: run with zero index-side shuffles.
@session_memo
def _pq_packed(spark: SparkSession, sf_dir: str):
    from lakehouse_architecture_transaction_spark.operators.similarity import pq_pack_index

    codes, cent = _pq_index(spark, sf_dir)
    pcodes, pbooks = pq_pack_index(codes, cent, "vec_id")
    return (pcodes.localCheckpoint(eager=True), pbooks.localCheckpoint(eager=True))


@register("emb_product_quantize", oracle=_pq_oracle(), headline=True)
def emb_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (operators/similarity.py product_quantize):
    8 subspaces × 8 dims, per-subspace Lloyd k-means (k=8, fixed low-id
    seeds), vectors coded by nearest centroid per subspace — the FAISS
    PQ compression that turns a 64-float vector into 8 small codes.
    All subspaces train in ONE pipeline (shared rounds: one scan + one
    subspace×cluster×dim shuffle per iteration); assignment is
    row-local against broadcast per-subspace codebooks. The oracle
    replays every round with the same decimal-exact means and
    (distance, cluster) tie rule."""
    codes, _cent = _pq_index(spark, sf_dir)
    return codes.select(
        "vec_id",
        F.col("subspace").cast("int").alias("subspace"),
        F.col("code").cast("int").alias("code"),
    ).orderBy("vec_id", "subspace")


def _pq_adc_oracle() -> str:
    parts = [
        f"""sub AS (
        SELECT vec_id, ss.s,
               list_transform(embedding[ss.s * {_PQ_DSUB} + 1 : (ss.s + 1) * {_PQ_DSUB}],
                              x -> CAST(x AS DOUBLE)) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss)""",
        f"""c0 AS (
        SELECT s, CAST(vec_id AS INTEGER) AS cluster, sv AS cvec
        FROM sub WHERE vec_id < {_PQ_K})""",
    ]
    for i in range(_PQ_ITERS):
        parts.append(f"a{i + 1} AS {_pq_assign_sql(f'c{i}')}")
        parts.append(f"c{i + 1} AS {_pq_update_sql(f'a{i + 1}')}")
    parts.append(f"fin AS {_pq_assign_sql(f'c{_PQ_ITERS}')}")
    parts.append(
        f"""qsub AS (SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < {_ADC_Q_MAX})"""
    )
    parts.append(
        f"""dt AS (
        SELECT q.query_id, c.s, c.cluster,
               list_reduce(list_transform(list_zip(q.sv, c.cvec),
                   z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
                   (a, b) -> a + b) AS d
        FROM qsub q JOIN c{_PQ_ITERS} c ON q.s = c.s)"""
    )
    parts.append(
        """adc AS (
        SELECT dt.query_id, f.vec_id AS neighbor_id,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(dt.d ORDER BY dt.s), (a, b) -> a + b) AS adc_dist
        FROM fin f JOIN dt ON dt.s = f.s AND dt.cluster = f.cluster
        WHERE f.vec_id != dt.query_id
        GROUP BY dt.query_id, f.vec_id)"""
    )
    n2 = "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    parts.append(
        f"""short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
            FROM adc
        ) WHERE rn <= {_ADC_RERANK})"""
    )
    parts.append(
        f"""qv AS (SELECT vec_id AS query_id, embedding, {n2} AS n2 FROM embeddings
                   WHERE vec_id < {_ADC_Q_MAX})"""
    )
    parts.append(f"""nv AS (SELECT vec_id AS neighbor_id, embedding, {n2} AS n2 FROM embeddings)""")
    parts.append(
        """ex AS (
        SELECT sh.query_id, sh.neighbor_id,
               list_reduce(list_transform(list_zip(q.embedding, c.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b)
               / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM short sh JOIN qv q USING (query_id) JOIN nv c USING (neighbor_id))"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ex
    ) WHERE rank <= {_ADC_K}
    ORDER BY query_id ASC, rank ASC
    """
    )


_ADC_Q_MAX, _ADC_K = 8, 5
#: exact-cosine re-rank depth: the ADC scan only needs to LAND the
#: true neighbors in its top-50 (recall@50 is easy), the exact pass
#: ranks them — |Q|·50 vector reads, invisible next to the scan
_ADC_RERANK = 50


@register("emb_ann_pq_adc", oracle=_pq_adc_oracle(), headline=True)
def emb_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via Asymmetric Distance Computation with exact
    re-rank (operators/similarity.py pq_adc_topk): the query's raw
    subvectors build a |Q|·m·k distance TABLE (broadcast), the corpus
    path is a pure code-lookup join — no vector math per corpus row —
    the ADC scan keeps a 50-deep shortlist per query, and exact cosine
    re-ranks it (the FAISS two-stage search). Round-4's rank-by-ADC
    output measured recall@5 = 0.275; the re-ranked top-5 measures
    ≥0.8 (tools/ann_frontier.py). Oracle-replayed round-for-round
    (codes, codebooks, shortlist cut, and re-rank)."""
    from lakehouse_architecture_transaction_spark.operators.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    out = pq_adc_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_ADC_Q_MAX)),
        m=_PQ_M, dsub=_PQ_DSUB, k_codes=_PQ_K, iters=_PQ_ITERS, k=_ADC_K,
        rerank=_ADC_RERANK, index=_pq_index(spark, sf_dir),
        packed=_pq_packed(spark, sf_dir),
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine"
    )


_IVFPQ_NPROBE, _IVFPQ_RERANK = 2, 50


def _ivfpq_oracle() -> str:
    parts = [
        f"""sub AS (
        SELECT vec_id, ss.s,
               list_transform(embedding[ss.s * {_PQ_DSUB} + 1 : (ss.s + 1) * {_PQ_DSUB}],
                              x -> CAST(x AS DOUBLE)) AS sv
        FROM embeddings CROSS JOIN (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS s) ss)""",
        f"""pc0 AS (
        SELECT s, CAST(vec_id AS INTEGER) AS cluster, sv AS cvec
        FROM sub WHERE vec_id < {_PQ_K})""",
    ]
    for i in range(_PQ_ITERS):
        parts.append(f"pa{i + 1} AS {_pq_assign_sql(f'pc{i}')}")
        parts.append(f"pc{i + 1} AS {_pq_update_sql(f'pa{i + 1}')}")
    parts.append(f"pfin AS {_pq_assign_sql(f'pc{_PQ_ITERS}')}")
    parts.append(
        f"""ic0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < {_IVF_CELLS})"""
    )
    for i in range(_IVF_ITERS):
        parts.append(f"ia{i + 1} AS {_km_assign_sql(f'ic{i}')}")
        parts.append(f"ic{i + 1} AS {_km_update_sql(f'ia{i + 1}')}")
    parts.append(f"ifin AS {_km_assign_sql(f'ic{_IVF_ITERS}')}")
    parts.append(
        f"q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {_ADC_Q_MAX})"
    )
    parts.append(
        f"""idist AS (
        SELECT q.query_id, c.cluster,
               list_reduce(list_transform(list_zip(q.qv, c.cvec),
                   z -> (CAST(z[1] AS DOUBLE) - z[2]) * (CAST(z[1] AS DOUBLE) - z[2])),
                   (a, b) -> a + b) AS d
        FROM q CROSS JOIN ic{_IVF_ITERS} c)"""
    )
    parts.append(
        f"""cell AS (
        SELECT query_id, cluster FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d ASC, cluster ASC) AS rn
            FROM idist) WHERE rn <= {_IVFPQ_NPROBE})"""
    )
    parts.append(
        """cand AS (
        SELECT cell.query_id, f.vec_id
        FROM ifin f JOIN cell ON f.cluster = cell.cluster AND f.vec_id != cell.query_id)"""
    )
    parts.append(
        f"""qsub AS (SELECT vec_id AS query_id, s, sv FROM sub WHERE vec_id < {_ADC_Q_MAX})"""
    )
    parts.append(
        f"""dt AS (
        SELECT q.query_id, c.s, c.cluster,
               list_reduce(list_transform(list_zip(q.sv, c.cvec),
                   z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
                   (a, b) -> a + b) AS d
        FROM qsub q JOIN pc{_PQ_ITERS} c ON q.s = c.s)"""
    )
    parts.append(
        """adc AS (
        SELECT ca.query_id, pf.vec_id AS neighbor_id,
               list_reduce([CAST(0.0 AS DOUBLE)] || list(dt.d ORDER BY dt.s), (a, b) -> a + b) AS adc_dist
        FROM pfin pf
        JOIN cand ca ON pf.vec_id = ca.vec_id
        JOIN dt ON dt.query_id = ca.query_id AND dt.s = pf.s AND dt.cluster = pf.cluster
        GROUP BY ca.query_id, pf.vec_id)"""
    )
    n2 = "list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b)"
    parts.append(
        f"""short AS (
        SELECT query_id, neighbor_id FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rn
            FROM adc) WHERE rn <= {_IVFPQ_RERANK})"""
    )
    parts.append(
        f"""qv AS (SELECT vec_id AS query_id, embedding, {n2} AS n2 FROM embeddings
                   WHERE vec_id < {_ADC_Q_MAX})"""
    )
    parts.append(f"""nv AS (SELECT vec_id AS neighbor_id, embedding, {n2} AS n2 FROM embeddings)""")
    parts.append(
        """ex AS (
        SELECT sh.query_id, sh.neighbor_id,
               list_reduce(list_transform(list_zip(q.embedding, c.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b)
               / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM short sh JOIN qv q USING (query_id) JOIN nv c USING (neighbor_id))"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, cosine FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
        FROM ex) WHERE rank <= {_ADC_K}
    ORDER BY query_id ASC, rank ASC
    """
    )


@register("emb_ann_ivfpq", oracle=_ivfpq_oracle(), headline=True)
def emb_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ search (operators/similarity.py ivfpq_topk — the FAISS
    IVFADC composition, non-residual): the trained IVF quantizer
    prunes to the 2 nearest inverted lists (~12% of the corpus), PQ
    codes score ONLY those candidates via broadcast table lookups, and
    exact cosine re-ranks the ADC top-50. recall@5 ≈ 0.9 at both gate
    scales — the index shape a 100 TB corpus needs: cell pruning
    bounds the scan, codes bound the arithmetic, the exact stage is a
    |Q|·50 sliver. Shares BOTH session-memoized indexes with
    emb_ann_ivf / emb_ann_pq_adc; the oracle replays both trainings
    (prefixed CTE chains), the probe, the list-restricted ADC, and the
    re-rank."""
    from lakehouse_architecture_transaction_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    out = ivfpq_topk(
        emb, id_col="vec_id", vec_col="embedding", query_ids=list(range(_ADC_Q_MAX)),
        k=_ADC_K, nprobe=_IVFPQ_NPROBE, rerank=_IVFPQ_RERANK,
        n_cells=_IVF_CELLS, ivf_iters=_IVF_ITERS,
        m=_PQ_M, dsub=_PQ_DSUB, k_codes=_PQ_K, pq_iters=_PQ_ITERS,
        ivf_index=_ivf_index(spark, sf_dir), pq_index=_pq_index(spark, sf_dir),
        packed=_pq_packed(spark, sf_dir),
    )
    return out.select(
        "query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine"
    )


# ------------------------------------------------------------------
# emb_ivf_cell_balance — IVF index balance audit
# ------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    parts = [
        f"""c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < {_IVF_CELLS})"""
    ]
    for i in range(_IVF_ITERS):
        parts.append(f"a{i + 1} AS {_km_assign_sql(f'c{i}')}")
        parts.append(f"c{i + 1} AS {_km_update_sql(f'a{i + 1}')}")
    parts.append(f"fin AS {_km_assign_sql(f'c{_IVF_ITERS}')}")
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
    cells AS (
        SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM fin GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM cells)
    SELECT CAST(cluster AS INTEGER) AS cell, n AS n_vectors,
           CAST(n AS DOUBLE) / total AS share,
           CAST(n AS DOUBLE) * {_IVF_CELLS} / total AS imbalance
    FROM cells CROSS JOIN tot
    ORDER BY cell ASC"""
    )


EMB_IVF_BALANCE_ORACLE = _ivf_balance_oracle()


@register("emb_ivf_cell_balance", oracle=EMB_IVF_BALANCE_ORACLE, headline=True)
def emb_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index balance audit: per-cell vector counts, corpus share,
    and the imbalance factor n·k/N (1.0 = perfectly balanced; ≫1 =
    a hot cell that makes every probe of it scan far more than N/k
    vectors — the FAISS imbalance_factor retrain trigger, the
    companion to emb_pq_reconstruction_error's code-quality audit).
    Consumes the SAME served index as the search paths (session memo
    or persisted store). Counts are exact BIGINTs; share/imbalance
    are fixed double chains.

    Scale shape: one cell-cardinality aggregate over the clustered
    corpus + a broadcast 1-row total."""
    _cent, corpus = _ivf_index(spark, sf_dir)
    cells = corpus.groupBy(F.col("__cell").alias("cell")).agg(
        F.count("*").cast("bigint").alias("n_vectors")
    )
    tot = cells.agg(F.sum("n_vectors").cast("bigint").alias("total"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cell").cast("int").alias("cell"),
            "n_vectors",
            (F.col("n_vectors").cast("double") / F.col("total")).alias("share"),
            (F.col("n_vectors").cast("double") * _IVF_CELLS / F.col("total")).alias("imbalance"),
        )
        .orderBy("cell")
    )


# ------------------------------------------------------------------
# emb_matryoshka_recall — truncated-dimension retrieval QA
# ------------------------------------------------------------------

_MT_DIM = 32  # prefix dimensions kept (full corpus vectors are 64-d)
_MT_QMAX = 8  # query set = vec_id < 8, matching the ANN family
_MT_K = 5

EMB_MATRYOSHKA_ORACLE = f"""
WITH c AS (SELECT vec_id, embedding, {_N2_FOLD} AS n2 FROM embeddings),
q AS (SELECT * FROM c WHERE vec_id < {_MT_QMAX}),
fs AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
       FROM c CROSS JOIN q WHERE c.vec_id != q.vec_id),
fk AS (SELECT query_id, neighbor_id, rn FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rn
         FROM fs) WHERE rn <= {_MT_K}),
tc AS (SELECT vec_id, embedding, {_N2_FOLD} AS n2
       FROM (SELECT vec_id, embedding[1:{_MT_DIM}] AS embedding FROM embeddings)),
tq AS (SELECT * FROM tc WHERE vec_id < {_MT_QMAX}),
ts AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
       FROM tc c CROSS JOIN tq q WHERE c.vec_id != q.vec_id),
tk AS (SELECT query_id, neighbor_id, rn FROM (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id ASC) AS rn
         FROM ts) WHERE rn <= {_MT_K}),
com AS (SELECT f.query_id AS query_id, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM fk f JOIN tk t ON f.query_id = t.query_id AND f.neighbor_id = t.neighbor_id
        GROUP BY 1),
f1 AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_full,
              MAX(CASE WHEN rn = 1 THEN neighbor_id END) AS top1_full
       FROM fk GROUP BY 1),
t1 AS (SELECT query_id, MAX(CASE WHEN rn = 1 THEN neighbor_id END) AS top1_trunc
       FROM tk GROUP BY 1)
SELECT f1.query_id AS query_id, f1.n_full AS n_full,
       COALESCE(com.n_common, 0) AS n_common,
       CAST(COALESCE(com.n_common, 0) AS DOUBLE) / CAST(f1.n_full AS DOUBLE) AS recall,
       CAST(CASE WHEN f1.top1_full = t1.top1_trunc THEN 1 ELSE 0 END AS BIGINT)
           AS top1_preserved
FROM f1 JOIN t1 ON f1.query_id = t1.query_id
LEFT JOIN com ON com.query_id = f1.query_id
ORDER BY query_id ASC
"""


@register("emb_matryoshka_recall", oracle=EMB_MATRYOSHKA_ORACLE)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-prefix-dimension retrieval QA (Kusupati et al. 2022
    Matryoshka representation learning): run exact cosine top-{k}
    twice — once on the full {d}-d vectors, once on only the first
    {d2} dimensions — and report, per query, the overlap of the two
    neighbor sets (recall@{k}) and whether the top-1 neighbor
    survives truncation. An embedding trained matryoshka-style holds
    recall near 1.0 at half dimensions (half the index bytes, half
    the dot-product work at 100 TB); an embedding that isn't — like
    this synthetic corpus, which reads recall ≈ 0.2–0.6 — tells you
    the cheap-prefix serving plan is NOT safe. Set-intersection
    counts are exact integers; recall is ONE double division; both
    rankings reuse the deterministic left-fold cosine + neighbor-id
    tie-break the ANN family hash-checks.

    Scale shape: two corpus scans (full and sliced projection), each
    the documented brute-force yardstick shape — {q}-query set
    broadcast against the corpus, per-partition top-k; the join of
    two ({q}·{k})-row result frames is driver-trivial."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    qids = list(range(_MT_QMAX))
    full = S.cosine_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=qids, k=_MT_K)
    sliced = emb.select(
        "vec_id", F.expr(f"slice(embedding, 1, {_MT_DIM})").alias("embedding")
    )
    trunc = S.cosine_topk(
        sliced, id_col="vec_id", vec_col="embedding", query_ids=qids, k=_MT_K
    )
    full = full.localCheckpoint(eager=True)  # intersection + top1 both consume
    trunc = trunc.localCheckpoint(eager=True)
    com = (
        full.select("query_id", "neighbor_id")
        .join(trunc.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    f1 = full.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_full"),
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias("top1_full"),
    )
    t1 = trunc.groupBy("query_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("neighbor_id"))).alias("top1_trunc")
    )
    return (
        f1.join(t1, "query_id")
        .join(com, "query_id", "left")
        .select(
            "query_id",
            "n_full",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
            (
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
                / F.col("n_full").cast("double")
            ).alias("recall"),
            F.when(F.col("top1_full") == F.col("top1_trunc"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("top1_preserved"),
        )
        .orderBy("query_id")
    )


if emb_matryoshka_recall.__doc__:  # None under python -OO
    emb_matryoshka_recall.__doc__ = emb_matryoshka_recall.__doc__.format(
        k=_MT_K, d=64, d2=_MT_DIM, q=_MT_QMAX
    )
