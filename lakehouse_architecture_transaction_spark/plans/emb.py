"""Embedding analytics: k-means, PCA projection, per-dimension
statistics, label centroids and covariance, int8 quantization, norm
outliers, centroid distance and nearest-centroid confusion, and PQ
reconstruction error.

Sums that cross into DOUBLE come from exact BIGINT/DECIMAL fixed-point
units (the HALF_UP fragments in plans/ann.py), so the Spark result and
the DuckDB oracle agree bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.moments import sum_sq_dec
from lakehouse_architecture_transaction_spark.operators import similarity as S
from lakehouse_architecture_transaction_spark.plans.ann import (
    _PQ_DSUB,
    _PQ_ITERS,
    _PQ_K,
    _PQ_M,
    _PQ_SQDIST,
    _V6_HALF_UP,
    _V9_HALF_UP,
    _km_assign_sql,
    _km_update_sql,
    _pq_assign_sql,
    _pq_index,
    _pq_update_sql,
)
from lakehouse_architecture_transaction_spark.plans.registry import register

_COV_DIMS = 8

# 1e6 HALF_UP quantization (same emulation argument as _V9_HALF_UP at
# 1e9 — v·1e6 is EXACT in double for any float32 |v| < 512, so
# floor(+0.5) reproduces Spark's DECIMAL(18,6) cast bit-for-bit). The
# coarser scale keeps every aggregate inside BIGINT: BIGINT→DOUBLE is
# a correctly-rounded CPU conversion in both engines, whereas DuckDB's
# HUGEINT/DECIMAL(38)→DOUBLE is NOT correctly rounded (observed 1-2
# ulp drift) — so no intermediate may ever exceed int64.
# (_V6_HALF_UP itself is defined next to _V9_HALF_UP in plans/ann.py.)


@register(
    "emb_label_covariance",
    oracle=f"""
    WITH flat AS (
        SELECT label, vec_id, generate_subscripts(embedding[1:{_COV_DIMS}], 1) AS pos,
               unnest(embedding[1:{_COV_DIMS}]) AS v
        FROM embeddings
    ),
    q AS (SELECT label, vec_id, pos, {_V6_HALF_UP} AS q FROM flat),
    p AS (
        SELECT a.label, a.pos AS i, b.pos AS j, a.q AS qi, b.q AS qj
        FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.pos >= a.pos
    ),
    agg AS (
        SELECT label, i, j, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(qi * qj) AS BIGINT) AS sxy,
               CAST(SUM(qi) AS BIGINT) AS sx, CAST(SUM(qj) AS BIGINT) AS sy
        FROM p GROUP BY label, i, j
    )
    SELECT label, CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j, n,
           (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n / 1e12 AS cov
    FROM agg
    ORDER BY label ASC, i ASC, j ASC
    """,
)
def emb_label_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label feature covariance over the leading 8 embedding
    dims (upper triangle): the feature-statistics shape — explode,
    within-vector pair join, one groupBy at (label, i, j)
    cardinality. Sums run over EXACT int64 numerators (HALF_UP 1e6
    quantization both engines reproduce bit-for-bit; everything stays
    in BIGINT because DuckDB's int128→double is not correctly
    rounded); cov = (Σxy − Σx·Σy/n)/n emitted through one identical
    double expression — no floating sum ever crosses partitions."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q_expr = (
        "CAST(CAST(CAST(v AS DECIMAL(18,6)) * CAST(1000000 AS DECIMAL(7,0)) AS DECIMAL(25,0)) "
        "AS BIGINT)"
    )
    ex = (
        emb.select(
            "label", "vec_id", F.posexplode(F.slice("embedding", 1, _COV_DIMS)).alias("pos0", "v")
        )
        .withColumn("pos", F.col("pos0") + 1)
        .withColumn("q", F.expr(q_expr))
    )
    a = ex.select("label", "vec_id", F.col("pos").alias("i"), F.col("q").alias("qi"))
    b = ex.select(F.col("vec_id").alias("vid2"), F.col("pos").alias("j"), F.col("q").alias("qj"))
    pairs = a.join(b, (F.col("vec_id") == F.col("vid2")) & (F.col("j") >= F.col("i")))
    agg = pairs.groupBy("label", "i", "j").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("qi") * F.col("qj")).cast("bigint").alias("sxy"),
        F.sum("qi").cast("bigint").alias("sx"),
        F.sum("qj").cast("bigint").alias("sy"),
    )
    cov = (
        (
            F.col("sxy").cast("double")
            - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
        )
        / F.col("n")
        / F.lit(1e12)
    )
    return (
        agg.select(
            "label",
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            "n",
            cov.alias("cov"),
        )
        .orderBy("label", "i", "j")
    )


@register(
    "emb_label_centroids",
    oracle=f"""
    SELECT label, CAST(pos AS INTEGER) AS pos,
           CAST(CAST(SUM({_V9_HALF_UP}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS centroid
    FROM (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v FROM embeddings)
    GROUP BY label, pos
    ORDER BY label ASC, pos ASC
    """,
)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids, emitted flat (label, pos, value)."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    exploded = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return (
        exploded.groupBy("label", "pos")
        .agg(S.mean_v_exact().alias("centroid"))
        .select("label", (F.col("pos") + 1).cast("int").alias("pos"), "centroid")
        .orderBy("label", "pos")
    )


_KM_K, _KM_ITERS = 4, 2

# One Lloyd round in DuckDB: argmin assignment against the previous
# centroid CTE, then DECIMAL-exact per-(cluster,dim) means. Mirrors
# operators/similarity.py kmeans_lloyd round-for-round.
def _kmeans_oracle() -> str:
    parts = [
        f"""c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cluster,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
        FROM embeddings WHERE vec_id < {_KM_K})"""
    ]
    for i in range(_KM_ITERS):
        parts.append(f"a{i + 1} AS {_km_assign_sql(f'c{i}')}")
        parts.append(f"c{i + 1} AS {_km_update_sql(f'a{i + 1}')}")
    parts.append(f"fin AS {_km_assign_sql(f'c{_KM_ITERS}')}")
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT vec_id, cluster FROM fin ORDER BY vec_id ASC"
    )


@register("emb_kmeans", oracle=_kmeans_oracle(), headline=True)
def emb_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means (K=4, 2 rounds, fixed low-id seeds)
    over the embedding corpus — the training half of the IVF index
    whose probe half is emb_ann_ivf. Broadcast centroids, map-side
    argmin, k·dim-cardinality update shuffle: the MLlib plan shape,
    made bit-reproducible (decimal-exact means, left-fold distances)
    so the oracle replays every round."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.kmeans_lloyd(emb, id_col="vec_id", vec_col="embedding", k=_KM_K, iters=_KM_ITERS)


@register(
    "emb_int8_quantize",
    oracle="""
    WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                      CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
    s AS (SELECT pos, MIN(v) AS lo, MAX(v) AS hi FROM x GROUP BY pos)
    SELECT vec_id, CAST(x.pos AS INTEGER) AS pos,
           CAST(CASE WHEN s.hi = s.lo THEN 0.0
                     ELSE floor((x.v - s.lo) / (s.hi - s.lo) * 254 + 0.5) - 127 END AS INTEGER) AS q
    FROM x JOIN s USING (pos)
    ORDER BY vec_id ASC, pos ASC
    """,
)
def emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (operators/similarity.py
    scalar_quantize_int8): per-dimension min/max stats (64-row agg,
    broadcast back) then a map-side linear quantize — 4× storage cut
    for ANN candidate stages."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.scalar_quantize_int8(emb, id_col="vec_id", vec_col="embedding").orderBy(
        "vec_id", "pos"
    )


@register(
    "emb_dim_stats",
    oracle=f"""
    WITH x AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS dim,
               CAST(unnest(embedding) AS DOUBLE) AS v
        FROM embeddings
    )
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(CAST(SUM({_V9_HALF_UP}) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS mean_v,
           MIN(v) AS min_v, MAX(v) AS max_v
    FROM x GROUP BY dim ORDER BY dim ASC
    """,
    headline=True,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean/min/max) — the
    embedding-QA pass that catches dead or exploding dimensions
    before indexing. One posexplode + one groupBy at DIMENSION
    cardinality (64 groups regardless of corpus size), map-side
    combine carrying (decimal sum, count, min, max). Mean follows the
    exact-decimal-sum / one-double-division discipline."""
    emb = load_table(spark, sf_dir, "embeddings")
    x = emb.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    # int64-exact mean (the _V9_HALF_UP discipline): quantize each
    # value HALF_UP at 1e9 into BIGINT, sum exactly, divide ONCE at
    # the end. sf0.1 exposed Java BigDecimal.doubleValue() rounding
    # the decimal-sum→double path 1 ulp off DuckDB at this sum
    # magnitude — exactly the hazard the house rule (only int64-exact
    # intermediates cross the engine boundary) exists to prevent.
    q = F.expr(
        "CAST(CAST(v AS DECIMAL(18,9)) * CAST(1000000000 AS DECIMAL(10,0)) AS BIGINT)"
    )
    return (
        x.groupBy("dim")
        .agg(
            (F.sum(q).cast("double") / F.lit(1e9) / F.count("*")).alias("mean_v"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        .orderBy("dim")
    )


_PCA_DIM = 64
# 6 rounds with C⁸ ≡ 48 plain power rounds (same effective trajectory
# budget as the previous 12×C⁴), but 9 checkpointed mini-jobs instead
# of 14 — each localCheckpoint round is a fixed-latency job.
_PCA_ITERS = 6
_PCA_SQUARINGS = 3


def _pca_oracle() -> str:
    """Replay pca_power_project: exact-int64 covariance, matrix
    squarings (C→C²→C⁴ via symmetric row·row folds), then the power
    iteration UNROLLED as chained CTEs (one matvec + one normalize
    per round — recursive CTEs can't aggregate, so the fixed
    iteration count is generated into the SQL)."""
    d, iters = _PCA_DIM, _PCA_ITERS
    ctes = [
        f"flat AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS pos, "
        f"CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings)",
        f"q AS (SELECT vec_id, pos, {_V6_HALF_UP} AS q FROM flat)",
        # sxy stays in DuckDB's native HUGEINT sum (the engine merges
        # int64 partials in DECIMAL(38,0)): a BIGINT cast would raise
        # past 2^63 where the engine now stays exact (r13 sweep)
        "agg AS (SELECT a.pos AS i, b.pos AS j, CAST(COUNT(*) AS BIGINT) AS n, "
        "SUM(CAST(a.q AS HUGEINT) * CAST(b.q AS HUGEINT)) AS sxy, CAST(SUM(a.q) AS BIGINT) AS sx, "
        "CAST(SUM(b.q) AS BIGINT) AS sy "
        "FROM q a JOIN q b ON a.vec_id = b.vec_id GROUP BY a.pos, b.pos)",
        "cmat0 AS (SELECT i, list((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n) / n / 1e12 "
        "ORDER BY j) AS row FROM agg GROUP BY i)",
        "means AS (SELECT pos AS j, CAST(SUM(q) AS BIGINT) AS sq, CAST(COUNT(*) AS BIGINT) AS n "
        "FROM q GROUP BY pos)",
        "marr AS (SELECT list(CAST(sq AS DOUBLE) / n / 1e6 ORDER BY j) AS m FROM means)",
        f"v0 AS (SELECT list_transform(generate_series(0, {d - 1}), "
        "i -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v)",
    ]
    for s in range(_PCA_SQUARINGS):
        ctes.append(
            f"sq{s} AS (SELECT a.i AS i, b.i AS j, list_reduce(list_transform("
            "list_zip(a.row, b.row), z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), "
            f"(x, y) -> x + y) AS cov FROM cmat{s} a, cmat{s} b)"
        )
        ctes.append(
            f"cmat{s + 1} AS (SELECT i, list(cov ORDER BY j) AS row FROM sq{s} GROUP BY i)"
        )
    cm = f"cmat{_PCA_SQUARINGS}"
    for t in range(iters):
        ctes.append(
            f"u{t} AS (SELECT c.i, list_reduce(list_transform(list_zip(c.row, p.v), "
            f"z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (a, b) -> a + b) AS u "
            f"FROM {cm} c, v{t} p)"
        )
        ctes.append(f"r{t} AS (SELECT list(u ORDER BY i) AS uv FROM u{t})")
        # zero-norm guard in lockstep with pca_power_project's CASE
        ctes.append(
            f"v{t + 1} AS (SELECT list_transform(uv, x -> x / "
            f"(CASE WHEN sqrt(list_reduce(list_transform(uv, e -> e * e), (a, b) -> a + b)) = 0.0 "
            f"THEN 1.0 ELSE "
            f"sqrt(list_reduce(list_transform(uv, e -> e * e), (a, b) -> a + b)) END)) AS v FROM r{t})"
        )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body},
    xs AS (SELECT vec_id, list_transform(embedding, e -> CAST(e AS DOUBLE)) AS xd FROM embeddings)
    SELECT xs.vec_id,
           list_reduce(list_transform(list_zip(xs.xd, m.m, vv.v),
                       z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * CAST(z[3] AS DOUBLE)),
                       (a, b) -> a + b) AS pc1
    FROM xs, marr m, v{iters} vv
    ORDER BY xs.vec_id ASC
    """


@register("emb_pca_project", oracle=_pca_oracle(), headline=True)
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection (operators/similarity.py
    pca_power_project): centered covariance with exact int64
    numerators, 6 fixed power-iteration rounds, per-vector centered
    dot with the eigenvector — the embedding-drift / visualization
    axis a training pipeline monitors. Map-side pair generation (no
    self-join), one d²-cell shuffle, iteration on a 64-row frame
    only."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    return S.pca_power_project(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        dim=_PCA_DIM,
        iters=_PCA_ITERS,
        squarings=_PCA_SQUARINGS,
    )


# ------------------------------------------------------ embedding QA

#: power-of-two HALF_UP quantization: x·256 is EXACT in double (the
#: scale is a power of two), so the only rounding is the defined
#: half-up — q ≤ 148 keeps Σq² per vector ≤ 1.4e6 (int64-safe
#: per-row), while the CORPUS-wide Σ(Σq²)² would exit int64 past
#: ~4.6e6 vectors, so that moment accumulates in DECIMAL(38,0)
#: (functions/moments.py; r13 moment-discipline sweep — the oracle
#: mirrors with HUGEINT).
_Q256 = "(CASE WHEN {x} < 0 THEN -1 ELSE 1 END) * CAST(floor(abs(CAST({x} AS DOUBLE)) * 256 + 0.5) AS BIGINT)"


@register(
    "emb_norm_outliers",
    oracle=f"""
    WITH n AS (
        SELECT vec_id,
               CAST(list_reduce(list_transform(embedding, v -> {_Q256.format(x='v')} * {_Q256.format(x='v')}),
                    (a, b) -> a + b) AS BIGINT) AS n2q
        FROM embeddings
    ),
    s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(n2q) AS BIGINT) AS s1,
                 SUM(CAST(n2q AS HUGEINT) * CAST(n2q AS HUGEINT)) AS s2 FROM n)
    SELECT vec_id,
           CAST(n2q AS DOUBLE) / 65536 AS norm2,
           CASE WHEN CAST(n2q AS DOUBLE) * s.n > CAST(s.s1 AS DOUBLE) THEN 'high' ELSE 'low' END AS side
    FROM n, s
    WHERE (CAST(n2q AS DOUBLE) * s.n - CAST(s.s1 AS DOUBLE)) * (CAST(n2q AS DOUBLE) * s.n - CAST(s.s1 AS DOUBLE))
          > 4 * (CAST(s.s2 AS DOUBLE) * s.n - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE))
    ORDER BY vec_id ASC
    """,
    headline=True,
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm outliers (|z| > 2 on the quantized squared norm)
    — the dead/exploding-vector QA gate. Norms are exact int64 sums of
    half-up 256-scaled squares; mean/variance come from exact corpus
    sums (per-vector norms inside int64, the corpus square-sum in
    DECIMAL(38,0) — see _Q256), and the z-test is the
    CROSS-MULTIPLIED comparison on doubles converted from those exact
    integers, so both engines evaluate identical IEEE expressions. No
    sqrt, no per-row division."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    q2 = _Q256.format(x="v")
    n = emb.select(
        "vec_id",
        F.expr(
            f"CAST(aggregate(transform(embedding, v -> {q2} * {q2}), CAST(0 AS BIGINT), (a, b) -> a + b) AS BIGINT)"
        ).alias("n2q"),
    )
    s = n.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n2q").cast("bigint").alias("s1"),
        sum_sq_dec(F.col("n2q")).alias("s2"),
    )
    dev = F.col("n2q").cast("double") * F.col("n") - F.col("s1").cast("double")
    spread = (
        F.col("s2").cast("double") * F.col("n")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
    )
    return (
        n.crossJoin(F.broadcast(s))
        .filter(dev * dev > F.lit(4) * spread)
        .select(
            "vec_id",
            (F.col("n2q").cast("double") / F.lit(65536)).alias("norm2"),
            F.when(dev > 0, "high").otherwise("low").alias("side"),
        )
        .orderBy("vec_id")
    )


#: exact decimal per-label centroids — same construction as the IVF
#: coarse quantizer (plans/ann.py emb_ann_ivf oracle).
_CENT_SQL = """
    flat AS (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
             FROM embeddings),
    cent AS (SELECT label, pos,
                    CAST(SUM((CASE WHEN v < 0 THEN -1 ELSE 1 END) *
                             CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
                    / 1e9 / COUNT(*) AS cv
             FROM flat GROUP BY label, pos),
    cent_arr AS (SELECT label, list(cv ORDER BY pos) AS cvec FROM cent GROUP BY label)
"""

_SQD_FOLD = (
    "list_reduce(list_transform(list_zip(a.cvec, b.cvec), "
    "z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))), "
    "(x, y) -> x + y)"
)


def _centroids(emb: DataFrame) -> DataFrame:
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (
                F.expr(
                    "CAST(SUM((CASE WHEN v < 0 THEN -1 ELSE 1 END) * "
                    "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)"
                )
                / F.lit(1e9)
                / F.count("*")
            ).alias("cv")
        )
        .groupBy("label")
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").alias("cvec"))
    )


@register(
    "emb_centroid_distance_matrix",
    oracle=f"""
    WITH {_CENT_SQL}
    SELECT a.label AS label_a, b.label AS label_b,
           {_SQD_FOLD} AS sq_dist
    FROM cent_arr a JOIN cent_arr b ON a.label < b.label
    ORDER BY label_a ASC, label_b ASC
    """,
)
def emb_centroid_distance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared distances between label centroids — the
    class-separation QA matrix (labels whose centroids nearly coincide
    are candidates for merging). Centroids are exact decimal means
    (one narrow label×dim aggregate); the |labels|² matrix is a
    broadcast self-join of a |labels|-row frame, each cell a
    deterministic left fold."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent = _centroids(emb)
    a = cent.select(F.col("label").alias("label_a"), F.col("cvec").alias("__ca"))
    b = cent.select(F.col("label").alias("label_b"), F.col("cvec").alias("__cb"))
    fold = (
        "aggregate(zip_with(__ca, __cb, (x, y) -> (x - y) * (x - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("label_a") < F.col("label_b"))
        .select("label_a", "label_b", F.expr(fold).alias("sq_dist"))
        .orderBy("label_a", "label_b")
    )


@register(
    "emb_nearest_centroid_confusion",
    oracle=f"""
    WITH {_CENT_SQL},
    d AS (
        SELECT e.vec_id, e.label AS true_label, c.label AS cand,
               list_reduce(list_transform(list_zip(e.embedding, c.cvec),
                   z -> (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * (CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE))),
                   (x, y) -> x + y) AS dist
        FROM embeddings e CROSS JOIN cent_arr c
    ),
    best AS (
        SELECT vec_id, true_label, cand AS nearest_label FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist ASC, cand ASC) AS rn
            FROM d
        ) WHERE rn = 1
    )
    SELECT true_label, nearest_label, COUNT(*) AS n_vectors
    FROM best GROUP BY 1, 2
    ORDER BY true_label ASC, nearest_label ASC
    """,
    headline=True,
)
def emb_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid confusion counts: how many of each label's
    vectors sit closer to ANOTHER label's centroid — the clusterability
    check behind the IVF coarse quantizer (a noisy confusion row means
    that cell will leak its vectors' neighbors). Broadcast |labels|
    centroids, map-side argmin per vector (distance asc, label asc
    tiebreak), aggregate at |labels|² cardinality."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    cent = _centroids(emb).select(F.col("label").alias("cand"), F.col("cvec").alias("__cv"))
    fold = (
        "aggregate(zip_with(embedding, __cv, (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("__d").asc(), F.col("cand").asc())
    best = (
        emb.select("vec_id", F.col("label").alias("true_label"), "embedding")
        .crossJoin(F.broadcast(cent))
        .withColumn("__d", F.expr(fold))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
    )
    return (
        best.groupBy("true_label", F.col("cand").alias("nearest_label"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("true_label", "nearest_label")
    )


def _pq_recon_oracle() -> str:
    """Replay PQ training (the _pq_oracle parts), then score each
    (vector, subspace) slice against its assigned centroid: squared
    error folded in dim order, quantized to BIGINT ninths
    (floor(err·1e9 + 0.5) — err ≥ 0), summed exactly per subspace."""
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
        f"""err AS (
        SELECT e.s,
               CAST(floor(({_PQ_SQDIST.replace("c.cvec", "b.cvec")}) * 1e9 + 0.5) AS BIGINT) AS eq
        FROM sub e
        JOIN fin a ON a.vec_id = e.vec_id AND a.s = e.s
        JOIN c{_PQ_ITERS} b ON b.s = e.s AND b.cluster = a.cluster)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + "\nSELECT CAST(s AS INTEGER) AS subspace, CAST(COUNT(*) AS BIGINT) AS n_vectors, "
        "CAST(CAST(SUM(eq) AS BIGINT) AS DOUBLE) / 1e9 / COUNT(*) AS mse "
        "FROM err GROUP BY 1 ORDER BY subspace ASC"
    )


@register("emb_pq_reconstruction_error", oracle=_pq_recon_oracle(), headline=True)
def emb_pq_reconstruction_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index quality audit: per-subspace mean squared
    reconstruction error ‖slice − assigned centroid‖² — the FAISS
    imbalance/quantization-error metric that tells an index operator
    when codebooks need retraining (rising MSE = corpus drift away
    from the trained cells). Consumes the SAME trained index as
    emb_product_quantize / emb_ann_pq_adc (session memo or the
    persisted store when $SPARK_GRAFT_ANN_INDEX_DIR is set), so the
    audit measures the index actually being served. Per-row error
    folds in dim order, quantizes to BIGINT ninths, and sums exactly
    (the quantized-exact discipline), so the one double division per
    subspace is cross-engine bit-stable.

    Scale shape: codes join at (vector × subspace) cardinality against
    the corpus slices, codebook broadcast (m·k rows), one
    subspace-cardinality aggregate — no shuffle wider than the codes
    frame itself."""
    codes, books = _pq_index(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    subs = F.expr(
        f"transform(sequence(0, {_PQ_M - 1}), s -> struct(s AS s, "
        f"transform(slice(embedding, s * {_PQ_DSUB} + 1, {_PQ_DSUB}), x -> CAST(x AS DOUBLE)) AS sv))"
    )
    sub = emb.select(F.col("vec_id"), F.explode(subs).alias("u")).select(
        "vec_id", F.col("u.s").alias("s"), F.col("u.sv").alias("sv")
    )
    j = sub.join(
        codes.select(
            "vec_id", F.col("subspace").cast("int").alias("s"), F.col("code").cast("int").alias("code")
        ),
        ["vec_id", "s"],
    ).join(
        F.broadcast(
            books.select(
                F.col("s").cast("int").alias("s"),
                F.col("cluster").cast("int").alias("code"),
                F.col("__cvec"),
            )
        ),
        ["s", "code"],
    )
    eq = F.floor(
        F.expr(
            "aggregate(zip_with(sv, __cvec, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v)"
        )
        * 1e9
        + F.lit(0.5)
    ).cast("bigint")
    return (
        j.select(F.col("s").alias("subspace"), eq.alias("eq"))
        .groupBy("subspace")
        .agg(
            F.count("*").cast("bigint").alias("n_vectors"),
            (F.sum("eq").cast("bigint").cast("double") / F.lit(1e9) / F.count("*")).alias("mse"),
        )
        .orderBy("subspace")
    )
