"""Embedding similarity search: brute-force cosine top-k and a
sign-LSH bucketed approximate variant.

Determinism discipline: dot products and norms are LEFT-FOLDS over
DOUBLE products (``aggregate(zip_with(...))`` with a 0.0 seed). A left
fold has ONE evaluation order, so the DuckDB oracle — folding the same
lists with ``list_reduce`` — produces bit-identical IEEE doubles. This
replaces round 1's per-element DECIMAL(20,18) accumulation, which was
equally deterministic but interpreted decimal math ~1000× slower than
native double adds (it alone was 40% of the round-1 bench).

Scale notes (100 TB corpus):
- brute force is O(|Q|·N): the query set is broadcast, the corpus
  streams once, top-k per query via window — the right baseline when
  |Q| is small. No persist: norms are recomputed inline (a 64-element
  double fold per row is cheaper than caching the whole corpus).
- sign-LSH buckets the corpus by the sign pattern of the leading
  dimensions (a random-hyperplane LSH with axis-aligned planes):
  candidates share a bucket, cutting N per query by ~2^bits. At real
  scale you'd use trained IVF centroids; the plan shape (bucket
  equi-join then per-bucket top-k) is identical.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Deterministic double dot product / squared norm: elementwise DOUBLE
# products folded left-to-right from a 0.0 seed. (0.0 + x) == x exactly
# in IEEE754, so this equals DuckDB's seedless list_reduce fold.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM2 = (
    "aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


#: int64-exact mean over a posexploded value column named "v" — THE
#: engine-boundary mean for every centroid/dimension statistic:
#: HALF_UP-quantize each value to BIGINT at 1e9 (exact for |v| < 2^33
#: /1e9 inputs), sum exactly, then divide once. The decimal-sum→double
#: form it replaces was 1 ulp off DuckDB at sf0.1 sum magnitudes
#: (Java BigDecimal.doubleValue vs DuckDB's integer-then-divide path)
#: — only int64-exact intermediates may cross the engine boundary.
#: Oracles mirror it as CAST(CAST(SUM(V9_HALF_UP) AS BIGINT) AS
#: DOUBLE) / 1e9 / COUNT(*). At true 100 TB cardinalities drop the
#: quantization to 1e6 to keep per-group sums inside int64.
def mean_v_exact() -> Column:
    q = "CAST(CAST(v AS DECIMAL(18,9)) * CAST(1000000000 AS DECIMAL(10,0)) AS BIGINT)"
    return F.sum(F.expr(q)).cast("double") / F.lit(1e9) / F.count("*")


def dot_expr(a: str, b: str) -> Column:
    return F.expr(_DOT.format(a=a, b=b))


def norm2_expr(a: str) -> Column:
    return F.expr(_NORM2.format(a=a))


def _cosine_topk_tail(scored: DataFrame, k: int) -> DataFrame:
    """The shared output tail of every cosine search here: per-query
    top-k by (cosine desc, neighbor_id asc) — ONE definition of the
    output contract and tie rule."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    )


def cosine_topk(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-match excluded). Output (query_id, rank, neighbor_id,
    cosine). Ties broken by neighbor id — fully deterministic.
    """
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm2_expr(vec_col).alias("__qn2"),
    )
    corpus = emb.select(F.col(id_col), F.col(vec_col), norm2_expr(vec_col).alias("__n2"))
    pairs = corpus.crossJoin(F.broadcast(q)).filter(F.col(id_col) != F.col("query_id"))
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            dot_expr("__qv", vec_col)
            / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__n2")))
        ).alias("cosine"),
    )
    return _cosine_topk_tail(scored, k)


def sign_bucket_expr(vec_col: str, bits: int) -> Column:
    """LSH bucket key: sign pattern of the first ``bits`` dimensions."""
    return F.expr(
        f"array_join(transform(slice({vec_col}, 1, {bits}), x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '')"
    )


def sign_lsh_ann(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], k: int = 5, bits: int = 4
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-LSH
    bucket, then exact cosine within the bucket. Same output shape as
    cosine_topk; recall trades against 2^bits bucket fan-out.
    """
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        sign_bucket_expr(vec_col, bits).alias("__bkt"),
        norm2_expr(vec_col).alias("__n2"),
    )
    q = bucketed.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        F.col("__bkt"),
        F.col("__n2").alias("__qn2"),
    )
    pairs = bucketed.join(F.broadcast(q), on="__bkt", how="inner").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            dot_expr("__qv", vec_col)
            / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__n2")))
        ).alias("cosine"),
    )
    return _cosine_topk_tail(scored, k)


def _flip_expr(bucket_col: str, i: str) -> str:
    """SQL fragment: ``bucket_col`` with bit position ``i`` (1-based
    expression) inverted."""
    return (
        f"concat(substring({bucket_col}, 1, {i} - 1), "
        f"CASE WHEN substring({bucket_col}, {i}, 1) = '1' THEN '0' ELSE '1' END, "
        f"substring({bucket_col}, {i} + 1))"
    )


def probe_shell_expr(bucket_col: str, bits: int, radius: int = 2) -> Column:
    """Probe list to Hamming radius ``radius`` (1 or 2): the query's
    own bucket, every single-bit flip, and (radius=2) every two-bit
    flip — 1 + bits + bits·(bits−1)/2 probes. Radius 2 is the knob
    past Hamming-1 when per-bit agreement is weak (near-miss neighbors
    often differ in TWO thresholded dims); candidates stay a strict
    subset of the corpus because corpus vectors keep one bucket each
    and the probe list is distinct."""
    if radius not in (1, 2):
        raise ValueError("radius must be 1 or 2")
    singles = f"transform(sequence(1, {bits}), i -> {_flip_expr(bucket_col, 'i')})"
    parts = [f"array({bucket_col})", singles]
    if radius == 2:
        inner = _flip_expr(f"({_flip_expr(bucket_col, 'i')})", "j")
        pairs = (
            f"flatten(transform(sequence(1, {bits} - 1), "
            f"i -> transform(sequence(i + 1, {bits}), j -> {inner})))"
        )
        parts.append(pairs)
    return F.expr(f"array_distinct(concat({', '.join(parts)}))")


def variance_top_dims(emb: DataFrame, vec_col: str, bits: int) -> DataFrame:
    """The ``bits`` highest-variance dimensions of the corpus, as ONE
    broadcastable row (``__dims`` array<int>, 0-based, ascending).

    Data-dependent hyperplane selection for sign-LSH: a sign bit only
    separates neighbors from non-neighbors where the corpus actually
    spreads across the hyperplane, so thresholding the highest-variance
    dims recovers much of what axis-aligned LSH loses on rotated
    cluster structure (recall@5 0.625 → 0.775 on the frontier corpus
    at equal candidate cost — the poor man's PCA rotation, with no
    eigensolve).

    Determinism (the oracle must pick the SAME dims): the score is the
    exact integer n·Σq² − (Σq)² over HALF_UP-1e6 quantized values —
    order-independent integer sums, ties to the lowest dim. Decimal
    internals keep it exact to N ≈ 1e12 rows. Plan: one corpus scan
    into a dim-cardinality groupBy (map-side combined); the top-k
    window runs on ≤ dim rows (bounded single-partition per policy).
    """
    q6 = (
        "(CASE WHEN v < 0 THEN CAST(-1 AS BIGINT) ELSE CAST(1 AS BIGINT) END) * "
        "CAST(floor(abs(CAST(v AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)"
    )
    x = emb.select(F.posexplode(F.col(vec_col)).alias("pos", "v")).select(
        "pos", F.expr(q6).alias("q")
    )
    stats = x.groupBy("pos").agg(
        F.sum(F.col("q").cast("decimal(19,0)")).alias("sq"),
        # decimal BEFORE the multiply: bigint q*q would wrap silently
        # past |v| ~ 3e3 (q^2 > int64) while the oracle errors loudly
        F.sum(F.expr("CAST(q AS DECIMAL(19,0)) * CAST(q AS DECIMAL(19,0))")).alias("sq2"),
        # 13 digits of row count keeps n*sq2 <= ~1e36 inside DECIMAL(38)
        # at the documented N ~ 1e12 bound (decimal(8,0) nulled at 1e8
        # rows and silently degraded the selection to leading dims)
        F.count("*").cast("decimal(13,0)").alias("n"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("pos").asc())
    return (
        stats.withColumn("score", F.col("n") * F.col("sq2") - F.col("sq") * F.col("sq"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= bits)
        .groupBy()
        .agg(F.expr("array_sort(collect_list(pos))").alias("__dims"))
        # 1 row, read by both the corpus and the query side — pin it
        .localCheckpoint(eager=True)
    )


def lsh_var_build(emb: DataFrame, id_col: str, vec_col: str, bits: int = 6) -> DataFrame:
    """Build the variance-selected sign-LSH index: every corpus vector
    keyed by the signs of the ``bits`` highest-variance dims (the
    persisted half of sign_lsh_var_ann — build once, query many).
    Returns (id, vec, __bkt, __n2)."""
    dims = variance_top_dims(emb, vec_col, bits)
    keyx = (
        f"array_join(transform(__dims, p -> CASE WHEN element_at({vec_col}, p + 1) >= 0 "
        "THEN '1' ELSE '0' END), '')"
    )
    return (
        emb.crossJoin(F.broadcast(dims))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.expr(keyx).alias("__bkt"),
            norm2_expr(vec_col).alias("__n2"),
        )
    )


def sign_lsh_var_ann(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    bits: int = 6,
    radius: int = 2,
    bucketed: DataFrame | None = None,
) -> DataFrame:
    """Sign-LSH ANN over the ``bits`` highest-variance dimensions with
    a Hamming-≤``radius`` probe shell — the tuned successor of the
    round-4 single-probe leading-dims variant (recall@5 0.100 → 0.775
    at ~35% corpus scanned on the frontier corpus).

    ``radius=1`` IS the classic multi-probe LSH parameterization (Lv
    et al., VLDB'07: probe the query's bucket plus every one-bit-flip
    neighbor) — it replaced the former leading-dims
    sign_lsh_multiprobe_ann in round 6, which the variance-bit index
    strictly dominated (recall@5 0.625 → see tools/ann_frontier.py),
    so there is ONE bucketed index shared by both radii.

    Same output shape and determinism contract as cosine_topk. The
    corpus is bucketed ONCE (row-local key against the broadcast dim
    list; pass a prebuilt/persisted ``bucketed`` frame from
    lsh_var_build to amortize it); each query explodes into its
    1 + bits + C(bits,2) probe buckets and candidates arrive via the
    bucket equi-join — at scale the scan cost is (probes/2^bits)·N
    per query, with no all-pairs stage anywhere.

    When a prebuilt index frame is passed, the call's hyperparameters
    (bits / n_cells / m / dsub) MUST match the ones it was built with
    — the frames carry no metadata to check, and a mismatch silently
    degrades results (wrong-length probe strings join nothing;
    mis-sliced subvectors score noise).
    """
    if bucketed is None:
        bucketed = lsh_var_build(emb, id_col, vec_col, bits)
    q = (
        bucketed.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__qv"),
            F.col("__n2").alias("__qn2"),
            F.explode(probe_shell_expr("__bkt", bits, radius)).alias("__bkt"),
        )
    )
    pairs = bucketed.join(F.broadcast(q), on="__bkt", how="inner").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            dot_expr("__qv", vec_col)
            / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__n2")))
        ).alias("cosine"),
    )
    return _cosine_topk_tail(scored, k)


def cosine_dup_pairs(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bits: int = 4,
    bucket_cap: int | None = 1000,
) -> DataFrame:
    """Embedding-cosine near-duplicate mining: pairs (a < b) whose
    cosine ≥ ``threshold``, candidates restricted to sign-LSH buckets.

    The full O(N²) pair space is never formed — only within-bucket
    pairs (≈ N²/2^bits, and near-dups land in the same bucket with
    high probability at high thresholds). The cosine itself is the
    deterministic double fold, so the oracle reproduces scores
    bit-for-bit and the ≥ threshold cut can't flake on the boundary.

    ``bucket_cap`` bounds the quadratic term (same discipline as
    dedup.py's LSH banding): real embedding corpora are anisotropic,
    and one dominant sign pattern — e.g. all-positive after an
    activation — can swallow a large share of the corpus, turning
    "within-bucket" back into O(n²). Each bucket keeps its
    ``bucket_cap`` smallest ids (deterministic, so the SQL oracle
    mirrors the cut exactly); the cap window shuffles on the same key
    the self-join uses, so it anchors a reused exchange rather than
    adding one.
    """
    bucketed = emb.select(
        F.col(id_col),
        F.col(vec_col),
        sign_bucket_expr(vec_col, bits).alias("__bkt"),
        norm2_expr(vec_col).alias("__n2"),
    )
    return (
        capped_group_cosine_pairs(
            bucketed, "__bkt", id_col, vec_col, "__n2", cap=bucket_cap, threshold=threshold
        )
        .select("id_a", "id_b", "cosine")
        .orderBy("id_a", "id_b")
    )


#: The engine fold divides by sqrt(na)·sqrt(nb) under ANSI, where a
#: zero divisor is a query-killing DIVIDE_BY_ZERO — the Arrow kernel
#: raises the same class of error instead of silently emitting
#: NaN/Inf, so both paths refuse zero-norm vectors identically.
_ZERO_NORM_MSG = (
    "[DIVIDE_BY_ZERO] zero-norm vector reached the cosine pair stage "
    "(the engine fold's ANSI divide would fail identically); filter "
    "zero-norm embeddings upstream"
)


def _arrow_cosine_filter(threshold: float):
    """mapInArrow kernel: per pair-batch cosine with the EXACT
    left-fold accumulation order of ``_DOT`` — ``acc = acc + aₖ·bₖ``
    iterates k in index order over vectorized float64 columns, so
    every pair's additions happen in the same IEEE order as the
    engine fold (((0+t₀)+t₁)+…), then one division by
    sqrt(na)·sqrt(nb); bit-identical by construction, verified
    repr-level on all 1,731 sf0.1 output rows. The threshold cut runs
    inside the kernel so sub-threshold pairs never cross back into
    the JVM (guide §4.2 — the columns shipped are exactly the ones
    the kernel needs, §4.1)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    def _cosines(b, n):
        """(cosine array, valid mask) per row; valid=False marks rows
        where the engine fold would yield NULL. Fast path: no nulls,
        one uniform vector length — the production shape. Degenerate
        rows (NULL vectors, NULL elements, ragged lengths — the
        empty-input sweep's layouts) take the row loop, which replays
        the fold's NULL semantics: zip_with pads the shorter list
        with NULL, any NULL term nullifies the sum, and a NULL cosine
        never passes the τ cut."""
        va_col, vb_col = b.column("__va"), b.column("__vb")
        na_col, nb_col = b.column("__na"), b.column("__nb")
        la = pc.list_value_length(va_col)
        if (
            va_col.null_count == 0
            and vb_col.null_count == 0
            and na_col.null_count == 0
            and nb_col.null_count == 0
        ):
            mm_a = pc.min_max(la)
            mm_b = pc.min_max(pc.list_value_length(vb_col))
            flat_a = va_col.flatten()
            if (
                mm_a["min"] == mm_a["max"] == mm_b["min"] == mm_b["max"]
                and flat_a.null_count == 0
                and vb_col.flatten().null_count == 0
            ):
                dim = mm_a["min"].as_py()
                va = flat_a.to_numpy(zero_copy_only=False).astype(np.float64, copy=False).reshape(n, dim)
                vb = (
                    vb_col.flatten()
                    .to_numpy(zero_copy_only=False)
                    .astype(np.float64, copy=False)
                    .reshape(n, dim)
                )
                acc = np.zeros(n, dtype=np.float64)
                for k in range(dim):
                    acc = acc + va[:, k] * vb[:, k]
                denom = np.sqrt(na_col.to_numpy(zero_copy_only=False)) * np.sqrt(
                    nb_col.to_numpy(zero_copy_only=False)
                )
                if (denom == 0.0).any():
                    raise ArithmeticError(_ZERO_NORM_MSG)
                return acc / denom, np.ones(n, dtype=bool)
        cos = np.full(n, np.nan)
        valid = np.zeros(n, dtype=bool)
        for i in range(n):
            va, vb = va_col[i].as_py(), vb_col[i].as_py()
            na, nb = na_col[i].as_py(), nb_col[i].as_py()
            if va is None or vb is None or na is None or nb is None:
                continue
            if len(va) != len(vb) or any(x is None for x in va) or any(x is None for x in vb):
                continue  # fold: NULL-padded zip_with nullifies the sum
            acc = np.float64(0.0)
            for x, y in zip(va, vb):
                acc = acc + np.float64(x) * np.float64(y)
            denom = np.sqrt(np.float64(na)) * np.sqrt(np.float64(nb))
            if denom == 0.0:
                raise ArithmeticError(_ZERO_NORM_MSG)
            cos[i] = acc / denom
            valid[i] = True
        return cos, valid

    def cos_fn(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            cos, valid = _cosines(b, n)
            # Spark's SQL comparison orders NaN ABOVE every double, so
            # the engine filter keeps a NaN cosine (were one to occur);
            # NULL cosines (valid=False) never pass. Mirror both.
            with np.errstate(invalid="ignore"):
                mask = pa.array(valid & ((cos >= threshold) | np.isnan(cos)))
            out = pa.RecordBatch.from_arrays(
                [
                    b.column(0).filter(mask),
                    b.column("id_a").filter(mask),
                    b.column("id_b").filter(mask),
                    pa.array(cos, type=pa.float64()).filter(mask),
                ],
                names=[b.schema.names[0], "id_a", "id_b", "cosine"],
            )
            if out.num_rows:
                yield out

    return cos_fn


def capped_group_cosine_pairs(
    grouped: DataFrame,
    group_col: str,
    id_col: str,
    vec_col: str,
    n2_col: str,
    cap: int | None,
    threshold: float,
    arrow: bool = False,
) -> DataFrame:
    """The shared quadratic-stage discipline for every within-group
    cosine pair miner (sign-LSH buckets in cosine_dup_pairs, trained
    IVF cells in emb_semantic_dedup): cap each group to its ``cap``
    LOWEST ids (deterministic — the SQL oracles mirror the cut with a
    ROW_NUMBER ... ORDER BY id), self-join on the group key, keep
    id_a < id_b, score with the left-fold double cosine, cut at
    ``threshold``. ONE definition of cap rule, tie rule, and fold so
    the oracle-lockstep semantics cannot silently diverge between
    callers. Returns (group_col, id_a, id_b, cosine).

    ``arrow=True`` (r16, guide §4) evaluates the identical fold in a
    ``mapInArrow`` numpy kernel instead of the interpreted
    higher-order-function expression — same accumulation order, same
    division, bit-identical outputs (see _arrow_cosine_filter).
    Interleaved A/B on the semantic-dedup pair stage at sf0.1: fold
    min 1.872 s vs Arrow 1.134 s (**0.61×**, faster in all 5 rounds,
    rowsets repr-identical). Opt-in per caller: the win scales with
    pair volume (the kernel amortizes the JVM↔Arrow round trip over
    ~100k+ pairs), so callers with small capped pair sets keep the
    in-engine fold."""
    if cap is not None:
        wcap = Window.partitionBy(group_col).orderBy(F.col(id_col).asc())
        grouped = (
            grouped.withColumn("__gn", F.row_number().over(wcap))
            .filter(F.col("__gn") <= cap)
            .drop("__gn")
        )
    a = grouped.select(
        F.col(group_col),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col(n2_col).alias("__na"),
    )
    b = grouped.select(
        F.col(group_col),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col(n2_col).alias("__nb"),
    )
    pairs = a.join(b, on=group_col, how="inner").filter(F.col("id_a") < F.col("id_b"))
    if arrow:
        dtypes = dict(grouped.dtypes)
        schema = (
            f"{group_col} {dtypes[group_col]}, id_a {dtypes[id_col]}, "
            f"id_b {dtypes[id_col]}, cosine double"
        )
        return pairs.select(
            F.col(group_col), "id_a", "id_b", "__va", "__vb", "__na", "__nb"
        ).mapInArrow(_arrow_cosine_filter(threshold), schema)
    return pairs.select(
        F.col(group_col),
        "id_a",
        "id_b",
        (dot_expr("__va", "__vb") / (F.sqrt(F.col("__na")) * F.sqrt(F.col("__nb")))).alias(
            "cosine"
        ),
    ).filter(F.col("cosine") >= threshold)


def ivf_build(
    emb: DataFrame, id_col: str, vec_col: str, n_cells: int = 16, iters: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Train the IVF index (the persisted half of ivf_topk — build
    once, query many): deterministic Lloyd centroids plus the corpus's
    nearest-cell assignment (the inverted lists). Returns
    (centroids(cluster, __cvec), corpus(id, vec, __cell, __n2))."""
    cent = kmeans_centroids(emb, id_col, vec_col, k=n_cells, iters=iters)
    corpus = _assign(emb, id_col, vec_col, cent).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("cluster").alias("__cell"),
        norm2_expr(vec_col).alias("__n2"),
    )
    return cent, corpus


def _ivf_probe(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], cent: DataFrame, nprobe: int
) -> DataFrame:
    """Query→cell probe assignment shared by ivf_topk and ivfpq_topk:
    each query keeps its ``nprobe`` nearest centroids by the same
    left-fold sqdist and (distance, cluster) tie rule the trainer
    uses. Returns (query_id, __qv, __qn2, __cell) — |Q|·nprobe rows
    (the query norm rides along so downstream scoring never refolds it
    per candidate pair)."""
    q = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm2_expr(vec_col).alias("__qn2"),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__d").asc(), F.col("cluster").asc())
    return (
        F.broadcast(q)
        .crossJoin(F.broadcast(cent))
        .withColumn("__d", _sqdist_expr("__qv", "__cvec"))
        .withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= nprobe)
        .select("query_id", "__qv", "__qn2", F.col("cluster").alias("__cell"))
    )


def _adc_distance_table(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], books: DataFrame,
    m: int, dsub: int,
) -> DataFrame:
    """The |Q|·m·k ADC distance table shared by pq_adc_topk and
    ivfpq_topk: each query's raw subvectors against the broadcast
    per-subspace codebooks. Returns (query_id, s, code, __d). The
    caller MUST pass the same (m, dsub) the codebook was trained with
    — a mismatch slices different subvectors than the centroids span
    and the lookup degrades to noise silently."""
    qsub = (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(
            F.col(id_col).alias("query_id"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {m - 1}), s -> struct(s AS s, "
                    f"transform(slice({vec_col}, s * {dsub} + 1, {dsub}), x -> CAST(x AS DOUBLE)) AS qv))"
                )
            ).alias("u"),
        )
        .select("query_id", F.col("u.s").alias("s"), F.col("u.qv").alias("__qv"))
    )
    # _sqdist_expr's casts are identities here (both sides double) —
    # one shared fold definition, bit-identical to the inline form
    return qsub.join(F.broadcast(books), on="s").select(
        "query_id", "s", F.col("cluster").alias("code"),
        _sqdist_expr("__qv", "__cvec").alias("__d"),
    )


def _packed_codes(codes: DataFrame, id_col: str) -> DataFrame:
    """Long-form PQ codes (id, subspace, code) → one row per vector
    with the m codes packed subspace-ordered: (id, __codes). One
    N·m → N aggregation; downstream ADC scoring then needs no
    per-(query, vector, subspace) rows at all."""
    return codes.groupBy(id_col).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(subspace, code))), x -> x.code)"
        ).alias("__codes")
    )


def _packed_dtable(dtable: DataFrame) -> DataFrame:
    """ADC distance table (query_id, s, code, __d) → one row per
    query: (query_id, __dt) where __dt[s] is a code→distance MAP for
    subspace s (a map, not a position-sorted array, so a cluster
    label dropped by an emptied k-means cell cannot shift its
    neighbors' indices). |Q| rows of m·k doubles — broadcast-sized."""
    per_s = dtable.groupBy("query_id", "s").agg(
        F.expr("map_from_entries(array_sort(collect_list(struct(code, __d))))").alias("__ds")
    )
    return per_s.groupBy("query_id").agg(
        # explicit comparator: default array_sort ordering rejects
        # structs that contain maps; s is unique per query so the
        # comparator fully determines the order
        F.expr(
            "transform(array_sort(collect_list(struct(s, __ds)), (a, b) -> a.s - b.s), "
            "x -> x.__ds)"
        ).alias("__dt")
    )


def pq_pack_index(codes: DataFrame, books: DataFrame, id_col: str) -> tuple[DataFrame, DataFrame]:
    """Search-side packing of a trained PQ index, built ONCE per index
    (callers session-memoize it alongside the index itself):
    - packed codes: one row per vector, the m codes subspace-ordered;
    - packed codebook: ONE row whose __books[s] is subspace s's
      (cluster, centroid) list — m·k small vectors, broadcast-sized.
    With both in hand a search needs ZERO index-side shuffles: the
    distance table is computed map-side against the broadcast books
    and the corpus path is one packed-codes scan."""
    packed_codes = _packed_codes(codes, id_col)
    packed_books = (
        books.groupBy("s")
        .agg(
            F.expr(
                "array_sort(collect_list(struct(cluster, __cvec)), "
                "(a, b) -> a.cluster - b.cluster)"
            ).alias("__cs")
        )
        .groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(s, __cs)), (a, b) -> a.s - b.s), "
                "x -> x.__cs)"
            ).alias("__books")
        )
    )
    return packed_codes, packed_books


def _packed_dtable_mapside(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], packed_books: DataFrame,
    m: int, dsub: int,
) -> DataFrame:
    """The packed ADC distance table computed MAP-SIDE: each query row
    cross-joins the one-row broadcast codebook and evaluates every
    (subspace, cluster) distance in a single expression — no join, no
    packing aggregates, no shuffle. Arithmetic is textually identical
    to _adc_distance_table (same slice, same cast-fold), so the
    distances — and every downstream shortlist — stay bit-identical
    to the SQL oracles."""
    dt = (
        f"transform(sequence(0, {m - 1}), s -> map_from_entries(transform("
        f"element_at(__books, s + 1), c -> struct(c.cluster, "
        f"aggregate(zip_with(transform(slice({vec_col}, s * {dsub} + 1, {dsub}), "
        f"x -> CAST(x AS DOUBLE)), c.__cvec, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)))))"
    )
    return (
        emb.filter(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .crossJoin(F.broadcast(packed_books))
        .select("query_id", F.expr(dt).alias("__dt"))
    )


#: Per-(query, vector) ADC distance from packed codes + packed table:
#: pick each subspace's table entry by code, then LEFT-FOLD in
#: subspace order from a 0.0 seed — the exact accumulation order the
#: collect_list(struct(s, d))/array_sort formulation produced, so
#: adc_dist stays bit-identical to the SQL oracles while the corpus
#: path becomes one map-side expression (no per-subspace rows, no
#: hash aggregate). The outer coalesce(+Inf) is the precondition
#: guard: a code absent from the packed table (index built with
#: different m/dsub than the call) folds to NULL, and NULL sorts
#: FIRST under the ascending shortlist window — +Infinity sends such
#: rows to the bottom instead of silently promoting them to rank 1.
#: On a matched index the lookup never misses, so the coalesce is
#: inert and the oracles stay bit-identical.
_ADC_FOLD = (
    "coalesce(aggregate(zip_with(__codes, __dt, (c, ds) -> ds[c]), "
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v), CAST('Infinity' AS DOUBLE))"
)


def ivf_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    iters: int = 2,
    nprobe: int = 2,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer: deterministic Lloyd
    k-means cells (kmeans_centroids — fixed low-id seeds, exact-decimal
    means), then exact cosine inside the ``nprobe`` nearest inverted
    lists. Raising nprobe trades candidates (≈ nprobe·N/n_cells per
    query) for recall without rebuilding the index — the standard IVF
    recall knob (see tools/ann_frontier.py for the measured curve).

    Round 4 used the corpus's label column as the cell map (training
    declared "an offline concern") and measured recall@5 = 0.250 at
    nprobe=2: labels don't follow the embedding geometry, so the
    inverted lists cut across true neighborhoods. Trained Voronoi
    cells fix exactly that — same probe plan, recall 1.000 at
    nprobe=2/n_cells=16 on the frontier corpus, scanning ~12% of it.

    Costs: training is iters × (one corpus scan + one k·dim-cardinality
    shuffle) — the index build you'd persist at scale; query→cell
    assignment is |Q|×n_cells (tiny, broadcast); the search touches
    only ~nprobe·N/n_cells vectors per query instead of N.

    Determinism: centroids use the exact decimal mean; cell distance
    and cosine are double LEFT FOLDS — bit-reproducible in the oracle
    (which replays the training rounds with the same tie rules).

    When a prebuilt index frame is passed, the call's hyperparameters
    (bits / n_cells / m / dsub) MUST match the ones it was built with
    — the frames carry no metadata to check, and a mismatch silently
    degrades results (wrong-length probe strings join nothing;
    mis-sliced subvectors score noise).
    """
    cent, corpus = index if index is not None else ivf_build(
        emb, id_col, vec_col, n_cells=n_cells, iters=iters
    )
    assign = _ivf_probe(emb, id_col, vec_col, query_ids, cent, nprobe)
    # each corpus vector lives in exactly one cell, so probing nprobe
    # disjoint cells needs no candidate dedup
    pairs = corpus.join(F.broadcast(assign), on="__cell", how="inner").filter(
        F.col(id_col) != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            # __qn2 rides in from _ivf_probe: same fold, folded once
            # per query instead of once per candidate pair
            dot_expr("__qv", vec_col)
            / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__n2")))
        ).alias("cosine"),
    )
    return _cosine_topk_tail(scored, k)


def _sqdist_expr(a: str, b: str) -> Column:
    """Deterministic squared euclidean distance: (x-y)^2 left fold."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _assign(emb: DataFrame, id_col: str, vec_col: str, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: the centroid set collapses to ONE
    broadcast row (array of (cluster, vector) structs) and the argmin
    runs ROW-LOCAL — array_min over per-centroid (distance, cluster)
    structs, whose lexicographic struct order IS the
    (distance asc, cluster asc) tie rule. No k-fold row explosion and
    no per-vector window shuffle: the corpus is scanned once, map-side
    only (the earlier row_number-over-id variant silently shuffled
    N·k rows per assignment round)."""
    centarr = cent.groupBy().agg(
        F.expr("array_sort(collect_list(struct(cluster, __cvec)))").alias("__cs")
    )
    dist = (
        "aggregate(zip_with(" + vec_col + ", c.__cvec, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    best = f"array_min(transform(__cs, c -> struct({dist} AS d, c.cluster AS cluster)))"
    return (
        emb.crossJoin(F.broadcast(centarr))
        .select(F.col(id_col), F.col(vec_col), F.expr(f"{best}.cluster").alias("cluster"))
    )


def kmeans_centroids(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 4, iters: int = 2
) -> DataFrame:
    """Train the deterministic Lloyd centroids (the shared core of
    kmeans_lloyd and the IVF coarse quantizer): fixed low-id seeds,
    ``iters`` assignment/update rounds, exact-decimal means. Returns
    the k-row (cluster, __cvec) frame — always broadcast-sized."""
    seeds = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cluster"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__cvec"),
    )
    cent = seeds
    for _ in range(iters):
        assigned = _assign(emb, id_col, vec_col, cent)
        cent = (
            assigned.select("cluster", F.posexplode(F.col(vec_col)).alias("pos", "v"))
            .groupBy("cluster", "pos")
            .agg(mean_v_exact().alias("cv"))
            .groupBy("cluster")
            .agg(
                F.expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").alias(
                    "__cvec"
                )
            )
            # k rows — but WITHOUT materializing here, every broadcast
            # of round N's centroids re-executes rounds 1..N-1 (the
            # lineage problem of every iterative op; SURVEY §6). One
            # eager localCheckpoint per round keeps total work linear
            # in iters and the plan depth flat.
            .localCheckpoint(eager=True)
        )
    return cent


def kmeans_lloyd(
    emb: DataFrame, id_col: str, vec_col: str, k: int = 4, iters: int = 2
) -> DataFrame:
    """Deterministic Lloyd k-means over an embedding column: fixed
    seeding (the vectors with the ``k`` lowest ids, cluster label =
    seed id), ``iters`` update rounds, then a final assignment.
    Returns (id, cluster).

    Scale shape — the canonical distributed k-means plan:
    - centroids are k×dim values, ALWAYS broadcast; the corpus is
      never shuffled for assignment (map-side argmin over the
      broadcast table);
    - the update step is one narrow shuffle per round keyed by
      (cluster, dim) — cardinality k·dim, independent of corpus size —
      with map-side partial sums doing the heavy lifting;
    - cost is iters × (one corpus scan + one k·dim-sized shuffle),
      exactly how MLlib schedules it, but with the exact-decimal mean
      so the DuckDB oracle can replay every round bit-for-bit.

    Determinism: distances are (x-y)² left folds (one evaluation
    order); centroid means are DECIMAL(18,9)-exact sums in ONE double
    division; assignment ties break to the lowest cluster id. Every
    round is therefore reproducible in any engine, and the fixpoint
    after a FIXED number of rounds is unique — which is what makes a
    cross-engine oracle possible for an iterative algorithm.
    """
    cent = kmeans_centroids(emb, id_col, vec_col, k=k, iters=iters)
    return (
        _assign(emb, id_col, vec_col, cent)
        .select(F.col(id_col), F.col("cluster"))
        .orderBy(id_col)
    )


def label_centroids(emb: DataFrame, label_col: str, vec_col: str) -> DataFrame:
    """Per-label centroid, emitted flat as (label, pos, centroid).

    posexplode → groupBy(label, pos) keeps the shuffle narrow and the
    result engine-comparable (no nested-array hashing). Mean computed
    as exact decimal sum / count in one double division (the sum is
    order-independent in decimal, so no fold is needed here).
    """
    exploded = emb.select(F.col(label_col), F.posexplode(F.col(vec_col)).alias("pos", "v"))
    return (
        exploded.groupBy(label_col, "pos")
        .agg(mean_v_exact().alias("centroid"))
    )


def scalar_quantize_int8(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Per-dimension scalar quantization to int8 — the storage-side
    half of a vector index (what FAISS calls SQ8): q = round linearly
    into [-127, 127] between the dimension's corpus min and max.

    Plan shape at scale: the stats pass is one narrow groupBy with
    dim-count cardinality (map-side combined); the quantize pass joins
    the broadcast 64-row stats table and is otherwise map-side. Every
    arithmetic step is a single IEEE double op chain on exact inputs
    (min/max of floats are exact; floor(x + 0.5) is the cross-engine
    deterministic round), so the oracle matches bit-for-bit.
    Output is flat (id, pos, q) for narrow-row downstream use.
    """
    x = emb.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("__p", "__v")).select(
        F.col(id_col), (F.col("__p") + 1).alias("pos"), F.col("__v").cast("double").alias("v")
    )
    stats = x.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    q = (
        F.when(F.col("hi") == F.col("lo"), F.lit(0.0))
        .otherwise(
            F.floor((F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo")) * 254 + 0.5) - 127
        )
    )
    return x.join(F.broadcast(stats), on="pos").select(
        F.col(id_col), F.col("pos").cast("int").alias("pos"), q.cast("int").alias("q")
    )


def sq8_topk(
    emb: DataFrame, id_col: str, vec_col: str, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Cosine top-k over int8-RECONSTRUCTED vectors: quantize
    (scalar_quantize_int8), dequantize dq = lo + (q+127)·(hi-lo)/254,
    and search the reconstructed corpus — the memory-bound ANN path
    (4× smaller vectors at a small, measurable recall cost; see the
    recall test). Same output shape as cosine_topk.

    Every reconstruction step is one fixed chain of correctly-rounded
    double ops on identical inputs, so the oracle rebuilds the exact
    same vectors. At scale the quantized table is what you'd persist;
    here it's derived inline to keep the operator self-contained.
    """
    # The regroup SHUFFLE below is deliberate: it materializes the
    # reconstructed arrays as exchange data, so cosine_topk's many
    # references to rvec (both join sides, dot + norm lambdas — all
    # interpreted higher-order functions) read real arrays. A
    # shuffle-free formulation that rebuilt rvec as an expression
    # against broadcast stats measured 5× SLOWER cold: Catalyst
    # duplicates the 64-step reconstruction into every reference.
    # At scale this build pass is the "write the quantized index"
    # shuffle — linear, one-off, and reusable.
    qz = scalar_quantize_int8(emb, id_col=id_col, vec_col=vec_col)
    x = emb.select(F.col(id_col), F.posexplode(F.col(vec_col)).alias("__p", "__v")).select(
        F.col(id_col), (F.col("__p") + 1).alias("pos"), F.col("__v").cast("double").alias("v")
    )
    stats = x.groupBy("pos").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    dq = F.col("lo") + (F.col("q") + 127).cast("double") * (F.col("hi") - F.col("lo")) / 254
    # Persisted: cosine_topk consumes rec from BOTH join sides (query
    # broadcast + corpus scan) and would otherwise re-run the whole
    # build per side. The cache is released by the host's
    # release_persisted() like every other operator intermediate.
    from lakehouse_architecture_transaction_spark.operators.dedup import _persist

    rec = _persist(
        qz.join(F.broadcast(stats), on="pos")
        .select(F.col(id_col), F.col("pos"), dq.alias("dq"))
        .groupBy(id_col)
        .agg(F.expr("transform(array_sort(collect_list(struct(pos, dq))), s -> s.dq)").alias("rvec"))
    )
    return cosine_topk(rec, id_col=id_col, vec_col="rvec", query_ids=query_ids, k=k)


#: HALF_UP 1e6 quantization of a double inside a SQL lambda — the
#: int64-exact-numerator discipline of emb_label_covariance (see
#: plans/ann.py _V6_HALF_UP for why sums must stay in BIGINT:
#: DuckDB's int128→double conversion is not correctly rounded).
_Q6_LAMBDA = (
    "CAST(CAST(CAST({x} AS DECIMAL(18,6)) * CAST(1000000 AS DECIMAL(7,0)) "
    "AS DECIMAL(25,0)) AS BIGINT)"
)


def pca_power_project(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    iters: int = 12,
    squarings: int = 2,
    partial_bucket_log2: int = 19,
) -> DataFrame:
    """Project every vector onto the corpus's top principal component:
    centered covariance → ``squarings`` matrix self-squarings (C→C²→C⁴)
    → ``iters`` unrolled power-iteration rounds → per-vector dot with
    the (centered) eigenvector. Returns (id, pc1).

    Squaring first is the convergence accelerator for a narrow
    eigengap: iterating with C⁴ makes ``iters`` rounds equivalent to
    ``iters·2^squarings`` plain rounds, and because the covariance is
    SYMMETRIC, each C²[i][j] is dot(row_i, row_j) — a deterministic
    left fold over two row lists, no column extraction needed.

    The iterative-linear-algebra shape, kept fully deterministic so a
    SQL oracle can replay it:
    - covariance numerators are EXACT: int64 partial sums of
      HALF_UP-1e6 quantized products per bounded ROW BUCKET (the hot
      map-side MACs stay long-typed inside codegen), merged in
      DECIMAL(38,0) — a corpus-wide int64 Σqi·qj would exit 64 bits
      past ~6e8 unit-norm vectors (r13 moment-discipline sweep, the
      customer_order_value_cv class). The bucket is
      ``monotonically_increasing_id() >> partial_bucket_log2``:
      the partition id occupies the id's upper bits, so buckets
      never span partitions, and each holds ≤ 2^partial_bucket_log2
      rows (default 2^19 ≈ 5.2e5 → partial ≤ ~9e15 ≪ 2^63 at the
      ~2^34 per-term bound of 1e6-quantized unit-norm-ish
      embeddings). This bounds the partial STRUCTURALLY — a
      coalesced / repartitioned / cached input with corpus-scale
      partitions is safe, not just maxPartitionBytes-sized file
      scans (ADVICE r13). ``partial_bucket_log2`` must stay ≤ 33
      (the id's row-offset field width); lower it only if per-term
      magnitudes exceed the 2^34 contract. The decimal merge is
      exact at d×(#buckets) cardinality, and accumulation order is
      irrelevant either way — every term is an integer;
    - each matrix·vector product is a left fold from a 0.0 seed over
      index order (== DuckDB's seedless list_reduce), normalization is
      one correctly-rounded sqrt and one division per element;
    - iteration count is FIXED, and v₀ = e₀, so the whole trajectory
      is a pure function of the corpus.

    Scale shape: pair cells are generated MAP-SIDE from each row's own
    array (no self-join, no shuffle before aggregation), collapsing
    into a d²-cardinality groupBy with map-side combine — one narrow
    shuffle of d² cells regardless of corpus size. The matrix (d²
    doubles) then iterates entirely on a d-row frame with broadcast
    cross-joins — never touching the corpus again until the final
    map-side projection. O(N·d²) work, O(d²) shuffle, driver never
    holds data.
    """
    if partial_bucket_log2 > 33:
        # monotonically_increasing_id packs the row offset in the low
        # 33 bits; a wider shift folds the PARTITION id into the
        # bucket, silently merging rows across partitions and
        # unbounding the int64 level-1 partial this parameter exists
        # to bound (ADVICE r14).
        raise ValueError(
            f"partial_bucket_log2 must be <= 33 (row-offset field width of "
            f"monotonically_increasing_id), got {partial_bucket_log2}"
        )
    q6 = _Q6_LAMBDA.format(x="x")
    qarr = F.expr(f"transform({vec_col}, x -> {q6})")
    # SURVEY §6 array-projection hygiene: the quantized array is
    # projected into its own column BEFORE the pair-cell lambda.
    # Referencing the transform inline inside the outer lambda makes
    # Catalyst re-evaluate the d-element HALF_UP quantization once per
    # outer index — d quantization passes per row instead of 1.
    # Gram rows, not pair cells: explode only d rows per input (one
    # per dimension i, carrying the quantized array), then row i of
    # QᵀQ is d codegen'd bigint SUM columns qi·__q[j] — no d²-row
    # generate, no d²-group hash aggregate. The shuffle is still the
    # same O(d²) volume (d groups × d sum columns of partials per
    # partition), but the map side does d² fused multiply-adds per row
    # inside whole-stage codegen instead of materializing d² rows.
    # Two-level exact accumulation (r13): level 1 groups by
    # (i, row bucket) so the d bigint SUM columns stay inside int64 —
    # the bucket (id >> partial_bucket_log2; partition id in the upper
    # bits keeps buckets partition-local) caps each partial at
    # 2^partial_bucket_log2 rows even on corpus-scale partitions
    # (ADVICE r13); level 2 merges the d×(#buckets) partial rows in
    # DECIMAL(38,0). Map-side cost is unchanged — the d² MACs per
    # vector remain long-typed codegen — and for well-sized input
    # partitions #buckets ≈ P, the same partial-row volume the
    # single-level hash aggregate already moved.
    sums = (
        emb.select(qarr.alias("__q"))
        .select(
            F.posexplode("__q").alias("i", "qi"),
            "__q",
            F.shiftright(F.monotonically_increasing_id(), partial_bucket_log2).alias("__p"),
        )
        .groupBy("i", "__p")
        .agg(
            *[F.sum(F.expr(f"qi * __q[{j}]")).alias(f"s{j}") for j in range(dim)],
            F.sum("qi").alias("sx"),
            F.count("*").alias("n"),
        )
        .groupBy("i")
        .agg(
            *[
                F.sum(F.col(f"s{j}").cast("decimal(38,0)")).cast("decimal(38,0)").alias(f"s{j}")
                for j in range(dim)
            ],
            F.sum("sx").cast("bigint").alias("sx"),
            F.sum("n").cast("bigint").alias("n"),
        )
        .localCheckpoint(eager=True)
    )
    # per-dim exact sums as one broadcast array + the corpus count
    sarr = sums.groupBy().agg(
        F.expr("transform(array_sort(collect_list(struct(i, sx))), x -> x.sx)").alias("sv"),
        F.max("n").alias("n"),
    )
    # cmat row i directly: cov(i,j) = (sxy_ij − sx_i·sx_j/n)/n/1e12
    sxyarr = F.array(*[F.col(f"s{j}").cast("double") for j in range(dim)])
    covrow = (
        "zip_with(__sxy, sv, (a, b) -> "
        "(a - CAST(sx AS DOUBLE) * CAST(b AS DOUBLE) / n) / n / 1e12)"
    )
    cmat = (
        sums.select(F.col("i"), sxyarr.alias("__sxy"), F.col("sx"))
        .crossJoin(F.broadcast(sarr))
        .select("i", F.expr(covrow).alias("row"))
        .localCheckpoint(eager=True)
    )
    # C → C^(2^squarings): C²[i][j] = dot(row_i, row_j) by symmetry.
    rowdot = (
        "aggregate(zip_with(a.row, b.row, (x, y) -> x * y), CAST(0.0 AS DOUBLE), "
        "(acc, e) -> acc + e)"
    )
    for _ in range(squarings):
        sq = (
            cmat.alias("a")
            .crossJoin(F.broadcast(cmat.alias("b")))
            .select(F.col("a.i").alias("i"), F.col("b.i").alias("j"), F.expr(rowdot).alias("cov"))
        )
        cmat = (
            sq.groupBy("i")
            .agg(
                F.expr("transform(array_sort(collect_list(struct(j, cov))), s -> s.cov)").alias(
                    "row"
                )
            )
            .localCheckpoint(eager=True)
        )
    # per-dim means from the SAME quantized sums frame
    marr = (
        sums.groupBy()
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(i, CAST(sx AS DOUBLE) / n / 1e6 AS m))), s -> s.m)"
            ).alias("m")
        )
        .localCheckpoint(eager=True)
    )
    spark = emb.sparkSession
    v = spark.range(1).select(
        F.expr(
            f"transform(sequence(0, {dim - 1}), i -> CASE WHEN i = 0 THEN CAST(1.0 AS DOUBLE) "
            "ELSE CAST(0.0 AS DOUBLE) END)"
        ).alias("v")
    )
    matvec = (
        "aggregate(zip_with(row, v, (x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
    )
    for _ in range(iters):
        u = cmat.crossJoin(F.broadcast(v)).select("i", F.expr(matvec).alias("u"))
        v = (
            u.groupBy()
            .agg(F.expr("transform(array_sort(collect_list(struct(i, u))), s -> s.u)").alias("uv"))
            .select(
                # zero-norm guard (divide by 1 instead): a degenerate
                # corpus (single vector / zero covariance) drives u to
                # exactly 0, and ANSI mode turns 0/0 into a query-killing
                # error. nrm > 0 on any non-degenerate corpus, so values
                # are unchanged there; the oracle carries the same CASE.
                F.expr(
                    "transform(uv, x -> x / (CASE WHEN sqrt(aggregate(transform(uv, e -> e * e), "
                    "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)) = 0.0 THEN CAST(1.0 AS DOUBLE) "
                    "ELSE sqrt(aggregate(transform(uv, e -> e * e), "
                    "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)) END))"
                ).alias("v")
            )
            .localCheckpoint(eager=True)
        )
    proj = (
        "aggregate(zip_with(zip_with(xd, m, (a, b) -> a - b), v, (c, d) -> c * d), "
        "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
    )
    return (
        emb.select(
            F.col(id_col),
            F.expr(f"transform({vec_col}, e -> CAST(e AS DOUBLE))").alias("xd"),
        )
        .crossJoin(F.broadcast(marr))
        .crossJoin(F.broadcast(v))
        .select(F.col(id_col), F.expr(proj).alias("pc1"))
        .orderBy(id_col)
    )


def product_quantize(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    m: int = 8,
    dsub: int = 8,
    k: int = 8,
    iters: int = 1,
    return_codebook: bool = False,
):
    """Product quantization (the FAISS PQ workhorse): split each
    vector into ``m`` subspaces of ``dsub`` dims, run Lloyd k-means
    independently in every subspace, and code each vector as its
    nearest centroid per subspace — m·log2(k) bits per vector.
    Returns (id, subspace, code) in long form; with
    ``return_codebook=True`` also the trained (s, cluster, __cvec)
    codebook frame (the ADC search half needs it).

    Scale shape — ONE pipeline for all subspaces, not m jobs: the
    corpus explodes to (id, subspace, subvector) — m small rows per
    vector — and every k-means round is a single scan + one
    (subspace × cluster × dim)-cardinality shuffle covering ALL
    subspaces at once (the per-subspace problems share each round's
    jobs). Assignment is row-local: per-subspace centroid arrays
    (m·k rows total) broadcast as m rows of struct arrays, argmin via
    array_min's lexicographic (distance, cluster) order — the same
    shuffle-free trick as _assign.

    Determinism: fixed low-id seeds per subspace, decimal-exact
    centroid means, left-fold distances, ties to the lowest cluster —
    the kmeans_lloyd discipline, so a SQL oracle replays every round.
    """
    subs = F.expr(
        f"transform(sequence(0, {m - 1}), s -> struct(s AS s, "
        f"transform(slice({vec_col}, s * {dsub} + 1, {dsub}), x -> CAST(x AS DOUBLE)) AS sv))"
    )
    sub = emb.select(F.col(id_col), F.explode(subs).alias("u")).select(
        F.col(id_col), F.col("u.s").alias("s"), F.col("u.sv").alias("sv")
    )
    cent = sub.filter(F.col(id_col) < k).select(
        "s", F.col(id_col).cast("int").alias("cluster"), F.col("sv").alias("__cvec")
    )

    def assign(cent_df: DataFrame) -> DataFrame:
        centarr = cent_df.groupBy("s").agg(
            F.expr("array_sort(collect_list(struct(cluster, __cvec)))").alias("__cs")
        )
        dist = (
            "aggregate(zip_with(sv, c.__cvec, (x, y) -> (x - y) * (x - y)), "
            "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
        )
        best = f"array_min(transform(__cs, c -> struct({dist} AS d, c.cluster AS cluster)))"
        return sub.join(F.broadcast(centarr), on="s").select(
            F.col(id_col), F.col("s"), F.col("sv"), F.expr(f"{best}.cluster").alias("cluster")
        )

    for _ in range(iters):
        assigned = assign(cent)
        cent = (
            assigned.select("s", "cluster", F.posexplode(F.col("sv")).alias("pos", "v"))
            .groupBy("s", "cluster", "pos")
            .agg(mean_v_exact().alias("cv"))
            .groupBy("s", "cluster")
            .agg(
                F.expr("transform(array_sort(collect_list(struct(pos, cv))), x -> x.cv)").alias(
                    "__cvec"
                )
            )
            # m·k rows; same per-round lineage cut as kmeans_lloyd
            .localCheckpoint(eager=True)
        )
    codes = (
        assign(cent)
        .select(F.col(id_col), F.col("s").alias("subspace"), F.col("cluster").alias("code"))
        .orderBy(id_col, "subspace")
    )
    if return_codebook:
        return codes, cent
    return codes


def pq_adc_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    m: int = 8,
    dsub: int = 8,
    k_codes: int = 8,
    iters: int = 1,
    k: int = 5,
    rerank: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    packed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """PQ search with Asymmetric Distance Computation: queries keep
    their RAW subvectors; each corpus vector is approximated by its PQ
    codes, and distance(query, vector) ≈ Σ_s d(query_sv[s],
    codebook[s][code[s]]) — the FAISS ADC scan. Returns
    (query_id, rank, neighbor_id, adc_dist), or with ``rerank=R`` the
    FAISS two-stage search: the ADC scan keeps only a candidate
    shortlist of R per query, EXACT cosine re-ranks the shortlist, and
    the output is (query_id, rank, neighbor_id, cosine).

    Re-ranking is the standard fix for ADC's quantization noise: the
    codes only need to land the true neighbors anywhere in the top-R
    (easy), not rank them (hard) — recall@5 went 0.275 → ≥0.8 on the
    frontier corpus at R=50. The exact pass touches |Q|·R vectors — a
    broadcast-joined sliver, invisible next to the scan.

    Scale shape: the distance TABLE (|Q|·m·k entries — hundreds of
    doubles) is precomputed ONCE per query set and broadcast; the
    corpus-side work is a code-table lookup join (no vector math on
    the corpus path) and an m-entry ordered fold per (query, vector)
    pair. Determinism: the per-pair sum is a LEFT FOLD over subspace
    order (a bare SUM of doubles would be accumulation-order
    dependent), shortlist and final ties break to the lowest
    neighbor id.

    When a prebuilt index frame is passed, the call's hyperparameters
    (bits / n_cells / m / dsub) MUST match the ones it was built with
    — the frames carry no metadata to check, and a mismatch silently
    degrades results (wrong-length probe strings join nothing;
    mis-sliced subvectors score noise).

    ``packed`` (pq_pack_index output) TAKES PRECEDENCE over the
    long-form PQ frames when both are given: the codes/codebook half
    of the search then comes solely from the packed frames, so they
    MUST be packed from the same trained index passed as ``index`` /
    ``pq_index`` (the registry memos guarantee this; ad-hoc callers
    must too — test_packed_adc_path_identical_to_unpacked pins the
    equivalence).
    """
    if packed is not None:
        pcodes, pbooks = packed
        dpacked = _packed_dtable_mapside(emb, id_col, vec_col, query_ids, pbooks, m=m, dsub=dsub)
    else:
        codes, cent = index if index is not None else product_quantize(
            emb, id_col, vec_col, m=m, dsub=dsub, k=k_codes, iters=iters, return_codebook=True
        )
        pcodes = _packed_codes(codes, id_col)
        dpacked = _packed_dtable(
            _adc_distance_table(emb, id_col, vec_col, query_ids, cent, m=m, dsub=dsub)
        )
    # packed scan: corpus rows (one per vector, m codes packed) ×
    # broadcast per-query tables, scored by ONE map-side fold — no
    # N·|Q|·m intermediate rows, no collect_list hash aggregate on
    # the corpus path (that aggregate was ~60% of the search time).
    adc = (
        pcodes.crossJoin(F.broadcast(dpacked))
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_ADC_FOLD).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    if rerank is None:
        return (
            adc.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "neighbor_id", "adc_dist")
            .orderBy("query_id", "rank")
        )
    shortlist = (
        adc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return exact_rerank(emb, id_col, vec_col, query_ids, shortlist, k)


def exact_rerank(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    shortlist: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact-cosine re-rank of a (query_id, neighbor_id) shortlist —
    the second stage of every two-stage ANN search here (PQ-ADC,
    IVFPQ): |Q|·R vector reads via a broadcast-joined sliver of the
    corpus, then per-query top-k. Output (query_id, rank, neighbor_id,
    cosine), ties to the lowest neighbor id."""
    qvec = emb.filter(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qfull"),
        norm2_expr(vec_col).alias("__qn2"),
    )
    nvec = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__nv"))
    exact = (
        # |Q|·R rows — broadcast the shortlist through the corpus scan,
        # then attach the (broadcast) query vectors. The neighbor norm
        # fold runs AFTER the shortlist join, so only the surviving
        # |Q|·R rows pay it — not the whole corpus.
        nvec.join(F.broadcast(shortlist), on="neighbor_id")
        .withColumn("__nn2", norm2_expr("__nv"))
        .join(F.broadcast(qvec), on="query_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot_expr("__qfull", "__nv") / (F.sqrt(F.col("__qn2")) * F.sqrt(F.col("__nn2")))).alias(
                "cosine"
            ),
        )
    )
    return _cosine_topk_tail(exact, k)


def ivfpq_topk(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 5,
    nprobe: int = 2,
    rerank: int = 50,
    n_cells: int = 16,
    ivf_iters: int = 2,
    m: int = 16,
    dsub: int = 4,
    k_codes: int = 16,
    pq_iters: int = 2,
    ivf_index: tuple[DataFrame, DataFrame] | None = None,
    pq_index: tuple[DataFrame, DataFrame] | None = None,
    packed: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVFPQ (FAISS IVFADC shape, non-residual): the trained IVF
    coarse quantizer prunes the corpus to the ``nprobe`` nearest
    inverted lists, PQ-ADC scores ONLY those candidates via code
    lookups, and exact cosine re-ranks the ADC top-``rerank`` — the
    composition a 100 TB corpus actually needs: cell pruning bounds
    the scan (~nprobe/n_cells of the corpus), codes bound the per-row
    arithmetic (m lookups, no vector math), and the exact stage is a
    |Q|·rerank sliver. recall@5 ≈ 0.9 on the frontier corpus at both
    gate scales.

    Shares the session-memoized IVF and PQ indexes with emb_ann_ivf /
    emb_ann_pq_adc (build once, query many). Determinism: both
    trainings are oracle-replayed; ADC pair sums are ordered folds;
    every cut ties to the lowest id.

    When a prebuilt index frame is passed, the call's hyperparameters
    (bits / n_cells / m / dsub) MUST match the ones it was built with
    — the frames carry no metadata to check, and a mismatch silently
    degrades results (wrong-length probe strings join nothing;
    mis-sliced subvectors score noise).

    ``packed`` (pq_pack_index output) TAKES PRECEDENCE over the
    long-form ``pq_index`` frames for the code/codebook half when both
    are given — it must be packed from that same trained PQ index
    (the registry memos guarantee this; the IVF half always comes
    from ``ivf_index``).
    """
    cent, corpus = ivf_index if ivf_index is not None else ivf_build(
        emb, id_col, vec_col, n_cells=n_cells, iters=ivf_iters
    )
    if packed is not None:
        pcodes, pbooks = packed
        dpacked = _packed_dtable_mapside(emb, id_col, vec_col, query_ids, pbooks, m=m, dsub=dsub)
    else:
        codes, books = pq_index if pq_index is not None else product_quantize(
            emb, id_col, vec_col, m=m, dsub=dsub, k=k_codes, iters=pq_iters, return_codebook=True
        )
        pcodes = _packed_codes(codes, id_col)
        dpacked = _packed_dtable(
            _adc_distance_table(emb, id_col, vec_col, query_ids, books, m=m, dsub=dsub)
        )
    probe = _ivf_probe(emb, id_col, vec_col, query_ids, cent, nprobe).select(
        "query_id", "__cell"
    )
    # inverted-list read: candidates = corpus rows in probed cells
    cand = (
        corpus.join(F.broadcast(probe), on="__cell")
        .filter(F.col(id_col) != F.col("query_id"))
        .select("query_id", F.col(id_col))
    )
    # candidate codes only: cand (query, id) ⋈ packed codes (one row
    # per vector, id-keyed), per-query table broadcast — ADC score is
    # one map-side fold per surviving (query, vector) pair; no
    # per-subspace rows, no collect_list hash aggregate.
    adc = (
        pcodes.join(cand, on=id_col)
        .join(F.broadcast(dpacked), on="query_id")
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            F.expr(_ADC_FOLD).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_dist").asc(), F.col("neighbor_id").asc())
    shortlist = (
        adc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= rerank)
        .select("query_id", "neighbor_id")
    )
    return exact_rerank(emb, id_col, vec_col, query_ids, shortlist, k)


def validate_embeddings(
    emb: DataFrame, id_col: str, vec_col: str, dim: int
) -> tuple[DataFrame, DataFrame]:
    """Ingest-boundary validation for vector corpora — the same
    split-don't-crash pattern as the ETL validation zone (reference
    scripts/glue/script.py rejection routing): every similarity/ANN
    operator in this module assumes FIXED-DIM, non-null vectors, and
    a malformed row (zero-length or wrong-length array, NULL payload,
    non-finite element) otherwise surfaces as a mid-job ANSI error —
    DIVIDE_BY_ZERO in a cosine, an element_at out of bounds in a
    bucketer — killing the whole query at scale.

    Returns (valid, rejected): ``valid`` is search-ready; ``rejected``
    carries one reject_reason per row (null_vector | wrong_dim |
    non_finite), first-match-wins, for the quarantine zone.
    """
    reason = (
        F.when(F.col(vec_col).isNull(), F.lit("null_vector"))
        .when(F.size(F.col(vec_col)) != dim, F.lit("wrong_dim"))
        .when(
            F.exists(F.col(vec_col), lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == float("inf"))),
            F.lit("non_finite"),
        )
    )
    tagged = emb.withColumn("__reject", reason)
    valid = tagged.filter(F.col("__reject").isNull()).drop("__reject")
    rejected = tagged.filter(F.col("__reject").isNotNull()).select(
        F.col(id_col), F.col("__reject").alias("reject_reason")
    )
    return valid, rejected
