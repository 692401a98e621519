"""Document and embedding deduplication.

Exact and near-duplicate detection (MinHash LSH, SimHash, n-gram
Jaccard and containment, prefix hashes, chunk and paragraph dups),
duplicate clusters, boilerplate, contamination and split-leakage
audits, duplicate-span coverage, LSH precision/recall, and embedding
dedup (cosine pairs, IVF-bucketed semantic dedup).

Each query wires an operator (operators/dedup.py, similarity.py) to
the documents/embeddings tables and carries a DuckDB oracle that
restates the SAME algorithm in SQL, possible because all hashing is
md5-derived and all arithmetic follows the exact-decimal discipline
(plans/registry.py). The MinHash/SimHash oracles are generated
programmatically so the permutation/bit schedule can never drift from
the operator's. The signature, candidate-pair and cluster frames are
session-memoized and shared by the queries that read them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.functions.hashing import MERSENNE_P, perm_coeffs
from lakehouse_architecture_transaction_spark.operators import dedup as D
from lakehouse_architecture_transaction_spark.operators import similarity as S
from lakehouse_architecture_transaction_spark.operators import text as T
from lakehouse_architecture_transaction_spark.plans.ann import (
    _DOT_FOLD,
    _IVF_CELLS,
    _IVF_ITERS,
    _N2_FOLD,
    _ivf_index,
    _km_assign_sql,
    _km_update_sql,
)
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.plans.text import (
    _DOC_SHINGLES,
    _H32,
    _STOPS_SQL,
    _TOKENS,
)

_NORM_TOKENS = (
    "list_filter(regexp_split_to_array("
    "regexp_replace(lower(text), '[^\\p{L}\\p{N} ]', '', 'g'), ' +'), x -> x != '')"
)


# ------------------------------------------------------ dedup queries

_NUM_PERMS, _BANDS = 16, 4


@register(
    "docs_exact_dedup",
    oracle="""
    WITH inp AS (
        SELECT doc_id, text, lang, source, n_chars FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text, lang, source, n_chars
        FROM documents WHERE doc_id % 10 = 0
    ),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM inp GROUP BY md5(text))
    SELECT i.doc_id, i.lang, i.source, i.n_chars
    FROM inp i JOIN keep k ON i.doc_id = k.doc_id
    ORDER BY i.doc_id ASC
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content dedup (hash-groupBy, keep min id). Input is
    documents with injected exact duplicates (doc_id+100000 for
    doc_id % 10 = 0). The oracle restates the min-id-per-content-hash
    rule rather than a closed form: larger fixtures contain NATURAL
    duplicate texts too (8 pairs at sf0.1), which dedup must also
    collapse."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn("doc_id", F.col("doc_id") + 100000)
    deduped = D.exact_text_dedup(docs.unionByName(dupes), text_col="text", id_col="doc_id")
    return deduped.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


@register(
    "docs_fingerprint",
    oracle=f"""
    SELECT doc_id, md5(array_to_string(list_sort(list_distinct({_NORM_TOKENS})), ' ')) AS fingerprint
    FROM documents
    ORDER BY doc_id ASC
    """,
)
def docs_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision fingerprint (sorted distinct normalized token set →
    md5): word-order-insensitive near-dup key."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.fingerprint(docs, text_col="text", id_col="doc_id").orderBy("doc_id")


_MAX_DF = 100  # stop-shingle cut, mirrored in the operator default
_BUCKET_CAP = 50  # per-LSH-bucket candidate cap, mirrored likewise


def _jaccard_pairs_sql() -> str:
    """Exact 3-gram Jaccard pair SQL (threshold 0.1, stop-shingle cut)
    — shared by the docs_ngram_jaccard_pairs oracle and the LSH
    precision oracle."""
    return f"""
    WITH {_DOC_SHINGLES},
    shf AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
        ) WHERE df <= {_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.1
    ORDER BY id_a ASC, id_b ASC
    """


@register("docs_ngram_jaccard_pairs", oracle=_jaccard_pairs_sql())
def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram shingle Jaccard pair mining (threshold 0.1) with
    the max-df stop-shingle cut (operators/dedup.py); the pair frame
    comes from the session memo shared with the LSH precision/recall
    evaluators."""
    return _jaccard_pairs_frame(spark, sf_dir).orderBy("id_a", "id_b")


#: Session-scoped memos of the two pair frames the dedup-evaluation
#: family shares: exact Jaccard pairs (the expensive shingle
#: self-join) and the LSH candidate set. docs_ngram_jaccard_pairs,
#: docs_minhash_lsh_pairs, docs_lsh_precision and docs_lsh_recall all
#: read these; in a real pipeline both tables are computed once per
#: corpus snapshot. Same (applicationId, sf_dir) keying as
#: _signature_frame.
_JACCARD_PAIRS_MEMO: dict[tuple[str, str], DataFrame] = {}
_CAND_PAIRS_MEMO: dict[tuple[str, str], DataFrame] = {}


def _jaccard_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _JACCARD_PAIRS_MEMO.get(key)
    if got is not None:
        return got
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = D.ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=0.1, max_df=_MAX_DF
    ).localCheckpoint(eager=True)
    _JACCARD_PAIRS_MEMO[key] = pairs
    return pairs


def _cand_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _CAND_PAIRS_MEMO.get(key)
    if got is not None:
        return got
    sig = _signature_frame(spark, sf_dir)
    pairs = D.lsh_candidate_pairs(
        sig, id_col="doc_id", num_perms=_NUM_PERMS, bands=_BANDS, bucket_cap=_BUCKET_CAP
    ).localCheckpoint(eager=True)
    _CAND_PAIRS_MEMO[key] = pairs
    return pairs


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_P}) AS m{i}" for i, (a, b) in enumerate(perm_coeffs(_NUM_PERMS))
    )
    rows = _NUM_PERMS // _BANDS
    bands = []
    for b in range(_BANDS):
        cols = ", ".join(f"m{b * rows + r}::VARCHAR" for r in range(rows))
        bands.append(f"SELECT doc_id, {b} AS band, md5(concat_ws('-', {cols})) AS bkey FROM sig")
    band_union = " UNION ALL ".join(bands)
    return f"""
    WITH {_DOC_SHINGLES},
    sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
    bnd AS ({band_union}),
    bndc AS (
        SELECT doc_id, band, bkey FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id ASC) AS bn FROM bnd
        ) WHERE bn <= {{cap}}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bndc a JOIN bndc b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ORDER BY id_a ASC, id_b ASC
    """


#: Session-scoped memo of the MinHash signature frame, keyed by
#: (applicationId, sf_dir). Four queries consume the SAME signatures
#: (lsh_pairs, jaccard_est, and the cluster memo's build) — in a real
#: pipeline the signature table is computed once and persisted. One
#: row per doc × num_perms longs after localCheckpoint truncation.
_SIG_MEMO: dict[tuple[str, str], DataFrame] = {}


def _signature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    got = _SIG_MEMO.get(key)
    if got is not None:
        return got
    docs = load_table(spark, sf_dir, "documents", spread=True)
    sig = D.minhash_signature(
        docs, text_col="text", id_col="doc_id", num_perms=_NUM_PERMS, n=3
    ).localCheckpoint(eager=True)
    _SIG_MEMO[key] = sig
    return sig


@register(
    "docs_minhash_lsh_pairs",
    oracle=_minhash_oracle().format(cap=_BUCKET_CAP),
    headline=True,
)
def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (16 perms) + LSH banding (4×4) candidate pairs, buckets
    capped (operators/dedup.py lsh_candidate_pairs); the candidate
    frame comes from the session memo shared with the LSH
    precision/recall evaluators."""
    return _cand_pairs_frame(spark, sf_dir).orderBy("id_a", "id_b")


def _dup_clusters_oracle() -> str:
    pairs_sql = _minhash_oracle().format(cap=_BUCKET_CAP)
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    ORDER BY doc_id ASC
    """


#: Session-scoped memo of the MinHash→LSH→CC cluster frame, keyed by
#: (applicationId, sf_dir). docs_dup_clusters AND docs_dup_cluster_sizes
#: (and any future survivor policy) consume the same clustering; in a
#: real pipeline the cluster table is persisted once, so queries that
#: share a session should not pay the iterative CC twice. The frame is
#: tiny ((doc_id, cluster_id) at corpus-id cardinality after
#: localCheckpoint truncation — a few KB at gate scale), so holding it
#: for the session is safe.
_CLUSTER_MEMO: dict[tuple[str, str], DataFrame] = {}


def _cluster_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_architecture_transaction_spark.operators.graph import connected_components

    key = (spark.sparkContext.applicationId, sf_dir)
    got = _CLUSTER_MEMO.get(key)
    if got is not None:
        return got
    docs = load_table(spark, sf_dir, "documents", spread=True)
    pairs = _cand_pairs_frame(spark, sf_dir)
    comp = connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id", src_col="id_a", dst_col="id_b"
    )
    comp = comp.select("doc_id", F.col("component").alias("cluster_id")).localCheckpoint(
        eager=True
    )
    _CLUSTER_MEMO[key] = comp
    return comp


@register("docs_dup_clusters", oracle=_dup_clusters_oracle(), headline=True)
def docs_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: MinHash-LSH candidate pairs closed
    under connectivity (operators/graph.py connected_components) —
    each doc labeled with the min doc_id of its component (singletons
    label themselves). The dedup decision unit: keep one per cluster.
    The oracle computes the same unique fixpoint via a recursive
    reachability CTE. The cluster frame is memoized per session (see
    _cluster_frame) so sibling queries share one clustering run."""
    return _cluster_frame(spark, sf_dir).orderBy("doc_id")


def _simhash_oracle(bits: int = 32) -> str:
    sums = ", ".join(f"SUM(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(bits))
    val = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
    WITH tokx AS (SELECT doc_id, unnest({_TOKENS}) AS tok FROM documents),
    hx AS (SELECT doc_id, {_H32.format(x='tok')} AS h FROM tokx),
    s AS (SELECT doc_id, {sums} FROM hx GROUP BY doc_id)
    SELECT doc_id, CAST({val} AS BIGINT) AS simhash FROM s
    ORDER BY doc_id ASC
    """


@register("docs_simhash", oracle=_simhash_oracle(), headline=True)
def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints (near-dup = small hamming distance)."""
    docs = load_table(spark, sf_dir, "documents")
    return D.simhash(docs, text_col="text", id_col="doc_id", bits=32).orderBy("doc_id")


_BOILER_DF = 10


@register(
    "docs_boilerplate",
    oracle=f"""
    WITH {_DOC_SHINGLES},
    flagged AS (
        SELECT doc_id, COUNT(*) OVER (PARTITION BY shingle) AS sdf FROM sh
    ),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN sdf > {_BOILER_DF} THEN 1 ELSE 0 END) AS n_boiler
        FROM flagged GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           CASE WHEN COALESCE(p.n_shingles, 0) = 0 THEN 0.0
                ELSE CAST(p.n_boiler AS DOUBLE) / p.n_shingles END AS boiler_ratio
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id ASC
    """,
    headline=True,
)
def docs_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate scoring (operators/dedup.py boilerplate_score):
    fraction of each doc's distinct 3-gram shingles shared by more
    than 10 docs — the strip-before-dedup signal for web-scale
    corpora."""
    docs = load_table(spark, sf_dir, "documents")
    return D.boilerplate_score(
        docs, text_col="text", id_col="doc_id", n=3, df_threshold=_BOILER_DF
    ).orderBy("doc_id")


_CONTAM_MIN = 5


def _contam_oracle() -> str:
    split_bucket = (
        "(('0x' || substr(md5('split-v1' || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000"
    )
    return f"""
    WITH lab AS (SELECT *, {split_bucket} AS bucket FROM documents),
    {_DOC_SHINGLES},
    labeled AS (SELECT sh.doc_id, sh.shingle, lab.bucket
                FROM sh JOIN lab ON sh.doc_id = lab.doc_id),
    tr0 AS (SELECT doc_id AS train_id, shingle FROM labeled WHERE bucket < 9000),
    tr AS (
        SELECT train_id, shingle FROM (
            SELECT *, COUNT(*) OVER (PARTITION BY shingle) AS df FROM tr0
        ) WHERE df <= 100
    ),
    te AS (SELECT doc_id AS test_id, shingle FROM labeled WHERE bucket >= 9500)
    SELECT train_id, test_id, COUNT(*) AS n_shared
    FROM tr JOIN te USING (shingle)
    GROUP BY train_id, test_id
    HAVING COUNT(*) >= {_CONTAM_MIN}
    ORDER BY train_id ASC, test_id ASC
    """


@register("docs_contamination", oracle=_contam_oracle())
def docs_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/dedup.py
    contamination_pairs): train/test split by the standard hash
    buckets, then every train↔eval pair sharing ≥5 distinct 3-gram
    shingles — the scan run before training so eval answers aren't in
    the training set. Bipartite shingle join + train-side stop-shingle
    cut."""
    from lakehouse_architecture_transaction_spark.operators.sampling import split_bucket_col

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lab = docs.withColumn("__bucket", split_bucket_col("doc_id", "split-v1"))
    train = lab.filter(F.col("__bucket") < 9000)
    test = lab.filter(F.col("__bucket") >= 9500)
    return D.contamination_pairs(
        train, test, text_col="text", id_col="doc_id", n=3, min_overlap=_CONTAM_MIN, max_df=100
    )


def _keep_best_oracle() -> str:
    pairs_sql = _minhash_oracle().format(cap=_BUCKET_CAP)
    # cluster closure restated from the docs_dup_clusters oracle,
    # quality restated from the docs_quality_score oracle, inline
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a),
    base AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
    q AS (
        SELECT doc_id,
               CAST((CASE WHEN length(text) BETWEEN 50 AND 5000 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN CAST(len(list_filter(tk, x -> list_contains({_STOPS_SQL}, lower(x)))) AS DOUBLE)
                      / greatest(len(tk), 1) >= 0.05 THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(length(text), 1) <= 0.2
                      THEN 0.25 ELSE 0.0 END)
             + (CASE WHEN len(tk) BETWEEN 10 AND 2000 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality
        FROM base
    )
    SELECT doc_id, cluster_id, quality FROM (
        SELECT c.doc_id, c.cluster_id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                                  ORDER BY q.quality DESC, c.doc_id ASC) AS rn
        FROM clusters c JOIN q ON c.doc_id = q.doc_id
    ) WHERE rn = 1
    ORDER BY doc_id ASC
    """


@register("docs_dedup_keep_best", oracle=_keep_best_oracle())
def docs_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup curation pipeline as one query: MinHash →
    LSH candidate pairs (capped buckets) → connected components → keep
    the best-quality doc per cluster (argmax quality, doc_id
    tiebreak). What a corpus curation job actually ships: the
    deduplicated, quality-ranked survivor set."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents", spread=True)
    # same clustering (same perms/bands/cap) as docs_dup_clusters —
    # shared through the session memo instead of re-run.
    comp = _cluster_frame(spark, sf_dir)
    quality = T.quality_score(docs, id_col="doc_id", text_col="text").select("doc_id", "quality")
    joined = comp.join(quality, on="doc_id")
    w = Window.partitionBy("cluster_id").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cluster_id", "quality")
        .orderBy("doc_id")
    )


_LSH_BITS = 4


_DUP_TAU = 0.25  # synthetic embeddings are near-uniform (cosine ~ N(0, 1/8)),
# so a production near-dup threshold (~0.95) finds nothing here; 0.25 (~2 sigma)
# keeps the result non-empty while exercising the same plan.


_DUP_CAP = 24  # per-sign-bucket candidate cap — ACTIVE at sf0.001 (~31
# vectors/bucket), so the gate exercises the capped plan, not the bypass.


@register(
    "emb_cosine_dup_pairs",
    oracle=f"""
    WITH b0 AS (
        SELECT vec_id, embedding,
               array_to_string(list_transform(embedding[1:{_LSH_BITS}],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bkt,
               {_N2_FOLD} AS n2
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, embedding, bkt, n2 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY vec_id ASC) AS bn FROM b0
        ) WHERE bn <= {_DUP_CAP}
    )
    SELECT q.vec_id AS id_a, c.vec_id AS id_b,
           {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
    FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id < c.vec_id
    WHERE {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) >= {_DUP_TAU}
    ORDER BY id_a ASC, id_b ASC
    """,
    headline=True,
)
def emb_cosine_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pair mining
    (operators/similarity.py cosine_dup_pairs): sign-LSH bucketed
    candidate generation with a deterministic per-bucket cap
    (anisotropy guard), double-fold cosine, ≥ τ cut."""
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_dup_pairs(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=_DUP_TAU,
        bits=_LSH_BITS,
        bucket_cap=_DUP_CAP,
    )


_CHDUP_SIZE, _CHDUP_DF_CAP = 64, 100


@register(
    "docs_chunk_dup_docs",
    oracle=f"""
    WITH inp AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
    ),
    ch AS (
        SELECT DISTINCT doc_id, md5(substr(text, start, {_CHDUP_SIZE})) AS h
        FROM (SELECT doc_id, text,
                     unnest(generate_series(1, greatest(length(text), 1), {_CHDUP_SIZE})) AS start
              FROM inp)
    ),
    keep AS (
        SELECT doc_id, h FROM (
            SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS df FROM ch
        ) WHERE df <= {_CHDUP_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
    FROM keep a JOIN keep b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    ORDER BY doc_a ASC, doc_b ASC
    """,
    headline=True,
)
def docs_chunk_dup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granular duplicate mining: doc pairs sharing ≥1 identical
    64-char chunk (operators/text.py char_chunks) — catches embedded
    copies (quotes, licenses, mirrored passages) that whole-doc
    fingerprints miss. Same scale discipline as every LSH-family op:
    the join is keyed by chunk hash, never all-pairs, and a
    deterministic df cap (≤ 100) bounds any boilerplate bucket;
    the cap window rides the same hash-partitioned exchange the join
    needs. Fixture injects exact dups (doc_id+100000 for %10=0) so
    the pair set is non-trivial at every sf."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    inp = docs.unionByName(dupes)
    ch = T.char_chunks(
        inp, id_col="doc_id", text_col="text", size=_CHDUP_SIZE, stride=_CHDUP_SIZE
    ).select("doc_id", F.col("chunk_md5").alias("h")).distinct()
    from pyspark.sql import Window as W

    keep = ch.withColumn("df", F.count("*").over(W.partitionBy("h"))).filter(
        F.col("df") <= _CHDUP_DF_CAP
    )
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(b, on=(F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_shared"))
        .orderBy("doc_a", "doc_b")
    )


def _dup_cluster_sizes_oracle() -> str:
    pairs_sql = _minhash_oracle().format(cap=_BUCKET_CAP)
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    sym AS (SELECT id_a AS a, id_b AS b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a)
    SELECT cluster_id, COUNT(*) AS n_docs
    FROM clusters GROUP BY cluster_id HAVING COUNT(*) >= 2
    ORDER BY cluster_id ASC
    """


@register("docs_dup_cluster_sizes", oracle=_dup_cluster_sizes_oracle(), headline=True)
def docs_dup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size profile: every multi-doc MinHash-LSH
    cluster with its member count — the dedup-impact report (how much
    of the corpus collapses) that precedes any survivor policy.
    Composition of docs_dup_clusters; the extra groupBy is at cluster
    cardinality, and the clustering itself comes from the session
    memo (_cluster_frame) — computed once, shared with
    docs_dup_clusters."""
    clusters = _cluster_frame(spark, sf_dir)
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .orderBy("cluster_id")
    )


_PFX = 16  # rolling-hash prefix length (code points) for front-dup groups


@register(
    "docs_prefix_dup_groups",
    oracle=f"""
    WITH h AS (
        SELECT doc_id,
               CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
                   list_reduce(
                       [CAST(0 AS BIGINT)] || list_transform(
                           generate_series(1, least(length(text), {_PFX})),
                           i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
                       (acc, c) -> (acc * {T.ROLLING_BASE} + c) % {T.ROLLING_MOD})
               END AS rhash
        FROM documents
    )
    SELECT rhash, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM h GROUP BY rhash HAVING COUNT(*) >= 2
    ORDER BY rhash ASC
    """,
)
def docs_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Front-duplicate groups: docs sharing the rolling hash of their
    first 16 code points (operators/text.py rolling_hash) — the cheap
    shared-boilerplate-head / mirror-page detector that runs before
    any shingling. One fixed-cost hash per doc, one groupBy at hash
    cardinality."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    h = T.rolling_hash(docs, id_col="doc_id", text_col="text", prefix_len=_PFX)
    return (
        h.groupBy("rhash")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("rhash")
    )


def _jaccard_est_oracle() -> str:
    mins = ", ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_P}) AS m{i}"
        for i, (a, b) in enumerate(perm_coeffs(_NUM_PERMS))
    )
    rows = _NUM_PERMS // _BANDS
    bands = []
    for b in range(_BANDS):
        cols = ", ".join(f"m{b * rows + r}::VARCHAR" for r in range(rows))
        bands.append(f"SELECT doc_id, {b} AS band, md5(concat_ws('-', {cols})) AS bkey FROM sig")
    band_union = " UNION ALL ".join(bands)
    matches = " + ".join(
        f"(CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END)" for i in range(_NUM_PERMS)
    )
    return f"""
    WITH {_DOC_SHINGLES},
    sig AS (SELECT doc_id, {mins} FROM hx GROUP BY doc_id),
    bnd AS ({band_union}),
    bndc AS (
        SELECT doc_id, band, bkey FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY band, bkey ORDER BY doc_id ASC) AS bn FROM bnd
        ) WHERE bn <= {_BUCKET_CAP}
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bndc a JOIN bndc b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           CAST(({matches}) AS DOUBLE) / {_NUM_PERMS} AS jaccard_est
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.id_a
    JOIN sig sb ON sb.doc_id = p.id_b
    ORDER BY id_a ASC, id_b ASC
    """


@register("docs_minhash_jaccard_est", oracle=_jaccard_est_oracle(), headline=True)
def docs_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated Jaccard for each LSH candidate pair from the MinHash
    signatures already in hand (matching permutations / num_perms —
    the textbook unbiased estimator): the cheap post-LSH filter that
    decides which candidates earn an exact-verification pass. Two
    signature joins at pair cardinality; no shingle re-join — the
    signatures come from the session memo shared with the LSH/cluster
    queries."""
    sig = _signature_frame(spark, sf_dir)
    pairs = _cand_pairs_frame(spark, sf_dir)
    sa = sig.select(F.col("doc_id").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(_NUM_PERMS)])
    sb = sig.select(F.col("doc_id").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(_NUM_PERMS)])
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0) for i in range(_NUM_PERMS)
    )
    return (
        pairs.join(sa, on="id_a")
        .join(sb, on="id_b")
        .select(
            "id_a", "id_b",
            (matches.cast("double") / F.lit(_NUM_PERMS)).alias("jaccard_est"),
        )
        .orderBy("id_a", "id_b")
    )


_DF_CLIP = 20


@register(
    "docs_shingle_df_hist",
    oracle=f"""
    WITH {_DOC_SHINGLES},
    df AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle)
    SELECT CAST(LEAST(df, {_DF_CLIP}) AS BIGINT) AS df_bucket,
           COUNT(*) AS n_shingles
    FROM df GROUP BY 1
    ORDER BY df_bucket ASC
    """,
)
def docs_shingle_df_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle document-frequency histogram (df clipped at 20) — the
    distribution that justifies the stop-shingle max-df cut: boilerplate
    shingles sit in the clipped tail. Shuffle keyed on the shingle,
    then a constant-cardinality histogram."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", D.tokens_expr("text").alias("__tk"))
    sh = toks.select("doc_id", F.explode(D.shingle_expr(F.col("__tk"), 3)).alias("shingle"))
    df = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        df.groupBy(F.least(F.col("df"), F.lit(_DF_CLIP)).cast("bigint").alias("df_bucket"))
        .agg(F.count("*").alias("n_shingles"))
        .orderBy("df_bucket")
    )


def _source_dup_oracle() -> str:
    # strip ONLY the statement-final ORDER BY: a blanket .replace would
    # also hit the bucket-cap ROW_NUMBER window's ORDER BY inside the
    # clusters SQL, making the oracle's candidate capping
    # nondeterministic once a bucket exceeds the cap
    head, _sep, tail = _dup_clusters_oracle().rpartition("ORDER BY doc_id ASC")
    clusters_sql = head + tail
    return f"""
    WITH cl AS ({clusters_sql}),
    j AS (SELECT cl.doc_id, cl.cluster_id, d.source FROM cl JOIN documents d USING (doc_id)),
    p AS (
        SELECT LEAST(a.source, b.source) AS source_a,
               GREATEST(a.source, b.source) AS source_b
        FROM j a JOIN j b ON a.cluster_id = b.cluster_id AND a.doc_id < b.doc_id
    )
    SELECT source_a, source_b, COUNT(*) AS n_dup_pairs
    FROM p GROUP BY 1, 2
    ORDER BY source_a ASC, source_b ASC
    """


@register("docs_near_dup_rate_by_source", oracle=_source_dup_oracle())
def docs_near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate matrix: cluster-coincident doc
    pairs counted per unordered source pair — the table that tells a
    curation team WHICH feeds mirror each other (drop one) versus
    self-duplicate (dedup in place). Reuses the session's memoized
    cluster frame, and NEVER materializes doc pairs: the cluster
    collapses to (cluster, source) member counts first (≤ |sources|
    rows per cluster however large the cluster), and pair counts are
    the products cnt_a·cnt_b (a<b) / cnt·(cnt−1)/2 (within-source) —
    exact, with the shuffle at cluster×source cardinality. The oracle
    counts the literal pairs; the closed forms agree."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    j = _cluster_frame(spark, sf_dir).join(docs.select("doc_id", "source"), on="doc_id")
    cnt = j.groupBy("cluster_id", "source").agg(F.count("*").alias("cnt"))
    a = cnt.select("cluster_id", F.col("source").alias("sa"), F.col("cnt").alias("ca"))
    b = cnt.select("cluster_id", F.col("source").alias("sb"), F.col("cnt").alias("cb"))
    cross = (
        a.join(b, on="cluster_id")
        .filter(F.col("sa") < F.col("sb"))
        .select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            (F.col("ca") * F.col("cb")).alias("pairs"),
        )
    )
    within = cnt.filter(F.col("cnt") >= 2).select(
        F.col("source").alias("source_a"),
        F.col("source").alias("source_b"),
        # integer DIV (the product is always even) — Spark's `/` is double
        # division, which would round silently once cnt*(cnt-1) > 2^53
        F.expr("cnt * (cnt - 1) DIV 2").alias("pairs"),
    )
    return (
        cross.unionByName(within)
        .groupBy("source_a", "source_b")
        .agg(F.sum("pairs").cast("bigint").alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


def _lsh_precision_oracle() -> str:
    cand = _minhash_oracle().format(cap=_BUCKET_CAP)
    jac = _jaccard_pairs_sql()
    return f"""
    WITH cand AS ({cand}),
    jac AS ({jac}),
    m AS (
        SELECT c.id_a, c.id_b, j.jaccard
        FROM cand c LEFT JOIN jac j ON c.id_a = j.id_a AND c.id_b = j.id_b
    )
    SELECT COUNT(*) AS n_candidates,
           COUNT(jaccard) AS n_true,
           CAST(COUNT(jaccard) AS DOUBLE) / COUNT(*) AS precision
    FROM m
    """


@register("docs_lsh_precision", oracle=_lsh_precision_oracle(), headline=True)
def docs_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate PRECISION: the fraction of MinHash-LSH
    candidate pairs whose exact 3-gram Jaccard clears the 0.1 dedup
    threshold — the tuning metric that tells a curation team whether
    the band/row split wastes verification budget (precision low →
    more rows per band) or — read with recall off the jaccard side —
    misses dups (bands too strict). Reuses the session's memoized
    signature frame; the exact side is the same capped shingle-join
    plan as docs_ngram_jaccard_pairs, evaluated only to verify the
    candidate set."""
    cand = _cand_pairs_frame(spark, sf_dir)
    jac = _jaccard_pairs_frame(spark, sf_dir).select("id_a", "id_b", "jaccard")
    m = cand.join(jac, on=["id_a", "id_b"], how="left")
    return m.agg(
        F.count("*").alias("n_candidates"),
        F.count("jaccard").alias("n_true"),
        (F.count("jaccard").cast("double") / F.count("*")).alias("precision"),
    )


def _lsh_recall_oracle() -> str:
    cand = _minhash_oracle().format(cap=_BUCKET_CAP)
    jac = _jaccard_pairs_sql()
    return f"""
    WITH cand AS ({cand}),
    jac AS ({jac}),
    m AS (
        SELECT j.id_a, j.id_b, c.id_a AS hit
        FROM jac j LEFT JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b
    )
    SELECT COUNT(*) AS n_true_pairs,
           COUNT(hit) AS n_candidates_hit,
           CAST(COUNT(hit) AS DOUBLE) / COUNT(*) AS recall
    FROM m
    """


@register("docs_lsh_recall", oracle=_lsh_recall_oracle(), headline=True)
def docs_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate RECALL: the fraction of true near-dup
    pairs (exact 3-gram Jaccard ≥ 0.1) that the MinHash-LSH banding
    surfaces as candidates — docs_lsh_precision's twin; together they
    are the PR point that tunes the band/row split (precision low →
    more rows per band; recall low → more bands). Shares the session
    signature memo; the exact side is the same capped shingle join."""
    cand = _cand_pairs_frame(spark, sf_dir).withColumn("__hit", F.lit(1))
    jac = _jaccard_pairs_frame(spark, sf_dir).select("id_a", "id_b")
    m = jac.join(cand, on=["id_a", "id_b"], how="left")
    return m.agg(
        F.count("*").alias("n_true_pairs"),
        F.count("__hit").alias("n_candidates_hit"),
        (F.count("__hit").cast("double") / F.count("*")).alias("recall"),
    )


# ------------------------------------------------- semantic dedup

#: Within-cell cosine threshold. The synthetic embeddings are
#: near-uniform (pairwise cosine ~ N(0, 1/8) — see _DUP_TAU in
#: this module), so 0.25 ≈ +2σ: a small, deterministic dup set.
_SEM_TAU = 0.25
#: Per-cell member cap for the quadratic pair stage, ranked by vec_id
#: — ACTIVE at sf0.1 (~400 members/cell), mirrored exactly in the
#: oracle. At real scale SemDeDup keeps cells small by growing the
#: cell count with the corpus (k ∝ N), which this cap stands in for
#: at fixed k=16; the pair stage is then per-cell-bounded everywhere.
_SEM_CAP = 128


def _semantic_dedup_oracle() -> str:
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
        f"""cap AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, cluster,
                   ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY vec_id ASC) AS rn
            FROM fin
        ) WHERE rn <= {_SEM_CAP})"""
    )
    parts.append(
        f"""mem AS (
        SELECT c.vec_id, c.cluster, e.embedding, {_N2_FOLD} AS n2
        FROM cap c JOIN (SELECT vec_id, embedding FROM embeddings) e USING (vec_id))"""
    )
    parts.append(
        f"""p AS (
        SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                   z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)), (x, y) -> x + y)
               / (sqrt(a.n2) * sqrt(b.n2)) AS cosine
        FROM mem a JOIN mem b ON a.cluster = b.cluster AND a.vec_id < b.vec_id)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
    SELECT id_b AS vec_id, CAST(cluster AS INTEGER) AS cell,
           COUNT(*) AS n_lower_dups, MAX(cosine) AS max_cosine
    FROM p WHERE cosine >= {_SEM_TAU}
    GROUP BY id_b, cluster
    ORDER BY vec_id ASC
    """
    )


@register("emb_semantic_dedup", oracle=_semantic_dedup_oracle(), headline=True)
def emb_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023): cluster
    the embedding corpus with the trained k-means cells, compare pairs
    ONLY within a cell, and mark every vector that has a lower-id
    cell-mate with cosine ≥ τ as a semantic duplicate (min-id-wins
    keep rule). Output: one row per DROPPED vector — (vec_id, cell,
    n_lower_dups, max_cosine).

    Composition, not new machinery: the cells are the session-memoized
    IVF coarse quantizer (shared with emb_ann_ivf / emb_ann_ivfpq —
    in a real pipeline the same index serves search AND dedup), the
    per-cell pair stage is capped to the _SEM_CAP lowest-id members
    (deterministic, oracle-mirrored — the house discipline for every
    quadratic candidate stage), and cosines are the package's
    left-fold doubles, so the DuckDB oracle replays training, cap,
    pairs, and threshold bit-for-bit.

    Scale shape: the corpus shuffles ONCE by cell id; each cell's
    pair generation is an equi-join on the cell key with a hard
    quadratic bound; no cross-cell pairs exist by construction (the
    SemDeDup approximation), so total work is cells × cap² — linear
    in the corpus for cap fixed and k ∝ N."""
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        capped_group_cosine_pairs,
    )

    _cent, corpus = _ivf_index(spark, sf_dir)
    # arrow=True (r16, guide §4): ~119k within-cell pairs at sf0.1
    # amortize the Arrow round trip well past break-even — interleaved
    # A/B 1.872 → 1.134 s (0.61×), outputs bit-identical (the numpy
    # kernel replays the engine fold's accumulation order exactly;
    # see similarity._arrow_cosine_filter).
    scored = capped_group_cosine_pairs(
        corpus.select("__cell", "vec_id", "embedding", "__n2"),
        group_col="__cell",
        id_col="vec_id",
        vec_col="embedding",
        n2_col="__n2",
        cap=_SEM_CAP,
        threshold=_SEM_TAU,
        arrow=True,
    )
    return (
        scored.groupBy(F.col("id_b").alias("vec_id"), F.col("__cell").cast("int").alias("cell"))
        .agg(F.count("*").alias("n_lower_dups"), F.max("cosine").alias("max_cosine"))
        .orderBy("vec_id")
    )


@register(
    "docs_paragraph_dups",
    oracle=r"""
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
    ORDER BY paragraph_hash ASC
    """,
)
def docs_paragraph_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate paragraphs (operators/text.py
    paragraph_dups): split on blank lines, md5 each paragraph, keep
    hashes spanning ≥ 2 docs — the boilerplate detector between
    whole-doc and shingle dedup. Split/explode row-local; the only
    shuffle is the hash-keyed aggregate with map-side combine.

    The synthetic corpus is single-paragraph (no blank lines), so
    matches here are whole-doc exact dups: 8 rows at sf0.1, empty
    below — the sf0.1 full gate is where this query's hash check has
    teeth (the operator's own unit tests cover multi-paragraph docs)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.paragraph_dups(docs, "doc_id", "text", min_chars=30).orderBy("paragraph_hash")


@register(
    "docs_shingle_novelty",
    oracle=f"""
    WITH {_DOC_SHINGLES},
    f AS (SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY 1),
    p AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_doc < s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        FROM sh s JOIN f USING (shingle) GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_seen,
           CAST(n_shingles - n_seen AS DOUBLE) / n_shingles AS novelty_ratio
    FROM p ORDER BY doc_id ASC
    """,
    headline=True,
)
def docs_shingle_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty vs the id-ordered corpus prefix
    (operators/dedup.py shingle_novelty): fraction of each doc's
    distinct 3-gram shingles first seen in an earlier doc — the
    incremental-crawl signal that catches template farms and scraped
    mirrors where every page differs slightly. Linear cost (r15
    window form): the per-shingle min-id is a WINDOW over the
    shingle key on the exploded occurrence frame — statistic and
    novelty flag read the one shuffle the frame already pays; then
    one doc-keyed aggregate — no join, no pairwise stage. Skew note
   : a window partition cannot be AQE-skew-split, so a
    Zipf-head shingle funnels its occurrences into one task; the
    per-partition bound is the hottest shingle's occurrence count
    (same bound the old aggregate side carried — only the join-back's
    splittable side is given up). See operators/dedup.py
    shingle_novelty and the SCALE.md hot-shingle probe row."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.shingle_novelty(docs, "text", "doc_id", n=3).orderBy("doc_id")


# ------------------------------------------------------------------
# docs_ngram_containment — asymmetric near-dup (quote/excerpt)
# ------------------------------------------------------------------

_CONT_THRESHOLD = 0.5


def _containment_oracle() -> str:
    return f"""
    WITH {_DOC_SHINGLES},
    shf AS (
        SELECT doc_id, shingle FROM (
            SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh
        ) WHERE df <= {_MAX_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE) AS containment_a,
           CAST(i AS DOUBLE) / CAST(sb.sz AS DOUBLE) AS containment_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE greatest(CAST(i AS DOUBLE) / CAST(sa.sz AS DOUBLE),
                   CAST(i AS DOUBLE) / CAST(sb.sz AS DOUBLE)) >= {_CONT_THRESHOLD}
    ORDER BY id_a ASC, id_b ASC
    """


DOCS_CONTAINMENT_ORACLE = _containment_oracle()


@register("docs_ngram_containment", oracle=DOCS_CONTAINMENT_ORACLE, headline=True)
def docs_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT pairs (operators/dedup.py
    ngram_containment_pairs): |A∩B|/|A| and |A∩B|/|B| per candidate
    pair — catches a short doc wholly quoted inside a long one, which
    Jaccard scores near zero because the union is dominated by the
    long side (Broder's containment). Same capped shingle-join plan
    (and stop-shingle cut) as docs_ngram_jaccard_pairs; the threshold
    applies to the larger direction.

    Scale shape: identical to the Jaccard miner — shingle-keyed join
    (only docs sharing a shingle meet), df-capped hot shingles, sizes
    at doc cardinality."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return D.ngram_containment_pairs(
        docs, text_col="text", id_col="doc_id", n=3, threshold=_CONT_THRESHOLD, max_df=100
    ).orderBy("id_a", "id_b")


# ------------------------------------------------------------------
# docs_dup_spans — duplicate-substring coverage per document
# ------------------------------------------------------------------

_SPAN_W = 50

DOCS_DUP_SPANS_ORACLE = f"""
WITH pos AS (
    SELECT doc_id, i, md5(substr(text, i, {_SPAN_W})) AS w
    FROM (
        SELECT doc_id, text,
               unnest(generate_series(1,
                   CASE WHEN length(text) >= {_SPAN_W}
                        THEN length(text) - {_SPAN_W - 1} ELSE 0 END)) AS i
        FROM documents
    )
),
dup AS (SELECT w FROM pos GROUP BY w HAVING COUNT(*) >= 2),
dpos AS (SELECT p.doc_id, p.i FROM pos p JOIN dup d USING (w)),
marked AS (
    SELECT doc_id, i,
           CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i ASC) > {_SPAN_W}
                THEN 1 ELSE 0 END AS new_s
    FROM dpos
),
isl AS (
    SELECT doc_id, i,
           SUM(new_s) OVER (PARTITION BY doc_id ORDER BY i ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
    FROM marked
),
spans AS (
    SELECT doc_id, g, MIN(i) AS lo, MAX(i) AS hi, COUNT(*) AS np
    FROM isl GROUP BY doc_id, g
),
cov AS (
    SELECT doc_id,
           CAST(SUM(np) AS BIGINT) AS n_dup_positions,
           CAST(SUM(hi + {_SPAN_W} - lo) AS BIGINT) AS dup_chars
    FROM spans GROUP BY doc_id
)
SELECT c.doc_id AS doc_id, n_dup_positions, dup_chars,
       CAST(dup_chars AS DOUBLE) / CAST(d.n_chars AS DOUBLE) AS dup_frac
FROM cov c JOIN documents d ON c.doc_id = d.doc_id
ORDER BY c.doc_id ASC
"""


@register("docs_dup_spans", oracle=DOCS_DUP_SPANS_ORACLE, headline=True)
def docs_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-granular duplicate-text audit (operators/dedup.py
    dup_span_coverage — the Lee et al. 2022 ExactSubstr signal at
    {w}-char windows): per document, the positions whose {w}-char
    window occurs anywhere else in the corpus, merged into maximal
    spans (interval union), with covered-character count and coverage
    fraction. This is the signal that separates "drop the whole doc"
    (high coverage) from "redact the copied span" (low coverage,
    long span) — doc-level near-dup scores cannot make that call.

    Scale shape (the REGISTERED production shape): position enumeration is row-local; ONE shuffle keyed on
    unhex(md5(window)) — a fixed 16-byte binary instead of the
    {w}-char substring, same equivalence classes (128-bit: ~1e-15
    expected collisions at 10^12 windows, so no confirm pass), and
    the DuckDB oracle replays the identical classes via
    md5(substr(...)); span merge is a per-doc lag+cumsum at
    duplicated-position cardinality.""".format(w=_SPAN_W)
    from lakehouse_architecture_transaction_spark.operators.dedup import dup_span_coverage

    docs = load_table(spark, sf_dir, "documents", spread=True)
    cov = dup_span_coverage(docs, text_col="text", id_col="doc_id", window=_SPAN_W)
    return (
        cov.join(docs.select("doc_id", "n_chars"), "doc_id")
        .select(
            "doc_id",
            "n_dup_positions",
            "dup_chars",
            (F.col("dup_chars").cast("double") / F.col("n_chars").cast("double")).alias(
                "dup_frac"
            ),
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# docs_split_leakage — near-dup pairs straddling the train/val split
# ------------------------------------------------------------------

def _split_leakage_oracle() -> str:
    pairs_sql = _minhash_oracle().format(cap=_BUCKET_CAP)
    return f"""
    WITH pairs AS ({pairs_sql}),
    spl AS (
        SELECT doc_id,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   (('0x' || substr(md5('split-v1' || '-' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT) % 10000 AS bucket
            FROM documents
        )
    ),
    cl AS (
        SELECT p.id_a, p.id_b,
               least(a.split, b.split) AS split_a,
               greatest(a.split, b.split) AS split_b
        FROM pairs p
        JOIN spl a ON p.id_a = a.doc_id
        JOIN spl b ON p.id_b = b.doc_id
    ),
    np AS (SELECT split_a, split_b, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM cl GROUP BY 1, 2),
    lg AS (
        SELECT split_a, split_b, id_a AS doc FROM cl
        UNION ALL
        SELECT split_a, split_b, id_b FROM cl
    ),
    nd AS (SELECT split_a, split_b, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs FROM lg GROUP BY 1, 2)
    SELECT np.split_a, np.split_b, np.n_pairs, nd.n_docs
    FROM np JOIN nd USING (split_a, split_b)
    ORDER BY split_a ASC, split_b ASC
    """


DOCS_SPLIT_LEAKAGE_ORACLE = _split_leakage_oracle()


@register("docs_split_leakage", oracle=DOCS_SPLIT_LEAKAGE_ORACLE, headline=True)
def docs_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination audit: MinHash-LSH near-dup candidate pairs
    classified by which train/val/test splits their endpoints landed
    in (hash_split, salt 'split-v1' — the SAME split every training
    query uses). A ('train','val') or ('train','test') row means the
    held-out set contains near-copies of training documents — the
    leakage that silently inflates eval scores; the n_docs column is
    how many distinct documents sit in each class. Composes the two
    session-memoized frames (candidate pairs, split assignment), so a
    session that already ran the dedup or split queries pays nothing
    new for the audit.

    Scale shape: the pair frame is the capped LSH miner's output
    (bucket-capped, never all-pairs); two id-keyed joins against the
    split frame; both aggregates run at pair/class cardinality. The
    classed frame is localCheckpoint-ed — two branches (pair counts,
    distinct-doc counts) must not re-run the join per branch."""
    from lakehouse_architecture_transaction_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents", spread=True)
    splits = hash_split(
        docs.select("doc_id"), id_col="doc_id", weights={"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")
    pairs = _cand_pairs_frame(spark, sf_dir)
    sa = splits.select(F.col("doc_id").alias("id_a"), F.col("split").alias("__spa"))
    sb = splits.select(F.col("doc_id").alias("id_b"), F.col("split").alias("__spb"))
    classed = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.least("__spa", "__spb").alias("split_a"),
            F.greatest("__spa", "__spb").alias("split_b"),
        )
        .localCheckpoint(eager=True)
    )
    n_pairs = classed.groupBy("split_a", "split_b").agg(
        F.count("*").cast("bigint").alias("n_pairs")
    )
    long_ = classed.select("split_a", "split_b", F.col("id_a").alias("doc")).unionAll(
        classed.select("split_a", "split_b", F.col("id_b").alias("doc"))
    )
    n_docs = long_.groupBy("split_a", "split_b").agg(
        F.countDistinct("doc").cast("bigint").alias("n_docs")
    )
    return n_pairs.join(n_docs, ["split_a", "split_b"]).orderBy("split_a", "split_b")


# ------------------------------------------------------------------
# emb_pair_sim_histogram — bucket pairs vs shifted-pair baseline
# ------------------------------------------------------------------

_HIST_BITS = 4
_HIST_CAP = 24


def _pair_hist_oracle() -> str:
    return f"""
    WITH b0 AS (
        SELECT vec_id, embedding,
               array_to_string(list_transform(embedding[1:{_HIST_BITS}],
                   x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bkt,
               {_N2_FOLD} AS n2
        FROM embeddings
    ),
    b AS (
        SELECT vec_id, embedding, bkt, n2 FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY bkt ORDER BY vec_id ASC) AS bn FROM b0
        ) WHERE bn <= {_HIST_CAP}
    ),
    bucket_cos AS (
        SELECT {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id < c.vec_id
    ),
    d AS (SELECT (MAX(vec_id) + 1) // 2 AS shift FROM embeddings),
    e AS (SELECT vec_id, embedding, {_N2_FOLD} AS n2 FROM embeddings),
    shifted_cos AS (
        SELECT {_DOT_FOLD} / (sqrt(q.n2) * sqrt(c.n2)) AS cosine
        FROM e q JOIN e c ON c.vec_id = q.vec_id + (SELECT shift FROM d)
    ),
    u AS (
        SELECT 'lsh_bucket' AS population, cosine FROM bucket_cos
        UNION ALL
        SELECT 'shifted' AS population, cosine FROM shifted_cos
    )
    SELECT population, CAST(floor(cosine * 10) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY 1, 2
    ORDER BY population ASC, bin ASC
    """


EMB_PAIR_SIM_HISTOGRAM_ORACLE = _pair_hist_oracle()


@register("emb_pair_sim_histogram", oracle=EMB_PAIR_SIM_HISTOGRAM_ORACLE, headline=True)
def emb_pair_sim_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine-similarity histograms (bin width 0.1) for two pair
    populations: same-sign-LSH-bucket pairs (the dedup/ANN candidate
    generator's output, capped per bucket) vs a deterministic
    structure-free baseline (each vector paired with the one
    max_id/2 ids away). If bucketing works, the bucket histogram
    sits visibly right of the baseline — the
    does-my-candidate-generator-actually-concentrate-similarity QA
    that should be read before trusting any LSH recall number.
    Cosines are the shared deterministic double fold, so bin edges
    cannot flake across engines.

    Scale shape: bucket pairs come from the one shared capped pair
    miner (never all-pairs); the baseline is an id-shifted self-join
    (one shuffle at corpus cardinality); histograms aggregate at
    population×21-bin cardinality with map-side combine."""
    from lakehouse_architecture_transaction_spark.operators.similarity import (
        cosine_dup_pairs,
        dot_expr,
        norm2_expr,
    )

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    bucket = cosine_dup_pairs(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        threshold=-1.0,
        bits=_HIST_BITS,
        bucket_cap=_HIST_CAP,
    ).select(F.lit("lsh_bucket").alias("population"), "cosine")
    # Three baseline branches (query side, candidate side, shift
    # aggregate) consume the normed corpus — materialize it once
    # instead of re-scanning the embeddings per branch.
    e = emb.select(
        "vec_id", "embedding", norm2_expr("embedding").alias("__n2")
    ).localCheckpoint(eager=True)
    shift = e.agg(F.expr("(MAX(vec_id) + 1) div 2").alias("shift"))
    q = e.select(
        F.col("vec_id"), F.col("embedding").alias("__qe"), F.col("__n2").alias("__qn")
    ).crossJoin(F.broadcast(shift))
    c = e.select(
        F.col("vec_id").alias("__cid"),
        F.col("embedding").alias("__ce"),
        F.col("__n2").alias("__cn"),
    )
    shifted = (
        q.join(c, q["vec_id"] + q["shift"] == c["__cid"])
        .select(
            F.lit("shifted").alias("population"),
            (dot_expr("__qe", "__ce") / (F.sqrt("__qn") * F.sqrt("__cn"))).alias("cosine"),
        )
    )
    return (
        bucket.unionByName(shifted)
        .groupBy("population", F.floor(F.col("cosine") * 10).cast("bigint").alias("bin"))
        .agg(F.count("*").cast("bigint").alias("n_pairs"))
        .orderBy("population", "bin")
    )
