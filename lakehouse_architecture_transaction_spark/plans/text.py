"""Text analysis and curation over the documents table.

The shared tokenization, stop-word and shingling SQL fragments the
dedup oracles also use; token, character and script statistics;
TF-IDF, vocabularies, distinctive terms and vocabulary growth; n-gram
LMs and familiarity; rolling hashes and winnowing; character and
sentence chunking and sequence packing; language ID; PII redaction;
quality scoring (heuristic, Gopher rules, algebraic logistic and its
calibration) and the composed curation pipeline; hash embeddings; BPE.

Every probabilistic value is md5-derived, every sum that feeds a
double crosses the boundary from exact BIGINT/DECIMAL, no intermediate
exceeds int64 (DuckDB's HUGEINT→DOUBLE is not correctly rounded), and
every ordering carries a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.operators import dedup as D
from lakehouse_architecture_transaction_spark.operators import sampling as SA
from lakehouse_architecture_transaction_spark.operators import text as T
from lakehouse_architecture_transaction_spark.plans.registry import register
from lakehouse_architecture_transaction_spark.session import session_memo

# ----------------------------------------------------------- SQL lego

_TOKENS = "list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')"


_H32 = "(('0x' || substr(md5({x}), 1, 8))::BIGINT)"


def _shingle_sql(tk: str, n: int) -> str:
    return (
        f"list_distinct(CASE WHEN len({tk}) < {n} THEN [] ELSE "
        f"list_transform(generate_series(1, len({tk}) - {n - 1}), "
        f"i -> array_to_string({tk}[i:i+{n - 1}], ' ')) END)"
    )


_DOC_SHINGLES = f"""
    tok AS (SELECT doc_id, {_TOKENS} AS tk FROM documents),
    sh AS (SELECT doc_id, unnest({_shingle_sql('tk', 3)}) AS shingle FROM tok),
    hx AS (SELECT doc_id, {_H32.format(x='shingle')} AS h FROM sh)
"""


@register(
    "docs_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lower(unnest({_TOKENS})) AS term FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf * (n.n_docs + 1) AS DOUBLE) / (dfreq.df + 1) AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, CAST(rank AS INTEGER) AS rank, term, tf, df, score FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
        FROM scored
    ) WHERE rank <= 3
    ORDER BY doc_id ASC, rank ASC
    """,
    headline=True,
)
def docs_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per doc by RATIONAL tf-idf
    (operators/text.py tfidf_top_terms): score = tf·(N+1)/(df+1) —
    monotone-equivalent to log-idf ranking without the cross-engine
    libm hazard."""
    docs = load_table(spark, sf_dir, "documents")
    return T.tfidf_top_terms(docs, id_col="doc_id", text_col="text", k=3).orderBy("doc_id", "rank")


@register(
    "docs_vocabulary",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lower(unnest({_TOKENS})) AS token FROM documents)
    SELECT token, COUNT(*) AS n_occurrences, COUNT(DISTINCT doc_id) AS n_docs
    FROM tok
    GROUP BY token
    ORDER BY n_occurrences DESC, token ASC
    LIMIT 50
    """,
    headline=True,
)
def docs_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary (operators/text.py vocabulary): top-50 tokens
    by occurrence with doc frequency — the wordcount shape with
    map-side combine and a deterministic top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return T.vocabulary(docs, id_col="doc_id", text_col="text", k=50)


_LOWER_TOKENS = f"list_transform({_TOKENS}, t -> lower(t))"


@register(
    "docs_repetition_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_LOWER_TOKENS} AS tk FROM documents),
    m AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(tk)) AS BIGINT) AS n_distinct,
               CAST(COALESCE(list_max(list_transform(list_distinct(tk),
                    d -> len(list_filter(tk, t -> t = d)))), 0) AS BIGINT) AS top_count,
               CASE WHEN len(tk) < 2 THEN [] ELSE
                   list_transform(generate_series(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1])
               END AS bg
        FROM tok
    )
    SELECT doc_id, n_tokens, n_distinct,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(n_distinct AS DOUBLE) / n_tokens END AS distinct_ratio,
           CASE WHEN n_tokens = 0 THEN 0.0 ELSE CAST(top_count AS DOUBLE) / n_tokens END AS top_token_share,
           CASE WHEN len(bg) = 0 THEN 0.0
                ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END AS rep_bigram_ratio
    FROM m
    ORDER BY doc_id ASC
    """,
)
def docs_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition filters (operators/text.py repetition_stats): the
    MassiveText/Gopher within-doc signals — distinct-token ratio, top
    unigram share, repeated-bigram fraction — computed row-local with
    higher-order functions (no explode, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.repetition_stats(docs, id_col="doc_id", text_col="text").orderBy("doc_id")


@register(
    "docs_bigram_lm",
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_transform({_TOKENS}, t -> lower(t)) AS tk FROM documents),
    bg AS (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM tok, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
    ),
    counted AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2)
    SELECT w1, w2, c12,
           CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
           CAST(c12 AS DOUBLE) / CAST(SUM(c12) OVER (PARTITION BY w1) AS BIGINT) AS p
    FROM counted
    ORDER BY w1 ASC, w2 ASC
    """,
)
def docs_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram LM counts P(w2|w1) (operators/text.py bigram_lm): one
    explode, one bigram-cardinality groupBy, context counts via a
    window on the same key — corpus statistics without a second
    pass."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.bigram_lm(docs, id_col="doc_id", text_col="text")


_PACK_BUDGET = 512


@register(
    "docs_packed_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, CAST(len({_TOKENS}) AS BIGINT) AS n_tokens FROM documents),
    o AS (
        SELECT doc_id, n_tokens,
               CAST(COALESCE(SUM(n_tokens) OVER (
                   ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS start_offset
        FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           CAST(start_offset // {_PACK_BUDGET} AS BIGINT) AS seq_idx
    FROM o
    ORDER BY doc_id ASC
    """,
)
def docs_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (operators/sampling.py
    packed_sequences): docs concatenated in id order, chunked into
    512-token training sequences, each doc labeled with the sequence
    containing its start offset. The exclusive prefix sum runs
    bucketed (block window + broadcast offsets) — no global-sort
    window; the oracle states the same sum as one SQL window."""
    from lakehouse_architecture_transaction_spark.operators.sampling import packed_sequences

    docs = load_table(spark, sf_dir, "documents", spread=True)
    with_tokens = docs.select(
        "doc_id", F.size(D.tokens_expr("text")).cast("bigint").alias("n_tokens")
    )
    return (
        packed_sequences(with_tokens, id_col="doc_id", weight_col="n_tokens", budget=_PACK_BUDGET)
        .select("doc_id", "n_tokens", "start_offset", "seq_idx")
        .orderBy("doc_id")
    )


# ------------------------------------------------------- text queries


@register(
    "docs_token_stats",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS chars,
           CAST(len(tk) AS BIGINT) AS n_tokens,
           CAST(len(regexp_extract_all(text, '{T.BPE_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
           CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / greatest(len(tk), 1) AS mean_token_len
    FROM tok
    ORDER BY doc_id ASC
    """,
    headline=True,
)
def docs_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish subword count."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.token_stats(docs, id_col="doc_id", text_col="text").orderBy("doc_id")


_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in T.LEXICON["en"]) + "]"


@register(
    "docs_quality_score",
    oracle=f"""
    WITH base AS (SELECT doc_id, text, {_TOKENS} AS tk FROM documents),
    m AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / greatest(length(text), 1) AS digit_ratio,
               CAST(len(list_filter(tk, x -> list_contains({_STOPS_SQL}, lower(x)))) AS DOUBLE) / greatest(len(tk), 1) AS stop_ratio
        FROM base
    )
    SELECT *, CAST(
          (CASE WHEN chars BETWEEN 50 AND 5000 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
        + (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality
    FROM m
    ORDER BY doc_id ASC
    """,
)
def docs_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring (length / punctuation / digit /
    stopword signals)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.quality_score(docs, id_col="doc_id", text_col="text").orderBy("doc_id")


def _lex_values() -> str:
    rows = ", ".join(
        f"('{lang}', '{w}')" for lang, words in sorted(T.LEXICON.items()) for w in words
    )
    return f"(VALUES {rows})"


@register(
    "docs_langid",
    oracle=f"""
    WITH lex(lang_guess, word) AS ({_lex_values()}),
    tok AS (SELECT doc_id, lower(unnest({_TOKENS})) AS word FROM documents),
    hits AS (
        SELECT doc_id, lang_guess, COUNT(*) AS hits
        FROM tok JOIN lex USING (word) GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, lang_guess, hits FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_guess ASC) AS rn
            FROM hits
        ) WHERE rn = 1
    )
    SELECT d.doc_id, COALESCE(b.lang_guess, 'und') AS lang_guess,
           CAST(COALESCE(b.hits, 0) AS BIGINT) AS hits
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
    ORDER BY d.doc_id ASC
    """,
)
def docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-lexicon language ID with deterministic argmax."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.lang_id(spark, docs, id_col="doc_id", text_col="text").orderBy("doc_id")


@register(
    "docs_rolling_hash",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT) ELSE
               list_reduce(
                   [CAST(0 AS BIGINT)] || list_transform(
                       generate_series(1, least(length(text), 256)),
                       i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
                   (acc, c) -> (acc * {T.ROLLING_BASE} + c) % {T.ROLLING_MOD})
           END AS rhash
    FROM documents
    ORDER BY doc_id ASC
    """,
    headline=True,
)
def docs_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin–Karp rolling-hash fingerprint over the first 256 code
    points (operators/text.py rolling_hash): fixed-cost
    content-sensitive key for near-front dedup and shard routing."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.rolling_hash(docs, id_col="doc_id", text_col="text").orderBy("doc_id")


@register(
    "docs_winnowing",
    oracle=f"""
    WITH d AS (SELECT doc_id, substr(text, 1, 512) AS t FROM documents),
    c AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(length(t), 1)),
                              i -> CAST(coalesce(ascii(substr(t, i, 1)), 0) AS BIGINT)) AS cps
        FROM d
    ),
    g AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(cps) - 7, 1)),
                   j -> list_reduce(
                       [CAST(0 AS BIGINT)] || list_transform(generate_series(0, 7),
                           di -> coalesce(cps[j + di], CAST(0 AS BIGINT))),
                       (acc, x) -> (acc * {T.ROLLING_BASE} + x) % {T.ROLLING_MOD})) AS grams
        FROM c
    ),
    s AS (
        SELECT doc_id,
               list_transform(generate_series(1, greatest(len(grams) - 7, 1)),
                   j -> {{'pos': CAST(j - 1 + len(grams[j:j+7]) + 1
                              - list_position(list_reverse(grams[j:j+7]), list_min(grams[j:j+7])) AS INT),
                         'gram_hash': list_min(grams[j:j+7])}}) AS fps
        FROM g
    )
    SELECT DISTINCT doc_id, fp.pos AS pos, fp.gram_hash AS gram_hash
    FROM (SELECT doc_id, UNNEST(fps) AS fp FROM s)
    ORDER BY doc_id ASC, pos ASC, gram_hash ASC
    """,
    headline=True,
)
def docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (operators/text.py
    winnowing_fingerprints): window-min selection over Karp–Rabin
    k-gram hashes — every shared substring of length ≥ w+k-1 = 15 is
    guaranteed a common fingerprint, at ~2/(w+1) density, rightmost
    window position on ties (SIGMOD'03-faithful as of round 5). The
    oracle replays the identical selection with DuckDB list lambdas
    (row DISTINCT stands in for array_distinct — same set
    semantics)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.winnowing_fingerprints(docs, id_col="doc_id", text_col="text").orderBy(
        "doc_id", "pos", "gram_hash"
    )


# --------------------------------------- quantization / PII / chunks

_PII = {
    "email": "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "phone": "\\+1-555-[0-9]+",
}

#: Deterministic PII injection: the raw corpus is synthetic prose with
#: no PII, so the fixture plants one email per doc_id%7 and one phone
#: per doc_id%11 — making the counts and redaction non-trivial while
#: both engines build the identical augmented text.
_PII_AUG_SPARK = (
    "concat(text,"
    " CASE WHEN doc_id % 7 = 0 THEN concat(' contact user', CAST(doc_id AS STRING), '@example.com now') ELSE '' END,"
    " CASE WHEN doc_id % 11 = 0 THEN concat(' call +1-555-', CAST(doc_id AS STRING), ' today') ELSE '' END)"
)
_PII_AUG_DUCK = (
    "text ||"
    " (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END) ||"
    " (CASE WHEN doc_id % 11 = 0 THEN ' call +1-555-' || CAST(doc_id AS VARCHAR) || ' today' ELSE '' END)"
)


@register(
    "docs_pii_redaction",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_PII_AUG_DUCK} AS t FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_PII["email"]}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t, '{_PII["phone"]}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(regexp_replace(t, '{_PII["email"]}', '<EMAIL>', 'g'),
               '{_PII["phone"]}', '<PHONE>', 'g')) AS redacted_md5
    FROM aug ORDER BY doc_id ASC
    """,
)
def docs_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (operators/text.py redact_pii): count + redact
    emails and phone numbers. Pure map-side regex pass — the filter
    shape every compliance-scrub of a 100 TB crawl runs. Patterns live
    in the Java∩RE2 common dialect so the oracle is byte-identical."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    aug = docs.select("doc_id", F.expr(_PII_AUG_SPARK).alias("text"))
    return T.redact_pii(aug, id_col="doc_id", text_col="text", patterns=_PII).orderBy("doc_id")


_CHUNK_SIZE, _CHUNK_STRIDE = 256, 224


@register(
    "docs_char_chunks",
    oracle=f"""
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
           CAST(start AS INTEGER) AS start,
           CAST(length(substr(text, start, {_CHUNK_SIZE})) AS INTEGER) AS chunk_chars,
           md5(substr(text, start, {_CHUNK_SIZE})) AS chunk_md5
    FROM (SELECT doc_id, text,
                 unnest(generate_series(1, greatest(length(text), 1), {_CHUNK_STRIDE})) AS start
          FROM documents)
    ORDER BY doc_id ASC, chunk_idx ASC
    """,
    headline=True,
)
def docs_char_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (operators/text.py
    char_chunks): the context-window splitter. Emits chunk hashes,
    not text — narrow rows for downstream chunk-level dedup."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.char_chunks(
        docs, id_col="doc_id", text_col="text", size=_CHUNK_SIZE, stride=_CHUNK_STRIDE
    ).orderBy("doc_id", "chunk_idx")


# ------------------------------------------- round-3 continuation II

_FAM_MIN_COUNT = 2


@register(
    "docs_lm_familiarity",
    oracle=f"""
    WITH tok AS (SELECT doc_id, list_transform({_TOKENS}, t -> lower(t)) AS tk FROM documents),
    bg AS (
        SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2
        FROM tok, UNNEST(generate_series(1, len(tk) - 1)) AS g(i)
    ),
    corpus AS (
        SELECT w1, w2 FROM bg GROUP BY w1, w2 HAVING COUNT(*) >= {_FAM_MIN_COUNT}
    ),
    per AS (
        SELECT b.doc_id, COUNT(*) AS n_bigrams, COUNT(c.w1) AS n_known
        FROM bg b LEFT JOIN corpus c ON b.w1 = c.w1 AND b.w2 = c.w2
        GROUP BY b.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(p.n_known, 0) AS BIGINT) AS n_known,
           CASE WHEN COALESCE(p.n_bigrams, 0) = 0 THEN 0.0
                ELSE CAST(p.n_known AS DOUBLE) / p.n_bigrams END AS familiarity
    FROM documents d LEFT JOIN per p ON d.doc_id = p.doc_id
    ORDER BY d.doc_id ASC
    """,
    headline=True,
)
def docs_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheap-perplexity quality score (operators/text.py
    lm_familiarity): fraction of each doc's bigram occurrences whose
    corpus count is >= 2 — the LM-based gibberish filter, scored
    against the corpus's own bigram statistics computed as a COUNT
    window over the (w1, w2) key on the occurrence frame itself (r15
    window form — never a broadcast model, no bigram join-back).
    Skew note: window partitions cannot be
    AQE-skew-split, so the hottest bigram ('of the'-class) bounds one
    task at its occurrence count — see the SCALE.md hot-bigram probe
    row."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.lm_familiarity(docs, id_col="doc_id", text_col="text", min_count=_FAM_MIN_COUNT)


# ------------------------------------------------------- document QA

#: power-of-two length buckets (lower bound label); CASE chains are
#: identical integer comparisons in both engines.
_LEN_BOUNDS = [64, 128, 256, 512, 1024, 2048, 4096]


def _len_bucket_sql(col: str) -> str:
    whens = " ".join(f"WHEN {col} < {b} THEN {lo}" for lo, b in zip([0] + _LEN_BOUNDS, _LEN_BOUNDS))
    return f"CASE {whens} ELSE {_LEN_BOUNDS[-1]} END"


@register(
    "docs_length_histogram",
    oracle=f"""
    WITH a AS (
        SELECT CAST({_len_bucket_sql('n_chars')} AS BIGINT) AS bucket_lo,
               COUNT(*) AS n_docs,
               MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
        FROM documents GROUP BY 1
    ),
    t AS (SELECT SUM(n_docs) AS total FROM a)
    SELECT bucket_lo, n_docs, min_chars, max_chars,
           CAST(n_docs AS DOUBLE) / t.total AS share
    FROM a, t
    ORDER BY bucket_lo ASC
    """,
)
def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the corpus length
    profile a filtering pipeline tunes its min/max-length cuts
    against. Map-side combinable CASE-bucket aggregate (constant group
    count), share via broadcast scalar total."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    a = docs.groupBy(
        F.expr(_len_bucket_sql("n_chars")).cast("bigint").alias("bucket_lo")
    ).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )
    t = a.agg(F.sum("n_docs").alias("total"))
    return (
        a.crossJoin(F.broadcast(t))
        .select(
            "bucket_lo", "n_docs", "min_chars", "max_chars",
            (F.col("n_docs").cast("double") / F.col("total")).alias("share"),
        )
        .orderBy("bucket_lo")
    )


@register(
    "docs_char_class_profile",
    oracle=f"""
    WITH m AS (
        SELECT source,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS digits,
               CAST(len(regexp_extract_all(text, ' ')) AS BIGINT) AS spaces,
               CAST(len({_TOKENS}) AS BIGINT) AS toks
        FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(digits) AS DOUBLE) / SUM(chars) AS digit_ratio,
           CAST(SUM(spaces) AS DOUBLE) / SUM(chars) AS space_ratio,
           CAST(SUM(chars) AS DOUBLE) / SUM(toks) AS chars_per_token
    FROM m GROUP BY source
    ORDER BY source ASC
    """,
)
def docs_char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class profile (digit/space ratios, chars
    per token) — the source-level QA table that flags machine-generated
    or mis-encoded feeds before they enter the training mix. Row-local
    counting, source-cardinality aggregate, ratios as single divisions
    of exact BIGINT sums."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    m = docs.select(
        "source",
        F.length("text").cast("bigint").alias("chars"),
        F.expr("size(regexp_extract_all(text, '[0-9]', 0))").cast("bigint").alias("digits"),
        F.expr("size(regexp_extract_all(text, ' ', 0))").cast("bigint").alias("spaces"),
        F.size(D.tokens_expr("text")).cast("bigint").alias("toks"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("chars").alias("total_chars"),
            (F.sum("chars").cast("double") / F.count("*")).alias("avg_chars"),
            (F.sum("digits").cast("double") / F.sum("chars")).alias("digit_ratio"),
            (F.sum("spaces").cast("double") / F.sum("chars")).alias("space_ratio"),
            (F.sum("chars").cast("double") / F.sum("toks")).alias("chars_per_token"),
        )
        .orderBy("source")
    )


_TOP_Q = 2
_Q_SALTS = 8


@register(
    "docs_top_quality_per_source",
    oracle=f"""
    WITH base AS (SELECT doc_id, source, text, {_TOKENS} AS tk FROM documents),
    m AS (
        SELECT doc_id, source,
               CAST(length(text) AS BIGINT) AS chars,
               CAST(len(tk) AS BIGINT) AS n_tokens,
               CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) / greatest(length(text), 1) AS punct_ratio,
               CAST(len(list_filter(tk, x -> list_contains({_STOPS_SQL}, lower(x)))) AS DOUBLE) / greatest(len(tk), 1) AS stop_ratio
        FROM base
    ),
    q AS (
        SELECT doc_id, source, CAST(
              (CASE WHEN chars BETWEEN 50 AND 5000 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)
            + (CASE WHEN n_tokens BETWEEN 10 AND 2000 THEN 0.25 ELSE 0.0 END) AS DOUBLE) AS quality
        FROM m
    )
    SELECT source, doc_id, quality, CAST(rn AS BIGINT) AS rank
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id ASC) AS rn
        FROM q
    ) WHERE rn <= {_TOP_Q}
    ORDER BY source ASC, rank ASC
    """,
    headline=True,
)
def docs_top_quality_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 quality docs per source, computed in TWO salted phases:
    per-(source, doc_id mod 8) top-2, then top-2 of the ≤8·2
    survivors per source. Identical to a direct per-source window under
    the total (quality desc, doc_id asc) order, but no single task ever
    sees more than 1/8 of a source — low-cardinality group top-k is
    the classic window skew trap at 100 TB."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    quality = T.quality_score(docs, id_col="doc_id", text_col="text").select("doc_id", "quality")
    q = quality.join(docs.select("doc_id", "source"), on="doc_id")
    w1 = Window.partitionBy("source", F.expr(f"doc_id % {_Q_SALTS}")).orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    w2 = Window.partitionBy("source").orderBy(F.col("quality").desc(), F.col("doc_id").asc())
    return (
        q.withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= _TOP_Q)
        .withColumn("rank", F.row_number().over(w2).cast("bigint"))
        .filter(F.col("rank") <= _TOP_Q)
        .select("source", "doc_id", "quality", "rank")
        .orderBy("source", "rank")
    )


@register(
    "docs_rare_shingle_score",
    oracle=f"""
    WITH {_DOC_SHINGLES},
    d AS (SELECT doc_id, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df FROM sh)
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
           CAST(SUM(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_ratio
    FROM d GROUP BY doc_id
    ORDER BY doc_id ASC
    """,
    headline=True,
)
def docs_rare_shingle_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty score per doc: fraction of its distinct 3-gram shingles
    that are corpus-rare (df ≤ 2) — high means fresh content, low
    means the doc restates what the corpus already covers. Shuffle
    keyed on the shingle for df, then re-aggregate on the doc — the
    exact integer-ratio cousin of tf-idf (no logs, cross-engine
    exact)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", D.tokens_expr("text").alias("__tk"))
    sh = toks.select("doc_id", F.explode(D.shingle_expr(F.col("__tk"), 3)).alias("shingle"))
    d = sh.withColumn("df", F.count("*").over(Window.partitionBy("shingle")))
    rare = F.when(F.col("df") <= 2, 1).otherwise(0)
    return (
        d.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(rare).alias("n_rare"),
            (F.sum(rare).cast("double") / F.count("*")).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


_SENT_BUDGET = 256


@register(
    "docs_sentence_chunks",
    oracle=f"""
    WITH m AS (
        SELECT doc_id,
               string_split(regexp_replace(text, '([.!?]) ', '\\1' || chr(1), 'g'), chr(1)) AS sents
        FROM documents
    ),
    s AS (
        SELECT doc_id, generate_subscripts(sents, 1) - 1 AS pos,
               CAST(length(unnest(sents)) AS BIGINT) AS len
        FROM m
    ),
    c AS (
        SELECT doc_id, pos, len,
               SUM(len + 1) OVER (PARTITION BY doc_id ORDER BY pos ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - (len + 1) AS start
        FROM s
    )
    SELECT doc_id, CAST(start // {_SENT_BUDGET} AS INTEGER) AS chunk_idx,
           COUNT(*) AS n_sentences, CAST(SUM(len) AS BIGINT) AS n_chars,
           CAST(MIN(pos) AS INTEGER) AS first_sentence
    FROM c
    GROUP BY doc_id, CAST(start // {_SENT_BUDGET} AS INTEGER)
    ORDER BY doc_id ASC, chunk_idx ASC
    """,
    headline=True,
)
def docs_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware chunking (operators/text.py sentence_chunks):
    heuristic sentence segmentation + fixed-budget offset packing —
    the RAG/context-window splitter that never cuts mid-sentence,
    unlike docs_char_chunks. One doc-keyed prefix-sum window and one
    same-key aggregate; segmentation is row-local sentinel-inject +
    split (no look-behind, so the RE2-based oracle replays it
    exactly)."""
    from lakehouse_architecture_transaction_spark.operators.text import sentence_chunks

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return sentence_chunks(docs, id_col="doc_id", text_col="text", budget=_SENT_BUDGET).orderBy(
        "doc_id", "chunk_idx"
    )


_HE_DIM = 16  # hash_embed width for the registered query


@register(
    "docs_hash_embed",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({_TOKENS}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id,
               (('0x' || substr(md5(t), 1, 8))::BIGINT) % {_HE_DIM} AS bkt,
               CASE WHEN (('0x' || substr(md5(t || '#s'), 1, 8))::BIGINT) % 2 = 0
                    THEN 1 ELSE -1 END AS sgn
        FROM tok
    ),
    c AS (SELECT doc_id, bkt, CAST(SUM(sgn) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
    dense AS (
        SELECT d.doc_id, g.i, coalesce(c.cnt, 0) AS cnt
        FROM (SELECT DISTINCT doc_id FROM c) d
        CROSS JOIN (SELECT unnest(generate_series(0, {_HE_DIM - 1})) AS i) g
        LEFT JOIN c ON c.doc_id = d.doc_id AND c.bkt = g.i
    ),
    nrm AS (
        SELECT doc_id,
               sqrt(CAST(CAST(SUM(cnt * cnt) AS BIGINT) AS DOUBLE)) AS n2
        FROM dense GROUP BY doc_id
    )
    SELECT dense.doc_id, CAST(dense.i AS INTEGER) AS dim_idx,
           CAST(cnt AS DOUBLE) / (CASE WHEN n2 = 0.0 THEN 1.0 ELSE n2 END) AS v
    FROM dense JOIN nrm USING (doc_id)
    ORDER BY doc_id ASC, dim_idx ASC
    """,
    headline=True,
)
def docs_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashed document embeddings (operators/text.py
    hash_embed — Weinberger et al.'s hashing trick), emitted flat
    (doc_id, dim_idx, v) so every vector element is value-hashed by
    the gate. Bucket counts are exact BIGINT sums and the norm is one
    sqrt of an exact integer, so the md5-h32 oracle replays the
    vector bit-for-bit. One (id, bucket)-keyed shuffle with map-side
    combine + the per-doc pack — dim is constant, so state per doc is
    dim longs regardless of corpus size."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    emb = T.hash_embed(docs, "doc_id", "text", dim=_HE_DIM)
    return (
        emb.select("doc_id", F.posexplode("embedding").alias("dim_idx", "v"))
        .select("doc_id", F.col("dim_idx").cast("int").alias("dim_idx"), "v")
        .orderBy("doc_id", "dim_idx")
    )


def _quality_logistic_oracle() -> str:
    w = T.QUALITY_WEIGHTS
    return f"""
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
               {w["bias"]} + CAST(chars AS DOUBLE) * {w["chars"]}
             + CAST(n_tokens AS DOUBLE) * {w["n_tokens"]}
             + punct_ratio * {w["punct_ratio"]}
             + digit_ratio * {w["digit_ratio"]}
             + stop_ratio * {w["stop_ratio"]} AS raw_score
        FROM m
    )
    SELECT doc_id, raw_score,
           0.5 + 0.5 * raw_score / (1.0 + abs(raw_score)) AS quality_p
    FROM s ORDER BY doc_id ASC
    """


@register("docs_quality_logistic", oracle=_quality_logistic_oracle())
def docs_quality_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering stand-in (operators/text.py
    quality_logistic_score): a fixed linear model over the
    quality_score features squashed with the ALGEBRAIC sigmoid
    0.5 + 0.5·s/(1+|s|) — only +,*,/,abs, all correctly rounded, so
    the score replays bit-for-bit cross-engine where exp() cannot.
    Row-local, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.quality_logistic_score(docs, "doc_id", "text").orderBy("doc_id")


def _script_profile_oracle() -> str:
    ratio_sql = ", ".join(
        f"CAST(len(regexp_extract_all(text, '[{rng}]')) AS DOUBLE) / greatest(length(text), 1)"
        f" AS {name}_ratio"
        for name, rng in T.SCRIPT_RANGES.items()
    )
    total = " + ".join(f"{name}_ratio" for name in T.SCRIPT_RANGES)
    names = ", ".join(f"{n}_ratio" for n in T.SCRIPT_RANGES)
    return f"""
    WITH m AS (
        SELECT doc_id, CAST(length(text) AS BIGINT) AS chars, length(text) AS ln, {ratio_sql}
        FROM documents
    )
    SELECT doc_id, chars, {names},
           CASE WHEN ln = 0 THEN 0.0 ELSE 1.0 - ({total}) END AS other_ratio
    FROM m ORDER BY doc_id ASC
    """


@register("docs_script_profile", oracle=_script_profile_oracle())
def docs_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unicode-script profile (operators/text.py
    script_profile): latin/digit/cyrillic/cjk/arabic character ratios
    over explicit BMP ranges (portable to any RE2-class engine — no
    \\p properties) plus the `other_ratio` remainder. The curation
    signal that catches mixed-script spam and mojibake before a
    model-based language ID. Row-local, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.script_profile(docs, "doc_id", "text").orderBy("doc_id")


def _gopher_oracle() -> str:
    b = T.GOPHER_BOUNDS
    return f"""
    WITH base AS (
        SELECT doc_id, text, {_TOKENS} AS tk, string_split(text, chr(10)) AS ln
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(tk) AS BIGINT) AS n_words,
               CAST(CASE WHEN len(tk) = 0 THEN 0 ELSE
                    list_reduce(list_transform(tk, t -> CAST(length(t) AS BIGINT)),
                                (a, x) -> a + x) END AS DOUBLE)
                   / greatest(len(tk), 1) AS mean_word_len,
               CAST(CAST(len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS DOUBLE)
                   / greatest(len(tk), 1) AS symbol_ratio,
               CAST(CAST(len(list_filter(ln, l -> regexp_matches(l, '^\\s*[-*•]'))) AS BIGINT) AS DOUBLE)
                   / greatest(len(ln), 1) AS bullet_ratio,
               CAST(CAST(len(list_filter(tk, t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS DOUBLE)
                   / greatest(len(tk), 1) AS alpha_word_ratio,
               CAST(len(list_filter({_STOPS_SQL},
                    s -> list_contains(list_transform(tk, t -> lower(t)), s))) AS BIGINT) AS n_stop_hits
        FROM base
    )
    SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
           alpha_word_ratio, n_stop_hits,
           CAST(CASE WHEN n_words >= {b["min_words"]} AND n_words <= {b["max_words"]}
                      AND mean_word_len >= {b["min_mean_word_len"]}
                      AND mean_word_len <= {b["max_mean_word_len"]}
                      AND symbol_ratio <= {b["max_symbol_ratio"]}
                      AND bullet_ratio <= {b["max_bullet_ratio"]}
                      AND alpha_word_ratio >= {b["min_alpha_word_ratio"]}
                      AND n_stop_hits >= {b["min_stop_hits"]}
                THEN 1 ELSE 0 END AS BIGINT) AS passes_gopher
    FROM m ORDER BY doc_id ASC
    """


@register("docs_gopher_quality", oracle=_gopher_oracle(), headline=True)
def docs_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality filter (operators/text.py
    gopher_quality_flags — Rae et al. 2021 table-A1 subset): word
    count, mean word length, symbol-to-word, bullet-line fraction,
    alphabetic-word fraction, ≥2-distinct-stopword test, plus the
    combined 0/1 verdict — the classic pre-model curation gate,
    emitted with per-rule measurements so rejections are auditable.
    Exact-integer numerators, one double division per ratio —
    map-only over the corpus, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    return T.gopher_quality_flags(docs, "doc_id", "text").orderBy("doc_id")


_CUR_FOLDS = 5

# The composition oracle reuses the registered gopher stage's oracle
# verbatim (same discipline as the preview test): gopher survivors →
# md5(text) min-doc_id dedup → deterministic fold hash → one aggregate.
CURATION_PIPELINE_ORACLE = f"""
WITH gq AS ({_gopher_oracle()}),
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


@register("docs_curation_pipeline", oracle=CURATION_PIPELINE_ORACLE, headline=True)
def docs_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation pipeline as ONE declarative query:
    Gopher rule filter → exact dedup (md5 text groups, min-id keeps) →
    group-coherent fold assignment → per-(fold, source) corpus stats.
    This is the composition story: every stage is an existing operator
    (gopher_quality_flags, md5 keep-best, grouped_fold_assign), chained
    lazily so Catalyst sees one plan — filters before the dedup
    shuffle, the fold hash row-local, ONE aggregate at the end.

    Scale shape: the only shuffles are the md5-keyed dedup aggregate
    and the final (fold, source) aggregate; everything else is
    map-only over the corpus."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    # keep= passthrough: flags computed NEXT TO the document columns in
    # one map-only pass — the join-back form re-scanned the corpus per
    # plan branch (Spark replicates unshared subtrees)
    kept = (
        T.gopher_quality_flags(docs, "doc_id", "text", keep=["source", "text"])
        .filter(F.col("passes_gopher") == 1)
        .select("doc_id", "source", "text")
    )
    w = Window.partitionBy(F.md5("text")).orderBy(F.col("doc_id").asc())
    deduped = kept.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    folded = SA.grouped_fold_assign(deduped, "source", k=_CUR_FOLDS)
    return (
        folded.groupBy("fold", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("total_chars"),
        )
        .orderBy("fold", "source")
    )


CHAR_DIVERSITY_ORACLE = """
WITH ch AS (
    SELECT doc_id, unnest(string_split(text, '')) AS c FROM documents
),
hist AS (
    SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM ch GROUP BY 1, 2
),
agg AS (
    SELECT doc_id,
           CAST(SUM(cnt) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS distinct_chars,
           CAST(SUM(cnt * cnt) AS BIGINT) AS sq
    FROM hist GROUP BY 1
)
SELECT doc_id, n_chars, distinct_chars,
       1.0 - CAST(sq AS DOUBLE) / (CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE))
           AS simpson_diversity,
       (CAST(n_chars AS DOUBLE) * CAST(n_chars AS DOUBLE)) / CAST(sq AS DOUBLE)
           AS effective_alphabet
FROM agg
ORDER BY doc_id ASC
"""


@register("docs_char_diversity", oracle=CHAR_DIVERSITY_ORACLE, headline=True)
def docs_char_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character diversity: Simpson index 1 − Σp² and the
    effective alphabet size 1/Σp² (inverse Simpson) — the log-free
    entropy surrogate (ln() is a libm call with no cross-engine bit
    guarantee — same reasoning as text.py's rational idf), so both
    stats are single fixed chains over exact BIGINT counts. Low
    effective alphabet flags key-mash/repetition docs the
    length-based filters miss.

    Scale shape: char explode is row-local (shuffle carries only the
    (doc, char) histogram, ≤ alphabet-size rows per doc — two
    map-side-combined aggregates at histogram then doc cardinality).
    Char split is UTF-16/UTF-8-agnostic on this corpus (BMP-only; the
    plan asserts nothing about supplementary planes)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    hist = (
        docs.select("doc_id", F.explode(F.split(F.col("text"), "")).alias("c"))
        .filter(F.col("c") != "")  # Java split keeps a trailing empty match; DuckDB doesn't
        .groupBy("doc_id", "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    agg = hist.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars"),
        F.count("*").cast("bigint").alias("distinct_chars"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("sq"),
    )
    n2 = F.col("n_chars").cast("double") * F.col("n_chars").cast("double")
    return agg.select(
        "doc_id",
        "n_chars",
        "distinct_chars",
        (F.lit(1.0) - F.col("sq").cast("double") / n2).alias("simpson_diversity"),
        (n2 / F.col("sq").cast("double")).alias("effective_alphabet"),
    ).orderBy("doc_id")


# ------------------------------------------------------------------
# docs_vocab_growth — Heaps-law vocabulary growth curve
# ------------------------------------------------------------------

DOCS_VOCAB_GROWTH_ORACLE = f"""
WITH mx AS (SELECT MAX(doc_id) AS max_id FROM documents),
cuts AS (
    SELECT i AS ckpt, (max_id * i) // 8 AS cut_doc_id
    FROM mx, (SELECT unnest(generate_series(1, 8)) AS i)
),
pd AS (SELECT doc_id, len({_LOWER_TOKENS}) AS n_tok FROM documents),
nd AS (
    SELECT c.ckpt, c.cut_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens
    FROM pd JOIN cuts c ON pd.doc_id <= c.cut_doc_id
    GROUP BY 1, 2
),
fo AS (
    SELECT tok, MIN(doc_id) AS first_doc
    FROM (SELECT doc_id, unnest({_LOWER_TOKENS}) AS tok FROM documents)
    GROUP BY 1
),
vd AS (
    SELECT c.ckpt, CAST(COUNT(*) AS BIGINT) AS n_distinct_tokens
    FROM fo JOIN cuts c ON fo.first_doc <= c.cut_doc_id
    GROUP BY 1
)
SELECT CAST(nd.ckpt AS BIGINT) AS ckpt, nd.cut_doc_id AS cut_doc_id,
       n_docs, n_tokens,
       CAST(COALESCE(vd.n_distinct_tokens, 0) AS BIGINT) AS n_distinct_tokens,
       CASE WHEN n_tokens > 0
            THEN CAST(COALESCE(vd.n_distinct_tokens, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS type_token_ratio
FROM nd LEFT JOIN vd ON nd.ckpt = vd.ckpt
ORDER BY ckpt ASC
"""


@register("docs_vocab_growth", oracle=DOCS_VOCAB_GROWTH_ORACLE, headline=True)
def docs_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth curve (operators/text.py
    vocab_growth): total vs DISTINCT lowercased tokens in the corpus
    prefix doc_id ≤ tᵢ at 8 evenly spaced cuts, with the type-token
    ratio. Sub-linear distinct growth is the healthy Heaps shape;
    near-linear growth flags unbounded novel vocabulary (OCR noise,
    IDs) and a flat curve flags heavy repetition — the triage chart
    read before training a tokenizer on a new corpus.

    Scale shape: distinct counting never rescans per cut — a token is
    in V(t) iff its min doc_id ≤ t, so ONE vocab-cardinality
    aggregate (map-side combined) serves all 8 cuts; totals are
    row-local size(); the 8-row cut frame broadcasts (and is
    localCheckpoint-ed: three branches must not re-run the max scan)."""
    from lakehouse_architecture_transaction_spark.operators.text import vocab_growth

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return vocab_growth(docs, id_col="doc_id", text_col="text", n_checkpoints=8).orderBy(
        "ckpt"
    )


# ------------------------------------------------------------------
# docs_source_distinctive_terms — per-source lift keywords
# ------------------------------------------------------------------

DOCS_DISTINCTIVE_TERMS_ORACLE = f"""
WITH st AS (
    SELECT source, tok AS token, CAST(COUNT(*) AS BIGINT) AS n_in_source
    FROM (SELECT source, unnest({_LOWER_TOKENS}) AS tok FROM documents)
    GROUP BY 1, 2
),
tg AS (SELECT token, SUM(n_in_source) AS n_in_corpus FROM st GROUP BY 1),
stt AS (SELECT source, SUM(n_in_source) AS t_s FROM st GROUP BY 1),
tot AS (SELECT SUM(n_in_source) AS big_t FROM st),
lf AS (
    SELECT st.source, st.token, st.n_in_source, tg.n_in_corpus,
           CAST(st.n_in_source * tot.big_t AS DOUBLE)
               / CAST(stt.t_s * tg.n_in_corpus AS DOUBLE) AS lift
    FROM st
    JOIN tg USING (token)
    JOIN stt USING (source)
    CROSS JOIN tot
    WHERE tg.n_in_corpus >= 5
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY lift DESC, token ASC) AS rank
    FROM lf
)
SELECT source, CAST(rank AS BIGINT) AS rank, token,
       CAST(n_in_source AS BIGINT) AS n_in_source,
       CAST(n_in_corpus AS BIGINT) AS n_in_corpus, lift
FROM r WHERE rank <= 10
ORDER BY source ASC, rank ASC
"""


@register("docs_source_distinctive_terms", oracle=DOCS_DISTINCTIVE_TERMS_ORACLE, headline=True)
def docs_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary (operators/text.py
    source_distinctive_terms): top-10 tokens per source by exact lift
    (c_s·T)/(t_s·c_corpus) — the over-representation ratio, one double
    division of exact BIGINT products (log-odds would rank identically
    but drags libm across the engine boundary). Global count < 5
    tokens are dropped so hapax noise can't own the lists. This is
    the corpus-mixture drift report: what each source contributes
    that the others don't — read next to docs_temperature_mixture
    when rebalancing a training mix.

    Scale shape: one explode into a (source, token) aggregate with
    map-side combine; the global/per-source/corpus totals are
    re-aggregations of that frame (localCheckpoint-ed — three
    consuming branches); the rank window runs per source at
    per-source vocabulary cardinality."""
    from lakehouse_architecture_transaction_spark.operators.text import (
        source_distinctive_terms,
    )

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return source_distinctive_terms(
        docs, id_col="doc_id", text_col="text", group_col="source", k=10, min_corpus_count=5
    ).orderBy("source", "rank")


# ------------------------------------------------------------------
# docs_langid_confusion — language-ID confusion matrix
# ------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    return f"""
    WITH lex(lang_guess, word) AS ({_lex_values()}),
    tok AS (SELECT doc_id, lower(unnest({_TOKENS})) AS word FROM documents),
    hits AS (
        SELECT doc_id, lang_guess, COUNT(*) AS hits
        FROM tok JOIN lex USING (word) GROUP BY 1, 2
    ),
    best AS (
        SELECT doc_id, lang_guess FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hits DESC, lang_guess ASC) AS rn
            FROM hits
        ) WHERE rn = 1
    ),
    cm AS (
        SELECT d.lang, COALESCE(b.lang_guess, 'und') AS lang_guess,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id
        GROUP BY 1, 2
    ),
    tot AS (SELECT lang, SUM(n_docs) AS n_lang FROM cm GROUP BY 1)
    SELECT cm.lang AS lang, cm.lang_guess AS lang_guess, cm.n_docs AS n_docs,
           CAST(cm.n_docs AS DOUBLE) / CAST(t.n_lang AS DOUBLE) AS row_share
    FROM cm JOIN tot t ON cm.lang = t.lang
    ORDER BY lang ASC, lang_guess ASC
    """


DOCS_LANGID_CONFUSION_ORACLE = _langid_confusion_oracle()


@register("docs_langid_confusion", oracle=DOCS_LANGID_CONFUSION_ORACLE, headline=True)
def docs_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lexicon language-ID prediction (L10,
    operators/text.py lang_id) against the corpus's labeled ``lang``
    column: (true lang, predicted lang, doc count, row-normalized
    share). The model-evaluation surface for ANY classifier-derived
    corpus column — langid here, quality or toxicity scores by the
    same pattern — read before trusting the predicted column for
    filtering decisions. The diagonal shares are per-class recall.

    Scale shape: the prediction reuses the langid plan (broadcast
    lexicon join + per-doc argmax); the matrix aggregate runs at
    langs² cardinality; the per-true-lang totals are a re-aggregation
    of the localCheckpoint-ed matrix frame (2 consuming branches),
    never a second corpus scan."""
    from lakehouse_architecture_transaction_spark.operators.text import lang_id

    docs = load_table(spark, sf_dir, "documents", spread=True)
    pred = lang_id(spark, docs, id_col="doc_id", text_col="text").select(
        "doc_id", "lang_guess"
    )
    cm = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .groupBy("lang", F.coalesce(F.col("lang_guess"), F.lit("und")).alias("lang_guess"))
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .localCheckpoint(eager=True)
    )
    tot = cm.groupBy("lang").agg(F.sum("n_docs").alias("__n_lang"))
    return (
        cm.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "lang_guess",
            "n_docs",
            (F.col("n_docs").cast("double") / F.col("__n_lang").cast("double")).alias(
                "row_share"
            ),
        )
        .orderBy("lang", "lang_guess")
    )


# ------------------------------------------------------------------
# docs_bpe_merges — the trained tokenizer merge table (rows-only)
# ------------------------------------------------------------------


#: Learned merge table, session-memoized — docs_bpe_merges and
#: docs_bpe_invariants consume the SAME 8-round training run, so
#: registering the invariant companion does not double the iterative
#: cost (house memo pattern, the signature memo in plans/dedup.py).
@session_memo
def _bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from lakehouse_architecture_transaction_spark.operators.text import bpe_learn_merges

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return bpe_learn_merges(docs, id_col="doc_id", text_col="text", n_merges=8)


@register("docs_bpe_merges", oracle=None, headline=True)
def docs_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE merge table learned from the corpus (operators/text.py
    bpe_learn_merges — Sennrich et al. 2016): 8 merges, each row
    (rank, left, right, merged, weight). Deterministic on any cluster
    (ties break pair-lexicographic), so the merge table is a stable,
    hash-checkable artifact — but the LEARNING loop (iterative argmax
    over a mutating vocabulary) is not SQL-expressible, so this entry
    registers WITHOUT an oracle (rows-only check); the full
    trainer is pinned against a from-scratch Python reference under
    hypothesis fuzzing in tests/test_properties.py, and the registered
    docs_bpe_invariants companion gives the oracle gate a VALUE-checkable
    hash over the table's engine-checkable invariants."""
    return _bpe_merges(spark, sf_dir).orderBy("rank")


# ------------------------------------------------------------------
# docs_bpe_invariants — value-checkable guard for the BPE trainer
# ------------------------------------------------------------------

#: The oracle recomputes merge #1 from first principles (one
#: pair-count argmax over the character pairs of the lowercased
#: whitespace vocabulary — the only training round that IS
#: SQL-expressible) and states the remaining invariants as the
#: constants a correct trainer must produce, so a BPE regression
#: flips the oracle hash instead of only a pytest. ASSUMPTION: the
#: corpus supports >= 8 learnable merges (n_merges is pinned at 8) —
#: true of every gate corpus (31-word vocabulary, ample pair mass,
#: trainer-pinned in pytest); a corpus whose pairs run dry earlier
#: would hash-mismatch here by design, because a sub-8 merge table
#: IS a retraining-relevant corpus change.
DOCS_BPE_INVARIANTS_ORACLE = """
WITH toks AS (
    SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS w
    FROM documents
),
words AS (
    SELECT lower(w) AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY 1
),
expanded AS (
    SELECT w, freq, unnest(range(1, length(w))) AS i FROM words WHERE length(w) >= 2
),
pairs AS (
    SELECT substr(w, CAST(i AS INT), 1) AS l,
           substr(w, CAST(i AS INT) + 1, 1) AS r,
           CAST(SUM(freq) AS BIGINT) AS weight
    FROM expanded GROUP BY 1, 2
),
best AS (SELECT l, r, weight FROM pairs ORDER BY weight DESC, l ASC, r ASC LIMIT 1)
SELECT CAST(8 AS BIGINT) AS n_merges,
       1 AS ranks_contiguous,
       1 AS compose_ok,
       1 AS weights_positive,
       1 AS weights_nonincreasing,
       (SELECT l FROM best) AS first_left,
       (SELECT r FROM best) AS first_right,
       (SELECT weight FROM best) AS first_weight,
       1 AS vocab_reconstruct_ok,
       1 AS segment_consistent,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM words) AS n_vocab,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS n_word_occurrences
"""


def _alt_cand(arr: str, i: str) -> str:
    """SQL boolean: 1-indexed position ``i`` of symbol array ``arr``
    starts the merge pair (mg.l, mg.r). IF (not AND) guards the
    out-of-bounds element_at — CASE/IF branch evaluation is the only
    laziness ANSI guarantees."""
    return (
        f"IF(({i}) < size({arr}), "
        f"element_at({arr}, ({i})) = mg.l AND element_at({arr}, ({i}) + 1) = mg.r, "
        f"false)"
    )


def _alt_act(arr: str, i: str) -> str:
    """SQL boolean: position ``i`` is an ACTIVE merge site under
    greedy left-to-right application. Adjacent candidate positions
    require s[i+1] = r AND s[i+1] = l, so candidate RUNS exist only
    when l = r; there, greedy consumption alternates, so a candidate
    is active iff its run of consecutive candidates ending at ``i``
    has odd length — computed as distance to the nearest
    non-candidate at or below ``i`` (no fold). When l != r every
    candidate is active, and the IF keeps the O(i) run scan off that
    (common) path entirely."""
    parity = (
        f"((({i}) - coalesce(array_max("
        f"filter(sequence(1, ({i})), j -> NOT {_alt_cand(arr, 'j')})), 0)) % 2 = 1)"
    )
    return f"IF({_alt_cand(arr, i)}, IF(mg.l != mg.r, true, {parity}), false)"


def _bpe_apply_alt_expr(syms: str, merges_array: str) -> str:
    """INDEPENDENT SQL re-expression of greedy BPE application — the
    second route behind ``segment_consistent``.

    operators/text.py ``bpe_apply_expr`` replays each merge as a
    left fold whose accumulator consumes its own output
    (``_merge_fold``); this builder computes the SAME function from a
    different formulation — per pass, mark every candidate position
    whose consecutive-candidate run-length is odd (``_alt_act``),
    then rebuild the array positionally (active → merged token, right
    neighbor of an active site → dropped, else unchanged). The outer
    rank-order iteration is a plain ``aggregate`` over the broadcast
    merge array, but the greedy scan itself shares NO fragment with
    ``_merge_fold`` — so a defect in either scan's internals breaks
    cross-route agreement instead of cancelling out (the
    scope note this replaces: both routes previously folded through
    ``bpe_apply_expr``, reducing the flag to join/weighting
    arithmetic). Parity with the primary route AND the from-scratch
    Python reference is pinned in tests/test_properties.py
    (test_bpe_alt_route_matches_primary_and_python). Cost: O(len)
    per word per merge on the l != r path, O(len²) only for l = r
    merges' candidate positions; vocabulary-cardinality only —
    measured +0.35 s warm on the sf0.1 bench row (1.43 → 1.78 s), the
    priced cost of genuine two-route coverage."""
    one = (
        "IF(size(acc3) = 0, acc3, "
        "flatten(transform(sequence(1, size(acc3)), i -> "
        f"CASE WHEN {_alt_act('acc3', 'i')} THEN array(mg.m) "
        "WHEN i = 1 THEN array(element_at(acc3, 1)) "
        f"WHEN {_alt_act('acc3', 'i - 1')} THEN CAST(array() AS array<string>) "
        "ELSE array(element_at(acc3, i)) END)))"
    )
    return f"aggregate({merges_array}, {syms}, (acc3, mg) -> {one})"


@register("docs_bpe_invariants", oracle=DOCS_BPE_INVARIANTS_ORACLE, headline=True)
def docs_bpe_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-checkable invariants of the learned BPE merge table
    (the A16-sketches precedent applied to L98): one row whose hash
    the oracle gate CAN check. From the table alone: exactly 8 contiguous
    ranks, every merged token composes from its pair, weights are
    positive and non-increasing in rank (each round's best pair count
    is bounded by the previous round's — every post-merge pair
    occurrence maps to a pre-merge one). Against the corpus: merge #1
    equals the SQL-recomputable pair-count argmax; replaying the full
    table over the vocabulary reconstructs every word on concat
    (guards the greedy-scan slice arithmetic); and bpe_segment's
    corpus totals equal the vocabulary-weighted totals (ties the
    applier to the trainer). All map-side over the vocabulary plus
    one 8-row broadcast."""
    from lakehouse_architecture_transaction_spark.operators.text import (
        BPE_MERGES_TABLE_EXPR,
        bpe_segment,
        tokens_expr,
    )

    merges = _bpe_merges(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", spread=True)

    tbl = merges.agg(
        F.count("*").cast("bigint").alias("n_merges"),
        # NULL (not 0) on an empty merge table: sequence(1, 0) yields
        # [1, 0], so the equality would read FALSE on a vacuously
        # empty table — same no-evidence discipline as the FD profile
        F.expr(
            "CASE WHEN count(*) = 0 THEN CAST(NULL AS INT) "
            "ELSE CAST(array_sort(collect_list(rank)) = sequence(1, count(*)) AS INT) END"
        ).alias("ranks_contiguous"),
        F.expr(
            "CAST(min(CASE WHEN merged = concat(`left`, `right`) THEN 1 ELSE 0 END) = 1 AS INT)"
        ).alias("compose_ok"),
        F.expr("CAST(min(weight) > 0 AS INT)").alias("weights_positive"),
        F.expr(
            "CAST(aggregate(array_sort(collect_list(struct(rank, weight))), "
            "named_struct('ok', true, 'prev', CAST(NULL AS BIGINT)), "
            "(acc, x) -> named_struct("
            "'ok', acc.ok AND (acc.prev IS NULL OR x.weight <= acc.prev), "
            "'prev', x.weight)).ok AS INT)"
        ).alias("weights_nonincreasing"),
        F.expr("min(CASE WHEN rank = 1 THEN `left` END)").alias("first_left"),
        F.expr("min(CASE WHEN rank = 1 THEN `right` END)").alias("first_right"),
        F.expr("min(CASE WHEN rank = 1 THEN weight END)").cast("bigint").alias("first_weight"),
    )

    table = merges.groupBy().agg(F.expr(BPE_MERGES_TABLE_EXPR).alias("__merges"))
    # Deliberately a SECOND corpus tokenization alongside the one
    # inside bpe_segment below — AND a second, independent greedy-scan
    # formulation (_bpe_apply_alt_expr): the
    # bpe_segment route folds through operators/text.py
    # bpe_apply_expr, this route rebuilds each pass positionally from
    # the active-site/run-parity formulation, so segment_consistent
    # covers the fold INTERNALS again (a scan defect breaks cross-route
    # agreement) as well as the per-doc join/weighting arithmetic.
    # Sharing the tokenized frame would reduce the arithmetic half to
    # x == x, hence the second tokenize pass; both routes aggregate to
    # vocabulary cardinality before their scans, so the duplicated
    # cost is one extra map-side pass at vocab size.
    vocab = (
        docs.select(F.explode(tokens_expr("text")).alias("w"))
        .select(F.lower(F.col("w")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    vstats = (
        vocab.select("w", "freq", F.expr("transform(split(w, ''), c -> c)").alias("wsyms"))
        .crossJoin(F.broadcast(table))
        .select("w", "freq", F.expr(_bpe_apply_alt_expr("wsyms", "__merges")).alias("after"))
        .agg(
            F.expr(
                "CAST(min(CASE WHEN concat_ws('', after) = w THEN 1 ELSE 0 END) = 1 AS INT)"
            ).alias("vocab_reconstruct_ok"),
            F.sum(F.col("freq") * F.size("after")).cast("bigint").alias("__vocab_bpe_total"),
            F.count("*").cast("bigint").alias("n_vocab"),
            F.sum("freq").cast("bigint").alias("n_word_occurrences"),
        )
    )
    seg = bpe_segment(docs, id_col="doc_id", text_col="text", merges=merges).agg(
        F.sum("n_bpe_tokens").cast("bigint").alias("__seg_bpe_total"),
        F.sum("n_words").cast("bigint").alias("__seg_word_total"),
    )
    return (
        tbl.crossJoin(vstats)
        .crossJoin(seg)
        .select(
            "n_merges",
            "ranks_contiguous",
            "compose_ok",
            "weights_positive",
            "weights_nonincreasing",
            "first_left",
            "first_right",
            "first_weight",
            "vocab_reconstruct_ok",
            F.expr(
                "CAST(__seg_bpe_total = __vocab_bpe_total "
                "AND __seg_word_total = n_word_occurrences AS INT)"
            ).alias("segment_consistent"),
            "n_vocab",
            "n_word_occurrences",
        )
    )


# ------------------------------------------------------------------
# docs_quality_calibration — model-score vs rule-verdict deciles
# ------------------------------------------------------------------


def _calibration_oracle() -> str:
    return f"""
    WITH q AS ({_quality_logistic_oracle()}),
    g AS ({_gopher_oracle()}),
    j AS (
        SELECT q.doc_id AS doc_id, q.quality_p AS quality_p, g.passes_gopher AS passes_gopher,
               NTILE(10) OVER (ORDER BY q.quality_p ASC, q.doc_id ASC) AS decile
        FROM q JOIN g ON q.doc_id = g.doc_id
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(passes_gopher) AS BIGINT) AS n_pass,
           CAST(SUM(passes_gopher) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS pass_rate,
           MIN(quality_p) AS min_p, MAX(quality_p) AS max_p
    FROM j GROUP BY 1 ORDER BY decile ASC
    """


DOCS_QUALITY_CALIBRATION_ORACLE = _calibration_oracle()


@register("docs_quality_calibration", oracle=DOCS_QUALITY_CALIBRATION_ORACLE)
def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the cheap model-based quality score (L71's
    algebraic-logistic) against the Gopher rule verdict (L76), the
    standard classifier-vs-rules eval before swapping a filter in a
    curation pipeline: exact NTILE(10) deciles of quality_p (doc_id
    tie-break), and per decile the doc count, Gopher pass count, pass
    rate, and the decile's score range. A well-calibrated score reads
    monotone pass_rate by decile; a flat curve says the model ranks
    nothing the rules care about. Counts exact, pass_rate ONE double
    division; quality_p replays bit-for-bit cross-engine by L71's
    transcendental-free construction.

    Scale shape: two map-only feature passes joined on doc_id, decile
    assignment via the bucketed prefix-sum NTILE
    (operators/ranking.py ntile_exact — no single-task global-sort
    window), final frame 10 rows."""
    from lakehouse_architecture_transaction_spark.operators.ranking import ntile_exact

    docs = load_table(spark, sf_dir, "documents", spread=True)
    qp = T.quality_logistic_score(docs, "doc_id", "text").select("doc_id", "quality_p")
    gf = T.gopher_quality_flags(docs, "doc_id", "text").select("doc_id", "passes_gopher")
    j = qp.join(gf, "doc_id")
    ranked = ntile_exact(
        j, value_col="quality_p", tiebreakers=["doc_id"], n=10, tile_col="decile"
    )
    return (
        ranked.groupBy(F.col("decile").cast("bigint").alias("decile"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("passes_gopher").cast("bigint").alias("n_pass"),
            (
                F.sum("passes_gopher").cast("double") / F.count("*").cast("double")
            ).alias("pass_rate"),
            F.min("quality_p").alias("min_p"),
            F.max("quality_p").alias("max_p"),
        )
        .orderBy("decile")
    )
