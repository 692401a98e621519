"""Multimodal metadata: binary payload metadata and audio/frame
feature extraction, with document text standing in for the media
payload (operators/multimodal.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_architecture_transaction_spark.catalog import load_table
from lakehouse_architecture_transaction_spark.operators import multimodal as M
from lakehouse_architecture_transaction_spark.plans.registry import register

# ------------------------------------------------------- multimodal


@register(
    "mm_binary_meta",
    oracle="""
    SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS content_md5
    FROM documents
    ORDER BY doc_id ASC
    """,
)
def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: payload as binary + typed
    metadata (byte length, content hash). The decode/feature path
    lives in operators/multimodal.py (stubbed — media libs not in
    image); this query is the schema/metadata surface."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    bin_col = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.octet_length(bin_col).cast("bigint").alias("n_bytes"),
        F.md5(bin_col).alias("content_md5"),
    ).orderBy("doc_id")


def _mm_frames_oracle() -> str:
    # frame i of a doc: sha256(sha256(text) || '-' || i); frame bytes =
    # that digest repeated 6x, so mean_byte = (sum of the 32 digest
    # bytes)/32 — an exact power-of-two division, identical in float64.
    frames = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS frame_idx, sha256(sha256(text) || '-' || '{i}') AS fsha FROM documents"
        for i in range(M.N_FRAMES)
    )
    return f"""
    WITH fr AS ({frames}),
    fb AS (
        SELECT doc_id, frame_idx, fsha,
               list_transform(generate_series(0, 31),
                   i -> ('0x' || substr(fsha, 2 * i + 1, 2))::BIGINT) AS bytes
        FROM fr
    )
    SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx, fsha AS frame_sha,
           CAST(list_sum(bytes) AS DOUBLE) / 32 AS mean_byte
    FROM fb
    ORDER BY doc_id ASC, frame_idx ASC
    """


def _mm_audio_oracle() -> str:
    # window w = digests 2w, 2w+1 of the sha256 chain; sample byte j of
    # digest d sits at hex chars [2j+1, 2j+2]. mean_abs = integer sum of
    # |byte-128| over 64 samples / 64 — a power-of-two division, exact.
    digs = " UNION ALL ".join(
        f"SELECT doc_id, {d} AS dig_idx, sha256(sha256(text) || '-a' || '{d}') AS dig FROM documents"
        for d in range(2 * M.N_AUDIO_WINDOWS)
    )
    return f"""
    WITH dg AS ({digs}),
    b AS (
        SELECT doc_id, CAST(dig_idx // 2 AS INTEGER) AS window_idx,
               abs(('0x' || substr(dig, 2 * i + 1, 2))::BIGINT - 128) AS a
        FROM dg, UNNEST(generate_series(0, 31)) AS g(i)
    )
    SELECT doc_id, window_idx, CAST({M.AUDIO_WINDOW} AS INTEGER) AS n_samples,
           CAST(SUM(a) AS DOUBLE) / {M.AUDIO_WINDOW} AS mean_abs
    FROM b
    GROUP BY doc_id, window_idx
    ORDER BY doc_id ASC, window_idx ASC
    """


@register("mm_audio_features", oracle=_mm_audio_oracle())
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-shaped multimodal path (operators/multimodal.py
    decode_audio + extract_audio_features): deterministic fake PCM via
    chained sha256, per-window mean absolute amplitude over
    mapInPandas — one row per (doc, window)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    mm = M.make_binary_table(docs, id_col="doc_id", text_col="text")
    return M.extract_audio_features(mm).orderBy("doc_id", "window_idx")


@register("mm_frame_features", oracle=_mm_frames_oracle())
def mm_frame_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-shaped multimodal path (operators/multimodal.py
    sample_frames + extract_frame_features): deterministic fake frame
    sampling via chained sha256, per-frame featurization over
    mapInPandas — one output row per (doc, frame)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    mm = M.make_binary_table(docs, id_col="doc_id", text_col="text")
    return M.extract_frame_features(mm).orderBy("doc_id", "frame_idx")


@register(
    "mm_features",
    oracle="""
    WITH hx AS (
        SELECT doc_id, sha256(text) AS sha,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        FROM documents
    ),
    nib AS (
        SELECT doc_id, sha, n_bytes,
               list_transform(generate_series(0, 31), i -> substr(sha, 2 * i + 1, 1)) AS hi
        FROM hx
    )
    SELECT doc_id, sha AS content_sha, n_bytes,
           CAST(len(list_filter(hi, c -> c = '0')) AS DOUBLE) / 32.0 AS f0,
           CAST(len(list_filter(hi, c -> c = '1')) AS DOUBLE) / 32.0 AS f1
    FROM nib
    ORDER BY doc_id ASC
    """,
    headline=True,
)
def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The real multimodal feature path (operators/multimodal.py):
    binary table → mapInPandas fake-decode → byte-histogram features.
    The fake decode is six repeats of sha256(payload), so bin j of the
    16-bin histogram counts digest bytes with high nibble j — which the
    oracle restates from the hex digest string (char 2i+1 is byte i's
    high nibble; each count/32 is a power-of-two fraction, exact in
    float32 and double alike)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    mm = M.make_binary_table(docs, id_col="doc_id", text_col="text")
    feats = M.extract_features(mm, fake_decode=True)
    return feats.select(
        "doc_id",
        "content_sha",
        "n_bytes",
        F.element_at("feature", 1).cast("double").alias("f0"),
        F.element_at("feature", 2).cast("double").alias("f1"),
    ).orderBy("doc_id")
