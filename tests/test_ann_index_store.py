"""Persisted ANN index lifecycle (lakehouse/ann_index.py): build →
commit → load → bit-identical search, manifest hyperparameter guard,
and versioned refresh semantics — plus a REAL new-process load (the
claim is "a new session loads instead of rebuilding", so one test
pays a fresh JVM to prove it)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F


def _rows(df):
    # repr-exact canonical rowset (same normalization as the gates)
    return sorted(tuple(repr(v) for v in r) for r in df.collect())


def _clear_memos():
    from lakehouse_architecture_transaction_spark.plans import ann

    ann._IVF_INDEX_MEMO.clear()
    ann._LSH_INDEX_MEMO.clear()
    ann._PQ_INDEX_MEMO.clear()
    ann._PQ_PACKED_MEMO.clear()


@pytest.fixture
def index_env(tmp_path):
    """Point $SPARK_GRAFT_ANN_INDEX_DIR at a temp store for the test
    body, restoring (and re-clearing memos) afterwards so the rest of
    the suite keeps its in-process builds."""
    old = os.environ.get("SPARK_GRAFT_ANN_INDEX_DIR")
    os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = str(tmp_path)
    _clear_memos()
    try:
        yield str(tmp_path)
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_ANN_INDEX_DIR", None)
        else:
            os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = old
        _clear_memos()


def test_persisted_index_roundtrip_bit_identical(spark, sf_dir, tmp_path, index_env):
    from lakehouse_architecture_transaction_spark.plans import REGISTRY
    from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

    # Fresh in-process build (no store on disk yet → trains).
    expected_ivfpq = _rows(REGISTRY["emb_ann_ivfpq"].fn(spark, sf_dir))
    expected_ivf = _rows(REGISTRY["emb_ann_ivf"].fn(spark, sf_dir))
    expected_lsh = _rows(REGISTRY["emb_ann_lsh"].fn(spark, sf_dir))

    versions = build_persisted_ann_index(spark, sf_dir, index_env)
    assert set(versions) == {"ivf_centroids", "ivf_corpus", "pq_codes", "pq_books", "lsh_corpus"}

    # Drop the session memos: the next call must LOAD the store.
    _clear_memos()
    assert _rows(REGISTRY["emb_ann_ivfpq"].fn(spark, sf_dir)) == expected_ivfpq
    assert _rows(REGISTRY["emb_ann_ivf"].fn(spark, sf_dir)) == expected_ivf
    assert _rows(REGISTRY["emb_ann_lsh"].fn(spark, sf_dir)) == expected_lsh


def test_persisted_index_refresh_is_a_commit(spark, sf_dir, index_env):
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import AnnIndexStore
    from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

    v1 = build_persisted_ann_index(spark, sf_dir, index_env)
    v2 = build_persisted_ann_index(spark, sf_dir, index_env)
    assert all(v2[t] == v1[t] + 1 for t in v1), (v1, v2)

    store = AnnIndexStore(
        spark, os.path.join(index_env, os.path.basename(os.path.normpath(sf_dir)))
    )
    hist = store.ivf_corpus.describe_history()
    assert [e["operation"] for e in hist[:2]] == ["index-build", "index-build"]
    # identical rebuild → empty index delta between the two commits
    assert store.ivf_corpus.diff(v1["ivf_corpus"], v2["ivf_corpus"]).count() == 0


def test_persisted_index_refuses_hyperparameter_mismatch(spark, sf_dir, index_env):
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import AnnIndexStore
    from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

    build_persisted_ann_index(spark, sf_dir, index_env)
    store = AnnIndexStore(
        spark, os.path.join(index_env, os.path.basename(os.path.normpath(sf_dir)))
    )
    with pytest.raises(ValueError, match="different hyperparameters"):
        store.load_ivf(n_cells=99, iters=2)
    with pytest.raises(ValueError, match="different hyperparameters"):
        store.load_pq(m=2, dsub=32, k=8, iters=2)
    with pytest.raises(ValueError, match="different hyperparameters"):
        store.load_lsh(bits=3)


_NEW_SESSION_SCRIPT = r"""
import json, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from lakehouse_architecture_transaction_spark.plans import REGISTRY
spark = SparkSession.builder.master("local[4]").getOrCreate()
spark.sparkContext.setLogLevel("ERROR")
df = REGISTRY["emb_ann_ivfpq"].fn(spark, {sf_dir!r})
rows = sorted(tuple(repr(v) for v in r) for r in df.collect())
print("ROWS_JSON:" + json.dumps(rows))
spark.stop()
"""


def test_new_session_loads_persisted_index_bit_identical(spark, sf_dir, index_env):
    """The actual 100 TB contract: a brand-new process (fresh JVM,
    fresh applicationId, empty memos) pointed at the store produces
    the SAME top-k bit-for-bit — and it must load, not retrain
    (asserted via the store's commit history staying put)."""
    from lakehouse_architecture_transaction_spark.plans import REGISTRY
    from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

    expected = _rows(REGISTRY["emb_ann_ivfpq"].fn(spark, sf_dir))
    versions = build_persisted_ann_index(spark, sf_dir, index_env)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = _NEW_SESSION_SCRIPT.format(repo=repo, sf_dir=sf_dir)
    env = dict(os.environ, SPARK_GRAFT_ANN_INDEX_DIR=index_env)
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    payload = [ln for ln in out.stdout.splitlines() if ln.startswith("ROWS_JSON:")]
    assert payload, out.stdout[-2000:]
    got = [tuple(r) for r in json.loads(payload[0][len("ROWS_JSON:"):])]
    assert got == expected

    # the new session loaded: no new index-build commits appeared
    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import AnnIndexStore

    store = AnnIndexStore(
        spark, os.path.join(index_env, os.path.basename(os.path.normpath(sf_dir)))
    )
    assert store.ivf_corpus.latest_version() == versions["ivf_corpus"]
    assert store.pq_codes.latest_version() == versions["pq_codes"]


def test_ivf_lifecycle_refresh_diff_restore(spark, sf_dir, tmp_path, index_env):
    """The lifecycle a 100 TB operator actually runs: corpus changes →
    refresh RETRAINS (even with $SPARK_GRAFT_ANN_INDEX_DIR pointing at
    the very store being rebuilt — the stale-reload bug), →
    ivf_corpus.diff(v0, v1) is exactly the vectors whose (cell,
    embedding) changed, → restore_pins(v0) + restored corpus returns
    search to the bit-identical old top-k via the manifest pointer."""
    import shutil

    import pyarrow.parquet as pq

    from lakehouse_architecture_transaction_spark.lakehouse.ann_index import (
        AnnIndexStore,
        corpus_fingerprint,
    )
    from lakehouse_architecture_transaction_spark.plans import REGISTRY
    from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

    # Private corpus copy (only embeddings is read by the emb_* plans).
    sf_copy = tmp_path / "sf"
    sf_copy.mkdir()
    src = os.path.join(sf_dir, "embeddings.parquet")
    dst = str(sf_copy / "embeddings.parquet")
    shutil.copy2(src, dst)
    backup = str(tmp_path / "embeddings.orig.parquet")
    shutil.copy2(src, backup)
    sfc = str(sf_copy)

    v0 = build_persisted_ann_index(spark, sfc, index_env)
    fp0 = corpus_fingerprint(sfc)
    _clear_memos()
    topk0 = _rows(REGISTRY["emb_ann_ivf"].fn(spark, sfc))

    store = AnnIndexStore(spark, os.path.join(index_env, "sf"))
    corpus_v0 = store.ivf_corpus.read(v0["ivf_corpus"]).select("vec_id", "__cell").collect()
    cell_by_id = {r["vec_id"]: r["__cell"] for r in corpus_v0}
    cells = {}
    for vid, cell in sorted(cell_by_id.items()):
        if vid >= 8:  # keep the query set (vec_id < 8) untouched
            cells.setdefault(cell, vid)
        if len(cells) >= 2:
            break
    a, b = sorted(cells.values())[:2]

    # Corpus change: swap the embeddings of two vectors from different
    # cells — both must re-assign on retrain.
    tbl = pq.read_table(dst)
    df = tbl.to_pandas()
    ia = df.index[df["vec_id"] == a][0]
    ib = df.index[df["vec_id"] == b][0]
    ea, eb = df.at[ia, "embedding"], df.at[ib, "embedding"]
    df.at[ia, "embedding"], df.at[ib, "embedding"] = eb, ea
    import pyarrow as pa

    pq.write_table(pa.Table.from_pandas(df, schema=tbl.schema, preserve_index=False), dst)

    # The stale-corpus guard must now refuse the old index...
    _clear_memos()
    with pytest.raises(ValueError, match="different corpus"):
        REGISTRY["emb_ann_ivf"].fn(spark, sfc)

    # ...and a refresh must RETRAIN from the changed corpus, not
    # re-commit the loaded stale index (the ADVICE stale-reload bug).
    _clear_memos()
    v1 = build_persisted_ann_index(spark, sfc, index_env)
    assert all(v1[t] == v0[t] + 1 for t in v0)

    old = store.ivf_corpus.read(v0["ivf_corpus"]).select(
        "vec_id", F.col("__cell").alias("oc"), F.col("embedding").alias("oe")
    )
    new = store.ivf_corpus.read(v1["ivf_corpus"]).select(
        "vec_id", F.col("__cell").alias("nc"), F.col("embedding").alias("ne")
    )
    changed = {
        r["vec_id"]
        for r in old.join(new, "vec_id")
        .filter((F.col("oc") != F.col("nc")) | (F.col("oe") != F.col("ne")))
        .collect()
    }
    assert {a, b} <= changed
    d = store.ivf_corpus.diff(v0["ivf_corpus"], v1["ivf_corpus"]).collect()
    assert all(r["_change_type"] == "update_postimage" for r in d)  # no inserts/deletes
    assert {r["vec_id"] for r in d} == changed

    # Restore: corpus files back + manifest pointer back → the SAME
    # bit-identical top-k as before the bad build, no data rewrite.
    shutil.copy2(backup, dst)
    store.restore_pins("ivf", v0, fingerprint=fp0)
    _clear_memos()
    assert _rows(REGISTRY["emb_ann_ivf"].fn(spark, sfc)) == topk0
