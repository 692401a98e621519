"""Persisted ANN index: IVF centroids/inverted lists, PQ
codes/codebooks, and the variance-bit sign-LSH bucketed corpus as
versioned LakeTables.

At 100 TB a vector index is not a session artifact — training the
coarse quantizer and PQ codebooks is iters × corpus-scans plus
k·dim-cardinality shuffles, so every new session rebuilding it from
scratch (the session-memo pattern in plans/ann.py) pays the
build again. This module makes the index a table with its own
lifecycle:

- each component is a **versioned LakeTable** (lakehouse/table.py), so
  an index refresh is a commit: ``describe_history()`` shows builds,
  ``diff(v_old)`` gives the index delta (vectors that changed cells /
  codes), ``restore(v)`` rolls back a bad build, ``vacuum()`` retires
  old snapshots;
- a ``_meta.json`` manifest pins the hyperparameters the index was
  built with (n_cells/iters for IVF, m/dsub/k/iters for PQ) —
  loaders REFUSE a mismatched load instead of silently degrading
  (the index frames themselves carry no metadata; see the warnings
  on ivf_topk/sign_lsh_var_ann). The manifest also pins the
  **committed component versions** (written atomically AFTER every
  component commit succeeds, so a crash between the centroids and
  corpus commits can never pair new centroids with an old corpus —
  loaders read the pinned versions, not latest) and a **corpus
  fingerprint** (file sizes + mtimes of the source parquet), so a
  regenerated corpus refuses a stale-index load instead of silently
  serving neighbors from the old data;
- the IVF corpus table stores the vectors WITH their cell assignment
  (FAISS-style: the index contains the clustered vectors), so a
  loaded search is zero-join — and file-level data skipping on
  ``__cell`` (lakehouse/table.py register_scan) means probing nprobe
  cells reads only those files at scale.

Search results from a loaded index are bit-identical to a
freshly-trained one: doubles round-trip parquet exactly, packing
(pq_pack_index) re-derives from the stored long forms with
deterministic sorts, and every downstream fold is order-independent.

The query plans opt in via ``$SPARK_GRAFT_ANN_INDEX_DIR``: when set
and a store exists for the sf_dir, plans/ann.py loads
instead of training (see default_store / build_store)."""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from lakehouse_architecture_transaction_spark.lakehouse.table import LakeTable


class AnnIndexStore:
    """Versioned on-disk home of one embedding corpus's ANN index."""

    def __init__(self, spark: SparkSession, base_path: str) -> None:
        self.spark = spark
        self.base_path = base_path
        self.ivf_centroids = LakeTable(
            spark, os.path.join(base_path, "ivf_centroids"), keys=["cluster"], versioned=True
        )
        self.ivf_corpus = LakeTable(
            spark, os.path.join(base_path, "ivf_corpus"), keys=["vec_id"], versioned=True
        )
        self.pq_codes = LakeTable(
            spark, os.path.join(base_path, "pq_codes"), keys=["vec_id", "subspace"], versioned=True
        )
        self.pq_books = LakeTable(
            spark, os.path.join(base_path, "pq_books"), keys=["s", "cluster"], versioned=True
        )
        self.lsh_corpus = LakeTable(
            spark, os.path.join(base_path, "lsh_corpus"), keys=["vec_id"], versioned=True
        )

    # -- manifest ------------------------------------------------------

    def _meta_path(self) -> str:
        return os.path.join(self.base_path, "_meta.json")

    def read_meta(self) -> dict:
        try:
            with open(self._meta_path()) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def _merge_meta(self, update: dict) -> None:
        meta = self.read_meta()
        meta.update(update)
        os.makedirs(self.base_path, exist_ok=True)
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, self._meta_path())

    @staticmethod
    def _check_params(kind: str, want: dict, got: dict) -> None:
        mismatched = {
            k: (v, got.get(k)) for k, v in want.items() if got.get(k) != v and k != "versions"
        }
        if mismatched:
            raise ValueError(
                f"persisted {kind} index was built with different hyperparameters: "
                + ", ".join(f"{k}: expected {v[0]}, stored {v[1]}" for k, v in mismatched.items())
                + " — rebuild the store or match the call's parameters"
            )

    @staticmethod
    def _check_fingerprint(kind: str, stored: dict | None, live: dict | None) -> None:
        """Refuse to serve an index whose source corpus changed on
        disk since the build (stored at save time; compared at load
        when the caller supplies the live fingerprint)."""
        if stored is None or live is None:
            return  # pre-fingerprint store or caller opted out
        if stored != live:
            raise ValueError(
                f"persisted {kind} index was built on a different corpus "
                f"(fingerprint mismatch: stored {stored}, live {live}) — "
                "rebuild the index after regenerating the data"
            )

    def _pinned(self, kind: str, component: str) -> int | None:
        return (self.read_meta().get(kind, {}).get("versions") or {}).get(component)

    def restore_pins(
        self, kind: str, versions: dict[str, int], *, fingerprint: dict | None = None
    ) -> None:
        """Roll the SERVED index back to a previous build. Loads go
        through the manifest's pinned component versions, so restore
        is an atomic manifest pointer move (the Delta RESTORE idiom)
        — no data rewrite, and the rolled-back-from build remains in
        each component table's history. Pass the ``versions`` dict a
        prior ``save_*`` returned, and the fingerprint of the corpus
        that build was trained on (so the stale-corpus guard keeps
        meaning what it says after the rollback)."""
        meta = self.read_meta().get(kind, {})
        if not meta:
            raise ValueError(f"no {kind} index saved at {self.base_path}")
        meta["versions"] = dict(versions)
        meta["fingerprint"] = fingerprint
        self._merge_meta({kind: meta})

    # -- IVF -----------------------------------------------------------

    def save_ivf(
        self, cent: DataFrame, corpus: DataFrame, *, n_cells: int, iters: int,
        fingerprint: dict | None = None,
    ) -> dict[str, int]:
        """Commit a trained IVF index (ivf_build output). Re-saving is
        a new version on both tables — ``ivf_corpus.diff(v)`` then
        yields exactly the vectors whose cell assignment changed.
        The manifest records the committed versions atomically AFTER
        both commits succeed, so loaders can never pair components
        from different builds."""
        versions = {
            "ivf_centroids": self.ivf_centroids.overwrite(cent, operation="index-build"),
            "ivf_corpus": self.ivf_corpus.overwrite(corpus, operation="index-build"),
        }
        self._merge_meta({"ivf": {
            "n_cells": n_cells, "iters": iters,
            "versions": versions, "fingerprint": fingerprint,
        }})
        return versions

    def has_ivf(self) -> bool:
        return (
            "ivf" in self.read_meta()
            and self.ivf_centroids.exists()
            and self.ivf_corpus.exists()
        )

    def load_ivf(
        self, *, n_cells: int, iters: int, fingerprint: dict | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """(centroids, corpus) from the manifest-PINNED versions (not
        latest — a crash mid-save leaves the manifest pointing at the
        last complete build), after verifying hyperparameters and,
        when given, the live corpus fingerprint."""
        meta = self.read_meta().get("ivf", {})
        self._check_params("IVF", {"n_cells": n_cells, "iters": iters}, meta)
        self._check_fingerprint("IVF", meta.get("fingerprint"), fingerprint)
        return (
            self.ivf_centroids.read(version=self._pinned("ivf", "ivf_centroids")),
            self.ivf_corpus.read(version=self._pinned("ivf", "ivf_corpus")),
        )

    # -- PQ ------------------------------------------------------------

    def save_pq(
        self, codes: DataFrame, books: DataFrame, *, m: int, dsub: int, k: int, iters: int,
        fingerprint: dict | None = None,
    ) -> dict[str, int]:
        """Commit a trained PQ index (product_quantize long forms:
        codes (vec_id, subspace, code), books (s, cluster, __cvec))."""
        versions = {
            "pq_codes": self.pq_codes.overwrite(codes, operation="index-build"),
            "pq_books": self.pq_books.overwrite(books, operation="index-build"),
        }
        self._merge_meta({"pq": {
            "m": m, "dsub": dsub, "k": k, "iters": iters,
            "versions": versions, "fingerprint": fingerprint,
        }})
        return versions

    def has_pq(self) -> bool:
        return "pq" in self.read_meta() and self.pq_codes.exists() and self.pq_books.exists()

    def load_pq(
        self, *, m: int, dsub: int, k: int, iters: int, fingerprint: dict | None = None
    ) -> tuple[DataFrame, DataFrame]:
        meta = self.read_meta().get("pq", {})
        self._check_params("PQ", {"m": m, "dsub": dsub, "k": k, "iters": iters}, meta)
        self._check_fingerprint("PQ", meta.get("fingerprint"), fingerprint)
        return (
            self.pq_codes.read(version=self._pinned("pq", "pq_codes")),
            self.pq_books.read(version=self._pinned("pq", "pq_books")),
        )

    # -- sign-LSH ------------------------------------------------------

    def save_lsh(
        self, bucketed: DataFrame, *, bits: int, fingerprint: dict | None = None
    ) -> dict[str, int]:
        """Commit the variance-bit sign-LSH index (lsh_var_build
        output: vec_id, embedding, __bkt, __n2 — the bucketed corpus,
        FAISS-style vectors-in-index like ivf_corpus)."""
        versions = {"lsh_corpus": self.lsh_corpus.overwrite(bucketed, operation="index-build")}
        self._merge_meta({"lsh": {
            "bits": bits, "versions": versions, "fingerprint": fingerprint,
        }})
        return versions

    def has_lsh(self) -> bool:
        return "lsh" in self.read_meta() and self.lsh_corpus.exists()

    def load_lsh(self, *, bits: int, fingerprint: dict | None = None) -> DataFrame:
        meta = self.read_meta().get("lsh", {})
        self._check_params("LSH", {"bits": bits}, meta)
        self._check_fingerprint("LSH", meta.get("fingerprint"), fingerprint)
        return self.lsh_corpus.read(version=self._pinned("lsh", "lsh_corpus"))


def default_store(spark: SparkSession, sf_dir: str) -> AnnIndexStore | None:
    """The store the query plans consult: ``$SPARK_GRAFT_ANN_INDEX_DIR/
    <sf_dir basename>`` when the env var is set, else None (plans fall
    back to the session-memoized in-process build). One subdirectory
    per corpus, so one env var serves every scale factor."""
    base = os.environ.get("SPARK_GRAFT_ANN_INDEX_DIR")
    if not base:
        return None
    leaf = os.path.basename(os.path.normpath(sf_dir))
    return AnnIndexStore(spark, os.path.join(base, leaf))
