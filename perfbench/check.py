"""Output checks: read what the program wrote and compare it with the
generator's expectations. Each ``compare_*`` returns a list of
mismatch descriptions; an empty list means the op's output is correct.

The lake is read with pyarrow, not through Spark or the table layer,
so a check does not depend on the code it checks."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.dataset as ds

from perfbench.gen import DATASETS, rowset_digest, table_digest


def read_dir(path: str) -> pa.Table:
    """Every parquet file under ``path`` (sidecars and hidden files are
    skipped by the dataset reader)."""
    return ds.dataset(path, format="parquet").to_table()


def lake_summary(lake_root: str) -> dict:
    """The curated and rejected zones in the shape of
    ``LakeModel.snapshot``."""
    out: dict = {"tables": {}, "rejected": {}}
    for name in DATASETS:
        path = os.path.join(lake_root, "curated", name)
        if os.path.isdir(path):
            out["tables"][name] = table_digest(name, read_dir(path))
        path = os.path.join(lake_root, "rejected", name)
        if os.path.isdir(path):
            counts = read_dir(path)["validation_errors"].value_counts().to_pylist()
            out["rejected"][name] = dict(sorted((c["values"], c["counts"]) for c in counts))
    return out


def compare_lake(expected: dict, got: dict) -> list[str]:
    errs = []
    for zone in ("tables", "rejected"):
        for name in sorted(set(expected[zone]) | set(got[zone])):
            want, have = expected[zone].get(name), got[zone].get(name)
            if want != have:
                errs.append(f"{zone}/{name}: expected {want}, got {have}")
    return errs


def compare_files(expected: dict, results, archive_root: str, error_root: str, landing_root: str) -> list[str]:
    """The trigger results and the three zones' listings after a cycle:
    every good file archived, the corrupt one quarantined, the landing
    zone drained."""
    errs = []
    status = {os.path.basename(r.file): r.status for r in results}
    want = {f: "archived" for f in expected["archived"]}
    want.update({f: "quarantined" for f in expected["quarantined"]})
    if status != want:
        errs.append(f"trigger results: expected {want}, got {status}")
    for root, names in ((archive_root, expected["archived"]), (error_root, expected["quarantined"])):
        missing = sorted(set(names) - set(os.listdir(root)))
        if missing:
            errs.append(f"{os.path.basename(root)}: missing {missing}")
    left = sorted(os.listdir(landing_root))
    if left:
        errs.append(f"landing zone not drained: {left}")
    return errs


def compare_query(name: str, expected: str, df) -> list[str]:
    got = rowset_digest(df.columns, [tuple(r) for r in df.collect()])
    return [] if got == expected else [f"{name}: result digest {got}, oracle {expected}"]
