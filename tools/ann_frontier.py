"""ANN recall/latency frontier at a given sf dir (default sf0.1).

Runs the ANN registry queries (exact brute force as ground truth,
then sign-LSH single-probe, Hamming-1 multiprobe, IVF, SQ8, PQ-ADC,
IVFPQ), measures min-of-3 wall time and recall@k against the exact
result, and prints a markdown table. With --update-plans, rewrites the
block between the ANN-FRONTIER markers in PLANS.md so the tuning
history lives in-repo.

With --index-dir <dir> (default /tmp/spark_graft_ann_index) the run
measures the PRODUCTION path: the persisted index store is built
there if absent, per-family index-ready time is measured both ways
(train from corpus vs load from store, fresh memos each), and the
variant timings run with $SPARK_GRAFT_ANN_INDEX_DIR set so search
latency reflects load + search.

Usage: python tools/ann_frontier.py [sf_dir] [--update-plans] [--index-dir[=DIR] | --no-index]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

VARIANTS = [
    ("emb_knn_bruteforce", "exact cosine (baseline)"),
    ("emb_ann_lsh", "sign-LSH, variance-selected bits, Hamming-2 shell"),
    ("emb_ann_multiprobe", "sign-LSH, variance-selected bits, Hamming-1 probes"),
    ("emb_ann_ivf", "trained IVF (16 cells), nprobe=2"),
    ("emb_ann_sq8", "int8 scalar-quantized rerank"),
    ("emb_ann_pq_adc", "PQ-ADC shortlist + exact re-rank"),
    ("emb_ann_ivfpq", "IVFPQ: cell pruning + in-list ADC + re-rank"),
]

BEGIN = "<!-- ANN-FRONTIER:BEGIN -->"
END = "<!-- ANN-FRONTIER:END -->"


def _clear_index_memos() -> None:
    from lakehouse_architecture_transaction_spark.plans import ann

    ann._IVF_INDEX_MEMO.clear()
    ann._LSH_INDEX_MEMO.clear()
    ann._PQ_INDEX_MEMO.clear()
    ann._PQ_PACKED_MEMO.clear()


def index_timings(spark, sf_dir: str, index_dir: str) -> list[tuple[str, float, float]]:
    """(family, train_s, load_s) per index family: index-ready time
    from a cold memo, training from the corpus vs loading the
    persisted store — the per-session cost the store amortizes."""
    from lakehouse_architecture_transaction_spark.plans import ann

    builders = [
        ("ivf", ann._ivf_index),
        ("pq", ann._pq_index),
        ("lsh", ann._lsh_index),
    ]
    out = []
    saved = os.environ.pop("SPARK_GRAFT_ANN_INDEX_DIR", None)
    try:
        times: dict[str, list[float]] = {}
        for mode_env in (None, index_dir):
            if mode_env is None:
                os.environ.pop("SPARK_GRAFT_ANN_INDEX_DIR", None)
            else:
                os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = mode_env
            for fam, fn in builders:
                _clear_index_memos()
                t0 = time.time()
                fn(spark, sf_dir)
                times.setdefault(fam, []).append(time.time() - t0)
        out = [(fam, ts[0], ts[1]) for fam, ts in times.items()]
    finally:
        if saved is None:
            os.environ.pop("SPARK_GRAFT_ANN_INDEX_DIR", None)
        else:
            os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = saved
    return out


def run(sf_dir: str, index_dir: str | None) -> tuple[list, list]:
    import __spark_entry__ as entry
    from lakehouse_architecture_transaction_spark.session import get_spark

    spark = get_spark()
    idx_rows: list[tuple[str, float, float]] = []
    if index_dir:
        from lakehouse_architecture_transaction_spark.lakehouse.ann_index import AnnIndexStore
        from lakehouse_architecture_transaction_spark.plans.ann import build_persisted_ann_index

        store = AnnIndexStore(
            spark, os.path.join(index_dir, os.path.basename(os.path.normpath(sf_dir)))
        )
        if not (store.has_ivf() and store.has_pq() and store.has_lsh()):
            t0 = time.time()
            build_persisted_ann_index(spark, sf_dir, index_dir)
            print(f"built persisted index in {time.time() - t0:.1f}s", flush=True)
        idx_rows = index_timings(spark, sf_dir, index_dir)
        # production path for the variant timings: load from the store
        os.environ["SPARK_GRAFT_ANN_INDEX_DIR"] = index_dir
        _clear_index_memos()
    qs = entry.queries()
    truth: dict[int, set[int]] = {}
    rows_out = []
    for name, desc in VARIANTS:
        fn = qs[name]
        best = float("inf")
        rows = None
        for _ in range(3):
            t0 = time.time()
            rows = fn(spark, sf_dir).collect()
            best = min(best, time.time() - t0)
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        if name == "emb_knn_bruteforce":
            truth = got
            recall = 1.0
        else:
            hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
            total = sum(len(t) for t in truth.values())
            recall = hits / total if total else float("nan")
        rows_out.append((name, desc, recall, best))
    return rows_out, idx_rows


def table(
    results: list[tuple[str, str, float, float]],
    idx_rows: list[tuple[str, float, float]],
    sf_dir: str,
    index_dir: str | None,
) -> str:
    k = max(len(r[0]) for r in results)
    src = (
        f"index source: PERSISTED store (`{index_dir}`) — variant times are "
        "load + search, the production path"
        if index_dir
        else "index source: in-session build (session-memoized) — times are "
        "search latency with the build amortized"
    )
    lines = [
        f"ANN frontier at `{sf_dir}` (recall@5 vs exact, min-of-3 seconds; {src}):",
        "",
        "| variant | strategy | recall@5 | time (s) |",
        "|---|---|---|---|",
    ]
    for name, desc, recall, t in results:
        lines.append(f"| `{name:<{k}}` | {desc} | {recall:.3f} | {t:.2f} |")
    if idx_rows:
        lines += [
            "",
            "Per-family index-ready time from a cold memo (the per-session "
            "cost the persisted store amortizes; at real scale the train "
            "column is the whole build):",
            "",
            "| family | train from corpus (s) | load from store (s) |",
            "|---|---|---|",
        ]
        for fam, train_s, load_s in idx_rows:
            lines.append(f"| {fam} | {train_s:.1f} | {load_s:.1f} |")
    return "\n".join(lines)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    index_dir: str | None = "/tmp/spark_graft_ann_index"
    for a in sys.argv[1:]:
        if a == "--no-index":
            index_dir = None
        elif a.startswith("--index-dir="):
            index_dir = a.split("=", 1)[1]
    results, idx_rows = run(sf_dir, index_dir)
    md = table(results, idx_rows, sf_dir, index_dir)
    print(md)
    if "--update-plans" in sys.argv:
        path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
        with open(path) as f:
            text = f.read()
        block = f"{BEGIN}\n{md}\n{END}"
        if BEGIN in text:
            pre = text.split(BEGIN)[0]
            post = text.split(END)[1]
            text = pre + block + post
        else:
            text = text.rstrip() + "\n\n## ANN recall/latency frontier\n\n" + block + "\n"
        with open(path, "w") as f:
            f.write(text)
        print(f"\nPLANS.md updated ({path})")


if __name__ == "__main__":
    main()
