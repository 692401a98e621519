"""Skew probe: SAME data volume, one HOT key — the other half of the
"would this hold at 1000×?" question. tools/scale_probe.py grows the
data uniformly; real corpora instead grow one celebrity user, one
megacorp customer, one dominant source. A plan that looks linear on
uniform keys can still funnel a hot key's entire group through one
task (the per-group window / unsalted-join failure mode).

Model: rewrite the sf0.1 facts so ~30% of each fact's join/window key
collapses onto ONE existing key (deterministic pmod selection —
events.user_id, orders.o_custkey, lineitem.l_partkey), dimensions and
row counts unchanged, then run the window/join shapes on both layouts.
The report is the skewed/uniform wall-time ratio: ≈1 means the plan's
parallelism does not depend on the key distribution; >2 flags a
hot-key funnel. ``--text-only`` runs the hot-content-key leg instead
(uniform vs hot_text on TEXT_PROBES).

Usage: python tools/skew_probe.py [--text-only] [--update-md]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from lakehouse_architecture_transaction_spark.catalog import TABLES  # noqa: E402
from lakehouse_architecture_transaction_spark.session import get_spark  # noqa: E402
from lakehouse_architecture_transaction_spark.measure import SparkUI, timed_run, warm_up  # noqa: E402

BASE = "/root/testdata/sf0.1"
OUT = "/tmp/spark_graft_skew"
N_FILES = 32

#: table → {column: hot value source} — ~1/3 of rows in each listed
#: column collapse onto that column's MINIMUM existing key
SKEWED = {
    "events": ["user_id"],
    "orders": ["o_custkey"],
    "lineitem": ["l_partkey"],
    "documents": ["source"],
}

#: Third layout (r16, ADVICE r15): hot TEXT-CONTENT keys. The join/
#: window keys above never skew what the text operators aggregate on
#: — shingles and bigrams — yet the r15 window restructures
#: (shingle_novelty, lm_familiarity, tfidf df) moved those statistics
#: into WINDOW partitions, which AQE cannot skew-split. This layout
#: replaces runs of 3 consecutive tokens (positions i%8 ∈ {0,1,2}) in
#: EVERY document with one constant token: the (hot,hot) bigram then
#: carries ~2/8 of all bigram occurrences and the (hot,hot,hot)
#: 3-shingle ~1/8 of all shingles — a true Zipf head at unchanged
#: token volume — while the uniform corpus spreads both keys thinly.
HOT_TOKEN = "zzhotzz"
_HOT_TEXT_EXPR = (
    "array_join(transform(filter(split(text, '\\\\s+'), x -> x != ''), "
    f"(t, i) -> CASE WHEN i % 8 < 3 THEN '{HOT_TOKEN}' ELSE t END), ' ')"
)

#: text operators whose per-key statistic runs in a window over the
#: content key (cannot be AQE-skew-split — the probe measures the
#: hottest key's one-task bound staying proportionate, not exploding)
TEXT_PROBES = [
    "docs_shingle_novelty",    # min(doc) window over shingle
    "docs_lm_familiarity",     # count(*) window over (w1, w2)
    "docs_tfidf_top_terms",    # count(*) df window over term
]

#: window/join shapes where a hot key would funnel one task
PROBES = [
    "top3_orders_per_customer",        # per-custkey window
    "customer_running_spend",          # per-custkey running window
    "sessionize_events",               # per-user session window
    "events_session_stats",            # per-user session aggregation
    "orders_salted_segment_revenue",   # the salted join built for this
    "q18_large_volume_customers",      # groupBy orderkey + join custkey
    "orders_pctrank_in_segment",       # grouped exact rank (bucketed)
    "docs_top_quality_per_source",     # salted two-phase top-k
    # r7: hot l_partkey = a hub in the co-purchase graph — the exact
    # case degree-ordered orientation exists for (the hub's edges all
    # point TOWARD it, so it enumerates no wedges)
    "part_copurchase_jaccard",
    "part_copurchase_triangles",
    # r11 queue: hot user_id → every purchase of the celebrity user
    # shares its (user, time-bucket) interval-join key — the per-user
    # pair space is the quadratic risk the bucketing bounds
    "events_touch_attribution",
    # r8: hot o_custkey → one customer owns ~30% of orders; the spend
    # aggregate absorbs it map-side into ONE row, and the bucketed
    # grouped rank buckets on VALUE, so the megacustomer is just the
    # top-ranked row — flat is the expected reading
    "customer_mktseg_gini",
    # r8 streaming: hot user_id → 30% of all events merge into ONE
    # user's session_window state. The keyed-state shuffle partitions
    # by user, so the hot user's merge work lands on one task — the
    # canonical streaming skew risk. The aggregation itself is an
    # in-aggregate merge (sorted-run session coalescing), so the hot
    # task does O(hot rows) work, not O(hot rows²): a bounded ratio
    # with a visibly hotter max task is the expected honest reading.
    # (dedup/hourly/trending key on event_id / (window, type) — user
    # skew cannot reach their state keys, so they are not probed.)
    "events_stream_sessions",
    # r12 registrations with skew-model keys: hot l_partkey's fan-out
    # lands in ONE degree row (distinct agg absorbs map-side); hot
    # o_custkey's orders collapse into one CV row; hot user_id adds
    # one distinct vote per event type (overlap) and one lifecycle row
    # (growth accounting) — flat is the expected honest reading, the
    # probe verifies the aggregates actually absorb the hot key.
    "supplier_part_degree_profile",
    "customer_order_value_cv",
    "events_usertype_overlap",
    "events_growth_accounting",
    # r9: hot user_id in the STREAM-STREAM interval join — the join
    # state partitions by user, so the hot user's clicks all land in
    # one state partition, AND the output itself is quadratic per
    # user (every purchase × every preceding click within 1 h). The
    # 1-hour interval bound is what keeps the hot user's pair space
    # O(hot_rows × rows_per_hour), not O(hot_rows²) — this probe
    # measures that bound holding under a 30%-hot user.
    "events_stream_clicks",
    # r13 registrations (the r14-queue drain) with skew-model keys:
    # hot l_partkey makes ONE determinant value carry ~30% of lineitem
    # in the (l_partkey)→l_suppkey FD candidate — the distinct
    # aggregate dedups it map-side before the determinant groupBy, so
    # flat is the honest expected reading; hot o_custkey / user_id
    # shrink count_distinct inputs (two-stage partial distinct absorbs
    # the repeats map-side); hot documents.source concentrates the
    # corpus into one source whose tokens still spread across the 64
    # hash buckets (dsir) and whose docs still spread across value
    # deciles (calibration) — the probe verifies no per-source funnel
    # appears. (emb_matryoshka_recall reads only embeddings, which the
    # skew model does not rewrite — not probed.)
    "catalog_fd_profile",
    "catalog_column_stats",
    "docs_dsir_select",
    "docs_quality_calibration",
    # r13 bounded-state rewrite: hot user_id concentrates 30% of
    # events on one user's (user, day) groups — the exact layout the
    # two-level prefix collect exists for (level-1 state bounded per
    # input partition, level-2 groups carry ≤ 5·P structs)
    "events_top_paths",
]


def build(spark, variant: str) -> str:
    out_dir = os.path.join(OUT, variant)
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        df = spark.read.parquet(f"{BASE}/{t}.parquet")
        if variant == "skewed" and t in SKEWED:
            for col in SKEWED[t]:
                hot = df.agg(F.min(col).alias("m")).collect()[0]["m"]
                key_expr = (
                    F.crc32(F.col(col).cast("string")) if df.schema[col].dataType.simpleString() == "string"
                    else F.col(col)
                )
                df = df.withColumn(
                    col,
                    F.when(F.pmod(key_expr, F.lit(3)) == 0, F.lit(hot)).otherwise(F.col(col)),
                )
        if variant == "hot_text" and t == "documents":
            df = df.withColumn("text", F.expr(_HOT_TEXT_EXPR))
        df.repartition(N_FILES).write.mode("overwrite").parquet(f"{out_dir}/{t}.parquet")
    with open(marker, "w") as f:
        f.write("ok\n")
    return out_dir


#: hot variant → its (column label, ratio label) in the SCALE.md table
LABELS = {"skewed": ("skewed", "skew"), "hot_text": ("hot-text", "hot")}


def probe(spark, names: list[str], hot: str, block: str) -> None:
    """Run each query of ``names`` min-of-3 on the uniform layout and on
    the ``hot`` one, print one line per query and the SCALE.md table,
    and with --update-md write the table into SCALE.md's ``block``.

    The max-task column is the MAX single-task duration over a cell's
    runs — the honest hot-task ceiling: wall-clock flatness at sf0.1
    can hide a straggler absorbed by 32 idle slots, but the longest
    task cannot hide."""
    dirs = {v: build(spark, v) for v in ("uniform", hot)}
    ui = SparkUI(spark)
    ui.new_stages()  # absorb warmup/build stages
    rows = []
    for name in names:
        t, sh, mt = {}, {}, {}
        for v, d in dirs.items():
            s0 = ui.shuffle_write_bytes()
            t[v] = min(timed_run(spark, name, d) for _ in range(3))
            sh[v] = (ui.shuffle_write_bytes() - s0) / 3 / 1e6
            mt[v] = max((ui.max_task_ms(st) for st in ui.new_stages()), default=0.0) / 1e3
        ratio = t[hot] / t["uniform"] if t["uniform"] else float("nan")
        mratio = mt[hot] / mt["uniform"] if mt["uniform"] else float("nan")
        rows.append(
            (name, t["uniform"], t[hot], ratio, sh["uniform"], sh[hot],
             mt["uniform"], mt[hot], mratio)
        )
        print(
            f"{name:32s} uniform={t['uniform']:.2f}s/{sh['uniform']:.1f}MB "
            f"{hot}={t[hot]:.2f}s/{sh[hot]:.1f}MB ratio={ratio:.1f}x "
            f"maxtask={mt['uniform']:.2f}s->{mt[hot]:.2f}s ({mratio:.1f}x)",
            flush=True,
        )
    label, short = LABELS[hot]
    lines = [
        f"| query | uniform (s · MB) | {label} (s · MB) | time {short}/uniform "
        f"| max task (s) u→{hot[0]} | max-task ratio |",
        "|---|---|---|---|---|---|",
    ]
    for name, u, s, r, su, ss, mu, ms, mr in rows:
        lines.append(
            f"| `{name}` | {u:.2f} · {su:.1f} | {s:.2f} · {ss:.1f} | {r:.1f}× "
            f"| {mu:.2f} → {ms:.2f} | {mr:.1f}× |"
        )
    table = "\n".join(lines)
    print(table)
    if "--update-md" in sys.argv:
        _write_block(block, table)
        print(f"SCALE.md updated ({block})")


def main() -> None:
    spark = get_spark("skew-probe", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")), ui=True)
    warm_up(spark, BASE)
    if "--text-only" in sys.argv:
        probe(spark, TEXT_PROBES, "hot_text", "SKEW-PROBE-TEXT")
    else:
        probe(spark, PROBES, "skewed", "SKEW-PROBE")
    spark.stop()


def _write_block(name: str, table: str) -> None:
    """Replace the text between SCALE.md's ``<!-- {name}:BEGIN -->`` and
    ``<!-- {name}:END -->`` markers. The markers wrap only what a run
    measures (the table, plus scale_probe's ``local[N]`` line): the prose
    that explains it lives once in SCALE.md, outside them, so a hand
    edit to it survives every rerun. The one writer of SCALE.md blocks
    for both probes."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALE.md")
    begin, end = f"<!-- {name}:BEGIN -->", f"<!-- {name}:END -->"
    txt = open(path).read()
    if begin not in txt or end not in txt:
        raise SystemExit(f"SCALE.md has no {begin} ... {end} block to update")
    pre, rest = txt.split(begin, 1)
    post = rest.split(end, 1)[1]
    open(path, "w").write(f"{pre}{begin}\n{table}\n{end}{post}")


if __name__ == "__main__":
    main()
