"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print
ONE JSON line with per-query wall times.

Each query is forced with a noop-sink write (the FULL result is
computed, every column, and discarded executor-side; no driver
materialization skew). Until round 11 the action was count(), which
Catalyst partially PRUNES — OptimizeOneRowPlan collapses unions of
ungrouped aggregates and map-only projections collapse to parquet
row-count shortcuts, so those queries' times measured less than the
real query (the scale probe caught the same bug: 0.0 MB "shuffle" vs
8.9-25.9 MB real for the catalog profilers). The action switch makes
affected queries READ SLOWER from r11-wave-2 on; the transition is
quantified in README "Reading bench numbers" from a same-session
count-vs-noop double capture, and bench_full.json carries an
"action" field so cross-round deltas can refuse mixed-action
comparisons. A warmup run of the flagship query pays JVM/codegen
startup once so timings reflect the plans, not the JIT. Each query
runs $SPARK_GRAFT_BENCH_RUNS times (default 3) and reports the
per-query MIN — one noisy run on a shared driver machine can
otherwise fake a multi-x regression (round 2 recorded 8.68 s for a
query the judge re-measured at 1.53 s).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lakehouse_architecture_transaction_spark.plans import REGISTRY
from lakehouse_architecture_transaction_spark.session import get_spark
from lakehouse_architecture_transaction_spark.measure import timed_run, warm_up

#: The headline set: every query registered with ``headline=True``, in
#: registry order. Its family (the plan module that defines it) keys the
#: per-family subtotals, so regressions are attributable at a glance.
HEADLINE = [name for name, spec in REGISTRY.items() if spec.headline]

#: The driver's harness keeps only the LAST 2000 chars of bench stdout
#: (BENCH_r04.json: tail_len 2000, parsed null — round 4's 78-query
#: line overflowed the window and the driver could not parse it).
#: Budget the final line below that with headroom.
TAIL_BUDGET = 1900


def tail_line(base: dict, budget: int = TAIL_BUDGET, pin: tuple | list = ()) -> str:
    """The single stdout JSON line, guaranteed ≤ ``budget`` chars.

    Per-family subtotals and the headline total always fit; per-query
    entries are added in order, each one that would overflow the budget
    skipped (the full per-query dict is in bench_full.json, referenced
    by ``queries_full``).

    Entry order (r16, VERDICT r15 item 3): the ``pin`` names — the
    queries the PREVIOUS round's driver-parsed tail reported — are
    added FIRST (slowest-first among themselves), then the remaining
    queries slowest-first. Without the pin, a query left the reported
    set by getting FASTER and entered it by spiking, so the driver's
    common-set comparison rotated with churn and systematically
    dropped each round's wins from its own geomean. Pinning the
    previous set makes round-over-round per-query deltas stable; new
    slow entries still appear in the remaining budget."""
    times = base["queries"]
    slim = dict(base)
    slim["queries"] = {}
    slim["queries_full"] = "bench_full.json"
    slim["queries_omitted"] = len(times)
    line = json.dumps(slim, separators=(",", ":"))
    if len(line) > budget:
        # degenerate guard: even the no-queries record is over budget —
        # shed the optional fields until the line fits (metric/value/
        # unit/sf/queries are the driver contract and always stay)
        for field in ("anchor_def", "anchor_sh_def", "families", "aggregation", "runs_per_query", "cpus"):
            slim.pop(field, None)
            line = json.dumps(slim, separators=(",", ":"))
            if len(line) <= budget:
                break
    pinned = [n for n in pin if n in times]
    rest = [n for n in times if n not in set(pinned)]
    order = sorted(pinned, key=times.get, reverse=True) + sorted(
        rest, key=times.get, reverse=True
    )
    for name in order:
        trial = dict(slim)
        trial["queries"] = {**slim["queries"], name: round(times[name], 2)}
        trial["queries_omitted"] = len(times) - len(trial["queries"])
        t_line = json.dumps(trial, separators=(",", ":"))
        if len(t_line) > budget:
            continue  # a shorter entry later in the order may still fit
        slim, line = trial, t_line
    return line


def prev_round_tail_names(repo_dir: str) -> list[str]:
    """The query names the LAST round's driver-parsed tail reported
    (highest-numbered BENCH_r{N}.json, ``parsed.queries`` keys) — the
    pin set for :func:`tail_line`. Returns [] when no prior round
    record exists or it carried no per-query entries. A rerun within a
    round, once that round's own BENCH_r{N}.json exists, pins to that
    round's own tail (the highest-numbered record); the pin set is then
    self-stable across the round's reruns."""
    import glob
    import re

    best, names = -1, []
    for path in glob.glob(os.path.join(repo_dir, "BENCH_r*.json")):
        m = re.fullmatch(r"BENCH_r(\d+)\.json", os.path.basename(path))
        if not m or int(m.group(1)) <= best:
            continue
        try:
            with open(path) as f:
                parsed = json.load(f).get("parsed") or {}
        except (OSError, ValueError):
            continue
        q = parsed.get("queries") or {}
        if q:
            best, names = int(m.group(1)), list(q)
    return names


def geomean_vs_committed(prev: dict | None, times: dict) -> tuple[float | None, int]:
    """Geometric mean of now/prev per-query seconds over ALL queries
    common with the last committed capture (ratio > 1 = slower), plus
    the common-set size. Unlike the driver's tail-derived common set,
    this covers the full headline, so it cannot rotate with the
    reported tail (VERDICT r15 item 3)."""
    import math

    if not prev:
        return None, 0
    old = prev.get("queries") or {}
    logs = [
        math.log(times[n] / float(old[n]))
        for n in times
        if n in old and times[n] > 0 and float(old[n]) > 0
    ]
    if not logs:
        return None, 0
    return round(math.exp(sum(logs) / len(logs)), 3), len(logs)


#: Constant-work CPU anchor: xxhash64 over a fixed 4B-row range,
#: sf-independent and data-independent. This VM's throughput swings
#: ~40% day to day (r4→r5 read as a uniform 1.52× "slowdown" on
#: untouched queries), so raw cross-round totals don't compare;
#: query_time / anchor_s does — the anchor moves with the VM weather
#: and cancels it. See README "Reading bench numbers".
ANCHOR_ROWS = 4_000_000_000


def measure_anchor(spark, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        # bit_xor, not sum: 4B signed hashes overflow a long under ANSI
        spark.range(ANCHOR_ROWS).selectExpr("bit_xor(xxhash64(id))").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


#: Multi-core anchor: same constant work fanned over every core. The
#: single-threaded anchor is blind to contention on the OTHER cores —
#: the BENCH_r07 failure mode (queries 2× while anchor_s read normal).
#: This one slows down with ANY multi-core load, so a pre/post pair
#: around the suite brackets the capture's true parallel throughput.
ANCHOR_MC_ROWS = 16_000_000_000


def measure_anchor_mc(spark, runs: int, cpus: int) -> float:
    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        spark.range(0, ANCHOR_MC_ROWS, 1, cpus).selectExpr(
            "bit_xor(xxhash64(id))"
        ).collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


#: Shuffle/memory-bound anchor (r14 verdict item 2): the xxhash fold
#: anchors span only the integer-ALU axis — the r14 incident was two
#: UNFLAGGED same-code captures a median 1.27× apart in raw seconds
#: while their CPU anchors agreed within 3% (the resource that moved
#: was invisible to them). This anchor does constant SHUFFLE + sort
#: work instead: hash-repartition a fixed range across 2×cpus
#: partitions, sort within partitions, discard through the noop sink
#: (the house measurement action). It moves with memory-bandwidth /
#: shuffle-path weather the ALU anchors cannot see. 20M rows ≈ 1.4 s
#: at this VM's healthy regime — comparable weight to the mc anchor.
ANCHOR_SH_ROWS = 20_000_000


def measure_anchor_shuffle(spark, runs: int, cpus: int) -> float:
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(runs):
        t0 = time.perf_counter()
        (
            spark.range(0, ANCHOR_SH_ROWS, 1, cpus)
            .repartition(2 * cpus, F.col("id"))
            .sortWithinPartitions("id")
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


#: Cross-capture PER-AXIS regime-split gate (r14 verdict items 2+5):
#: single-axis drift (both anchors moved together) is ordinary VM
#: weather and already handled by ANCHOR_DRIFT_MAX + normalization.
#: A SPLIT — the shuffle anchor drifting while the CPU anchor holds —
#: is the r14 failure mode: normalizing by the CPU anchor then
#: silently mis-prices every shuffle-bound query. 1.25 catches the
#: observed 1.27× incident class while staying above the single-axis
#: drift gate (1.2), since the ratio-of-drifts divides out common
#: weather.
REGIME_SPLIT_MAX = 1.25


def regime_split(
    prev: dict | None, anchor_mc_s: float, anchor_sh_s: float | None
) -> tuple[float | None, bool]:
    """Compare this capture's CPU-axis drift vs shuffle-axis drift
    against the previous committed capture. Returns (ratio, suspect):
    ratio = (anchor_sh_s/prev_sh) / (anchor_mc_s/prev_mc) — 1.0 when
    both axes moved together, None when either capture lacks an
    anchor; suspect = ratio outside [1/REGIME_SPLIT_MAX,
    REGIME_SPLIT_MAX]. A flagged capture labels itself so cross-round
    deltas are arbitrated per-axis (or refused) instead of normalized
    by the blind axis."""
    if not prev or not anchor_sh_s:
        return None, False
    old_mc, old_sh = prev.get("anchor_mc_s"), prev.get("anchor_sh_s")
    if not old_mc or not old_sh:
        return None, False
    drift_cpu = anchor_mc_s / float(old_mc)
    drift_sh = anchor_sh_s / float(old_sh)
    if drift_cpu <= 0:
        return None, False
    ratio = round(drift_sh / drift_cpu, 3)
    return ratio, ratio > REGIME_SPLIT_MAX or ratio < 1.0 / REGIME_SPLIT_MAX


#: Cross-capture anchor drift gate (r9 verdict item 3): the committed
#: r9 capture was taken in a ~1.32×-slower VM session than r8's, which
#: made every like-for-like delta read as a regression until the
#: anchors were compared. contention_suspect only guards INTRA-run
#: weather; this guards the BETWEEN-captures kind.
ANCHOR_DRIFT_MAX = 1.2


def anchor_drift(prev: dict | None, anchor_mc_s: float) -> tuple[float | None, bool]:
    """Compare this capture's multi-core anchor against the previous
    committed capture's. Returns (ratio, suspect): ratio = new/old
    (None when no prior capture or no mc anchor in it), suspect =
    ratio outside [1/ANCHOR_DRIFT_MAX, ANCHOR_DRIFT_MAX]. A flagged
    capture labels itself so cross-round deltas are read from
    same-weather captures (or mc-normalized, knowing the anchors
    differ)."""
    if not prev:
        return None, False
    old = prev.get("anchor_mc_s")
    if not old:
        return None, False
    ratio = round(anchor_mc_s / float(old), 3)
    return ratio, ratio > ANCHOR_DRIFT_MAX or ratio < 1.0 / ANCHOR_DRIFT_MAX


def _committed_capture(repo_dir: str, cpus: int) -> dict | None:
    """The last COMMITTED bench_full.json (git HEAD), falling back to
    the on-disk file (pre-overwrite) outside a usable git context.

    A capture taken on a different number of CPUs is treated as absent:
    its anchors and per-query times are not comparable with this run, so
    the drift, regime-split and geomean fields read None/False instead
    of comparing across core counts."""
    import subprocess

    prev = None
    try:
        out = subprocess.run(
            ["git", "-C", repo_dir, "show", "HEAD:bench_full.json"],
            capture_output=True,
            text=True,
            timeout=10,
        )
        if out.returncode == 0 and out.stdout.strip():
            prev = json.loads(out.stdout)
    except (OSError, ValueError, subprocess.SubprocessError):
        pass
    if prev is None:
        try:
            with open(os.path.join(repo_dir, "bench_full.json")) as f:
                prev = json.load(f)
        except (OSError, ValueError):
            return None
    return prev if prev.get("cpus") == cpus else None


#: Sub-second queries run min-of-(runs+4) — min-of-7 at the default
#: 3-run config (r13 verdict item 4): three rounds of rotating-tail
#: adjudication (r11-r13) all resolved to scheduler jitter on < 1 s
#: queries — 0.1-0.15 s ABSOLUTE swings that read as 1.1-1.5× ratios
#: and consumed a hand min-of-7 probe each round. The spread lives
#: almost entirely in that tail, where jitter is a large FRACTION of
#: the measurement — four extra samples tighten min-of-N where it's
#: cheapest (< ~1 s each) and noisiest, without touching the
#: multi-second heavyweights. This encodes the PLANS.md hand protocol
#: so tail arbitration stops being a per-round manual task.
SUBSEC_EXTRA_RUNS = 4


def total_runs_for(best_so_far: float, runs: int) -> int:
    """Samples to take for a query whose min after ``runs`` runs is
    ``best_so_far``: the sub-second class gets SUBSEC_EXTRA_RUNS more
    (min-of-7 at the default config)."""
    return runs + SUBSEC_EXTRA_RUNS if best_so_far < 1.0 else runs


def dispersion_sample(samples: list[float]) -> tuple[float | None, bool]:
    """Per-query worst/best ratio feeding the contention gate's
    dispersion leg, as (ratio, cold_inclusive).

    Dispersion is a MACHINE-CHURN signal, so it reads the WARM runs
    only (r12 verdict item 5): run 1 pays each query's one-time
    Catalyst analysis + first-touch costs and measures cold/warm ≈
    1.9-3.1× on this VM even on an idle machine — including it pinned
    the median at ~1.5 regardless of weather, while the warm-run
    spread (the actual churn signal) sits at 1.15-1.3 when quiet.
    With a 2-run config a >= 1 s query has ONE warm sample and no
    warm ratio — fall back to the all-runs ratio, flagged
    cold_inclusive=True, rather than letting the dispersion leg go
    silently blind at the 1.0 default (ADVICE r13). A single-sample
    query yields (None, False): no ratio is honest there."""
    warm = samples[1:]
    if len(warm) > 1 and min(warm) > 0:
        return max(warm) / min(warm), False
    if len(samples) > 1 and min(samples) > 0:
        return max(samples) / min(samples), True
    return None, False


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    spark = get_spark("bench", cpus=cpus)
    warm_up(spark, sf_dir)

    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    # Pre-capture quiesce gate (r12 verdict item 5): don't START a
    # capture while the machine is visibly churning — two back-to-back
    # multi-core anchor blocks must agree within the same 1.35× the
    # post-capture contention gate uses; otherwise wait and re-probe
    # (3 attempts), and record the final probe so a capture that began
    # under churn says so in its own payload.
    quiesce_ratio = float("inf")
    quiesce_attempts = 0
    for _attempt in range(3):
        quiesce_attempts += 1
        qa = measure_anchor_mc(spark, 1, cpus)
        qb = measure_anchor_mc(spark, 1, cpus)
        quiesce_ratio = round(max(qa, qb) / min(qa, qb), 3)
        if quiesce_ratio <= 1.35:
            break
        time.sleep(10.0)
    anchor_s = measure_anchor(spark, runs)
    anchor_mc_s = measure_anchor_mc(spark, runs, cpus)
    anchor_sh_s = measure_anchor_shuffle(spark, runs, cpus)
    times: dict[str, float] = {}
    dispersions: list[float] = []
    total = 0.0
    dispersion_cold_inclusive = False
    for name in HEADLINE:
        samples = [timed_run(spark, name, sf_dir) for _ in range(runs)]
        samples += [timed_run(spark, name, sf_dir) for _ in range(total_runs_for(min(samples), runs) - runs)]
        times[name] = round(min(samples), 4)
        total += times[name]
        ratio, cold = dispersion_sample(samples)
        if ratio is not None:
            dispersions.append(ratio)
            dispersion_cold_inclusive = dispersion_cold_inclusive or cold

    # Contention self-diagnosis (VERDICT r7 item 4): the BENCH_r07
    # capture read 2× on every uncontaminated re-run while its
    # single-threaded anchor was normal — multi-core contention the
    # 1-thread anchor can't see. Three independent signals, each
    # thresholded ABOVE its measured idle-machine variance (min-of-3
    # blocks swing ~46% single-thread / ~21% multi-core back-to-back
    # on this VM, so tighter gates would cry wolf on clean captures):
    #   1. pre/post MULTI-core anchor disagreement > 1.35×
    #   2. pre/post single-thread anchor disagreement > 1.5×
    #   3. median per-query worst/best run ratio > 1.6 (min-of-3 only
    #      hides noise when at least one run is clean; under sustained
    #      churn all three runs disagree)
    # A flagged capture labels itself; the README delta recipe refuses
    # it rather than normalizing it.
    anchor_post_s = measure_anchor(spark, runs)
    anchor_mc_post_s = measure_anchor_mc(spark, runs, cpus)
    anchor_sh_post_s = measure_anchor_shuffle(spark, runs, cpus)
    # With no ratios at all (a 1-run config) the dispersion leg has no
    # evidence: report null, not a fake-clean 1.0 (the ADVICE r13
    # blind-default class), and let the anchor legs carry the gate.
    disp = sorted(dispersions)[len(dispersions) // 2] if dispersions else None
    contention_suspect = (
        max(anchor_mc_s, anchor_mc_post_s) / min(anchor_mc_s, anchor_mc_post_s) > 1.35
        or max(anchor_s, anchor_post_s) / min(anchor_s, anchor_post_s) > 1.5
        # 4th leg (r14 verdict item 2): the shuffle-axis anchor moved
        # mid-capture — churn on the memory/shuffle path the ALU legs
        # can't see. 1.5 sits above the CPU legs' thresholds because
        # the shuffle anchor is the noisiest of the three on an idle
        # box (its work touches the most shared machinery).
        or max(anchor_sh_s, anchor_sh_post_s) / min(anchor_sh_s, anchor_sh_post_s) > 1.5
        or (disp is not None and disp > 1.6)
    )

    families: dict[str, float] = {}
    for name, t in times.items():
        fam = REGISTRY[name].family
        families[fam] = round(families.get(fam, 0.0) + t, 4)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    base = {
        "metric": "headline_queries_total",
        "value": round(total, 4),
        "unit": "sec",
        "queries": times,
        "families": families,
        "sf": float(sf) if sf else None,
        "cpus": cpus,
        "runs_per_query": runs,
        "subsec_runs_per_query": runs + SUBSEC_EXTRA_RUNS,
        "aggregation": "min",
        "action": "noop_write",
        "anchor_s": anchor_s,
        "anchor_post_s": anchor_post_s,
        "anchor_mc_s": anchor_mc_s,
        "anchor_mc_post_s": anchor_mc_post_s,
        "anchor_sh_s": anchor_sh_s,
        "anchor_sh_post_s": anchor_sh_post_s,
        "anchor_sh_def": (
            f"min-of-{runs} repartition(2*cpus)+sortWithinPartitions of "
            f"range({ANCHOR_SH_ROWS}) through the noop sink (shuffle/memory axis)"
        ),
        "run_dispersion_median": round(disp, 3) if disp is not None else None,
        "dispersion_def": (
            "all-runs worst/best per query (COLD-INCLUSIVE fallback: <3 runs"
            " leaves no warm pair), median"
            if dispersion_cold_inclusive
            else "warm worst/best per query (cold run 1 excluded), median"
        ),
        "dispersion_cold_inclusive": dispersion_cold_inclusive,
        "quiesce_ratio": quiesce_ratio,
        "quiesce_attempts": quiesce_attempts,
        "contention_suspect": contention_suspect,
        "anchor_def": f"min-of-{runs} bit_xor(xxhash64(id)) over range({ANCHOR_ROWS})",
    }
    # Cross-capture weather gate (r9 verdict item 3): compare this
    # capture's mc anchor against the last committed one's and label
    # the capture when the machine was in a different regime — deltas
    # should then come from same-anchor captures (README recipe).
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    prev_capture = _committed_capture(repo_dir, cpus)
    drift_ratio, drift_suspect = anchor_drift(prev_capture, anchor_mc_s)
    base["anchor_drift_vs_committed"] = drift_ratio
    base["anchor_drift_suspect"] = drift_suspect
    if drift_suspect:
        print(
            f"WARNING: anchor_mc_s drifted {drift_ratio}x vs the last committed "
            "capture — different machine weather; read cross-round deltas from "
            "same-anchor captures (tools/bench_delta.py normalizes, but flag up).",
            file=sys.stderr,
        )
    # Per-axis regime-split verdict IN the capture (r14 verdict item
    # 5): a capture whose shuffle axis drifted while its CPU axis held
    # says so itself, so the commit-time checklist can refuse it like
    # contention_suspect instead of discovering the split at
    # comparison time (bench_delta's TRUST-RAW warning).
    split_ratio, split_suspect = regime_split(prev_capture, anchor_mc_s, anchor_sh_s)
    base["regime_split_vs_committed"] = split_ratio
    base["regime_split_suspect"] = split_suspect
    # Full-headline geomean vs the committed capture (r16, VERDICT r15
    # item 3): a tail-rotation-proof round-over-round scalar in the
    # driver-visible line itself.
    gm, gm_n = geomean_vs_committed(prev_capture, times)
    base["geomean_vs_committed"] = gm
    base["geomean_n_common"] = gm_n
    if split_suspect:
        print(
            f"WARNING: per-axis regime split vs the last committed capture — "
            f"shuffle-axis drift / CPU-axis drift = {split_ratio}x. CPU-anchor "
            "normalization mis-prices shuffle-bound queries in this regime; "
            "arbitrate per-axis or retake the capture.",
            file=sys.stderr,
        )
    # Full per-query record → bench_full.json (the driver's harness
    # captures only the LAST 2000 chars of stdout — round 4's 78-query
    # line overflowed that window and the driver recorded parsed:null).
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_full.json"), "w") as f:
        json.dump(base, f, indent=1, sort_keys=True)
        f.write("\n")
    # The three *_def strings are static documentation (~270 chars)
    # that bench_full.json already carries — shedding them from the
    # stdout line only buys ~9 more per-query entries inside the
    # driver's 2000-char window. Every NUMBER the driver parsed in
    # prior rounds is still present (r16; additive change otherwise).
    tail_base = {
        k: v
        for k, v in base.items()
        if k not in ("anchor_def", "anchor_sh_def", "dispersion_def")
    }
    print(tail_line(tail_base, pin=prev_round_tail_names(repo_dir)))
    spark.stop()


if __name__ == "__main__":
    main()
