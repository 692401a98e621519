"""bench.py output-contract tests (no Spark).

The driver's harness captures only the last 2000 chars of bench
stdout and parses the final line as JSON — round 4's full 78-query
line overflowed that window and the driver recorded parsed:null.
These tests pin the contract: the final line always fits and always
parses, for any headline size.
"""

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from bench import HEADLINE, TAIL_BUDGET, tail_line


def _base(times: dict) -> dict:
    fams: dict[str, float] = {}
    for i, name in enumerate(times):
        fam = f"fam{i % 11}"
        fams[fam] = round(fams.get(fam, 0.0) + times[name], 4)
    return {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 4),
        "unit": "sec",
        "queries": times,
        "families": fams,
        "sf": 0.1,
        "cpus": 32,
        "runs_per_query": 3,
        "subsec_runs_per_query": 7,
        "aggregation": "min",
        "dispersion_cold_inclusive": False,
        # the round-8 contention diagnostics ride every real payload —
        # the budget tests must model them or the 1900-char fit is
        # tested against a lighter line than the driver sees
        "anchor_s": 0.8975,
        "anchor_post_s": 0.9123,
        "anchor_mc_s": 1.7947,
        "anchor_mc_post_s": 1.8292,
        "run_dispersion_median": 1.406,
        "dispersion_def": "warm worst/best per query (cold run 1 excluded), median",
        "quiesce_ratio": 1.212,
        "quiesce_attempts": 1,
        "contention_suspect": False,
        # the r10 cross-capture weather gate rides every payload too
        "anchor_drift_vs_committed": 1.327,
        "anchor_drift_suspect": True,
        "anchor_def": "min-of-3 bit_xor(xxhash64(id)) over range(4000000000)",
        # the r15 shuffle-axis anchor + per-axis regime-split verdict
        # ride every payload too (r14 verdict items 2+5)
        "anchor_sh_s": 1.4118,
        "anchor_sh_post_s": 1.5426,
        "anchor_sh_def": (
            "min-of-3 repartition(2*cpus)+sortWithinPartitions of "
            "range(20000000) through the noop sink (shuffle/memory axis)"
        ),
        "regime_split_vs_committed": 1.02,
        "regime_split_suspect": False,
    }


def test_tail_line_fits_and_parses_at_current_headline_size():
    times = {name: 1.2345 for name in HEADLINE}
    line = tail_line(_base(times))
    assert len(line) <= TAIL_BUDGET <= 1999
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["unit"] == "sec"
    assert parsed["queries"]  # at least some per-query entries made it
    assert parsed["queries_full"] == "bench_full.json"
    # the contention self-diagnosis must survive tail truncation: a
    # flagged capture has to label itself IN the driver-visible line
    assert parsed["contention_suspect"] is False
    assert "anchor_mc_s" in parsed and "anchor_mc_post_s" in parsed
    # slowest-first: every included time >= every omitted time
    included = set(parsed["queries"])
    omitted = [t for n, t in times.items() if n not in included]
    if omitted and included:
        assert min(times[n] for n in included) >= max(omitted) - 1e-9


def test_tail_line_fits_even_with_hundreds_of_queries():
    times = {f"some_quite_long_query_name_{i:03d}": 0.1 + i / 997 for i in range(400)}
    line = tail_line(_base(times))
    assert len(line) <= TAIL_BUDGET
    parsed = json.loads(line)
    assert parsed["queries_omitted"] == len(times) - len(parsed["queries"])


def test_tail_line_includes_all_when_budget_allows():
    times = {f"q{i}": float(i) for i in range(5)}
    parsed = json.loads(tail_line(_base(times)))
    assert len(parsed["queries"]) == 5
    assert parsed["queries_omitted"] == 0


def test_tail_line_pins_previous_round_entries_first(tmp_path):
    # r16 (VERDICT r15 item 3): queries the previous round's driver
    # tail reported must stay in the line even when they got FAST —
    # otherwise each round's wins rotate out of the driver's common-set
    # comparison and the geomean over-counts churn spikes.
    times = {f"query_name_padded_out_{i:03d}": float(i) for i in range(200)}
    pin = ["query_name_padded_out_000", "query_name_padded_out_001"]  # the two FASTEST
    parsed = json.loads(tail_line(_base(times), pin=pin))
    for name in pin:
        assert name in parsed["queries"], f"pinned {name} dropped from the tail"
    # and the remaining budget still goes to the current slowest
    unpinned = [n for n in parsed["queries"] if n not in pin]
    assert unpinned and max(times[n] for n in times if n not in parsed["queries"]) <= min(
        times[n] for n in unpinned
    )
    # pin names not in this capture are ignored, never invented
    parsed = json.loads(tail_line(_base({"q1": 1.0}), pin=["ghost_query"]))
    assert "ghost_query" not in parsed["queries"]


def test_tail_line_long_pinned_name_does_not_hide_later_pins():
    # An entry that would overflow the budget is skipped, not the end
    # of packing: the shorter pinned names after it still get in.
    times = {f"q{i:02d}": float(i) for i in range(20)}
    long_name = "x" * 400
    times[long_name] = 100.0
    base = _base(times)
    fitted = len(tail_line(base, budget=10**6, pin=list(times)))
    budget = fitted - len(long_name) - 8  # room for everything but the long entry
    parsed = json.loads(tail_line(base, budget=budget, pin=[long_name, "q00", "q01"]))
    assert long_name not in parsed["queries"]
    assert {"q00", "q01"} <= set(parsed["queries"])
    assert parsed["queries_omitted"] == 1


def test_prev_round_tail_names_reads_highest_round(tmp_path):
    from bench import prev_round_tail_names

    (tmp_path / "BENCH_r08.json").write_text(
        json.dumps({"parsed": {"queries": {"old_q": 1.0}}})
    )
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"parsed": {"queries": {"new_q": 2.0, "other_q": 1.5}}})
    )
    # non-round captures (e.g. the 8-cpu scaling record) are ignored
    (tmp_path / "BENCH_r12_c8.json").write_text(
        json.dumps({"parsed": {"queries": {"c8_q": 9.0}}})
    )
    assert prev_round_tail_names(str(tmp_path)) == ["new_q", "other_q"]
    assert prev_round_tail_names(str(tmp_path / "nowhere")) == []


def test_geomean_vs_committed_covers_full_common_set():
    from bench import geomean_vs_committed

    prev = {"queries": {"a": 1.0, "b": 4.0, "c": 2.0}}
    # a doubled, b halved -> geomean exactly 1.0 over the common set;
    # d is new and ignored
    gm, n = geomean_vs_committed(prev, {"a": 2.0, "b": 2.0, "d": 9.0})
    assert (gm, n) == (1.0, 2)
    assert geomean_vs_committed(None, {"a": 1.0}) == (None, 0)
    assert geomean_vs_committed({"queries": {}}, {"a": 1.0}) == (None, 0)


# ---------------- bench_delta anchor selection (r8 verdict item 2) ----


def test_bench_delta_prefers_multicore_anchor():
    from tools.bench_delta import pick_anchors

    old = {"anchor_s": 0.59, "anchor_mc_s": 1.77}
    new = {"anchor_s": 1.18, "anchor_mc_s": 2.35}
    ao, an, field = pick_anchors(old, new, sc=False)
    assert (ao, an, field) == (1.77, 2.35, "anchor_mc_s")
    # pre-r8 capture without the mc anchor falls back to single-core
    ao, an, field = pick_anchors({"anchor_s": 0.59}, new, sc=False)
    assert (ao, an, field) == (0.59, 1.18, "anchor_s")
    # --sc forces the legacy denominator even when mc is present
    ao, an, field = pick_anchors(old, new, sc=True)
    assert (ao, an, field) == (0.59, 1.18, "anchor_s")


# ---------------- cross-capture anchor drift gate (r9 verdict item 3) --


def test_anchor_drift_flags_weather_regime_change():
    # The committed r9 capture was taken in a ~1.32x-slower VM session
    # (mc anchor 1.77 -> 2.35): the new gate must flag exactly that.
    from bench import anchor_drift

    ratio, suspect = anchor_drift({"anchor_mc_s": 1.77}, 2.35)
    assert suspect and ratio == 1.328
    # drift the other way (a FASTER session) flags too — deltas lie in
    # both directions
    ratio, suspect = anchor_drift({"anchor_mc_s": 2.35}, 1.77)
    assert suspect and ratio < 1.0
    # same-weather captures pass
    ratio, suspect = anchor_drift({"anchor_mc_s": 1.77}, 1.85)
    assert not suspect and ratio == 1.045
    # no prior capture / pre-mc-anchor capture: no basis, no flag
    assert anchor_drift(None, 2.0) == (None, False)
    assert anchor_drift({"anchor_s": 0.6}, 2.0) == (None, False)



def test_committed_capture_from_other_cpu_count_is_absent(tmp_path):
    # A base captured on 8 CPUs must not anchor a 32-CPU run: its
    # anchors and per-query times measure a different machine shape, so
    # drift, regime split and geomean read None/False instead.
    from bench import _committed_capture, anchor_drift, geomean_vs_committed, regime_split

    base = {"cpus": 8, "queries": {"q1": 1.0}, "anchor_mc_s": 2.0, "anchor_sh_s": 1.0}
    (tmp_path / "bench_full.json").write_text(json.dumps(base))
    assert _committed_capture(str(tmp_path), 8) == base
    prev = _committed_capture(str(tmp_path), 32)
    assert prev is None
    assert anchor_drift(prev, 1.0) == (None, False)
    assert regime_split(prev, 1.0, 2.0) == (None, False)
    assert geomean_vs_committed(prev, {"q1": 2.0}) == (None, 0)

def test_tail_line_carries_anchor_drift_flag():
    # a weather-flagged capture must label itself IN the driver-visible
    # line, same as contention_suspect
    times = {name: 1.2345 for name in HEADLINE}
    parsed = json.loads(tail_line(_base(times)))
    assert parsed["anchor_drift_suspect"] is True
    assert parsed["anchor_drift_vs_committed"] == 1.327


# ---------------- sub-second min-of-7 + dispersion fallback (r13) -----


def test_subsec_class_runs_min_of_seven():
    # r13 verdict item 4: the <1 s class gets 4 extra samples — min-of-7
    # at the default 3-run config — encoding the PLANS.md hand protocol
    from bench import SUBSEC_EXTRA_RUNS, total_runs_for

    assert SUBSEC_EXTRA_RUNS == 4
    assert total_runs_for(0.42, runs=3) == 7
    assert total_runs_for(0.999, runs=3) == 7
    assert total_runs_for(1.0, runs=3) == 3  # >=1 s: base runs only
    assert total_runs_for(5.3, runs=2) == 2
    assert total_runs_for(0.42, runs=2) == 6


def test_dispersion_fallback_never_silently_blind():
    # ADVICE r13: a 2-run config leaves one warm sample per >=1 s query
    # — the dispersion leg must fall back to the all-runs ratio (flagged
    # cold-inclusive), not report the 1.0 default
    from bench import dispersion_sample

    ratio, cold = dispersion_sample([3.0, 1.0, 1.2])  # warm pair exists
    assert abs(ratio - 1.2) < 1e-9 and cold is False
    ratio, cold = dispersion_sample([2.0, 1.0])  # one warm sample
    assert abs(ratio - 2.0) < 1e-9 and cold is True
    assert dispersion_sample([2.0]) == (None, False)  # no ratio is honest
    assert dispersion_sample([0.0, 0.0]) == (None, False)  # degenerate


# ---------------- anchor/raw disagreement gate (r14) ------------------


def test_bench_delta_flags_anchor_raw_regime_split(tmp_path):
    # r14: when the anchor moved differently from query throughput the
    # normalized total is an artifact — the delta tool must say TRUST
    # RAW (the r13->r14 capture-1 arbitration, automated)
    import subprocess

    def cap(queries, anchor):
        return {
            "queries": queries,
            "anchor_mc_s": anchor,
            "anchor_s": 0.8,
            "action": "noop_write",
        }

    old = tmp_path / "old.json"
    split = tmp_path / "split.json"
    same = tmp_path / "same.json"
    old.write_text(json.dumps(cap({"q1": 1.0, "q2": 2.0}, 2.9)))
    # queries flat, anchor 15% faster -> normalized reads ~1.18x fake
    split.write_text(json.dumps(cap({"q1": 1.0, "q2": 2.0}, 2.45)))
    # same-weather pair: no warning
    same.write_text(json.dumps(cap({"q1": 1.02, "q2": 2.02}, 2.92)))
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_delta.py"), str(old), str(split)],
        capture_output=True, text=True, cwd=repo,
    ).stdout
    assert "TRUST RAW" in out
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_delta.py"), str(old), str(same)],
        capture_output=True, text=True, cwd=repo,
    ).stdout
    assert "TRUST RAW" not in out


# ---------------- per-axis regime-split gate (r15, verdict r14 #2/#5) -


def test_regime_split_flags_cross_axis_drift():
    # The r14 incident: two same-code captures a median 1.27x apart in
    # raw seconds while the CPU anchors agreed within 3% — the shuffle
    # axis moved alone. The per-axis gate must flag exactly that.
    from bench import regime_split

    prev = {"anchor_mc_s": 2.9, "anchor_sh_s": 1.4}
    # CPU axis flat (3%), shuffle axis 1.30x -> split
    ratio, suspect = regime_split(prev, 2.99, 1.4 * 1.30 * (2.99 / 2.9))
    assert suspect and ratio == 1.3
    # both axes move together 1.4x (ordinary weather): NOT a split —
    # that's ANCHOR_DRIFT_MAX's business, not this gate's
    ratio, suspect = regime_split(prev, 2.9 * 1.4, 1.4 * 1.4)
    assert not suspect and ratio == 1.0
    # split the other way (shuffle axis got FASTER) flags too
    ratio, suspect = regime_split(prev, 2.9, 1.4 / 1.3)
    assert suspect and ratio < 1.0
    # no prior capture / prior capture without the sh anchor / this
    # capture without one: no basis, no flag
    assert regime_split(None, 2.9, 1.4) == (None, False)
    assert regime_split({"anchor_mc_s": 2.9}, 2.9, 1.4) == (None, False)
    assert regime_split(prev, 2.9, None) == (None, False)


def test_bench_delta_warns_on_per_axis_anchor_split(tmp_path):
    # bench_delta must surface the axis decoupling when both captures
    # carry the shuffle anchor — one denominator cannot price both
    # CPU-bound and shuffle-bound queries in a split regime
    import subprocess

    def cap(anchor_mc, anchor_sh):
        return {
            "queries": {"q1": 1.0, "q2": 2.0},
            "anchor_mc_s": anchor_mc,
            "anchor_sh_s": anchor_sh,
            "anchor_s": 0.8,
            "action": "noop_write",
        }

    old = tmp_path / "old.json"
    split = tmp_path / "split.json"
    same = tmp_path / "same.json"
    old.write_text(json.dumps(cap(2.9, 1.4)))
    split.write_text(json.dumps(cap(2.9, 1.4 * 1.4)))  # shuffle axis alone
    same.write_text(json.dumps(cap(2.95, 1.45)))
    repo = Path(__file__).resolve().parents[1]
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_delta.py"), str(old), str(split)],
        capture_output=True, text=True, cwd=repo,
    ).stdout
    assert "per-axis regime split" in out
    out = subprocess.run(
        [sys.executable, str(repo / "tools" / "bench_delta.py"), str(old), str(same)],
        capture_output=True, text=True, cwd=repo,
    ).stdout
    assert "per-axis regime split" not in out


# ---------------- broadcast audit metric parsing (r10) ----------------


def test_broadcast_audit_parses_humanized_row_metrics():
    from tools.broadcast_audit import parse_rows

    assert parse_rows("6,800") == 6800
    assert parse_rows("120,180") == 120180
    # min/med/max multiline form: the largest value wins
    assert parse_rows("total (min, med, max)\n1,000 (10, 50, 900)") == 1000
    assert parse_rows("") == 0
