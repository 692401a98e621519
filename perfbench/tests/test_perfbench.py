"""The benchmark's own tests: generator determinism, the output checks,
and the span self-time arithmetic. No Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import check, gen
from perfbench.trace import Span, self_times
from perfbench.workloads import tail

LAKE = dict(orders=600, events=500, docs=40, vecs=30)


def _cdc_files(seed: int, root: str) -> tuple[list, dict[str, bytes]]:
    base = gen.clean_tables(seed, 2000)
    drops = gen.cdc_drops(seed, base, 2)
    for i, d in enumerate(drops):
        gen.land(d, os.path.join(root, f"c{i}"))
    gen.write_lake(gen.lake_tables(seed, **LAKE), os.path.join(root, "lake"))
    files = {}
    for dirpath, _dirs, names in os.walk(root):
        for n in names:
            path = os.path.join(dirpath, n)
            with open(path, "rb") as f:
                files[os.path.relpath(path, root)] = f.read()
    return [d.expected for d in drops], files


def test_same_seed_same_files_and_expectations(tmp_path):
    exp_a, files_a = _cdc_files(7, str(tmp_path / "a"))
    exp_b, files_b = _cdc_files(7, str(tmp_path / "b"))
    assert exp_a == exp_b
    assert files_a == files_b


def test_other_seed_other_files_and_expectations(tmp_path):
    exp_a, files_a = _cdc_files(7, str(tmp_path / "a"))
    exp_b, files_b = _cdc_files(8, str(tmp_path / "b"))
    assert exp_a != exp_b
    assert sorted(files_a) == sorted(files_b)
    constant = ("corrupt", "region", "nation")  # the same in every lake
    assert all(files_a[name] != files_b[name] for name in files_a if not any(c in name for c in constant))


def test_model_applies_rules_in_order_and_collapses_duplicates():
    model = gen.LakeModel()
    ts = pa.array([0, 0, None, 0, 0, 0], pa.timestamp("us"))
    orders = pa.table(
        {
            "o_orderkey": pa.array([1, None, 3, 4, 5, 5], pa.int64()),
            "o_orderdate": ts,
            "o_totalprice": [10.0, 10.0, -1.0, 0.0, 2.5, 2.5],
        }
    )
    stage = model.apply("orders", orders)
    assert stage == {"rows_in": 6, "rejected": 3, "valid": 2, "table_rows": 2}
    assert model.rejected["orders"] == {"Null o_orderkey": 1, "Invalid timestamp": 1, "Non-positive o_totalprice": 1}
    assert model.curated["orders"] == {1: 1000, 5: 250}


def test_last_cdc_cycle_lands_a_corrupt_file():
    drops = gen.cdc_drops(3, gen.clean_tables(3, 2000), 3)
    assert [d.expected["quarantined"] for d in drops] == [[], [], [gen.CORRUPT_NAME]]
    stages = drops[0].expected["stages"]
    assert all(s["rejected"] > 0 for s in stages.values())


def _write_lake(root: str, base: dict[str, pa.Table]) -> None:
    for ds, table in base.items():
        path = os.path.join(root, "curated", ds)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
        with open(os.path.join(path, "_schema.json"), "w") as f:  # sidecars are not data
            f.write("{}")


def test_checker_accepts_the_expected_lake(tmp_path):
    base = gen.clean_tables(4, 1000)
    _write_lake(str(tmp_path), base)
    expected = gen.preloaded_model(base).snapshot()
    assert check.compare_lake(expected, check.lake_summary(str(tmp_path))) == []


@pytest.mark.parametrize("corruption", ["price", "lost_row", "rejected_zone"])
def test_checker_flags_a_corrupted_lake(tmp_path, corruption):
    base = gen.clean_tables(4, 1000)
    expected = gen.preloaded_model(base).snapshot()
    if corruption == "price":
        prices = base["orders"]["o_totalprice"].to_pylist()
        prices[17] += 0.01
        base["orders"] = base["orders"].set_column(3, "o_totalprice", pa.array(prices))
    elif corruption == "lost_row":
        base["order_items"] = base["order_items"].slice(1)
    _write_lake(str(tmp_path), base)
    if corruption == "rejected_zone":
        path = tmp_path / "rejected" / "orders"
        os.makedirs(path)
        pq.write_table(pa.table({"validation_errors": ["Null o_orderkey"]}), str(path / "part-0.parquet"))
    errors = check.compare_lake(expected, check.lake_summary(str(tmp_path)))
    assert len(errors) == 1
    zone = "rejected/orders" if corruption == "rejected_zone" else "tables/"
    assert errors[0].startswith(zone)


class _Result:
    """Stands in for a Spark DataFrame: ``columns`` and ``collect``."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


def test_checker_flags_a_wrong_query_result():
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    oracle = gen.rowset_digest(["k", "name", "v"], list(reversed(rows)))
    assert check.compare_query("q", oracle, _Result(["k", "name", "v"], rows)) == []
    wrong = _Result(["k", "name", "v"], [(1, "a", 0.5), (2, "b", 1.2500001)])
    assert check.compare_query("q", oracle, wrong) != []
    assert check.compare_query("q", "0" * 16, _Result(["k", "name", "v"], rows)) != []


def _span(sid, start, end, parent=None):
    return Span(sid, f"s{sid}", "x", start, parent, 0, end)


def test_self_time_subtracts_children():
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 2, 3, 1), _span(3, 5, 9, 0)]
    selfs = self_times(spans)
    assert selfs == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    # nested, non-overlapping spans: the self times add up to the root's wall time
    assert sum(selfs.values()) == pytest.approx(spans[0].duration)


def test_self_time_counts_overlapping_children_once_and_clips_them():
    spans = [_span(0, 0, 10), _span(1, 1, 4, 0), _span(2, 3, 6, 0), _span(3, 8, 12, 0)]
    assert self_times(spans)[0] == pytest.approx(10 - 5 - 2)


def test_tail_percentile_keeps_ten_samples_beyond_it():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100)
    value, pct = tail([float(i) for i in range(40)])
    assert pct == 75 and value == pytest.approx(29.25)
