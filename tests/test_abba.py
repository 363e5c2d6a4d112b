"""The A/B driver's verdict rule and its benchmark-identity guard, on
synthetic samples: no Spark, no subprocess."""

from __future__ import annotations

import json

import pytest

import abba

PARENT = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.1, 9.9]


def test_gain_needs_nine_in_ten_wins_and_a_gap_past_the_parent_iqr():
    faster = [x - 1.0 for x in PARENT]
    v = abba.verdict(PARENT, faster, "lower", 0.25)
    assert (v["wins"], v["pairs"], v["verdict"]) == (10, 10, "gain")

    # 8 wins and 2 losses: the median gap alone is not a gain
    mixed = faster[:8] + [x + 1.0 for x in PARENT[8:]]
    assert abba.verdict(PARENT, mixed, "lower", 0.25)["verdict"] == "no regression"


def test_ties_count_for_neither_side():
    # 8 wins and 2 ties are 8 wins in 10 pairs, short of 9
    tied = [x - 1.0 for x in PARENT[:8]] + PARENT[8:]
    v = abba.verdict(PARENT, tied, "lower", 0.25)
    assert v["wins"] == 8
    assert v["verdict"] == "no regression"


def test_gain_needs_the_median_gap_to_exceed_the_parent_iqr():
    # every pair wins, but by less than the parent's interquartile range
    q1, _, q3 = abba.quartiles(PARENT)
    nudged = [x - (q3 - q1) / 4 for x in PARENT]
    v = abba.verdict(PARENT, nudged, "lower", 0.25)
    assert v["wins"] == 10
    assert v["verdict"] == "no regression"


def test_better_higher_flips_the_direction():
    v = abba.verdict(PARENT, [x + 1.0 for x in PARENT], "higher", 0.25)
    assert v["verdict"] == "gain"
    assert abba.verdict(PARENT, [x - 3.0 for x in PARENT], "higher", 0.25)["verdict"] == "regression"


def test_worse_median_past_the_bound_is_a_regression():
    slower = [x * 1.3 for x in PARENT]
    assert abba.verdict(PARENT, slower, "lower", 0.25)["verdict"] == "regression"
    # worse, but inside the bound
    assert abba.verdict(PARENT, [x * 1.2 for x in PARENT], "lower", 0.25)["verdict"] == "no regression"


def test_wide_parent_spread_is_unresolved_unless_the_change_dominates():
    wide = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]  # IQR / median = 55 %
    v = abba.verdict(wide, list(wide), "lower", 0.25)
    assert v["verdict"] == "unresolved (parent spread 55% > bound 25%)"
    # a change inside the bound is still unresolved, not "no regression"
    assert abba.verdict(wide, [x * 1.1 for x in wide], "lower", 0.25)["verdict"].startswith("unresolved")

    # every change run beats every parent run: resolved despite the spread
    below = [x * 0.3 for x in wide]
    assert max(below) < min(wide)
    assert not abba.verdict(wide, below, "lower", 0.25)["verdict"].startswith("unresolved")


def _checkout(root):
    (root / "perfbench").mkdir(parents=True)
    (root / "BENCHMARK.json").write_text("{}")
    (root / "perfbench" / "run.py").write_text("print(1)\n")
    return str(root)


def test_identical_benchmark_files_are_accepted(tmp_path):
    a, b = _checkout(tmp_path / "a"), _checkout(tmp_path / "b")
    (tmp_path / "b" / "README.md").write_text("outside the benchmark")
    abba.check_same_benchmark(a, b)


@pytest.mark.parametrize(
    "path, text",
    [("BENCHMARK.json", '{"run_seconds": 3}'), ("perfbench/run.py", "print(2)\n"), ("perfbench/extra.py", "")],
)
def test_mismatched_benchmark_files_are_refused(tmp_path, path, text):
    a, b = _checkout(tmp_path / "a"), _checkout(tmp_path / "b")
    (tmp_path / "b" / path).write_text(text)
    with pytest.raises(ValueError, match="differ"):
        abba.check_same_benchmark(a, b)


def test_trace_prints_per_query_counts_that_differ(tmp_path, capsys):
    work = tmp_path / ".perfbench_work"
    work.mkdir()
    rows = {"q1": {"jobs": 8.0, "stages": 8.0, "tasks": 12.0, "wall_s": 1.5}}
    (work / "trace-w-1.json").write_text('{"per_query": %s}' % json.dumps(rows))
    parent = abba.read_per_query(str(tmp_path), "w", 1)
    assert parent == rows
    assert abba.read_per_query(str(tmp_path), "w", 2) == {}

    run = {"correct": True, "failed": 0, "attempted": 1, "metrics": {}}
    change = {"q1": {"jobs": 6.0, "stages": 6.0, "tasks": 12.0, "wall_s": 1.0}, "q2": {"jobs": 1.0}}
    pair = {"parent": {**run, "per_query": parent}, "change": {**run, "per_query": change}}
    spec = {"per_layer": [{"name": "spark.jobs", "unit": "count"}]}
    assert not abba.report_trace("w", pair, spec)
    out = capsys.readouterr().out
    assert "DIFFERS q1.jobs: parent 8  change 6" in out
    assert "DIFFERS q1.stages: parent 8  change 6" in out
    assert "DIFFERS q2.jobs: parent -  change 1" in out
    assert "identical per query: q1.tasks=12, q2.stages=-, q2.tasks=-" in out
    assert "wall_s" not in out
