"""The harness's pure parts, without a JVM: the regression flag and
its key, the names the lanes time, and the compact last line."""

from __future__ import annotations

import json

import pytest

import bench

KEY = {"sf": 0.1, "cpus": 4, "mode": "exact"}

NOW = {
    "slower": 1.6,       # 1.6x and +0.6 s: flagged
    "small": 0.5,        # 5x and +0.4 s: flagged
    "under_abs": 0.45,   # 2.25x but +0.25 s
    "under_ratio": 2.9,  # +0.9 s but 1.45x
    "at_ratio": 1.5,     # exactly 1.5x is not more than 1.5x
    "new": 9.0,          # no baseline wall
}
PREV = {
    "slower": 1.0,
    "small": 0.1,
    "under_abs": 0.2,
    "under_ratio": 2.0,
    "at_ratio": 1.0,
}


def test_flag_fires_past_both_bounds_against_the_same_key():
    got = bench.regressions(NOW, KEY, {"key": dict(KEY), "queries": PREV})
    assert got == {"slower": [1.0, 1.6], "small": [0.1, 0.5]}


@pytest.mark.parametrize(
    "other", [{"sf": 1.0}, {"cpus": 32}, {"mode": "approx"}], ids=["sf", "cpus", "mode"]
)
def test_baseline_of_another_key_flags_nothing(other):
    assert bench.regressions(NOW, KEY, {"key": {**KEY, **other}, "queries": PREV}) == {}


def test_baseline_without_key_flags_nothing():
    # the committed 32-core artifacts predate keyed baselines
    assert bench.regressions(NOW, KEY, {"sf": 0.1, "queries": PREV}) == {}


def test_lane_names_resolve_to_registered_entries():
    import __spark_entry__

    registered = set(__spark_entry__.queries())
    assert set(bench.SCALE_ENTRIES) == {("sf0.1", "sf1"), ("sf1", "sf10")}
    named = [*bench.HEADLINE, *bench.SWEEP_SKIP,
             *(n for names in bench.SCALE_ENTRIES.values() for n in names)]
    assert [n for n in named if n not in registered] == []
    assert len(bench.HEADLINE) == 9


def test_compact_line_parses_and_fits_the_tail():
    queries = {f"entry_with_a_long_registered_name_{i:03d}": 12345.6789 for i in range(400)}
    queries.update({n: 1234.5678 for n in bench.HEADLINE})
    out = {
        "metric": "headline_queries_total",
        "value": 11111.1102,
        "unit": "sec",
        "key": dict(KEY),
        "headline_complete": True,
        "queries": queries,
        "errors": {f"broken_{i}": "Py4JJavaError: " + "x" * 400 for i in range(50)},
        "regressions": {n: [1.0, 2.0] for n in list(queries)[:100]},
    }
    line = bench.compact_line(out)
    assert len(line) < 2000 and "\n" not in line
    got = json.loads(line)
    for k in ("metric", "value", "unit", "sf", "headline_complete",
              "n_entries", "n_errors", "n_regressions"):
        assert k in got
    assert got["per_query"] == {n: 1234.5678 for n in bench.HEADLINE}
    assert (got["n_entries"], got["n_errors"], got["n_regressions"]) == (409, 50, 100)
    assert (got["sf"], got["cpus"], got["mode"]) == (0.1, 4, "exact")
