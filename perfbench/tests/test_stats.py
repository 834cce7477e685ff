"""Unit tests for the benchmark's statistics, naming and ordering rules.

They need neither Spark nor the fixture data:

    python3 -m pytest -q perfbench/tests
"""

from __future__ import annotations

import itertools
import json
from pathlib import Path

import pytest

from perfbench import stats
from perfbench.workloads import MIN_PASSES, WORKLOADS

ROOT = Path(__file__).resolve().parents[2]


@pytest.mark.parametrize(
    "n, p",
    [(10, None), (11, 9), (20, 50), (21, 52), (27, 62), (40, 75), (100, 90), (1000, 99)],
)
def test_tail_percentile_leaves_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p
    if p is not None:
        assert stats.beyond(n, p) >= stats.TAIL_MIN_BEYOND
        # and it is the highest such whole percentile
        assert stats.beyond(n, p + 1) < stats.TAIL_MIN_BEYOND


def test_tail_percentile_rule_holds_for_every_sample_count():
    for n in range(11, 500):
        p = stats.tail_percentile(n)
        assert stats.beyond(n, p) >= 10 > stats.beyond(n, p + 1)


def test_more_samples_keep_at_least_ten_beyond_a_fixed_percentile():
    # the tail percentile is fixed from a workload's minimum sample count;
    # runs that fit more passes must still leave ten samples beyond it
    for floor in range(11, 200):
        p = stats.tail_percentile(floor)
        for n in range(floor, floor + 60):
            assert stats.beyond(n, p) >= 10


def test_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(xs, 50) == 3.0
    assert stats.nearest_rank(xs, 100) == 5.0
    assert stats.nearest_rank(xs, 0) == 1.0
    assert stats.nearest_rank(list(range(1, 21)), 50) == 10


def test_gmean_of_medians_weighs_each_query_alike():
    samples = {"fast": [0.1, 0.5, 0.1, 0.1], "slow": [1.6, 1.6, 9.0, 1.6]}
    assert stats.gmean_of_medians(samples) == pytest.approx(0.4)
    # a query with no successful sample is left out, not counted as zero
    assert stats.gmean_of_medians({**samples, "failed": []}) == pytest.approx(0.4)


def test_at_reference_speed_cancels_host_speed_not_program_speed():
    samples = [0.030, 0.031, 0.029, 0.090]  # one loop met a busy moment
    assert stats.at_reference_speed(2.0, samples, 0.030) == pytest.approx(2.0, rel=0.02)
    # the same work on a host a third slower: walls and loops alike
    slow = [s * 4 / 3 for s in samples]
    assert stats.at_reference_speed(2.0 * 4 / 3, slow, 0.030) == pytest.approx(
        stats.at_reference_speed(2.0, samples, 0.030)
    )
    # a slower program on the same host still reads slower
    assert stats.at_reference_speed(2.4, samples, 0.030) > stats.at_reference_speed(
        2.0, samples, 0.030
    )


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 11.0, 10.0]) == pytest.approx(0.175, abs=0.03)


def test_seed_orders_are_reproducible_permutations():
    qs = WORKLOADS["relational"].queries
    a = list(itertools.islice(stats.pass_orders(qs, 7), 5))
    b = list(itertools.islice(stats.pass_orders(qs, 7), 5))
    c = list(itertools.islice(stats.pass_orders(qs, 8), 5))
    assert a == b
    assert a != c
    assert all(sorted(o) == sorted(qs) for o in a + c)
    # passes of one run do not all share one order
    assert len({tuple(o) for o in a}) > 1


@pytest.mark.parametrize(
    "name, unit, ok",
    [
        ("pass_s", "s", True),
        ("spark.shuffle_write_mb", "MB", True),
        ("ok_share", "ratio", True),
        ("bad name", "s", False),
        ("_leading", "s", False),
        ("x" * 65, "s", False),
        ("pass_s", "", False),
        ("pass_s", "m s", False),
    ],
)
def test_check_metric(name, unit, ok):
    if ok:
        stats.check_metric(name, unit)
    else:
        with pytest.raises(ValueError):
            stats.check_metric(name, unit)


def test_benchmark_json_names_and_units():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in bench["workloads"]]
    assert names == list(WORKLOADS)
    metrics = bench["end_to_end"] + bench["per_layer"]
    assert len({m["name"] for m in metrics}) == len(metrics)
    for m in metrics:
        stats.check_metric(m["name"], m["unit"])
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])


def test_every_query_has_an_expected_hash():
    expected = json.loads((ROOT / "perfbench" / "expected.json").read_text())
    for w in WORKLOADS.values():
        assert set(w.queries) <= set(expected["queries"]), w.name
        assert stats.tail_percentile(MIN_PASSES * len(w.queries)) is not None
