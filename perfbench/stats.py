"""Statistics and naming rules shared by the benchmark and its tests."""

from __future__ import annotations

import math
import random
import re
import statistics

# a tail percentile must leave at least this many samples beyond it
TAIL_MIN_BEYOND = 10

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def nearest_rank(values, p: float) -> float:
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie beyond the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least TAIL_MIN_BEYOND of n
    samples beyond it, or None when n is too small for any."""
    if n <= TAIL_MIN_BEYOND:
        return None
    p = (100 * (n - TAIL_MIN_BEYOND)) // n
    while p > 0 and beyond(n, p) < TAIL_MIN_BEYOND:
        p -= 1
    return p if p > 0 else None


def median(values) -> float:
    return statistics.median(values)


def gmean_of_medians(samples: dict) -> float:
    """Geometric mean, over the keys of ``samples``, of each key's median.

    Pooling the walls of queries whose times differ several-fold puts the
    pooled median inside one query's samples, so it jumps between queries
    from run to run; a median per query, then the geometric mean, weighs
    every query alike and moves smoothly."""
    meds = [statistics.median(v) for v in samples.values() if v]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def at_reference_speed(wall: float, calib_samples, calib_ref: float) -> float:
    """``wall`` rescaled to a host on which the calibration loop takes
    ``calib_ref`` seconds: ``wall * calib_ref / median(calib_samples)``,
    the samples being the loop's times while the wall was measured. A host
    that runs everything a third slower reads the same; a program that
    gets slower on the same host reads slower."""
    return wall * calib_ref / statistics.median(calib_samples)


def quartile_spread(values) -> float:
    """Distance between the first and third quartile, as a share of the
    median (the steadiness measure the bounds are set against)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def pass_orders(queries, seed: int):
    """Endless query orders, one per pass: each pass shuffles the list
    afresh from a generator seeded once, so the same seed gives the same
    sequence of orders."""
    rng = random.Random(seed)
    while True:
        order = list(queries)
        rng.shuffle(order)
        yield order


def check_metric(name: str, unit: str) -> None:
    if not METRIC_NAME.fullmatch(name):
        raise ValueError(f"bad metric name {name!r}")
    if not UNIT.fullmatch(unit):
        raise ValueError(f"bad unit {unit!r} for {name}")
