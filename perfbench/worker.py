"""One benchmark run inside a fresh driver process; ``run.py`` spawns it.

The process is a single closed-loop client: it issues the next query only
after the previous one has finished, through the public surface alone
(``REGISTRY[name].fn(spark, sf_dir)`` to build, then a ``noop`` write to
execute). A run is

1. set-up: package imports and ``get_spark`` (``setup_s`` counts from the
   moment ``run.py`` spawned this process);
2. the cold pass, every query once against an empty index directory;
3. the check pass, every query once with its result collected and hashed
   against ``expected.json`` (it also serves as the warm-up: the first
   pass after the cold one is still slow, so it is kept out of ``pass_s``);
4. full GCs, after which the driver heap still in use is recorded;
5. timed passes until ``--seconds`` have passed and at least
   ``MIN_PASSES`` are done.

Each pass runs the queries in its own order, drawn from ``--seed``. A
fixed pure-Python CPU loop is timed after set-up, after every query and
after the timed passes. The host's speed drifts by a third over minutes,
and the loop's median time over a phase measures it: the cold-pass,
pass and query times are reported at a reference host speed (wall x
``CALIB_REF_S`` / the loop's median time, over the timed passes for the
timed metrics and over the whole run for the cold pass), and the raw
walls are kept in the record. The record is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
from importlib import metadata
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent)]

from perfbench import stats  # noqa: E402
from perfbench.workloads import MIN_PASSES, WORKLOADS  # noqa: E402

# start no timed pass after this long from process start (beyond the
# first), so even a slow host ends the run well inside its time limit
PASS_DEADLINE_S = 120.0
HEAP_READINGS = 6
# calibration loops timed right after set-up and again after the timed
# passes; after each query, one loop per started CALIB_EVERY_S of its wall
CALIB_EDGE_SAMPLES = 5
CALIB_EVERY_S = 0.5
# the calibration loop's wall on the reference host (the 4-core VM of
# README.md); pass and query times are reported at that host speed
CALIB_REF_S = 0.030


def calibrate() -> float:
    """Wall of one run of a fixed pure-Python CPU loop (about 30 ms)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the whole machine so far, from
    /proc/stat; steal is time a hypervisor ran other guests on the
    machine's virtual CPUs.
    (0, 0) where the file does not exist."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_SPAWNED"])
    workload = WORKLOADS[args.workload]

    t0 = time.perf_counter()
    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, all_queries
    from mapreduce_weather_analysis_spark.session import DEFAULT_SF_DIR, get_spark

    all_queries()
    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{workload.name}")
    t2 = time.perf_counter()
    setup_s = time.time() - spawned

    from perfbench.hashing import result_hash
    from perfbench.make_expected import EXPECTED, fixture_fingerprint

    sf_dir = DEFAULT_SF_DIR
    expected = json.loads(EXPECTED.read_text())
    tables = sorted(expected["fixture_sha256"])
    if fixture_fingerprint(sf_dir, tables) != expected["fixture_sha256"]:
        raise SystemExit(
            f"fixture at {sf_dir} differs from the one expected.json was made from"
        )

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)

    # host-speed samples by phase of the run
    calib: dict[str, list[float]] = {
        "setup": [calibrate() for _ in range(CALIB_EDGE_SAMPLES)]
    }
    orders = stats.pass_orders(workload.queries, args.seed)
    attempted = failed = 0
    errors: list[str] = []

    def run_query(name: str, collect: bool):
        """(build_s, exec_s, pandas result or None); raises on failure."""
        fn = REGISTRY[name].fn
        a = time.perf_counter()
        span = tracer.begin("build", name) if tracer else None
        df = fn(spark, sf_dir)
        b = time.perf_counter()
        if tracer:
            tracer.end("build", name, span)
            span = tracer.begin("exec", name)
        if collect:
            result = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()
            result = None
        c = time.perf_counter()
        if tracer:
            tracer.end("exec", name, span)
        return b - a, c - b, result

    def one_pass(phase: str, collect: bool = False):
        """Run every query once; returns (pass wall, per-query walls, results).

        After every query, calibration loops are timed, one per started
        CALIB_EVERY_S of its wall, so the samples weigh the host's speed by
        time; the pass wall leaves those loops out."""
        nonlocal attempted, failed
        if tracer:
            tracer.phase = phase
        walls, results = {}, {}
        samples = calib.setdefault(phase, [])
        wall = 0.0
        for name in next(orders):
            attempted += 1
            start = time.perf_counter()
            try:
                build_s, exec_s, result = run_query(name, collect)
            except Exception as e:  # a failed query counts against ok_share
                failed += 1
                errors.append(f"{phase} {name}: {type(e).__name__}: {str(e)[:300]}")
            else:
                walls[name] = (build_s, exec_s)
                results[name] = result
            elapsed = time.perf_counter() - start
            wall += elapsed
            samples += [calibrate() for _ in range(1 + int(elapsed / CALIB_EVERY_S))]
        return wall, walls, results

    cold_s, cold_walls, _ = one_pass("cold")

    _, check_walls, results = one_pass("check", collect=True)
    warmup_pass_s = sum(b + e for b, e in check_walls.values())
    mismatches = {}
    for name, pdf in results.items():
        want = expected["queries"][name]
        got = result_hash(pdf)
        if got != want["hash"]:
            failed += 1
            mismatches[name] = {"got": got, "rows": len(pdf), "want": want}
    del results

    # The driver heap still in use after the cold and check passes, read
    # here rather than at the end of the run: streams leak a memory sink
    # per drain, so at the end the reading would grow with the number of
    # timed passes --seconds happens to fit. The context cleaner frees
    # shuffle and broadcast state asynchronously once a GC has found it
    # unreachable, so collect a few times and keep the lowest reading.
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings = []
    for _ in range(HEAP_READINGS):
        jvm.System.gc()
        time.sleep(0.25)
        readings.append(heap.getHeapMemoryUsage().getUsed() / 2**20)
    retained_heap_mb = min(readings)

    timed_start = time.time()
    steal0, total0 = cpu_jiffies()
    pass_walls, query_walls, timed_query_s = [], [], []
    while not pass_walls or (
        time.time() - spawned < PASS_DEADLINE_S
        and (
            len(pass_walls) < MIN_PASSES
            or time.time() - timed_start < args.seconds
        )
    ):
        wall, walls, _ = one_pass("timed")
        pass_walls.append(wall)
        query_walls += [b + e for b, e in walls.values()]
        timed_query_s.append({q: b + e for q, (b, e) in walls.items()})
    timed_end = time.time()
    steal1, total1 = cpu_jiffies()
    calib["end"] = [calibrate() for _ in range(CALIB_EDGE_SAMPLES)]
    # host speed while the timed passes ran, and over the whole run; the
    # cold pass is rescaled by the latter: rescaled by its own loops it
    # spread more (README.md), likely because they share the cores with
    # the JIT compiling the fresh session's code
    timed_calib = calib["timed"]
    run_calib = [x for samples in calib.values() for x in samples]

    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "scale": expected["scale"],
        "seed": args.seed,
        "python": platform.python_version(),
        "pyspark": metadata.version("pyspark"),
        "duckdb": metadata.version("duckdb"),
        "calib_s_before": stats.median(calib["setup"]),
        "calib_s_timed": stats.median(timed_calib),
        "calib_s_after": stats.median(calib["end"]),
        "calib_samples_s": calib,
        "steal_share_timed": (steal1 - steal0) / max(1, total1 - total0),
    }

    layers = None
    if tracer:
        tracer.timed_window = (timed_start, timed_end)
        tracer.settle()
        leaked = tracer.leaked_sinks()
    spark.stop()
    if tracer:
        from perfbench.trace import event_log_totals

        build_spans = [(a, b) for ph, k, _q, a, b in tracer.spans if k == "build"]
        events = event_log_totals(
            os.environ["PERFBENCH_EVENT_LOG"], tracer.timed_window, build_spans
        )
        layers = tracer.layer_metrics(len(pass_walls), events)
        layers["streaming.leaked_sinks"] = leaked
        layers["session.import_s"] = t1 - t0
        layers["session.start_s"] = t2 - t1
        layers["host.calib_s"] = stats.median(timed_calib)

    tail_p = stats.tail_percentile(MIN_PASSES * len(workload.queries))
    per_query = {q: [p[q] for p in timed_query_s if q in p] for q in workload.queries}
    raw_s = {
        "cold_pass_s": cold_s,
        "pass_s": stats.median(pass_walls),
        "query_p50_s": stats.gmean_of_medians(per_query),
        "query_tail_s": stats.nearest_rank(query_walls, tail_p),
    }
    ref = {
        name: stats.at_reference_speed(
            wall, run_calib if name == "cold_pass_s" else timed_calib, CALIB_REF_S
        )
        for name, wall in raw_s.items()
    }
    end_to_end = {
        "setup_s": (setup_s, "s", 1),
        "cold_pass_s": (ref["cold_pass_s"], "s", 1),
        "pass_s": (ref["pass_s"], "s", len(pass_walls)),
        "query_p50_s": (ref["query_p50_s"], "s", len(query_walls)),
        "query_tail_s": (ref["query_tail_s"], "s", len(query_walls)),
        "ok_share": ((attempted - failed) / attempted, "ratio", attempted),
        "retained_heap_mb": (retained_heap_mb, "MB", 1),
    }
    record = {
        "workload": workload.name,
        "trace": args.trace,
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "end_to_end": {
            k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in end_to_end.items()
        },
        "query_tail_percentile": tail_p,
        "raw_s": raw_s,
        "warmup_pass_s": warmup_pass_s,
        "pass_walls_s": pass_walls,
        "pass_drift": pass_walls[-1] / pass_walls[0] - 1,
        "cold_query_s": {q: b + e for q, (b, e) in cold_walls.items()},
        "timed_query_s": timed_query_s,
        "host": host,
        "per_layer": layers,
        "mismatches": mismatches,
        "errors": errors,
    }
    Path(args.out).write_text(json.dumps(record))
    return 0


if __name__ == "__main__":
    sys.exit(main())
