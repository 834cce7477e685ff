"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 15 --trace 0

Each run gets a fresh driver process (``worker.py``) whose index
directory, working directory, temp directories, Spark local directories
and (traced runs) event log all live in one new scratch directory under
``.perfbench_run/`` in the current directory; the directory is removed
when the run ends. The process sees only the read-only fixture directory
(``$SPARK_GRAFT_SF_DIR``, else the package default).

stdout ends with two JSON lines: the full record of the run (sample
counts, tail percentile, host, controls, per-query cold walls), then the
result: ``{"correct", "attempted", "failed", "metrics"}`` where metrics
are the end-to-end metrics, or with ``--trace 1`` the per-layer ones.
A human-readable table goes to stderr. The exit code is non-zero, with no
result printed, when the run cannot be made.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent)]

from perfbench import stats  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

BENCHMARK = json.loads((HERE.parent / "BENCHMARK.json").read_text())

# the session every run gets: half the host's cores, and a driver heap far
# below the package's 16g default. The queries are overhead-bound and ran
# as fast on two task threads as on four; the spare cores take the JIT,
# the GC and the Python driver, and the runs spread less (README.md,
# "Calibration and noise", records the runs that chose them)
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 170


def scratch_env(scratch: Path, trace: bool) -> dict[str, str]:
    """Environment that keeps every file the run writes inside ``scratch``."""
    dirs = {d: scratch / d for d in ("tmp", "index", "local", "conf", "work", "eventlog")}
    for d in dirs.values():
        d.mkdir(parents=True)
    conf = [
        # -XX:-UsePerfData: the JVM would otherwise keep a file in
        # /tmp/hsperfdata_<user>, whatever java.io.tmpdir says
        f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        f"spark.local.dir {dirs['local']}",
        f"spark.sql.warehouse.dir {dirs['work'] / 'spark-warehouse'}",
        # the retained-heap reading keeps or loses one stray Tungsten page
        # from run to run; at the 32 MB page a 2-core, 2 GB session gets by
        # default that split streams' readings into levels 30 % apart
        "spark.buffer.pageSize 4m",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir {dirs['eventlog'].as_uri()}",
            "spark.eventLog.compress false",
        ]
    (dirs["conf"] / "spark-defaults.conf").write_text("\n".join(conf) + "\n")
    env = dict(os.environ)
    env.update(
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        SPARK_CONF_DIR=str(dirs["conf"]),
        SPARK_GRAFT_INDEX_DIR=str(dirs["index"]),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_DRIVER_MEMORY=DRIVER_MEMORY,
        PYTHONDONTWRITEBYTECODE="1",
        PERFBENCH_EVENT_LOG=str(dirs["eventlog"]),
    )
    return env


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait until
    the group is gone. The JVM outlives a finished worker by the time its
    shutdown hooks take; the worker has already stopped the session and
    the scratch directory is deleted next, so nothing is lost by killing it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        return
    # reap the worker first: as a zombie it would keep the group alive
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def run_worker(args, scratch: Path) -> dict:
    out = scratch / "record.json"
    env = scratch_env(scratch, bool(args.trace))
    cmd = [
        sys.executable,
        str(HERE / "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--out", str(out),
    ]
    env["PERFBENCH_SPAWNED"] = repr(time.time())
    proc = subprocess.Popen(
        cmd, cwd=scratch / "work", env=env, stdout=sys.stderr, start_new_session=True
    )
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        stop_group(proc)
        proc.wait()
    if code != 0:
        raise SystemExit(f"worker failed (exit {code})")
    return json.loads(out.read_text())


def report(record: dict, trace: bool) -> dict:
    if trace:
        units = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
        values = record["per_layer"]
        metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    else:
        e2e = record["end_to_end"]
        metrics = {
            m["name"]: {"value": e2e[m["name"]]["value"], "unit": m["unit"]}
            for m in BENCHMARK["end_to_end"]
        }
    for name, m in metrics.items():
        stats.check_metric(name, m["unit"])
    return {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=BENCHMARK["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    base = Path.cwd() / ".perfbench_run"
    scratch = base / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        record = run_worker(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            base.rmdir()
        except OSError:
            pass
    result = report(record, bool(args.trace))

    e2e = record["end_to_end"]
    print(f"# {record['workload']} trace={args.trace} seed={args.seed}", file=sys.stderr)
    for name, m in e2e.items():
        extra = f" p{record['query_tail_percentile']}" if name == "query_tail_s" else ""
        print(f"  {name:18s} {m['value']:12.4f} {m['unit']:6s} n={m['n']}{extra}", file=sys.stderr)
    for name, m in (record["per_layer"] or {}).items():
        print(f"  {name:28s} {m:12.4f}", file=sys.stderr)
    for line in record["errors"]:
        print(f"  ERROR {line}", file=sys.stderr)
    for name, mm in record["mismatches"].items():
        print(f"  MISMATCH {name}: {mm}", file=sys.stderr)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
