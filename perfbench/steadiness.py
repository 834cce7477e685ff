"""Repeat a workload over several seeds and summarise its end-to-end metrics.

    python3 perfbench/steadiness.py --workload streams --seeds 1 2 3 4 5
    python3 perfbench/steadiness.py --workload relational --seeds 1 2 3 --traced

Prints, per end-to-end metric, the median over the runs and the distance
between the first and third quartile as a share of the median (the
quantity each metric's ``bound`` in BENCHMARK.json is set against).
With ``--traced`` every seed is also run with ``--trace 1``, alternating
which goes first, and the tracing overhead is printed as the traced median
minus the untraced median of each end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parent)]

from perfbench import stats  # noqa: E402


def one_run(workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload,
         "--seed", str(seed), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    ).stdout.splitlines()
    return json.loads(out[-2])


def summarise(records: list[dict]) -> dict[str, tuple[float, float]]:
    out = {}
    for name in records[0]["end_to_end"]:
        values = [r["end_to_end"][name]["value"] for r in records]
        spread = stats.quartile_spread(values) if len(values) > 1 else 0.0
        out[name] = (stats.median(values), spread)
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {
        m["name"]: m["bound"]
        for m in json.loads((HERE.parent / "BENCHMARK.json").read_text())["end_to_end"]
    }
    plain, traced = [], []
    for i, seed in enumerate(args.seeds):
        modes = (0, 1) if args.traced else (0,)
        for trace in modes if i % 2 == 0 else modes[::-1]:
            rec = one_run(args.workload, seed, trace)
            (traced if trace else plain).append(rec)
            vals = {k: round(v["value"], 3) for k, v in rec["end_to_end"].items()}
            print(f"seed={seed} trace={trace} correct={rec['correct']} {vals}", flush=True)

    base = summarise(plain)
    print(f"\n{args.workload}: {len(plain)} untraced runs")
    print(f"{'metric':18s} {'median':>10s} {'IQR/med':>8s} {'bound':>6s}", end="")
    print(f" {'traced':>10s} {'overhead':>9s}" if traced else "")
    tr = summarise(traced) if traced else {}
    for name, (med, spread) in base.items():
        line = f"{name:18s} {med:10.4f} {spread:8.4f} {bounds.get(name, 0):6.2f}"
        if traced:
            line += f" {tr[name][0]:10.4f} {tr[name][0] - med:+9.4f}"
        print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
