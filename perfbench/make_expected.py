"""Regenerate ``expected.json``: oracle result hashes for every benchmark query.

Runs each query's DuckDB oracle (``REGISTRY[name].oracle``) over the
fixture tables and stores the order-insensitive result hash beside a
fingerprint of the fixture files, so a run against different inputs is
refused instead of reported as wrong. Runs compare against this file
instead of calling the oracles, so no oracle work (tens of seconds for
some queries at sf0.1) lands in a run.

    python3 perfbench/make_expected.py [--sf-dir DIR]

The fixture directory defaults to ``$SPARK_GRAFT_SF_DIR``, else the
package's ``session.DEFAULT_SF_DIR``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
EXPECTED = HERE / "expected.json"


def fixture_fingerprint(sf_dir: str, tables) -> dict[str, str]:
    out = {}
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
        out[name] = h.hexdigest()
    return out


def main() -> int:
    sys.path[:0] = [str(ROOT)]
    import duckdb

    from mapreduce_weather_analysis_spark.plans.registry import REGISTRY, all_queries
    from mapreduce_weather_analysis_spark.session import DEFAULT_SF_DIR
    from mapreduce_weather_analysis_spark.sources.tables import TABLE_NAMES
    from perfbench.hashing import result_hash
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    args = ap.parse_args()

    all_queries()
    names = sorted({q for w in WORKLOADS.values() for q in w.queries})
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf_dir}/{t}.parquet')"
        )
    hashes = {}
    for name in names:
        t0 = time.perf_counter()
        pdf = con.execute(REGISTRY[name].oracle).df()
        hashes[name] = {"hash": result_hash(pdf), "rows": len(pdf)}
        print(f"{name}: {len(pdf)} rows [{time.perf_counter() - t0:.1f}s]", flush=True)
    record = {
        "scale": os.path.basename(os.path.normpath(args.sf_dir)),
        "fixture_sha256": fixture_fingerprint(args.sf_dir, TABLE_NAMES),
        "queries": hashes,
    }
    EXPECTED.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(hashes)} hashes to {EXPECTED.name}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
