"""The benchmark's workloads: which registered queries each one runs.

Why each workload exists is in BENCHMARK.json and README.md. Every name
here is a key of ``plans.registry.REGISTRY`` with a DuckDB oracle;
``expected.json`` holds the oracle's result hash for each at the fixture
scale the benchmark runs on.
"""

from __future__ import annotations

from dataclasses import dataclass

# timed passes a run makes at least, whatever --seconds says (unless the
# worker's deadline comes first); the tail percentile is fixed from this
# floor (stats.tail_percentile), so it does not move when a faster program
# fits more passes in a run
MIN_PASSES = 4


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "relational",
            (
                # the reference surface: Job2 (arg-max month) and Job1
                # (weather x location join, aggregated per city and month)
                "q_max_month",
                "q_city_month",
                # TPC-H join, per-group window top-k and global top-k
                "q_join_inner",
                "q_window_topk_per_group",
                "q_topk_global",
            ),
        ),
        Workload(
            "streams",
            (
                # watermarked window aggregation: a state store per
                # shuffle partition, memory sink
                "q_stream_tumbling",
                # file-sink drain (run_available_now_files)
                "q_stream_embedding_drift",
                # stream against the persisted lexical index store
                "q_stream_percolate",
            ),
        ),
    )
}
