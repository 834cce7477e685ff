"""Per-layer tracing for a traced run, measured from outside the package.

Nothing in the package is edited. The tracer

* rebinds public functions to timing wrappers wherever the package's
  modules hold them: ``sources.tables.load_table``, every ``*_write`` of
  the ann / lsh / lexical index stores, and the two bounded-stream
  runners ``run_available_now`` / ``run_available_now_files``;
* tags each query's plan build and execution with a Spark job group
  (``build:<q>`` / ``exec:<q>``);
* listens to stream progress with a ``StreamingQueryListener``;
* reads Spark's event log, which the benchmark enables in its own session
  config for traced runs only, after the session stops.

Counters are kept per phase of the run (``cold``, ``check``, ``timed``);
``layer_metrics`` reports the timed phase per timed pass, except the index
store counts, which are over the whole run (the builds happen in the cold
pass).
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
from collections import defaultdict
from datetime import datetime

PKG = "mapreduce_weather_analysis_spark"
STORE_MODULES = ("ann_store", "lsh_store", "lexical_store")
STREAM_RUNNERS = ("run_available_now", "run_available_now_files")


def _rebind(original, wrapper) -> None:
    """Point every package-module global that holds ``original`` at
    ``wrapper`` (plan modules import these functions by name)."""
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, wrapper)


def _markers(root: str) -> set[str]:
    found = set()
    for dirpath, _dirs, files in os.walk(root):
        if "_INDEX_COMPLETE" in files:
            found.add(dirpath)
    return found


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    def __init__(self, spark) -> None:
        import importlib

        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.phase = "setup"
        self.counts: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.spans: list[tuple[str, str, str, float, float]] = []
        self.timed_window = (0.0, 0.0)
        self._store_depth = 0
        self.progress: list[dict] = []
        self.terminated = 0
        self._lock = threading.Lock()

        tables = importlib.import_module(f"{PKG}.sources.tables")
        self._cache = tables._RELATION_CACHE
        _rebind(tables.load_table, self._wrap_load(tables.load_table))

        ann_store = importlib.import_module(f"{PKG}.operators.ann_store")
        self.index_root = ann_store.INDEX_ROOT
        for modname in STORE_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{modname}")
            for attr, fn in list(vars(mod).items()):
                if attr.endswith("_write") and callable(fn):
                    _rebind(fn, self._wrap_store(fn))

        stream = importlib.import_module(f"{PKG}.streaming.events_stream")
        importlib.import_module(f"{PKG}.plans.streaming_suite")
        for attr in STREAM_RUNNERS:
            fn = getattr(stream, attr)
            _rebind(fn, self._wrap_stream(fn))

        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = [
                    (o.commitTimeMs, o.numRowsTotal, o.numStateStoreInstances)
                    for o in p.stateOperators
                ]
                with tracer._lock:
                    tracer.progress.append(
                        {
                            "run": p.runId,
                            "batch": p.batchId,
                            "t": _epoch(p.timestamp),
                            "dur": dict(p.durationMs),
                            "ops": ops,
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with tracer._lock:
                    tracer.terminated += 1

        self.listener = Listener()
        spark.streams.addListener(self.listener)

    # -- wrappers ---------------------------------------------------------

    def _wrap_load(self, fn):
        def load_table(spark, sf_dir, name):
            before = len(self._cache.get(spark, ()))
            t0 = time.perf_counter()
            try:
                return fn(spark, sf_dir, name)
            finally:
                c = self.counts[self.phase]
                c["load_table_s"] += time.perf_counter() - t0
                c["load_table_calls"] += 1
                if len(self._cache.get(spark, ())) == before:
                    c["load_table_hits"] += 1

        return load_table

    def _wrap_store(self, fn):
        def store_write(*args, **kwargs):
            if self._store_depth:
                return fn(*args, **kwargs)
            self._store_depth += 1
            before = _markers(self.index_root)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._store_depth -= 1
                c = self.counts[self.phase]
                c["index_write_s"] += time.perf_counter() - t0
                c["index_calls"] += 1
                c["index_builds"] += len(_markers(self.index_root) - before)

        store_write.__name__ = fn.__name__
        return store_write

    def _wrap_stream(self, fn):
        def runner(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                c = self.counts[self.phase]
                c["stream_runner_s"] += time.perf_counter() - t0
                c["stream_runs"] += 1

        return runner

    # -- spans ------------------------------------------------------------

    def begin(self, kind: str, query: str) -> float:
        self.spark.sparkContext.setJobGroup(f"{kind}:{query}", f"{self.phase} {kind} {query}")
        return time.time()

    def end(self, kind: str, query: str, t0: float) -> None:
        self.spans.append((self.phase, kind, query, t0, time.time()))
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def settle(self, timeout_s: float = 10.0) -> None:
        """Wait until the listener has seen every stream terminate."""
        runs = sum(c["stream_runs"] for c in self.counts.values())
        deadline = time.monotonic() + timeout_s
        while self.terminated < runs and time.monotonic() < deadline:
            time.sleep(0.05)
        self.spark.streams.removeListener(self.listener)

    def leaked_sinks(self) -> int:
        return sum(
            1
            for t in self.spark.catalog.listTables()
            if t.name.startswith("stream_out_")
        )

    # -- results ----------------------------------------------------------

    def layer_metrics(self, passes: int, events: dict) -> dict[str, float]:
        t = self.counts["timed"]
        run = defaultdict(float)
        for c in self.counts.values():
            for k, v in c.items():
                run[k] += v
        lo, hi = self.timed_window
        build_s = sum(b - a for ph, k, _q, a, b in self.spans if ph == "timed" and k == "build")
        exec_s = sum(b - a for ph, k, _q, a, b in self.spans if ph == "timed" and k == "exec")

        batches = [p for p in self.progress if lo <= p["t"] <= hi]
        last = {}
        for p in batches:
            if p["run"] not in last or p["batch"] > last[p["run"]]["batch"]:
                last[p["run"]] = p
        trigger_s = sum(p["dur"].get("triggerExecution", 0) for p in batches) / 1000

        per_pass = {
            "sources.load_table_calls": t["load_table_calls"],
            "sources.load_table_s": t["load_table_s"],
            "plans.build_s": build_s,
            "plans.build_jobs": events["build_jobs"],
            "streaming.setup_s": t["stream_runner_s"] - trigger_s,
            "streaming.drain_s": trigger_s,
            "streaming.batches": len(batches),
            "streaming.add_batch_s": sum(p["dur"].get("addBatch", 0) for p in batches) / 1000,
            "streaming.state_commit_s": sum(o[0] for p in batches for o in p["ops"]) / 1000,
            "streaming.state_rows": sum(o[1] for p in last.values() for o in p["ops"]),
            "streaming.state_stores": sum(o[2] for p in batches for o in p["ops"]),
            "spark.exec_s": exec_s,
            "spark.jobs": events["jobs"],
            "spark.stages": events["stages"],
            "spark.tasks": events["tasks"],
            "spark.executor_run_s": events["executor_run_s"],
            "spark.executor_cpu_s": events["executor_cpu_s"],
            "spark.gc_s": events["gc_s"],
            "spark.shuffle_write_mb": events["shuffle_write_mb"],
            "spark.spill_mb": events["spill_mb"],
        }
        out = {k: v / passes for k, v in per_pass.items()}
        out["sources.memo_hit_ratio"] = (
            t["load_table_hits"] / t["load_table_calls"] if t["load_table_calls"] else 0.0
        )
        out["plans.build_share"] = build_s / (build_s + exec_s) if build_s + exec_s else 0.0
        out["operators.index_write_s"] = run["index_write_s"]
        out["operators.index_builds"] = run["index_builds"]
        out["operators.index_reuse_ratio"] = (
            1 - run["index_builds"] / run["index_calls"] if run["index_calls"] else 0.0
        )
        return out


def event_log_totals(log_dir: str, window: tuple[float, float], build_spans) -> dict:
    """Sum job, stage and task metrics of the jobs submitted inside
    ``window`` (epoch seconds), and count those submitted inside a plan
    build span."""
    # one application; Spark 4 writes its log as a directory of numbered
    # rolling files (events_<n>_<app>), older releases as a single file
    (app,) = os.listdir(log_dir)
    app = os.path.join(log_dir, app)
    if os.path.isdir(app):
        parts = [f for f in os.listdir(app) if f.startswith("events_")]
        files = [
            os.path.join(app, f) for f in sorted(parts, key=lambda f: int(f.split("_")[1]))
        ]
    else:
        files = [app]
    lo, hi = window[0] * 1000, window[1] * 1000
    builds = [(a * 1000, b * 1000) for a, b in build_spans]
    stage_ids: set[int] = set()
    out = defaultdict(float)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            t = ev["Submission Time"]
            if lo <= t <= hi:
                out["jobs"] += 1
                stage_ids.update(ev["Stage IDs"])
                if any(a <= t <= b for a, b in builds):
                    out["build_jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_ids:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            if ev["Stage ID"] not in stage_ids:
                continue
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            sw = m.get("Shuffle Write Metrics") or {}
            out["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
            out["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
    return out


def _lines(files):
    for path in files:
        with open(path, encoding="utf-8") as f:
            yield from f
