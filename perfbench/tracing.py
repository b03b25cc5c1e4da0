"""Spans around the engine's layer functions, recorded from the benchmark.

``LayerTracer.installed()`` swaps each layer function named in ``LAYERS``
(and the plan entry points and catalog methods) for a wrapper that opens a span, puts
the layer's Spark jobs under a job group of their own, and forces the
layer's output to materialise (persist + count) inside the span. The
engine's modules call each other through module attributes, so wrapping
the attribute reaches every call site; nothing in the engine changes.

Forcing each layer to materialise is what makes a span's time the
layer's own work instead of plan construction, and it is also the
tracing overhead, which the runner reports as ``trace.overhead_s``.
"""

from __future__ import annotations

import importlib
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# metric prefix -> (module, function); each reports .s, .rows_out, .jobs, .tasks
LAYERS = {
    "blocking.record_features": ("sbb_ned_spark.operators.blocking", "record_features"),
    "blocking.blocking_keys": ("sbb_ned_spark.operators.blocking", "blocking_keys"),
    "blocking.candidate_pairs": ("sbb_ned_spark.operators.blocking", "candidate_pairs"),
    "scoring.score_pairs": ("sbb_ned_spark.operators.scoring", "score_pairs"),
    "clustering.connected_components": (
        "sbb_ned_spark.operators.clustering",
        "connected_components",
    ),
    "dedup.minhash_lsh_pairs": ("sbb_ned_spark.operators.dedup", "minhash_lsh_pairs"),
    "similarity_search.embedding_near_dup_pairs": (
        "sbb_ned_spark.operators.similarity_search",
        "embedding_near_dup_pairs",
    ),
}
# spans that only supply counts: hot keys dropped, accepted edges
SPLIT_HOT_KEYS = ("sbb_ned_spark.operators.blocking", "split_hot_keys")
ACCEPTED_EDGES = ("sbb_ned_spark.operators.clustering", "accepted_edges")
PIPELINE = ("sbb_ned_spark.plans.pipeline", "run_pipeline")
INCREMENTAL = ("sbb_ned_spark.plans.incremental", "incremental_update")
CATALOG = ("sbb_ned_spark.sources.catalog", "ParquetCatalog")


def _bytes_since(path: str, t_wall: float) -> int:
    """Bytes in files under ``path`` modified at or after ``t_wall``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= t_wall:
                total += st.st_size
    return total


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    start: float = 0.0
    end: float = 0.0
    rows_out: int = 0
    nbytes: int = 0
    frame: object = None  # the persisted output, until the pass ends
    children: list = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


def job_stats(sc, groups) -> dict:
    """jobs, tasks, failed tasks and shuffle-write MB of the given job groups.

    Spark's listener bus is asynchronous: wait (off the clock) until no job
    of these groups is still running before reading the counters."""
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 10
    while True:
        jobs = {j for g in groups for j in tracker.getJobIdsForGroup(g)}
        infos = [tracker.getJobInfo(j) for j in jobs]
        if all(i is not None and i.status not in ("RUNNING", "UNKNOWN") for i in infos):
            break
        if time.monotonic() > deadline:
            break
        time.sleep(0.02)
    stages = {s for i in infos if i is not None for s in i.stageIds}
    tasks = failed = 0
    shuffle = 0
    store = sc._jsc.sc().statusStore()
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
        try:
            shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
        except Py4JJavaError:  # stage already evicted from the status store
            pass
    return {"jobs": len(jobs), "tasks": tasks, "failed_tasks": failed,
            "shuffle_mb": shuffle / 2**20}


def _get(module: str, attr: str):
    return getattr(importlib.import_module(module), attr)


class LayerTracer:
    def __init__(self, sc):
        self.sc = sc
        self.tag = "untagged"
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._held = []

    def begin_pass(self, tag: str) -> None:
        self.tag = tag
        self.spans = []
        self.sc.setJobGroup(tag, tag)

    def end_pass(self) -> None:
        """Release what the wrappers persisted during the pass."""
        for df in self._held:
            df.unpersist()
        self._held.clear()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self.tag}/{len(self.spans)}/{name}", parent)
        if parent is not None:
            parent.children.append(sp)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = self._stack[-1].group if self._stack else self.tag
            self.sc.setJobGroup(outer, outer)

    def _materialise(self, sp: Span, df):
        df = df.persist()
        sp.rows_out = df.count()
        sp.frame = df
        self._held.append(df)
        return df

    def _wrap_layer(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                return self._materialise(sp, fn(*args, **kwargs))

        return traced

    def _wrap_hot_keys(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                cold, hot = fn(*args, **kwargs)
                sp.rows_out = hot.count()
            return cold, hot

        return traced

    def _wrap_plan(self, name, fn):
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                res = fn(*args, **kwargs)
                sp.rows_out = res.clusters.count()
            return res

        return traced

    def _wrap_write(self, fn):
        def traced(catalog, df, name, *args, **kwargs):
            t_wall = time.time() - 1  # file mtimes may be whole seconds
            with self.span("catalog.write_table") as sp:
                fn(catalog, df, name, *args, **kwargs)
            sp.nbytes = _bytes_since(catalog._path(name), t_wall)

        return traced

    def _wrap_read(self, fn):
        # the read stays lazy for the caller; the span times a count of it
        def traced(catalog, spark, name):
            with self.span("catalog.read_table") as sp:
                df = fn(catalog, spark, name)
                sp.rows_out = df.count()
            return df

        return traced

    @contextmanager
    def installed(self):
        """Wrap every layer function for the duration of the block."""
        wrappers = {spec: self._wrap_layer(n, _get(*spec)) for n, spec in LAYERS.items()}
        wrappers[SPLIT_HOT_KEYS] = self._wrap_hot_keys(
            "blocking.split_hot_keys", _get(*SPLIT_HOT_KEYS)
        )
        wrappers[ACCEPTED_EDGES] = self._wrap_layer(
            "clustering.accepted_edges", _get(*ACCEPTED_EDGES)
        )
        wrappers[PIPELINE] = self._wrap_plan("pipeline", _get(*PIPELINE))
        wrappers[INCREMENTAL] = self._wrap_plan("incremental", _get(*INCREMENTAL))
        catalog = _get(*CATALOG)
        swaps = [
            (catalog, "write_table", catalog.write_table, self._wrap_write(catalog.write_table)),
            (catalog, "read_table", catalog.read_table, self._wrap_read(catalog.read_table)),
        ]
        for (mod, attr), wrapped in wrappers.items():
            m = importlib.import_module(mod)
            swaps.append((m, attr, getattr(m, attr), wrapped))
        for owner, attr, _, wrapped in swaps:
            setattr(owner, attr, wrapped)
        try:
            yield self
        finally:
            for owner, attr, fn, _ in swaps:
                setattr(owner, attr, fn)

    def probe_metrics(self) -> dict:
        """The incremental probe's numbers: plan self time and catalog I/O."""
        def spans(name):
            return [sp for sp in self.spans if sp.name == name]

        return {
            "incremental.self_s": sum(sp.self_seconds for sp in spans("incremental")),
            "catalog.write_table.s": sum(sp.seconds for sp in spans("catalog.write_table")),
            "catalog.write_table.mb": sum(sp.nbytes for sp in spans("catalog.write_table")) / 2**20,
            "catalog.read_table.s": sum(sp.seconds for sp in spans("catalog.read_table")),
        }

    def layer_metrics(self, n_files: int) -> dict:
        """Per-layer numbers of the current pass. A layer called more than
        once in a pass (the incremental path calls blocking_keys twice) is
        summed. Call before ``end_pass``: n_iter is read from CC's output."""
        from pyspark.sql import functions as F

        by_name: dict = {}
        for sp in self.spans:
            by_name.setdefault(sp.name, []).append(sp)
        out = {}
        for name in LAYERS:
            sps = by_name.get(name, [])
            st = job_stats(self.sc, [sp.group for sp in sps]) if sps else {}
            out[f"{name}.s"] = sum(sp.seconds for sp in sps)
            out[f"{name}.rows_out"] = sum(sp.rows_out for sp in sps)
            out[f"{name}.jobs"] = st.get("jobs", 0)
            out[f"{name}.tasks"] = st.get("tasks", 0)

        def rows(name):
            return sum(sp.rows_out for sp in by_name.get(name, []))

        out["blocking.hot_keys_dropped"] = rows("blocking.split_hot_keys")
        out["clustering.n_iter"] = max(
            (
                sp.frame.agg(F.max("n_iter")).first()[0] or 0
                for sp in by_name.get("clustering.connected_components", [])
            ),
            default=0,
        )
        pairs = out["blocking.candidate_pairs.rows_out"]
        out["clustering.edge_yield"] = rows("clustering.accepted_edges") / pairs if pairs else 0.0
        pipe = by_name.get("pipeline", [])
        out["pipeline.self_s"] = sum(sp.self_seconds for sp in pipe)
        reps = sum(
            c.rows_out for sp in pipe for c in sp.children if c.name == "blocking.record_features"
        )
        out["pipeline.collapse_ratio"] = reps / n_files if pipe else 0.0
        return out
