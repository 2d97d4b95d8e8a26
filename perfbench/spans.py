"""Traced runs: spans around the calls into each layer, and Spark's own
status store read per op.

Nothing here runs unless a run asks for ``--trace 1``.  ``Tracer.install``
replaces the public entry points listed in ``TARGETS`` with span-taking
wrappers in every module namespace that holds them, so calls made
through any import path are seen.  Spans stay in memory; the run writes
them out at exit and derives each layer's self time from them.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

# (module, attribute) of every wrapped entry point.  "Class.method"
# attributes are patched on the class.
TARGETS = {
    "sources": [
        ("streaming_parquet_spark.engine", "Engine.discover"),
        ("streaming_parquet_spark.engine", "Engine.probe_schemas"),
    ],
    "plans": [
        ("streaming_parquet_spark.plans.unify", "unify_schemas"),
        ("streaming_parquet_spark.plans.align", "concat_aligned"),
    ],
    "engine": [
        ("streaming_parquet_spark.engine", "Engine.run"),
        ("streaming_parquet_spark.streaming.stream", "StreamEngine.run"),
    ],
    "sinks": [
        ("streaming_parquet_spark.sinks.writers", "write_parquet"),
        ("streaming_parquet_spark.sinks.writers", "write_csv"),
        ("streaming_parquet_spark.sinks.writers", "transcode_parquet"),
    ],
    # the entry points the gates workload's llm family reaches; the ANN
    # tiers, incremental LSH, exact-substring dedup and BPE run in no
    # workload, so they are not wrapped
    "operators": [
        ("streaming_parquet_spark.operators.similarity", f)
        for f in ("cosine_topk", "similarity_pairs", "semantic_dedup_drops")
    ] + [
        ("streaming_parquet_spark.operators.dedup", "minhash_lsh_pairs"),
    ],
    "staging": [
        ("streaming_parquet_spark.operators.similarity", "_materialize"),
        ("streaming_parquet_spark.operators.similarity", "release_materialized"),
    ],
    "concurrency": [
        ("streaming_parquet_spark.concurrency", "parallel_branches"),
    ],
}
OPERATOR_FNS = [attr for _m, attr in TARGETS["operators"]]


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of its interval covered by
    its children (children may overlap when they ran on parallel
    threads, so their clipped intervals are merged first)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            a, b = max(s.start, p.start), min(s.end, p.end)
            if b > a:
                kids[s.parent].append((a, b))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(i, [])):
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


class Tracer:
    """Spans plus the counters measured at the same boundaries."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
            idx = len(self.spans) - 1
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def call(self, name: str, fn, *args, **kwargs):
        idx = self.begin(name)
        try:
            return fn(*args, **kwargs)
        finally:
            self.end(idx)

    # -- wrapping ------------------------------------------------------

    def install(self) -> None:
        """Wrap every ``TARGETS`` entry in its defining module and in
        every loaded package module (or ``bench``) that imported it."""
        for entries in TARGETS.values():
            for mod_name, attr in entries:
                mod = importlib.import_module(mod_name)
                if "." in attr:
                    cls_name, meth = attr.split(".")
                    self._patch(getattr(mod, cls_name), meth, attr)
                    continue
                orig = getattr(mod, attr)
                for m in list(sys.modules.values()):
                    name = getattr(m, "__name__", "") or ""
                    if not (name.startswith("streaming_parquet_spark")
                            or name in ("bench", "__spark_entry__")):
                        continue
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            self._patch(m, k, attr)

    def _patch(self, owner, key: str, name: str) -> None:
        orig = getattr(owner, key)
        self._patches.append((owner, key, orig))
        setattr(owner, key, self._wrapper(name, orig))

    def uninstall(self) -> None:
        """Put every original back (in reverse, so nothing is lost)."""
        while self._patches:
            owner, key, orig = self._patches.pop()
            setattr(owner, key, orig)

    def _wrapper(self, name: str, orig):
        special = {
            "parallel_branches": self._parallel_branches,
            "release_materialized": self._release,
            "_materialize": self._materialize,
            "Engine.discover": self._discover,
            "Engine.probe_schemas": self._probe,
            "concat_aligned": self._concat_aligned,
            "StreamEngine.run": self._stream_run,
        }.get(name)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if special is not None:
                return special(name, orig, *args, **kwargs)
            return self.call(name, orig, *args, **kwargs)

        return wrapper

    # -- per-boundary counters ------------------------------------------

    def _discover(self, name, orig, *args, **kwargs):
        files = self.call(name, orig, *args, **kwargs)
        self.counts["sources.files"] += len(files)
        return files

    def _probe(self, name, orig, *args, **kwargs):
        before = self._group_jobs()
        try:
            return self.call(name, orig, *args, **kwargs)
        finally:
            self.counts["sources.probe_jobs"] += len(self._group_jobs() - before)

    def _group_jobs(self) -> set[int]:
        sc = self.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        if not group:
            return set()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    def _concat_aligned(self, name, orig, dfs, *args, **kwargs):
        self.counts["plans.read_groups"] += len(dfs)
        return self.call(name, orig, dfs, *args, **kwargs)

    def _stream_run(self, name, orig, *args, **kwargs):
        res = self.call(name, orig, *args, **kwargs)
        self.counts["streaming.batches"] += res.batches
        for p in res.progress:
            d = p.get("durationMs", {})
            self.counts["streaming.trigger_s"] += d.get("triggerExecution", 0) / 1e3
            self.counts["streaming.commit_s"] += (
                d.get("walCommit", 0) + d.get("commitOffsets", 0)
            ) / 1e3
        return res

    def _materialize(self, name, orig, *args, **kwargs):
        df = self.call(name, orig, *args, **kwargs)
        # the staged relation is cached and counted: its plan statistics
        # carry the exact row count without running another job
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        if stats.rowCount().isDefined():
            self.counts["staging.rows"] += float(str(stats.rowCount().get()))
        self.counts["staging.count"] += 1
        return df

    def _release(self, name, orig, *args, **kwargs):
        for info in self.spark.sparkContext._jsc.sc().getRDDStorageInfo():
            self.counts["staging.mb"] += (info.memSize() + info.diskSize()) / 1e6
            self.counts["staging.partitions"] += info.numCachedPartitions()
        return self.call(name, orig, *args, **kwargs)

    def _parallel_branches(self, name, orig, *builders):
        idx = self.begin(name)
        durations: list[float] = []

        def timed(b):
            def run():
                t0 = time.perf_counter()
                self._stack().append(idx)  # branch spans nest under the call
                try:
                    return b()
                finally:
                    self._stack().pop()
                    with self._lock:
                        durations.append(time.perf_counter() - t0)
            return run

        try:
            return orig(*[timed(b) for b in builders])
        finally:
            self.end(idx)
            wall = self.spans[idx].end - self.spans[idx].start
            self.counts["concurrency.calls"] += 1
            self.counts["concurrency.branches"] += len(builders)
            self.counts["concurrency.branch_s"] += sum(durations)
            self.counts["concurrency.wall_s"] += wall

    # -- summary ---------------------------------------------------------

    def layer_times(self) -> dict[str, float]:
        """Self time and call count per span name."""
        out: dict[str, float] = defaultdict(float)
        for s, st in zip(self.spans, self_times(self.spans)):
            out[f"{s.name}.self_s"] += st
            out[f"{s.name}.calls"] += 1
        return out

    def write(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class SparkStore:
    """Reads jobs, stages and SQL metrics for one job group from Spark's
    status store (works with the web UI disabled)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self._empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._seen_exec = int(self.sql.executionsCount())

    def group_totals(self, group: str) -> dict[str, float]:
        jobs = set(self.sc.statusTracker().getJobIdsForGroup(group))
        out = defaultdict(float)
        out["spark.jobs"] = len(jobs)
        for jid in jobs:
            seq = self.store.job(jid).stageIds()
            for i in range(seq.size()):
                attempts = self.store.stageData(
                    seq.apply(i), False, None, False, self._empty
                ).iterator()
                while attempts.hasNext():
                    s = attempts.next()
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["spark.stages"] += 1
                    out["spark.tasks"] += s.numTasks()
                    out["spark.run_s"] += s.executorRunTime() / 1e3
                    out["spark.cpu_s"] += s.executorCpuTime() / 1e9
                    out["spark.gc_s"] += s.jvmGcTime() / 1e3
                    out["spark.shuffle_read_mb"] += s.shuffleReadBytes() / 1e6
                    out["spark.shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
                    out["spark.spill_mb"] += (
                        s.memoryBytesSpilled() + s.diskBytesSpilled()
                    ) / 1e6
        out["cand.rows"] = self._join_rows(jobs)
        return out

    def _join_rows(self, jobs: set[int]) -> float:
        """Sum of the "number of output rows" SQL metric over join nodes
        of the SQL executions whose jobs belong to the group (those
        recorded since the previous call; the store keeps the last
        ``spark.sql.ui.retainedExecutions``, 1000, far more than a run
        makes)."""
        n = int(self.sql.executionsCount())
        if n <= self._seen_exec:
            return 0.0
        execs = self.sql.executionsList(self._seen_exec, n - self._seen_exec)
        total = 0.0
        it = execs.iterator()
        while it.hasNext():
            e = it.next()
            keys = e.jobs().keysIterator()
            mine = False
            while keys.hasNext():
                if int(keys.next()) in jobs:
                    mine = True
            if not mine:
                continue
            metrics = self.sql.executionMetrics(e.executionId())
            nodes = self.sql.planGraph(e.executionId()).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if "Join" not in node.name():
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    if m.name() == "number of output rows":
                        v = metrics.get(m.accumulatorId())
                        if v.isDefined():
                            total += float(str(v.get()).replace(",", ""))
        self._seen_exec = n
        return total
