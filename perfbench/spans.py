"""Spans and engine counters recorded from the benchmark side.

A span wraps one public call into one layer of the program: name, layer,
start, end, parent span and run id.  Spans live in memory and are
written out once, when the run ends.  While tracing, every span tags
the Spark jobs it submits with ``setJobGroup``; at the end the job
groups are resolved through the status tracker and the local REST API
into job, task, shuffle, CPU and scheduler-delay counts.

With tracing off, :meth:`Tracer.span` only runs the body, so timed
passes carry no tracing cost beyond one context-manager call.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

LAYERS = (
    "core",
    "expr",
    "delayed",
    "operators.text",
    "operators.dedup",
    "operators.corpus",
    "operators.similarity",
    "operators.retrieval",
    "streaming",
    "sources",
)

SPARK_COUNTERS = (
    "spark.jobs",
    "spark.tasks",
    "spark.failed_tasks",
    "spark.shuffle_bytes",
    "spark.executor_cpu_s",
    "spark.scheduler_delay_s",
)


class Tracer:
    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.extra_groups: list[str] = []  # job groups not owned by a span
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def current_group(self) -> str | None:
        """The job group of the innermost tagging span on this thread."""
        return next((g for _, g in reversed(self._stack()) if g), None)

    @contextmanager
    def span(self, layer: str, name: str, tag_jobs: bool = True):
        """Time the body as one call into ``layer``.  ``tag_jobs=False``
        leaves the thread's job group alone (used inside streaming
        callbacks, whose jobs carry the query's own group)."""
        if not self.enabled:
            yield
            return
        if layer not in LAYERS:
            raise ValueError(f"unknown layer {layer!r}")
        with self._lock:
            sid = self._next
            self._next += 1
        stack = self._stack()
        parent = stack[-1] if stack else None
        group = f"{self.run_id}-{sid}" if tag_jobs else None
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, f"{layer}:{name}")
        stack.append((sid, group))
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            if group:
                outer = self.current_group()
                if outer:
                    sc.setJobGroup(outer, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(
                    {
                        "id": sid,
                        "layer": layer,
                        "name": name,
                        "start": t0,
                        "end": t1,
                        "parent": parent[0] if parent else None,
                        "run": self.run_id,
                        "group": group,
                    }
                )

    # -- summaries --------------------------------------------------------

    def busy_s(self, layer: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["layer"] == layer)

    def self_s(self) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        child spans cover (children run inside the parent's interval)."""
        child: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def spark_counters(self) -> dict[str, float]:
        """Engine counters over every job submitted under a span's job
        group or a registered streaming query's group."""
        sc = self.spark.sparkContext
        groups = [s["group"] for s in self.spans if s["group"]] + self.extra_groups
        tracker = sc.statusTracker()
        stage_ids: set[int] = set()
        n_jobs = 0
        for g in groups:
            for jid in tracker.getJobIdsForGroup(g):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                n_jobs += 1
                stage_ids.update(info.stageIds)
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(
            url + "/stages?withSummaries=true&quantiles=0.5", timeout=30
        ) as r:
            stages = json.load(r)
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["spark.jobs"] = float(n_jobs)
        for st in stages:
            if st["stageId"] not in stage_ids:
                continue
            n = st.get("numCompleteTasks", 0) + st.get("numFailedTasks", 0)
            out["spark.tasks"] += n
            out["spark.failed_tasks"] += st.get("numFailedTasks", 0)
            out["spark.shuffle_bytes"] += st.get("shuffleWriteBytes", 0)
            out["spark.executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            dist = st.get("taskMetricsDistributions") or {}
            delay = (dist.get("schedulerDelay") or [0.0])[0]
            out["spark.scheduler_delay_s"] += delay * n / 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
