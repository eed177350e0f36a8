"""Spans recorded from outside the engine, and exact Spark job counts.

``Tracer.install`` wraps the module attributes ``run_extraction_job``
calls into, so each call becomes a span with a name, start, end, parent
and run id. Spans stay in memory until ``dump``. Nothing in the engine
changes: the wrappers are removed by ``uninstall``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from pdf_extractor_spark import pipeline
from pdf_extractor_spark.plans import partitioning
from pdf_extractor_spark.sources import catalog

# (module, attribute, span name)
WRAPPED = [
    (catalog, "remaining", "catalog.remaining"),
    (catalog, "commit_snapshot", "catalog.commit_snapshot"),
    (pipeline, "extract_documents", "pipeline.extract_documents"),
    (pipeline, "salted_repartition", "pipeline.salted_repartition"),
    (partitioning, "heavy_hosts", "partitioning.heavy_hosts"),
]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.run_id: str | None = None
        self._stack: list[int] = []
        self._saved: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if self.run_id is None:  # untraced job: record nothing
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "run": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name
            if name == "catalog.commit_snapshot":
                table = args[1] if len(args) > 1 else kwargs.get("table_path", "")
                label += "[lineage]" if str(table).rstrip("/").endswith("_lineage") else "[data]"
            with self.span(label):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for mod, attr, name in WRAPPED:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name))

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()

    def runs(self) -> dict[str, list[dict]]:
        out: dict[str, list[dict]] = {}
        for s in self.spans:
            out.setdefault(s["run"], []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s["start"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class SparkCounter:
    """Spark jobs, stages and tasks launched under one job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def counts(self, group: str) -> dict[str, int]:
        """Exact counts once the listener has seen every job finish
        (it lags the action's return; give up after 5 s)."""
        st = self.sc.statusTracker()
        deadline = time.monotonic() + 5.0
        while True:
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
            done = all(j is not None and j.status in ("SUCCEEDED", "FAILED") for j in jobs)
            stage_ids = {s for j in jobs if j is not None for s in j.stageIds}
            stages = [st.getStageInfo(s) for s in stage_ids]
            settled = all(s is None or s.numActiveTasks == 0 for s in stages)
            if (done and settled) or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        ran = [s for s in stages if s is not None and s.numCompletedTasks > 0]
        return {
            "jobs": len(jobs),
            "stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran),
        }
