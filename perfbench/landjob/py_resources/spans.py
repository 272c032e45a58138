"""In-memory span recorder for the benchmark.

A span has a name, start, end, parent and run id, plus free-form attrs
(``unit``, ``table``, ``query``...). Spans are kept in memory and written
out once, when the run ends. Every span also gets its own Spark job group,
so the jobs, stages and tasks it submitted can be read back from
``SparkContext.statusTracker()`` after the run; the status store is read
only at the end, after its listener bus has drained, so the timed calls pay
for two local-property sets per span and nothing more.

This module lives in the landing job's ``py_resources`` folder: the job
runner puts that folder on ``sys.path`` for ``job.py``, and ``run.py``
imports it from the same place, so both record into the same format.
"""

from __future__ import annotations

import itertools
import json
import statistics
import time
from contextlib import contextmanager
from typing import Any, Iterator

_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    """Records spans when ``enabled``; a disabled tracer costs one branch."""

    def __init__(
        self,
        spark,
        run_id: str,
        enabled: bool,
        id_prefix: str = "",
        root_parent: str | None = None,
    ):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._prefix = id_prefix
        self._root_parent = root_parent
        self._ids = itertools.count(1)
        self._stack: list[str] = []

    @property
    def current(self) -> str | None:
        return self._stack[-1] if self._stack else self._root_parent

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[None]:
        """Time the body as span ``name``, with ``attrs`` recorded on it."""
        if not self.enabled:
            yield
            return
        sid = f"{self._prefix}{next(self._ids)}"
        parent = self.current
        group = f"{self.run_id}/{sid}"
        prev_group = self.sc.getLocalProperty(_GROUP_PROP)
        self.sc.setLocalProperty(_GROUP_PROP, group)
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP_PROP, prev_group)
            self.spans.append(
                {
                    "id": sid,
                    "name": name,
                    "parent": parent,
                    "run": self.run_id,
                    "start": start,
                    "end": end,
                    "group": group,
                    "attrs": attrs,
                }
            )

    def adopt(self, spans: list[dict[str, Any]]) -> None:
        """Take over spans recorded by another tracer of the same run (the
        job script's), so one list holds the whole run."""
        self.spans.extend(spans)


def resolve_spark_counts(spark, spans: list[dict[str, Any]]) -> None:
    """Fill ``jobs``/``stages``/``tasks`` into each span from its job group.

    Counts are the span's own (jobs submitted under a child span belong to
    the child). A stage counts when at least one of its tasks ran, so
    stages skipped because their shuffle output was reused are left out.
    """
    sc = spark.sparkContext
    # the status store is fed by an asynchronous listener bus; drain it so
    # the last jobs' task counts are final
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    tracker = sc.statusTracker()
    for s in spans:
        jobs = tracker.getJobIdsForGroup(s["group"])
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for st_id in info.stageIds if info else ():
                st = tracker.getStageInfo(st_id)
                if st is not None and st.numCompletedTasks > 0:
                    stages += 1
                    tasks += st.numCompletedTasks
        s["jobs"], s["stages"], s["tasks"] = len(jobs), stages, tasks


def self_times(spans: list[dict[str, Any]]) -> dict[str, float]:
    """Span id -> self time in seconds: its duration minus the part of its
    interval that its children cover (children of one span run one after
    another on the driver thread, so their durations do not overlap)."""
    child_total: dict[str, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child_total[s["parent"]] = (
                child_total.get(s["parent"], 0.0) + s["end"] - s["start"]
            )
    return {
        s["id"]: (s["end"] - s["start"]) - child_total.get(s["id"], 0.0)
        for s in spans
    }


def subtree(spans: list[dict[str, Any]], root_id: str) -> list[dict[str, Any]]:
    """The span ``root_id`` and every span below it."""
    children: dict[str | None, list[dict[str, Any]]] = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = [s for s in spans if s["id"] == root_id]
    for s in out:  # grows while iterating: breadth-first walk
        out.extend(children.get(s["id"], ()))
    return out


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def write_trace(path: str, spans: list[dict[str, Any]], extra: dict) -> None:
    selfs = self_times(spans)
    out = []
    for s in spans:
        rec = {k: v for k, v in s.items() if k != "group"}
        rec["self"] = selfs[s["id"]]
        out.append(rec)
    with open(path, "w") as fh:
        json.dump({"spans": out, **extra}, fh, default=str)
        fh.write("\n")
