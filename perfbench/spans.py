"""Span recorder of the traced run, and the Spark counters it reads.

The workloads' ``install`` methods use ``Tracer.wrap`` to put spans
around the program's public functions from outside the program: no
program file changes.  Each span records its name, start, end, parent
span and a request id (the micro-batch id or the catalog query name).
Spans are held in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
import urllib.request
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, int] = defaultdict(int)
        self._local = threading.local()
        self._lock = threading.Lock()

    # ---- spans ----------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def request(self) -> str | None:
        """Request id of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1]["rid"] if stack else None

    def span(self, name: str, rid=None):
        return _Span(self, name, rid)

    def wrap(self, owner, attr: str, name: str, rid_of=None) -> None:
        """Replace owner.attr with a version that records a span per call.
        rid_of(args, kwargs) picks the request id; by default the caller's."""
        inner = getattr(owner, attr)

        @functools.wraps(inner)
        def traced(*args, **kwargs):
            rid = rid_of(args, kwargs) if rid_of else None
            with self.span(name, rid):
                return inner(*args, **kwargs)

        setattr(owner, attr, traced)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counts[name] += n

    # ---- reductions -----------------------------------------------------
    def self_times(self) -> dict[int, float]:
        """Span index -> duration minus the part its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def n(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": dict(self.counts)}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, rid) -> None:
        self.t, self.name, self.rid = tracer, name, rid

    def __enter__(self):
        stack = self.t._stack()
        parent = stack[-1] if stack else None
        with self.t._lock:
            self.rec = {
                "id": len(self.t.spans), "name": self.name,
                "parent": parent["id"] if parent else None,
                "rid": self.rid if self.rid is not None else (parent["rid"] if parent else None),
                "start": time.perf_counter(), "end": None,
            }
            self.t.spans.append(self.rec)
        stack.append(self.rec)
        return self.rec

    def __exit__(self, *exc):
        self.rec["end"] = time.perf_counter()
        self.t._stack().pop()
        return False


# ---- Spark-side counters, read from outside the program ------------------

def wait_for_listeners(spark) -> None:
    """Let the status store catch up with every finished job and stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def rest(spark, path: str):
    """GET the Spark UI's REST API for this application."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def stage_totals(spark, job_groups: set[str]) -> dict[str, float]:
    """Executor CPU, shuffle-write bytes and spilled bytes summed over the
    stages of every job in the given job groups."""
    stage_ids = set()
    for job in rest(spark, "jobs"):
        if job.get("jobGroup") in job_groups:
            stage_ids.update(job["stageIds"])
    out = {"cpu_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    for st in rest(spark, "stages"):
        if st["stageId"] in stage_ids and st["status"] == "COMPLETE":
            out["cpu_ms"] += st["executorCpuTime"] / 1e6
            out["shuffle_bytes"] += st["shuffleWriteBytes"]
            out["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    return out


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
