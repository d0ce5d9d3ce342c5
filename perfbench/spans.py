"""Spans and Spark counters for the traced run (``--trace 1``).

Spans are recorded only from benchmark-owned code: proxies around the
``Catalog``, ``TransformSpec`` and ``Sink`` objects handed to
``Engine.migrate``, and around ``QueryDef.fn`` and the noop write. Each
span has a name, start, end, parent span and the run id; they are kept in
memory and written out once, at the end of the run.

Spark execution counters (stages, tasks, input records, shuffle bytes,
spill, executor run and CPU time) come from Spark's status REST API, for the jobs
whose ids fall in a traced section.
"""

from __future__ import annotations

import itertools
import json
import pathlib
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        #: parent for spans opened on threads with no open span of their
        #: own (``Engine.migrate``'s table pool)
        self.root: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        rec = {"id": sid, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.monotonic(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic()
            with self._lock:
                self.spans.append(rec)

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of spans called ``name`` with id > ``since``."""
        with self._lock:
            spans = list(self.spans)
        return sum(
            s["end"] - s["start"]
            for s in spans
            if s["name"] == name and s["id"] > since
        )

    def last_id(self) -> int:
        with self._lock:
            return max((s["id"] for s in self.spans), default=0)

    def write(self, path: pathlib.Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"run_id": self.run_id, "spans": self.spans}))


class TracedCatalog:
    """Delegates to a ``Catalog``; spans ``table_names`` and ``read``."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner, self._t = inner, tracer

    def table_names(self):
        with self._t.span("sources.table_names"):
            return self._inner.table_names()

    def read(self, name):
        with self._t.span("sources.read", table=name):
            return self._inner.read(name)


class TracedTransform:
    """Delegates to a ``TransformSpec``; spans ``apply`` (plan building)."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner, self._t = inner, tracer

    def apply(self, df):
        with self._t.span("transform.apply"):
            return self._inner.apply(df)


class TracedSink:
    """Delegates to a ``Sink``; spans ``write`` and ``truncate``."""

    def __init__(self, inner, tracer: Tracer) -> None:
        self._inner, self._t = inner, tracer
        self.supports_truncate = inner.supports_truncate

    def write(self, df, series):
        with self._t.span("sinks.write", table=series):
            return self._inner.write(df, series)

    def truncate(self, series):
        with self._t.span("sinks.truncate", table=series):
            return self._inner.truncate(series)


class SparkCounters:
    """Job ids from the scheduler, stage metrics from the status REST API."""

    STAGE_FIELDS = {
        "numTasks": "tasks",
        "inputRecords": "input_records",
        "shuffleWriteBytes": "shuffle_write_bytes",
        "memoryBytesSpilled": "spill_bytes",
        "diskBytesSpilled": "spill_bytes",
        "executorRunTime": "executor_run_s",
        "executorCpuTime": "executor_cpu_s",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sched = sc._jsc.sc().dagScheduler()
        url = urllib.parse.urlsplit(sc.uiWebUrl)
        # the UI binds every interface; ask it on loopback
        self.api = (
            f"http://127.0.0.1:{url.port}/api/v1/applications/"
            f"{sc.applicationId}"
        )

    def next_job_id(self) -> int:
        # py4j hands the scheduler's AtomicInteger over as a plain int
        return int(self._sched.nextJobId())

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=10) as r:
            return json.loads(r.read())

    def jobs_between(self, lo: int, hi: int, timeout: float = 15.0) -> dict:
        """Aggregate stage metrics of jobs ``lo <= id < hi``, waiting for
        the status store to record them all as finished."""
        want = set(range(lo, hi))
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j["jobId"] in want]
            done = len(jobs) == len(want) and all(
                j["status"] != "RUNNING" for j in jobs
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        out = {"stages": 0, "tasks": 0, "input_records": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0}
        if not stage_ids:
            return out
        for st in self._get("/stages"):
            if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
                continue
            out["stages"] += 1
            for src, dst in self.STAGE_FIELDS.items():
                out[dst] += st.get(src, 0)
        out["executor_run_s"] /= 1e3
        out["executor_cpu_s"] /= 1e9
        return out
