"""Tracing for the per-layer run: spans around the program's public
calls, Structured Streaming progress events, and Spark's REST
stage/job/SQL endpoints read after the run.

Nothing here is active in an untraced run.
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    """In-memory spans: (id, name, start, end, parent, key). ``key`` is
    the micro-batch or request id the span belongs to; a child inherits
    its parent's key. Parents are tracked per thread, because
    foreachBatch runs on a callback thread."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, key=None):
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"id": None, "name": name, "start": time.time(), "end": None,
               "parent": parent["id"] if parent else None,
               "key": key if key is not None else (parent["key"] if parent else None)}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, obj, attr: str, name: str, key_arg: int | None = None) -> None:
        """Replace ``obj.attr`` (an instance attribute, so only this
        object is traced) with a spanned call; ``key_arg`` names the
        positional argument that carries the batch/request id."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            key = args[key_arg] if key_arg is not None and len(args) > key_arg else None
            with self.span(name, key):
                return fn(*args, **kwargs)

        setattr(obj, attr, traced)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def durations_ms(self, name: str, self_time: bool = False,
                     t0: float = float("-inf"), t1: float = float("inf")) -> list[float]:
        """Durations of every closed span called ``name`` that started in
        [t0, t1]; with ``self_time`` minus the time its direct children
        cover."""
        out = []
        for s in self.spans:
            if s["name"] != name or s["end"] is None or not t0 <= s["start"] <= t1:
                continue
            d = s["end"] - s["start"]
            if self_time:
                d -= sum(c["end"] - c["start"] for c in self.spans
                         if c["parent"] == s["id"] and c["end"] is not None)
            out.append(d * 1000.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class ProgressCollector:
    """Keeps every QueryProgress event of the streams it is attached to
    (the ``recentProgress`` ring buffer drops old ones)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events: list[dict] = []
        self.events = events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                events.append(json.loads(event.progress.json))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = _Listener()

    def attach(self, spark) -> None:
        spark.streams.addListener(self.listener)

    def detach(self, spark) -> None:
        spark.streams.removeListener(self.listener)


def parse_spark_time(s: str) -> float:
    """'2026-10-17T03:45:12.345GMT' / '...Z' -> epoch seconds."""
    s = s.replace("GMT", "").replace("Z", "")
    return datetime.fromisoformat(s).replace(tzinfo=timezone.utc).timestamp()


_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}


def _metric_total_ms(value: str) -> float:
    """SQL UI timing metric -> its total in ms. Multi-task metrics read
    'total (min, med, max (stageId: taskId))\\n2.8 s (...)'; the total is
    the first duration after the header."""
    body = value.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


class SparkRest:
    """Reads the driver UI's REST API (this process's own Spark app on
    localhost) after the timed window."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs(self, t0: float, t1: float) -> list[dict]:
        return [j for j in self._get("/jobs")
                if "submissionTime" in j and t0 <= parse_spark_time(j["submissionTime"]) <= t1]

    def layer_metrics(self, t0: float, t1: float) -> dict[str, float]:
        """Executor-layer totals over the jobs, stages and SQL executions
        submitted in [t0, t1]."""
        stages = [s for s in self._get("/stages")
                  if "submissionTime" in s and t0 <= parse_spark_time(s["submissionTime"]) <= t1]
        sql = [e for e in self._get("/sql?details=true&planDescription=false&length=100000")
               if t0 <= parse_spark_time(e["submissionTime"]) <= t1]
        py_ms = sum(_metric_total_ms(m["value"]) for e in sql for n in e.get("nodes", [])
                    for m in n.get("metrics", []) if m["name"] == "time to run Python workers")

        def tot(k):
            return float(sum(s.get(k, 0) for s in stages))

        return {
            "spark.jobs": float(len(self.jobs(t0, t1))),
            "spark.stages": float(len(stages)),
            "spark.tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "spark.failed_tasks": tot("numFailedTasks"),
            "spark.executor_run_ms": tot("executorRunTime"),
            "spark.executor_cpu_ms": tot("executorCpuTime") / 1e6,
            "spark.jvm_gc_ms": tot("jvmGcTime"),
            "spark.shuffle_read_bytes": tot("shuffleReadBytes"),
            "spark.shuffle_write_bytes": tot("shuffleWriteBytes"),
            "spark.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
            "spark.python_worker_ms": py_ms,
        }
