"""Spans around the engine's layer calls, with Spark counters per span.

A span is opened by the benchmark around a call into one layer (the
wrapped method of a component instance, or a whole operation). Each span
runs under its own Spark job group, so after the run the local UI's REST
API (``/jobs``, ``/stages``, ``/sql``) attributes jobs, stages, task time
and bytes to the span that launched them. SQL executions (which include
metastore commands that launch no Spark job) are attributed to the
innermost span whose interval contains their submission time.

Spans live in memory and are resolved once, when the run ends. With
tracing off, :meth:`Tracer.span` and :meth:`Tracer.wrap` do nothing.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from urllib.parse import urlparse

__all__ = ["Tracer"]

_IDLE_GROUP = "pb-idle"


def _rest_time(value: str | None) -> float | None:
    """``2026-01-02T03:04:05.678GMT`` -> epoch seconds."""
    if not value:
        return None
    return datetime.strptime(value.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        #: time spent in the tracer's own bookkeeping around wrapped calls
        self.overhead_s = 0.0

    # -- recording ----------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        t_in = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               **attrs}
        rec["group"] = f"pb-{rec['id']}"
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            self._stack.pop()
            self.sc.setJobGroup(
                self._stack[-1]["group"] if self._stack else _IDLE_GROUP, "")
            self.overhead_s += time.perf_counter() - t_out

    def wrap(self, obj, method: str, name: str, before=None, after=None):
        """Replace ``obj.method`` on this instance by a traced call.
        ``before(rec, args)`` and ``after(rec, result)`` add attributes."""
        if not self.enabled:
            return
        fn = getattr(obj, method)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                if before is not None:
                    before(rec, args)
                out = fn(*args, **kwargs)
                if after is not None:
                    after(rec, out)
            return out

        setattr(obj, method, traced)

    # -- resolution ---------------------------------------------------------

    def _get(self, path: str):
        url = urlparse(self.sc.uiWebUrl)
        base = (f"http://127.0.0.1:{url.port}/api/v1/applications/"
                f"{self.sc.applicationId}")
        with urllib.request.urlopen(base + path, timeout=30) as resp:
            return json.load(resp)

    def _settled_jobs(self) -> list[dict]:
        """The UI store is filled asynchronously: wait until every job of
        the run has completed and the list stops growing."""
        prev = None
        for _ in range(50):
            jobs = self._get("/jobs")
            done = all(j.get("completionTime") for j in jobs)
            if done and prev is not None and len(jobs) == len(prev):
                return jobs
            prev = jobs
            time.sleep(0.2)
        return prev or []

    def resolve(self) -> list[dict]:
        """Attach Spark counters to every span; returns the spans."""
        if not self.enabled or not self.spans:
            return self.spans
        jobs = self._settled_jobs()
        stages = self._get("/stages?details=false")
        sqls = self._get("/sql?details=false&offset=0&length=1000000")

        by_group: dict[str, list[dict]] = {}
        stage_group: dict[int, str] = {}
        for job in jobs:
            group = job.get("jobGroup")
            by_group.setdefault(group, []).append(job)
            for sid in job.get("stageIds", ()):
                stage_group.setdefault(sid, group)
        stage_rows: dict[str, list[dict]] = {}
        for st in stages:
            if st.get("status") not in ("COMPLETE", "FAILED"):
                continue
            group = stage_group.get(st["stageId"])
            stage_rows.setdefault(group, []).append(st)

        for rec in self.spans:
            g = rec["group"]
            own = stage_rows.get(g, [])
            rec["wall_s"] = rec["end"] - rec["start"]
            rec["jobs"] = len(by_group.get(g, ()))
            rec["stages"] = len(own)
            rec["tasks"] = sum(s.get("numCompleteTasks", 0) for s in own)
            rec["task_s"] = sum(s.get("executorRunTime", 0) for s in own) / 1e3
            rec["input_bytes"] = sum(s.get("inputBytes", 0) for s in own)
            rec["output_bytes"] = sum(s.get("outputBytes", 0) for s in own)
            rec["shuffle_bytes"] = sum(
                s.get("shuffleReadBytes", 0) + s.get("shuffleWriteBytes", 0)
                for s in own)
            intervals = [(_rest_time(s.get("submissionTime")),
                          _rest_time(s.get("completionTime"))) for s in own]
            intervals = [(a, b) for a, b in intervals if a and b]
            rec["stage_active_s"] = _union_within(
                intervals, rec["start"], rec["end"])
            rec["sql_statements"] = 0

        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        for rec in self.spans:
            kids = children.get(rec["id"], ())
            rec["self_s"] = rec["wall_s"] - sum(k["wall_s"] for k in kids)
            # driver time: the span's own wall outside its children and
            # outside its own stages' active intervals
            rec["driver_s"] = max(0.0, rec["self_s"] - rec["stage_active_s"])

        # innermost span containing each SQL execution's submission
        ordered = sorted(self.spans, key=lambda r: r["start"])
        for ex in sqls:
            t = _rest_time(ex.get("submissionTime"))
            if t is None:
                continue
            inner = None
            for rec in ordered:
                if rec["start"] > t:
                    break
                if rec["start"] <= t <= rec["end"]:
                    inner = rec
            if inner is not None:
                inner["sql_statements"] += 1
        return self.spans
