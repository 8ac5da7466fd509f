"""Spans around calls into sparksearch layers, joined with Spark's stage metrics.

A span records name, start, end, parent and the workload op it belongs to.
Spans are kept in memory; :meth:`Tracer.report` reads Spark's in-process
status store once at the end and attaches each job to a span:

* a job whose group is a span id belongs to that span (``setJobGroup`` is set
  to the innermost open span, so jobs launched by a layer call carry it);
* a job from another thread (Structured Streaming runs ``foreachBatch`` on
  its own stream thread, under the stream's group) belongs to the innermost
  span whose interval holds its submission time.

Each stage is counted once, for the lowest job id that lists it, so a reused
shuffle stage does not double its bytes.  A disabled tracer records nothing
and never touches the job group, so timed runs carry no tracing work.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


def _opt(v):
    """Scala ``Option`` -> Python value or None."""
    return v.get() if v.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def _scala_list(seq) -> list:
    out, it = [], seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _covered(lo: float, hi: float, intervals: list[tuple[float, float]]) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in cut:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


SPARK_FIELDS = ("task_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, spark, enabled: bool, workload: str):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Record ``name`` around the body; ``attrs`` (counts the caller
        measured) and anything the body adds to the yielded dict are kept."""
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": f"{self.workload}:{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": op if op is not None else (parent["op"] if parent else None),
            "start": time.time(),
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["id"], name)
        try:
            yield sp["attrs"]
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _spark_jobs(self) -> list[dict]:
        store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        empty = jvm.java.util.ArrayList()
        # stage id -> totals over its attempts (a retried stage keeps its
        # id and adds an attempt; both attempts' work was done)
        stages: dict[int, dict] = {}
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for s in _scala_list(store.stageList(empty, False, False, no_quantiles, empty)):
            tot = stages.setdefault(s.stageId(), dict.fromkeys(SPARK_FIELDS, 0.0))
            tot["task_s"] += s.executorRunTime() / 1000.0
            tot["gc_s"] += s.jvmGcTime() / 1000.0
            tot["shuffle_read_bytes"] += s.shuffleReadBytes()
            tot["shuffle_write_bytes"] += s.shuffleWriteBytes()
            tot["spill_bytes"] += s.diskBytesSpilled()
        jobs = []
        for j in _scala_list(store.jobsList(empty)):
            sub, end = _ms(j.submissionTime()), _ms(j.completionTime())
            if sub is None:
                continue
            jobs.append({
                "job_id": j.jobId(),
                "group": _opt(j.jobGroup()),
                "start": sub,
                "end": end if end is not None else sub,
                "stage_ids": [int(x) for x in _scala_list(j.stageIds())],
            })
        jobs.sort(key=lambda j: j["job_id"])
        seen: set[int] = set()
        for j in jobs:
            tot = dict.fromkeys(SPARK_FIELDS, 0.0)
            for sid in j["stage_ids"]:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                for f in SPARK_FIELDS:
                    tot[f] += stages[sid][f]
            j.update(tot)
        return jobs

    def report(self) -> list[dict]:
        """Spans with wall, self time, ``driver_s`` (self time not covered by
        any Spark job) and the Spark job/stage totals attributed to them."""
        if not self.enabled:
            return []
        jobs = self._spark_jobs()
        by_id = {s["id"]: s for s in self.spans}
        children: dict[str, list[dict]] = {}
        for s in self.spans:
            if s["parent"]:
                children.setdefault(s["parent"], []).append(s)
            s.update(dict.fromkeys(SPARK_FIELDS, 0.0), jobs=0)
        for j in jobs:
            owner = by_id.get(j["group"])
            if owner is None:
                inside = [s for s in self.spans if s["start"] <= j["start"] <= s["end"]]
                if not inside:
                    continue
                owner = max(inside, key=lambda s: s["start"])
            owner["jobs"] += 1
            for f in SPARK_FIELDS:
                owner[f] += j[f]
        job_iv = [(j["start"], j["end"]) for j in jobs]
        for s in self.spans:
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
            wall = s["end"] - s["start"]
            s["wall_s"] = wall
            s["self_s"] = wall - _covered(s["start"], s["end"], kids)
            s["off_spark_s"] = wall - _covered(s["start"], s["end"], job_iv)
            # self-time share outside both child spans and Spark jobs
            s["driver_s"] = s["self_s"] - (
                _covered(s["start"], s["end"], kids + job_iv)
                - _covered(s["start"], s["end"], kids)
            )
        return self.spans
