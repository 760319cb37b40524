"""Span recorder for the traced (``--trace 1``) run.

One span per layer call: name (``<layer>.<call>``), start, end, parent
span and op id, kept in memory and written out as JSON lines when the
run ends. Spans are opened from the benchmark's own files, either at
the call sites in ``workloads.py`` or by :func:`instrument`, which
wraps a few package functions that the package calls internally
(``plans``, ``sources``, ``scan``) for the duration of the process.
Nothing in the package changes.

Each span also runs under its own Spark job group, so after the op the
jobs it launched, their stages' executor CPU, shuffle bytes and input
records, and their run intervals are read back from ``statusTracker``
and the status store (:meth:`Tracer.collect_spark`).
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: List[Dict] = []
        self._stack: List[Dict] = []
        self._op: Optional[int] = None
        self._seen_stages: set = set()
        # perf_counter -> epoch ms, to compare with Spark job times
        self._epoch_off = time.time() - time.perf_counter()

    def epoch_ms(self, t: float) -> float:
        return (t + self._epoch_off) * 1000.0

    @contextmanager
    def span(self, name: str, op: Optional[int] = None):
        """Open a span; a no-op while tracing is off. A call nested in a
        span of the same name (recursion) joins it instead of opening
        a new one."""
        if not self.enabled or (self._stack and self._stack[-1]["name"] == name):
            yield None
            return
        if op is not None:
            self._op = op
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "layer": name.split(".", 1)[0],
            "op": self._op,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc._jsc.clearJobGroup()

    def op_spans(self, op: int) -> List[Dict]:
        return [s for s in self.spans if s["op"] == op]

    def collect_spark(self, spans: List[Dict]) -> None:
        """Attach Spark figures to each span: jobs launched directly in
        it, and per stage (first attempt seen, skipped stages ignored)
        executor CPU, shuffle write/read bytes and input records."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in spans:
            s.update(jobs=0, cpu_ms=0.0, shuffle_write=0, shuffle_read=0,
                     input_records=0, job_intervals=[])
            for j in tracker.getJobIdsForGroup(s["group"]):
                jd = store.job(j)
                s["jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    s["job_intervals"].append(
                        (sub.get().getTime(), done.get().getTime())
                    )
                sids = jd.stageIds()
                for i in range(sids.size()):
                    sid = sids.apply(i)
                    if sid in self._seen_stages:
                        continue
                    sd = store.lastStageAttempt(sid)
                    if str(sd.status()) == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    s["cpu_ms"] += sd.executorCpuTime() / 1e6
                    s["shuffle_write"] += sd.shuffleWriteBytes()
                    s["shuffle_read"] += sd.shuffleReadBytes()
                    s["input_records"] += sd.inputRecords()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({k: v for k, v in s.items() if k != "group"}) + "\n")


def self_times(spans: List[Dict]) -> Dict[int, float]:
    """Span id -> self time in seconds: its duration minus the part of
    it its direct children cover (children never overlap: one client
    thread)."""
    out = {s["id"]: s["end"] - s["start"] for s in spans}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["parent"] in by_id:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


def busy_ms(intervals, lo_ms: float, hi_ms: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_end = 0.0, lo_ms
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi_ms)
        if b > a:
            total += b - a
            cur_end = b
    return total


def instrument(tracer: Tracer) -> None:
    """Wrap the package functions that the package itself calls on the
    query path, so their time and call counts show as ``plans``,
    ``sources`` and ``scan`` spans. Only used in the traced run."""
    from elephant_twin_spark.operators import scan
    from elephant_twin_spark.plans import expr
    from elephant_twin_spark.sources import catalog, fsio

    targets = (
        (expr, "parse_predicate", "plans.parse"),
        (expr, "extract_pushable", "plans.pushdown"),
        (fsio, "list_data_files", "sources.list_files"),
        (catalog, "read_descriptor", "sources.descriptor"),
        (scan, "query", "scan.query"),
        (scan, "count", "scan.count"),
    )
    for module, attr, name in targets:
        orig = getattr(module, attr)

        def wrapped(*a, _orig=orig, _name=name, **k):
            with tracer.span(_name):
                return _orig(*a, **k)

        setattr(module, attr, functools.wraps(orig)(wrapped))
