"""Spans around calls into the program's layers, with Spark counters.

A span is (id, name, start, end, parent, run id). While a span is open,
every Spark job the client thread submits carries the span's job tag
(``SparkContext.addJobTag``); nested spans stack their tags, so a job
counts toward every enclosing span. After the measured loop, the
counters are read once from the session's status stores: jobs from the
AppStatusStore (tags, submission and completion times, stage ids) and
stages from the same store (tasks, executor CPU, shuffle, spill, I/O).
Micro-batch spans of a streaming query are added from its
``StreamingQueryProgress`` records and take the jobs submitted inside the
batch's trigger window. Spans stay in memory until :meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` is a no-op context manager, so the
untraced run executes the same code path minus the tags.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import time
import uuid


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "tag", "attrs",
                 "counters", "self_s")

    def __init__(self, sid, name, start, parent, tag, attrs):
        self.id, self.name, self.start, self.parent = sid, name, start, parent
        self.tag, self.attrs = tag, attrs
        self.end = None
        self.counters: dict = {}
        self.self_s = None

    @property
    def s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None

    def attach(self, spark) -> None:
        """Bind to the run's SparkContext: jobs of spans opened from now on
        carry their tags."""
        if self.enabled:
            self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1].id if self._stack else None
        tag = f"perfbench-{self.run_id}-{sid}"
        sp = Span(sid, name, time.time(), parent, tag, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.addJobTag(tag)
        try:
            yield sp
        finally:
            sp.end = time.time()
            if self._sc is not None:
                self._sc.removeJobTag(tag)
            self._stack.pop()

    def add_span(self, name: str, start: float, end: float, **attrs) -> Span:
        """Record a span measured elsewhere (a streaming micro-batch);
        its jobs are those submitted in ``[start, end]``."""
        if not self.enabled:
            return None
        sp = Span(next(self._ids), name, start, None, None, attrs)
        sp.end = end
        if self._stack:
            sp.parent = self._stack[-1].id
        self.spans.append(sp)
        return sp

    # --- counters -------------------------------------------------------
    def collect(self, spark) -> None:
        """Attribute Spark counters to every span (call once, before the
        session stops)."""
        if not self.enabled:
            return
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        jobs = []
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            sub = j.submissionTime()
            comp = j.completionTime()
            if sub.isEmpty():
                continue
            t0 = sub.get().getTime() / 1000.0
            t1 = comp.get().getTime() / 1000.0 if comp.isDefined() else t0
            tags = set()
            ti = j.jobTags().iterator()
            while ti.hasNext():
                tags.add(ti.next())
            sids = []
            si = j.stageIds().iterator()
            while si.hasNext():
                sids.append(int(si.next()))
            jobs.append((t0, t1, tags, sids))
        stages = {}
        empty = sc._gateway.new_array(jvm.double, 0)
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            st = it.next()
            if st.status().toString() != "COMPLETE":
                continue
            stages[(int(st.stageId()), int(st.attemptId()))] = (
                int(st.numTasks()),
                st.executorCpuTime() / 1e9,
                int(st.shuffleWriteBytes()),
                int(st.diskBytesSpilled()),
                int(st.inputBytes()),
                int(st.outputBytes()),
                int(st.shuffleWriteRecords()),
                int(st.inputRecords()),
            )
        by_stage: dict[int, list] = {}
        for key, val in stages.items():
            by_stage.setdefault(key[0], []).append(val)
        for sp in self.spans:
            if sp.end is None:
                continue
            if sp.tag is not None:
                mine = [j for j in jobs if sp.tag in j[2]]
            else:
                mine = [j for j in jobs if sp.start <= j[0] <= sp.end]
            sp.counters = _counters(sp, mine, by_stage)

    # --- output ---------------------------------------------------------
    def finish(self) -> None:
        """Compute self time: span duration minus its children's union."""
        children: dict = {}
        for sp in self.spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append((sp.start, sp.end))
        for sp in self.spans:
            if sp.end is None:
                continue
            sp.self_s = sp.s - _union(children.get(sp.id, []), sp.start, sp.end)

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = {}
        for sp in self.spans:
            if sp.end is not None:
                out.setdefault(sp.name, []).append(sp)
        return out

    def dump(self, path: str, extra: dict) -> None:
        rows = [{
            "id": sp.id, "name": sp.name, "start": sp.start, "end": sp.end,
            "parent": sp.parent, "run_id": self.run_id, "s": sp.s,
            "self_s": sp.self_s, "attrs": sp.attrs, "counters": sp.counters,
        } for sp in self.spans if sp.end is not None]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, **extra, "spans": rows}, fh,
                      indent=1, default=str)


def _union(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _counters(sp: Span, jobs, by_stage) -> dict:
    seen = set()
    tasks = cpu = shw = spill = inb = outb = shrec = inrec = 0
    for _t0, _t1, _tags, sids in jobs:
        for sid in sids:
            if sid in seen:
                continue
            seen.add(sid)
            for t, c, w, sp_b, i, o, wr, ir in by_stage.get(sid, ()):
                tasks += t
                cpu += c
                shw += w
                spill += sp_b
                inb += i
                outb += o
                shrec += wr
                inrec += ir
    busy = _union([(j[0], j[1]) for j in jobs], sp.start, sp.end)
    n_stages = sum(len(by_stage.get(s, ())) for s in seen)
    return {
        "s": sp.s, "jobs": len(jobs), "stages": n_stages, "tasks": tasks,
        "job_busy_s": busy, "driver_s": max(sp.s - busy, 0.0),
        "executor_cpu_s": cpu, "shuffle_write_bytes": shw,
        "spill_bytes": spill, "input_bytes": inb, "output_bytes": outb,
        "shuffle_write_records": shrec, "input_records": inrec,
    }


def median_counters(spans: list[Span]) -> dict:
    """Per-call median of every counter over the calls of one span."""
    if not spans:
        return {}
    keys = set().union(*(sp.counters.keys() for sp in spans)) | {"s"}
    out = {}
    for k in keys:
        vals = [sp.counters.get(k, sp.s if k == "s" else 0) for sp in spans]
        out[k] = statistics.median(vals)
    return out

