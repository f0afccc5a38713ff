"""Tracing from outside the engine: spans around calls into the engine's
public functions, one Spark job group per span, and readers for what the
status store and ``/proc`` say each span cost.

A span records its name, start, end and parent. While a span is open its
id is the thread's Spark job group, so every job, stage, task and
executor CPU-millisecond Spark runs inside it is attributed to it (and,
through the parent links, to its ancestors). Spans stay in memory; the
run writes them out once at the end.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0
    wall0: float = 0.0  # epoch seconds, to line up with stage times
    stages: list[dict] = field(default_factory=list)
    jobs: int = 0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.enabled = False

    def _group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench-{span.id}", span.name)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        span = Span(len(self.spans), name, parent, time.perf_counter(),
                    wall0=time.time())
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        return span

    def close(self, span: Span) -> None:
        span.t1 = time.perf_counter()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)
        self._collect(span)

    def _collect(self, span: Span) -> None:
        """Read the span's own jobs and stages from the status store while
        they are still retained."""
        store = self.sc._jsc.sc().statusStore()
        jobs = self.sc.statusTracker().getJobIdsForGroup(f"perfbench-{span.id}")
        span.jobs = len(jobs)
        for jid in sorted(jobs):
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:
                    continue  # skipped stage: its output was reused
                if st.status().toString() != "COMPLETE":
                    continue
                sub, done = st.submissionTime(), st.completionTime()
                span.stages.append(
                    {
                        "job": jid,
                        "tasks": st.numTasks(),
                        "cpu_ns": st.executorCpuTime(),
                        "gc_ms": st.jvmGcTime(),
                        "input_bytes": st.inputBytes(),
                        "shuffle_write_bytes": st.shuffleWriteBytes(),
                        "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                        "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                    }
                )

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around the block; nothing at all while disabled."""
        if not self.enabled:
            yield
            return
        span = self.open(name)
        try:
            yield
        finally:
            self.close(span)

    def wrap(self, module, attr: str, name: str, lazy_collect: bool = False):
        """Replace ``module.attr`` by a traced pass-through. With
        ``lazy_collect`` the function returns a DataFrame whose jobs run
        later at its ``collect``; that collect is traced as a child span
        ``<name>.collect`` of the caller's span."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            if lazy_collect and tracer.enabled:
                collect = out.collect

                def traced_collect():
                    with tracer.span(name + ".collect"):
                        return collect()

                out.collect = traced_collect
            return out

        setattr(module, attr, traced)

    def dump(self, path: str) -> None:
        """Write every span, with its own job and stage counts, as JSON."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                [
                    {"id": s.id, "name": s.name, "parent": s.parent,
                     "start_epoch_s": s.wall0, "dur_s": s.dur,
                     "jobs": s.jobs, "stages": s.stages}
                    for s in self.spans
                ],
                f,
            )

    # -- queries over recorded spans ----------------------------------
    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], {span.id}
        for s in self.spans[span.id + 1:]:
            if s.parent in frontier:
                out.append(s)
                frontier.add(s.id)
        return out

    def stages_under(self, span: Span) -> list[dict]:
        st = list(span.stages)
        for d in self.descendants(span):
            st += d.stages
        return st

    def jobs_under(self, span: Span) -> int:
        return span.jobs + sum(d.jobs for d in self.descendants(span))

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans[span.id + 1:] if s.parent == span.id]

    def named_under(self, span: Span, name: str) -> list[Span]:
        return [s for s in self.descendants(span) if s.name == name]


def stage_union_s(stages: list[dict], lo: float, hi: float) -> float:
    """Length of the union of the stages' run intervals, clipped to
    ``[lo, hi]`` (epoch seconds)."""
    iv = sorted(
        (max(s["start"], lo), min(s["end"], hi))
        for s in stages
        if s["start"] is not None and s["end"] is not None
    )
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# -- /proc readers (Linux) ---------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed.
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(int(entry))
            if st is not None:
                parents[int(entry)] = int(st[1])
    out, frontier = [], {root}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parents.items():
            if ppid in frontier and pid not in frontier:
                frontier.add(pid)
                out.append(pid)
                changed = True
    return out


def cpu_s(pids: list[int]) -> float:
    """User + system CPU of the processes and of their reaped children."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def python_worker_cpu_s(jvm: int | None) -> float:
    """CPU of the JVM's Python worker processes (the pandas-UDF / Arrow
    boundary's far side)."""
    if jvm is None:
        return 0.0
    return cpu_s(descendants(jvm))
