"""In-memory span tracing with Spark stage counters attached.

A span is one call into a layer, recorded from the benchmark's own code:
name, start, end and parent. Each span tags the Spark jobs it triggers
with its own job group, so when it closes the jobs are looked up in
Spark's status store and their stages' executor run time, executor CPU
time, shuffle bytes, spill bytes and task counts are attached to it.
Spans are kept in memory and written out once, at the end of the run.

:class:`NullTracer` has the same interface and records nothing; the
untraced end-to-end runs use it, so both runs execute the same calls.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections.abc import Iterator
from dataclasses import asdict, dataclass, field
from pathlib import Path

COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
    "jobs",
)


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    # counters of the jobs that ran while this span was the innermost one
    own: dict[str, float] = field(default_factory=dict)
    attrs: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children of one parent may not overlap in a single
    thread, but overlapping intervals are merged anyway)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = s.duration - covered
    return out


def inclusive(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Counters of each span's own jobs plus those of all descendants."""
    by_id = {s.span_id: s for s in spans}
    tot = {s.span_id: dict.fromkeys(COUNTERS, 0.0) for s in spans}
    for s in spans:
        node: Span | None = s
        while node is not None:
            for k in COUNTERS:
                tot[node.span_id][k] += s.own.get(k, 0.0)
            node = by_id.get(node.parent) if node.parent is not None else None
    return tot


class NullTracer:
    enabled = False

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        yield None

    def attr(self, key: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Records spans for one SparkContext at a time (see :meth:`bind`)."""

    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._claimed: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, sc) -> None:
        """Follow a (re)started SparkContext."""
        self._sc = sc

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.span_id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._collect(s)

    def attr(self, key: str, value: float) -> None:
        self._stack[-1].attrs[key] = value

    def _group(self, s: Span) -> str:
        return f"perfbench-span-{s.span_id}"

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(self._group(s), s.name)

    def _collect(self, s: Span) -> None:
        """Attach the stage counters of the jobs tagged with ``s``."""
        sc = self._sc
        if sc is None:
            return
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        gw = sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        own = dict.fromkeys(COUNTERS, 0.0)
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(self._group(s)):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            own["jobs"] += 1
            for sid in info.stageIds:
                # a skipped stage listed by a later job has its own id in
                # AQE plans; the claimed set guards the non-AQE reuse case
                if sid in self._claimed:
                    continue
                self._claimed.add(sid)
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    own["executor_run_s"] += st.executorRunTime() / 1e3
                    own["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    own["shuffle_read_bytes"] += st.shuffleReadBytes()
                    own["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    own["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    own["tasks"] += st.numCompleteTasks()
        s.own = own

    # ── wrappers around layer functions called inside the package ──────

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a version that runs in a span named
        ``name`` and hands its result to ``on_result``; undone by
        :meth:`unwrap_all`. This reaches calls the package makes
        internally, e.g. the heading pass inside ``extraction.extract``."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        self.patch(owner, attr, traced)

    def patch(self, owner: object, attr: str, replacement: object) -> None:
        """Set ``owner.attr`` until :meth:`unwrap_all`."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def unwrap_all(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def write(self, path: Path) -> None:
        selft = self_times(self.spans)
        incl = inclusive(self.spans)
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                rec = asdict(s)
                rec["self_s"] = selft[s.span_id]
                rec["inclusive"] = incl[s.span_id]
                f.write(json.dumps(rec) + "\n")
