"""Span tracing from outside the engine, plus the Spark event-log join.

The traced run wraps the engine's public functions by replacing attributes
on their class or module, so the package itself is never edited. Each span
records name, start, end, parent id and run id; spans are held in memory
and summarised after the run. The innermost open span id is also set as a
Spark local property, so every job in the event log names the span that
submitted it. py4j round trips are counted by wrapping the gateway client's
``send_command``; the tracer's own calls are excluded.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROP = "ingestbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str | None
    start: float
    end: float = 0.0
    py4j_calls: int = 0  # inclusive: round trips made while this span was open
    py4j_s: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans on one thread (the engine's callers are a
    single closed-loop client, so one stack suffices)."""

    def __init__(self, set_span_property=None):
        self.spans: list[Span] = []
        self.run: str | None = None
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._set_prop = set_span_property
        self.py4j_calls = 0
        self.py4j_s = 0.0
        self.own_s = 0.0  # time spent publishing span ids: the tracer's main cost

    # ---- spans ----

    def _publish(self, span_id: int | None) -> None:
        if self._set_prop is None:
            return
        # the property write is itself a round trip: keep it out of the
        # py4j counters so they measure the engine, not the tracer
        t = time.perf_counter()
        calls, secs = self.py4j_calls, self.py4j_s
        self._set_prop(None if span_id is None else str(span_id))
        self.py4j_calls, self.py4j_s = calls, secs
        self.own_s += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=len(self.spans) + 1,
            name=name,
            parent=parent.id if parent else None,
            run=self.run,
            start=time.time(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._publish(s.id)
        c0, t0 = self.py4j_calls, self.py4j_s
        try:
            yield s
        finally:
            s.py4j_calls = self.py4j_calls - c0
            s.py4j_s = self.py4j_s - t0
            self._stack.pop()
            self._publish(parent.id if parent else None)
            s.end = time.time()

    # ---- attribute patching ----

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. Patch the
        name the caller actually looks up: a module global for functions
        imported with ``from x import f`` at load time, the defining module
        for ones imported at call time, the class for methods."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name) as s:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(s, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def wrap_factory(self, owner, attr: str, name: str) -> None:
        """Wrap a function that returns a function (``compile_refinement``)
        so the returned closure records a span on every call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def factory(*args, **kwargs):
            inner = orig(*args, **kwargs)

            @functools.wraps(inner)
            def traced(*a, **k):
                with tracer.span(name):
                    return inner(*a, **k)

            return traced

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, factory)

    def count_py4j(self, client) -> None:
        """Count round trips and their time on a py4j gateway client."""
        orig = client.send_command
        tracer = self

        def send_command(*args, **kwargs):
            t = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.py4j_s += time.perf_counter() - t
                tracer.py4j_calls += 1

        self._patches.append((client, "send_command", None))
        client.send_command = send_command

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)  # instance attribute shadowing the method
            else:
                setattr(owner, attr, orig)
        self._patches.clear()


# ---------------------------------------------------------------- span maths


def children(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def self_time(span: Span, kids: dict[int | None, list[Span]]) -> float:
    return span.dur - covered([(c.start, c.end) for c in kids.get(span.id, [])], span.start, span.end)


def check_nesting(spans: list[Span]) -> list[str]:
    """Problems with the span tree: a child outside its parent, siblings
    that overlap, or self time plus children's time not equal to wall."""
    by_id = {s.id: s for s in spans}
    kids = children(spans)
    errs = []
    for s in spans:
        if s.end < s.start:
            errs.append(f"span {s.id} {s.name} ends before it starts")
        if s.parent is not None:
            p = by_id[s.parent]
            if s.start < p.start or s.end > p.end:
                errs.append(f"span {s.id} {s.name} escapes parent {p.id} {p.name}")
        ks = sorted(kids.get(s.id, []), key=lambda c: c.start)
        for a, b in zip(ks, ks[1:]):
            if b.start < a.end:
                errs.append(f"children {a.id} and {b.id} of span {s.id} overlap")
        if abs(self_time(s, kids) + sum(c.dur for c in ks) - s.dur) > 1e-6:
            errs.append(f"span {s.id} {s.name}: self + children != wall")
    return errs


def unattributed_share(spans: list[Span], root: Span, scopes: tuple[str, ...]) -> float:
    """Share of the root's wall that no layer span accounts for: the root's
    self time plus the self time of its children named in ``scopes``. Those
    are the bench's own spans around engine calls, so their self time is an
    engine entry point the tracer does not wrap. A missing layer wrapper
    shows here; span arithmetic alone (which always adds up) would not."""
    kids = children(spans)
    lost = self_time(root, kids) + sum(
        self_time(c, kids) for c in kids.get(root.id, []) if c.name in scopes
    )
    return lost / root.dur


# ---------------------------------------------------------------- event log


@dataclass
class Job:
    id: int
    submit: float
    end: float
    span: int | None
    stages: list[int]


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    shuffle_read: int
    spill: int
    in_bytes: int
    in_records: int
    out_bytes: int
    out_records: int


def parse_event_log(path: str) -> tuple[dict[int, Job], dict[int, int], list[Task]]:
    """Jobs (with the span that submitted each), stage → job, and tasks
    from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    tasks: list[Task] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                span = props.get(SPAN_PROP)
                job = Job(
                    id=ev["Job ID"],
                    submit=ev["Submission Time"] / 1000.0,
                    end=ev["Submission Time"] / 1000.0,
                    span=int(span) if span else None,
                    stages=list(ev.get("Stage IDs", [])),
                )
                jobs[job.id] = job
                for sid in job.stages:
                    stage_job[sid] = job.id
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                im = m.get("Input Metrics") or {}
                om = m.get("Output Metrics") or {}
                tasks.append(
                    Task(
                        stage=ev["Stage ID"],
                        launch=info["Launch Time"] / 1000.0,
                        finish=info["Finish Time"] / 1000.0,
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        shuffle_write=sw.get("Shuffle Bytes Written", 0),
                        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        in_bytes=im.get("Bytes Read", 0),
                        in_records=im.get("Records Read", 0),
                        out_bytes=om.get("Bytes Written", 0),
                        out_records=om.get("Records Written", 0),
                    )
                )
    return jobs, stage_job, tasks
