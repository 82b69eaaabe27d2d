"""Spans around calls into the library, kept in memory.

A ``Tracer`` wraps public functions and methods for the length of a
traced op and restores them afterwards; nothing in ``deepie_spark`` is
modified on disk.  Each span records name, start, end and parent; the
op is the root span.  While a span is open its id is set as a Spark local
property, so every Spark job it starts carries the id into the event
log; ``spark_jobs`` reads the log back and attributes jobs, tasks,
task time, shuffle and spill to spans.  Span ids are unique across every
Tracer of the process, because one event log covers all the ops of a run.
"""

from __future__ import annotations

import functools
import glob
import inspect
import itertools
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROP = "perfbench.span"
_SPAN_IDS = itertools.count()  # shared by all Tracers of the process


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    t0: float
    t1: float = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    def _set_prop(self) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROP, str(self._stack[-1]) if self._stack else None
            )

    @contextmanager
    def span(self, name: str):
        sp = Span(next(_SPAN_IDS), name,
                  self._stack[-1] if self._stack else None, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        self._set_prop()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            self._set_prop()

    # ---- wrappers ---------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, record: list | None = None) -> None:
        """Replace ``owner.attr`` with a spanned wrapper until ``unwrap``;
        with ``record``, each call's arguments bound to ``owner.attr``'s
        parameter names are appended to it."""
        orig = getattr(owner, attr)
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if record is not None:
                record.append(sig.bind(*args, **kwargs).arguments)
            with tracer.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_everywhere(self, func, name: str) -> None:
        """Wrap a module-level function in every loaded module that
        bound it by name (``from m import f`` copies the reference)."""
        for mod in list(sys.modules.values()):
            if getattr(mod, func.__name__, None) is func:
                self.wrap(mod, func.__name__, name)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---- output -----------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [asdict(s) for s in self.spans]}, fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(kids.get(s.sid, ()), key=lambda c: c.t0):
            lo, hi = max(c.t0, s.t0), min(c.t1, s.t1)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.sid] = s.dur - covered
    return out


def descendants(spans: list[Span], root: int) -> set[int]:
    """``root`` and every span under it."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.sid)
    out, todo = set(), [root]
    while todo:
        sid = todo.pop()
        out.add(sid)
        todo.extend(kids.get(sid, ()))
    return out


def sum_by_name(spans: list[Span], sids: set[int], values: dict[int, float] | None = None
                ) -> dict[str, float]:
    """Per span name: total of ``values`` (default: duration) over ``sids``."""
    out: dict[str, float] = {}
    for s in spans:
        if s.sid in sids:
            out[s.name] = out.get(s.name, 0.0) + (values[s.sid] if values else s.dur)
    return out


def count_by_name(spans: list[Span], sids: set[int]) -> dict[str, int]:
    out: dict[str, int] = {}
    for s in spans:
        if s.sid in sids:
            out[s.name] = out.get(s.name, 0) + 1
    return out


# ---- Spark event log ---------------------------------------------------------


def spark_jobs(eventlog_dir: str) -> list[dict]:
    """One dict per Spark job in the event log: its span id (or None),
    task count, executor run seconds, shuffle bytes written and bytes
    spilled."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[tuple[int, dict]] = []
    for path in sorted(glob.glob(f"{eventlog_dir}/*")):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:  # a partly flushed last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    span = (ev.get("Properties") or {}).get(SPAN_PROP)
                    jobs[jid] = {"job": jid, "span": int(span) if span else None,
                                 "tasks": 0, "run_s": 0.0, "shuffle_bytes": 0,
                                 "spill_bytes": 0}
                    for st in ev.get("Stage IDs", ()):
                        stage_job.setdefault(st, jid)  # first job that runs it
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    for stage, m in tasks:
        job = jobs.get(stage_job.get(stage))
        if job is None:
            continue
        job["tasks"] += 1
        job["run_s"] += m.get("Executor Run Time", 0) / 1000
        job["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0)
    return list(jobs.values())
