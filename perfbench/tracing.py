"""Measurement plumbing kept outside the engine: spans, Spark counters, RSS.

* :class:`Tracer` rebinds engine functions at the names their callers look
  up (``datastore.base_search``, ``grouping.null_profile`` ...) so a call
  records a span: name, start, end, parent span and op id. Each span runs
  under its own Spark job group, so every job is attributed to the
  innermost span that launched it. Spans stay in memory until the run
  ends. Nothing is rebound unless a traced run asks for it.
* :func:`op_counters` reads, right after one op, the jobs of that op's job
  groups from ``statusTracker`` and their stages from the status store
  (``lastStageAttempt`` works with the UI disabled; the store keeps only
  ~1,000 stages, so it is read per op, never at the end).
* :class:`RssSampler` is the one extra thread: it sums ``VmRSS`` of the
  Python driver and every descendant process (the JVM and its Python
  workers) and keeps the peak.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int
    group: str
    info: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder that wraps engine functions while active."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.active = False
        self.op = -1
        self.groups: list[str] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- rebinding ------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Rebind ``owner.attr`` (module global or class attribute) to a
        span-recording wrapper. ``on_result(span, args, kwargs, result)``
        may add counts to the span's ``info``."""
        raw = owner.__dict__[attr]
        kind = type(raw) if isinstance(raw, (classmethod, staticmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self._enter(name)
            try:
                result = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, kwargs, result)
                return result
            finally:
                self._exit(span)

        setattr(owner, attr, kind(traced) if kind else traced)
        self._patched.append((owner, attr, raw))

    def restore(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- spans ------------------------------------------------------------
    def attach(self, sc) -> None:
        """Follow a restarted session (None while it restarts)."""
        self.sc = sc
        self._set_group(self._current_group())

    def _current_group(self) -> str:
        return self.spans[self._stack[-1]].group if self._stack else f"op{self.op}"

    def _set_group(self, group: str) -> None:
        if self.sc is not None:  # None while the session restarts
            self.sc.setJobGroup(group, group)

    def begin_op(self, op: int) -> None:
        self.op = op
        self.groups = [f"op{op}"]
        self._set_group(self.groups[0])

    def end_op(self) -> None:
        if self.sc is not None:
            self.sc._jsc.clearJobGroup()

    def _enter(self, name: str) -> Span:
        group = f"op{self.op}.s{len(self.spans)}"
        parent = self._stack[-1] if self._stack else None
        span = Span(name, time.perf_counter(), 0.0, parent, self.op, group)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self.groups.append(group)
        self._set_group(group)
        return span

    def _exit(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._current_group())

    def self_times(self) -> list[float]:
        """Each span's duration minus the time covered by its children."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        return [s.end - s.start - c for s, c in zip(self.spans, child)]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def op_counters(sc, groups: list[str]) -> dict:
    """Jobs, stages and task totals for the job groups of one op.

    Returns ``{"jobs": {job_id: {...}}, ...totals}`` where each job carries
    its group, wall interval (epoch seconds) and stage totals."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = {}
    tot = dict(stages=0, tasks=0, tasks_failed=0, shuffle_write_b=0,
               input_b=0, input_records=0, executor_run_s=0.0)
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(jid)
            jd = store.job(jid)
            job = dict(group=g, start=_ms(jd.submissionTime()),
                       end=_ms(jd.completionTime()), stages=0,
                       shuffle_write_b=0, executor_run_s=0.0, input_records=0)
            for sid in list(info.stageIds) if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                job["stages"] += 1
                job["shuffle_write_b"] += st.shuffleWriteBytes()
                job["executor_run_s"] += st.executorRunTime() / 1000.0
                job["input_records"] += st.inputRecords()
                tot["tasks"] += (st.numCompleteTasks() + st.numFailedTasks()
                                 + st.numKilledTasks())
                tot["tasks_failed"] += st.numFailedTasks()
                tot["input_b"] += st.inputBytes()
            for k in ("stages", "shuffle_write_b", "executor_run_s",
                      "input_records"):
                tot[k] += job[k]
            jobs[jid] = job
    tot["jobs"] = jobs
    return tot


def busy_intervals_s(jobs: dict) -> float:
    """Seconds covered by the union of the jobs' wall intervals."""
    iv = sorted((j["start"], j["end"]) for j in jobs.values()
                if j["start"] is not None and j["end"] is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class RssSampler:
    """Peak resident set of this process plus all its descendants."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        pids, refreshed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 1.0:
                pids, refreshed = self._pids(), now
            self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in pids))
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
