"""In-memory spans around the package's public entry points, the offline
Spark event-log parser that attributes jobs and tasks to them, and the
peak-RSS sampler.

Spans are recorded from outside the package: `Tracer.wrap` replaces a
module attribute with a wrapper that opens a span, tags every Spark job
fired inside it with `setJobGroup(<span id>)`, and restores the caller's
job group when it closes. The event log written for the traced run is
parsed after the session stops.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans kept in memory; a disabled tracer records nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str, counter=None) -> None:
        """Replace `owner.attr` by a spanned wrapper (traced runs only).

        `counter(args, kwargs, out, before, pre)` is called before the call
        (`before=True`, its return value becomes `pre`) and after it.
        """
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                pre = counter(args, kwargs, None, True, None) if counter else None
                out = fn(*args, **kwargs)
                if counter:
                    counter(args, kwargs, out, False, pre)
                return out

        self._patches.append((owner, attr, fn))
        setattr(owner, attr, spanned)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name
        self.span: Span | None = None

    def __enter__(self) -> Span:
        t = self.t
        if not t.enabled:
            self.span = Span("", self.name, None, 0.0)
            return self.span
        stack = t._stack()
        parent = stack[-1].sid if stack else None
        sp = Span(f"{self.name}#{len(t.spans)}", self.name, parent, time.perf_counter())
        t.spans.append(sp)
        stack.append(sp)
        self.prev_group = t.sc.getLocalProperty("spark.jobGroup.id")
        self.prev_desc = t.sc.getLocalProperty("spark.job.description")
        t.sc.setJobGroup(sp.sid, self.name)
        self.span = sp
        return sp

    def __exit__(self, *exc) -> None:
        t = self.t
        if not t.enabled:
            return
        self.span.end = time.perf_counter()
        t._stack().pop()
        t.sc.setLocalProperty("spark.jobGroup.id", self.prev_group)
        t.sc.setLocalProperty("spark.job.description", self.prev_desc)


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

TASK_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "input_splits")


def read_event_log(log_dir: str, window: tuple[float, float]) -> tuple[dict[str, int], dict[str, dict]]:
    """(jobs per job group, task totals per job group) from the log.

    Works for the single-file and the rolling (`eventlog_v2_*`) layout.
    Jobs outside any group count under the empty group "", and every job
    submitted inside `window` (epoch seconds) also under "__window__".
    """
    files = sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")))
    files += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    jobs: dict[str, int] = defaultdict(int)
    tasks: dict[str, dict] = defaultdict(lambda: dict.fromkeys(TASK_FIELDS, 0.0))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[group] += 1
                    if window[0] * 1e3 <= ev.get("Submission Time", 0) <= window[1] * 1e3:
                        jobs["__window__"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = tasks[stage_group.get(ev.get("Stage ID"), "")]
                    acc["tasks"] += 1
                    acc["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    acc["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                    acc["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
                    if (m.get("Input Metrics") or {}).get("Bytes Read", 0) > 0:
                        acc["input_splits"] += 1
    return dict(jobs), {k: dict(v) for k, v in tasks.items()}


# ---------------------------------------------------------------------------
# Host CPU time stolen by the hypervisor
# ---------------------------------------------------------------------------


def host_jiffies() -> tuple[int, int]:
    """(stolen, total) CPU jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the host's CPU time in the interval that other guests took."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


# ---------------------------------------------------------------------------
# Peak RSS of the process tree
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(d))
        rss[int(d)] = resident * page
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Polls the RSS of this process and its descendants every `period_s`."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
