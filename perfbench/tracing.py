"""Spans, Spark job tagging, event-log roll-up and memory sampling.

A span is recorded around each call the benchmark makes into one of the
package's layers. Every Spark job submitted while a span is open carries
that span's job tag (``SparkContext.addJobTag``), so after the session
stops the event log can be rolled up per span: each job belongs to the
innermost span whose tag it carries.
"""

from __future__ import annotations

import json
import os
import select
import subprocess
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    request: int | None
    tag: str
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """In-memory span recorder. Disabled tracers record nothing and tag
    no jobs, so the untraced run pays only a few attribute lookups."""

    def __init__(self, sc=None, enabled: bool = False):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1].id if self._stack else None
        s = Span(
            sid, name, time.perf_counter(), None, parent, request,
            f"perfbench-span-{sid}",
        )
        self.spans.append(s)
        self._stack.append(s)
        self.sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.removeJobTag(s.tag)
            self._stack.pop()

    def self_time(self, span: Span) -> float:
        children = sum(
            s.end - s.start for s in self.spans if s.parent == span.id
        )
        return (span.end - span.start) - children

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


# --- event log -------------------------------------------------------------

#: task-level counters summed per job; times in seconds, sizes in bytes
TASK_FIELDS = (
    "tasks",
    "failed_tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "scheduler_delay_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
)


@dataclass
class Job:
    id: int
    tags: tuple[str, ...]
    description: str | None
    submitted_ms: int
    completed_ms: int | None = None
    totals: dict = field(default_factory=lambda: dict.fromkeys(TASK_FIELDS, 0.0))

    @property
    def wall_s(self) -> float:
        if self.completed_ms is None:
            return 0.0
        return (self.completed_ms - self.submitted_ms) / 1000.0


def _task_totals(event: dict) -> dict:
    info = event.get("Task Info", {})
    m = event.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    overhead_ms = m.get("Executor Deserialize Time", 0) + m.get(
        "Result Serialization Time", 0
    )
    launch, finish = info.get("Launch Time", 0), info.get("Finish Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting_ms = finish - getting if getting > 0 else 0
    delay_ms = max(0, (finish - launch) - run_ms - overhead_ms - getting_ms)
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "failed_tasks": 1 if info.get("Failed") else 0,
        "executor_run_s": run_ms / 1000.0,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
        "scheduler_delay_s": delay_ms / 1000.0,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
        + sr.get("Local Bytes Read", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0)
        + m.get("Disk Bytes Spilled", 0),
    }


def read_event_log(path: str) -> dict[int, Job]:
    """Parse one uncompressed, non-rolling Spark event log into jobs
    with their tags, description and summed task metrics. A task is
    credited to the job that submitted its stage."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                tags = tuple(
                    t for t in (props.get("spark.job.tags") or "").split(",") if t
                )
                job = Job(
                    ev["Job ID"], tags, props.get("spark.job.description"),
                    ev.get("Submission Time", 0),
                )
                jobs[job.id] = job
                for s in ev.get("Stage IDs", ()):
                    stage_job.setdefault(s, job.id)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].completed_ms = ev.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                if jid is None:
                    continue
                totals = jobs[jid].totals
                for k, v in _task_totals(ev).items():
                    totals[k] += v
    return jobs


def attribute_jobs(tracer: Tracer, jobs: dict[int, Job]) -> None:
    """Give each span the ids of the jobs whose innermost tag is its
    own (jobs carry every enclosing span's tag; the deepest wins)."""
    by_tag = {s.tag: s for s in tracer.spans}
    for job in jobs.values():
        owners = [by_tag[t] for t in job.tags if t in by_tag]
        if owners:
            max(owners, key=lambda s: s.id).jobs.append(job.id)


def descendants(tracer: Tracer, root: Span) -> list[Span]:
    out, frontier = [root], [root.id]
    while frontier:
        kids = [s for s in tracer.spans if s.parent in frontier]
        out += kids
        frontier = [s.id for s in kids]
    return out


def jobs_under(tracer: Tracer, jobs: dict[int, Job], spans: list[Span]) -> list[Job]:
    """Jobs attributed to the given spans or any span below them."""
    seen: set[int] = set()
    for s in spans:
        for d in descendants(tracer, s):
            seen.update(d.jobs)
    return [jobs[j] for j in sorted(seen)]


def sum_totals(jobs: list[Job]) -> dict:
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for j in jobs:
        for k in TASK_FIELDS:
            out[k] += j.totals[k]
    return out


# --- memory ----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendant_pids(pid: int) -> list[int]:
    kids = _children()
    out, frontier = [], [pid]
    while frontier:
        nxt = [c for p in frontier for c in kids.get(p, [])]
        out += nxt
        frontier = nxt
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def sample_peak_kb(parent: int, interval_s: float) -> int:
    """Peak summed resident memory of ``parent``'s descendants (not
    counting this process), sampled until standard input closes."""
    me, peak = os.getpid(), 0
    while True:
        total = sum(_rss_kb(p) for p in descendant_pids(parent) if p != me)
        peak = max(peak, total)
        if select.select([sys.stdin], [], [], interval_s)[0]:
            return peak


class RssSampler:
    """Samples the summed resident memory of every process below this
    one (the JVM and its Python workers). The sampler is a separate
    process so that it never holds this interpreter's lock while the
    client thread is being timed."""

    def __init__(self, interval_s: float = 0.2):
        self.cmd = [
            sys.executable, os.path.abspath(__file__), str(os.getpid()), str(interval_s)
        ]
        self.peak_kb = 0

    def __enter__(self) -> RssSampler:
        self._proc = subprocess.Popen(
            self.cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate(input="")
        self.peak_kb = int(out)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


if __name__ == "__main__":
    print(sample_peak_kb(int(sys.argv[1]), float(sys.argv[2])))
