"""Outside tracer: spans recorded around calls into the program, and
Spark's own event log folded onto those spans.

Spans are kept in memory and written out once, at the end of a run. A
span is (id, name, start, end, parent, request); times are wall-clock
epoch seconds, the clock Spark stamps its events with, so every job can
be assigned to the innermost span whose interval holds the job's
submission time. That works for the pipeline's own worker threads too,
which do not inherit job groups or the caller's span stack.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    request: str | None


class Tracer:
    """Span recorder; with ``enabled=False`` every span is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, parent: int | None = None, request: str | None = None):
        """Record ``name`` around the block. The parent is the innermost
        open span of this thread, else ``parent`` (for client threads
        that work under a span opened by another thread)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        par = stack[-1] if stack else parent
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, par, request))

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": [asdict(s) for s in self.spans], **extra}, f)


# --- Spark event log --------------------------------------------------------

@dataclass
class StageRec:
    id: int
    tasks: int
    duration_s: float
    run_s: float          # sum of task executor run time
    gc_s: float
    shuffle_write: int
    spill: int            # memory + disk bytes spilled
    task_times: list      # executor run time per task, seconds


@dataclass
class JobRec:
    id: int
    submitted: float
    stages: list
    props: dict


def read_event_log(log_dir: str) -> tuple[list[JobRec], dict[int, StageRec]]:
    """Parse the (uncompressed) JSON event log that Spark wrote under
    ``log_dir``: jobs with their stage ids, stages with task metrics."""
    jobs: list[JobRec] = []
    stages: dict[int, StageRec] = {}
    tasks: dict[int, list[dict]] = {}
    # Spark 4 rolls the log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    for path in glob.glob(f"{log_dir}/**/events_*", recursive=True):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append(JobRec(ev["Job ID"], ev["Submission Time"] / 1000.0,
                                       ev["Stage IDs"], ev.get("Properties") or {}))
                elif kind == "SparkListenerTaskEnd":
                    tasks.setdefault(ev["Stage ID"], []).append(ev.get("Task Metrics") or {})
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sub, done = info.get("Submission Time"), info.get("Completion Time")
                    stages[info["Stage ID"]] = StageRec(
                        info["Stage ID"], info["Number of Tasks"],
                        (done - sub) / 1000.0 if sub and done else 0.0,
                        0.0, 0.0, 0, 0, [])
    for sid, rec in stages.items():
        for m in tasks.get(sid, []):
            run = m.get("Executor Run Time", 0) / 1000.0
            rec.task_times.append(run)
            rec.run_s += run
            rec.gc_s += m.get("JVM GC Time", 0) / 1000.0
            rec.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            rec.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _depth(span: Span, by_id: dict[int, Span]) -> int:
    d = 0
    while span.parent is not None and span.parent in by_id:
        span, d = by_id[span.parent], d + 1
    return d


def assign_jobs(spans: list[Span], jobs: list[JobRec]) -> dict[int, list[JobRec]]:
    """Map span id -> jobs submitted inside it (innermost span wins; a
    job tagged with a request id goes to that request's span)."""
    by_id = {s.id: s for s in spans}
    depth = {s.id: _depth(s, by_id) for s in spans}
    requests = {s.request for s in spans if s.request}
    out: dict[int, list[JobRec]] = {}
    for job in jobs:
        req = job.props.get("perfbench.request")
        inner = [s for s in spans if s.start <= job.submitted <= s.end
                 and (req not in requests or s.request == req)]
        if not inner:
            continue
        home = max(inner, key=lambda s: (depth[s.id], s.start))
        out.setdefault(home.id, []).append(job)
    return out


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def layer_metrics(spans: list[Span], jobs: list[JobRec], stages: dict[int, StageRec],
                  cores: int, passes: int, once: set[str]) -> dict[str, dict[str, float]]:
    """Per-layer (span name) figures, per pass of the workload; layers in
    ``once`` (set-up) are totals for the run.

    ``s`` is the union of the layer's span intervals; ``self_s`` removes
    the part covered by child spans; ``busy_frac`` is executor run time
    over (``s`` x cores), the rest being driver-side or scheduler wait;
    ``task_skew`` is max/median task time of the layer's slowest stage.
    """
    by_job = assign_jobs(spans, jobs)
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree_jobs(s: Span) -> list[JobRec]:
        out = list(by_job.get(s.id, []))
        for c in children.get(s.id, []):
            out += subtree_jobs(c)
        return out

    out: dict[str, dict[str, float]] = {}
    for name in sorted({s.name for s in spans}):
        n = 1 if name in once else passes
        mine = [s for s in spans if s.name == name]
        layer_jobs = [j for s in mine for j in subtree_jobs(s)]
        wall = _union([(s.start, s.end) for s in mine])
        kids = [(c.start, c.end) for s in mine for c in children.get(s.id, [])]
        stage_ids = sorted({sid for j in layer_jobs for sid in j.stages if sid in stages})
        st = [stages[i] for i in stage_ids]
        slowest = max(st, key=lambda r: r.duration_s, default=None)
        skew = 1.0
        if slowest is not None and slowest.task_times and statistics.median(slowest.task_times) > 0:
            skew = max(slowest.task_times) / statistics.median(slowest.task_times)
        run_s = sum(r.run_s for r in st)
        out[name] = {
            "s": wall / n,
            "self_s": (wall - _union(kids)) / n,
            "jobs": len(layer_jobs) / n,
            "stages": len(st) / n,
            "shuffle_write_bytes": sum(r.shuffle_write for r in st) / n,
            "spill_bytes": sum(r.spill for r in st) / n,
            "task_skew": skew,
            "gc_s": sum(r.gc_s for r in st) / n,
            "busy_frac": run_s / (wall * cores) if wall > 0 else 0.0,
        }
    return out
