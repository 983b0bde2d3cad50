"""Spans, Spark event-log parsing and the small statistics the
benchmark reports.

Spans are recorded from the benchmark's own files, around the calls it
makes into each layer's public functions; nothing inside the program is
instrumented. Each span tags the Spark jobs it submits with
``SparkContext.setJobGroup(<span id>, ...)`` so the task metrics in the
event log can be attributed back to the span that caused them.
"""

from __future__ import annotations

import functools
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# --- spans -----------------------------------------------------------------


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float
    end: float = math.nan
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans are kept in a list and written
    out once, when the run ends. A disabled tracer costs one attribute
    check per call and records nothing. ``overhead_s`` sums the time
    spent in the tracer's own bookkeeping and job-group calls."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb{len(self.spans)}", name, parent.id if parent else None, t0, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield s
        finally:
            s.end = t1 = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.overhead_s += time.perf_counter() - t1

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.id, s.name, False)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that runs the original
        inside a span; ``attrs_of(*args, **kw)`` may tag the span.
        :meth:`unwrap` puts every original back."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kw):
            attrs = attrs_of(*args, **kw) if attrs_of else {}
            with self.span(name, **attrs):
                return original(*args, **kw)

        self._patched.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def children_of(spans: list[Span]) -> dict[str | None, list[Span]]:
    out: dict[str | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span duration minus the part of its interval that its direct
    children cover (children clipped to the parent's interval)."""
    kids = children_of(spans)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, [])
            if c.end > s.start and c.start < s.end
        )
        out[s.id] = s.dur - covered
    return out


def subtree_ids(spans: list[Span], root: str) -> list[str]:
    kids = children_of(spans)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(sid)
        todo.extend(c.id for c in kids.get(sid, []))
    return out


# --- statistics --------------------------------------------------------------

TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int) -> float | None:
    """The highest percentile of the ladder with at least ten samples
    beyond it (p90 needs 100 samples, p99 1000); None below 20."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10.0 - 1e-9:
            return p
    return None


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[k - 1]


def median(values) -> float:
    xs = sorted(values)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return xs[m] if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


# --- Spark event log ---------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    group: str | None
    stage_ids: list[int]
    tasks: int = 0
    executor_run_ms: float = 0.0
    gc_ms: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    python_worker_ms: float = 0.0


def _python_ms(accumulables) -> float:
    """Time spent running Python workers (ms), from the SQL-metric
    accumulables a task reports for its ``mapInPandas``/``applyInPandas``
    nodes; worker start and initialisation time are not included."""
    return sum(
        float(acc.get("Update") or 0)
        for acc in accumulables or ()
        if acc.get("Name") == "time to run Python workers"
    )


def parse_event_log(lines) -> dict[int, JobStats]:
    """Job id -> aggregated task metrics, from the JSON lines of an
    uncompressed Spark event log. Tasks are attributed to the job whose
    JobStart first lists their stage."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            j = JobStats(ev["Job ID"], props.get("spark.jobGroup.id"), list(ev.get("Stage IDs", [])))
            jobs[j.job_id] = j
            for sid in j.stage_ids:
                stage_job.setdefault(sid, j.job_id)
        elif kind == "SparkListenerTaskEnd":
            j = jobs.get(stage_job.get(ev.get("Stage ID")))
            if j is None:
                continue
            m = ev.get("Task Metrics") or {}
            j.tasks += 1
            j.executor_run_ms += m.get("Executor Run Time", 0)
            j.gc_ms += m.get("JVM GC Time", 0)
            j.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            j.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            j.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            j.python_worker_ms += _python_ms((ev.get("Task Info") or {}).get("Accumulables"))
    return jobs


def read_event_logs(log_dir: str) -> dict[int, JobStats]:
    """Parse every application log in ``log_dir`` (job ids restart per
    application, so ids are offset per file)."""
    out: dict[int, JobStats] = {}
    for i, name in enumerate(sorted(os.listdir(log_dir))):
        with open(os.path.join(log_dir, name)) as fh:
            for jid, j in parse_event_log(fh).items():
                out[i * 1_000_000 + jid] = j
    return out


def group_totals(jobs: dict[int, JobStats]) -> dict[str, dict[str, float]]:
    """Job-group (span id) -> summed job metrics plus a job count."""
    out: dict[str, dict[str, float]] = {}
    for j in jobs.values():
        if j.group is None:
            continue
        g = out.setdefault(j.group, {"jobs": 0, "tasks": 0, "executor_run_ms": 0.0, "gc_ms": 0.0,
                                     "input_bytes": 0, "output_bytes": 0,
                                     "shuffle_write_bytes": 0, "python_worker_ms": 0.0})
        g["jobs"] += 1
        for k in ("tasks", "executor_run_ms", "gc_ms", "input_bytes", "output_bytes",
                  "shuffle_write_bytes", "python_worker_ms"):
            g[k] += getattr(j, k)
    return out


# --- process memory ----------------------------------------------------------


def group_processes(pgid: int | None = None):
    """(stat fields after the command name, pid) of every live process
    in the process group."""
    pgid = os.getpgid(0) if pgid is None else pgid
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgid:
            yield fields, pid


def group_cpu_s(pgid: int | None = None) -> float:
    """CPU time (user + system) used so far by the process group: every
    live process plus the children each has reaped. Time the hypervisor
    gave to other guests (steal) is not in it."""
    ticks = sum(int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]) for f, _ in group_processes(pgid))
    return ticks / os.sysconf("SC_CLK_TCK")


def group_peak_rss_mb(pgid: int | None = None) -> float:
    """Summed VmHWM (peak resident set) of every live process in the
    process group: the Python main process, the JVM and the Python
    workers."""
    total_kb = 0
    for _, pid in group_processes(pgid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue  # the process ended while we looked
    return total_kb / 1024.0
