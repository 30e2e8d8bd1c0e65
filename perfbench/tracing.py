"""Measurement plumbing: spans, the /proc RSS sampler, the streaming
listener and the Spark event-log reader.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, and the per-layer numbers come
from Spark's event log and streaming progress reports.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime


_PROBE_WORDS = [f"w{i % 977}" for i in range(20_000)]


def _count_words() -> float:
    t0 = time.perf_counter()
    counts: dict[str, int] = {}
    for _ in range(5):
        for word in _PROBE_WORDS:
            counts[word] = counts.get(word, 0) + 1
    return time.perf_counter() - t0


def cpu_speed_samples(seconds: float) -> list[float]:
    """Seconds a fixed pure-Python word count takes, timed on each CPU in
    turn, round after round, for about ``seconds`` (at least one round).
    It calls no code of the package, so it varies only with how fast the
    host runs this machine's CPUs at that moment."""
    cpus = os.sched_getaffinity(0)
    samples: list[float] = []
    try:
        while not samples or sum(samples) < seconds:
            for cpu in sorted(cpus):
                os.sched_setaffinity(0, {cpu})
                samples.append(_count_words())
    finally:
        os.sched_setaffinity(0, cpus)
    return samples


@dataclass
class Span:
    id: int
    name: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Spans:
    """In-memory span recorder, written out when the run ends."""

    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: set to a SparkContext to tag each span's Spark jobs with a job group
        self.tag_jobs_on = None

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        """Record a span around the ``with`` body. Its start is epoch time,
        to line up with the JVM's event-log timestamps; its duration is
        taken from the monotonic clock."""
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, kind, time.time(), parent=parent,
                 run_id=self.run_id, attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        if self.tag_jobs_on is not None:
            self.tag_jobs_on.setJobGroup(f"perfbench-{s.id}", name)
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            self._stack.pop()

    def of_kind(self, kind: str) -> list[Span]:
        return [s for s in self.spans if s.kind == kind and s.end]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


class MemorySampler(threading.Thread):
    """Samples the summed resident set size of this process and all its
    descendants (the JVM and its Python workers) from /proc and keeps
    the peak. RSS comes from ``statm``, which the kernel reports without
    walking page tables, so sampling costs little next to the work
    measured. A page that forked Python workers share counts in each
    process that maps it."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(name="memory-sampler", daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def tree_rss(self, root: int) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [root]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_event.is_set():
            self.peak_bytes = max(self.peak_bytes, self.tree_rss(me))
            self._stop_event.wait(self.interval)

    def stop(self) -> None:
        self._stop_event.set()
        self.join(timeout=10)


def make_stream_listener():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            with self._lock:
                self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            ts = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            record = {
                "ts": ts,
                "duration_ms": dict(p.durationMs),
                "state": [
                    {"rows": s.numRowsTotal, "bytes": s.memoryUsedBytes,
                     "commit_ms": s.commitTimeMs}
                    for s in p.stateOperators
                ],
                "run_id": str(p.runId),
            }
            with self._lock:
                self.progress.append(record)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            with self._lock:
                self.terminated += 1

        def settle(self, timeout: float = 10.0) -> None:
            """Wait until every started query has reported termination."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    if self.terminated >= self.started:
                        return
                time.sleep(0.05)

    return Listener()


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

@dataclass
class Task:
    stage: int
    ok: bool
    run_ms: float
    cpu_ns: float
    gc_ms: float
    spill_bytes: float
    input_bytes: float
    output_bytes: float
    shuffle_write_bytes: float
    shuffle_write_ns: float
    shuffle_write_records: float
    shuffle_read_bytes: float
    fetch_wait_ms: float


@dataclass
class EventLog:
    jobs: list[dict] = field(default_factory=list)
    stages: dict[int, dict] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    sql: dict[int, list[float]] = field(default_factory=dict)


_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def read_event_log(log_dir: str) -> EventLog:
    log = EventLog()
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                _ingest(log, json.loads(line))
    return log


def _ingest(log: EventLog, ev: dict) -> None:
    kind = ev["Event"]
    if kind == "SparkListenerJobStart":
        props = ev.get("Properties") or {}
        log.jobs.append({
            "id": ev["Job ID"],
            "submit": ev["Submission Time"] / 1000,
            "stages": ev["Stage IDs"],
            "group": props.get("spark.jobGroup.id", ""),
        })
    elif kind == "SparkListenerStageCompleted":
        info = ev["Stage Info"]
        log.stages[info["Stage ID"]] = {
            "submit": info.get("Submission Time", 0) / 1000,
            "complete": info.get("Completion Time", 0) / 1000,
        }
    elif kind == "SparkListenerTaskEnd":
        m = ev.get("Task Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        log.tasks.append(Task(
            stage=ev["Stage ID"],
            ok=(ev.get("Task End Reason") or {}).get("Reason") == "Success",
            run_ms=m.get("Executor Run Time", 0),
            cpu_ns=m.get("Executor CPU Time", 0),
            gc_ms=m.get("JVM GC Time", 0),
            spill_bytes=m.get("Disk Bytes Spilled", 0),
            input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
            output_bytes=(m.get("Output Metrics") or {}).get("Bytes Written", 0),
            shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
            shuffle_write_ns=sw.get("Shuffle Write Time", 0),
            shuffle_write_records=sw.get("Shuffle Records Written", 0),
            shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
            fetch_wait_ms=sr.get("Fetch Wait Time", 0),
        ))
    elif kind == _SQL_START:
        log.sql[ev["executionId"]] = [ev["time"] / 1000, 0.0]
    elif kind == _SQL_END and ev["executionId"] in log.sql:
        log.sql[ev["executionId"]][1] = ev["time"] / 1000


class Attribution:
    """Maps Spark jobs, stages, tasks and SQL executions onto the
    benchmark's operation spans: by job group where the job carries one
    of ours, otherwise by submission time (the client is single and
    sequential, so time containment is unambiguous)."""

    def __init__(self, log: EventLog, ops: list[Span]) -> None:
        self.ops = ops
        by_group = {f"perfbench-{s.id}": s for s in ops}
        self.jobs: dict[int, list[dict]] = {s.id: [] for s in ops}
        for job in log.jobs:
            op = by_group.get(job["group"]) or self._containing(job["submit"])
            if op is not None:
                self.jobs[op.id].append(job)
        self.stages: dict[int, list[int]] = {
            op_id: [sid for job in jobs for sid in job["stages"] if sid in log.stages]
            for op_id, jobs in self.jobs.items()
        }
        stage_op = {sid: op_id for op_id, sids in self.stages.items() for sid in sids}
        self.tasks: dict[int, list[Task]] = {s.id: [] for s in ops}
        for t in log.tasks:
            if t.stage in stage_op:
                self.tasks[stage_op[t.stage]].append(t)
        self.sql: dict[int, list[tuple[float, float]]] = {s.id: [] for s in ops}
        for start, end in log.sql.values():
            op = self._containing(start)
            if op is not None and end:
                self.sql[op.id].append((max(start, op.start), min(end, op.end)))
        self.stage_info = log.stages

    def _containing(self, t: float) -> Span | None:
        for s in self.ops:
            if s.start <= t <= s.end:
                return s
        return None

    def sql_busy(self, op: Span) -> float:
        """Seconds of ``op`` covered by at least one SQL execution."""
        busy, last = 0.0, op.start
        for start, end in sorted(self.sql[op.id]):
            start = max(start, last)
            if end > start:
                busy += end - start
                last = end
        return busy
