"""Measurement plumbing: spans, Spark's status stores, and /proc.

All of it observes the program from outside. Spans wrap the benchmark's
own calls into the program's public functions; stage and scan metrics
come from the status stores Spark keeps even with the UI off, attributed
to a span through the job group the benchmark sets before each call;
memory and CPU time are read from ``/proc`` for this process and all its
descendants (the driver JVM and its Python workers).
"""

from __future__ import annotations

import contextlib
import itertools
import os
import re
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    id: int = 0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one run; ``enabled=False`` records nothing
    and sets no job groups, so untraced rounds run the bare calls.

    A span opened with ``cpu=True`` also records the CPU seconds the
    process tree spent inside it (a /proc walk, so only around calls,
    not around each document)."""

    def __init__(self, workload: str, run_id: str, enabled: bool) -> None:
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.sc = None  # SparkContext, set while a session exists

    def group_of(self, span: Span) -> str:
        return f"{self.run_id}/{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, cpu: bool = False, **attrs):
        if not self.enabled:
            yield None
            return
        s = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                 id=next(self._ids), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s.id)
        if self.sc is not None:
            self.sc.setJobGroup(self.group_of(s), name)
        cpu0 = tree_cpu_s() if cpu else 0.0
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if cpu:
                s.attrs["cpu_s"] = tree_cpu_s() - cpu0
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    parent = self.spans[self._stack[-1] - 1]  # ids count from 1
                    self.sc.setJobGroup(self.group_of(parent), parent.name)
                else:
                    self.sc._jsc.clearJobGroup()

    def groups_under(self, span: Span) -> set[str]:
        """Job groups of a span and all its descendants."""
        ids, groups = {span.id}, {self.group_of(span)}
        for s in self.spans:  # recorded parent first
            if s.parent in ids:
                ids.add(s.id)
                groups.add(self.group_of(s))
        return groups

    def to_json(self) -> list[dict]:
        t0 = self.spans[0].start if self.spans else 0.0
        return [
            {
                "name": s.name, "id": s.id, "parent": s.parent,
                "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                "workload": self.workload, "run_id": self.run_id, **s.attrs,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------


@dataclass
class StageTotals:
    """Sums over the completed stages of the jobs of some job groups."""

    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    executor_cpu_ms: float = 0.0  # JVM task threads only, not Python workers
    gc_ms: float = 0.0
    scan_bytes: float = 0.0  # "size of files read" over the plans' file scans
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    # (run ms, stage id, attempt id) per stage, to find one stage's tasks
    per_stage: list = field(default_factory=list)


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


_SIZE = re.compile(r"([\d.,]+) (B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _scan_bytes(spark, job_ids: set[int]) -> float:
    """Sum of the "size of files read" metric of every file scan in the
    SQL executions that ran any of ``job_ids``. The stages' input-bytes
    counter misses what is read on behalf of a Python UDF, so the plan
    metric is used instead; Spark prints it to three digits."""
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0.0
    for execution in _seq(store.executionsList()):
        jobs = execution.jobs()
        if not any(jobs.contains(j) for j in job_ids):
            continue
        values = store.executionMetrics(execution.executionId())
        for node in _seq(store.planGraph(execution.executionId()).allNodes()):
            if not node.name().startswith("Scan"):
                continue
            for metric in _seq(node.metrics()):
                value = values.get(metric.accumulatorId())
                if metric.name() == "size of files read" and value.isDefined():
                    m = _SIZE.search(value.get())
                    if m:
                        total += float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]
    return total


def stage_totals(spark, groups: set[str]) -> StageTotals:
    """Read the status stores for every job whose group is in ``groups``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    stage_ids: set[int] = set()
    job_ids: set[int] = set()
    for job in _seq(store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined() and group.get() in groups:
            job_ids.add(job.jobId())
            stage_ids.update(_seq(job.stageIds()))
    out = StageTotals(scan_bytes=_scan_bytes(spark, job_ids))
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    for stage in _seq(store.stageList(None, False, False, no_quantiles, None)):
        if stage.stageId() not in stage_ids or stage.status().toString() != "COMPLETE":
            continue
        out.stages += 1
        out.tasks += stage.numCompleteTasks()
        out.executor_run_ms += stage.executorRunTime()
        out.executor_cpu_ms += stage.executorCpuTime() / 1e6
        out.gc_ms += stage.jvmGcTime()
        out.shuffle_write_bytes += stage.shuffleWriteBytes()
        out.shuffle_read_bytes += stage.shuffleReadBytes()
        out.per_stage.append((stage.executorRunTime(), stage.stageId(), stage.attemptId()))
    return out


def task_run_ms(spark, stage_id: int, attempt_id: int) -> list[float]:
    """Executor run time of every task of one stage attempt."""
    store = spark.sparkContext._jsc.sc().statusStore()
    return [
        float(t.taskMetrics().get().executorRunTime())
        for t in _seq(store.taskList(stage_id, attempt_id, 1_000_000))
        if t.taskMetrics().isDefined()
    ]


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------


def _stat(pid: int | str) -> list[bytes] | None:
    """Fields of /proc/<pid>/stat from the state (field 3) on, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parentheses; fields resume
    # after the last ')'
    return stat[stat.rindex(b")") + 2:].split()


def start_time(pid: int) -> str | None:
    """Start time of a live process, which tells it from a later one
    that reuses its pid; None once it has ended (a zombie has ended, it
    only waits to be reaped)."""
    fields = _stat(pid)
    return None if fields is None or fields[0] == b"Z" else fields[19].decode()


def process_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if entry.name.isdigit() and (fields := _stat(entry.name)) is not None:
            kids.setdefault(int(fields[1]), []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process tree, reaped children
    included (Python workers the daemon has reaped count in its total)."""
    total = 0
    for pid in process_tree(os.getpid()):
        fields = _stat(pid)
        if fields is not None:
            total += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Samples the PSS sum of this process and all its descendants. PSS,
    not RSS: forked Python workers share pages, which an RSS sum counts
    once per worker.

    ``window()`` brackets the part of the run whose peak is reported.
    Every process ever seen is remembered, so teardown can wait for all
    of them to end.
    """

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.start_times: dict[int, str] = {}
        self._peak_kb = 0
        self._in_window = False
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="pss-sampler", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def _sample(self) -> None:
        pids = process_tree(os.getpid())
        total = sum(_pss_kb(p) for p in pids)
        with self._lock:
            for pid in pids:
                if pid not in self.start_times and (start := start_time(pid)) is not None:
                    self.start_times[pid] = start
            if self._in_window:
                self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    @contextlib.contextmanager
    def window(self):
        with self._lock:
            self._in_window = True
        try:
            yield
        finally:
            self._sample()
            with self._lock:
                self._in_window = False

    def peak_mb(self) -> float:
        return self._peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def wait_for_exit(procs: dict[int, str], timeout_s: float) -> None:
    """Wait until every process in ``procs`` (pid -> start time) has
    ended; terminate, then kill, any still running at the timeout."""

    def alive() -> list[int]:
        return [pid for pid, start in procs.items() if start_time(pid) == start]

    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in alive():
                with contextlib.suppress(ProcessLookupError):  # ended meanwhile
                    os.kill(pid, sig)
        deadline = time.monotonic() + (timeout_s if sig is None else 10)
        while time.monotonic() < deadline:
            if not alive():
                return
            time.sleep(0.1)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
