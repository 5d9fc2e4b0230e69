"""Observers that read Spark's own counters from outside the package.

Nothing here touches ``glaciersgee_spark``. Jobs and stages come from
the application status store (``sc._jsc.sc().statusStore()``), which is
populated with the UI disabled; streaming micro-batches come from a
``StreamingQueryListener`` the benchmark registers itself; memory comes
from ``/proc``. Spans are kept in memory and written once at the end.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Job:
    """One finished Spark job with the metrics of the stages it ran."""

    job_id: int
    group: str | None
    start: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    input_records: int = 0
    input_bytes: int = 0
    output_records: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


JOB_COUNTERS = (
    "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "input_records",
    "input_bytes", "output_records", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


class StatusStore:
    """Reads finished jobs from the status store, in job-id order.

    Job ids are dense and increasing, so the reader keeps the next id
    it has not seen and walks forward until the store has no such job
    (or the job is still running). ``drain`` first waits for the
    listener bus, because the store is filled asynchronously.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next = 0
        self._seen_stages: set[int] = set()

    def _wait(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def skip_to_now(self) -> None:
        """Forget every job finished so far (set-up, warm-up)."""
        self.drain(detail=False)

    def count(self) -> int:
        """Number of jobs finished since the last call (ids only)."""
        return len(self.drain(detail=False))

    def drain(self, detail: bool = True) -> list[Job]:
        self._wait()
        out: list[Job] = []
        while True:
            try:
                jd = self._store.job(self._next)
            except Py4JJavaError:
                break
            end = jd.completionTime()
            if not end.isDefined():
                break
            self._next += 1
            group = jd.jobGroup()
            job = Job(
                job_id=jd.jobId(),
                group=group.get() if group.isDefined() else None,
                start=jd.submissionTime().get().getTime() / 1000.0,
                end=end.get().getTime() / 1000.0,
            )
            if detail:
                self._add_stages(job, jd.stageIds())
            out.append(job)
        return out

    def _add_stages(self, job: Job, stage_ids) -> None:
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self._seen_stages:
                continue
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            self._seen_stages.add(sid)
            job.stages += 1
            job.tasks += sd.numTasks()
            job.run_ms += sd.executorRunTime()
            job.cpu_ms += sd.executorCpuTime() / 1e6
            job.gc_ms += sd.jvmGcTime()
            job.input_records += sd.inputRecords()
            job.input_bytes += sd.inputBytes()
            job.output_records += sd.outputRecords()
            job.output_bytes += sd.outputBytes()
            job.shuffle_read_bytes += sd.shuffleReadBytes()
            job.shuffle_write_bytes += sd.shuffleWriteBytes()
            job.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()

    def persisted_bytes(self) -> int:
        """Bytes held by persisted RDDs and DataFrames, memory plus disk."""
        return sum(r.memSize() + r.diskSize() for r in self._sc.getRDDStorageInfo())


@dataclass
class Batch:
    """One streaming micro-batch as the listener reported it."""

    run_id: str
    batch_id: int
    start: float  # epoch seconds of the trigger
    duration_ms: dict = field(default_factory=dict)
    state_rows: int = 0
    state_memory_bytes: int = 0


class BatchListener(StreamingQueryListener):
    """Collects every micro-batch progress event of the session."""

    def __init__(self):
        self.batches: list[Batch] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        self.batches.append(
            Batch(
                run_id=str(p.runId),
                batch_id=p.batchId,
                start=start.timestamp(),
                duration_ms=dict(p.durationMs),
                state_rows=sum(s.numRowsTotal for s in p.stateOperators),
                state_memory_bytes=sum(s.memoryUsedBytes for s in p.stateOperators),
            )
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM, from /proc."""
    kb = _vm_hwm_kb(os.getpid()) + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM and its Python workers. Reaped children
    count through their parent's cumulative times."""
    tick = os.sysconf("SC_CLK_TCK")
    parent, cpu = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parent[int(name)] = int(fields[1])
        cpu[int(name)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()

    def under(pid: int) -> bool:
        while pid > 1:
            if pid == me:
                return True
            pid = parent.get(pid, 1)
        return False

    return sum(t for pid, t in cpu.items() if under(pid)) / tick


@dataclass
class Span:
    span_id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span list; ``enabled=False`` makes every call a no-op
    that still returns an id, so call sites need no branches."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None,
            **attrs) -> int:
        sid = len(self.spans)
        if self.enabled:
            self.spans.append(Span(sid, parent, name, start, end, attrs))
        return sid

    def children(self, span_id: int) -> list[Span]:
        return [s for s in self.spans if s.parent == span_id]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover."""
        return span.dur - union_seconds(
            [(max(c.start, span.start), min(c.end, span.end)) for c in self.children(span.span_id)]
        )

    def write(self, path: str) -> None:
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self_s"] = self.self_time(s)
            rows.append(row)
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
