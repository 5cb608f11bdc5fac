"""Tracing from outside the engine: spans around public calls, Spark's
event log attributed to those calls by job group, streaming progress.

Nothing here reaches into ``cellbase_spark``. A traced run tags every
job a public call triggers with a job group named after that call's op
id, so the event log (enabled through ``get_spark(extra_conf=...)``)
can be split per op and per layer after the session stops.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench.stats import clip, union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """In-memory span recorder; disabled, every call is a no-op.

    ``span`` nests: a span opened inside another records it as parent.
    ``op`` opens a top-level span with its own op id and, when a
    SparkContext is given, sets that op id as the job group so Spark's
    jobs for the call can be found in the event log.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(), 0.0,
                 parent.id if parent else None, parent.op_id if parent else None)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, name: str, sc=None):
        if not self.enabled:
            yield
            return
        self._next_op += 1
        op_id = f"op{self._next_op}:{name}"
        if sc is not None:
            sc.setJobGroup(op_id, op_id, False)
        with self.span(name):
            self._stack[-1].op_id = op_id
            try:
                yield
            finally:
                if sc is not None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    return {
        s.id: (s.end - s.start)
        - union_length(clip(children[s.id], s.start, s.end))
        for s in spans
    }


# -- event log -------------------------------------------------------------

PYTHON_ACCUMS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


@dataclass
class GroupStats:
    """Spark's counters for the jobs of one job group (one op)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    job_spans: list = field(default_factory=list)  # (start_s, end_s)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    scan_tasks: int = 0
    shuffle_write_bytes: int = 0
    fetch_wait_ms: int = 0
    python: dict = field(default_factory=lambda: dict.fromkeys(PYTHON_ACCUMS.values(), 0))
    # stage id -> shuffle bytes read by each of its tasks
    stage_reads: dict = field(default_factory=lambda: defaultdict(list))

    def skew(self) -> float:
        """Worst stage's max/median shuffle-read bytes per task."""
        worst = 0.0
        for reads in self.stage_reads.values():
            med = statistics.median(reads)
            if len(reads) >= 2 and med > 0:
                worst = max(worst, max(reads) / med)
        return worst


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Aggregate an uncompressed Spark event log per job group.

    Tasks are attributed to the job group of the first job that listed
    their stage. Jobs outside any group land under ``None``.
    """
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    job_group: dict[int, str | None] = {}
    job_start: dict[int, float] = {}
    for line in lines:
        e = json.loads(line)
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
            groups[g].jobs += 1
            for sid in e["Stage IDs"]:
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            g = job_group.get(jid)
            groups[g].job_spans.append((job_start[jid], e["Completion Time"] / 1000.0))
        elif kind == "SparkListenerStageCompleted":
            groups[stage_group.get(e["Stage Info"]["Stage ID"])].stages += 1
        elif kind == "SparkListenerTaskEnd":
            _add_task(groups[stage_group.get(e["Stage ID"])], e)
    return dict(groups)


def _add_task(g: GroupStats, e: dict) -> None:
    g.tasks += 1
    m = e.get("Task Metrics") or {}
    g.run_ms += m.get("Executor Run Time", 0)
    g.cpu_ns += m.get("Executor CPU Time", 0)
    g.gc_ms += m.get("JVM GC Time", 0)
    g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    inp = m.get("Input Metrics") or {}
    g.input_bytes += inp.get("Bytes Read", 0)
    g.input_records += inp.get("Records Read", 0)
    if inp.get("Records Read", 0) or inp.get("Bytes Read", 0):
        g.scan_tasks += 1
    g.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    rd = m.get("Shuffle Read Metrics") or {}
    g.fetch_wait_ms += rd.get("Fetch Wait Time", 0)
    read = rd.get("Local Bytes Read", 0) + rd.get("Remote Bytes Read", 0)
    if read:
        g.stage_reads[e["Stage ID"]].append(read)
    for a in (e.get("Task Info") or {}).get("Accumulables", []):
        key = PYTHON_ACCUMS.get(a.get("Name"))
        if key is not None:
            g.python[key] += int(a.get("Update") or 0)


def merge(groups: list[GroupStats]) -> GroupStats:
    """Sum of several groups' counters (skew keeps every stage)."""
    out = GroupStats()
    for g in groups:
        for f in ("jobs", "stages", "tasks", "run_ms", "cpu_ns", "gc_ms",
                  "spill_bytes", "input_bytes", "input_records", "scan_tasks",
                  "shuffle_write_bytes", "fetch_wait_ms"):
            setattr(out, f, getattr(out, f) + getattr(g, f))
        out.job_spans.extend(g.job_spans)
        for k, v in g.python.items():
            out.python[k] += v
        for sid, reads in g.stage_reads.items():
            out.stage_reads[sid].extend(reads)
    return out


def outside_jobs_s(span: Span, g: GroupStats | None) -> float:
    """Wall time of an op span not covered by any of its jobs."""
    jobs = g.job_spans if g else []
    return (span.end - span.start) - union_length(clip(jobs, span.start, span.end))


# -- block manager / streaming ---------------------------------------------

def storage_bytes(sc) -> int:
    """Bytes held by persisted or checkpointed RDD blocks right now."""
    infos = sc._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def progress_listener(records: list):
    """A StreamingQueryListener that appends every progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
