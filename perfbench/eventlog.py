"""Read a Spark event log back into per-operation layer metrics.

The benchmark runs operations one at a time, so every job belongs to the
operation whose window holds its submission time. A window has three
marks (epoch milliseconds): the query function's call opens at ``start``, returns
at ``build_end``, and the sink call returns at ``end``. Jobs submitted
before ``build_end`` are eager (fired inside the query function), later ones are
the final action. Micro-batch progress events carry no job group, so
stream batches are attributed through their query id, whose start event
falls inside an operation's window.

The spans the log gives are also the check on the benchmark's own
timers: every span attributed to an operation must end before the call
it ran under returned (an eager job or stream batch before the query
function's return, a final-action job before the sink's), and no job may
be submitted between operations.

Spark 4 writes a rolling log by default: a directory
``eventlog_v2_<app>`` holding ``events_<n>_<app>`` parts. ``log_files``
accepts that directory, a single log file, or a directory holding
either.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable, Iterator
from dataclasses import dataclass, field
from datetime import datetime
from pathlib import Path

STREAM_PREFIX = "org.apache.spark.sql.streaming.StreamingQueryListener$"

PYTHON_RUN = "time to run Python workers"
PYTHON_START = ("time to start Python workers", "time to initialize Python workers")
PYTHON_IO = ("data sent to Python workers", "data returned from Python workers")

MB = 1024 * 1024


@dataclass
class Window:
    """One operation's span, in epoch milliseconds."""

    name: str
    start: float
    build_end: float
    end: float


@dataclass
class OpLayers:
    """Event-log counters attributed to one operation."""

    eager_jobs: int = 0
    exec_jobs: int = 0
    eager_s: float = 0.0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    task_gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0
    output_mb: float = 0.0
    spill_mb: float = 0.0
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    python_io_mb: float = 0.0
    stream_queries: int = 0
    stream_batches: int = 0
    stream_batches_idle: int = 0
    stream_trigger_ms: float = 0.0
    stream_planning_ms: float = 0.0
    stream_addbatch_ms: float = 0.0
    stream_walcommit_ms: float = 0.0
    stream_commit_ms: float = 0.0
    stream_state_commit_ms: float = 0.0
    stream_state_instances: int = 0
    # the most any attributed job or batch ended after the call it ran
    # under returned (ms; negative: before it, None: no spans); more than
    # timer noise means work the benchmark's walls do not hold
    overrun_ms: float | None = None
    # intervals (ms) of eager jobs and stream batches, for the cover union
    busy: list = field(default_factory=list, repr=False)

    def _span(self, w: Window, a: float, b: float) -> None:
        eager = a < w.build_end
        if eager:
            self.busy.append((a, b))
        over = b - (w.build_end if eager else w.end)
        self.overrun_ms = over if self.overrun_ms is None else max(self.overrun_ms, over)


@dataclass
class Attribution:
    ops: list[OpLayers]
    # submission times (ms) of jobs that ran between operations
    orphan_jobs: list[float]


def log_files(path: str | Path) -> list[Path]:
    """The event-log parts under ``path``, in write order."""
    path = Path(path)
    if path.is_file():
        return [path]
    parts = sorted(path.glob("events_*"), key=_part_index)
    if parts:
        return parts
    found: list[Path] = []
    for child in sorted(path.iterdir()):
        if child.name.startswith("eventlog_v2_") and child.is_dir():
            found += sorted(child.glob("events_*"), key=_part_index)
        elif child.is_file() and not child.name.startswith("."):
            found.append(child)
    return found


def _part_index(p: Path) -> int:
    m = re.match(r"events_(\d+)_", p.name)
    return int(m.group(1)) if m else 0


def read_events(path: str | Path) -> Iterator[dict]:
    for part in log_files(path):
        with open(part, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


def _owner(windows: list[Window], t_ms: float) -> int | None:
    for i, w in enumerate(windows):
        if w.start <= t_ms <= w.end:
            return i
    return None


def union_ms(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def attribute(events: Iterable[dict], windows: list[Window]) -> Attribution:
    """Split the event stream into per-window layer counters."""
    out = [OpLayers() for _ in windows]
    orphans: list[float] = []
    first, last = min(w.start for w in windows), max(w.end for w in windows)
    job_op: dict[int, int] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    query_op: dict[str, int] = {}

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            jid, t = e["Job ID"], e["Submission Time"]
            props = e.get("Properties") or {}
            i = query_op.get(props.get("sql.streaming.queryId", ""))
            if i is None:
                i = _owner(windows, t)
            if i is None:
                if first <= t <= last:
                    orphans.append(t)
                continue
            eager = t < windows[i].build_end
            job_op[jid], job_submit[jid] = i, t
            for sid in e.get("Stage IDs") or [s["Stage ID"] for s in e.get("Stage Infos", [])]:
                stage_job.setdefault(sid, jid)
            if eager:
                out[i].eager_jobs += 1
            else:
                out[i].exec_jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = e["Job ID"]
            if jid in job_op:
                i = job_op[jid]
                out[i]._span(windows[i], job_submit[jid], e["Completion Time"])
        elif kind == "SparkListenerStageCompleted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid in job_op:
                out[job_op[jid]].stages += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e["Stage ID"])
            if jid in job_op:
                _add_task(out[job_op[jid]], e)
        elif kind == STREAM_PREFIX + "QueryStartedEvent":
            i = _owner(windows, _epoch_ms(e["timestamp"]))
            if i is not None:
                query_op[e["id"]] = i
                out[i].stream_queries += 1
        elif kind == STREAM_PREFIX + "QueryProgressEvent":
            p = e["progress"]
            i = query_op.get(p["id"])
            if i is not None:
                _add_batch(out[i], windows[i], p)

    for w, op in zip(windows, out):
        op.eager_s = union_ms(op.busy, w.start, w.build_end) / 1000.0
    return Attribution(out, orphans)


def _add_task(op: OpLayers, e: dict) -> None:
    m = e.get("Task Metrics") or {}
    op.tasks += 1
    op.task_run_s += m.get("Executor Run Time", 0) / 1000.0
    op.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
    op.task_gc_s += m.get("JVM GC Time", 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    op.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / MB
    op.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
    op.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
    op.output_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
    op.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
        name, upd = acc.get("Name"), acc.get("Update")
        if upd is None:
            continue
        if name == PYTHON_RUN:
            op.python_run_s += float(upd) / 1000.0
        elif name in PYTHON_START:
            op.python_start_s += float(upd) / 1000.0
        elif name in PYTHON_IO:
            op.python_io_mb += float(upd) / MB


def _add_batch(op: OpLayers, w: Window, p: dict) -> None:
    d = p.get("durationMs") or {}
    op.stream_batches += 1
    # the logged progress has no top-level row count: sum its sources
    if not sum(src.get("numInputRows") or 0 for src in p.get("sources") or []):
        op.stream_batches_idle += 1
    trigger = d.get("triggerExecution", 0)
    op.stream_trigger_ms += trigger
    op.stream_planning_ms += d.get("queryPlanning", 0)
    op.stream_addbatch_ms += d.get("addBatch", 0)
    op.stream_walcommit_ms += d.get("walCommit", 0)
    op.stream_commit_ms += d.get("commitOffsets", 0)
    for s in p.get("stateOperators") or []:
        op.stream_state_commit_ms += s.get("commitTimeMs", 0)
        op.stream_state_instances += s.get("numStateStoreInstances", 0)
    t0 = _epoch_ms(p["timestamp"])
    op._span(w, t0, t0 + trigger)
