"""Stage meter: Spark event-log parser, /proc CPU readings and driver spans.

The event-log parser started as tools/profile_tileset.py's one-off stage
profile; here it returns numbers instead of printing a table. Time units in
the event log are milliseconds (task launch/finish, run time, GC time) and
nanoseconds (executor CPU time, shuffle write time).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from dataclasses import dataclass, field

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"


@dataclass
class Stage:
    stage_id: int
    job_id: int
    parents: list
    tasks: list = field(default_factory=list)  # (launch_ms, finish_ms)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    read_rows: int = 0
    read_bytes: list = field(default_factory=list)  # per task
    fetch_wait_ms: int = 0
    write_rows: int = 0
    write_bytes: int = 0
    write_ns: int = 0
    py_sent: int = 0
    py_received: int = 0

    @property
    def start_ms(self) -> int:
        return min(t[0] for t in self.tasks)

    @property
    def end_ms(self) -> int:
        return max(t[1] for t in self.tasks)

    def tail_ms(self) -> int:
        """Time from the finish of 90% of the tasks to the last finish."""
        fin = sorted(t[1] for t in self.tasks)
        return fin[-1] - fin[max(0, int(len(fin) * 0.9) - 1)]


@dataclass
class EventLog:
    stages: dict   # stage id -> Stage
    jobs: dict     # job id -> (description, submit_ms, end_ms)
    sql: list      # (start_ms, end_ms) of SQL executions: planning + jobs


def read_event_lines(event_dir: str) -> list[str]:
    """All lines of the single application log under event_dir (rolling v2
    directory or plain file, uncompressed)."""
    apps = sorted(glob.glob(os.path.join(event_dir, "*")), key=os.path.getmtime)
    if not apps:
        raise FileNotFoundError(f"no event log under {event_dir}")
    src = apps[-1]
    if os.path.isdir(src):
        parts = sorted(p for p in glob.glob(os.path.join(src, "events_*"))
                       if os.path.isfile(p))
    else:
        parts = [src]
    lines: list[str] = []
    for p in parts:
        with open(p) as f:
            lines.extend(f)
    return lines


def parse_events(lines) -> EventLog:
    stages: dict[int, Stage] = {}
    jobs: dict[int, list] = {}
    sql: dict[int, list] = {}
    stage_job: dict[int, int] = {}
    for ln in lines:
        try:
            ev = json.loads(ln)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == SQL_START:
            sql[ev["executionId"]] = [ev["time"], None]
        elif kind == SQL_END and ev["executionId"] in sql:
            sql[ev["executionId"]][1] = ev["time"]
        elif kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description")
            jobs[ev["Job ID"]] = [desc, ev.get("Submission Time"), None]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][2] = ev.get("Completion Time")
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, stage_job.get(sid, -1), []))
            st.parents = list(si.get("Parent IDs", []))
            for acc in si.get("Accumulables", []):
                if acc.get("Name") == PY_SENT:
                    st.py_sent += int(acc.get("Value", 0))
                elif acc.get("Name") == PY_RECEIVED:
                    st.py_received += int(acc.get("Value", 0))
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = stages.setdefault(sid, Stage(sid, stage_job.get(sid, -1), []))
            ti = ev["Task Info"]
            if ti.get("Failed") or ti.get("Killed"):
                continue
            st.tasks.append((ti["Launch Time"], ti["Finish Time"]))
            m = ev.get("Task Metrics") or {}
            st.run_ms += m.get("Executor Run Time", 0)
            st.cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                               + m.get("Disk Bytes Spilled", 0))
            im = m.get("Input Metrics") or {}
            st.input_rows += im.get("Records Read", 0)
            st.input_bytes += im.get("Bytes Read", 0)
            rm = m.get("Shuffle Read Metrics") or {}
            st.read_rows += rm.get("Total Records Read", 0)
            st.read_bytes.append(rm.get("Local Bytes Read", 0)
                                 + rm.get("Remote Bytes Read", 0))
            st.fetch_wait_ms += rm.get("Fetch Wait Time", 0)
            wm = m.get("Shuffle Write Metrics") or {}
            st.write_rows += wm.get("Shuffle Records Written", 0)
            st.write_bytes += wm.get("Shuffle Bytes Written", 0)
            st.write_ns += wm.get("Shuffle Write Time", 0)
    for sid, jid in stage_job.items():
        if sid in stages:
            stages[sid].job_id = jid
    return EventLog({k: v for k, v in stages.items() if v.tasks},
                    {k: tuple(v) for k, v in jobs.items()},
                    [tuple(v) for v in sql.values() if v[1] is not None])


def _union_ms(intervals) -> float:
    total = 0.0
    end = None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo: float, hi: float):
    return [(max(a, lo), min(b, hi)) for a, b in intervals
            if min(b, hi) > max(a, lo)]


def rep_breakdown(log: EventLog, tag: str, t0: float, t1: float,
                  driver_spans=()) -> dict:
    """Stage-level split of one timed repetition.

    tag: the job description every job of the repetition carries.
    t0, t1: the repetition's span in epoch seconds (driver clock).
    driver_spans: (start, end) epoch-second spans of named driver-side work
    inside the repetition (e.g. an archive drain).

    Returns the repetition's stages plus the time split: `stage_s` (union of
    stage windows), `driver_gap_s` (time inside a job, a SQL execution —
    physical planning, scheduling, result fetch — or a named driver span
    when no stage runs) and `coverage` = (stage_s + driver_gap_s) / wall:
    the share of the wall the trace attributes to a layer."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jids = [j for j, v in log.jobs.items() if v[0] == tag]
    stages = [s for s in log.stages.values() if s.job_id in jids]
    stage_iv = _clip([(s.start_ms, s.end_ms) for s in stages], lo, hi)
    job_iv = _clip([(v[1], v[2]) for j, v in log.jobs.items()
                    if j in jids and v[1] is not None and v[2] is not None],
                   lo, hi)
    span_iv = _clip([(a * 1000.0, b * 1000.0) for a, b in driver_spans]
                    + log.sql, lo, hi)
    stage_ms = _union_ms(stage_iv)
    named_ms = _union_ms(stage_iv + job_iv + span_iv)
    wall_ms = hi - lo
    return {
        "stages": stages,
        "stage_s": stage_ms / 1000.0,
        "driver_gap_s": (named_ms - stage_ms) / 1000.0,
        "coverage": named_ms / wall_ms if wall_ms > 0 else 0.0,
    }


def exchange_pair(stages) -> tuple[Stage | None, Stage | None]:
    """(render/map stage, reduce stage) of the tile exchange: of the stages
    whose shuffle output a Python stage reads, the one writing the most
    bytes, and that Python reader. Sink-side exchanges (the archive's sort)
    have JVM readers and are skipped."""
    pairs = [(w, r) for w in stages if w.write_bytes > 0
             for r in stages if w.stage_id in r.parents and r.py_sent > 0]
    if not pairs:
        return None, None
    return max(pairs, key=lambda p: p[0].write_bytes)


def layer_metrics(stages) -> dict:
    """Per-layer numbers of one repetition's stages (see README.md)."""
    render, reduce = exchange_pair(stages)
    out = {
        "sources.scan_rows": sum(s.input_rows for s in stages),
        "sources.scan_bytes": sum(s.input_bytes for s in stages),
        "jvm.gc_s": sum(s.gc_ms for s in stages) / 1000.0,
        "spill.bytes": sum(s.spill_bytes for s in stages),
        "python.bytes_sent": sum(s.py_sent for s in stages),
        "python.bytes_received": sum(s.py_received for s in stages),
        # rows entering a Python operator: a stage that feeds Python passes it
        # the rows it reads (scan input or shuffle read)
        "python.rows_sent": sum(s.input_rows + s.read_rows for s in stages
                                if s.py_sent > 0),
    }
    if render is not None and reduce is not None:
        fed = render.input_rows + render.read_rows
        reads = sorted(reduce.read_bytes)
        med = reads[len(reads) // 2]
        out.update({
            "render.task_s": render.run_ms / 1000.0,
            "render.rows_out": render.write_rows,
            "render.fanout": render.write_rows / fed if fed else 0.0,
            "exchange.write_bytes": render.write_bytes,
            "exchange.write_records": render.write_rows,
            "exchange.write_s": render.write_ns / 1e9,
            "exchange.fetch_wait_s": reduce.fetch_wait_ms / 1000.0,
            "exchange.skew_max_over_median": (reads[-1] / med) if med else 0.0,
            "reduce.task_s": reduce.run_ms / 1000.0,
            "reduce.tail_s": reduce.tail_ms() / 1000.0,
            "reduce.rows_in": reduce.read_rows,
        })
    return out


# ---------------------------------------------------------------------------
# /proc CPU of the JVM and the Python workers
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict:
    """pid -> (ppid, comm, own cpu ticks, reaped-children cpu ticks)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2:].split()
        # fields after comm: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        out[int(d)] = (int(rest[1]), comm, int(rest[11]) + int(rest[12]),
                       int(rest[13]) + int(rest[14]))
    return out


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = table if table is not None else _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, row in table.items():
        kids.setdefault(row[0], []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_reading(root: int | None = None) -> dict:
    """Cumulative CPU seconds of the JVM (own threads) and of the Python
    worker processes below it (own plus reaped children)."""
    table = _proc_table()
    jvm = py = 0
    for pid in descendants(root or os.getpid(), table):
        _, comm, own, reaped = table[pid]
        if comm == "java":
            jvm += own
        elif comm.startswith("python"):
            py += own + reaped
    return {"jvm": jvm / _TICK, "python": py / _TICK}


class Spans:
    """Driver-side spans kept in memory: (name, start, end) in epoch seconds."""

    def __init__(self):
        self.rows: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        s = _Span(time.time())
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.rows.append((name, s.t0, s.t1))


@dataclass
class _Span:
    t0: float
    t1: float = 0.0
