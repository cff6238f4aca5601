"""Spans, Spark event-log folding and process accounting for the benchmark.

A span is a named wall-clock interval recorded around a call into one layer
of the program.  While a span is open its name is the Spark job group, so
every job the layer issues from the calling thread is tagged with it; jobs
issued from other threads (``run_pipeline``'s two concurrent sinks, the
streaming query's micro-batch thread) carry no group and are attributed to
the span whose interval contains their submission time.  Spans are
sequential, never nested, so the attribution is unambiguous.

The event log (``spark.eventLog.enabled``, uncompressed, not rolled) is read
once when the traced run ends and folded per span into task time, stage
activity, shuffle/spill/output bytes and the SQL metrics of selected plan
nodes.
"""

from __future__ import annotations

import json
import os
import signal
import statistics
import threading
import time
from dataclasses import dataclass, field

MB = 1e6


# --------------------------------------------------------------------- spans
@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records sequential spans and tags Spark jobs with the open span."""

    sc: object  # SparkContext
    spans: list[Span] = field(default_factory=list)

    def span(self, name: str):
        return _SpanScope(self, name)


class _SpanScope:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.span = Span(name, 0.0)

    def __enter__(self) -> Span:
        self.tracer.sc.setJobGroup(self.span.name, self.span.name)
        self.span.start = time.time()
        return self.span

    def __exit__(self, *exc) -> None:
        self.span.end = time.time()
        self.tracer.sc.setLocalProperty("spark.jobGroup.id", None)
        self.tracer.sc.setLocalProperty("spark.job.description", None)
        self.tracer.spans.append(self.span)


# ----------------------------------------------------------------- event log
@dataclass
class StageRec:
    sid: int
    submit: float = 0.0
    complete: float = 0.0
    task_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write: int = 0
    spill_disk: int = 0
    bytes_out: int = 0
    bytes_in: int = 0
    accums: dict[int, float] = field(default_factory=dict)


@dataclass
class JobRec:
    jid: int
    submit: float
    group: str | None
    execution: int | None
    stage_ids: list[int]


@dataclass
class ExecRec:
    eid: int
    start: float = 0.0
    end: float = 0.0
    root: str = ""
    nodes: list[dict] = field(default_factory=list)  # every plan version


def walk(node: dict):
    yield node
    for child in node.get("children", []):
        yield from walk(child)


@dataclass
class EventLog:
    jobs: dict[int, JobRec]
    stages: dict[int, StageRec]
    executions: dict[int, ExecRec]
    driver_accums: dict[int, float]  # SQL metrics updated on the driver

    @classmethod
    def read(cls, log_dir: str) -> "EventLog":
        files = [
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if not f.startswith(".") and not f.endswith(".inprogress")
        ]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}: {files}")
        jobs: dict[int, JobRec] = {}
        stages: dict[int, StageRec] = {}
        execs: dict[int, ExecRec] = {}
        driver: dict[int, float] = {}
        with open(files[0]) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    eid = props.get("spark.sql.execution.id")
                    jobs[ev["Job ID"]] = JobRec(
                        ev["Job ID"],
                        ev["Submission Time"] / 1000.0,
                        props.get("spark.jobGroup.id"),
                        int(eid) if eid is not None else None,
                        list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    st = stages.setdefault(si["Stage ID"], StageRec(si["Stage ID"]))
                    st.submit = (si.get("Submission Time") or 0) / 1000.0
                    st.complete = (si.get("Completion Time") or 0) / 1000.0
                    for acc in si.get("Accumulables", []):
                        try:
                            st.accums[acc["ID"]] = float(acc["Value"])
                        except (TypeError, ValueError):
                            pass
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageRec(ev["Stage ID"]))
                    m = ev.get("Task Metrics") or {}
                    st.task_ms.append(m.get("Executor Run Time", 0))
                    st.gc_ms += m.get("JVM GC Time", 0)
                    st.spill_disk += m.get("Disk Bytes Spilled", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    st.bytes_out += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    st.bytes_in += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    ex = execs.setdefault(ev["executionId"], ExecRec(ev["executionId"]))
                    ex.start = ev["time"] / 1000.0
                    ex.root = ev["sparkPlanInfo"]["nodeName"]
                    ex.nodes.append(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    ex = execs.setdefault(ev["executionId"], ExecRec(ev["executionId"]))
                    ex.nodes.append(ev["sparkPlanInfo"])
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev["accumUpdates"]:
                        driver[acc_id] = driver.get(acc_id, 0.0) + float(value)
                elif kind.endswith("SparkListenerSQLExecutionEnd"):
                    ex = execs.setdefault(ev["executionId"], ExecRec(ev["executionId"]))
                    ex.end = ev["time"] / 1000.0
        return cls(jobs, stages, execs, driver)

    # ---------------------------------------------------------- attribution
    def assign(self, spans: list[Span]) -> dict[str, list[JobRec]]:
        """Jobs per span name: by job group, else by submission time."""
        out: dict[str, list[JobRec]] = {s.name: [] for s in spans}
        for job in sorted(self.jobs.values(), key=lambda j: j.jid):
            if job.group in out:
                out[job.group].append(job)
                continue
            for s in spans:
                if s.start <= job.submit <= s.end:
                    out[s.name].append(job)
                    break
        return out

    def stages_of(self, jobs: list[JobRec]) -> list[StageRec]:
        seen: dict[int, StageRec] = {}
        for job in jobs:
            for sid in job.stage_ids:
                st = self.stages.get(sid)
                if st is not None and st.task_ms:
                    seen[sid] = st
        return list(seen.values())

    def executions_of(self, jobs: list[JobRec]) -> list[ExecRec]:
        ids = sorted({j.execution for j in jobs if j.execution is not None})
        return [self.executions[i] for i in ids if i in self.executions]

    def accum_total(self, stages: list[StageRec], acc_ids: set[int]) -> float:
        return sum(v for st in stages for a, v in st.accums.items() if a in acc_ids)

    def driver_total(self, acc_ids: set[int]) -> float:
        return sum(v for a, v in self.driver_accums.items() if a in acc_ids)


def node_metric_ids(
    executions: list[ExecRec], node_pred, metric: str, below: bool = False
) -> set[int]:
    """Accumulator ids of ``metric`` on plan nodes matching ``node_pred``
    (over every plan version).  ``below``: take the metric from the first
    descendant of each matching node that reports it — the rows flowing
    INTO that node."""
    ids: set[int] = set()
    for ex in executions:
        for root in ex.nodes:
            for node in walk(root):
                if not node_pred(node["nodeName"]):
                    continue
                targets = walk(node) if below else iter([node])
                if below:
                    next(targets)  # skip the node itself
                for t in targets:
                    hit = [m["accumulatorId"] for m in t.get("metrics", []) if m["name"] == metric]
                    if hit:
                        ids.update(hit)
                        break
    return ids


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def busy_seconds(stages: list[StageRec], start: float, end: float) -> float:
    """Seconds of [start, end] during which at least one stage was active."""
    iv = [
        (max(st.submit, start), min(st.complete, end))
        for st in stages
        if st.complete > st.submit
    ]
    return _union_length([(s, e) for s, e in iv if e > s])


def span_summary(log: EventLog, span: Span, jobs: list[JobRec]) -> dict[str, float]:
    """wall/task/gap/jobs/shuffle/spill/gc/skew of one span."""
    stages = log.stages_of(jobs)
    heaviest = max(stages, key=lambda st: sum(st.task_ms), default=None)
    skew = 0.0
    if heaviest is not None:
        med = statistics.median(heaviest.task_ms)
        skew = max(heaviest.task_ms) / max(med, 1.0)
    return {
        "wall_s": span.wall,
        "task_s": sum(sum(st.task_ms) for st in stages) / 1000.0,
        "gap_s": span.wall - busy_seconds(stages, span.start, span.end),
        "jobs": float(len(jobs)),
        "shuffle_mb": sum(st.shuffle_write for st in stages) / MB,
        "spill_mb": sum(st.spill_disk for st in stages) / MB,
        "gc_s": sum(st.gc_ms for st in stages) / 1000.0,
        "task_skew": skew,
    }


# ------------------------------------------------------------ process tree
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] == "Z":
            continue
        kids.setdefault(int(fields[1]), []).append(int(entry))
    return kids


def descendants() -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_seconds() -> float:
    """CPU seconds used so far by this process's descendants (the JVM and
    its Python workers), workers that already exited included.  Time the
    hypervisor steals from the machine is not CPU time, so this stays
    steady where wall time swings with the host's load."""
    total = 0
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(x) for x in stat[stat.rfind(")") + 2 :].split()[11:15])
    return total / _TICK


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between forked Python workers
    count once in the sum, not once per worker as in RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process's descendants — the Spark JVM
    and the Python workers it forks — as summed PSS, sampled every
    ``period`` seconds."""

    period = 0.2

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            total = sum(_pss_kb(p) for p in descendants())
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb * 1024 / MB


def stop_descendants(timeout: float = 30.0) -> None:
    """Terminate every process this one started (the JVM and its Python
    workers) and wait until each has exited."""
    procs = descendants()
    for p in procs:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + timeout
    while any(_alive(p) for p in procs) and time.time() < deadline:
        time.sleep(0.1)
    for p in procs:
        try:
            if _alive(p):
                os.kill(p, signal.SIGKILL)
            os.waitpid(p, 0)  # reap our direct children
        except (ProcessLookupError, ChildProcessError):
            pass


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rfind(")") + 2] != "Z"
