"""Request timing, in-memory spans and Spark event-log attribution.

Every timed operation goes through :class:`Recorder`. Untraced runs
only keep wall times. Traced runs also give each request its own Spark
job group, keep spans in memory (name, start, end, parent, request id)
and, after the session stops, join them with the Spark event log so
jobs, stages and task metrics land on the request that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log milliseconds
    end: float
    parent: int | None
    request: str
    id: int


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of process ``root`` (this process by
    default) and its live descendants, including what they have reaped
    from exited children: the benchmark, the JVM and its Python workers.
    Time the host steals from the VM is not charged to processes."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # exited while listing
        fields = stat[stat.rindex(")") + 2 :].split()
        children[int(fields[1])].append(int(entry))
        ticks[int(entry)] = sum(int(v) for v in fields[11:15])
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


@dataclass
class Request:
    id: str
    kind: str
    wall_s: float
    cpu_s: float = 0.0
    rows: int = 0
    bytes: int = 0
    catalyst_ms: dict = field(default_factory=dict)


class Recorder:
    """Times requests and, when ``traced``, records spans around them."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._next = 0
        self._stack: list[Span] = []
        self._request: str | None = None

    @contextmanager
    def request(self, spark, kind: str):
        """One closed-loop request; yields its :class:`Request`, whose
        ``wall_s`` is set when the block exits."""
        self._next += 1
        req = Request(id=f"{kind}-{self._next}", kind=kind, wall_s=0.0)
        sc = spark.sparkContext
        if self.traced:
            sc.setJobGroup(req.id, kind, interruptOnCancel=False)
        self._request = req.id
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with self.span("request"):
                yield req
        finally:
            req.wall_s = time.perf_counter() - t0
            req.cpu_s = tree_cpu_s() - c0
            self._request = None
            if self.traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self.requests.append(req)

    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        self._next += 1
        parent = self._stack[-1].id if self._stack else None
        s = Span(name, time.time(), 0.0, parent, self._request or "", self._next)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    def walls(self, kind: str) -> list[float]:
        return [r.wall_s for r in self.requests if r.kind == kind]


def catalyst_phases(df) -> dict[str, float]:
    """Analysis / optimization / planning durations (ms) recorded by the
    DataFrame's ``QueryExecution.tracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# ------------------------------------------------------------ event log


def read_event_log(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "*")))
    events = []
    for path in files:
        if path.endswith(".inprogress"):
            continue
        with open(path) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


@dataclass
class JobStats:
    group: str | None
    start_ms: int
    end_ms: int
    stages: list[int]


def summarize_event_log(events: list[dict]) -> tuple[dict[int, JobStats], dict[int, dict]]:
    """Jobs (with their job group) and per-stage task totals."""
    jobs: dict[int, JobStats] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {
            "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "sched_ms": 0,
            "shuffle_bytes": 0, "spill_bytes": 0, "in_rows": 0, "in_bytes": 0,
            "scopes": set(), "intervals": [],
        }
    )
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = JobStats(
                props.get("spark.jobGroup.id"), e["Submission Time"], 0, e["Stage IDs"]
            )
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            for rdd in info.get("RDD Info", []):
                if rdd.get("Scope"):
                    stages[info["Stage ID"]]["scopes"].add(json.loads(rdd["Scope"])["name"])
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            ti = e["Task Info"]
            st = stages[e["Stage ID"]]
            run = m.get("Executor Run Time", 0)
            st["tasks"] += 1
            st["run_ms"] += run
            st["cpu_ns"] += m.get("Executor CPU Time", 0)
            st["gc_ms"] += m.get("JVM GC Time", 0)
            st["sched_ms"] += max(
                0,
                ti["Finish Time"] - ti["Launch Time"] - run
                - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - ti.get("Getting Result Time", 0),
            )
            st["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            inp = m.get("Input Metrics") or {}
            st["in_rows"] += inp.get("Records Read", 0)
            st["in_bytes"] += inp.get("Bytes Read", 0)
            # executor-side busy interval: the driver stamps "Finish Time"
            # only when it handles the result, after the core is free
            busy = (m.get("Executor Deserialize Time", 0) + run
                    + m.get("Result Serialization Time", 0))
            st["intervals"].append((ti["Launch Time"], ti["Launch Time"] + busy))
    return jobs, dict(stages)


def max_concurrent_tasks(stages: dict[int, dict]) -> int:
    """Most tasks running at one instant over the whole log."""
    edges = []
    for st in stages.values():
        for a, b in st["intervals"]:
            edges += [(a, 1), (b, -1)]
    running = peak = 0
    for _, d in sorted(edges, key=lambda x: (x[0], x[1])):
        running += d
        peak = max(peak, running)
    return peak


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _clip(iv: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in iv if min(b, hi) > max(a, lo)]


#: stages running the grouped pandas fit (``applyInPandas``)
FIT_SCOPE = "FlatMapGroupsInPandas"


def stage_totals(jobs: list[JobStats], stages: dict[int, dict]) -> dict[str, float]:
    """Event-log task metrics summed over the stages the jobs ran."""
    t: dict[str, float] = defaultdict(float)
    t["jobs"] = len(jobs)
    for j in jobs:
        for sid in j.stages:
            st = stages.get(sid)
            if st is None or not st["tasks"]:
                continue  # skipped stage (reused shuffle output)
            t["stages"] += 1
            t["tasks"] += st["tasks"]
            t["task_run_s"] += st["run_ms"] / 1e3
            t["task_cpu_s"] += st["cpu_ns"] / 1e9
            t["task_gc_s"] += st["gc_ms"] / 1e3
            t["sched_delay_s"] += st["sched_ms"] / 1e3
            t["shuffle_bytes"] += st["shuffle_bytes"]
            t["spill_bytes"] += st["spill_bytes"]
            t["scan_rows"] += st["in_rows"]
            t["scan_bytes"] += st["in_bytes"]
            if FIT_SCOPE in st["scopes"]:
                t["fit_stage_s"] += st["run_ms"] / 1e3
                t["fit_tasks"] += st["tasks"]
    return t


def layer_breakdown(rec: Recorder, jobs: dict[int, JobStats],
                    stages: dict[int, dict]) -> dict[str, dict]:
    """Per request kind: medians of self time per layer and sums of the
    event-log task metrics of the requests' jobs.

    Layers of one request: ``build`` (Python plan build, with Catalyst
    analysis inside it), ``catalyst`` (optimization + planning inside
    the action), ``exec`` (union of the request's Spark job intervals),
    ``transfer`` (last job end to the action's return) and ``gap`` (the
    part of the request wall none of those covers: driver-side job
    submission and adaptive re-planning between jobs)."""
    by_req: dict[str, list[Span]] = defaultdict(list)
    for s in rec.spans:
        by_req[s.request].append(s)
    jobs_by_group: dict[str, list[JobStats]] = defaultdict(list)
    for j in jobs.values():
        if j.group:
            jobs_by_group[j.group].append(j)

    per_kind: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for req in rec.requests:
        spans = {s.name: s for s in by_req.get(req.id, [])}
        root = spans.get("request")
        if root is None:
            continue
        lo, hi = root.start * 1e3, root.end * 1e3
        wall = hi - lo
        rjobs = jobs_by_group.get(req.id, [])
        job_iv = _clip([(j.start_ms, j.end_ms) for j in rjobs], lo, hi)
        exec_ms = _union_ms(job_iv)
        covered = list(job_iv)
        build = spans.get("build")
        action = spans.get("action")
        layers = {"exec": exec_ms}
        if build is not None:
            b_iv = (build.start * 1e3, build.end * 1e3)
            layers["build"] = (b_iv[1] - b_iv[0]) - _union_ms(_clip(job_iv, *b_iv))
            covered.append(b_iv)
        if action is not None:
            a_lo, a_hi = action.start * 1e3, action.end * 1e3
            cat = req.catalyst_ms.get("optimization", 0.0) + req.catalyst_ms.get("planning", 0.0)
            # optimization and planning run at the start of the action,
            # before its first job is submitted
            a_jobs = _clip(job_iv, a_lo, a_hi)
            first_job = min((a for a, _ in a_jobs), default=a_hi)
            cat_iv = (a_lo, min(a_lo + cat, first_job))
            layers["catalyst"] = cat_iv[1] - cat_iv[0]
            last_job = max((b for _, b in a_jobs), default=cat_iv[1])
            layers["transfer"] = max(0.0, a_hi - last_job)
            covered += [cat_iv, (last_job, a_hi)]
        cov = _union_ms(_clip(covered, lo, hi))
        layers["gap"] = wall - cov
        layers["wall"] = wall
        layers["coverage"] = cov / wall if wall > 0 else 1.0
        for k, v in layers.items():
            per_kind[req.kind][k].append(v)
        t = totals[req.kind]
        t["requests"] += 1
        for k, v in stage_totals(rjobs, stages).items():
            t[k] += v
        for k, v in req.catalyst_ms.items():
            t[f"catalyst_{k}_ms"] += v
        t["process_cpu_s"] += req.cpu_s
        t["transfer_rows"] += req.rows
        t["transfer_bytes"] += req.bytes

    out = {}
    for kind, layers in per_kind.items():
        n = totals[kind]["requests"] or 1
        out[kind] = {
            "requests": int(totals[kind]["requests"]),
            "self_ms_median": {k: statistics.median(v) for k, v in layers.items()
                               if k not in ("coverage",)},
            "coverage_min": min(layers["coverage"]),
            "per_request": {k: v / n for k, v in totals[kind].items() if k != "requests"},
        }
    return out
