"""Tracing for the benchmark: in-memory spans, the Spark event-log reader,
the process-tree RSS sampler and the host canary.

Spans are recorded around the benchmark's own calls into each engine layer
(the engine itself is not instrumented).  Each span tags the Spark jobs it
starts with ``setJobGroup(<span id>)``, so after the session stops the event
log can be cut per span: jobs, tasks, executor run and CPU time, longest
task, shuffle read/write, spill, and the SQL accumulables of the plan nodes
(``time to run Python workers``, ``number of output rows`` …).
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import threading
import time
from collections import defaultdict

# -- spans ------------------------------------------------------------------


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of the (start, end) intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Span:
    __slots__ = ("span_id", "name", "layer", "trace_id", "parent", "start", "end", "counts")

    def __init__(self, span_id, name, layer, trace_id, parent, start):
        self.span_id = span_id
        self.name = name
        self.layer = layer
        self.trace_id = trace_id
        self.parent = parent
        self.start = start
        self.end = None
        self.counts = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans in memory.  ``enabled=False`` makes every span a
    no-op, so the untraced runs execute the same op code with no job groups
    and no clock reads beyond the op's own."""

    def __init__(self, spark=None, enabled: bool = True):
        self.sc = spark.sparkContext if spark is not None else None
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._trace = 0

    def new_trace(self) -> None:
        self._trace += 1

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            f"s{len(self.spans)}",
            name,
            layer,
            self._trace,
            parent.span_id if parent else None,
            time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        if self.sc is not None:
            self.sc.setJobGroup(sp.span_id, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.span_id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def count(self, **counts) -> None:
        """Add counts to the innermost open span."""
        if self.enabled and self._stack:
            self._stack[-1].counts.update(counts)

    def children(self, span_id: str) -> list:
        return [s for s in self.spans if s.parent == span_id]

    def subtree_ids(self, span_id: str) -> set:
        out, todo = set(), [span_id]
        while todo:
            sid = todo.pop()
            out.add(sid)
            todo.extend(s.span_id for s in self.spans if s.parent == sid)
        return out

    def self_seconds(self, sp: Span) -> float:
        """Span time minus the part of its interval its children cover."""
        kids = [(c.start, c.end) for c in self.children(sp.span_id)]
        return sp.seconds - _covered(kids, sp.start, sp.end)

    def to_records(self, profiles: dict | None = None) -> list:
        out = []
        for sp in self.spans:
            rec = {
                "span_id": sp.span_id,
                "trace_id": sp.trace_id,
                "parent": sp.parent,
                "name": sp.name,
                "layer": sp.layer,
                "start": sp.start,
                "end": sp.end,
                "seconds": sp.seconds,
                "self_seconds": self.self_seconds(sp),
                "counts": sp.counts,
            }
            if profiles and sp.span_id in profiles:
                rec["spark"] = profiles[sp.span_id]
            out.append(rec)
        return out


# -- event log --------------------------------------------------------------

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    # Spark 4 defaults to zstd-compressed rolling logs; no zstandard module
    # is installed here, so write one plain JSON-lines file
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


class EventLog:
    """Parsed Spark event log, cut by job group (= span id)."""

    def __init__(self, path: str):
        self.path = path
        self.jobs = {}  # job id -> {"group", "stages", "start", "end"}
        self.stage_group = {}  # (stage, attempt) -> group
        self.tasks = []  # dicts: group, stage, launch, finish, run_ms, cpu_ns, ...
        self.acc_node = {}  # accumulator id -> (node name, metric name)
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    @classmethod
    def in_dir(cls, log_dir: str) -> "EventLog":
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        return cls(files[0])

    def _plan(self, info):
        todo = [info]
        while todo:
            node = todo.pop()
            for m in node.get("metrics", []):
                self.acc_node[m["accumulatorId"]] = (node["nodeName"], m["name"])
            todo.extend(node.get("children", []))

    def _event(self, e):
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": e["Stage IDs"],
                "start": e["Submission Time"] / 1000.0,
                "end": None,
            }
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            self.stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = props.get(
                "spark.jobGroup.id"
            )
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            om = tm.get("Output Metrics") or {}
            accs = {}
            for a in ti.get("Accumulables", []):
                # SQL plan metrics carry their update as a decimal string
                if a.get("Metadata") == "sql":
                    try:
                        accs[a["ID"]] = (a.get("Name"), float(a["Update"]))
                    except (TypeError, ValueError):
                        pass
            self.tasks.append(
                {
                    "group": self.stage_group.get((e["Stage ID"], e["Stage Attempt ID"])),
                    "stage": e["Stage ID"],
                    "launch": ti["Launch Time"] / 1000.0,
                    "finish": ti["Finish Time"] / 1000.0,
                    "run_ms": tm.get("Executor Run Time", 0),
                    "cpu_ns": tm.get("Executor CPU Time", 0),
                    "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                    "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                    "bytes_written": om.get("Bytes Written", 0),
                    "accs": accs,
                }
            )
        elif "sparkPlanInfo" in e:
            self._plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
            for m in e.get("sqlPlanMetrics", []):
                self.acc_node.setdefault(m["accumulatorId"], ("?", m["name"]))

    def write_job_seconds(self, groups: set) -> float:
        """Wall time of the jobs in ``groups`` that wrote output files."""
        writing = {t["stage"] for t in self.tasks if t["group"] in groups and t["bytes_written"]}
        return sum(
            j["end"] - j["start"]
            for j in self.jobs.values()
            if j["group"] in groups and j["end"] is not None and writing & set(j["stages"])
        )

    def profile(self, groups: set, start: float, end: float) -> dict:
        """Spark's numbers for the jobs tagged with any of ``groups`` and
        the wall interval [start, end] they ran in."""
        jobs = [j for j in self.jobs.values() if j["group"] in groups]
        tasks = [t for t in self.tasks if t["group"] in groups]
        run_s = [t["run_ms"] / 1000.0 for t in tasks]
        node_metric = defaultdict(float)
        metric = defaultdict(float)
        for t in tasks:
            for acc_id, (name, upd) in t["accs"].items():
                metric[name] += upd
                node, mname = self.acc_node.get(acc_id, ("?", name))
                node_metric[f"{node}/{mname}"] += upd
        # the part of the span's wall with no task running is driver work
        # and scheduling
        busy = _covered([(t["launch"], t["finish"]) for t in tasks], start, end)
        wall = max(end - start, 1e-9)
        return {
            "jobs": len(jobs),
            "tasks": len(tasks),
            "executor_run_s": sum(run_s),
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "longest_task_s": max(run_s, default=0.0),
            "median_task_s": statistics.median(run_s) if run_s else 0.0,
            "shuffle_read_mb": sum(t["shuffle_read"] for t in tasks) / 1e6,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / 1e6,
            "spill_mb": sum(t["spill"] for t in tasks) / 1e6,
            "bytes_written_mb": sum(t["bytes_written"] for t in tasks) / 1e6,
            # SQL timing metrics are milliseconds
            "python_worker_s": metric.get("time to run Python workers", 0.0) / 1000.0,
            "driver_idle_share": 1.0 - busy / wall,
            "node_metrics": dict(node_metric),
        }


# -- process tree RSS ---------------------------------------------------------


def _children_map() -> dict:
    kids = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parens; ppid is the 2nd field after ')'
        pid = int(raw[: raw.index(" ")])
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        kids[ppid].append(pid)
    return kids


def descendants(root_pid: int) -> list:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = None

    def sample(self) -> int:
        me = os.getpid()
        kb = sum(_rss_kb(p) for p in [me, *descendants(me)])
        self.peak_kb = max(self.peak_kb, kb)
        self.samples += 1
        return kb

    def _loop(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def start(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MB."""
        if self._thread is not None:
            self._stop.set()
            self._thread.join()
            self._thread = None
        return self.peak_kb / 1024.0


# -- host canary --------------------------------------------------------------


def host_canary(n: int = 4_000_000) -> float:
    """Single-thread numpy sort of a fixed array (about 0.1 s on a healthy
    host; readings above 0.3 s mark a degraded host window).  Recorded
    beside the numbers, never used to drop or rescale a run."""
    import numpy as np

    a = np.random.default_rng(5).normal(size=n)
    t0 = time.perf_counter()
    np.sort(a)
    return time.perf_counter() - t0
