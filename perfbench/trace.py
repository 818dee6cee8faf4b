"""Benchmark-side tracing: spans, worker RSS sampling, Spark event logs.

* ``Tracer`` records spans (name, id, parent, start, end, attributes)
  around the benchmark's calls into each layer. Spans stay in memory and
  are written out once, at the end of a run.
* ``RssSampler`` polls ``/proc`` for the summed resident set of the
  Spark Python worker processes below this process.
* ``EventLog`` reads the Spark event log the benchmark's own session
  writes, for per-task times and the SQL metrics of ``MapInArrow``
  nodes.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def self_time(self, sid: int) -> float:
        """Span duration minus the part covered by its direct children
        (children of one span run one after another here)."""
        s = self.spans[sid]
        kids = sum(c["end"] - c["start"] for c in self.spans
                   if c["parent"] == sid and c["end"] is not None)
        return (s["end"] - s["start"]) - kids

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for s in self.spans:
            if s["end"] is not None:
                s["self_s"] = self.self_time(s["id"])
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1, default=str)


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, comm) for every visible process."""
    out = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                data = f.read()
        except OSError:
            continue
        try:
            pid = int(data.split(" ", 1)[0])
            comm = data[data.index("(") + 1:data.rindex(")")]
            ppid = int(data[data.rindex(")") + 2:].split()[1])
        except (ValueError, IndexError):
            continue
        out[pid] = (ppid, comm)
    return out


def python_worker_pids(root: int | None = None) -> list[int]:
    """Python processes descending from ``root`` (default: this process),
    excluding ``root`` itself: the pyspark daemon and its workers."""
    root = os.getpid() if root is None else root
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        if table[pid][1].startswith("python"):
            out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    tot = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                tot += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return tot


class RssSampler:
    """Background thread: peak summed RSS of the Python workers."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = None

    def _run(self):
        pids, refreshed = [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - refreshed > 0.5:          # workers come and go slowly
                pids, refreshed = python_worker_pids(), now
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False


PY_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_total_ms",
    "data sent to Python workers": "data_sent_bytes",
    "data returned from Python workers": "data_received_bytes",
}
_SQL = "org.apache.spark.sql.execution.ui."


class EventLog:
    """Parsed Spark event log of one application (read after stop)."""

    def __init__(self, log_dir: str):
        files = sorted(
            p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                 recursive=True)
            if os.path.isfile(p) and not os.path.basename(p).startswith(
                "appstatus"))
        self.events = []
        for fn in files:
            with open(fn) as f:
                for line in f:
                    line = line.strip()
                    if line:
                        self.events.append(json.loads(line))
        self.jobs: dict[int, dict] = {}          # job id -> description
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.exec_plans: dict[int, list[dict]] = {}
        self.exec_desc: dict[int, str] = {}
        self.exec_time: dict[int, list] = {}
        self.driver_accums: dict[int, int] = {}
        for e in self.events:
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                self.jobs[e["Job ID"]] = {
                    "desc": props.get("spark.job.description"),
                    "exec": props.get("spark.sql.execution.id")}
                for sid in e.get("Stage IDs", []):
                    self.stage_job[sid] = e["Job ID"]
            elif ev == "SparkListenerTaskEnd":
                info = e["Task Info"]
                job = self.jobs.get(self.stage_job.get(e["Stage ID"]), {})
                im = (e.get("Task Metrics") or {}).get("Input Metrics") or {}
                self.tasks.append({
                    "stage": e["Stage ID"], "desc": job.get("desc"),
                    "launch": info["Launch Time"],
                    "finish": info["Finish Time"],
                    "failed": bool(info.get("Failed") or info.get("Killed")
                                   or e["Task End Reason"]["Reason"]
                                   != "Success"),
                    "bytes_read": im.get("Bytes Read", 0),
                    "acc": {a["ID"]: a.get("Update")
                            for a in info.get("Accumulables", [])}})
            elif ev in (_SQL + "SparkListenerSQLExecutionStart",
                        _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                eid = e["executionId"]
                self.exec_plans.setdefault(eid, []).append(e["sparkPlanInfo"])
                if ev.endswith("Start"):
                    self.exec_time[eid] = [e["time"], None]
            elif ev == _SQL + "SparkListenerDriverAccumUpdates":
                for aid, v in e["accumUpdates"]:
                    self.driver_accums[aid] = \
                        self.driver_accums.get(aid, 0) + int(v)
            elif ev == _SQL + "SparkListenerSQLExecutionEnd":
                if e["executionId"] in self.exec_time:
                    self.exec_time[e["executionId"]][1] = e["time"]
        for job in self.jobs.values():
            if job["exec"] is not None:
                self.exec_desc.setdefault(int(job["exec"]), job["desc"])

    def tasks_for(self, desc: str) -> list[dict]:
        return [t for t in self.tasks if t["desc"] == desc]

    def executions_for(self, desc: str) -> list[int]:
        return sorted(e for e, d in self.exec_desc.items() if d == desc)

    def node_names(self, eid: int) -> set[str]:
        names = set()

        def walk(p):
            names.add(p["nodeName"])
            for c in p.get("children", []):
                walk(c)
        for plan in self.exec_plans.get(eid, []):
            walk(plan)
        return names

    def node_metric_ids(self, eid: int, node: str,
                        prefix: bool = False) -> dict[int, str]:
        """accumulator id -> metric name for every ``node`` (or node
        whose name starts with ``node``, when ``prefix``) in any plan
        version of execution ``eid`` (adaptive re-plans mint new ids)."""
        ids: dict[int, str] = {}

        def walk(p):
            name = p["nodeName"]
            if name == node or (prefix and name.startswith(node)):
                for m in p.get("metrics", []):
                    ids[m["accumulatorId"]] = m["name"]
            for c in p.get("children", []):
                walk(c)
        for plan in self.exec_plans.get(eid, []):
            walk(plan)
        return ids

    def node_metric_total(self, eid: int, node_prefix: str,
                          metric: str) -> int:
        """Driver-side value of ``metric`` on nodes named
        ``node_prefix*`` (e.g. a file scan's "size of files read")."""
        return sum(self.driver_accums.get(aid, 0) for aid, name in
                   self.node_metric_ids(eid, node_prefix, True).items()
                   if name == metric)

    def python_metrics(self, eid: int, node: str = "MapInArrow") -> dict:
        """Summed task updates of the Python-runner SQL metrics on
        ``node`` in execution ``eid``."""
        ids = {a: PY_METRICS[n] for a, n in
               self.node_metric_ids(eid, node).items() if n in PY_METRICS}
        out = dict.fromkeys(PY_METRICS.values(), 0)
        for t in self.tasks:
            for aid, key in ids.items():
                v = t["acc"].get(aid)
                if v is not None:
                    out[key] += int(v)
        return out

    def exec_wall_s(self, eid: int) -> float | None:
        s, e = self.exec_time.get(eid, (None, None))
        return None if s is None or e is None else (e - s) / 1000.0


def task_stats(tasks: list[dict], job_walls: list[float], slots: int) -> dict:
    """Tasks per job, failed tasks, p50 / max task seconds, and the share
    of slot time the tasks kept busy over the jobs' wall."""
    durs = sorted((t["finish"] - t["launch"]) / 1000.0 for t in tasks)
    busy_wall_s = sum(job_walls)
    return {
        "count": len(durs) / len(job_walls),
        "failed": sum(1 for t in tasks if t["failed"]),
        "p50_s": statistics.median(durs) if durs else 0.0,
        "max_s": durs[-1] if durs else 0.0,
        "slot_busy_ratio": (sum(durs) / (busy_wall_s * slots)
                            if busy_wall_s > 0 else 0.0),
    }
