"""Measurement plumbing for the benchmark: spans, process-tree CPU/RSS from
``/proc``, and Spark stage/task metrics from the monitoring REST API.

Nothing here imports the engine; it only observes the process tree and the
Spark UI of the session the benchmark started.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---- spans ---------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent) around the benchmark's
    calls into the engine.  Each open span also tags the Spark jobs it
    launches with a job group ``<span_id>:<name>`` so stage metrics map back
    to the span.  A disabled tracer costs one attribute check per span."""

    def __init__(self, enabled: bool, spark_context=None):
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def _open(self, name, attrs):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans) + 1, "name": name,
             "parent": parent["id"] if parent else None,
             "root": parent["root"] if parent else len(self.spans) + 1,
             "start": time.perf_counter() - self._t0, "end": None,
             "attrs": attrs}
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(self.group(s), name)
        return s

    def _close(self, s):
        s["end"] = time.perf_counter() - self._t0
        self._stack.pop()
        if self.sc is not None:
            if self._stack:
                top = self._stack[-1]
                self.sc.setJobGroup(self.group(top), top["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def group(s) -> str:
        return f"{s['id']}:{s['name']}"

    def self_time(self, s) -> float:
        """Span duration minus the part of it covered by its children."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == s["id"])
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in kids:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        return (s["end"] - s["start"]) - covered

    def median_self(self, name: str, roots: set[int]) -> float:
        """Median self time of the spans called ``name`` under the root
        spans ``roots``."""
        vals = [self.self_time(s) for s in self.spans
                if s["name"] == name and s["root"] in roots]
        return statistics.median(vals) if vals else 0.0

    def groups_under(self, root: int, name: str | None = None) -> set[str]:
        """Job groups of the spans under root span ``root`` (optionally
        only those called ``name``)."""
        return {self.group(s) for s in self.spans if s["root"] == root
                and (name is None or s["name"] == name)}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                row = dict(s)
                row["self"] = self.self_time(s)
                f.write(json.dumps(row, sort_keys=True) + "\n")


class _Span:
    def __init__(self, tracer, name, attrs):
        self.t, self.name, self.attrs, self.s = tracer, name, attrs, None

    def __enter__(self):
        if self.t.enabled:
            self.s = self.t._open(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc):
        if self.s is not None:
            self.t._close(self.s)
        return False


# ---- /proc process tree ----------------------------------------------------

def _proc_table() -> dict[int, tuple[int, str, int, int, int]]:
    """pid -> (ppid, comm, own cpu ticks, reaped children's cpu ticks,
    rss pages)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        comm = raw[raw.index("(") + 1:raw.rindex(")")]
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is state (stat field 3); utime..cstime are fields 14..17
        ppid = int(fields[1])
        own = int(fields[11]) + int(fields[12])
        reaped = int(fields[13]) + int(fields[14])
        out[int(name)] = (ppid, comm, own, reaped, int(fields[21]))
    return out


def _descendants(table, root: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    seen, todo = set(), [root]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            if c not in seen:
                seen.add(c)
                todo.append(c)
    return seen


class ProcTree:
    """CPU seconds (utime+stime+cutime+cstime) and resident memory of this
    process and all its descendants: the benchmark's Python process, the JVM and
    the JVM's Python workers.  ``executorCpuTime`` sees only JVM task
    threads; this sees the workers where the UDFs run."""

    def __init__(self):
        self.root = os.getpid()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = None

    def snapshot(self) -> dict[str, float]:
        """Cumulative CPU seconds: ``total`` (whole tree), ``jvm`` (the
        Spark JVM's own threads) and ``py_workers`` (the JVM's descendants,
        live or already reaped).  A process that exits between two
        snapshots moves into its parent's reaped ticks, so differences of
        snapshots stay exact."""
        table = _proc_table()
        tree = _descendants(table, self.root) | {self.root}
        jvm = [p for p in tree if table[p][1] == "java"]
        workers = set()
        for j in jvm:
            workers |= _descendants(table, j)
        full = lambda p: table[p][2] + table[p][3]  # noqa: E731
        return {
            "total": sum(full(p) for p in tree) / _CLK_TCK,
            "jvm": sum(table[p][2] for p in jvm) / _CLK_TCK,
            "py_workers": (sum(full(p) for p in workers)
                           + sum(table[p][3] for p in jvm)) / _CLK_TCK}

    def descendant_pids(self) -> set[int]:
        return _descendants(_proc_table(), self.root)

    def rss_mb(self) -> float:
        table = _proc_table()
        tree = _descendants(table, self.root) | {self.root}
        return sum(table[p][4] for p in tree) * _PAGE / 2**20

    def start_sampling(self, period_s: float = 0.1) -> None:
        def loop():
            while not self._stop.wait(period_s):
                self._peak = max(self._peak, self.rss_mb())
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def reset_peak(self) -> None:
        self._peak = self.rss_mb()

    def peak_mb(self) -> float:
        return max(self._peak, self.rss_mb())

    def stop_sampling(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)


# ---- Spark monitoring REST API --------------------------------------------

class SparkRest:
    """Stage and task metrics from ``/api/v1`` of the session's own UI."""

    def __init__(self, ui_url: str, app_id: str):
        self.base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read().decode())

    def jobs(self) -> list[dict]:
        return self.get("/jobs")

    def settled(self, timeout_s: float = 30.0) -> None:
        """Wait until the UI listener has caught up: no job still running
        and no stage of a finished job still active."""
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            jobs = self.jobs()
            if all(j["status"] != "RUNNING" for j in jobs):
                stages = self.get("/stages?status=active")
                if not stages:
                    return
            time.sleep(0.2)

    def group_metrics(self, groups: set[str]) -> dict:
        """Sum stage metrics over every completed stage of every job whose
        job group is in ``groups``; ``skew`` is the slowest task over the
        median task of the stage with the largest total run time."""
        jobs = [j for j in self.jobs() if j.get("jobGroup") in groups]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        m = {"tasks": 0, "failed_tasks": 0, "run_s": 0.0, "jvm_cpu_s": 0.0,
             "gc_s": 0.0, "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
             "shuffle_records": 0, "spill_bytes": 0, "skew": 1.0}
        dominant, dom_run = None, -1.0
        for sid in stage_ids:
            try:
                attempts = self.get(f"/stages/{sid}")
            except OSError:
                continue
            for st in attempts:
                if st.get("status") != "COMPLETE":
                    continue
                m["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
                m["failed_tasks"] += st["numFailedTasks"]
                m["run_s"] += st["executorRunTime"] / 1e3
                m["jvm_cpu_s"] += st["executorCpuTime"] / 1e9
                m["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                m["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                m["shuffle_read_bytes"] += st["shuffleReadBytes"]
                m["shuffle_records"] += st["shuffleWriteRecords"]
                m["spill_bytes"] += (st["memoryBytesSpilled"]
                                     + st["diskBytesSpilled"])
                if st["executorRunTime"] > dom_run:
                    dom_run = st["executorRunTime"]
                    dominant = (sid, st["attemptId"])
        if dominant is not None:
            q = self.get(f"/stages/{dominant[0]}/{dominant[1]}/taskSummary"
                         "?quantiles=0.5,1.0")["executorRunTime"]
            m["skew"] = q[1] / q[0] if q[0] > 0 else 1.0
        return m

    def sql_plans(self, job_ids: set[int]) -> list[list[dict]]:
        """Plan nodes (with SQL metrics) of each SQL execution that ran any
        of ``job_ids``, one list per execution."""
        out = []
        for ex in self.get("/sql?details=true&planDescription=false"
                           "&offset=0&length=1000000"):
            ran = set(ex.get("successJobIds", [])) | set(
                ex.get("failedJobIds", [])) | set(ex.get("runningJobIds", []))
            if ran & job_ids:
                out.append(ex.get("nodes", []))
        return out

    def group_job_ids(self, groups: set[str]) -> set[int]:
        return {j["jobId"] for j in self.jobs() if j.get("jobGroup") in groups}


def node_metric(node: dict, name: str) -> int:
    """Integer value of a plan node's SQL metric (e.g. number of output
    rows); 0 if absent."""
    for m in node.get("metrics", []):
        if m.get("name") == name:
            digits = "".join(ch for ch in str(m.get("value", "")).split("\n")[0]
                             if ch.isdigit())
            return int(digits) if digits else 0
    return 0
