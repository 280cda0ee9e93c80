"""What the benchmark observes about a run, all from outside the engine.

- ``Tracer``: spans (name, start, end, parent, op id) around the calls
  the benchmark makes into each engine module, kept in memory and
  reduced to per-layer self times at the end. Disabled, it only runs
  the calls.
- ``spark_op_metrics``: per-op Spark numbers from the job groups the
  tracer sets, the status tracker and the local UI REST API.
- ``RssSampler``: peak resident memory of this process and every
  descendant (driver JVM plus Python workers), sampled from /proc by a
  separate process.
- ``steal_s``, ``calibration_s``, ``versions``: host diagnostics.
  Diagnostics only: nothing here drops, retries or rescales a run.
"""

from __future__ import annotations

import json
import os
import platform
import select
import statistics
import subprocess
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from datetime import datetime, timezone


# ------------------------------------------------------------------ spans
class Tracer:
    def __init__(self, enabled: bool, spark):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []  # name, start, end, parent, op
        self.op_id: str | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, "op": self.op_id}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def op(self, op_id: str, desc: str):
        """One timed op; in traced runs its Spark jobs carry ``op_id``
        as their job group."""
        self.op_id = op_id
        if self.enabled:
            self.spark.sparkContext.setJobGroup(op_id, desc)
        try:
            with self.span("op"):
                yield
        finally:
            if self.enabled:
                self.spark.sparkContext.setJobGroup("", "")
            self.op_id = None

    def call(self, name: str, plan, action):
        """``plan()`` builds a DataFrame (driver and py4j work), then
        ``action(df)`` runs it; each half is its own span."""
        with self.span(f"{name}.plan"):
            df = plan()
        with self.span(f"{name}.exec"):
            return action(df)

    def op_halves_ms(self) -> dict[str, float]:
        """``op.plan_ms`` and ``op.exec_ms``: per op, the summed time of
        the plan halves and of the exec halves of its engine calls;
        medians over the ops."""
        halves: dict[str, dict[str, float]] = {"plan": defaultdict(float), "exec": defaultdict(float)}
        for s in self.spans:
            half = s["name"].rsplit(".", 1)[-1]
            if s["op"] is not None and half in halves:
                halves[half][s["op"]] += (s["end"] - s["start"]) * 1e3
        ops = [s["op"] for s in self.spans if s["name"] == "op"]
        return {f"op.{h}_ms": statistics.median(by_op[o] for o in ops) for h, by_op in halves.items()}

    def self_times_ms(self) -> dict[str, float]:
        """Median self time per span name (duration minus the part its
        children cover), over the spans of that name."""
        child_ms = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] += (s["end"] - s["start"]) * 1e3
        by_name = defaultdict(list)
        for i, s in enumerate(self.spans):
            by_name[s["name"]].append((s["end"] - s["start"]) * 1e3 - child_ms[i])
        return {k: statistics.median(v) for k, v in by_name.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ Spark REST
def _rest(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def _ts(s: str | None) -> float | None:
    if not s:
        return None
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(tzinfo=timezone.utc).timestamp()


def _union_ms(intervals: list[tuple[float, float]]) -> float:
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
    return total * 1e3


# SQL metric units: sizes to bytes, durations to milliseconds
_SQL_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
              "ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _sql_total(metric_value: str) -> float:
    """The total of an SQL size or timing metric string such as
    'total (min, med, max ...)\\n1.2 MiB (...)', in bytes or ms."""
    first = metric_value.strip().splitlines()[-1].split("(")[0].split()
    try:
        return float(first[0]) * _SQL_UNITS.get(first[1], 1)
    except (IndexError, ValueError):
        return 0.0


# per-op Spark counters taken from the SQL metrics of Python-UDF nodes
_SQL_PYTHON = {"python_bytes_sent": "data sent to Python workers",
               "python_run_ms": "time to run Python workers"}


def spark_op_metrics(spark, tracer: Tracer, result_rows: dict[str, int]) -> dict[str, float]:
    """Per-op means of Spark's own counters for every traced op, plus
    ``driver.self_ms`` (op wall minus the union of its job intervals)."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    tracker = sc.statusTracker()
    jobs = {j["jobId"]: j for j in _rest(base, "/jobs")}
    stages = {s["stageId"]: s for s in _rest(base, "/stages") if s.get("status") == "COMPLETE"}
    sql = _rest(base, "/sql?details=true&planDescription=false&length=100000")
    # an SQL execution's metrics are credited to its first job
    py_by_job: dict[str, dict[int, float]] = {k: defaultdict(float) for k in _SQL_PYTHON}
    for ex in sql:
        ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
        if not ids:
            continue
        for n in ex.get("nodes", []):
            for m in n.get("metrics", []):
                for k, name in _SQL_PYTHON.items():
                    if m["name"] == name:
                        py_by_job[k][min(ids)] += _sql_total(m["value"])
    ops = [s for s in tracer.spans if s["name"] == "op"]
    tot = dict.fromkeys(
        ["jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "deserialize_ms", "gc_ms",
         "shuffle_read_bytes", "shuffle_write_bytes", "input_bytes", "input_records", "result_bytes",
         "spill_bytes", "job_ms", *_SQL_PYTHON], 0.0)
    self_ms, skews = [], []
    for op in ops:
        jids = [j for j in tracker.getJobIdsForGroup(op["op"]) if j in jobs]
        intervals = []
        for j in jids:
            js = _ts(jobs[j].get("submissionTime"))
            je = _ts(jobs[j].get("completionTime"))
            if js is not None and je is not None:
                intervals.append((max(js, op["start"]), min(je, op["end"])))
            tot["jobs"] += 1
            for k in _SQL_PYTHON:
                tot[k] += py_by_job[k].get(j, 0.0)
            for sid in jobs[j]["stageIds"]:
                st = stages.get(sid)
                if st is None:  # skipped: its output was reused
                    continue
                tot["stages"] += 1
                tot["tasks"] += st["numTasks"]
                tot["executor_run_ms"] += st["executorRunTime"]
                tot["executor_cpu_ms"] += st["executorCpuTime"] / 1e6
                tot["deserialize_ms"] += st["executorDeserializeTime"]
                tot["gc_ms"] += st["jvmGcTime"]
                tot["shuffle_read_bytes"] += st["shuffleReadBytes"]
                tot["shuffle_write_bytes"] += st["shuffleWriteBytes"]
                tot["input_bytes"] += st["inputBytes"]
                tot["input_records"] += st["inputRecords"]
                tot["result_bytes"] += st["resultSize"]
                tot["spill_bytes"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
                if st["numTasks"] > 1:
                    tasks = _rest(base, f"/stages/{sid}/{st['attemptId']}/taskList?length=100000")
                    run = [t["taskMetrics"]["executorRunTime"] for t in tasks if t.get("taskMetrics")]
                    if run and sum(run) > 0:
                        skews.append(max(run) / (sum(run) / len(run)))
        wall = (op["end"] - op["start"]) * 1e3
        job_ms = _union_ms([iv for iv in intervals if iv[1] > iv[0]])
        self_ms.append(wall - job_ms)
        tot["job_ms"] += job_ms
    n = max(len(ops), 1)
    rows = sum(result_rows.values())
    out = {f"spark.{k}_per_op" if k in ("jobs", "stages", "tasks") else f"spark.{k}": v / n
           for k, v in tot.items() if k != "input_records"}
    out["spark.task_skew"] = statistics.median(skews) if skews else 1.0
    out["spark.scan_yield"] = rows / tot["input_records"] if tot["input_records"] else 0.0
    # per-op means: driver.self_ms + spark.job_ms is the mean op wall time
    out["driver.self_ms"] = statistics.fmean(self_ms) if self_ms else 0.0
    return out


# ------------------------------------------------------------ memory
def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(name))
    return kids


def tree_pids(root: int, skip: int) -> list[int]:
    """``root`` and its descendants, without ``skip`` and its own."""
    kids, out, todo = _children_map(), [], [root]
    while todo:
        p = todo.pop()
        if p != skip:
            out.append(p)
            todo.extend(kids.get(p, []))
    return out


def _resident_bytes(pid: int) -> int:
    """Proportional set size of a Python process: it splits the pages
    that forked Python workers share among them instead of counting them
    once per worker. For the JVM, which shares nothing with the rest of
    the tree, the resident set from ``statm``: reading its
    ``smaps_rollup`` walks every page table of the heap (about 30 ms)."""
    with open(f"/proc/{pid}/comm") as f:
        if f.read().strip() == "java":
            with open(f"/proc/{pid}/statm") as g:
                return int(g.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root: int, skip: int) -> tuple[int, int]:
    """(summed resident bytes, process count) of ``root`` and its
    descendants."""
    total, n = 0, 0
    for p in tree_pids(root, skip):
        try:
            total += _resident_bytes(p)
            n += 1
        except (OSError, IndexError, ValueError):
            continue
    return total, n


def _sample_tree(root: int, interval_s: float) -> None:
    """The sampler process: sample ``root``'s tree until stdin closes,
    then print the peak and the process count at the peak."""
    me, peak, procs = os.getpid(), 0, 0
    while True:
        total, n = tree_resident_bytes(root, skip=me)
        if total > peak:
            peak, procs = total, n
        if select.select([sys.stdin], [], [], interval_s)[0]:
            break
    print(peak, procs)


class RssSampler:
    """Peak resident memory of this process's tree, sampled every
    ``interval_s`` by a separate process, so the /proc walks never run
    in the client's interpreter. A sample costs about 5 ms of CPU."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self.peak_procs = 0

    def __enter__(self) -> "RssSampler":
        self._proc = subprocess.Popen(
            [sys.executable, __file__, str(os.getpid()), str(self.interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        return self

    def __exit__(self, *exc) -> None:
        out, _ = self._proc.communicate("")  # EOF on stdin stops the sampler
        self.peak, self.peak_procs = map(int, out.split())


# ------------------------------------------------------------ host
def steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def calibration_s() -> float:
    """A fixed pure-Python loop: a slow host or a throttled core shows
    here, independent of the engine."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc ^= i * 2654435761 & 0xFFFFFFFF
    return time.perf_counter() - t0


def versions(spark) -> dict[str, str]:
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "java": str(jvm.System.getProperty("java.version")),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
        "nproc": str(len(os.sched_getaffinity(0))),
    }


if __name__ == "__main__":
    _sample_tree(int(sys.argv[1]), float(sys.argv[2]))
