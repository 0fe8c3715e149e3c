"""Spans, Spark job groups, status-API reads and process-tree RSS.

Spans are recorded in the benchmark's own files around the calls into
each layer (no span lives inside the program). Each span gets its own
Spark job group, so after a traced pass the jobs, stages, shuffle and
spill bytes, GC time and task-time skew of every layer can be read
back from the status REST API. Spans stay in memory and are written
out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

GROUP_KEY = "spark.jobGroup.id"


class Tracer:
    """Span recorder; one instance per traced pass."""

    def __init__(self, spark, trace_id: str):
        self.sc = spark.sparkContext
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "trace": self.trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"perfbench-{self.trace_id}-{sid}",
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent = self.spans[self._stack[-1]]["group"] if self._stack else None
            self.sc.setLocalProperty(GROUP_KEY, parent)

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it that child spans cover."""
        kids = sorted((c["start"], c["end"]) for c in self.spans
                      if c["parent"] == rec["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered


class StatusApi:
    """Reads the Spark status REST API of this application (UI must be on)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.base = self.sc.uiWebUrl
        if not self.base:
            raise RuntimeError("Spark UI is off; the traced run needs it on")
        self.app = self.sc.applicationId

    def _get(self, path: str):
        with urllib.request.urlopen(
                f"{self.base}/api/v1/applications/{self.app}/{path}", timeout=30) as r:
            return json.loads(r.read())

    def last_job_id(self) -> int:
        jobs = self._get("jobs")
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int, settle_s: float = 10.0) -> list[dict]:
        """Jobs newer than `job_id`, once none of them is still running
        (the listener bus updates the status store asynchronously)."""
        deadline = time.time() + settle_s
        while True:
            jobs = [j for j in self._get("jobs") if j["jobId"] > job_id]
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                return jobs
            time.sleep(0.1)

    def stages(self) -> dict[int, dict]:
        """Completed stage attempts keyed by stage id (last attempt wins)."""
        out = {}
        for s in self._get("stages?status=complete"):
            out[s["stageId"]] = s
        return out

    def max_task_ms(self, stage: dict) -> float:
        q = self._get(f"stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=1.0")
        return float(q["executorRunTime"][0])


def job_stats(jobs: list[dict], stages: dict[int, dict], api: StatusApi | None = None,
              ) -> dict[str, float]:
    """Totals over the completed stages of `jobs` (each stage counted once)."""
    ids = {sid for j in jobs for sid in j["stageIds"] if sid in stages}
    st = [stages[i] for i in ids]
    out = {
        "jobs": len(jobs),
        "shuffle_bytes": sum(s["shuffleWriteBytes"] for s in st),
        "spill_bytes": sum(s["diskBytesSpilled"] for s in st),
        "gc_s": sum(s["jvmGcTime"] for s in st) / 1000.0,
    }
    if api is not None:
        # task-time skew: what the stages would take if their slowest task
        # set the pace, over what they take if tasks were perfectly even
        # (sum of per-stage max over sum of per-stage mean task time)
        worst = mean = 0.0
        for s in st:
            if s["numCompleteTasks"] > 1 and s["executorRunTime"] > 0:
                worst += api.max_task_ms(s)
                mean += s["executorRunTime"] / s["numCompleteTasks"]
        out["task_skew"] = worst / mean if mean else 1.0
    return out


def write_spans(path: str, tracer: Tracer) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(tracer.spans, fh, indent=1)


def descendants(root: int) -> list[int]:
    """Pids of every live process below `root`."""
    children = _children()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    return children


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by `root` and its descendants, counting
    the children they have already reaped (Python workers that exited)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def host_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) since boot, from /proc/stat: the time the
    hypervisor ran other guests on this machine's virtual CPUs."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _tree_rss_bytes(root: int) -> int:
    """Resident memory of `root` and its descendants, each shared page
    counted once: the sum of their proportional set sizes (Pss). Summing
    plain RSS would count the pages the Python workers share with the
    daemon they fork from once per worker, so the figure would swing
    with how many idle workers happen to be alive."""
    total = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                total += next(int(line.split()[1]) for line in fh
                              if line.startswith("Pss:")) * 1024
        except (OSError, StopIteration):
            pass
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    Spark driver JVM and its Python workers), sampled on a thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
