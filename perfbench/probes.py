"""Measurement helpers that sit outside the program: host pinning and noise
record, process-tree RSS sampling, Spark status-store snapshots and the
span tracer used by the traced run."""

from __future__ import annotations

import json
import os
import threading
import time
from collections.abc import Callable
from contextlib import contextmanager


def pin_host(work_dir: str) -> dict:
    """Pin Spark to this host before the program's session module is
    imported (it reads ``SPARK_GRAFT_CPUS`` at import). Every scratch path
    the JVM, Spark and the Python workers write goes under ``work_dir``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the session default (48g) does not fit a small host; the driver is
    # also the only executor in local mode
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # JVM scratch files (native-library extraction, perf data) too; an
    # environment option leaves the session's own JVM options in force
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return {"cpus": cpus, "tmp": tmp, "local": local}


def session_conf(work_dir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def cpu_jiffies() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d)
    return 100.0 * d[7] / total if total > 0 else 0.0


def source_revision(root: str) -> str | None:
    """Commit SHA of ``root`` when it is a git checkout, else None."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and its descendants,
    including descendants that already exited and were waited for."""
    ticks = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """Samples the resident set of this process and all its descendants
    (the JVM and the Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(_rss_kb(pid) for pid in _tree())
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def status_snapshot(spark) -> tuple[list[dict], list[dict]]:
    """All jobs and stages in the driver's status store, as plain dicts
    (times in epoch seconds). One JSON round trip through the JVM."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper.registerModule(scala_module.__getattr__("MODULE$"))
    no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
    )
    out_jobs = [
        {
            "id": j["jobId"],
            "start": (j.get("submissionTime") or 0) / 1000.0,
            "end": (j.get("completionTime") or 0) / 1000.0,
            "stage_ids": j.get("stageIds", []),
        }
        for j in jobs
    ]
    out_stages = [
        {
            "id": s["stageId"],
            "status": s["status"],
            "start": (s.get("submissionTime") or 0) / 1000.0,
            "tasks": s.get("numTasks", 0),
            "failed_tasks": s.get("numFailedTasks", 0),
            "run_s": s.get("executorRunTime", 0) / 1000.0,
            "cpu_s": s.get("executorCpuTime", 0) / 1e9,
            "shuffle_write_mb": s.get("shuffleWriteBytes", 0) / 1e6,
            "spill_mb": (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 1e6,
        }
        for s in stages
    ]
    return out_jobs, out_stages


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


def spark_delta(jobs: list[dict], stages: list[dict], start: float, end: float) -> dict:
    """Status-store work submitted inside ``[start, end]`` (epoch s)."""
    in_jobs = [j for j in jobs if start <= j["start"] <= end]
    ran = [
        s
        for s in stages
        if start <= s["start"] <= end and s["status"] in ("COMPLETE", "FAILED")
    ]
    busy = _union_length(
        [(j["start"], min(j["end"] or end, end)) for j in in_jobs]
    )
    return {
        "jobs": len(in_jobs),
        "stages": len(ran),
        "tasks": sum(s["tasks"] for s in ran),
        "failed_tasks": sum(s["failed_tasks"] for s in ran),
        "job_busy_s": busy,
        "executor_run_s": sum(s["run_s"] for s in ran),
        "executor_cpu_s": sum(s["cpu_s"] for s in ran),
        "shuffle_write_mb": sum(s["shuffle_write_mb"] for s in ran),
        "spill_mb": sum(s["spill_mb"] for s in ran),
    }


class Tracer:
    """In-memory spans around calls into the program's public functions.

    A span has a name, start, end (epoch s), parent span id and the run
    id. Wrapping is done by replacing module or class attributes, which
    the program looks up at call time; ``restore`` puts them back. When
    disabled every method is a no-op, so the untraced run pays nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        stack = self._stack()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": stack[-1] if stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        stack.append(rec["id"])
        self.bookkeeping_s += time.perf_counter() - b0
        try:
            yield rec
        finally:
            b1 = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            self.bookkeeping_s += time.perf_counter() - b1

    def wrap(self, owner: object, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig: Callable = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its child spans
        cover (children of one span do not overlap; they share a thread)."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and s["end"] is not None]

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans, **extra}, fh)
