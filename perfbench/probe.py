"""What the benchmark reads about a run from outside the package: process
memory from /proc, Spark jobs, stages, shuffle and spill from the status
store, Catalyst phase times from a query's tracker, the physical plan's
scan route, and the provenance stamped on every run."""

from __future__ import annotations

import os
import platform
import subprocess
import threading
import time
from pathlib import Path

from py4j.protocol import Py4JJavaError


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
        except (FileNotFoundError, ProcessLookupError):
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class RssSampler:
    """Samples the summed resident set of a process tree (the driver JVM and
    the Python workers it forks) every `period` seconds on a thread."""

    def __init__(self, pid: int, period: float = 0.05):
        self.pid, self.period = pid, period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _descendants(self.pid))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class JobGroup:
    """Labels the Spark jobs started inside the block with one job group and
    reads their jobs, stages, shuffle-write and spill bytes afterwards from
    the status store (populated with the UI off)."""

    PROPS = ("spark.jobGroup.id", "spark.job.description")

    def __init__(self, spark, label: str):
        self.sc = spark.sparkContext
        self.group = f"{label}-{time.perf_counter_ns()}"
        self.label = label

    def __enter__(self):
        # saved so that a group inside another hands the outer one back
        self.outer = [self.sc.getLocalProperty(k) for k in self.PROPS]
        self.sc.setJobGroup(self.group, self.label)
        return self

    def __exit__(self, *exc):
        for k, v in zip(self.PROPS, self.outer):
            self.sc.setLocalProperty(k, v)

    def stats(self) -> dict[str, int]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(self.group)
        stages = sorted({s for j in jobs for s in tracker.getJobInfo(j).stageIds})
        shuffle = spill = 0
        for s in stages:
            try:
                sd = store.lastStageAttempt(s)
            except Py4JJavaError:  # a stage skipped by AQE has no attempt
                continue
            shuffle += sd.shuffleWriteBytes()
            spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return {"jobs": len(jobs), "stages": len(stages),
                "shuffle_bytes": shuffle, "spill_bytes": spill}


def plan_phases(df) -> tuple[dict[str, float], str]:
    """Plan `df` (no execution) and return its Catalyst phase times in
    seconds and the physical plan text."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        ph = phases.get(name)
        out[name] = ph.get().durationMs() / 1000.0 if ph.isDefined() else 0.0
    return out, plan


def check_route(plan: str, route: str) -> None:
    """Raise unless the physical plan scans by the expected route:
    'text' = the JVM text scan plus the hash-spread exchange of raw lines,
    'bgzf' = the block-parallel BGZF Arrow source with no text scan."""
    text = "FileScan text" in plan and "xxhash64(value" in plan
    bgzf = "MapInArrow" in plan and "FileScan text" not in plan
    if (route == "text" and not text) or (route == "bgzf" and not bgzf):
        raise RuntimeError(f"scan route is not {route!r}:\n{plan[:4000]}")


def provenance(spark, root: Path, seed: int, fixture_sha: dict) -> dict:
    sc = spark.sparkContext
    head = "unknown"
    git = root / ".git" / "HEAD"
    if git.exists():
        ref = git.read_text().strip()
        if ref.startswith("ref: "):
            p = root / ".git" / ref[5:]
            head = p.read_text().strip() if p.exists() else ref[5:]
        else:
            head = ref
    java = sc._jvm.java.lang.System.getProperty("java.version")
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "pyspark": __import__("pyspark").__version__,
        "java": java,
        "python": platform.python_version(),
        "git_head": head,
        "seed": seed,
        "fixture_sha256": fixture_sha,
    }


def loadavg() -> list[float]:
    return list(os.getloadavg()[:2])


def host_speed() -> float:
    """Best of three walls of a fixed single-threaded loop: a reading of how
    fast the host runs at the moment, to tell a slow host from slow code."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        x = 0
        for i in range(2_000_000):
            x += i * i
        best = min(best, time.perf_counter() - t)
    return best


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM (and with it
    every Python worker it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    tree = _descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    # The workers are the JVM's children, not ours: poll until they are gone.
    deadline = time.monotonic() + 30
    while any(os.path.exists(f"/proc/{p}") for p in tree[1:]):
        if time.monotonic() > deadline:
            raise RuntimeError(f"Spark worker processes outlived the JVM: {tree[1:]}")
        time.sleep(0.05)
    SparkContext._gateway = None
    SparkContext._jvm = None
