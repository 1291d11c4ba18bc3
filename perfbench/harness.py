"""Measurement plumbing shared by the workloads: spans, Spark's own stage
metrics, WARN counts from the captured driver log, and session lifecycle.

Nothing here changes what the program computes. Spans are recorded around
calls into the program's public functions, kept in memory and written out
when the run ends; Spark metrics are read from the driver's status store
after a call returns, so reading them never lands inside a timed window.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

from py4j.protocol import Py4JJavaError

# WARN lines the operators layer is known to emit; each becomes a count.
WARN_PATTERNS = {
    "warn_cached_twice": b"Asked to cache already cached data",
    "warn_large_task_binary": b"Broadcasting large task binary",
    "warn_single_partition_window":
        b"No Partition Defined for Window operation",
}


class Tracer:
    """In-memory spans: name, start, end, parent, run id. With
    ``enabled=False`` a span only measures its wall. ``cost`` adds up the
    time spent on span bookkeeping, so a traced call's wall can be set
    against the same call without it."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.cost = 0.0
        self._stack: list[int] = []

    def span(self, name: str):
        return _Span(self, name)

    def add(self, name: str, start: float, end: float,
            parent: int | None) -> int:
        self.spans.append({"id": len(self.spans), "name": name,
                           "start": start, "end": end, "parent": parent,
                           "run_id": self.run_id})
        return len(self.spans) - 1

    def write(self, path: Path) -> None:
        if self.enabled:
            path.write_text(json.dumps(self.spans))


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name
        self.id: int | None = None
        self.wall = 0.0

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            c0 = time.perf_counter()
            self.id = t.add(self.name, 0.0, 0.0,
                            t._stack[-1] if t._stack else None)
            t._stack.append(self.id)
            t.cost += time.perf_counter() - c0
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        t1 = time.time()
        self.wall = t1 - self.t0
        t = self.tracer
        if t.enabled:
            c0 = time.perf_counter()
            t._stack.pop()
            t.spans[self.id].update(start=self.t0, end=t1)
            t.cost += time.perf_counter() - c0
        return False


@dataclass
class Run:
    """One benchmark process: its session, settings and what it measured.
    ``layers`` holds the per-layer metrics; ``problems`` every failed
    output check outside a timed call (any entry makes the run incorrect).
    """
    spark: object
    cores: int
    seed: int
    seconds: int
    smoke: bool
    trace: bool
    tracer: "Tracer"
    stats: "SparkStats"
    warns: "WarnLog"
    work: Path
    layers: dict = field(default_factory=dict)
    problems: list = field(default_factory=list)

    def note(self, problem: str) -> None:
        self.problems.append(problem)

    def label(self) -> str | None:
        """Tag the jobs of the next call (traced runs only)."""
        if not self.tracer.enabled:
            return None
        c0 = time.perf_counter()
        group = self.stats.label()
        self.tracer.cost += time.perf_counter() - c0
        return group

    def collect(self, group: str | None, span) -> dict:
        """Spark metrics of a labelled call, its jobs recorded as child
        spans of ``span``; the time this takes counts as tracing cost."""
        if group is None:
            return {"jobs": [], "stages": []}
        c0 = time.perf_counter()
        stats = self.stats.collect(group)
        for start, end in stats["jobs"]:
            self.tracer.add("spark.job", start, end, span.id)
        self.tracer.cost += time.perf_counter() - c0
        return stats


class SparkStats:
    """Stage and job metrics for one labelled call, read from the driver's
    status store (live even with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsc.sc().statusStore()
        self._n = 0

    def label(self) -> str:
        """Tag the jobs of the next call; read them back with ``collect``."""
        self._n += 1
        group = f"bench-{self._n}"
        self.sc.setJobGroup(group, group)
        return group

    def collect(self, group: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = sorted(tracker.getJobIdsForGroup(group))
        self.sc.setJobGroup("bench-idle", "bench-idle")
        intervals, stage_ids = [], set()
        for jid in jobs:
            jd = self.store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1000.0,
                                  done.get().getTime() / 1000.0))
            info = tracker.getJobInfo(jid)
            stage_ids.update(info.stageIds if info else ())
        stages = []
        for sid in sorted(stage_ids):
            try:
                sd = self.store.lastStageAttempt(sid)
            except Py4JJavaError:   # skipped stage: never ran, no record
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            stages.append(self._stage(sd))
        return {"jobs": intervals, "stages": stages}

    def _stage(self, sd) -> dict:
        durations, nonempty = [], 0
        tasks = self.store.taskList(sd.stageId(), sd.attemptId(),
                                    sd.numTasks() + 16)
        for i in range(tasks.size()):
            td = tasks.apply(i)
            if td.duration().isDefined():
                durations.append(td.duration().get())
            tm = td.taskMetrics()
            if tm.isDefined():
                rd = tm.get().shuffleReadMetrics()
                if rd.recordsRead() > 0:
                    nonempty += 1
        return {
            "id": sd.stageId(), "tasks": sd.numTasks(),
            "input_bytes": sd.inputBytes(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "task_ms": durations, "nonempty_tasks": nonempty,
        }


def job_time(stats: dict) -> float:
    """Seconds covered by the union of a call's Spark job intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(stats["jobs"]):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def stage_sum(stats: dict, key: str) -> int:
    return sum(s[key] for s in stats["stages"])


def shuffle_stage(stats: dict) -> dict | None:
    """The widest stage that reads a shuffle: the post-exchange stage."""
    readers = [s for s in stats["stages"] if s["shuffle_read_bytes"] > 0]
    return max(readers, key=lambda s: s["tasks"]) if readers else None


def max_over_median(values) -> float:
    values = list(values)
    if not values:
        return 0.0
    med = statistics.median(values)
    return max(values) / med if med > 0 else 0.0


class WarnLog:
    """Counts WARN patterns in the driver log between two marks. The
    JVM writes its log4j console output to the stderr it inherited,
    which ``run.py`` points at this file before the JVM starts."""

    def __init__(self, path: Path):
        self.path = path

    def mark(self) -> int:
        return self.path.stat().st_size

    def counts(self, since: int) -> dict[str, int]:
        with open(self.path, "rb") as f:
            f.seek(since)
            text = f.read()
        return {k: text.count(p) for k, p in WARN_PATTERNS.items()}


def peak_rss_mib(root_pid: int) -> float:
    """Peak RSS (VmHWM) summed over a process and all its descendants:
    the JVM plus its Python worker daemon and workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    total_kib, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kib += int(line.split()[1])
        except OSError:
            continue
    return total_kib / 1024.0


def rows_digest(rows) -> str:
    """Order-insensitive digest of value tuples."""
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


def tree_size(path: Path) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``path``, Spark's
    checksum and marker files excluded."""
    nbytes = nfiles = 0
    for p in path.rglob("*"):
        if p.is_file() and not p.name.startswith((".", "_")):
            nbytes += p.stat().st_size
            nfiles += 1
    return nbytes, nfiles


def build_session(cores: int):
    """Build the program's session and run its first jobs: one starts the
    Python worker daemon, one plans and runs a small join and aggregate.
    Returns (spark, start_s, first_job_s)."""
    from ocr_platform_spark.session import build_spark

    t0 = time.time()
    spark = build_spark("perfbench", cores=cores)
    t1 = time.time()
    spark.range(0, 4 * cores, 1, cores).mapInPandas(
        lambda it: it, "id long").collect()
    ids = spark.range(0, 1000)
    (ids.join(spark.range(0, 100), "id")
     .groupBy((ids.id % 7).alias("k")).count().collect())
    return spark, t1 - t0, time.time() - t1


def stop_session(spark) -> None:
    """Stop Spark and the gateway JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()     # the gateway JVM exits on EOF
        proc.wait(timeout=60)
