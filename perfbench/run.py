"""Benchmark of record for the extraction engine.

    python3 perfbench/run.py --workload extract_full --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke      # every workload, tiny, with checks

Run from the root of a checkout. Everything the run writes (staged
inputs, Spark scratch, outputs, the captured driver log and the span
file) goes under ``.bench_work/`` in that checkout. The last line on
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
metrics). See README.md in this directory for what each number means.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("extract_full", "query_suite")
SETUP_SAMPLES = 3   # set-up is repeated and its median reported


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run every workload and check at tiny scale")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke is given")
    return args


def isolate(work: Path) -> Path:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and send this process's stderr (inherited by the JVM, whose
    log4j console output carries the WARN lines we count) to a log file.
    Returns the log path."""
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the program's driver-heap knob (default 8g): 2g is ample for these
    # inputs and keeps a run's peak RSS near 4 GiB on a shared machine
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={work / 'tmp'} "
        "pyspark-shell")
    os.chdir(work)   # derby.log and friends land here, not in the repo
    log = work / "driver.log"
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return log


def adopt_descendants() -> None:
    """Make this process the parent of every orphan among its descendants
    (Linux ``PR_SET_CHILD_SUBREAPER``). The Spark worker daemon detaches
    into its own session and the JVM's helpers outlive their parents;
    adopted, each stays visible to ``stop_descendants``. A termination
    signal becomes ``SystemExit`` so that every ``finally`` still runs."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:   # 36: PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")

    def leave(signum, _frame):
        raise SystemExit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGHUP, signal.SIGINT):
        signal.signal(sig, leave)


def descendants() -> list[int]:
    """Live processes below this one, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            children.setdefault(int(fields[1]), []).append(int(entry))
    found, todo = [], list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(children.get(pid, ()))
    return found


def stop_descendants(grace: float = 20.0) -> None:
    """Stop every process this run started, directly or not, and wait
    until each has ended: the multiprocessing resource tracker exits when
    its pipe closes; the rest get SIGTERM, and SIGKILL after ``grace``."""
    from multiprocessing import resource_tracker

    resource_tracker._resource_tracker._stop()
    deadline = time.monotonic() + grace
    termed: set[int] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] != 0:
                pass
        except ChildProcessError:
            return   # no child left, not even a zombie
        late = time.monotonic() > deadline
        for pid in descendants():
            if late or pid not in termed:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                termed.add(pid)
        time.sleep(0.05)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def run_workload(name: str, args, log: Path, out) -> dict:
    """Set up, run one workload, tear down. Returns the result object."""
    import extraction
    import queries
    from harness import (Run, SparkStats, Tracer, WarnLog, build_session,
                         peak_rss_mib, stop_session)
    from pyspark import SparkContext

    work = WORK / "run"
    work.mkdir(exist_ok=True)
    n = cores()
    spark, start_s, first_s = build_session(n)
    jvm_pid = SparkContext._gateway.proc.pid
    tracer = Tracer(f"{name}-{args.seed}", enabled=bool(args.trace))
    run = Run(spark=spark, cores=n, seed=args.seed, seconds=args.seconds,
              smoke=args.smoke, trace=bool(args.trace), tracer=tracer,
              stats=SparkStats(spark), warns=WarnLog(log), work=work)
    setups = [start_s + first_s]
    try:
        res = {"extract_full": extraction.extract_full,
               "query_suite": queries.query_suite}[name](run)
        if run.trace:
            # every per-layer metric in every traced run: probe the
            # layers this workload's own calls do not reach
            (queries.probe if name == "extract_full"
             else extraction.probe)(run)
            L = run.layers
            L["session.start_s"], L["session.first_job_s"] = start_s, first_s
            L["session.peak_rss_mib"] = peak_rss_mib(jvm_pid)
            L["bench.stage_s"] = res["stage_s"]
            L["bench.error_rate"] = res["failed"] / res["attempted"]
        # more set-up samples, taken after the measured work so that the
        # restarts cannot disturb it; the JVM itself is launched once
        for _ in range(SETUP_SAMPLES - 1):
            spark.stop()
            spark, start_s, first_s = build_session(n)
            setups.append(start_s + first_s)
    finally:
        stop_session(spark)
        tracer.write(WORK / f"trace-{tracer.run_id}.json")
        shutil.rmtree(work, ignore_errors=True)
    if run.problems:
        print("\n".join(f"check failed: {p}" for p in run.problems),
              file=out, flush=True)
    if run.trace:
        metrics = {k: {"value": v, "unit": unit(k)}
                   for k, v in sorted(run.layers.items())}
    else:
        metrics = {
            "wall_s": {"value": statistics.median(res["walls"])
                       if res["walls"] else 0.0, "unit": "s"},
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
        }
    return {"correct": not run.problems and res["failed"] == 0,
            "attempted": res["attempted"], "failed": res["failed"],
            "metrics": metrics}


def unit(name: str) -> str:
    if "per_s" in name:
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_us"):
        return "us"
    if name.endswith("_bytes") or name.startswith("extract.bytes"):
        return "B"
    if name.endswith("_mib"):
        return "MiB"
    if name.split(".")[-1] in ("tasks", "out_files", "leaked_rdds",
                               "blocks_kept", "blocks_dropped",
                               "docs_failed") or ".warn_" in name:
        return "count"
    return "ratio"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "ocr_platform_spark").is_dir():
        print(f"perfbench: no ocr_platform_spark package under {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    out = os.fdopen(os.dup(2), "w")   # the real stderr, before capture
    adopt_descendants()
    log = isolate(WORK)
    sys.path.insert(0, str(ROOT))
    try:
        if args.smoke:
            # traced extract_full reaches every layer probe (the operators
            # one included); untraced query_suite covers its own checks
            results = {}
            for w, trace in zip(WORKLOADS, (1, 0)):
                args.trace = trace
                results[w] = run_workload(w, args, log, out)
        else:
            result = run_workload(args.workload, args, log, out)
    except BaseException:
        out.write(log.read_text(errors="replace")[-6000:])
        raise
    finally:
        stop_descendants()
    if args.smoke:
        print(json.dumps(results, indent=1))
        return 0 if all(r["correct"] for r in results.values()) else 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
