"""The benchmark's own tests: the smoke mode end to end, the refusal to run
without the program, the clean-up of every process a run starts, and the
helpers whose arithmetic the metrics rest on.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import queries  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def test_smoke_runs_every_workload_and_check():
    proc = subprocess.run([sys.executable, "perfbench/run.py", "--smoke"],
                          cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    res = json.loads(proc.stdout)
    assert set(res) == set(run.WORKLOADS)
    for r in res.values():
        assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    # the traced workload reports every per-layer metric (only the smoke
    # query subset for the per-query ones), each with its declared unit
    skipped = {q for q in queries.QUERIES if q not in queries.SMOKE_QUERIES}
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]
            if m["name"].split(".")[1] not in skipped}
    got = res["extract_full"]["metrics"]
    assert {k: got[k]["unit"] for k in want if k in got} == want
    assert set(want) <= set(got)
    e2e = res["query_suite"]["metrics"]
    assert {m["name"] for m in SPEC["end_to_end"]} == set(e2e)
    assert all(v["value"] > 0 for v in e2e.values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "data"))
    proc = subprocess.run(
        SPEC["command"] + ["--workload", "extract_full", "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


STOP_SCRIPT = """
import multiprocessing, os, subprocess, sys
from multiprocessing import resource_tracker
sys.path.insert(0, sys.argv[1])
import run
run.adopt_descendants()
# an orphan in its own session, as the Spark worker daemon becomes
orphan = int(subprocess.run(
    ["sh", "-c", "setsid sleep 600 >/dev/null 2>&1 & echo $!"],
    capture_output=True, text=True).stdout)
with multiprocessing.get_context("spawn").Pool(1) as pool:
    pool.map(abs, [1])
tracker = resource_tracker._resource_tracker._pid
run.stop_descendants(grace=5)
print([p for p in (orphan, tracker) if os.path.exists(f"/proc/{p}")])
"""


def test_stop_descendants_ends_orphans_and_the_resource_tracker():
    proc = subprocess.run([sys.executable, "-c", STOP_SCRIPT, str(HERE)],
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip() == "[]"


def test_declared_units_match_printed_units():
    for m in SPEC["per_layer"]:
        assert run.unit(m["name"]) == m["unit"], m["name"]


def test_job_time_is_the_union_of_job_intervals():
    stats = {"jobs": [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.5, 5.7)]}
    assert harness.job_time(stats) == 4.0
    assert harness.job_time({"jobs": []}) == 0.0


def test_rows_digest_ignores_row_order_but_not_values():
    a = [("u1", "text", 3, None), ("u2", "", 0, "CORRECT")]
    assert harness.rows_digest(a) == harness.rows_digest(a[::-1])
    assert harness.rows_digest(a) != harness.rows_digest(
        [("u1", "text", 4, None), a[1]])


def test_max_over_median():
    assert harness.max_over_median([1, 2, 3, 10]) == 4.0
    assert harness.max_over_median([]) == 0.0


def test_unregistered_query_raises():
    try:
        queries.resolve(["r11_sum_agg", "no_such_query"])
    except KeyError as e:
        assert "no_such_query" in str(e)
    else:
        raise AssertionError("an unknown query name must raise")
