"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload extract_full --seeds 1-10 [--trace 0]

For every metric: median, quartiles (``statistics.quantiles(n=4)``) and
the inter-quartile distance as a share of the median, plus each run's
wall-clock time. Raw results are appended as JSON lines to the file
given by ``--out`` (default ``.bench_work-spread.jsonl``).
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=str(ROOT / ".bench_work-spread.jsonl"))
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    elapsed = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        elapsed.append(time.time() - t0)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed,
                                "elapsed_s": elapsed[-1], **res}) + "\n")
        print(f"seed {seed}: {elapsed[-1]:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items()
                         if not k.startswith("operators.")), flush=True)
        if not res["correct"]:
            return 1
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"run elapsed: median {statistics.median(elapsed):.1f}s "
          f"max {max(elapsed):.1f}s")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        share = (q3 - q1) / med if med else float("nan")
        print(f"{k:45s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}"
              f"  iqr/median {share:7.2%}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
