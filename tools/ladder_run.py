"""Durable-write robustness ladder (BENCH/BASELINE.md series: 500k → 1M
→ 10M docs).

Runs the COMPLETE extraction job — synthesize (pure function of (seed,
index), zero input staging) → url-hash repartition on bucket →
extraction kernel → bucket-partitioned parquet write → per-bucket
manifests — at a target doc count, in WAVES: each invocation processes up
to ``--wave-buckets`` still-pending buckets in a FRESH JVM and exits, so
shuffle scratch is bounded by a wave's share of the corpus and freed when
the JVM stops (this box has one 79 GiB disk; a cluster runs one wave).
Every wave is the production resume path (D6) — nothing ladder-specific
runs on the data plane. Output parquet is zstd: the realistic archival
codec once a corpus passes ~10 GiB.

Usage:
    python tools/ladder_run.py DOCS OUT_DIR [--wave-buckets N]
                               [--buckets N] [--verify-only]

Loop the command until it prints LADDER DONE (each run = one wave), then
the final invocation verifies: row count == DOCS, manifest sum(docs_in)
== DOCS (zero dropped), flagged count, per-bucket cost_ms skew, spill.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    argv = sys.argv[1:]
    flags = {a for a in argv if a.startswith("--") and "=" not in a}
    kv = dict(a.lstrip("-").split("=", 1) for a in argv if "=" in a)
    pos = [a for a in argv if not a.startswith("--")]
    n_docs = int(pos[0])
    out_dir = pos[1]
    wave_buckets = int(kv.get("wave-buckets", 16))
    n_buckets = int(kv.get("buckets", 64))

    from ocr_platform_spark.plans.extract_job import run_extraction_job
    from ocr_platform_spark.session import build_spark
    from ocr_platform_spark.sources.manifest import manifest_path
    from ocr_platform_spark.sources.pages import pages_df

    spark = build_spark("ladder-run")
    spark.conf.set("spark.sql.parquet.compression.codec", "zstd")

    t0 = time.time()
    if "--verify-only" not in flags:
        run_extraction_job(
            spark, pages_df(spark, n_docs), out_dir,
            n_buckets=n_buckets, max_buckets=wave_buckets)
    wave_sec = round(time.time() - t0, 1)

    from pyspark.sql import functions as F

    m = spark.read.parquet(manifest_path(out_dir))
    stats = m.agg(
        F.countDistinct("bucket").alias("buckets_done"),
        F.sum("docs_in").alias("docs_in"),
        F.sum("docs_out").alias("docs_out"),
        F.sum("docs_failed").alias("flagged"),
        (F.max("cost_ms") / F.avg("cost_ms")).alias("cost_skew"),
    ).first().asDict()
    pending = n_buckets - stats["buckets_done"]
    report = {"wave_sec": wave_sec, "pending_buckets": pending, **stats}
    if pending == 0:
        rows = spark.read.parquet(out_dir).count()
        out_bytes = sum(p.stat().st_size
                        for p in Path(out_dir).rglob("*") if p.is_file())
        report.update({"rows_on_disk": rows, "output_gib":
                       round(out_bytes / 2**30, 2),
                       "all_rows_accounted": rows == stats["docs_in"]
                       == n_docs})
        print("LADDER DONE")
    print(json.dumps(report, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
