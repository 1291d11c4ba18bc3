"""The ``query_suite`` workload: ten registry queries, each cache-cold.

One timed call is one pass over the ten queries in a fixed order, each
built and collected with the cache cleared before it; the wall is the sum
of the ten query walls. The pass is the first in its driver, so no query
runs after an earlier call of itself, and every collected result is
checked against its DuckDB oracle outside the query's timed window.
"""

from __future__ import annotations

import time
from pathlib import Path

from harness import WARN_PATTERNS, Run, job_time, stage_sum

QUERIES = (
    "r08_join_fanout", "r11_sum_agg", "r19_pivot", "dd_minhash_lsh",
    "dd_keep_best", "wg_components", "ta_token_stats", "ev_sessionize_skew",
    "ta_cms_heavy_hitters", "cx_filter_funnel",
)
# smoke mode: one relational, one window/pivot and one text query
SMOKE_QUERIES = ("r11_sum_agg", "r19_pivot", "ta_token_stats")

# A copy of the repository's fixed sf0.01 test tables (the four these
# queries read), so the benchmark reads nothing outside its checkout.
DATA = Path(__file__).resolve().parent / "data" / "sf0.01"


def resolve(names) -> list[tuple[str, object]]:
    """Registry functions for ``names``; an unregistered name raises."""
    from ocr_platform_spark.operators import registry

    reg = registry.spark_queries()
    missing = [n for n in names if n not in reg]
    if missing:
        raise KeyError(f"queries not in the registry: {missing}")
    return [(n, reg[n]) for n in names]


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def make_cold(spark) -> None:
    """Drop every cached table and persisted RDD a query left behind."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def oracle_results(names) -> dict:
    """DuckDB oracle rows and column names for each query, over the same
    parquet tables."""
    import duckdb
    from ocr_platform_spark.operators import registry

    sql = registry.oracle_queries()
    con = duckdb.connect()
    try:
        for p in sorted(DATA.glob("*.parquet")):
            con.sql(f"CREATE VIEW {p.stem} AS SELECT * FROM "
                    f"read_parquet('{p}')")
        out = {}
        for name in names:
            rel = con.sql(sql[name])
            out[name] = ([d[0] for d in rel.description], rel.fetchall())
        return out
    finally:
        con.close()


def timed_pass(run: Run, fns, oracles) -> tuple[float, bool]:
    """One timed call: each query built and collected with the cache
    cleared first; the wall is the sum of the query walls. Each result
    is then checked against its oracle: same columns, same row multiset
    (the repository gate's value hash). Traced, each query also records
    its Spark stage metrics, leaked persisted RDDs and WARN counts."""
    from tools.check_oracles import row_multiset

    spark, L, ok, total = run.spark, run.layers, True, 0.0
    warns = dict.fromkeys(WARN_PATTERNS, 0)
    for name, fn in fns:
        make_cold(spark)
        group = run.label()
        mark = run.warns.mark() if run.trace else 0
        with run.tracer.span(f"operators.{name}") as sp:
            df = fn(spark, str(DATA))
            cols, rows = df.columns, df.collect()
        total += sp.wall
        if run.trace:
            st = run.collect(group, sp)
            p = f"operators.{name}"
            L[f"{p}.wall_s"] = sp.wall
            L[f"{p}.driver_s"] = sp.wall - job_time(st)
            L[f"{p}.shuffle_bytes"] = stage_sum(st, "shuffle_write_bytes")
            L[f"{p}.spill_bytes"] = stage_sum(st, "spill_bytes")
            L[f"{p}.leaked_rdds"] = persisted_rdds(spark)
            for k, v in run.warns.counts(mark).items():
                warns[k] += v
        dcols, drows = oracles[name]
        if sorted(cols) != sorted(dcols):
            run.note(f"{name}: columns {sorted(cols)} != {sorted(dcols)}")
            ok = False
        elif row_multiset(rows, cols) != row_multiset(drows, dcols):
            run.note(f"{name}: result differs from its DuckDB oracle")
            ok = False
    make_cold(spark)
    if run.trace:
        for k, v in warns.items():
            L[f"operators.{k}"] = v
        # driver-side time: query walls not covered by any Spark job
        L["operators.driver_s"] = sum(
            L[f"operators.{n}.driver_s"] for n, _ in fns)
    return total, ok


def query_suite(run: Run) -> dict:
    """The ten queries, each timed on its first execution in this driver."""
    fns = resolve(SMOKE_QUERIES if run.smoke else QUERIES)
    t0 = time.time()
    oracles = oracle_results([n for n, _ in fns])
    stage_s = time.time() - t0

    walls, attempted, failed = [], 0, 0
    cost0, t_start = run.tracer.cost, time.time()
    while not attempted or time.time() - t_start < run.seconds:
        attempted += 1
        try:
            wall, ok = timed_pass(run, fns, oracles)
        except Exception as e:   # a raising query fails its pass
            run.note(f"pass raised: {e!r}")
            failed += 1
            make_cold(run.spark)
            continue
        walls.append(wall)
        failed += not ok
    if run.trace and walls:
        run.layers["bench.trace_overhead"] = 1 + (
            run.tracer.cost - cost0) / sum(walls)
        run.layers["bench.unexplained_s"] = run.layers["operators.driver_s"]
    return {"walls": walls, "failed": failed, "attempted": attempted,
            "stage_s": stage_s}


def probe(run: Run) -> None:
    """Operators layers for a workload that does not run the suite: one
    traced, checked pass."""
    fns = resolve(SMOKE_QUERIES if run.smoke else QUERIES)
    timed_pass(run, fns, oracle_results([n for n, _ in fns]))
