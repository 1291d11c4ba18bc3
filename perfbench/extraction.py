"""The ``extract_full`` workload and the extraction-side layer probes.

One timed call is the user's job: ``run_extraction_job`` over a freshly
staged pages parquet into an empty directory (scan -> (bucket, salt)
exchange -> ``mapInPandas`` kernel -> bucket-partitioned parquet ->
manifest). Every call's output is checked outside the timed window
against the pure-Python ``extract_document`` over the same seeded docs.

The traced run adds the layer ladder (scan, Arrow round trip, kernel,
exchange), the write/manifest probes, the resume job (a seeded 1/8 of
the buckets left pending) and the in-process per-stage kernel profile.
"""

from __future__ import annotations

import multiprocessing
import random
import shutil
import statistics
import time
from collections import Counter
from pathlib import Path

from harness import (Run, job_time, max_over_median, rows_digest,
                     shuffle_stage, stage_sum, tree_size)

PENDING_SHARE = 8     # the resume probe leaves 1/8 of the buckets pending
CHECK_COLS = ("url", "extracted_text", "total_words", "failed_stage")


def sizes(smoke: bool) -> dict:
    """Docs per timed call, docs in the query-side probe, the in-process
    kernel sample, and the bucket count (the job's default, 64, except in
    smoke mode)."""
    if smoke:
        return {"docs": 300, "probe_docs": 300, "sample": 40, "buckets": 8}
    return {"docs": 10000, "probe_docs": 1500, "sample": 400, "buckets": 64}


def n_buckets(run: Run) -> int:
    return sizes(run.smoke)["buckets"]


# ---------------------------------------------------------------- reference

def _ref_chunk(args):
    """Pure-Python oracle for docs [lo, hi): per-doc check tuples and the
    html byte count. Runs in a spawned worker."""
    from ocr_platform_spark.datagen import gen_document
    from ocr_platform_spark.extract import extract_document

    lo, hi, seed = args
    rows, nbytes = [], 0
    for i in range(lo, hi):
        d = gen_document(i, seed)
        nbytes += len(d["html"])
        r = extract_document(d["url"], d["html"])
        rows.append((r.url, r.extracted_text, r.total_words, r.failed_stage))
    return rows, nbytes


def reference(n: int, seed: int, workers: int) -> tuple[str, int]:
    """(digest of the check columns, input html bytes) for docs 0..n-1."""
    step = -(-n // (4 * workers))
    chunks = [(lo, min(lo + step, n), seed) for lo in range(0, n, step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(workers) as pool:
        parts = pool.map(_ref_chunk, chunks)
    rows = [r for part, _ in parts for r in part]
    return rows_digest(rows), sum(b for _, b in parts)


# ---------------------------------------------------------------- helpers

def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _output_rows(spark, out: Path):
    t = spark.read.parquet(str(out)).select(*CHECK_COLS).toArrow()
    return list(zip(*(t.column(c).to_pylist() for c in CHECK_COLS)))


def _manifest_rows(spark, out: Path) -> list[dict]:
    from ocr_platform_spark.sources.manifest import manifest_path

    return spark.read.parquet(manifest_path(str(out))).toArrow().to_pylist()


def _bucket_dirs(out: Path) -> set[int]:
    """Buckets present in a ``partitionBy("bucket")`` output directory."""
    return {int(d.name.split("=", 1)[1]) for d in out.glob("bucket=*")}


def _remove(out: Path) -> None:
    from ocr_platform_spark.sources.manifest import manifest_path

    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(manifest_path(str(out)), ignore_errors=True)


def check_output(spark, out: Path, n: int, ref_digest: str) -> list[str]:
    """Never-drop, one manifest row per bucket, sum(docs_in) == docs,
    and the value hash of the check columns equals the oracle's."""
    problems = []
    rows = _output_rows(spark, out)
    if len(rows) != n:
        problems.append(f"output has {len(rows)} rows, want {n}")
    manifest = _manifest_rows(spark, out)
    per_bucket = Counter(m["bucket"] for m in manifest)
    if set(per_bucket) != _bucket_dirs(out) or any(
            c != 1 for c in per_bucket.values()):
        problems.append("manifest is not exactly one row per bucket")
    if sum(m["docs_in"] for m in manifest) != n:
        problems.append("manifest sum(docs_in) != docs")
    if rows_digest(rows) != ref_digest:
        problems.append("output hash differs from extract_document")
    return problems


# ---------------------------------------------------------------- workload

def stage_pages(run: Run, n: int, name: str) -> Path:
    from ocr_platform_spark.sources.pages import write_pages

    path = run.work / name
    write_pages(run.spark, n, str(path), seed=run.seed,
                partitions=2 * run.cores)
    return path


def full_job(run: Run, pages: Path, out: Path):
    from ocr_platform_spark.plans.extract_job import run_extraction_job
    from ocr_platform_spark.sources.pages import read_pages

    run_extraction_job(run.spark, read_pages(run.spark, str(pages)),
                       str(out), n_buckets=n_buckets(run))


def extract_full(run: Run) -> dict:
    """Stage the seeded pages, then time the job: the first call in this
    driver, so nothing it computes was warmed by an earlier call."""
    n = sizes(run.smoke)["docs"]
    t0 = time.time()
    pages = stage_pages(run, n, "pages")
    stage_s = time.time() - t0

    walls, outputs, raised = [], [], 0
    cost0, t_start = run.tracer.cost, time.time()
    while not walls and not raised or time.time() - t_start < run.seconds:
        out = run.work / f"out{len(walls) + raised}"
        group = run.label()
        try:
            with run.tracer.span("extract_full.call") as sp:
                full_job(run, pages, out)
        except Exception as e:   # a raising call counts as failed
            run.note(f"call raised: {e!r}")
            raised += 1
            _remove(out)
            continue
        walls.append(sp.wall)
        outputs.append(out)
        stats = run.collect(group, sp)
        if run.trace:
            run.layers["bench.unexplained_s"] = sp.wall - job_time(stats)
    cost = run.tracer.cost - cost0

    ref_digest, in_bytes = reference(n, run.seed, run.cores)
    failed = raised
    for i, out in enumerate(outputs):
        problems = check_output(run.spark, out, n, ref_digest)
        if problems:
            failed += 1
            run.note(f"call {i}: " + "; ".join(problems))
        if i < len(outputs) - 1:
            _remove(out)
    if run.trace and walls:
        run.layers["bench.trace_overhead"] = 1 + cost / sum(walls)
        run.layers["bench.docs_per_s"] = n / statistics.median(walls)
        extraction_layers(run, pages, outputs[-1], n, in_bytes, ref_digest,
                          statistics.median(walls))
    if outputs:
        _remove(outputs[-1])
    return {"walls": walls, "failed": failed,
            "attempted": len(walls) + raised, "stage_s": stage_s}


# ---------------------------------------------------------------- layers

def _timed(run: Run, name: str, fn):
    """Run ``fn`` inside a span with its jobs labelled; return
    (wall, spark stats)."""
    group = run.label()
    with run.tracer.span(name) as sp:
        fn()
    return sp.wall, run.collect(group, sp)


def extraction_layers(run: Run, pages: Path, full_out: Path, n: int,
                      in_bytes: int, ref_digest: str,
                      job_wall: float) -> None:
    """Every sources / plans / extract metric, from probes over ``pages``
    and the complete output ``full_out`` of one full job over it."""
    from ocr_platform_spark.plans.extract_job import (
        extract_pages, with_bucket)
    from ocr_platform_spark.sources.manifest import (
        build_manifest, manifest_path, write_with_manifest)
    from ocr_platform_spark.sources.pages import read_pages

    spark, L = run.spark, run.layers

    def src():
        return read_pages(spark, str(pages))

    # the ladder: scan < + Arrow round trip < + kernel < + exchange
    scan, _ = _timed(run, "sources.scan", lambda: _noop(src()))
    cols = with_bucket(src(), n_buckets(run)).select(
        "url", "html", "lang", "bucket")
    ident, _ = _timed(run, "plans.arrow_roundtrip", lambda: _noop(
        cols.mapInPandas(lambda it: it, cols.schema)))
    local, _ = _timed(run, "plans.extract_local", lambda: _noop(
        extract_pages(src(), n_buckets(run), shuffle=False)))
    shuf, st = _timed(run, "plans.extract_exchange", lambda: _noop(
        extract_pages(src(), n_buckets(run))))
    L["sources.scan_s"] = scan
    L["plans.arrow_roundtrip_s"] = ident - scan
    L["plans.kernel_s"] = local - ident
    L["plans.exchange_s"] = shuf - local
    L["plans.shuffle_write_bytes"] = stage_sum(st, "shuffle_write_bytes")
    L["plans.shuffle_read_bytes"] = stage_sum(st, "shuffle_read_bytes")
    L["plans.spill_bytes"] = stage_sum(st, "spill_bytes")
    kernel = shuffle_stage(st)
    L["plans.task_max_over_median"] = max_over_median(
        kernel["task_ms"] if kernel else ())

    # output and manifest of the complete job
    manifest = _manifest_rows(spark, full_out)
    out_bytes, out_files = tree_size(full_out)
    man_bytes, man_files = tree_size(Path(manifest_path(str(full_out))))
    L["sources.out_bytes"] = out_bytes + man_bytes
    L["sources.out_files"] = out_files + man_files
    L["bench.out_bytes_per_in_byte"] = (out_bytes + man_bytes) / in_bytes
    L["plans.bucket_cost_skew"] = max_over_median(
        m["cost_ms"] for m in manifest)
    L["extract.kernel_cpu_s"] = sum(m["cost_ms"] for m in manifest) / 1e3
    for key in ("bytes_parsed", "blocks_kept", "blocks_dropped",
                "docs_failed"):
        L[f"extract.{key}"] = sum(m[key] for m in manifest)
    L["extract.ok_frac"] = 1.0 - L["extract.docs_failed"] / n

    # write + manifest over an already extracted table: the full job's
    # own output, read back from disk
    wout = run.work / "write_probe"
    L["sources.write_manifest_s"], _ = _timed(
        run, "sources.write_with_manifest", lambda: write_with_manifest(
            spark.read.parquet(str(full_out)), str(wout), "probe"))
    L["sources.manifest_build_s"], _ = _timed(
        run, "sources.build_manifest", lambda: build_manifest(
            spark.read.parquet(str(wout)), "probe").collect())
    _remove(wout)

    resume_layers(run, pages, full_out, manifest, ref_digest)
    kernel_profile(run, sizes(run.smoke)["sample"])
    L["plans.plumbing_eff"] = (n / job_wall) / (
        run.cores * L["extract.docs_per_s_1core"])


def resume_layers(run: Run, pages: Path, full_out: Path,
                  manifest: list[dict], ref_digest: str) -> None:
    """Resume against an output whose other 7/8 of buckets are already
    manifested: the pending probe, then the resume job and its checks."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from ocr_platform_spark.plans.extract_job import with_bucket
    from ocr_platform_spark.sources.manifest import (
        manifest_path, pending_buckets)
    from ocr_platform_spark.sources.pages import read_pages

    spark, L = run.spark, run.layers
    buckets = sorted({m["bucket"] for m in manifest})
    pending = set(random.Random(run.seed).sample(
        buckets, max(1, len(buckets) // PENDING_SHARE)))
    out = run.work / "resume"
    out.mkdir()
    for b in _bucket_dirs(full_out) - pending:
        shutil.copytree(full_out / f"bucket={b}", out / f"bucket={b}")
    mdir = Path(manifest_path(str(out)))
    mdir.mkdir()
    pq.write_table(pa.Table.from_pylist(
        [m for m in manifest if m["bucket"] not in pending],
        schema=pq.read_schema(next(
            Path(manifest_path(str(full_out))).glob("*.parquet")))),
        mdir / "part-00000-base.parquet")

    found: list[int] = []
    todo = with_bucket(read_pages(spark, str(pages)), n_buckets(run))
    L["sources.pending_s"], _ = _timed(
        run, "sources.pending_buckets", lambda: found.extend(
            r["bucket"] for r in pending_buckets(spark, todo, str(out))
            .select("bucket").distinct().collect()))
    if set(found) != pending:
        run.note("pending_buckets disagrees with the seeded pending set")

    wall, st = _timed(run, "sources.resume_job",
                      lambda: full_job(run, pages, out))
    L["sources.resume_s"] = wall
    L["sources.manifest_scan_bytes"] = tree_size(out)[0]
    kernel = shuffle_stage(st)
    L["plans.tasks"] = kernel["tasks"] if kernel else 0
    L["plans.nonempty_task_frac"] = (
        kernel["nonempty_tasks"] / kernel["tasks"] if kernel else 0.0)

    new = Counter(m["bucket"] for m in _manifest_rows(spark, out))
    if set(new) != set(buckets) or any(c != 1 for c in new.values()):
        run.note("resume did not manifest each pending bucket exactly once")
    if rows_digest(_output_rows(spark, out)) != ref_digest:
        run.note("resumed output differs from the full job's")
    _remove(out)


def kernel_profile(run: Run, sample: int) -> None:
    """Single-core, in-process: ``extract_document`` throughput and the
    per-doc microseconds of each public stage function over a seeded
    sample. ``extract.residual_us`` is what the stages do not cover."""
    from ocr_platform_spark.datagen import gen_document
    from ocr_platform_spark.extract import (
        classify_blocks, extract_document, parse_blocks, segment_blocks)
    from ocr_platform_spark.extract.charset import decode_html
    from ocr_platform_spark.extract.pipeline import correct_text
    from ocr_platform_spark.functions.words import count_page_words

    rng = random.Random(run.seed)
    docs = [gen_document(rng.randrange(1 << 30), run.seed)
            for _ in range(sample)]
    for d in docs:   # first calls compile regexes and fill caches
        extract_document(d["url"], d["html"])
    clock = time.perf_counter
    stage = dict.fromkeys(
        ("decode", "normalize", "parse", "classify", "segment", "words"),
        0.0)
    whole = 0.0
    # per doc: the whole pipeline, then its stage functions in pipeline
    # order on the same doc, so both see the same cache state
    with run.tracer.span("extract.kernel_profile"):
        for d in docs:
            html = d["html"]
            t0 = clock()
            extract_document(d["url"], html)
            whole += clock() - t0
            if not html:
                continue
            t0 = clock()
            raw, _ = decode_html(html)
            t1 = clock()
            text = correct_text(raw)
            t2 = clock()
            stage["decode"] += t1 - t0
            stage["normalize"] += t2 - t1
            if not text.strip():
                continue
            blocks = parse_blocks(text)
            t3 = clock()
            stage["parse"] += t3 - t2
            if not blocks:
                continue
            labelled = classify_blocks(blocks)
            t4 = clock()
            seg = segment_blocks(labelled)
            t5 = clock()
            count_page_words(seg.body, seg.footnotes)
            t6 = clock()
            stage["classify"] += t4 - t3
            stage["segment"] += t5 - t4
            stage["words"] += t6 - t5
    for k, v in stage.items():
        run.layers[f"extract.{k}_us"] = v * 1e6 / sample
    run.layers["extract.residual_us"] = (whole - sum(stage.values())) \
        * 1e6 / sample
    run.layers["extract.docs_per_s_1core"] = sample / whole


def probe(run: Run) -> None:
    """Extraction layers for a workload that does not run the job itself:
    stage a small pages table, run one full job, then probe it."""
    n = sizes(run.smoke)["probe_docs"]
    pages = stage_pages(run, n, "probe_pages")
    out = run.work / "probe_out"
    job_wall, _ = _timed(run, "extract_full.probe_job",
                         lambda: full_job(run, pages, out))
    ref_digest, in_bytes = reference(n, run.seed, run.cores)
    for p in check_output(run.spark, out, n, ref_digest):
        run.note(f"probe job: {p}")
    run.layers["bench.docs_per_s"] = n / job_wall
    extraction_layers(run, pages, out, n, in_bytes, ref_digest, job_wall)
    _remove(out)
