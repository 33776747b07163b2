"""Workload ``extract``: seeded synthetic pages through the checkpointed
extraction runner (engine.resume.run_checkpointed) into a fresh
warehouse.

Timed: hot-host detection plus ``run_checkpointed``, from the first read
of the persisted pages to the last committed wave. The traced repetition
adds the runner's commit spans and, after the timed job, the ``job.*``
passes over the same persisted pages and a single-process kernel pass
with every kernel stage wrapped."""

from __future__ import annotations

import importlib
import os
import random
import time

from .common import Tracer, dir_stats, identity, jobs_in_group, noop

N_PAGES = 3000          # input pages per repetition
N_SAMPLE = 32           # urls re-extracted single-process for the byte check
N_KERNEL = 400          # pages in the traced single-process kernel pass
RUN_ID = "bench"

# kernel stage -> (module, function) entry points wrapped in the kernel
# pass; "self" is the time extract_document spends outside all of them
KERNEL_STAGES = {
    "decode": [("pipeline", "decode_html")],
    "segment": [("pipeline", "segment_blocks")],
    "density": [("density", "score_block")],
    "domtree": [("domtree", "classify_blocks")],
    "consensus": [("consensus", "merge_blocks"),
                  ("consensus", "candidate_score")],
    "rawtext": [("rawtext", "extract_rawtext")],
    "refine": [("refine", "refine_text")],
    "assemble": [("assemble", "assemble_text"),
                 ("assemble", "cleaning_stats"),
                 ("assemble", "layout_stats")],
    "cleanup": [("cleanup", "clean_text")],
    "regions": [("regions", "detect_figures"), ("regions", "merge_spans")],
    "script": [("script", "language_composition"),
               ("script", "language_segments"),
               ("script", "has_japanese"),
               ("script", "japanese_segments")],
    "romanize": [("romanize", "overall_romaji")],
    "terms": [("terms", "overall_translation"), ("terms", "extract_terms"),
              ("terms", "find_macron_candidates")],
    "stats": [("assemble", "text_statistics")],
}


def _hot_hosts(spark, pages):
    """Proportional salting for hot hosts, as scripts/run_extract.py."""
    from martial_arts_ocr_spark.engine.job import (detect_hot_host_shares,
                                                   proportional_salt_buckets,
                                                   with_host)

    shares = detect_hot_host_shares(with_host(pages), threshold=0.05,
                                    sample_fraction=0.1)
    target = 1.0 / (4 * spark.sparkContext.defaultParallelism)
    return proportional_salt_buckets(shares, target_share=target)


def _check(spark, pages, n_in: int, root: str, seed: int) -> list[str]:
    """Output checks, run after the clock stops. Returns the failures."""
    from pyspark.sql import functions as F

    from martial_arts_ocr_spark.engine import catalog
    from martial_arts_ocr_spark.engine.resume import (EXTRACTED_TABLE,
                                                      read_metrics)
    from martial_arts_ocr_spark.fixtures.gen_pages import make_html
    from martial_arts_ocr_spark.kernel.pipeline import extract_document

    errors = []
    ext = catalog.read_table(spark, root, EXTRACTED_TABLE)
    out = ext.groupBy("url").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("status") == "failed").cast("int")).alias("failed"))
    cov = pages.select("url", F.lit(1).alias("n_in")) \
        .join(out, "url", "full_outer").agg(
            F.sum("n").alias("rows"), F.sum("failed").alias("failed"),
            F.sum((F.coalesce("n", F.lit(0)) != F.coalesce(
                "n_in", F.lit(0))).cast("int")).alias("bad")).collect()[0]
    n_rows, n_failed = cov["rows"], cov["failed"]
    if cov["bad"] or n_rows != n_in:
        errors.append(f"url coverage: {n_in} urls in, {n_rows} rows out, "
                      f"{cov['bad']} urls not present exactly once")
    tot = read_metrics(spark, root).agg(
        F.sum("n_docs").alias("docs"),
        F.sum("n_failed").alias("failed")).collect()[0]
    if tot["docs"] != n_rows or tot["failed"] != n_failed:
        errors.append(f"metrics totals {tot['docs']}/{tot['failed']} != "
                      f"rows {n_rows}/{n_failed}")
    rng = random.Random(seed)
    sample = [make_html(i, seed)
              for i in rng.sample(range(n_in), min(N_SAMPLE, n_in))]
    got = {r["url"]: r["text"] for r in
           ext.where(F.col("url").isin([p["url"] for p in sample]))
           .select("url", "text").collect()}
    for p in sample:
        want = extract_document(p["url"], p["html"], p["lang"] or "")["text"]
        if got.get(p["url"]) != want:
            errors.append(f"text differs from extract_document: {p['url']}")
    return errors


def _job_layer(spark, pages, hot) -> dict:
    """run_extract to a noop sink, and the identity-UDF floor over the
    same pruned, gated and partitioned columns."""
    from pyspark.sql import functions as F

    from martial_arts_ocr_spark.engine.job import (run_extract, with_host,
                                                   with_salted_key)

    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    noop(run_extract(pages, num_partitions=n, hot_hosts=hot))
    extract_s = time.perf_counter() - t0
    df = pages.select("url", "html", "lang").filter(
        F.col("html").isNotNull() & (F.length("html") > 0))
    df = with_salted_key(with_host(df), hot).repartition(n, F.col("part_key"))
    df = df.select("url", "host", "html", "lang")
    t0 = time.perf_counter()
    noop(df.mapInPandas(identity, schema=df.schema))
    floor_s = time.perf_counter() - t0
    return {"extract_s": extract_s, "arrow_floor_s": floor_s}


def kernel_pass(n_pages: int, seed: int) -> dict:
    """Single-process pass over a seeded slice of the workload's pages,
    with each kernel stage's entry points wrapped in a span."""
    import importlib

    from martial_arts_ocr_spark.fixtures.gen_pages import make_html

    pipeline = importlib.import_module("martial_arts_ocr_spark.kernel.pipeline")
    rng = random.Random(seed + 1)
    pages = [make_html(i, seed)
             for i in sorted(rng.sample(range(n_pages), N_KERNEL))]
    tracer = Tracer()
    for stage, entries in KERNEL_STAGES.items():
        for mod, fn in entries:
            module = importlib.import_module(
                f"martial_arts_ocr_spark.kernel.{mod}")
            tracer.wrap(module, fn, stage)
    tracer.wrap(pipeline, "extract_document", "self")
    try:
        t0 = time.perf_counter()
        rows = [pipeline.extract_document(p["url"], p["html"], p["lang"] or "")
                for p in pages]
        wall = time.perf_counter() - t0
    finally:
        tracer.restore()
    out = {f"kernel.{s}_s": tracer.self_s.get(s, 0.0) for s in KERNEL_STAGES}
    out["kernel.self_s"] = tracer.self_s["self"]
    out["kernel.wall_s"] = wall
    out["kernel.docs"] = len(rows)
    out["kernel.failed"] = sum(r["status"] == "failed" for r in rows)
    out["kernel.fallback_ratio"] = sum(
        r["decision_source"] in ("fullpage", "regex") for r in rows) / len(rows)
    return out


def prepare(spark, work: str, seed: int):
    """The seeded pages, generated on the executors and persisted."""
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_spark

    pages = pages_spark(spark, N_PAGES, seed=seed,
                        partitions=spark.sparkContext.defaultParallelism)
    pages = pages.persist()
    return pages, pages.count(), os.path.join(work, "warehouse")


def run_in(spark, inputs, seed: int, trace: bool, check: bool) -> dict:
    from martial_arts_ocr_spark.engine import catalog, resume
    from martial_arts_ocr_spark.engine.resume import (EXTRACTED_TABLE,
                                                      read_metrics,
                                                      run_checkpointed)

    pages, n_in, root = inputs
    sc = spark.sparkContext
    tracer = Tracer()
    if trace:
        tracer.wrap(resume, "_commit_wave", "commit")
    sc.setJobGroup("perfbench-resume", "extract")
    try:
        t0 = time.perf_counter()
        hot = _hot_hosts(spark, pages)
        t1 = time.perf_counter()
        run_checkpointed(spark, pages, root, RUN_ID, hot_hosts=hot)
        t2 = time.perf_counter()
    finally:
        tracer.restore()
    sc.setJobGroup("perfbench-check", "checks")
    errors = _check(spark, pages, n_in, root, seed) if check else []
    failed = read_metrics(spark, root).agg({"n_failed": "sum"}).first()[0]
    res = {"wall_s": t2 - t0, "docs": n_in, "failed": failed,
           "errors": errors}
    if trace:
        files, size = dir_stats(os.path.join(root, EXTRACTED_TABLE))
        layers = {
            "resume.run_s": t2 - t1,
            "resume.commit_s": tracer.total_s["commit"],
            "resume.waves": tracer.calls["commit"],
            "resume.spark_jobs": jobs_in_group(spark, "perfbench-resume"),
            "resume.files_written": files,
            "resume.bytes_written": size,
            "catalog.snapshots": len(
                catalog.read_snapshots(root, EXTRACTED_TABLE)),
        }
        sc.setJobGroup("perfbench-job", "job layer")
        job = _job_layer(spark, pages, hot)
        layers["job.extract_s"] = job["extract_s"]
        layers["job.arrow_floor_s"] = job["arrow_floor_s"]
        layers["job.docs_per_s"] = n_in / job["extract_s"]
        layers.update(kernel_pass(N_PAGES, seed))
        res["layers"] = layers
    pages.unpersist()
    return res
