"""Layer group ``curate`` of the traced runs: a seeded corpus
(perfbench/corpus.py) through the curation runner
(engine.curate.run_curate) into a fresh warehouse, with the runner's
stage boundaries recorded; then the keep-set's six sub-gate queries over
the same corpus, and a single-process BPE pass over the kept texts that
also checks the packed sequences."""

from __future__ import annotations

import os
import time

from . import corpus
from .common import Tracer, jobs_in_group, noop

N_DOCS = 1000
RUN_ID = "bench"
# the sub-gate queries named in q_corpus_keep_set's docstring
GATES = ("gopher_quality_flags", "lm_perplexity_buckets", "dedup_survivors",
         "dedup_clusters", "benchmark_contamination",
         "embedding_quality_scores")


def _expected_tokens(kept_texts: list[str]) -> tuple[int, float]:
    """(tokens incl. one separator per doc, seconds) from a
    single-process BPE encode of the kept texts."""
    from martial_arts_ocr_spark import bpe
    from martial_arts_ocr_spark.bpe_merges_1k import BPE_MERGES_1K

    ranks = bpe.merge_ranks(BPE_MERGES_1K)
    mids = bpe.merged_token_ids(BPE_MERGES_1K)
    cache: dict = {}
    t0 = time.perf_counter()
    n = sum(len(bpe.doc_token_ids(t, ranks, mids, len(BPE_MERGES_1K), cache))
            + 1 for t in kept_texts)
    return n, time.perf_counter() - t0


def _check(spark, root: str, summary: dict) -> tuple[list[str], int, float]:
    """Output checks, run after the clock stops. Returns (failures, kept
    docs, BPE encode seconds)."""
    from pyspark.sql import functions as F

    from martial_arts_ocr_spark.bpe import SEP_ID
    from martial_arts_ocr_spark.engine import curate

    errors = []
    if not (summary.get("complete") and summary.get("epochs_complete")):
        errors.append(f"run incomplete: {summary}")
        return errors, 0, 0.0
    flags = spark.read.parquet(curate._flags_path(root, RUN_ID))
    kept_ids = flags.where(F.col("kept")).select("doc_id")
    kept = curate.read_kept_buckets(spark, root, RUN_ID,
                                    list(range(summary["buckets_total"])))
    n_kept = kept_ids.count()
    rows = kept.select("doc_id", "text").collect()
    if len(rows) != n_kept or kept_ids.subtract(kept.select("doc_id")).count():
        errors.append(f"kept_docs holds {len(rows)} docs, flags keep {n_kept}")
    want_tokens, bpe_s = _expected_tokens([r["text"] for r in rows])
    agg = curate.read_packed(spark, root).agg(
        F.sum("n_tokens").alias("tokens"),
        F.sum(F.expr(f"size(filter(token_ids, x -> x = {SEP_ID}))"))
        .alias("docs")).collect()[0]
    if agg["docs"] != len(rows) or agg["tokens"] != want_tokens:
        errors.append(f"packed sequences hold {agg['docs']} docs / "
                      f"{agg['tokens']} tokens, kept docs give {len(rows)} "
                      f"/ {want_tokens}")
    return errors, n_kept, want_tokens / bpe_s if bpe_s else 0.0


def prepare(spark, work: str, seed: int) -> tuple[str, str]:
    """(corpus dir, warehouse dir) in the repetition's work dir."""
    return corpus.build(work, N_DOCS, seed), os.path.join(work, "warehouse")


def run_in(spark, inputs, seed: int, trace: bool, check: bool) -> dict:
    """Curate is a layer group of the traced runs only, so it always
    traces and checks its outputs."""
    from martial_arts_ocr_spark.engine import curate
    from martial_arts_ocr_spark.queries import ALL_QUERIES

    docs_dir, root = inputs
    sc = spark.sparkContext
    tracer = Tracer()
    tracer.wrap(curate, "_ensure_flags", "flags", record=True)
    tracer.wrap(curate, "completed_pack_buckets", "pack", record=True)
    tracer.wrap(curate, "_commit_wave_buckets", "wave")
    tracer.wrap(curate, "read_packed", "epoch", record=True)
    sc.setJobGroup("perfbench-curate", "curate")
    try:
        summary = curate.run_curate(spark, docs_dir, root, RUN_ID)
        end = time.perf_counter()
    finally:
        tracer.restore()
    sc.setJobGroup("perfbench-check", "checks")
    errors, n_kept, bpe_rate = _check(spark, root, summary)
    flags, pack, epoch = (tracer.first(n) for n in ("flags", "pack", "epoch"))
    layers = {
        "curate.flags_s": flags[1] - flags[0],
        "curate.kept_s": pack[0] - flags[1],
        "curate.pack_s": epoch[0] - pack[0],
        "curate.epoch_s": end - epoch[0],
        "curate.waves": tracer.calls["wave"],
        "curate.spark_jobs": jobs_in_group(spark, "perfbench-curate"),
        "curate.kept_ratio": n_kept / N_DOCS,
        "bpe.tokens_per_s": bpe_rate,
    }
    sc.setJobGroup("perfbench-gates", "sub-gates")
    for gate in GATES:
        t0 = time.perf_counter()
        noop(ALL_QUERIES[gate](spark, docs_dir))
        layers[f"corpus.{gate}_s"] = time.perf_counter() - t0
    return {"errors": errors, "layers": layers}
