"""Checkpointed, resumable extraction runs with per-partition lineage.

North-rule requirements (BASELINE.json): "progress is checkpointed per
Iceberg partition with lineage + per-partition extraction metrics written to
a metrics table so failed runs resume exactly."

Design (the reference analogue is the document status state machine
``/root/reference/src/martial_arts_ocr/pipeline/orchestrator.py:289-311``
— uploaded→processing→completed/failed — lifted from per-document SQLite
rows to per-partition table rows):

* input pages are bucketed by ``part_bucket = pmod(xxhash64(part_key), P)``
  where ``part_key`` is the (salted) url-host — the Iceberg-partition
  analogue;
* buckets are processed in **waves** (``batch_size`` buckets per Spark
  job — at 10^12 docs a snapshot is processed as a sequence of partition
  waves, never one monolithic job);
* each wave commits with ONE Spark write: its data lands in
  ``extracted/part_bucket=k/`` while an ``Observation`` on that write
  counts the per-bucket metrics. The driver then appends one metrics row
  per non-empty bucket (``catalog.append_rows``), logs a snapshot entry,
  and appends one checkpoint row per bucket carrying the snapshot id;
* resume = anti-join of buckets against completed checkpoint rows, which
  the driver reads back itself (``catalog.read_rows``): a rerun of the
  same ``run_id`` processes only unfinished buckets, byte-identically
  (the kernel is a pure function, so reruns can't diverge).

Crash atomicity in-sandbox: data for a wave lands under a temp dir and is
renamed into place per bucket (``catalog.replace_partitions``) before its
checkpoint rows are written, and the checkpoint append is itself one file
rename — a wave is either fully visible+checkpointed or invisible; a
crash between rename and checkpoint re-runs the wave, whose rename then
replaces identical bytes (idempotent by determinism). The run pin
(``catalog.pin_run``, ``_run_<id>.json``) and the entry sweep of crashed
waves' ``_tmp_wave_*`` dirs (``catalog.sweep_tmp``) are the same
protocol pieces curate.py's pack and mixture runners use.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import catalog
from .job import run_extract, salted_key_col, with_host, with_salted_key
from .schema import CHECKPOINT_SCHEMA, METRICS_SCHEMA

CHECKPOINT_TABLE = "checkpoints"
METRICS_TABLE = "metrics"
EXTRACTED_TABLE = "extracted"


def _bucketed(pages: DataFrame, n_buckets: int,
              hot_hosts: list[str] | None) -> DataFrame:
    df = with_host(pages) if "host" not in pages.columns else pages
    df = with_salted_key(df, hot_hosts)
    return df.withColumn(
        "part_bucket", F.pmod(F.xxhash64("part_key"), F.lit(n_buckets))
        .cast("int"),
    )


def read_metrics(spark: SparkSession, root: str) -> DataFrame:
    """Metrics table with exactly one row per (run_id, part_bucket).

    A crash between the metrics append and the checkpoint write (the
    commit point) re-runs the wave and appends a SECOND metrics row for
    its buckets; determinism makes the duplicate byte-identical, so
    dropDuplicates on the key restores exact totals (self-review fix:
    summing the raw table double-counted re-run waves). All metrics
    consumers must read through this helper. Returns an EMPTY frame (not
    an AnalysisException) when no wave has committed metrics yet, so
    progress checks on fresh or crashed-before-wave-0 warehouses report
    zero rows instead of crashing (review fix — completed_buckets already
    had the guard)."""
    if not catalog.table_exists(root, METRICS_TABLE):
        return spark.createDataFrame([], METRICS_SCHEMA)
    return (
        catalog.read_table(spark, root, METRICS_TABLE)
        .dropDuplicates(["run_id", "part_bucket"])
    )


def completed_buckets(root: str, run_id: str) -> set[int]:
    return {r["part_bucket"]
            for r in catalog.read_rows(root, CHECKPOINT_TABLE)
            if r["run_id"] == run_id and r["status"] == "completed"}


_DEFAULT_BATCH_SIZE = 4


def _pin_run_config(run_id: str, pinned: dict, batch_size: int | None,
                    sign_snapshots: bool
                    ) -> tuple[list[str] | None, int, int, bool]:
    """(hot_hosts, n_buckets, batch_size, sign_snapshots) for this
    invocation, resolved against the run's pinned config.

    Bucket assignment depends on the first two — a resume that re-derived
    a different hot-host list would shift keys and double-process
    documents — so they follow the pin. Wave COMPOSITION depends on
    batch_size: the signature store's exactly-once snapshot ids derive
    from each wave's bucket set (round-5 second-pass review find:
    resuming with a different batch_size regrouped pending buckets into
    fresh ids and re-signed already-signed buckets under ids read_store's
    dedup cannot collapse). And signing itself must be consistent across
    every wave of a run (fourth-pass find), so sign_snapshots is pinned
    too. The first run's config is authoritative for its run_id.
    """
    import warnings

    # pre-round-5 pin files lack the newer fields; fall back to the
    # caller's values (no signed run can predate the fields — signing
    # itself is round-5)
    pinned_bs = pinned.get(
        "batch_size", _DEFAULT_BATCH_SIZE if batch_size is None else batch_size)
    pinned_sign = pinned.get("sign_snapshots", sign_snapshots)
    # sign_snapshots follows the pin unconditionally (round-5 fourth-pass
    # find: a resume that forgot the flag silently committed waves with
    # no signature append, leaving the store permanently missing those
    # documents while their buckets checkpointed 'completed').
    if sign_snapshots != pinned_sign:
        warnings.warn(
            f"run {run_id!r}: sign_snapshots={sign_snapshots} ignored — "
            f"the run was pinned with sign_snapshots={pinned_sign} and "
            f"signing must be consistent across every wave")
        sign_snapshots = pinned_sign
    # batch_size must follow the pin only when signing (snapshot ids
    # derive from wave bucket sets). batch_size=None — the config-less
    # resume — always takes the pinned value (fourth-pass find: comparing
    # against the signature DEFAULT made a flag-less resume look like an
    # explicit override). An EXPLICIT divergent width on an unsigned run
    # is a legitimate operational recovery lever (e.g. shrink per-wave
    # memory after an OOM) — honored, loudly.
    if batch_size is None:
        batch_size = pinned_bs
    elif batch_size != pinned_bs:
        if sign_snapshots:
            warnings.warn(
                f"run {run_id!r}: batch_size={batch_size} ignored — "
                f"signed runs use the pinned batch_size={pinned_bs} "
                f"(signature snapshot ids derive from wave composition)")
            batch_size = pinned_bs
        else:
            warnings.warn(
                f"run {run_id!r}: resuming with batch_size={batch_size} "
                f"(pinned value was {pinned_bs}; wave width is an "
                f"operational knob for unsigned runs)")
    return pinned["hot_hosts"], pinned["n_buckets"], batch_size, sign_snapshots


def run_checkpointed(
    spark: SparkSession,
    pages: DataFrame,
    root: str,
    run_id: str,
    n_buckets: int = 16,
    batch_size: int | None = None,
    hot_hosts: list[str] | None = None,
    fail_after_waves: int | None = None,
    files_per_bucket: int = 1,
    sign_snapshots: bool = False,
) -> list[int]:
    """Process all pending buckets in waves; returns buckets processed.

    ``batch_size=None`` (the config-less default) means "the pinned
    value" on resume and ``_DEFAULT_BATCH_SIZE`` on a fresh run; pass an
    explicit int to override (honored with a warning on unsigned
    resumes, rejected with a warning on signed ones — see the pin
    resolution below).

    ``fail_after_waves`` injects a crash after N waves (for resume tests).
    ``files_per_bucket`` sizes the partitioned write: 1 (default) gives one
    well-sized file per bucket at sandbox scale; a 100 TB deployment sets
    it to ≈ bucket_bytes / 128 MB so no single file grows unbounded. The
    bound is STATISTICAL, not exact — (bucket, salt) groups that collide
    in the hash repartition merge into one ~2× file (low-cardinality
    collisions, same mode as the kernel-stage gotcha); a deployment that
    needs a hard per-file cap sets ``spark.sql.files.maxRecordsPerFile``
    on top, which splits at write time without any salt column.

    ``sign_snapshots`` (round-5): additionally append each wave's MinHash
    band keys (url-keyed, over the EXTRACTED text) to the warehouse's
    ``signatures`` table via engine/sigstore.py — snapshot ids derive
    from the wave's bucket set (``<run_id>/b3-7-9``), which gives the
    append the same exactly-once discipline as the checkpoint rows:
    an already-logged bucket set skips (its rows are byte-identical by
    determinism), a crash between the signature data write and its log
    entry re-appends the SAME snapshot id whose duplicate rows collapse
    in ``sigstore.read_store``, and resumed runs (whose wave numbering
    restarts) get distinct ids for their distinct pending sets. A LATER crawl
    then calls ``sigstore.dedup_new_snapshot`` against this warehouse to
    drop documents already ingested — incremental cross-snapshot dedup as
    a pipeline flow, not just a registered query.
    """
    # one corpus snapshot per warehouse root (catalog.pin_run): the
    # extracted table's bucket dirs are replaced wholesale per wave, so a
    # second run_id would delete the first run's data. Resume of the SAME
    # run_id is the designed multi-invocation path; a new snapshot gets a
    # new --warehouse.
    pinned = catalog.pin_run(root, "_run_", run_id, {
        "hot_hosts": hot_hosts, "n_buckets": n_buckets,
        "batch_size": _DEFAULT_BATCH_SIZE if batch_size is None
        else batch_size,
        "sign_snapshots": sign_snapshots})
    catalog.sweep_tmp(root, "_tmp_wave_")
    hot_hosts, n_buckets, batch_size, sign_snapshots = _pin_run_config(
        run_id, pinned, batch_size, sign_snapshots)
    bucketed = _bucketed(pages, n_buckets, hot_hosts).persist()
    try:
        return _run_waves(spark, bucketed, root, run_id, n_buckets,
                          batch_size, hot_hosts, fail_after_waves,
                          files_per_bucket, sign_snapshots)
    finally:
        bucketed.unpersist()


def _run_waves(spark, bucketed, root, run_id, n_buckets, batch_size,
               hot_hosts, fail_after_waves, files_per_bucket,
               sign_snapshots=False) -> list[int]:
    present = sorted(
        r.part_bucket
        for r in bucketed.select("part_bucket").distinct().collect()
    )
    done = completed_buckets(root, run_id)
    pending = [b for b in present if b not in done]

    processed: list[int] = []
    waves = [pending[i:i + batch_size]
             for i in range(0, len(pending), batch_size)]
    ext_path = catalog.table_path(root, EXTRACTED_TABLE)
    for wave_no, wave in enumerate(waves):
        if fail_after_waves is not None and wave_no >= fail_after_waves:
            raise RuntimeError(f"injected failure before wave {wave_no}")
        # Kernel parallelism is DECOUPLED from checkpoint-wave width
        # (round-4 fix: num_partitions=len(wave) ran the kernel on
        # batch_size cores of the whole cluster — 8 of 32 here — and a
        # hash spread on (bucket, url-salt) still left max/mean 3.2 from
        # low-cardinality collisions; both measured). The wave's rows
        # round-robin across every core — exactly uniform, and legal
        # because the kernel is a pure per-row function (byte-identity
        # across partitionings is a pinned invariant) while part_bucket is
        # re-derived from row CONTENT for the write. Host-hash
        # co-location still holds at the bucket/wave granularity the
        # checkpoint design needs; inside a wave, balance wins.
        n_exec = spark.sparkContext.defaultParallelism
        subset = (
            bucketed.where(F.col("part_bucket").isin(wave))
            # apply the P1 validity gate BEFORE the shuffle (run_extract
            # re-applies it after, harmlessly): on a dirty corpus the
            # null/empty-html rows would otherwise ride the round-robin
            # exchange with their full html payload for nothing
            .filter(F.col("html").isNotNull() & (F.length("html") > 0))
            .repartition(n_exec)
        )
        # NOTE: no 'host' column is passed through — run_extract prunes to
        # url/html/lang and re-derives host itself (same HOST_RE), so
        # forwarding the bucketing-time host would only fake a coupling
        extracted = run_extract(
            subset.select("url", "html", "lang"),
            pre_partitioned=True,
        )
        # re-attach bucket id for partitioned write + metrics (same key
        # derivation as _bucketed, via the shared salted_key_col)
        extracted = extracted.withColumn(
            "part_bucket",
            F.pmod(F.xxhash64(salted_key_col(hot_hosts)), F.lit(n_buckets))
            .cast("int"),
        ).persist()

        tmp_dir = os.path.join(root, f"_tmp_wave_{run_id}_{wave_no}")
        try:
            if sign_snapshots:
                from . import sigstore
                # snapshot id is derived from the wave's BUCKET SET, not
                # the restart-relative wave_no (round-5 review find: wave
                # numbering restarts on resume, so 'run/wave0' of a
                # resumed run collided with the pre-crash wave 0 and
                # silently skipped signing the re-run waves). Same bucket
                # set → same id → the skip IS the exactly-once guarantee
                # (re-run rows are byte-identical by determinism);
                # different pending sets after a crash → distinct ids.
                sig_id = f"{run_id}/b" + "-".join(str(b) for b in wave)
                sigstore.append_snapshot_signatures(
                    spark, root,
                    extracted.where(F.col("status") == "completed"),
                    snapshot=sig_id,
                    key_col="url", text_col="text",
                )
            _commit_wave(extracted, root, run_id, wave, wave_no,
                         tmp_dir, ext_path, files_per_bucket)
        finally:
            extracted.unpersist()
        processed.extend(wave)
    return processed


def _bucket_metrics(wave: list[int]) -> list:
    """METRICS_SCHEMA's counts, one aggregate per (wave bucket, metric),
    named ``<metric>_<bucket>``. Each aggregates ``when(part_bucket == b,
    x)``, which is null on every other bucket's rows, so it equals what
    ``groupBy("part_bucket")`` aggregates over bucket ``b``."""
    per_row = {
        "n_docs": (F.count, F.lit(1)),
        "n_completed": (F.sum, F.when(F.col("status") == "completed", 1)
                        .otherwise(0)),
        "n_failed": (F.sum, F.when(F.col("status") == "failed", 1)
                     .otherwise(0)),
        "n_bytes_in": (F.sum, F.col("n_bytes_in")),
        "n_chars_out": (F.sum, F.length("text")),
    }
    return [agg(F.when(F.col("part_bucket") == b, x)).alias(f"{name}_{b}")
            for b in wave for name, (agg, x) in per_row.items()]


def _wave_frame(extracted: DataFrame, wave: list[int],
                files_per_bucket: int) -> tuple[DataFrame, Observation]:
    """The wave's data-write frame and the Observation of its metrics.

    The EXTRACTED rows (html already dropped — a fraction of the input
    bytes) take one cheap shuffle onto part_bucket so each bucket lands
    as one well-sized file instead of one sliver per kernel task (the
    round-robin kernel stage would otherwise write |cores| tiny files per
    bucket — the small-file death at 100 TB; one extracted-side shuffle is
    cheaper than re-compacting). sortWithinPartitions clusters rows by
    (host, url) inside each file so parquet row-group min/max stats prune
    host-/url-filtered scans downstream; part_bucket leads the sort so the
    partitioned writer's own required partition-column ordering is already
    satisfied and does not re-sort away the (host, url) clustering.

    The Observation sits above the last Exchange, in the result stage:
    Spark applies a result task's accumulator updates once per partition,
    so a retried map stage cannot double-count."""
    obs = Observation()
    frame = (extracted.repartition(
        max(len(wave), 1) * files_per_bucket, F.col("part_bucket"),
        F.pmod(F.xxhash64("url"), F.lit(files_per_bucket)))
        .sortWithinPartitions("part_bucket", "host", "url")
        .observe(obs, *_bucket_metrics(wave)))
    return frame, obs


def _commit_wave(extracted, root, run_id, wave, wave_no, tmp_dir, ext_path,
                 files_per_bucket) -> None:
    # 1. write wave data to a temp dir, then rename per bucket (atomic)
    frame, obs = _wave_frame(extracted, wave, files_per_bucket)
    catalog.replace_partitions(frame, "part_bucket", wave, ext_path, tmp_dir)

    # 2. per-partition metrics (lineage: run_id + bucket + counts + input
    #    bytes) from the write's Observation; a bucket with no written row
    #    gets no metrics row
    m = obs.get
    names = METRICS_SCHEMA.names[2:]
    catalog.append_rows(root, METRICS_TABLE, [
        (run_id, int(b), *(m[f"{n}_{b}"] for n in names))
        for b in wave if m[f"n_docs_{b}"]
    ], METRICS_SCHEMA)

    # 3. snapshot entry, then checkpoint rows carrying its id — the
    # checkpoint append is the commit point. A crash between steps 2 and 3
    # re-runs the wave: the duplicate snapshot entry is harmless lineage
    # noise, and the duplicate metrics rows are byte-identical
    # (determinism) and collapsed by read_metrics' key dedup.
    sid = catalog.append_snapshot(root, EXTRACTED_TABLE, {
        "run_id": run_id, "wave": wave_no, "buckets": [int(b) for b in wave],
    })
    catalog.append_rows(
        root, CHECKPOINT_TABLE,
        [(run_id, int(b), sid, "completed") for b in wave], CHECKPOINT_SCHEMA)
