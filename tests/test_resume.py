"""Checkpoint/resume semantics (north rule: "failed runs resume exactly").

Mirrors the reference's status-transition tests
(``/root/reference/tests/test_pipeline_orchestrator.py``) at partition
granularity: crash mid-run → rerun → no duplicate work, complete output,
byte-identical to an uninterrupted run.
"""

import os

import pytest
from pyspark.sql import functions as F

from martial_arts_ocr_spark.engine import catalog
from martial_arts_ocr_spark.engine.resume import (
    CHECKPOINT_TABLE,
    EXTRACTED_TABLE,
    METRICS_TABLE,
    completed_buckets,
    run_checkpointed,
)
from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

N = 60


@pytest.fixture()
def pages(spark):
    return spark.createDataFrame(pages_pandas(N))


def test_crash_then_resume_exactly(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")

    # run 1: crash after 1 wave
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, pages, root, run_id="r1",
                         n_buckets=8, batch_size=2, fail_after_waves=1)

    done_after_crash = completed_buckets(root, "r1")
    assert 0 < len(done_after_crash) <= 2     # exactly one wave committed

    # run 2: resume — must process only the remaining buckets
    processed = run_checkpointed(spark, pages, root, run_id="r1",
                                 n_buckets=8, batch_size=2)
    assert set(processed).isdisjoint(done_after_crash)

    # output: every url exactly once
    out = catalog.read_table(spark, root, EXTRACTED_TABLE)
    urls = [r.url for r in out.select("url").collect()]
    assert len(urls) == N
    assert len(set(urls)) == N

    # byte-identity vs an uninterrupted run in a fresh warehouse
    root2 = str(tmp_path / "warehouse2")
    run_checkpointed(spark, pages, root2, run_id="clean",
                     n_buckets=8, batch_size=8)
    clean = {
        r.url: r.text
        for r in catalog.read_table(spark, root2, EXTRACTED_TABLE).collect()
    }
    resumed = {r.url: r.text for r in out.collect()}
    assert resumed == clean


def test_rerun_of_completed_run_is_noop(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")
    first = run_checkpointed(spark, pages, root, run_id="r1",
                             n_buckets=4, batch_size=4)
    assert first
    again = run_checkpointed(spark, pages, root, run_id="r1",
                             n_buckets=4, batch_size=4)
    assert again == []                         # nothing pending


def test_metrics_lineage_rows(spark, pages, tmp_path):
    root = str(tmp_path / "warehouse")
    run_checkpointed(spark, pages, root, run_id="r1",
                     n_buckets=4, batch_size=2)
    m = catalog.read_table(spark, root, METRICS_TABLE)
    rows = m.collect()
    assert all(r.run_id == "r1" for r in rows)
    assert sum(r.n_docs for r in rows) == N
    assert sum(r.n_completed for r in rows) == N
    ck = catalog.read_table(spark, root, CHECKPOINT_TABLE)
    assert ck.where(F.col("status") == "completed").count() == \
        m.select("part_bucket").distinct().count()
    snaps = catalog.read_snapshots(root, EXTRACTED_TABLE)
    assert len(snaps) == 2                     # one per wave
    assert all(s["run_id"] == "r1" for s in snaps)


def test_metrics_dedup_after_partial_wave_crash(spark, tmp_path):
    """Crash window between the metrics append (step 2) and the checkpoint
    commit (step 3): the re-run wave appends byte-identical metrics rows.
    read_metrics must collapse them so lineage totals stay exact, while a
    raw read shows the duplication it guards against."""
    from martial_arts_ocr_spark.engine import catalog as cat
    from martial_arts_ocr_spark.engine.resume import read_metrics
    from martial_arts_ocr_spark.fixtures.gen_pages import pages_pandas

    root = str(tmp_path / "wh")
    pages = spark.createDataFrame(pages_pandas(40))
    run_checkpointed(spark, pages, root, run_id="dup", n_buckets=4,
                     batch_size=4)
    mpath = cat.table_path(root, METRICS_TABLE)
    raw = spark.read.parquet(mpath)
    # simulate the crash-replay: append an exact copy of one bucket's row
    one = raw.limit(1)
    one.write.mode("append").parquet(mpath)
    raw_docs = (spark.read.parquet(mpath)
                .agg(F.sum("n_docs").alias("s")).head()["s"])
    dedup_docs = (read_metrics(spark, root)
                  .agg(F.sum("n_docs").alias("s")).head()["s"])
    assert dedup_docs == 40
    assert raw_docs > 40                   # the raw table IS duplicated


def test_second_run_id_over_same_root_refused(spark, pages, tmp_path):
    """A different run_id over the same warehouse would silently replace
    the first run's bucket data while its checkpoints still claim it
    (review-found) — run_checkpointed must refuse, and the same run_id
    must still resume as a no-op."""
    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    p = with_host(pages)
    run_checkpointed(spark, p, root, run_id="r1", n_buckets=4, batch_size=2)
    with pytest.raises(ValueError, match="already holds"):
        run_checkpointed(spark, p, root, run_id="r2",
                         n_buckets=4, batch_size=2)
    assert run_checkpointed(spark, p, root, run_id="r1",
                            n_buckets=4, batch_size=2) == []


def test_stale_tmp_wave_dirs_swept_on_entry(spark, pages, tmp_path):
    """An orphaned _tmp_wave_* dir from a hard crash must be reclaimed by
    the next invocation (wave numbering restarts on resume, so nothing
    else would ever delete it — review-found disk leak)."""
    import os

    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    stale = os.path.join(root, "_tmp_wave_r1_7")
    os.makedirs(stale)
    with open(os.path.join(stale, "part-junk.parquet"), "wb") as f:
        f.write(b"x")
    run_checkpointed(spark, with_host(pages), root, run_id="r1",
                     n_buckets=4, batch_size=2)
    assert not os.path.isdir(stale)
    assert not any(d.startswith("_tmp_wave_") for d in os.listdir(root))


def test_read_metrics_empty_warehouse(spark, tmp_path):
    """Progress checks on a fresh/crashed-before-wave-0 warehouse must see
    zero rows, not an AnalysisException (review-found)."""
    from martial_arts_ocr_spark.engine.resume import read_metrics

    assert read_metrics(spark, str(tmp_path / "nowhere")).count() == 0


def test_second_run_id_refused_even_before_first_checkpoint(
        spark, pages, tmp_path):
    """Round-4 ADVICE: the cross-run_id guard must hold even when run 1
    crashed BEFORE its first checkpoint write (zero checkpoint rows) —
    the _run_<id>.json config pin is written at entry before any wave, so
    scanning pins closes the window the checkpoints-table scan left open."""
    from martial_arts_ocr_spark.engine.job import with_host

    root = str(tmp_path / "wh")
    p = with_host(pages)
    with pytest.raises(RuntimeError, match="injected failure"):
        run_checkpointed(spark, p, root, run_id="r1", n_buckets=4,
                         batch_size=2, fail_after_waves=0)
    # no checkpoint rows exist, but the pin does — r2 must still refuse
    from martial_arts_ocr_spark.engine import catalog
    assert not catalog.table_exists(root, "checkpoints")
    with pytest.raises(ValueError, match="already holds"):
        run_checkpointed(spark, p, root, run_id="r2",
                         n_buckets=4, batch_size=2)
    # the same run_id resumes normally and completes
    assert run_checkpointed(spark, p, root, run_id="r1",
                            n_buckets=4, batch_size=2) != []


_RAW_PAGES = "url string, html binary, lang string"


def _pages_with_gated_bucket(spark, n_buckets):
    """A dirty corpus: normal pages on three hosts, null- and empty-html
    rows, binary-garbage pages (some salvaged, some failed), and one host
    whose rows all have null or empty html and whose bucket holds no
    other host's rows. Returns (pages, the gated bucket)."""
    import random

    from martial_arts_ocr_spark.engine.resume import _bucketed

    rows = []
    for i, p in enumerate(pages_pandas(24).to_dict("records")):
        host = ("a", "b", "c")[i % 3] + ".example"
        rows.append((f"https://{host}/p{i}", p["html"], p["lang"]))
    rows += [("https://a.example/null", None, "en"),
             ("https://b.example/empty", b"", "en")]
    rng = random.Random(7)
    for i in range(4):
        # no "<" byte, so no tag opens inside the junk: bare, it is
        # salvaged as completed text; inside a script block nothing
        # survives segmentation or salvage, so the row fails
        junk = bytes(rng.randrange(62, 256) for _ in range(300))
        html = junk if i % 2 else b"<script>" + junk + b"</script>"
        rows.append((f"https://garbage.example/g{i}", html, ""))

    def buckets(hosts):
        df = spark.createDataFrame(
            [(f"https://{h}/x", None, "") for h in hosts], _RAW_PAGES)
        return {r.host: r.part_bucket for r in
                _bucketed(df, n_buckets, None).collect()}

    used = set(buckets(["a.example", "b.example", "c.example",
                        "garbage.example"]).values())
    gate_host, gated = next(
        (h, b) for h, b in buckets([f"gate{i}.example"
                                    for i in range(32)]).items()
        if b not in used)
    rows += [(f"https://{gate_host}/n{i}", html, "en")
             for i, html in enumerate([None, b"", None])]
    return spark.createDataFrame(rows, _RAW_PAGES), gated


@pytest.mark.parametrize("batch_size", [2, 8])
def test_observed_metrics_equal_groupby_reference(spark, tmp_path,
                                                  batch_size):
    """Each wave's metrics rows come from an Observation on its data
    write. They must equal the groupBy("part_bucket") aggregation the
    runner used before, applied to the written extracted table, which
    this test keeps as the reference; a bucket whose rows all fall to
    the P1 gate gets no metrics row but is still checkpointed."""
    from martial_arts_ocr_spark.engine.resume import _bucketed
    from martial_arts_ocr_spark.engine.schema import METRICS_SCHEMA

    pages, gated = _pages_with_gated_bucket(spark, 8)
    root = str(tmp_path / "wh")
    run_checkpointed(spark, pages, root, run_id="m", n_buckets=8,
                     batch_size=batch_size)

    ext = catalog.read_table(spark, root, EXTRACTED_TABLE)
    reference = (
        ext.groupBy("part_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("status") == "completed", 1).otherwise(0))
            .alias("n_completed"),
            F.sum(F.when(F.col("status") == "failed", 1).otherwise(0))
            .alias("n_failed"),
            F.sum("n_bytes_in").alias("n_bytes_in"),
            F.sum(F.length("text")).alias("n_chars_out"),
        )
        .withColumn("run_id", F.lit("m"))
        .select([F.col(f.name).cast(f.dataType)
                 for f in METRICS_SCHEMA.fields])
    )
    want = sorted(tuple(r) for r in reference.collect())
    got = sorted(tuple(r) for r in
                 catalog.read_table(spark, root, METRICS_TABLE).collect())
    assert got == want
    assert sum(r[4] for r in want) > 0          # some rows failed
    assert gated not in {r[1] for r in got}

    ck = [(r.part_bucket, r.status) for r in
          catalog.read_table(spark, root, CHECKPOINT_TABLE).collect()]
    present = {r.part_bucket for r in
               _bucketed(pages, 8, None).select("part_bucket")
               .distinct().collect()}
    assert gated in present
    assert sorted(ck) == sorted((b, "completed") for b in present)


def test_all_gated_corpus_checkpoints_without_metrics(spark, tmp_path):
    """Waves whose rows all fall to the P1 gate write no data row: the
    Observation on that empty write still reports, every bucket is
    checkpointed, and no metrics row is appended."""
    from martial_arts_ocr_spark.engine.resume import read_metrics

    pages = spark.createDataFrame(
        [(f"https://h{i}.example/x", None if i % 2 else b"", "en")
         for i in range(12)], _RAW_PAGES)
    root = str(tmp_path / "wh")
    done = run_checkpointed(spark, pages, root, run_id="g", n_buckets=4,
                            batch_size=2)
    assert done
    assert completed_buckets(root, "g") == set(done)
    assert read_metrics(spark, root).count() == 0
    assert not catalog.table_exists(root, METRICS_TABLE)


@pytest.mark.parametrize("leftover", ["hidden_parquet", "append_temp"])
def test_table_exists_ignores_hidden_files(spark, tmp_path, monkeypatch,
                                           leftover):
    """Spark's file index skips ``_``/``.``-prefixed files; a table dir
    holding only such a file has no readable data, so table_exists is
    False and resume sees no completed bucket instead of inferring a
    schema over zero files."""
    from martial_arts_ocr_spark.engine.schema import CHECKPOINT_SCHEMA

    root = str(tmp_path / "wh")
    path = catalog.table_path(root, CHECKPOINT_TABLE)
    if leftover == "hidden_parquet":
        os.makedirs(path)
        with open(os.path.join(path, ".x.parquet"), "wb") as f:
            f.write(b"x")
    else:
        # a crash between append_rows' temp write and its rename
        def crash(src, dst):
            raise OSError("crash before rename")

        with monkeypatch.context() as m:
            m.setattr(os, "replace", crash)
            with pytest.raises(OSError, match="crash before rename"):
                catalog.append_rows(root, CHECKPOINT_TABLE,
                                    [("r1", 0, "s", "completed")],
                                    CHECKPOINT_SCHEMA)
    assert len(os.listdir(path)) == 1
    assert not catalog.table_exists(root, CHECKPOINT_TABLE)
    assert completed_buckets(root, "r1") == set()


def test_completed_buckets_over_spark_written_checkpoints(spark, tmp_path):
    """Checkpoint tables written before the driver-side append hold Spark
    part files and a ``_SUCCESS`` marker next to ``append_rows`` files.
    The driver-side reader must see exactly the rows Spark's reader sees:
    both files, and neither an orphaned ``_temporary/`` task file nor a
    hidden append temp."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from martial_arts_ocr_spark.engine.schema import CHECKPOINT_SCHEMA

    root = str(tmp_path / "wh")
    path = catalog.table_path(root, CHECKPOINT_TABLE)
    spark.createDataFrame(
        [("r1", 0, "s0", "completed"), ("r1", 1, "s0", "completed"),
         ("r2", 2, "s0", "completed"), ("r1", 3, None, "failed")],
        CHECKPOINT_SCHEMA).write.mode("append").parquet(path)
    assert os.path.exists(os.path.join(path, "_SUCCESS"))
    catalog.append_rows(root, CHECKPOINT_TABLE,
                        [("r1", 1, "s1", "completed"),
                         ("r1", 4, "s1", "completed")], CHECKPOINT_SCHEMA)
    orphan = pa.table({"run_id": ["r1"],
                       "part_bucket": pa.array([5], pa.int32()),
                       "snapshot_id": ["s2"], "status": ["completed"]})
    os.makedirs(os.path.join(path, "_temporary", "0"))
    pq.write_table(orphan, os.path.join(path, "_temporary", "0",
                                        "part-x.parquet"))
    pq.write_table(orphan.set_column(1, "part_bucket",
                                     pa.array([6], pa.int32())),
                   os.path.join(path, ".part-y.tmp"))

    via_spark = {r.part_bucket for r in
                 catalog.read_table(spark, root, CHECKPOINT_TABLE)
                 .where((F.col("run_id") == "r1")
                        & (F.col("status") == "completed")).collect()}
    assert via_spark == {0, 1, 4}
    assert completed_buckets(root, "r1") == via_spark
