"""Workload ``queries``: bench.HEADLINE's 14 queries, each run once on a
fresh session with a noop sink, over the sf0.01 test tables checked in
under perfbench/data (read-only inputs; the seed does not vary them).

Timed: the sum of the 14 first-run query walls, as bench.py reports it.
Each wall splits into ``plan`` (until the query function returns its
DataFrame: planning in this process plus any eager jobs it runs) and
``exec`` (the noop write). The check compares each query with its
``oracle_sql()`` result on DuckDB."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import time

from .common import ROOT, jobs_in_group, noop

DATA = os.path.join(ROOT, "perfbench", "data", "sf0.01")


def _norm(v):
    """Cell normalisation of tests/oracle_check.py: floats to 9 places,
    NaN and timestamps as strings, sequences cell by cell."""
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def _check(spark, sf_dir: str, names) -> list[str]:
    import duckdb

    from __spark_entry__ import oracle_sql, queries

    qs, oracles = queries(), oracle_sql()
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT * "
                        f"FROM read_parquet('{os.path.join(sf_dir, f)}')")
        errors = []
        for name in names:
            sdf = qs[name](spark, sf_dir)
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            if sorted(sdf.columns) != sorted(ocols) or _canon(
                    [tuple(r) for r in sdf.collect()], sdf.columns) != _canon(
                    res.fetchall(), ocols):
                errors.append(f"{name} differs from its DuckDB oracle")
        return errors
    finally:
        con.close()


def prepare(spark, work: str, seed: int):
    """Copy the tables into the repetition's work dir, size the scan
    split as bench.py does, and read lineitem once (bench.py's warmup)."""
    import bench

    conf = "spark.sql.files.maxPartitionBytes"
    old_split = spark.conf.get(conf)
    sf_dir = shutil.copytree(DATA, os.path.join(work, "sf0.01"))
    spark.conf.set(conf, str(bench._scan_split_bytes(
        sf_dir, spark.sparkContext.defaultParallelism)))
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    return sf_dir, old_split


def run_in(spark, inputs, seed: int, trace: bool, check: bool) -> dict:
    import bench

    from martial_arts_ocr_spark.queries import ALL_QUERIES

    sf_dir, old_split = inputs
    sc = spark.sparkContext
    errors, walls, layers = [], {}, {}
    for name in bench.HEADLINE:
        sc.setJobGroup(f"perfbench-q-{name}", name)
        try:
            t0 = time.perf_counter()
            df = ALL_QUERIES[name](spark, sf_dir)
            t1 = time.perf_counter()
            noop(df)
            t2 = time.perf_counter()
        except Exception as exc:      # a raising query is a failed query
            errors.append(f"{name} raised {type(exc).__name__}: {exc}"[:300])
            continue
        walls[name] = t2 - t0
        layers[f"query.{name}.plan_s"] = t1 - t0
        layers[f"query.{name}.exec_s"] = t2 - t1
        layers[f"query.{name}.jobs"] = jobs_in_group(spark,
                                                     f"perfbench-q-{name}")
    sc.setJobGroup("perfbench-check", "checks")
    failed = len(errors)
    if check and not failed:
        errors += _check(spark, sf_dir, bench.HEADLINE)
    spark.conf.set("spark.sql.files.maxPartitionBytes", old_split)
    res = {"wall_s": sum(walls.values()), "docs": len(bench.HEADLINE),
           "detail": walls, "failed": failed, "errors": errors}
    if trace:
        layers["query.p50_s"] = statistics.median(walls.values())
        res["layers"] = layers
    return res
