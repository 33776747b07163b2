"""Helpers shared by the benchmark workloads: the Spark session set-up,
the span tracer that wraps program functions from outside, and counters
read from Spark and the file system."""

from __future__ import annotations

import functools
import os
import time
from collections import Counter, defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpus() -> int:
    """CPUs this process may run on; Spark gets one task slot per CPU."""
    return len(os.sched_getaffinity(0))


def identity(batches):
    """mapInPandas body that returns its input unchanged."""
    yield from batches


def noop(df) -> None:
    """Execute every column of ``df`` without collecting its rows."""
    df.write.format("noop").mode("overwrite").save()


class Tracer:
    """Spans around calls into program functions, kept in memory.

    ``wrap`` replaces a module attribute by a timing wrapper; ``restore``
    puts every original back. A span's self time is its duration minus
    the time of spans opened inside it, so the self times of nested
    wrapped calls add up to the outermost span."""

    def __init__(self) -> None:
        self.self_s: dict[str, float] = defaultdict(float)
        self.total_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.events: list[tuple[str, float, float]] = []
        self._stack: list[list] = []
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, name: str, record: bool = False) -> None:
        """Time every call of ``module.attr`` as span ``name``; with
        ``record`` each call's (name, start, end) is kept as well."""
        fn = getattr(module, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            frame = [name, 0.0]
            tracer._stack.append(frame)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                tracer._stack.pop()
                if tracer._stack:
                    tracer._stack[-1][1] += dt
                tracer.self_s[name] += dt - frame[1]
                tracer.total_s[name] += dt
                tracer.calls[name] += 1
                if record:
                    tracer.events.append((name, t0, t0 + dt))

        setattr(module, attr, traced)
        self._patched.append((module, attr, fn))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)

    def first(self, name: str) -> tuple[float, float]:
        """(start, end) of the first recorded call of ``name``."""
        return next((s, e) for n, s, e in self.events if n == name)


def start_session(app: str):
    """Build the engine's session at local[cpus] and warm it the way
    bench.py does. Returns (spark, build_s, warm_s)."""
    from martial_arts_ocr_spark.engine.session import build_session

    n = cpus()
    t0 = time.perf_counter()
    spark = build_session(master=f"local[{n}]", shuffle_partitions=n,
                          app_name=app)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.range(n * 8).repartition(n).mapInPandas(
        identity, schema="id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; ``_``/``.``-prefixed entries
    (markers, checksums, temp dirs) are skipped."""
    files = size = 0
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if not name.startswith(("_", ".")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return files, size
