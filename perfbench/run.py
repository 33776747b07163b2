#!/usr/bin/env python3
"""Repository benchmark: one batch job per run from one client.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 30 --trace 0

Workloads (inputs are made from ``--seed``; the program sees only them):

* ``extract``: 3,000 synthetic pages (fixtures.gen_pages) through the
  checkpointed extraction runner (engine.resume) into a fresh warehouse.
* ``queries``: bench.py's 14 headline queries, once each, noop sink,
  over the sf0.01 tables under perfbench/data. The tables are fixed, so
  the seed is recorded but does not change the input.

Spark runs at local[n], n = the CPUs this process may use. Every
repetition is a fresh Python process with a fresh warehouse
(perfbench/rep.py). With ``--trace 0`` one repetition sets up, runs the
timed job and checks its outputs outside the timed section; further
repetitions only set up, until ``--seconds`` have passed and at least
two set-ups were timed. The last stdout line reports ``wall_s`` of the
job and ``setup_s`` as the median set-up. With ``--trace 1`` one
untraced repetition runs the job, then one traced repetition runs it
again and every other layer group (perfbench/rep.py); the last line
reports the per-layer metrics, with ``trace.overhead_s`` the traced
minus the untraced wall. A failed check makes the run incorrect; a
repetition that fails or overruns ends the run without a result.

The line before the result holds context that is not a metric: host
load and a single-process kernel anchor (bench.kernel_anchor) at the
start and end, per-repetition times, the peak resident memory of the
job's process group, and measured values BENCHMARK.json does not list.
Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout, which is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("extract", "queries")
MIN_SETUPS, MAX_SETUPS = 2, 5
DEADLINE_S = 170            # a run must end within 180 s
PAGE = os.sysconf("SC_PAGE_SIZE")
# files of the program the benchmark drives; without them it cannot run
PROGRAM = ("bench.py", "__spark_entry__.py",
           "martial_arts_ocr_spark/engine/resume.py",
           "martial_arts_ocr_spark/engine/curate.py")


def group_pids(pgid: int) -> list[int]:
    """Every live (not zombie) process in process group ``pgid``."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii",
                      errors="replace") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            pids.append(int(name))
    return pids


def group_rss_mb(pgid: int) -> float:
    """Resident MB of every process in a process group."""
    total = 0
    for pid in group_pids(pgid):
        try:
            with open(f"/proc/{pid}/statm", encoding="ascii") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * PAGE / 2**20


class RssSampler(threading.Thread):
    """Peak resident memory of one process group, sampled from /proc by
    a thread of this process, so the sampled processes pay nothing."""

    def __init__(self, pgid: int, period: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.pgid, self.period = pgid, period
        self.peak_mb = 0.0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak_mb = max(self.peak_mb, group_rss_mb(self.pgid))
            self._stop_evt.wait(self.period)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def _kill_group(pgid: int) -> None:
    """Kill what is left of a repetition's process group and wait until
    it is gone."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    for _ in range(200):
        if not group_pids(pgid):
            return
        time.sleep(0.05)


def run_rep(workload: str, seed: int, idx: int, deadline: float,
            trace: bool = False, check: bool = False,
            setup_only: bool = False) -> dict:
    work = os.path.join(WORK, f"rep{idx}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(WORK, f"rep{idx}.json")
    log_path = os.path.join(WORK, f"rep{idx}.log")
    # every file Spark, the JVMs and the Python workers write stays in the
    # repetition's work dir (no hsperfdata in /tmp either)
    env = dict(os.environ, PYTHONPATH=ROOT, TMPDIR=tmp,
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    cmd = [sys.executable, "-m", "perfbench.rep", "--workload", workload,
           "--seed", str(seed), "--trace", str(int(trace)),
           "--check", str(int(check)), "--setup-only", str(int(setup_only)),
           "--work", work, "--out", out]
    with open(log_path, "w", encoding="utf-8") as log:
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        mem = RssSampler(proc.pid)
        mem.start()
        try:
            code = proc.wait(timeout=max(deadline - time.monotonic(), 1))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            mem.stop()
            _kill_group(proc.pid)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        with open(log_path, encoding="utf-8", errors="replace") as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exit code {code}"
        raise RuntimeError(f"{workload} repetition {idx} {why}:\n{tail}")
    with open(out, encoding="utf-8") as f:
        res = json.load(f)
    res["process_s"] = time.monotonic() - t0
    res["peak_rss_mb"] = mem.peak_mb
    return res


def anchor() -> dict:
    import bench

    a = bench.kernel_anchor(n_pages=200, reps=3)
    with open("/proc/loadavg", encoding="ascii") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"kernel_docs_per_s": a["docs_per_sec"], "loadavg": load}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [p for p in PROGRAM if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)            # bench.kernel_anchor
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    t_start = time.monotonic()
    deadline = t_start + DEADLINE_S
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    try:
        context = {"workload": args.workload, "seed": args.seed,
                   "cpus": len(os.sched_getaffinity(0)), "start": anchor()}
        if args.trace:
            plain = run_rep(args.workload, args.seed, 0, deadline)
            traced = run_rep(args.workload, args.seed, 1, deadline,
                             trace=True, check=True)
            jobs, setups = [plain, traced], [traced]
        else:
            jobs = [run_rep(args.workload, args.seed, 0, deadline,
                            check=True)]
            setups = list(jobs)
            while len(setups) < MIN_SETUPS or (
                    len(setups) < MAX_SETUPS
                    and time.monotonic() - t_start < args.seconds):
                setups.append(run_rep(args.workload, args.seed, len(setups),
                                      deadline, setup_only=True))
        context["end"] = anchor()
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    errors = [e for r in jobs for e in r["errors"]]
    context.update({
        "items_per_job": jobs[0]["docs"],
        "errors": errors[:20],
        "job_wall_s": [r["wall_s"] for r in jobs],
        "peak_rss_mb": [r["peak_rss_mb"] for r in jobs],
        "setup_s": [sum(r["setup"].values()) for r in setups],
        "process_s": [r["process_s"] for r in jobs + setups[1:]],
        "job_detail": [r.get("detail") for r in jobs],
    })
    if args.trace:
        measured = dict(traced["setup"], **traced["layers"])
        measured["trace.overhead_s"] = traced["wall_s"] - plain["wall_s"]
        declared = spec["per_layer"]
    else:
        measured = {"wall_s": jobs[0]["wall_s"],
                    "setup_s": statistics.median(context["setup_s"])}
        declared = spec["end_to_end"]
    names = {m["name"] for m in declared}
    context["unlisted"] = {k: v for k, v in measured.items()
                           if k not in names}
    print(json.dumps(context))
    print(json.dumps({
        "correct": not errors,
        "attempted": sum(r["docs"] for r in jobs),
        "failed": sum(r["failed"] for r in jobs),
        "metrics": {m["name"]: {"value": measured[m["name"]],
                                "unit": m["unit"]} for m in declared},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
