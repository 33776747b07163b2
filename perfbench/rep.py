"""One repetition of one workload in a fresh Python process, so no cache
keyed by Spark application or by input path survives from an earlier
repetition. Writes its measurements as JSON to ``--out``.

    python3 -m perfbench.rep --workload extract --seed 1 --trace 0 \
        --check 1 --work <fresh dir> --out <file.json>

Set-up is the session build, the Python-worker warmup and the input
materialisation; ``--setup-only 1`` stops after it. A traced repetition
traces the workload's job, then sets up and runs every other layer group
traced on the same session, so each traced run reports every per-layer
metric. The run.py docstring describes the workloads."""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time

# layer groups; the first two are also workloads
GROUPS = {"extract": "perfbench.extract_wl",
          "queries": "perfbench.queries_wl",
          "curate": "perfbench.curate_wl"}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(GROUPS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--check", type=int, choices=(0, 1), default=1)
    ap.add_argument("--setup-only", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    from perfbench.common import start_session

    spark, build_s, warm_s = start_session(f"perfbench-{args.workload}")
    try:
        group = importlib.import_module(GROUPS[args.workload])
        t0 = time.perf_counter()
        inputs = group.prepare(spark, os.path.join(args.work, args.workload),
                               args.seed)
        setup = {"session.build_s": build_s, "session.warm_s": warm_s,
                 "fixtures.gen_s": time.perf_counter() - t0}
        res = {}
        if not args.setup_only:
            res = group.run_in(spark, inputs, args.seed, bool(args.trace),
                               bool(args.check))
        if args.trace:
            # probe groups skip the output check of their own workload's
            # runs (curate, no workload, checks its outputs every time)
            for name in GROUPS:
                if name != args.workload:
                    probe = importlib.import_module(GROUPS[name])
                    r = probe.run_in(spark, probe.prepare(
                        spark, os.path.join(args.work, name), args.seed),
                        args.seed, True, False)
                    res["errors"] += r["errors"]
                    res["layers"].update(r["layers"])
    finally:
        spark.stop()
    res["setup"] = setup
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
