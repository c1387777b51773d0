#!/usr/bin/env python3
"""Fast self-test of the benchmark itself.

    python3 perfbench/selftest.py

In one driver process, runs every workload listed in BENCHMARK.json
once untraced and once traced, at scale 1, and checks that each run
is correct and emits exactly the metrics BENCHMARK.json names, each
with its unit. Then it corrupts one lane's output and checks that the
run reports the mismatch as a failure. Exits 0 when all checks pass.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import run as bench_run  # noqa: E402

CORRUPT_LANE = "pipeline_results_json"


def tiny(w: bench_run.Workload) -> bench_run.Workload:
    return dataclasses.replace(w, scale=1, job_limit=min(w.job_limit, 300))


def main() -> int:
    spec = json.load(open(os.path.join(bench_run.ROOT, "BENCHMARK.json")))
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    root = os.path.join(bench_run.ROOT, ".perfbench", f"selftest-{os.getpid()}")
    bench_run.configure_jvm(root, trace=True)
    problems = []
    spark = None
    try:
        for entry in spec["workloads"]:
            w = tiny(bench_run.WORKLOADS[entry["name"]])
            for trace in (0, 1):
                run = bench_run.Run(w, 1, os.path.join(root, f"{w.name}-{trace}"),
                                    bool(trace))
                run.eventlog = os.path.join(root, "eventlog")
                run.make_inputs()
                run.spark = spark
                run.set_up(1)
                spark = run.spark
                out = bench_run.summary(run, bench_run.execute(run, 0.1))
                got = {k: v["unit"] for k, v in out["metrics"].items()}
                if got != want[trace]:
                    problems.append(f"{w.name} trace={trace}: metrics {got} != {want[trace]}")
                if not out["correct"] or out["failed"]:
                    problems.append(f"{w.name} trace={trace}: failed {run.errors}")
                print(f"ran {w.name} trace={trace}: {len(got)} metrics, "
                      f"attempted {out['attempted']}, failed {out['failed']}", flush=True)

        w = tiny(bench_run.WORKLOADS["obs_pipeline"])
        run = bench_run.Run(w, 1, os.path.join(root, "corrupt"), False)
        run.make_inputs()
        run.spark = spark
        run.set_up(1)
        out = bench_run.summary(run, bench_run.execute(run, 0.1, corrupt=CORRUPT_LANE))
        if out["correct"] or out["failed"] < 1:
            problems.append("a corrupted lane output was not reported as a failure")
        print(f"corrupted {CORRUPT_LANE}: correct={out['correct']} "
              f"failed={out['failed']} {run.errors}", flush=True)
    finally:
        bench_run.stop_jvm(spark)
        shutil.rmtree(root, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
