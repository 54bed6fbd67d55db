"""Self-test of the benchmark (not of the program): every workload at a tiny
size, untraced and traced, must report exactly the metrics BENCHMARK.json
names, each with its unit and a finite value; and an output damaged before
the checks see it must come back as failed operations.

    python3 perfbench/selftest.py      # from the repository root, ~3 min
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as cli  # noqa: E402


def main() -> int:
    sys.path.insert(0, cli.ROOT)
    from harness import RssSampler, Tracer
    from workloads import TINY, WORKLOADS, Ctx, run

    with open(os.path.join(cli.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        raise SystemExit(f"BENCHMARK.json workloads != {WORKLOADS}")
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }

    run_dir = os.path.join(cli.WORK, f"selftest-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    cli.prepare_env(run_dir)
    rss = RssSampler().start()
    problems = []
    try:
        t0 = time.perf_counter()
        spark = cli.start_session(run_dir)
        session_s = time.perf_counter() - t0
        try:
            for workload in WORKLOADS:
                for trace, corrupt in ((0, False), (1, False), (0, True)):
                    ctx = Ctx(spark, workload, 7, 0, Tracer(bool(trace), f"selftest-{workload}"),
                              os.path.join(run_dir, f"{workload}-{trace}-{corrupt}"),
                              os.path.join(run_dir, "cache"), sizes=TINY, corrupt=corrupt)
                    os.makedirs(ctx.work)
                    result = cli.report(ctx, run(ctx, session_s, rss))
                    label = f"{workload} trace={trace} corrupt={corrupt}"
                    got = {k: v["unit"] for k, v in result["metrics"].items()}
                    if got != want[trace]:
                        problems.append(f"{label}: metrics {got} != {want[trace]}")
                    if not all(math.isfinite(v["value"]) for v in result["metrics"].values()):
                        problems.append(f"{label}: non-finite value")
                    if result["attempted"] < 1:
                        problems.append(f"{label}: nothing attempted")
                    if corrupt and (result["failed"] == 0 or result["correct"]):
                        problems.append(f"{label}: corrupted output passed the checks")
                    if not corrupt and (result["failed"] or not result["correct"]):
                        problems.append(f"{label}: {result['failed']} failed operations")
        finally:
            cli.stop_session(spark)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for p in problems:
        print("SELFTEST FAIL: " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
