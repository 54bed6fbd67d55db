"""KG-construction benchmark: one workload per process.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 8 --trace 0

Run from the repository root. Prints one readable line per metric, then, as
the last line, a JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics of BENCHMARK.json with ``--trace 0``,
the per-layer ones with ``--trace 1``). Everything the run writes stays
under ``perfbench/.work``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

UNITS = {
    "setup_s": "s",
    "turns_per_s": "1/s",
    "step_p50_s": "s",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
    "microbatch_p50_s": "s",
    "session.start_s": "s",
    "sources.scan_s": "s",
    "mentions.busy_s": "s",
    "mentions.turns_per_s": "1/s",
    "mentions.rows": "count",
    "linking.busy_s": "s",
    "linking.hit_frac": "ratio",
    "linking.rows": "count",
    "canonicalize.busy_s": "s",
    "canonicalize.rep_map_s": "s",
    "triples.busy_s": "s",
    "triples.rows": "count",
    "triples.per_mention": "ratio",
    "tables.write_s": "s",
    "tables.read_s": "s",
    "tables.bytes_per_input_byte": "ratio",
    "checkpoint.cold_s": "s",
    "checkpoint.resume_s": "s",
    "checkpoint.cold_vs_oneshot_ratio": "ratio",
    "streaming.batches": "count",
    "streaming.batch_fixed_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "op.cpu_s": "s",
    "trace.overhead_s": "s",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of this process, the JVM and the Python
    workers into this run's directory. Must run before pyspark starts."""
    import tempfile

    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # no JVM perf-data files outside the run directory (launcher and Spark JVMs)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def start_session(run_dir: str):
    from reach_banner_spark.session import build_session

    n = cores()
    spark = build_session(
        app_name="perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def alive(pid: int) -> bool:
    """Running, as opposed to gone or a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, the JVM and its Python workers, and wait for each."""
    from pyspark import SparkContext

    from harness import descendants

    pids = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        live = [p for p in pids if alive(p)]
        if not live:
            return
        time.sleep(0.1)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import pyspark

    import reach_banner_spark  # noqa: F401  (fail fast when the program is absent)
    from harness import RssSampler, Tracer, cpu_jiffies, steal_frac
    from workloads import WORKLOADS, Ctx, run

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)

    rss = RssSampler().start()
    jiffies = cpu_jiffies()
    tracer = Tracer(bool(args.trace), f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        t0 = time.perf_counter()
        spark = start_session(run_dir)
        session_s = time.perf_counter() - t0
        try:
            ctx = Ctx(spark, args.workload, args.seed, args.seconds, tracer, run_dir,
                      os.path.join(WORK, "cache"))
            metrics = run(ctx, session_s, rss)
            host = {
                "workload": args.workload,
                "seed": args.seed,
                "trace": args.trace,
                "turns": ctx.info["turns"],
                "input_bytes": ctx.info["input_bytes"],
                "cores": cores(),
                "spark": spark.version,
                "pyspark": pyspark.__version__,
                "python": platform.python_version(),
                "steal_frac": steal_frac(jiffies, cpu_jiffies()),
            }
        finally:
            stop_session(spark)
    finally:
        rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    if args.trace:
        tracer.write(os.path.join(WORK, "spans", f"{tracer.trace_id}.jsonl"), host)
    print("# " + json.dumps(host))
    report(ctx, metrics)
    return 0


def report(ctx, metrics: dict) -> dict:
    """Print one readable line per metric (plus the workload-specific ones
    and span self times), then the result object as the last line."""
    print(f"# warm_up_s {ctx.info['warm_up_s']:.4f}")
    for sample in ctx.info.get("samples", []):
        print("# sample " + json.dumps(sample))
    extra = {k: v for k, v in ctx.info.items() if k in UNITS}
    failed_frac = ctx.failed / max(ctx.attempted, 1)
    for name, value in {**metrics, **extra, "failed_frac": failed_frac}.items():
        print(f"{ctx.workload} {name} {value:.6g} {UNITS[name]}")
    for name, value in sorted(ctx.info.get("self_s", {}).items()):
        print(f"{ctx.workload} self_s[{name}] {value:.4f} s")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return result


if __name__ == "__main__":
    sys.exit(main())
