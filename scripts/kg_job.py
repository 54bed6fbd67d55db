#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline (north rule:
``run via spark-submit --py-files on a multi-executor cluster``).

Usage:
  spark-submit --py-files rbs.zip scripts/kg_job.py \
      --input /path/turns_parquet --parallelism 8 [--output /path/out]

Reads the turns table, runs the full pipeline (one (conv_id, turn block)
repartition -> one mapInPandas: mention detection, linking,
canonicalization and window triple pairing), forces materialization (noop sink, or a partitioned graph-table write when --output
is given) and prints ONE JSON line with wall-clock + turns/sec. The master
is taken from spark-submit's --master (local[N] here; a cluster manager URL
on a real cluster — the job code is identical).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--parallelism", type=int, required=True)
    ap.add_argument("--output", default=None)
    ap.add_argument("--window-turns", type=int, default=2)
    ap.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="defaults to max(8, parallelism); set by data volume on a "
        "real cluster (AQE coalesces the excess)",
    )
    args = ap.parse_args()
    shuffle_parts = args.shuffle_partitions or max(8, args.parallelism)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName(f"rbs-kg-job-p{args.parallelism}")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from reach_banner_spark import schemas
    from reach_banner_spark.fixtures import ensure_model, make_lexicon
    from reach_banner_spark.plans.pipeline import run_pipeline

    turns = spark.read.parquet(args.input)
    n_turns = turns.count()
    lexicon = spark.createDataFrame(make_lexicon(), schema=schemas.LEXICON)
    model_path = ensure_model()

    # Warm-up, excluded from timing (the gate is STEADY-STATE throughput at
    # 10^12-turn scale; cold JVM classloading and per-worker python imports
    # are per-process constants, not per-data costs — and on this sandbox's
    # slow disk they are also the dominant run-to-run noise):
    # 1. JVM + codegen warm;
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # 2. python worker pool + numpy/model/lexicon-index imports warm (a
    #    4096-turn slice through the REAL run_pipeline that is timed, on
    #    every task slot);
    run_pipeline(
        turns.limit(4096), lexicon, model_path, window_turns=args.window_turns
    ).write.format("noop").mode("overwrite").save()

    t0 = time.time()
    triples = run_pipeline(
        turns, lexicon, model_path, window_turns=args.window_turns
    )
    if args.output:
        from reach_banner_spark.sources.tables import write_graph_table

        manifest = write_graph_table(triples, args.output, bucket_col="conv_id")
        n_triples = manifest["total_rows"]
    else:
        triples.write.format("noop").mode("overwrite").save()
        n_triples = -1
    wall = time.time() - t0

    print(
        json.dumps(
            {
                "job": "kg_pipeline",
                "parallelism": args.parallelism,
                "turns": n_turns,
                "triples": n_triples,
                "wall_sec": round(wall, 2),
                "turns_per_sec": round(n_turns / wall, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
