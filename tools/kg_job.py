#!/usr/bin/env python
"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north_rule contract):

    zip -r kgpipe.zip openie_spark
    spark-submit --py-files kgpipe.zip tools/kg_job.py \
        --input  <transcripts dir / Iceberg table path> \
        --output <warehouse dir> [--backend rule|neural] [--no-resume]

Local usage (also how the scaling bench invokes it):

    python tools/kg_job.py --input /root/testdata/sf0.01 --output /tmp/kg \
        --master "local[8]"

Extraction backends: ``rule`` (codegen column expressions, the
default) and ``neural`` (the BiLSTM+CRF tagger, stages B and D each
one mapInPandas). Entity linking is exact blocked token Jaccard.

Prints the pipeline summary (stage rows/seconds, triples/sec) as one
JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from openie_spark.pipeline import (
        ANALYTICS_STAGES,
        ENRICH_STAGES,
        EXPORT_STAGES,
        KGPipeline,
    )
    from openie_spark.session import driver_memory, tune_runtime

    def names(stages) -> str:
        return ", ".join(s.name for s in stages)

    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--backend", default="rule", choices=["rule", "neural"])
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--analytics", action="store_true",
                    help="Also materialize the stage-I graph analytics "
                         f"tables ({names(ANALYTICS_STAGES)}) with manifests.")
    ap.add_argument("--export", action="store_true",
                    help="Also materialize the consumer-facing sinks "
                         f"({names(EXPORT_STAGES)}).")
    ap.add_argument("--enrich", action="store_true",
                    help="Also materialize the stage-I+ enrichment tables "
                         f"({names(ENRICH_STAGES)}).")
    ap.add_argument("--prior", default=None,
                    help="Incremental mode: merge --input (NEW conv_ids "
                         "only) into the completed pipeline output at this "
                         "dir (kg/incremental.py); the output dir is "
                         "self-contained and chains as the next --prior. "
                         "KG stages only: rejects --analytics/--export/--enrich.")
    ap.add_argument("--master", default=None,
                    help="Override master (local runs). Under spark-submit leave unset.")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--driver-memory", default=driver_memory(),
                    help="Heap for local-mode runs (local = all tasks share "
                         "the driver JVM); default $SPARK_GRAFT_DRIVER_MEM, "
                         "else min(8g, RAM/4). Ignored under spark-submit "
                         "--deploy-mode cluster.")
    ap.add_argument("--max-cores", type=int, default=None,
                    help="spark.cores.max — with a standalone master and "
                         "--executor-cores C this fixes the executor count at "
                         "max_cores/C (the N vs 4N lever).")
    ap.add_argument("--executor-cores", type=int, default=8)
    ap.add_argument("--executor-memory", default="16g")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    builder = (SparkSession.builder.appName("openie-kg-job")
               .config("spark.driver.memory", args.driver_memory))
    if args.max_cores:
        builder = (builder
                   .config("spark.cores.max", str(args.max_cores))
                   .config("spark.executor.cores", str(args.executor_cores))
                   .config("spark.executor.memory", args.executor_memory))
    if args.master:
        builder = builder.master(args.master)
    spark = tune_runtime(builder.getOrCreate())  # ships the package to the workers
    if args.shuffle_partitions:
        spark.conf.set("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark.sparkContext.setLogLevel("ERROR")

    if "://" not in args.output:        # remote warehouse paths are
        os.makedirs(args.output, exist_ok=True)  # created by the FS writers
    pipe = KGPipeline(spark, args.input, args.output,
                      backend=args.backend,
                      analytics=args.analytics, export=args.export,
                      enrich=args.enrich)
    if args.prior:
        summary = pipe.run_incremental(prior_dir=args.prior,
                                       resume=not args.no_resume)
    else:
        summary = pipe.run(resume=not args.no_resume)
    print(json.dumps(summary, sort_keys=True))
    spark.stop()


if __name__ == "__main__":
    main()
