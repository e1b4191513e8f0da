#!/usr/bin/env python
"""spark-submit main for the multi-executor scaling measurement.

Runs the identical timed job bench.py times in local mode — stage-checkpointed
parse→route→extract plus every sink aggregate materialized in one action —
but under whatever master spark-submit provides (local-cluster[N,C,M] here:
a real standalone master with N separate executor JVMs). Prints one JSON line
{"elapsed_sec": ..., "pages": ...}; session/JVM startup is excluded from the
timing, a warmup run primes executor Python workers and JIT.

Usage (see scripts/bench_cluster.py for the orchestrator):
    spark-submit --master local-cluster[4,4,6144] --py-files mlp.zip \
        scripts/cluster_timed_job.py --sf 0.3
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from functools import reduce


def all_sink_counts(sinks):
    from pyspark.sql import functions as F

    counts = [
        df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(name).alias("sink"), "n")
        for name, df in sinks.items()
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.3)
    args = ap.parse_args()

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.session import build_session
    from mongo_log_parser_spark.sources import datagen

    spark = build_session(app_name="cluster-timed-job")  # master from spark-submit
    pages_path = datagen.ensure_pages(args.sf)
    n_pages = max(100, int(datagen.BASE_ROWS * args.sf))

    # Warmup must touch EVERY executor (limit() would run on one input file =
    # one executor, leaving the others to pay pandas/orjson import + JIT
    # inside the timed run): sample() keeps all part-files in the scan, so
    # each executor's Python workers get primed.
    warm = spark.read.parquet(pages_path).sample(fraction=0.03, seed=7)
    all_sink_counts(pipeline.plan_sinks(route.split_streams(warm))).collect()

    pages = spark.read.parquet(pages_path)
    t0 = time.time()
    res = pipeline.build(pages)
    t_build = time.time() - t0  # parse + kept/ops checkpoint writes
    all_sink_counts(res.sinks).collect()
    elapsed = time.time() - t0
    res.unpersist()

    print(json.dumps({
        "elapsed_sec": round(elapsed, 3),
        "build_sec": round(t_build, 3),
        "agg_sec": round(elapsed - t_build, 3),
        "pages": n_pages,
        "master": spark.conf.get("spark.master"),
        "default_parallelism": spark.sparkContext.defaultParallelism,
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
