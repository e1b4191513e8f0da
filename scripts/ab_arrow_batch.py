#!/usr/bin/env python
"""A/B the Arrow batch size of the parse stage (round-4 verdict item 1).

Round-4 halved spark.sql.execution.arrow.maxRecordsPerBatch to 5000 to stop
the round-3 Python-worker crash; the per-sink parse_route_extract timing then
walked 12.0 s (r2, batch=10000) -> 26.7 s (r3) -> 58.8 s (r4, batch=5000) and
the cause was never isolated. This harness measures exactly the bench's
parse_route_extract quantity (pipeline.build stage-checkpoint writes +
ops.count) at both batch sizes, interleaved A/B/A/B to cancel host drift,
with a pure-CPU probe before every run so co-tenant noise is visible.

maxRecordsPerBatch is a runtime SQLConf, so one session serves both arms.

Usage: python scripts/ab_arrow_batch.py [sf] [runs_per_arm]
Prints one JSON line.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import sys
import time


# Local copies of bench.py's _burn/cpu_probe, kept INTENTIONALLY: this script
# is a frozen evidence artifact (BENCH/AB_ARROW_BATCH.md cites its exact
# protocol) and must not change behavior if bench.py's canonical probe evolves.
# It runs single-shot in the foreground, so bench.py's SIGTERM emitter guard
# does not apply here.
def _burn(k):
    s = 0
    for i in range(k):
        s += i * i
    return s


def cpu_probe(procs: int = 4, n: int = 3_000_000) -> float:
    t0 = time.time()
    with mp.get_context("fork").Pool(procs) as p:
        p.map(_burn, [n] * procs)
    return round(time.time() - t0, 3)


def main() -> None:
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.session import build_session
    from mongo_log_parser_spark.sources import datagen

    path = datagen.ensure_pages(sf)
    spark = build_session(app_name="ab-arrow-batch", master="local[16]",
                          shuffle_partitions=16)
    # warmup (spawns workers, JITs, primes page cache)
    warm = pipeline.plan_sinks(route.split_streams(spark.read.parquet(path).limit(20000)))
    from pyspark.sql import functions as F
    for df in warm.values():
        df.agg(F.count(F.lit(1))).collect()

    pages = spark.read.parquet(path)
    out = {"sf": sf, "runs_per_arm": runs, "times": {"5000": [], "10000": []},
           "probes": []}
    for _ in range(runs):
        for batch in (5000, 10000):
            out["probes"].append(cpu_probe())
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", str(batch))
            t0 = time.time()
            res = pipeline.build(pages)
            res.streams["ops"].count()
            out["times"][str(batch)].append(round(time.time() - t0, 2))
            res.unpersist()
            print(f"# batch={batch}: {out['times'][str(batch)][-1]} s "
                  f"(probe {out['probes'][-1]})", flush=True)
    for k, ts in out["times"].items():
        out[f"min_{k}"] = min(ts)
        out[f"median_{k}"] = sorted(ts)[len(ts) // 2]
    spark.stop()
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
