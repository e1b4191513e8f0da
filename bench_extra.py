#!/usr/bin/env python
"""Per-stage / per-sink isolation bench + plan dumper (guide §1.1/§1.4).

NOT the frozen driver bench (bench.py) — this is the optimization-round
instrumentation harness. It mirrors bench.py's methodology exactly where
comparability matters:

  - same session shape (local[$SPARK_GRAFT_CPUS capped at 16], shuffle=16)
  - same per-sink measurement as bench.py step 6 (count-aggregate collect —
    Catalyst prunes unused aggregate expressions, identical to what the
    frozen bench times)
  - same checkpointed pipeline.build()

and adds what bench.py deliberately does not do:

  - stage-split timings for the checkpoint phase (kept write / ops write)
  - optional noop-sink full materialization per sink (computes EVERY column,
    guide §1.4) via --noop
  - .explain("formatted") dumps per sink via --plans DIR
  - job description labels per step (guide §1.5)

Usage:
  python bench_extra.py [--sf 1.0] [--plans plans/r06/suffix] [--noop]
                        [--repeat N] [--tag note]
Prints one JSON line with all timings.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=1.0)
    ap.add_argument("--plans", default=None, help="directory for explain dumps")
    ap.add_argument("--suffix", default="", help="filename suffix for plan dumps, e.g. _before")
    ap.add_argument("--noop", action="store_true", help="also time full noop-sink materialization")
    ap.add_argument("--repeat", type=int, default=1, help="repeat count for sink timings (min reported)")
    ap.add_argument("--tag", default="")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.session import build_session
    from mongo_log_parser_spark.sources import datagen

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cpu_width = min(cpus, 16)
    pages_path = datagen.ensure_pages(args.sf)
    spark = build_session(app_name="bench-extra", master=f"local[{cpu_width}]",
                          shuffle_partitions=16)
    sc = spark.sparkContext
    out: dict = {"sf": args.sf, "width": cpu_width, "tag": args.tag}

    # warmup (same as bench.py _Session: spawn workers, JIT, page cache)
    sc.setJobDescription("warmup")
    warm = spark.read.parquet(pages_path).limit(20000)
    wsinks = pipeline.plan_sinks(route.split_streams(warm))
    from functools import reduce
    counts = [df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(n).alias("sink"), "n")
              for n, df in wsinks.items()]
    reduce(lambda a, b: a.unionByName(b), counts).collect()

    # ---- stage-split checkpoint phase ----
    pages = spark.read.parquet(pages_path)
    sc.setJobDescription("pipeline.build (checkpoint writes)")
    t0 = time.time()
    res = pipeline.build(pages)
    out["build_checkpoints_sec"] = round(time.time() - t0, 3)
    t0 = time.time()
    res.streams["ops"].count()
    out["ops_count_sec"] = round(time.time() - t0, 3)
    out["parse_route_extract"] = round(out["build_checkpoints_sec"] + out["ops_count_sec"], 3)

    # ---- per-sink timings, bench.py step-6 methodology ----
    sink_times: dict[str, float] = {}
    for _ in range(args.repeat):
        for name, df in res.sinks.items():
            sc.setJobDescription(f"sink:{name} count-agg")
            tq = time.time()
            df.agg(F.count(F.lit(1))).collect()
            dt = round(time.time() - tq, 3)
            sink_times[name] = min(sink_times.get(name, 1e9), dt)
    out["queries"] = sink_times

    # ---- one-action union (the headline's shape) ----
    sc.setJobDescription("all-sink union count (headline action shape)")
    counts = [df.agg(F.count(F.lit(1)).alias("n")).select(F.lit(n).alias("sink"), "n")
              for n, df in res.sinks.items()]
    t0 = time.time()
    reduce(lambda a, b: a.unionByName(b), counts).collect()
    out["union_action_sec"] = round(time.time() - t0, 3)

    # ---- optional: full materialization via noop (guide §1.4) ----
    if args.noop:
        noop_times = {}
        for name, df in res.sinks.items():
            sc.setJobDescription(f"sink:{name} noop full materialization")
            tq = time.time()
            df.write.format("noop").mode("overwrite").save()
            noop_times[name] = round(time.time() - tq, 3)
        out["noop"] = noop_times

    # ---- plan dumps ----
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
        for name, df in res.sinks.items():
            p = os.path.join(args.plans, f"{name}{args.suffix}.txt")
            with open(p, "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
        # the checkpointed streams' plans too
        for sname in ("kept", "ops"):
            with open(os.path.join(args.plans, f"stream_{sname}{args.suffix}.txt"), "w") as f:
                df = res.streams[sname]
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df.queryExecution() if hasattr(df, "queryExecution")
                    else df._jdf.queryExecution(), "formatted"))

    res.unpersist()
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
