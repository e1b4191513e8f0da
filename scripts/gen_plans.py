#!/usr/bin/env python
"""Generate PLANS.md — physical-plan evidence for the scale-critical choices:
broadcast joins, partial+final hash aggregates, TakeOrderedAndProject top-K,
parquet filter/column pushdown, and the salted two-phase aggregate shape."""

from __future__ import annotations

import os
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402

from mongo_log_parser_spark.operators import joins, route, salting  # noqa: E402
from mongo_log_parser_spark.plans import pipeline  # noqa: E402
from mongo_log_parser_spark.session import build_session  # noqa: E402


def fmt(df, max_lines=40):
    s = df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    # paths relative to the checkout, so the file does not depend on where it lives
    lines = s.replace(f"file:{_ROOT}/", "file:").splitlines()
    return "\n".join(lines[:max_lines]) + ("\n  ..." if len(lines) > max_lines else "")


def main():
    spark = build_session(master="local[8]", shuffle_partitions=8)
    pages = pipeline.read_pages(spark, sf=0.001)
    s = route.split_streams(pages)
    # the sinks as production plans them (pipeline.plan_sinks)
    sinks = pipeline.plan_sinks(s)
    sections = []

    ll = pipeline.read_lookup(spark, "lang_locale")
    hc = pipeline.read_lookup(spark, "host_class")
    sections.append((
        "Lookup enrich — BroadcastHashJoin, no shuffle of the page stream",
        "Both lookups broadcast; the big side never exchanges.",
        fmt(joins.enrich_pages(pages, ll, hc), 30),
    ))
    sections.append((
        "Main-ops aggregate — partial+final aggregation around one Exchange",
        "The reference's synchronized HashMap becomes map-side partial "
        "aggregation + a single shuffle on the group key. The node is "
        "ObjectHashAggregate because percentile_approx (like any "
        "TypedImperativeAggregate) requires it — but its per-group state is "
        "a bounded, mergeable KLL-style sketch (accuracy=100k), unlike exact "
        "percentile's buffer-every-value state that this replaced (executor "
        "OOM risk on heavy-hitter groups at 100 TB).",
        fmt(sinks["main_ops"], 34),
    ))
    sections.append((
        "Slow-planning top-K — TakeOrderedAndProject",
        "Per-partition top-50 then merge: the distributed version of the "
        "reference's running-threshold prune (O7).",
        fmt(sinks["slow_planning"], 24),
    ))
    pruned = pages.filter(F.col("warc_ts") < "2025-07-03").select("url", "warc_ts")
    sections.append((
        "Scan pushdown — PushedFilters + pruned ReadSchema",
        "Day filters reach the parquet scan (row-group stats pruning at scale); "
        "the binary html column is absent from ReadSchema.",
        fmt(pruned, 20),
    ))
    sections.append((
        "Salted two-phase aggregate — two HashAggregate pairs, hot key spread over 32 salts",
        "groupBy(keys, salt) partials then groupBy(keys) merge (O11).",
        fmt(salting.salted_op_rollup(s["ops"]), 40),
    ))
    shard_pages = pages.withColumn("shard", F.substring(F.md5(F.col("url")), 1, 1))
    shard_sinks = pipeline.plan_sinks(route.split_streams(shard_pages), shards=True)
    sections.append((
        "Per-shard rollup (per_shard_grouped) — shard as a group key, ONE Exchange, zero Unions",
        "--shards mode: the reference's per-ShardInfo accumulator map "
        "(LogParser.java:557-565) becomes extra group-key arity in the same "
        "single hash aggregate — no driver-side shard enumeration, no "
        "per-shard rescans; cost grows with key cardinality, not with "
        "shards x full scans.",
        fmt(shard_sinks["shard_main_ops"], 34),
    ))

    with open(os.path.join(_ROOT, "PLANS.md"), "w") as f:
        f.write("# PLANS — physical-plan evidence (`explain('formatted')`, sf0.001, local[8])\n\n")
        f.write("Generated by scripts/gen_plans.py; regenerate after plan-affecting changes. "
                "Hand-written plan notes are in [PLANS_NOTES.md](PLANS_NOTES.md).\n\n")
        for title, note, plan in sections:
            f.write(f"## {title}\n\n{note}\n\n```\n{plan}\n```\n\n")
    spark.stop()
    print("PLANS.md written")


if __name__ == "__main__":
    main()
