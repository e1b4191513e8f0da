"""The traced half of a --trace 1 run: traced user calls, the isolation
stack, and the ledger assembled from spans, py4j counts and the event log.

Every traced run measures both user entry points on the workload's input, so
each ledger line has one definition on every workload:

- `run_job` (the report path) with pipeline.build and the three report
  writers wrapped in spans, and the sink builders wrapped to count their
  py4j calls;
- `manifest.run_resumable` (the ingest path) with its parquet writes (split
  by the data directory they write, kept/ or ops/), its parquet reads, its
  plan builders (`route.split_streams`, `route.extract_ops`, the prefilter
  counters, `manifest.day_key`) and its day listing (`DataFrame.collect`)
  wrapped in spans, and the manifest's commit row found as py4j `create` ...
  `close` windows;
- the isolation stack: noop writes of the scan, of the scan plus the
  prefilter flags, and of `route.routed_parse`, each layer's self time being
  its time minus the layer below; then one `pipeline.build` and a noop
  write (full materialization, every column) of each report sink.

The workload's own call is traced first, so it is traced cold, as it is
measured. Its top-level layers are each timed on their own (spans, jobs
started outside any span, commit windows), and their times must sum to
within TOLERANCE of the call's untraced wall time, taken as the traced wall
minus the time the tracing itself added (tracing.overhead_s). Time the layers
miss, such as driver work outside every wrapped function, fails the check.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

from perfbench import check
from perfbench.ledger import (SINK_METRICS, Py4jCounter, Tracer, busy, peak_rss_mb,
                              read_event_log)

TOLERANCE = 0.10
ISOLATION_REPEATS = 2

PER_LAYER_UNITS = {
    "sources.scan_s": "s", "prefilter.flags_s": "s",
    "parse.self_s": "s", "parse.rows": "count", "parse.us_per_row": "us",
    "pipeline.build_s": "s", "pipeline.driver_s": "s", "pipeline.py4j_calls": "count",
    "pipeline.routed_mb": "MB", "pipeline.ops_mb": "MB", "pipeline.leftover_dirs": "count",
    **{name: "s" for name in SINK_METRICS.values()},
    "aggregates.py4j_calls": "count",
    "writers.parquet_s": "s", "writers.html_s": "s", "writers.json_s": "s",
    "writers.spark_jobs": "count",
    "manifest.kept_write_s": "s", "manifest.ops_write_s": "s",
    "manifest.other_jobs_s": "s", "manifest.commit_s": "s", "manifest.driver_s": "s",
    "manifest.py4j_calls": "count", "manifest.spark_jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.job_busy_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "route.rows_in": "count", "route.oversized": "count", "route.ignored": "count",
    "route.kept": "count", "route.ops": "count",
    "memory.peak_rss_mb": "MB", "memory.jvm_peak_mb": "MB",
    "memory.workers_peak_mb": "MB", "memory.driver_peak_mb": "MB",
    "tracing.overhead_s": "s", "tracing.layer_sum_s": "s",
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _write_span(writer, path, *args, **kwargs) -> str:
    """Span name of one DataFrameWriter.parquet call inside run_resumable. A
    write to neither data dir is no layer of the ledger, so its time shows
    as a gap in the layer-sum check."""
    for kind in ("kept", "ops"):
        if f"/{kind}/day=" in path:
            return f"manifest.{kind}_write"
    return "manifest.other_write"


def ingest_layers(rr, spans, jobs, commits) -> dict[str, float]:
    """Top-level layers of one traced run_resumable call `rr`, each timed on
    its own: its direct child spans (parquet writes by target; parquet reads
    and plan building as driver time; collects), the Spark jobs it started
    outside any child span, and the manifest commit windows."""
    def span_s(*names):
        return sum(s.wall for s in spans if s.name in names)

    return {
        "manifest.kept_write_s": span_s("manifest.kept_write"),
        "manifest.ops_write_s": span_s("manifest.ops_write"),
        "manifest.other_jobs_s": span_s("manifest.collect") + busy(
            [(j.start, j.end) for j in jobs if j.group == rr.group], rr.start, rr.end),
        "manifest.commit_s": sum(e - s for s, e in commits
                                 if s >= rr.start and e <= rr.end),
        "manifest.driver_s": span_s("manifest.read", "manifest.plan"),
    }


def layer_sum_problems(layer_sum: float, untraced_wall: float) -> list[str]:
    """The layers must account for the call's wall time within TOLERANCE."""
    if abs(layer_sum - untraced_wall) > TOLERANCE * untraced_wall:
        return [f"layer self times sum to {layer_sum:.3f} s, "
                f"untraced wall {untraced_wall:.3f} s"]
    return []


def run_traced(bench) -> dict:
    """Make the traced calls and the isolation stack on bench's live
    session; returns what ledger() needs once the event log is closed. The
    workload's own call goes first, so a cold workload is traced cold."""
    from pyspark.sql import DataFrameReader, DataFrameWriter
    from pyspark.sql import functions as F
    from pyspark.sql.classic.dataframe import DataFrame

    from mongo_log_parser_spark.functions import prefilter
    from mongo_log_parser_spark.operators import aggregates, joins, route
    from mongo_log_parser_spark.plans import manifest, pipeline
    from mongo_log_parser_spark.sinks import writers

    spark = bench.spark
    obs: dict = {"problems": []}

    def stage_sizes(span, res):
        span.extra["routed_mb"] = check.du_mb(os.path.join(res.workdir, "routed"))
        span.extra["ops_mb"] = check.du_mb(os.path.join(res.workdir, "ops"))

    def traced_run_job(tracer):
        out = bench.fresh_out()
        with contextlib.ExitStack() as stack:
            tracer.wrap(stack, pipeline, "build", "pipeline.build", after=stage_sizes)
            tracer.wrap(stack, writers, "write_parquet_sinks", "writers.parquet")
            tracer.wrap(stack, writers, "write_html_report", "writers.html")
            tracer.wrap(stack, writers, "write_json_report", "writers.json")
            tracer.count_builders(stack, {"aggregates": aggregates, "route": route,
                                          "joins": joins})
            with tracer.span("run_job"):
                bench.call(bench.pages, out, "run_job")
        obs["leftover_dirs"] = bench.leftover_stage_dirs()
        if bench.wl.call == "run_job":
            obs["problems"] += bench.check(out)
        shutil.rmtree(out, ignore_errors=True)

    def traced_run_resumable(tracer):
        out = bench.fresh_out()
        with contextlib.ExitStack() as stack:
            tracer.wrap(stack, DataFrameWriter, "parquet", _write_span)
            tracer.wrap(stack, DataFrameReader, "parquet", "manifest.read")
            tracer.wrap(stack, DataFrame, "collect", "manifest.collect")
            for module, fn_name in ((route, "split_streams"), (route, "extract_ops"),
                                    (prefilter, "is_oversized"),
                                    (prefilter, "should_ignore"), (manifest, "day_key")):
                tracer.wrap(stack, module, fn_name, "manifest.plan")
            with tracer.span("run_resumable"):
                bench.call(bench.pages, out, "run_resumable")
        obs["manifest_rows"] = check.manifest_rows(os.path.join(out, "ingest"))
        if bench.wl.call == "run_resumable":
            obs["problems"] += bench.check(out)
        shutil.rmtree(out, ignore_errors=True)

    calls = [traced_run_job, traced_run_resumable]
    if bench.wl.call != "run_job":
        calls.reverse()
    with Py4jCounter(spark) as counter:
        tracer = Tracer(spark, counter)
        for traced_call in calls:
            traced_call(tracer)

        # isolation stack over the same input
        pages = spark.read.parquet(bench.pages)
        text = F.col("text")
        levels = {
            "sources.scan": lambda: pages.filter(~prefilter.is_oversized(text)).drop("html"),
            "prefilter.flags": lambda: pages.filter(~prefilter.is_oversized(text)).drop(
                "html").select("*", prefilter.should_ignore(text), prefilter.is_ttl_line(text),
                               prefilter.ignored_category(text)),
            "parse": lambda: route.routed_parse(pages),
        }
        iso = {}
        for name, make in levels.items():
            times = []
            for _ in range(ISOLATION_REPEATS):
                with tracer.span("isolate." + name) as s:
                    _noop(make())
                times.append(s.wall)
            iso[name] = min(times)
        with tracer.span("isolate.pipeline.build"):
            res = pipeline.build(pages)
        try:
            for sink, df in res.sinks.items():
                with tracer.span("isolate." + sink) as s:
                    _noop(df)
                iso[sink] = s.wall
        finally:
            res.unpersist()
    obs.update(tracer=tracer, iso=iso, commits=counter.commits,
               builder_calls=tracer.builder_calls, py4j_cost_s=counter.per_call_cost(),
               peaks=peak_rss_mb(os.getpid()))
    return obs


def ledger(bench, obs: dict) -> tuple[dict, list[str]]:
    """Assemble the per-layer metrics after the session stopped."""
    log = read_event_log(bench.event_dir)
    tracer: Tracer = obs["tracer"]
    iso, rows = obs["iso"], obs["manifest_rows"]
    m: dict[str, float] = {}

    # report path
    rj = tracer.find("run_job")[0]
    build = tracer.find("pipeline.build")[0]
    m["pipeline.build_s"] = build.wall
    m["pipeline.driver_s"] = build.wall - busy(
        [(j.start, j.end) for j in log.jobs_in(build.group)], build.start, build.end)
    m["pipeline.py4j_calls"] = build.py4j_calls
    m["pipeline.routed_mb"] = build.extra["routed_mb"]
    m["pipeline.ops_mb"] = build.extra["ops_mb"]
    m["pipeline.leftover_dirs"] = obs["leftover_dirs"]
    for w in ("parquet", "html", "json"):
        m[f"writers.{w}_s"] = tracer.find(f"writers.{w}")[0].wall
    m["writers.spark_jobs"] = len(log.jobs_in(rj.group + "/writers."))
    m["aggregates.py4j_calls"] = obs["builder_calls"]

    # ingest path
    rr = tracer.find("run_resumable")[0]
    jobs = log.jobs_in(rr.group)
    m.update(ingest_layers(rr, tracer.children(rr), jobs, obs["commits"]))
    m["manifest.py4j_calls"] = rr.py4j_calls
    m["manifest.spark_jobs"] = len(jobs)

    # the workload's own call: Spark totals, tracing overhead, layer sum
    own = rj if bench.wl.call == "run_job" else rr
    own_jobs = log.jobs_in(own.group)
    totals = log.task_totals(own_jobs)
    m["spark.jobs"] = len(own_jobs)
    m["spark.tasks"] = totals["tasks"]
    m["spark.job_busy_s"] = busy([(j.start, j.end) for j in own_jobs], own.start, own.end)
    m["spark.executor_cpu_s"] = totals["executor_cpu_s"]
    m["spark.gc_s"] = totals["gc_s"]
    m["spark.shuffle_write_mb"] = totals["shuffle_write_mb"]
    if own is rj:
        layers = ("pipeline.build_s", "writers.parquet_s", "writers.html_s", "writers.json_s")
    else:
        layers = ("manifest.kept_write_s", "manifest.ops_write_s", "manifest.other_jobs_s",
                  "manifest.commit_s", "manifest.driver_s")
    m["tracing.layer_sum_s"] = sum(m[k] for k in layers)
    # time the tracing itself added to the own call: span bookkeeping plus
    # the py4j counter's per-command cost
    m["tracing.overhead_s"] = (tracer.bookkeeping_in(own.start, own.end)
                               + own.py4j_calls * obs["py4j_cost_s"])
    untraced_wall = own.wall - m["tracing.overhead_s"]

    # isolation stack
    m["sources.scan_s"] = iso["sources.scan"]
    m["prefilter.flags_s"] = iso["prefilter.flags"] - iso["sources.scan"]
    m["parse.self_s"] = iso["parse"] - iso["prefilter.flags"]
    for sink, name in SINK_METRICS.items():
        m[name] = iso[sink]
    for key in ("rows_in", "oversized", "ignored", "kept", "ops"):
        m[f"route.{key}"] = sum(r[key] for r in rows)
    m["parse.rows"] = m["route.rows_in"] - m["route.oversized"]
    m["parse.us_per_row"] = m["parse.self_s"] / m["parse.rows"] * 1e6

    # peak resident set over the whole traced run, by process
    for kind, mb in obs["peaks"].items():
        m[f"memory.{kind}_peak_mb"] = mb
    m["memory.peak_rss_mb"] = sum(obs["peaks"].values())

    problems = list(obs["problems"])
    if m["pipeline.leftover_dirs"]:
        problems.append(f"{m['pipeline.leftover_dirs']} stage dirs left after run_job")
    problems += layer_sum_problems(m["tracing.layer_sum_s"], untraced_wall)
    print(f"perfbench: layers sum to {m['tracing.layer_sum_s']:.2f} s, untraced wall "
          f"{untraced_wall:.2f} s", file=sys.stderr)
    missing = set(PER_LAYER_UNITS) - set(m)
    if missing:
        raise RuntimeError(f"ledger is missing {sorted(missing)}")
    metrics = {k: {"value": m[k], "unit": PER_LAYER_UNITS[k]} for k in PER_LAYER_UNITS}
    return metrics, problems

