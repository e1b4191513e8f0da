"""The report writers read every sink back from its written parquet: each sink
plan runs once, in `writers.write_parquet_sinks`, whose writes run
concurrently under the caller's job group."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mongo_log_parser_spark import job
from mongo_log_parser_spark.sinks import writers
from mongo_log_parser_spark.sources import datagen
from tests.util import formatted_plan

# report.json sections with no row bound, by the sink they render
UNBOUNDED_SECTIONS = {
    "mainOperations": "main_ops", "ttlOperations": "ttl_ops",
    "operationTypeStats": "op_stats", "errorCodes": "error_codes",
    "planCacheAnalysis": "plan_cache", "indexStats": "index_stats",
    "transactions": "transactions", "appNameConnections": "app_conn_stats",
    "driverStats": "driver_stats", "ignoredCategories": "ignored",
}


def _run_job(spark, out, *flags):
    args = job.build_parser().parse_args(
        ["--pages", datagen.ensure_pages(0.001), "--out", str(out), *flags])
    return job.run_job(spark, args)


def _multiset(rows) -> list[str]:
    """Rows as a sorted list of canonical JSON strings, typed as report.json
    stores them."""
    return sorted(json.dumps(json.loads(json.dumps(r, default=str)), sort_keys=True)
                  for r in rows)


def test_report_writers_read_written_sinks(spark, tmp_path, monkeypatch):
    """Every frame reaching the HTML and JSON writers is a bare parquet scan of
    out/sinks/<name>, and each unbounded report.json section equals its
    written sink as a row multiset."""
    seen: dict[str, dict] = {}
    for fn in ("write_html_report", "write_json_report"):
        real = getattr(writers, fn)

        def capture(sinks, *args, _fn=fn, _real=real, **kwargs):
            seen[_fn] = dict(sinks)
            return _real(sinks, *args, **kwargs)

        monkeypatch.setattr(writers, fn, capture)

    out = tmp_path / "out"
    summary = _run_job(spark, out, "--drivers", "--app-name-stats")
    assert set(seen) == {"write_html_report", "write_json_report"}
    for fn, sinks in seen.items():
        assert sorted(sinks) == summary["sinks"]
        for name, df in sinks.items():
            sink_dir = os.path.realpath(out / "sinks" / name)
            files = df.inputFiles()
            assert files, (fn, name)
            assert all(os.path.dirname(os.path.realpath(f.removeprefix("file:"))) == sink_dir
                       for f in files), (fn, name, files)
            plan = formatted_plan(df)
            assert "Scan parquet" in plan, (fn, name)
            assert "Exchange" not in plan and "HashAggregate" not in plan, (fn, name)

    report = json.load(open(out / "report.json"))
    for section, name in UNBOUNDED_SECTIONS.items():
        written = spark.read.parquet(str(out / "sinks" / name)).collect()
        assert _multiset(report[section]) == _multiset(
            r.asDict(recursive=True) for r in written), section


def test_empty_sink_round_trips(spark, tmp_path):
    """A namespace filter that matches nothing writes empty ns-scoped sinks;
    their read-back gives empty report sections, not a read error."""
    out = tmp_path / "out"
    _run_job(spark, out, "--ns-filter", "zz.none")
    report = json.load(open(out / "report.json"))
    for section in ("mainOperations", "ttlOperations", "queryHashAnalysis",
                    "planCacheAnalysis", "indexStats", "slowPlanning"):
        assert report[section] == [], section
    assert report["summary"]["totalOperations"] == 0
    assert (out / "sinks" / "main_ops").is_dir()


def test_failed_writer_releases_stage_dir(spark, tmp_path, monkeypatch):
    """A writer that raises still releases the stage dir and the conn-side
    checkpoint."""
    from mongo_log_parser_spark.plans import pipeline

    pages = datagen.ensure_pages(0.001)
    monkeypatch.setattr(datagen, "DATA_ROOT", str(tmp_path / "data"))
    built = []
    real_build = pipeline.build

    def build(*args, **kwargs):
        built.append(real_build(*args, **kwargs))
        return built[-1]

    def fail(*args, **kwargs):
        raise OSError("simulated report failure")

    monkeypatch.setattr(pipeline, "build", build)
    monkeypatch.setattr(writers, "write_json_report", fail)
    args = job.build_parser().parse_args(
        ["--pages", pages, "--out", str(tmp_path / "out"), "--json-only", "--drivers"])
    with pytest.raises(OSError, match="simulated"):
        job.run_job(spark, args)
    assert len(built) == 1 and built[0].conn_side is None
    assert not list((tmp_path / "data" / "tmp").glob("stage-*"))


def _small_sinks(spark, n: int) -> dict:
    base = spark.range(0, 200).withColumn("k", F.col("id") % 7)
    return {f"s{i}": base.groupBy("k").agg(F.count(F.lit(1)).alias("count"))
            .withColumn("i", F.lit(i)) for i in range(n)}


def test_sink_writes_run_in_caller_job_group(spark, tmp_path):
    """Every job the concurrent writes start belongs to the caller's job
    group, and the read-back rows equal the sinks'."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    in_group = set(tracker.getJobIdsForGroup("g"))
    sinks = _small_sinks(spark, 4)
    sc.setJobGroup("g", "sink writes")
    try:
        back = writers.write_parquet_sinks(sinks, str(tmp_path / "sinks"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert len(set(tracker.getJobIdsForGroup("g")) - in_group) >= len(sinks)
    assert list(back) == list(sinks)
    for name, df in sinks.items():
        assert sorted(back[name].collect()) == sorted(df.collect())


def test_failed_sink_write_raises_after_other_writes(spark, tmp_path):
    """One failing sink write makes write_parquet_sinks raise, but only once
    every other write has finished."""
    sinks = {"bad": spark.range(1).select(F.raise_error(F.lit("boom")).cast("string")
                                          .alias("x")),
             **_small_sinks(spark, 3)}
    out = tmp_path / "sinks"
    with pytest.raises(Exception, match="boom"):
        writers.write_parquet_sinks(sinks, str(out))
    for name in sinks:
        if name != "bad":
            assert (out / name / "_SUCCESS").exists(), name


def test_slow_planning_section_ordered_by_sink_key(spark):
    """slowPlanning is ordered by the sink's own key (planning_us desc, url
    asc), whatever the physical row order of the frame it reads."""
    rows = [(f"u{i % 3}", i // 3) for i in range(12)]
    df = spark.createDataFrame(rows, "url string, planning_us long").repartition(4)
    got = [(r["url"], r["planning_us"])
           for r in writers.json_report({"slow_planning": df})["slowPlanning"]]
    assert got == sorted(rows, key=lambda r: (-r[1], r[0]))
