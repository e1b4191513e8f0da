"""The report writers read every sink back from its written parquet: each sink
plan runs once, in `writers.write_parquet_sinks`, whose writes run
concurrently under the caller's job group. The HTML and JSON reports render
one report dict, built from one Arrow snapshot per sink."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from mongo_log_parser_spark import job
from mongo_log_parser_spark.sinks import writers
from mongo_log_parser_spark.sources import datagen
from tests.util import persistent_rdds

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
    """The HTML and JSON writers together start at most one Spark job per
    sink they read, plus four, and each unbounded report.json section equals
    its written sink as a row multiset."""
    sc = spark.sparkContext
    group = "report-writers"
    ran = []
    for fn in ("write_html_report", "write_json_report"):
        real = getattr(writers, fn)

        def grouped(*args, _fn=fn, _real=real, **kwargs):
            ran.append(_fn)
            sc.setJobGroup(group, group)
            try:
                return _real(*args, **kwargs)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

        monkeypatch.setattr(writers, fn, grouped)

    out = tmp_path / "out"
    summary = _run_job(spark, out, "--drivers", "--app-name-stats")
    assert ran == ["write_html_report", "write_json_report"]
    sinks_read = [name for name in summary["sinks"] if name != "ignored_sample"]
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= len(sinks_read) + 4, len(jobs)

    report = json.load(open(out / "report.json"))
    for section, name in UNBOUNDED_SECTIONS.items():
        written = spark.read.parquet(str(out / "sinks" / name)).collect()
        assert _multiset(report[section]) == _multiset(
            r.asDict(recursive=True) for r in written), section


def test_top_sections_cut_in_spark(spark, tmp_path):
    """--top-sections 5 keeps, per capped section, the first 5 rows of
    Spark's sort of the written sink and discloses the sink's full size;
    the uncapped sections keep every row."""
    out = tmp_path / "out"
    _run_job(spark, out, "--top-sections", "5", "--drivers", "--app-name-stats")
    report = json.load(open(out / "report.json"))
    capped = {section: name for section, name in UNBOUNDED_SECTIONS.items()
              if section not in ("operationTypeStats", "ignoredCategories")}
    bounds = {**dict.fromkeys(capped, 5), "queryHashAnalysis": 100, "slowPlanning": 50}
    truncation = {}
    for section, name in {**capped, "queryHashAnalysis": "query_hash",
                          "slowPlanning": "slow_planning"}.items():
        df = spark.read.parquet(str(out / "sinks" / name))
        k = bounds[section]
        expected = [r.asDict(recursive=True)
                    for r in writers._sorted(name, df).limit(k).collect()]
        assert report[section] == json.loads(json.dumps(expected, default=str)), section
        if df.count() > k:
            truncation[section] = {"total": df.count(), "kept": k}
    assert truncation and report["sectionTruncation"] == truncation
    for section in ("operationTypeStats", "ignoredCategories"):
        name = UNBOUNDED_SECTIONS[section]
        assert len(report[section]) == spark.read.parquet(str(out / "sinks" / name)).count()
    assert "showing top 5 of" in (out / "report.html").read_text()


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


def test_ns_filter_plans_sinks_once(spark, tmp_path, monkeypatch):
    """--ns-filter is applied inside the one sink plan: run_job calls
    pipeline.plan_sinks once, and the report holds only filtered rows."""
    from mongo_log_parser_spark.plans import pipeline

    calls = []
    plan_sinks = pipeline.plan_sinks

    def counted(*args, **kwargs):
        calls.append(kwargs)
        return plan_sinks(*args, **kwargs)

    monkeypatch.setattr(pipeline, "plan_sinks", counted)
    out = tmp_path / "out"
    _run_job(spark, out, "--json-only", "--ns-filter", "appdb.*")
    assert len(calls) == 1
    report = json.load(open(out / "report.json"))
    assert report["mainOperations"]
    assert {r["db"] for r in report["mainOperations"]} == {"appdb"}


def test_failed_writer_releases_stage_dir(spark, tmp_path, monkeypatch):
    """A writer that raises still releases the stage dir, and the run leaves
    no persisted RDD."""
    from mongo_log_parser_spark.plans import pipeline

    held = persistent_rdds(spark)

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
    assert len(built) == 1
    assert not list((tmp_path / "data" / "tmp").glob("stage-*"))
    assert not persistent_rdds(spark) - held


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


def test_sections_keep_spark_sort_order(spark, tmp_path):
    """Every section, sorted from its Arrow snapshot or cut in Spark
    (queryHash, slowPlanning), lists its rows in the order Spark's sort of
    the same single-file sink gives: key desc with
    nulls last and ties in read order; slowPlanning by planning_us desc
    (nulls last), then url asc (nulls first)."""
    rows = [("a", 3), ("b", None), ("c", 5), ("d", 3), ("e", None), ("f", 5),
            ("g", 1), ("h", 3)]
    base = spark.createDataFrame(rows, "name string, k long").coalesce(1)
    crafted = {name: base.withColumnRenamed("k", key).withColumns({
                   "avg_docs": F.lit(1), "total_returned": F.lit(2),
                   "is_collscan": F.col("name") < "d"})
               for _, name, _, key in writers.REPORT_SECTIONS if key}
    slow = [("b", 3), (None, 3), ("a", 3), ("c", None), (None, 7), ("a", 7), ("a", 3)]
    crafted["slow_planning"] = spark.createDataFrame(
        slow, "url string, planning_us long").coalesce(1)
    sinks = writers.write_parquet_sinks(crafted, str(tmp_path / "sinks"))
    report = writers.json_report(sinks)
    for section, name, _, _ in writers.REPORT_SECTIONS:
        expected = [r.asDict(recursive=True)
                    for r in writers._sorted(name, sinks[name]).collect()]
        assert report[section] == expected, section
    assert [r["name"] for r in report["mainOperations"]] == list("cfadhgbe")
    assert [r["url"] for r in report["slowPlanning"]] == [None, "a", None, "a", "a", "b", "c"]


def test_slow_planning_section_ordered_by_sink_key(spark):
    """slowPlanning is ordered by the sink's own key (planning_us desc, url
    asc), whatever the physical row order of the frame it reads."""
    rows = [(f"u{i % 3}", i // 3) for i in range(12)]
    df = spark.createDataFrame(rows, "url string, planning_us long").repartition(4)
    got = [(r["url"], r["planning_us"])
           for r in writers.json_report({"slow_planning": df})["slowPlanning"]]
    assert got == sorted(rows, key=lambda r: (-r[1], r[0]))
