"""End-to-end + per-operator tests for the log pipeline at sf0.001.

Oracle equivalence for every contract query (the same check the driver runs
at sf0.01), plus targeted semantic invariants from SURVEY.md §2.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.util import assert_df_equals_sql, formatted_plan

import __spark_entry__ as entrymod

QUERY_NAMES = sorted(entrymod.queries().keys())


@pytest.fixture(scope="session")
def oracles():
    return entrymod.oracle_sql(0.001)


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_matches_oracle(spark, duck, oracles, name):
    fn = entrymod.queries()[name]
    sdf = fn(spark, "/root/testdata/sf0.001")
    if name not in oracles:
        assert sdf.count() >= 0  # rows-only check, like the driver
        return
    assert_df_equals_sql(sdf, duck, oracles[name], name)


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert {"db", "coll", "op", "count", "avg_ms"} <= set(df.columns)


def test_route_partition_is_total(pages_001, streams_001):
    """oversized + ignored + kept == all pages (no line lost or double-routed)."""
    total = pages_001.count()
    o = streams_001["oversized"].count()
    i = streams_001["ignored"].count()
    k = streams_001["kept"].count()
    assert o + i + k == total
    assert o == 2  # deterministic oversized rows at sf0.001


def test_config_db_always_excluded(streams_001):
    ops = streams_001["ops"].filter(F.col("ns_pass"))
    assert ops.filter(F.col("db") == "config").count() == 0
    # but config rows were dispatched (counted) pre-filter
    assert streams_001["ops"].filter(F.col("db") == "config").count() > 0


def test_dispatch_first_match_order(spark):
    """find beats update when both keys present (LogParserTask.java:802-919)."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    line = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"s":"I","c":"COMMAND","id":1,'
            '"ctx":"conn1","msg":"Slow query","attr":{"ns":"d.c","durationMillis":1,'
            '"command":{"update":"c2","find":"c3","$db":"d"}}}')
    df = spark.createDataFrame([("u", line)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["op"] == "find"
    assert row["coll"] == "c3"  # collection override from the matched key


def test_aggregate_db_level_keeps_ns_collection(spark):
    """aggregate: 1 → database-level, collection from attr.ns kept."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    line = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"COMMAND","msg":"Slow query",'
            '"attr":{"ns":"d.origcoll","durationMillis":1,"command":{"aggregate":1,"$db":"d"}}}')
    df = spark.createDataFrame([("u", line)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["op"] == "aggregate" and row["coll"] == "origcoll"


def test_exec_stats_gate(spark):
    """docs/keys only extracted when nreturned present (LogParserTask.java:984-988)."""
    from mongo_log_parser_spark.functions.extract import extract_ops
    from mongo_log_parser_spark.functions.parse import parse_lines

    no_nret = ('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"WRITE","msg":"Slow query",'
               '"attr":{"type":"update","ns":"d.c","durationMillis":1,"keysExamined":7,'
               '"docsExamined":9,"nModified":3}}')
    df = spark.createDataFrame([("u", no_nret)], "url string, text string")
    row = extract_ops(parse_lines(df)).collect()[0]
    assert row["keys_examined"] is None and row["docs_examined"] is None
    assert row["nreturned"] == 3  # from nModified
    assert row["op"] == "update_w"


def test_ttl_line_feeds_both_ttl_and_ignored(streams_001):
    """TTLMonitor lines hit the TTL accumulator AND count as ignored
    (LogParser.java:641-649 + '"ctx":"TTLMonitor"' ignore pattern)."""
    ttl = streams_001["ttl_pre"].count()
    ignored_ttl = streams_001["ignored"].filter(F.col("category") == "TTL_MONITOR").count()
    assert ttl > 0 and ignored_ttl > 0


def test_integer_avg_is_floor_division(spark):
    from mongo_log_parser_spark.operators.aggregates import main_ops
    from mongo_log_parser_spark.operators.route import split_streams

    mk = lambda d, u: (  # noqa: E731
        f"https://h/p/{u}", None, None,
        '{"t":{"$date":"2025-07-01T00:00:00.000Z"},"c":"COMMAND","msg":"Slow query",'
        f'"attr":{{"ns":"d.c","durationMillis":{d},"command":{{"find":"c","$db":"d"}}}}}}', "en")
    pages = spark.createDataFrame([mk(1, 1), mk(2, 2)],
                                  "url string, warc_ts timestamp, html binary, text string, lang string")
    row = main_ops(split_streams(pages)["ops"]).collect()[0]
    assert row["avg_ms"] == 1  # floor(3/2), not 1.5


def test_broadcast_join_in_enrich_plan(spark):
    """Lookup enrich must be a BroadcastHashJoin, never a SortMergeJoin."""
    from mongo_log_parser_spark.operators.joins import enrich_pages
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    ll = pipeline.read_lookup(spark, "lang_locale")
    hc = pipeline.read_lookup(spark, "host_class")
    plan = formatted_plan(enrich_pages(pages, ll, hc))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pushdown_reaches_scan(spark):
    """Column pruning: an op-count query must not read html/text of the scan...
    text is needed for parse; but html must be pruned everywhere."""
    from mongo_log_parser_spark.operators import aggregates, route
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    plan = formatted_plan(aggregates.op_stats(route.split_streams(pages)["ops"]))
    assert "html" not in plan  # binary column pruned from the parquet scan


def test_lazy_and_checkpointed_build_equal(pages_001):
    """build(cache=False), the lazy route.split_streams view, and the
    checkpointed build() agree on every sink and stream: the same rows both
    ways round, and the same (name, type) columns. Nullability is not
    compared: the parquet round trip erases it."""
    from mongo_log_parser_spark.plans import pipeline

    lazy = pipeline.build(pages_001, cache=False)
    ckpt = pipeline.build(pages_001)
    try:
        assert len(lazy.sinks) == 13
        assert lazy.sinks.keys() == ckpt.sinks.keys()
        assert lazy.streams.keys() == ckpt.streams.keys()
        pairs = [(f"sink {k}", lazy.sinks[k], ckpt.sinks[k]) for k in lazy.sinks]
        pairs += [(f"stream {k}", lazy.streams[k], ckpt.streams[k]) for k in lazy.streams]
        for name, a, b in pairs:
            assert a.dtypes == b.dtypes, name
            assert a.exceptAll(b).count() == 0, name
            assert b.exceptAll(a).count() == 0, name
    finally:
        lazy.unpersist()
        ckpt.unpersist()


def test_failed_checkpoint_write_removes_stage_dir(pages_001, monkeypatch, tmp_path):
    """When a checkpoint write fails, build() removes the stage dir it made
    and re-raises."""
    from pyspark.sql import DataFrameWriter

    from mongo_log_parser_spark.plans import pipeline
    from mongo_log_parser_spark.sources import datagen

    monkeypatch.setattr(datagen, "DATA_ROOT", str(tmp_path))
    written = []
    real_parquet = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        written.append(os.path.basename(path))
        if written[-1] == "ops":
            raise OSError("simulated ops checkpoint failure")
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    with pytest.raises(OSError, match="simulated"):
        pipeline.build(pages_001)
    assert written == ["routed", "ops"]  # the routed stage was on disk
    assert not list((tmp_path / "tmp").glob("stage-*"))


def test_unpersist_releases_stage(spark, pages_001):
    """unpersist() drops the conn-side localCheckpoint blocks and the stage
    dir."""
    from mongo_log_parser_spark.plans import pipeline

    jsc = getattr(spark.sparkContext, "_jsc", None)
    if jsc is None:
        pytest.skip("persistent RDD list unavailable")
    res = pipeline.build(pages_001)
    res.streams["client_metadata"].count()  # materializes the checkpoint
    held = set(jsc.getPersistentRDDs().keys())
    res.unpersist()
    assert len(held - set(jsc.getPersistentRDDs().keys())) == 1
    assert not os.path.exists(res.workdir)


def test_meta_auth_shared_scan_equivalence(spark):
    """client_metadata, auth and conn_lifecycle derive from ONE shared
    localCheckpointed subset (pipeline.build): rows must equal the direct
    derivations off the kept checkpoint, and every stream must read the SAME
    checkpointed RDD — i.e. none triggers its own parquet scan of the routed
    checkpoint (the old layout scanned it four times: meta + auth through the
    wide text column, plus the lifecycle start/end pair)."""
    import re

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    res = pipeline.build(pages)
    try:
        for name, fn in (("client_metadata", route.client_metadata_records),
                         ("auth", route.auth_records),
                         ("conn_lifecycle", route.conn_lifecycle_records)):
            shared = res.streams[name]
            direct = fn(res.streams["kept"])
            assert shared.exceptAll(direct).count() == 0, name
            assert direct.exceptAll(shared).count() == 0, name
        rdd_ids = set()
        for name in ("client_metadata", "auth", "conn_lifecycle"):
            df = res.streams[name]
            plan = formatted_plan(df)
            assert "Scan parquet" not in plan, name  # reads the checkpoint RDD
            ids = set(re.findall(r"MapPartitionsRDD\[(\d+)\]", plan))
            assert len(ids) == 1, (name, plan[:500])  # even the union's two legs
            rdd_ids |= ids
        assert len(rdd_ids) == 1  # ONE shared subset across all three streams
    finally:
        res.unpersist()
