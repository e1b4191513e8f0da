"""End-to-end + per-operator tests for the log pipeline at sf0.001.

Oracle equivalence for every contract query (the same check the driver runs
at sf0.01), plus targeted semantic invariants from SURVEY.md §2.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from tests.util import assert_df_equals_sql, formatted_plan, persistent_rdds

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


def test_pages_without_warc_ts_route(spark, pages_001, tmp_path):
    """warc_ts is an optional page column: a url/lang/text pages table builds
    split_streams, and its ttl_pre rows equal those of the same lines with
    warc_ts, less that column."""
    from mongo_log_parser_spark.operators import route

    lines = pages_001.filter(F.col("text").contains("TTL") | F.col("url").endswith("0"))
    lines.write.parquet(str(tmp_path / "full"))
    lines.select("url", "lang", "text").write.parquet(str(tmp_path / "bare"))
    full = route.split_streams(spark.read.parquet(str(tmp_path / "full")))
    bare = route.split_streams(spark.read.parquet(str(tmp_path / "bare")))
    want = full["ttl_pre"].drop("warc_ts")
    got = bare["ttl_pre"]
    assert got.columns == want.columns
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert bare["ignored"].count() == full["ignored"].count()


def test_session_drops_call_site_capture(spark):
    """build_session turns off PySpark's per-Column call-site capture."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


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
    """The lazy plan_sinks(route.split_streams(pages)) view and the
    checkpointed build() agree on every sink and stream: the same rows both
    ways round, and the same (name, type) columns. Nullability is not
    compared: the parquet round trip erases it."""
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    lazy_streams = route.split_streams(pages_001)
    lazy_sinks = pipeline.plan_sinks(lazy_streams)
    ckpt = pipeline.build(pages_001)
    try:
        assert len(lazy_sinks) == 13
        assert lazy_sinks.keys() == ckpt.sinks.keys()
        assert lazy_streams.keys() == ckpt.streams.keys()
        pairs = [(f"sink {k}", lazy_sinks[k], ckpt.sinks[k]) for k in lazy_sinks]
        pairs += [(f"stream {k}", lazy_streams[k], ckpt.streams[k]) for k in lazy_streams]
        for name, a, b in pairs:
            assert a.dtypes == b.dtypes, name
            assert a.exceptAll(b).count() == 0, name
            assert b.exceptAll(a).count() == 0, name
    finally:
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
    # the routed stage was on disk, and conn_side is written next to ops
    assert written[0] == "routed"
    assert set(written) == {"routed", "ops", "conn_side"}
    assert not list((tmp_path / "tmp").glob("stage-*"))


def test_unpersist_releases_stage(spark, pages_001):
    """unpersist() removes the stage dir, and build() persists no RDD."""
    from mongo_log_parser_spark.plans import pipeline

    held = persistent_rdds(spark)
    res = pipeline.build(pages_001)
    res.streams["client_metadata"].count()
    res.unpersist()
    assert not persistent_rdds(spark) - held
    assert not os.path.exists(res.workdir)


def test_driver_stats_write_leaves_no_persisted_rdd(spark, pages_001, tmp_path):
    """build(), a driver_stats write and unpersist() add no RDD to the
    persistent RDD list."""
    from mongo_log_parser_spark.plans import pipeline

    held = persistent_rdds(spark)
    res = pipeline.build(pages_001)
    try:
        res.sinks["driver_stats"].write.parquet(str(tmp_path / "driver_stats"))
    finally:
        res.unpersist()
    assert not persistent_rdds(spark) - held


def test_lazy_build_starts_no_job(spark, pages_001):
    """The lazy sink plan, plan_sinks(route.split_streams(pages)), only
    builds plans: no Spark job runs under its job group."""
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    sc = spark.sparkContext
    group = "lazy-build-starts-no-job"
    sc.setJobGroup(group, group)
    try:
        pipeline.plan_sinks(route.split_streams(pages_001))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


def test_meta_auth_shared_scan_equivalence(spark):
    """client_metadata, auth and conn_lifecycle derive from the one conn_side
    stage (pipeline.build): rows must equal the direct derivations off the
    kept stream, and every stream must scan only the conn_side stage, never
    the routed one (read straight from routed, meta and auth would each
    decompress the wide text column and the lifecycle union scan it twice)."""
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    pages = pipeline.read_pages(spark, sf=0.001)
    res = pipeline.build(pages)
    try:
        conn_side = os.path.join(res.workdir, "conn_side") + os.sep
        for name, fn in (("client_metadata", route.client_metadata_records),
                         ("auth", route.auth_records),
                         ("conn_lifecycle", route.conn_lifecycle_records)):
            shared = res.streams[name]
            direct = fn(res.streams["kept"])
            assert shared.exceptAll(direct).count() == 0, name
            assert direct.exceptAll(shared).count() == 0, name
            files = shared.inputFiles()
            assert files, name
            assert all(conn_side in f for f in files), (name, files)
    finally:
        res.unpersist()


def _log_line(ts, comp, ctx, msg, attr):
    return json.dumps({"t": {"$date": ts}, "s": "I", "c": comp, "id": 1, "ctx": ctx,
                       "msg": msg, "attr": attr}, separators=(",", ":"))


def _meta(ts, ctx, version, driver="pymongo", remote="10.0.0.1:5000"):
    return _log_line(ts, "NETWORK", ctx, "client metadata", {
        "remote": remote, "negotiatedCompressors": ["zstd", "snappy"],
        "doc": {"driver": {"name": driver, "version": version},
                "os": {"type": "Linux", "name": "Ubuntu"}, "platform": "CPython 3.11"}})


def _auth(ts, ctx, user):
    return _log_line(ts, "ACCESS", ctx, "Successfully authenticated",
                     {"user": user, "db": "admin", "mechanism": "SCRAM-SHA-256"})


def _lifetime(url, start, end, cid):
    return [(url + "s", _log_line(start, "NETWORK", "listener", "Connection accepted",
                                  {"remote": "10.0.0.1:5000", "connectionId": cid})),
            (url + "e", _log_line(end, "NETWORK", f"conn{cid}", "Connection ended",
                                  {"remote": "10.0.0.1:5000"}))]


def test_driver_stats_edge_cases_match_oracle(spark, tmp_path):
    """driver_stats equals the DuckDB oracle on crafted connections: one
    connection with two metadata lines whose keys differ (its lifetime
    belongs to the first line by ts then url; a line without ts is never
    first), connections with metadata but no sampled lifetime, a metadata
    line with a null conn_id, never-authenticated connections (null username
    grouped null-safely) and an excluded driver whose lifetime counts
    nowhere."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongo_log_parser_spark.contracts import log_oracle
    from mongo_log_parser_spark.operators import joins, route

    def ts(s):
        return f"2025-07-01T00:{s}Z"

    rows = [
        # conn10: two keys at one ts; the 4.6 line is first by url
        ("u/10b", _meta(ts("00:01.000"), "conn10", "4.7")),
        ("u/10a", _meta(ts("00:01.000"), "conn10", "4.6")),
        ("u/10c", _auth(ts("00:02.000"), "conn10", "alice")),
        *_lifetime("u/10", ts("00:00.000"), ts("00:09.000"), 10),
        # conn20 has no lifecycle; conn13 has a lifetime outside the sample
        ("u/20a", _meta(ts("00:03.000"), "conn20", "4.8")),
        ("u/20b", _auth(ts("00:03.000"), "conn20", "bob")),
        ("u/13a", _meta(ts("00:04.000"), "conn13", "4.8")),
        ("u/13b", _auth(ts("00:04.000"), "conn13", "bob")),
        *_lifetime("u/13", ts("00:00.000"), ts("00:02.000"), 13),
        # a null conn_id, then two never-authenticated sampled connections
        ("u/00", _meta(ts("00:06.000"), "listener", "4.6")),
        ("u/30", _meta(ts("00:06.000"), "conn30", "4.6")),
        *_lifetime("u/30", ts("00:01.000"), ts("00:05.000"), 30),
        ("u/40", _meta(ts("00:07.000"), "conn40", "4.6", remote="10.0.0.2:5000")),
        *_lifetime("u/40", ts("01:00.000"), ts("01:07.001"), 40),
        # conn60: a line without a timestamp is never a connection's first
        ("u/60a", _meta(None, "conn60", "4.9")),
        ("u/60b", _meta(ts("00:09.000"), "conn60", "5.0")),
        *_lifetime("u/60", ts("00:00.000"), ts("00:03.000"), 60),
        # an excluded driver keeps its sampled lifetime out of every row
        ("u/50", _meta(ts("00:08.000"), "conn50", "1.0", driver="NetworkInterfaceTL")),
        *_lifetime("u/50", ts("00:00.000"), ts("00:30.000"), 50),
    ]
    path = str(tmp_path / "pages.parquet")
    n = len(rows)
    pq.write_table(pa.table({
        "url": [u for u, _ in rows],
        "warc_ts": pa.array([None] * n, pa.timestamp("us", tz="UTC")),
        "html": pa.array([None] * n, pa.binary()),
        "text": [t for _, t in rows],
        "lang": ["en"] * n,
    }), path)

    s = route.split_streams(spark.read.parquet(path))
    got = joins.driver_stats(s["client_metadata"], s["auth"], s["conn_lifecycle"])
    got = got.drop("sample_metadata_line", "sample_auth_line")
    assert_df_equals_sql(got, duckdb.connect(), log_oracle.q_driver_stats(path), "driver_stats")

    by_key = {(r["version"], r["username"]): r for r in got.collect()}
    assert set(by_key) == {("4.6", "alice"), ("4.7", "alice"), ("4.8", "bob"), ("4.6", None),
                           ("4.9", None), ("5.0", None)}
    assert by_key[("4.9", None)]["sampled_lifetimes"] is None
    assert by_key[("5.0", None)]["sampled_lifetimes"] == 1
    assert by_key[("4.6", "alice")]["sampled_lifetimes"] == 1
    assert by_key[("4.6", "alice")]["max_lifetime_ms"] == 9000
    assert by_key[("4.7", "alice")]["sampled_lifetimes"] is None
    assert by_key[("4.8", "bob")]["connection_count"] == 2
    assert by_key[("4.8", "bob")]["sampled_lifetimes"] is None
    nulls = by_key[("4.6", None)]
    assert (nulls["connection_count"], nulls["unique_hosts"]) == (3, 2)
    assert (nulls["sampled_lifetimes"], nulls["avg_lifetime_ms"], nulls["max_lifetime_ms"]) \
        == (2, 5500, 7001)
