"""Resumable-ingest (manifest) and Structured Streaming tests."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mongo_log_parser_spark.sources import datagen
from perfbench.check import expected_route_counts


def test_resumable_manifest_skips_completed_days(spark):
    from mongo_log_parser_spark.plans import manifest

    full = datagen.ensure_pages(0.001)
    out = tempfile.mkdtemp(prefix="mlp-manifest-", dir="/root/repo/data")
    # 6 day-partitions are enough to exercise crash/resume/idempotence
    path = out + "-subset"
    spark.read.parquet(full).filter(F.col("warc_ts") < "2025-07-07").write.mode(
        "overwrite"
    ).parquet(path)
    try:
        # crash after 3 day-partitions
        r1 = manifest.run_resumable(spark, path, out, fail_after_days=3)
        assert r1["days_processed"] == 3
        done1 = manifest.completed_days(spark, out)
        assert len(done1) == 3

        # resume: processes only the remaining days
        r2 = manifest.run_resumable(spark, path, out)
        assert r2["days_already_done"] == 3
        assert r2["days_processed"] == r1["days_total"] - 3
        # lineage ids differ per run
        m = manifest.read_manifest(spark, out)
        assert m.select("lineage_id").distinct().count() == 2

        # committed ops across all days == one-shot batch ops
        from mongo_log_parser_spark.operators import route

        full_ops = route.split_streams(spark.read.parquet(path))["ops"]
        committed = manifest.committed_ops(spark, out)
        assert committed.count() == full_ops.count()
        # committed_ops carries the day partition column (string), recovered
        # from the day=<d>/attempt=<id> layout — consumers can filter by day
        assert dict(committed.schema["day"].jsonValue(), metadata=None)["type"] == "string"
        assert set(r["day"] for r in committed.select("day").distinct().collect()) \
            == manifest.completed_days(spark, out)
        assert "attempt" not in committed.columns
        # and the manifest counters reconcile with the scan totals
        tot = m.agg(F.sum("rows_in"), F.sum("ops")).collect()[0]
        assert tot[0] == spark.read.parquet(path).count()
        assert tot[1] == full_ops.count()
        # and within each day every input line is routed exactly once
        for r in m.collect():
            assert r["rows_in"] == r["oversized"] + r["ignored"] + r["kept"], r["day"]

        # idempotent: a third run has nothing to do
        r3 = manifest.run_resumable(spark, path, out)
        assert r3["days_processed"] == 0

        # object-store-safe commit: an ORPHAN attempt dir (data written but
        # crash before the manifest-row commit) is invisible to readers —
        # committed_ops resolves paths through the manifest, never by listing
        import os

        some_day = sorted(done1)[0]
        orphan = manifest._attempt_dir(out, "ops", some_day, "deadbeef0000")
        committed.limit(5).write.mode("overwrite").parquet(orphan)
        assert os.path.exists(orphan)
        assert manifest.committed_ops(spark, out).count() == full_ops.count()
        # and no rename-based commit anywhere: every data dir is a plain
        # attempt=<lineage_id> write recorded in the manifest
        for r in m.select("day", "lineage_id", "ops_path").collect():
            assert r["ops_path"].endswith(f"day={r['day']}/attempt={r['lineage_id']}")

        # double-commit tolerance: if a second run ever commits an
        # already-done day (lock-free append; single-writer is the documented
        # assumption), committed_manifest picks ONE row per day for paths and
        # counters together — sums over it do not double-count
        pre = manifest.committed_manifest(spark, out).agg(
            F.sum("rows_in"), F.sum("ops")).collect()[0]
        dup_day = sorted(done1)[0]
        dup_src = m.filter(F.col("day") == dup_day).collect()[0].asDict()
        dup_src["lineage_id"] = "zzzzduplicate"  # sorts after the real commit
        manifest._append_manifest_row(spark, out, dup_src)
        cm = manifest.committed_manifest(spark, out)
        assert cm.count() == len(manifest.completed_days(spark, out))
        post = cm.agg(F.sum("rows_in"), F.sum("ops")).collect()[0]
        assert (post[0], post[1]) == (pre[0], pre[1])
        assert manifest.committed_ops(spark, out).count() == full_ops.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(path, ignore_errors=True)


@pytest.fixture(scope="module")
def two_day_pages(spark, tmp_path_factory):
    """The first two day-partitions of the sf0.001 pages table."""
    path = str(tmp_path_factory.mktemp("two-days") / "pages")
    spark.read.parquet(datagen.ensure_pages(0.001)).filter(
        F.col("warc_ts") < "2025-07-03").write.parquet(path)
    return path


def test_resumable_routes_each_day_once(spark, two_day_pages, tmp_path, monkeypatch):
    """run_resumable routes through the one router: should_ignore is built
    once per day (by routed_parse) and no stream dict is derived."""
    from mongo_log_parser_spark.functions import prefilter
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import manifest

    calls = []
    should_ignore = prefilter.should_ignore

    def counted(*args, **kwargs):
        calls.append(args)
        return should_ignore(*args, **kwargs)

    def no_streams(*args, **kwargs):
        raise AssertionError("run_resumable derived the stream dict")

    monkeypatch.setattr(prefilter, "should_ignore", counted)
    monkeypatch.setattr(route, "derive_streams", no_streams)
    stats = manifest.run_resumable(spark, two_day_pages, str(tmp_path / "ingest"))
    assert stats["days_processed"] == 2
    assert len(calls) == 2


def _manifest_totals(spark, out_dir: str) -> dict[str, int]:
    from mongo_log_parser_spark.plans import manifest

    cols = ("rows_in", "oversized", "ignored", "kept")
    row = manifest.committed_manifest(spark, out_dir).agg(
        *[F.sum(c).alias(c) for c in cols]).collect()[0]
    return {c: row[c] for c in cols}


def test_resumable_counts_null_text_pages(spark, two_day_pages, tmp_path):
    """A pages row whose text is null is no log line: the router drops it,
    so rows_in must not count it, or the day's committed row breaks
    rows_in == oversized + ignored + kept."""
    from mongo_log_parser_spark.plans import manifest

    pages = spark.read.parquet(two_day_pages)
    day1 = pages.orderBy("warc_ts").limit(2)
    blanks = day1.limit(1).withColumn("text", F.lit(None).cast("string")).unionByName(
        day1.offset(1).withColumn("text", F.lit("")))
    path = str(tmp_path / "pages")
    pages.unionByName(blanks).write.parquet(path)
    out = str(tmp_path / "ingest")
    assert manifest.run_resumable(spark, path, out)["days_processed"] == 2
    for r in manifest.read_manifest(spark, out).collect():
        assert r["rows_in"] == r["oversized"] + r["ignored"] + r["kept"], r["day"]
    assert _manifest_totals(spark, out) == expected_route_counts(path, threads=1)


def test_resumable_survives_killed_python_worker(spark, two_day_pages, tmp_path,
                                                 monkeypatch):
    """A Python worker that dies in the middle of day 2's kept write fails
    the ingest without committing day 2; a rerun commits it, and the
    committed counters equal the oracle's route counts."""
    from py4j.protocol import Py4JJavaError

    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import manifest

    routed_parse = route.routed_parse
    days = []

    def crash_on_day_2(pages, **kwargs):
        routed = routed_parse(pages, **kwargs)
        days.append(routed)
        if len(days) < 2:
            return routed

        def die(batches):
            import os

            for _batch in batches:
                os._exit(1)
            yield from ()

        return routed.mapInArrow(die, routed.schema)

    out = str(tmp_path / "ingest")
    monkeypatch.setattr(route, "routed_parse", crash_on_day_2)
    with pytest.raises(Py4JJavaError, match="Python worker exited unexpectedly"):
        manifest.run_resumable(spark, two_day_pages, out)
    assert len(days) == 2
    first_day = sorted(manifest.completed_days(spark, out))
    assert len(first_day) == 1
    assert manifest.read_manifest(spark, out).count() == 1

    monkeypatch.setattr(route, "routed_parse", routed_parse)
    stats = manifest.run_resumable(spark, two_day_pages, out)
    assert (stats["days_already_done"], stats["days_processed"]) == (1, 1)
    assert stats["processed"][0] not in first_day
    assert _manifest_totals(spark, out) == expected_route_counts(two_day_pages, threads=1)


def test_resumable_job_uses_filter_config(spark, two_day_pages, tmp_path):
    """`--resumable --config` commits kept/ops routed with the config's
    ignore patterns, as the report is: the committed kept rows and the
    manifest's ignored count equal split_streams' under the same list."""
    from mongo_log_parser_spark import job
    from mongo_log_parser_spark.functions import prefilter
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import manifest

    cfg = tmp_path / "filter.properties"
    cfg.write_text('filter.ignore.remove = "c":"STORAGE", "c":"CONTROL"\n'
                   'filter.ignore.add = "c":"REPL", "c":"INDEX"\n')
    patterns = prefilter.load_filter_config(str(cfg))
    out = tmp_path / "out"
    args = job.build_parser().parse_args([
        "--pages", two_day_pages, "--out", str(out), "--resumable", "--json-only",
        "--config", str(cfg)])
    job.run_job(spark, args)

    pages = spark.read.parquet(two_day_pages)
    want = route.split_streams(pages, ignore_patterns=patterns)
    default = route.split_streams(pages)
    want_n = {k: want[k].count() for k in ("kept", "ignored")}
    # the custom list routes differently from the default one
    assert want_n != {k: default[k].count() for k in ("kept", "ignored")}
    ingest = str(out / "ingest")
    m = manifest.committed_manifest(spark, ingest)
    kept_paths = [r["kept_path"] for r in m.select("kept_path").collect()]
    tot = m.agg(F.sum("ignored"), F.sum("kept")).collect()[0]
    assert spark.read.parquet(*kept_paths).count() == want_n["kept"] == tot[1]
    assert tot[0] == want_n["ignored"]
    assert manifest.committed_ops(spark, ingest).count() == want["ops"].count()


def test_resumable_job_rejects_log_files(spark, tmp_path):
    """`--resumable --logs` is refused before any Spark work: log lines carry
    no warc_ts, so the per-day manifest cannot partition them, and the flag
    must not be dropped without a word."""
    from mongo_log_parser_spark import job

    log = tmp_path / "mongod.log"
    log.write_text('{"t":{"$date":"2025-07-01T00:00:00.000Z"},"s":"I","c":"NETWORK",'
                   '"id":22943,"ctx":"listener","msg":"Connection accepted"}\n')
    out = tmp_path / "out"
    args = job.build_parser().parse_args(
        ["--logs", str(log), "--out", str(out), "--resumable", "--json-only"])
    sc = spark.sparkContext
    group = "resumable-rejects-log-files"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="--resumable"):
            job.run_job(spark, args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert not out.exists()


def test_streaming_windowed_counts_match_batch(spark):
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.streaming import stream_job

    path = datagen.ensure_pages(0.001)
    ckpt = tempfile.mkdtemp(prefix="mlp-ckpt-", dir="/root/repo/data")
    try:
        stream = stream_job.pages_stream(spark, path)
        windowed = stream_job.windowed_op_counts(stream_job.streaming_ops(stream))
        q = stream_job.run_available_now(windowed, "stream_op_counts", ckpt)
        got = {
            (r["window_start"], r["op"]): (r["count"], r["total_ms"])
            for r in spark.table("stream_op_counts").collect()
        }
        # batch equivalent
        batch = (
            route.split_streams(spark.read.parquet(path))["ops"]
            .filter(F.col("ns_pass"))
            .groupBy(F.window("warc_ts", "1 day").alias("w"), "op")
            .agg(F.count(F.lit(1)).alias("count"), F.sum("duration_ms").alias("total_ms"))
            .select(F.col("w.start").alias("window_start"), "op", "count", "total_ms")
        )
        want = {
            (r["window_start"], r["op"]): (r["count"], r["total_ms"]) for r in batch.collect()
        }
        assert got == want
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def test_streaming_session_timeout_eviction(spark):
    """Live-stream mode: a connection that only ever shows a 'start' must be
    EVICTED as an 'expired' row once its processing-time timer lapses. Two
    micro-batches (maxFilesPerTrigger=1): batch 1 arms conn 777's 1 ms timer;
    batch 2 (unrelated conn 778, which closes normally) runs after the timer
    expired, so the state store hands 777 to the hasTimedOut branch.

    Measured protocol note: with ProcessingTimeTimeout the AvailableNow drain
    emits the eviction but never self-terminates (Spark keeps scheduling
    no-data batches while the stateful operator is registered — observed
    batch 37..77 with numInputRows=0), so this test polls the sink and stops
    the query explicitly; that is also why the ORACLE path keeps NoTimeout."""
    import glob
    import json
    import os
    import time
    from datetime import datetime

    from mongo_log_parser_spark.streaming import stream_job

    SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
    base = tempfile.mkdtemp(prefix="mlp-evict-", dir="/root/repo/data")
    src = os.path.join(base, "src")
    os.makedirs(src)

    def line(cid, msg, ctx, iso):
        attr = {"remote": "1.2.3.4:5"}
        if msg == "Connection accepted":
            attr["connectionId"] = cid
        return json.dumps({"t": {"$date": iso}, "s": "I", "c": "NETWORK",
                           "id": 22943, "ctx": ctx, "msg": msg, "attr": attr})

    ts = datetime(2025, 7, 1)

    def write_file(name, rows):
        df = spark.createDataFrame(rows, SCHEMA)
        tmp = os.path.join(base, "w_" + name)
        df.coalesce(1).write.parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0], os.path.join(src, name))

    write_file("a.parquet", [
        ("u1", ts, None, line(777, "Connection accepted", "listener",
                              "2025-07-01T00:00:01.000Z"), "en")])
    write_file("b.parquet", [
        ("u2", ts, None, line(778, "Connection accepted", "listener",
                              "2025-07-01T00:00:01.000Z"), "en"),
        ("u3", ts, None, line(778, "Connection ended", "conn778",
                              "2025-07-01T00:00:05.000Z"), "en")])

    stream = stream_job.pages_stream(
        spark, src, schema=spark.createDataFrame([], SCHEMA).schema, max_files=1)
    sessions = stream_job.streaming_conn_sessions(stream, timeout_ms=1)
    ckpt = os.path.join(base, "ckpt")
    q = (sessions.writeStream.format("memory").queryName("evict_sessions")
         .outputMode("append").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    try:
        got = {}
        deadline = time.time() + 120
        while time.time() < deadline:
            got = {r["conn_id"]: r for r in spark.table("evict_sessions").collect()}
            if 777 in got and 778 in got:
                break
            time.sleep(0.5)
        assert got[777]["status"] == "expired" and got[777]["lifetime_ms"] is None
        assert got[777]["start_ts"] is not None and got[777]["end_ts"] is None
        assert got[778]["status"] == "closed" and got[778]["lifetime_ms"] == 4000
    finally:
        q.stop()
        shutil.rmtree(base, ignore_errors=True)


def test_streaming_conn_sessionization(spark):
    from mongo_log_parser_spark.operators import joins, route
    from mongo_log_parser_spark.streaming import stream_job

    path = datagen.ensure_pages(0.001)
    ckpt = tempfile.mkdtemp(prefix="mlp-ckpt2-", dir="/root/repo/data")
    try:
        stream = stream_job.pages_stream(spark, path)
        sessions = stream_job.streaming_conn_sessions(stream)
        q = stream_job.run_available_now(sessions, "stream_sessions", ckpt)
        closed = {
            r["conn_id"]: r["lifetime_ms"]
            for r in spark.table("stream_sessions").collect()
            if r["status"] == "closed"
        }
        # batch J2 (unsampled) equivalent
        batch = (
            joins.conn_lifetimes(
                route.conn_lifecycle_records(
                    route.split_streams(spark.read.parquet(path))["kept"]
                ),
                sample_mod=1,
            )
        )
        want = {r["conn_id"]: r["lifetime_ms"] for r in batch.collect()}
        assert closed == want
        q.stop()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
