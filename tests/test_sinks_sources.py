"""Tests for log-file sources (S1/S2/S4/E17), sink writers (K1-K6), the JSON
report (K3/A12), humanize helpers (E18) and detectors (E19/E20)."""

from __future__ import annotations

import gzip
import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from mongo_log_parser_spark.sinks import writers
from mongo_log_parser_spark.sources import datagen, logfiles
from tests.util import formatted_plan


def _write_log_files(tmp: str, spark) -> list[str]:
    texts = [
        r["text"]
        for r in spark.read.parquet(datagen.ensure_pages(0.001)).select("text").limit(400).collect()
    ]
    plain = os.path.join(tmp, "cluster0-shard-01-02.log")
    with open(plain, "w") as f:
        f.write("\n".join(texts[:200]))
    gz = os.path.join(tmp, "cluster0-shard-03-04.log.gz")
    with gzip.open(gz, "wt") as f:
        f.write("\n".join(texts[200:]))
    return [plain, gz]


def test_read_log_files_plain_and_gzip(spark):
    tmp = tempfile.mkdtemp(prefix="mlp-logs-", dir="/root/repo/data")
    try:
        paths = _write_log_files(tmp, spark)
        df = logfiles.read_log_files(spark, paths)
        # no per-file row_number window unless --limit is set: the no-limit
        # scan must be shuffle-free (scale: one reducer per file otherwise)
        plan = formatted_plan(df)
        assert "Exchange" not in plan and "Window" not in plan
        assert df.count() == 400  # .gz read transparently (S2)
        assert df.select("url").distinct().count() == 400  # lineage ids unique
        shards = {(r["shard"], r["node"]) for r in df.select("shard", "node").distinct().collect()}
        assert shards == {("01", "02"), ("03", "04")}  # E17 filename lineage
        # S4: per-file line limit
        limited = logfiles.read_log_files(spark, paths, limit_per_file=50)
        assert limited.count() == 100
        # pages-shaped: the full pipeline runs on it
        from mongo_log_parser_spark.operators import route

        ops = route.split_streams(df)["ops"]
        assert ops.count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_read_zip_log_files(spark):
    """S2 zip: binaryFile + mapInPandas unzip reads EVERY archive entry
    (the reference's ZipInputStream never calls getNextEntry, so it reads
    zero lines from a zip — LogParser.java:801-804; working here)."""
    import zipfile

    tmp = tempfile.mkdtemp(prefix="mlp-zip-", dir="/root/repo/data")
    try:
        texts = [
            r["text"]
            for r in spark.read.parquet(datagen.ensure_pages(0.001)).select("text").limit(300).collect()
        ]
        zpath = os.path.join(tmp, "cluster0-shard-05-06.log.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr("node-a.log", "\n".join(texts[:120]))
            zf.writestr("node-b.log", "\n".join(texts[120:250]))
        df = logfiles.read_log_files(spark, [zpath])
        assert df.count() == 250  # both entries, not just the first
        assert df.select("url").distinct().count() == 250
        assert {(r["shard"], r["node"]) for r in df.select("shard", "node").distinct().collect()} == {("05", "06")}
        # mixed zip + plain in one call
        plain = os.path.join(tmp, "extra.log")
        with open(plain, "w") as f:
            f.write("\n".join(texts[250:300]))
        both = logfiles.read_log_files(spark, [zpath, plain])
        assert both.count() == 300
        # per-file limit applies inside the archive too
        assert logfiles.read_log_files(spark, [zpath], limit_per_file=40).count() == 40
        # pipeline runs on it
        from mongo_log_parser_spark.operators import route

        assert route.split_streams(df)["ops"].count() > 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_garbage_input_probe(spark):
    """Broken JSON / NULL / empty / binary-junk text must not throw anywhere
    in split_streams — invalid JSON drops like the reference's parse-error
    counter; NULL/empty lines route to ignored (non-JSON)."""
    from mongo_log_parser_spark.operators import route

    rows = [
        ("u1", '{"t":{"$date":"2025-01-01T00:00:00.000+00:00"},"c":"COMMAND","msg":"Slow query","attr":{"ns":"db.c","command":{"find":"c"},"durationMillis":5}}'),
        ("u2", '{"truncated json...'),
        ("u3", ""),
        ("u4", None),
        ("u5", "\x00\xff not json at all"),
        ("u6", "{}"),
        ("u7", '{"t":"not-an-object","c":"COMMAND","msg":"Slow query","attr":{"find":1}}'),
        ("u8", "x" * (1024 * 1024 + 10)),  # oversized
    ]
    pages = spark.createDataFrame(rows, "url string, text string").selectExpr(
        "url", "cast(null as timestamp) warc_ts", "cast(null as binary) html", "text",
        "cast(null as string) lang",
    )
    s = route.split_streams(pages)
    counts = {k: s[k].count() for k in ("oversized", "ignored", "kept", "ops", "errors")}
    assert counts["oversized"] == 1
    assert counts["kept"] >= 1  # u1 parses
    # nothing threw; every input line landed somewhere sane
    assert counts["ignored"] + counts["kept"] + counts["oversized"] >= 7


def test_logfilter_cli(spark):
    """§3.3 standalone LogFilter: read.text → trim UDF → write.text."""
    import glob as _glob

    from mongo_log_parser_spark import logfilter

    tmp = tempfile.mkdtemp(prefix="mlp-filter-", dir="/root/repo/data")
    try:
        paths = _write_log_files(tmp, spark)
        out = os.path.join(tmp, "filtered")
        logfilter.run(spark, paths, out, limit=100)
        lines = []
        for p in _glob.glob(os.path.join(out, "part-*")):
            lines += open(p).read().splitlines()
        assert len(lines) == 200  # 100-line cap per file (S4)
        # trimmed output is still one JSON doc per line
        assert all(line.startswith("{") for line in lines if line)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_namespace_filter_predicate(spark):
    from mongo_log_parser_spark.operators import route

    pages = spark.read.parquet(datagen.ensure_pages(0.001))
    ops = route.split_streams(pages)["ops"].filter(F.col("ns_pass"))
    pred = logfiles.namespace_filter_predicate(["appdb.orders", "shopdb.*", "metricsdb"])
    kept = ops.filter(pred(F.col("db"), F.col("coll")))
    seen = {(r["db"], r["coll"]) for r in kept.select("db", "coll").distinct().collect()}
    assert ("appdb", "orders") in seen
    assert all(db in ("appdb", "shopdb", "metricsdb") for db, _ in seen)
    assert ("appdb", "users") not in seen  # exact filter doesn't leak the db
    # glob form
    pred2 = logfiles.namespace_filter_predicate(["app*.ord*"])
    seen2 = {(r["db"], r["coll"]) for r in ops.filter(pred2(F.col("db"), F.col("coll"))).select("db", "coll").distinct().collect()}
    assert seen2 == {("appdb", "orders")}


def test_json_report_and_csv_sinks(spark):
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.plans import pipeline

    sinks = pipeline.plan_sinks(route.split_streams(pipeline.read_pages(spark, sf=0.001)))
    # default: sections are UNBOUNDED like the reference JSON (only queryHash
    # top-100 / slowPlanning top-50 are reference-bounded); no truncation key
    full = writers.json_report(sinks, metadata={"source": "sf0.001"})
    assert full["summary"]["uniquePatterns"] == sinks["main_ops"].count()
    assert full["summary"]["uniquePatterns"] > 100
    assert len(full["mainOperations"]) == full["summary"]["uniquePatterns"]
    assert len(full["queryHashAnalysis"]) <= 100
    assert len(full["slowPlanning"]) == 50
    assert "mainOperations" not in full.get("sectionTruncation", {})
    # opt-in scale cap (--top-sections): O(top-N) assembly, dropped rows
    # disclosed per section so consumers can detect truncation
    report = writers.json_report(sinks, metadata={"source": "sf0.001"},
                                 top_sections=100)
    assert report["summary"]["totalOperations"] > 0
    # summary totals still come from the FULL sinks (Spark-side aggregation)
    assert report["summary"]["uniquePatterns"] == full["summary"]["uniquePatterns"]
    assert len(report["mainOperations"]) == 100
    assert len(report["planCacheAnalysis"]) <= 100
    assert report["sectionTruncation"]["mainOperations"] == {
        "total": report["summary"]["uniquePatterns"], "kept": 100}
    assert report["summary"]["totalOperations"] > sum(
        r["count"] for r in report["mainOperations"])
    assert 0 <= report["summary"]["collscanPercent"] <= 100
    assert len(report["slowPlanning"]) == 50
    # sections sorted by count desc (K1 ordering)
    counts = [r["count"] for r in report["mainOperations"]]
    assert counts == sorted(counts, reverse=True)
    # serializable end-to-end
    tmp = tempfile.mkdtemp(prefix="mlp-report-", dir="/root/repo/data")
    try:
        p = os.path.join(tmp, "report.json")
        writers.write_json_report(sinks, p)
        assert json.load(open(p))["summary"]["totalOperations"] == report["summary"]["totalOperations"]
        writers.write_csv_sinks({"op_stats": sinks["op_stats"]}, tmp)
        csvdir = os.path.join(tmp, "op_stats_csv")
        files = [f for f in os.listdir(csvdir) if f.endswith(".csv")]
        assert files and open(os.path.join(csvdir, files[0])).readline().startswith("op_stat,")
        # K4 — HTML render of the same report document
        html = writers.html_report(report)
        assert html.startswith("<!DOCTYPE html>")
        for sec in ("Main Operations", "Error Codes", "Query Hash Analysis",
                    "Index Usage", "Driver Stats", "Ignored Line Categories"):
            assert sec in html, sec
        # every section an accordion; durations humanized; the ONLY script is
        # the static data-free column sorter
        assert html.count("<details class='sec'") >= 10
        assert "ms</td>" in html or "s</td>" in html
        assert html.count("<script") == 1 and writers._SORT_JS in html
        # every section carries a filter box (reference filterTable parity),
        # one per table, none outside a section
        assert html.count("<input class='filter'") == html.count("<details class='sec'")
        # opt-in truncation disclosed in the rendered section header
        assert "showing top 100 of" in html
        hp = os.path.join(tmp, "report.html")
        writers.write_html_report(sinks, hp, metadata={"source": "sf0.001"})
        assert os.path.getsize(hp) > 10000
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_html_escapes_user_content():
    """Report values (log lines, namespaces) must never reach the HTML
    unescaped — the single <script> block is the static sorter, and
    injected markup in any value renders inert."""
    report = {
        "metadata": {"src": "<script>alert(1)</script>"},
        "summary": {"totalOperations": 1},
        "mainOperations": [
            {"ns": "<b>evil</b>", "count": 2,
             "sample_line": 'x"y<img src=x onerror=alert(1)>' + "z" * 80},
        ],
    }
    html = writers.html_report(report)
    assert html.count("<script") == 1 and writers._SORT_JS in html
    assert "<script>alert" not in html
    assert "&lt;script&gt;alert" in html
    assert "<b>evil</b>" not in html and "&lt;b&gt;evil&lt;/b&gt;" in html
    assert "<img" not in html and "&lt;img" in html


def test_humanize_and_detectors():
    # E18 — formatDuration / formatBytes (LogRedactionUtil.java:515-525, 605-620)
    assert writers.format_duration(999) == "999ms"
    assert writers.format_duration(1500) == "1.5s"
    assert writers.format_duration(61000) == "1m 1s"
    assert writers.format_duration(3723000) == "1h 2m 3s"
    assert writers.format_bytes(512) == "512 bytes"
    assert writers.format_bytes(1536) == "1.5 KB"
    assert writers.format_bytes(1572864) == "1.5 MB"
    assert writers.format_bytes(1610612736) == "1.5 GB"


def test_detector_exprs(spark):
    df = spark.createDataFrame(
        [('{"truncated":{"errMsg":"x"}}',), ('{"mongos":{"v":1}}',), ('{"plain":1}',)],
        "text string",
    )
    rows = df.select(
        writers.is_truncated_expr(F.col("text")).alias("trunc"),
        writers.query_source_expr(F.col("text")).alias("src"),
    ).collect()
    assert [r["trunc"] for r in rows] == [True, False, False]
    assert [r["src"] for r in rows] == [" (from mongod)", " (from mongos)", " (from mongod)"]


def test_load_filter_config(tmp_path):
    """FilterConfig properties semantics: replace, add, remove."""
    from mongo_log_parser_spark.functions import prefilter

    p = tmp_path / "f.properties"
    p.write_text("# comment\nfilter.ignore.patterns = a, b\nfilter.ignore.add = c\nfilter.ignore.remove = a\n")
    assert prefilter.load_filter_config(str(p)) == ["b", "c"]
    p.write_text("filter.ignore = a, b\n")  # lenient alias for the replace key
    assert prefilter.load_filter_config(str(p)) == ["a", "b"]
    p.write_text("filter.ignore.add = extra-pattern\n")
    pats = prefilter.load_filter_config(str(p))
    assert pats[:-1] == prefilter.IGNORE_PATTERNS and pats[-1] == "extra-pattern"


def test_job_cli_flags(spark, tmp_path):
    """Reference-CLI parity flags end-to-end: --json-only, --drivers opt-in,
    --redact, --config replacement semantics, --plan-cache-csv path."""
    import json as _json

    from mongo_log_parser_spark import job

    out = tmp_path / "out"
    args = job.build_parser().parse_args([
        "--sf", "0.001", "--out", str(out), "--json-only", "--drivers", "--redact",
    ])
    summary = job.run_job(spark, args)
    assert "driver_stats" in summary["sinks"]        # --drivers opt-in honored
    assert "app_conn_stats" not in summary["sinks"]  # reference default: off
    assert (out / "report.json").exists()
    assert not (out / "sinks").exists()              # --json-only skips parquet
    report = _json.load(open(out / "report.json"))
    samples = [r.get("sample_line") or "" for r in report["mainOperations"]]
    assert samples and all(s.startswith("{") for s in samples if s)  # R8 keeps JSON

    # custom filter config REPLACING the pattern list changes routing
    cfg = tmp_path / "f.properties"
    cfg.write_text("filter.ignore = zz-never-matches\n")
    out2 = tmp_path / "out2"
    args2 = job.build_parser().parse_args([
        "--sf", "0.001", "--out", str(out2), "--json-only", "--config", str(cfg),
    ])
    job.run_job(spark, args2)
    r1 = _json.load(open(out / "report.json"))
    r2 = _json.load(open(out2 / "report.json"))
    ign1 = sum(r["count"] for r in r1["ignoredCategories"])
    ign2 = sum(r["count"] for r in r2["ignoredCategories"])
    assert ign2 < ign1  # gutted pattern list ignores less; whitelist still routes

    # per-analysis CSV at an exact path + unredacted baseline for comparison
    out3 = tmp_path / "out3"
    args3 = job.build_parser().parse_args([
        "--sf", "0.001", "--out", str(out3), "--json-only", "--plan-cache-csv", "pc.csv",
    ])
    job.run_job(spark, args3)
    r3 = _json.load(open(out3 / "report.json"))
    plain = [r.get("sample_line") or "" for r in r3["mainOperations"]]
    assert samples != plain  # --redact actually transformed the samples
    assert not (out3 / "pc.csv").exists()  # --json-only wins over csv flags

    out4 = tmp_path / "out4"
    args4 = job.build_parser().parse_args([
        "--sf", "0.001", "--out", str(out4), "--plan-cache-csv", "pc.csv",
    ])
    job.run_job(spark, args4)
    head = open(out4 / "pc.csv").readline()
    assert "query_hash" in head or "ns" in head


def test_per_shard_rollup(spark):
    """--shards mode: per-shard copies of a sink builder (LogParser.java:557-565
    analog). Per-shard counts must partition the global rollup exactly."""
    from pyspark.sql import functions as F

    from mongo_log_parser_spark.operators import aggregates as agg
    from mongo_log_parser_spark.operators import route
    from mongo_log_parser_spark.sources import logfiles

    tmp = tempfile.mkdtemp(prefix="mlp-shards-", dir="/root/repo/data")
    try:
        paths = _write_log_files(tmp, spark)
        pages = logfiles.read_log_files(spark, paths)
        s = route.split_streams(pages)
        glob_main = agg.main_ops(s["ops"])
        shard_main = agg.per_shard(agg.main_ops, s["ops"])
        shards = {r["shard"] for r in shard_main.select("shard").distinct().collect()}
        assert shards == {"01", "03"}  # from the two filenames
        total = glob_main.agg(F.sum("count")).collect()[0][0]
        total_sh = shard_main.agg(F.sum("count")).collect()[0][0]
        assert total == total_sh and total > 0

        # per_shard_grouped (one shuffle, shard cols as group keys) must be
        # row-identical to the branch-per-shard version
        grouped = agg.per_shard_grouped(agg.main_ops, s["ops"])
        assert grouped.columns == shard_main.columns

        def _key(rows):
            return sorted(tuple(str(r[c]) for c in ("shard", "node", "db", "coll", "op",
                                                    "app_name", "count", "min_ms", "max_ms",
                                                    "avg_ms", "total_docs")) for r in rows)

        assert _key(grouped.collect()) == _key(shard_main.collect())
        # and the grouped plan must be a single aggregation, not N union branches
        plan = formatted_plan(grouped)
        assert "Union" not in plan
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_redact_scrubs_filter_columns(spark):
    """--redact must value-redact the query-shape columns (sanitized_query /
    raw_filter), not just the raw sample-line columns — the reference's
    redactQueries path (LogParserTask.java:474-526 drives
    LogRedactionUtil.sanitizeFilter under the --redact flag)."""
    qh = spark.createDataFrame(
        [("h1", '{"status":"ACTIVE","user":"bob"}', '{"x":{"$gt":42}}')],
        "query_hash string, sanitized_query string, raw_filter string",
    )
    out = writers.redact_sinks({"query_hash": qh})["query_hash"].collect()[0]
    assert "ACTIVE" not in out["sanitized_query"] and "bob" not in out["sanitized_query"]
    assert "xxx" in out["sanitized_query"]
    assert "42" not in out["raw_filter"]  # digits → 9s
    assert out["query_hash"] == "h1"  # key columns untouched


def test_logfile_urls_partition_invariant(spark):
    """ADVICE fix: in --logs mode (no --limit) urls derive from line CONTENT
    (md5), so every url-keyed sample/tiebreak downstream is identical at any
    partition layout / cluster size. Read the same files under forced-small
    and default partitioning and compare the full url→text mapping."""
    tmp = tempfile.mkdtemp(prefix="mlp-parts-", dir="/root/repo/data")
    try:
        paths = _write_log_files(tmp, spark)

        def read_urls(max_bytes):
            old = spark.conf.get("spark.sql.files.maxPartitionBytes")
            spark.conf.set("spark.sql.files.maxPartitionBytes", str(max_bytes))
            try:
                df = logfiles.read_log_files(spark, paths)
                return sorted((r["url"], r["text"]) for r in df.collect())
            finally:
                spark.conf.set("spark.sql.files.maxPartitionBytes", old)

        assert read_urls(4096) == read_urls(128 * 1024 * 1024)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_shards_with_ns_filter_consistent(spark, tmp_path):
    """--ns-filter + --shards: the ns-filter predicate applies uniformly, so
    each of the 7 shard rollups sums exactly to its ns-filtered global
    counterpart (the reference gates all analyses through
    matchesNamespaceFilter)."""
    import json as _json

    from mongo_log_parser_spark import job

    tmp = tempfile.mkdtemp(prefix="mlp-nsshard-", dir="/root/repo/data")
    try:
        paths = _write_log_files(tmp, spark)
        out = tmp_path / "out"
        args = job.build_parser().parse_args([
            "--logs", *paths, "--out", str(out), "--shards",
            "--ns-filter", "appdb.*",
        ])
        job.run_job(spark, args)
        import glob as _glob

        import pandas as pd

        def sink(name):
            files = _glob.glob(str(out / "sinks" / name / "*.parquet"))
            return pd.concat([pd.read_parquet(f) for f in files]) if files else pd.DataFrame()

        checked = 0
        for name in ("main_ops", "plan_cache", "query_hash", "index_stats",
                     "ttl_ops", "error_codes", "transactions"):
            assert (out / "sinks" / f"shard_{name}").is_dir(), name
            g, s = sink(name), sink(f"shard_{name}")
            assert (g["count"].sum() if len(g) else 0) == (s["count"].sum() if len(s) else 0), name
            if len(g):
                checked += 1
                # and the namespace filter really applied to both sides
                for frame in (g, s):
                    if "db" in frame:
                        assert set(frame["db"].dropna()) <= {"appdb"}, name
                    elif "ns" in frame:
                        assert all(str(n).startswith("appdb.") for n in frame["ns"].dropna()), name
        assert checked >= 2  # the filter kept real data; sums weren't 0==0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_html_report_per_shard_sections(spark):
    """--shards HTML: per-shard sinks render as nested per-shard accordions
    (reference HtmlReportGenerator.java:1379-1905), rows grouped by the
    shard/node identity with those columns lifted out of the inner table."""
    from mongo_log_parser_spark.sinks import writers

    df = spark.createDataFrame(
        [("sh0", "n1", "db.c", 5, 1200), ("sh0", "n1", "db.d", 2, 90),
         ("sh1", "n2", "db.c", 3, 7)],
        "shard string, node string, ns string, count long, avg_ms long")
    shard_rows = writers.shard_report_rows({"shard_main_ops": df})
    assert [r["count"] for r in shard_rows["shard_main_ops"][:2]] == [5, 2]  # count desc in-shard
    html = writers.html_report({"metadata": {}, "summary": {}}, shard_rows=shard_rows)
    assert "Main Operations by Shard" in html
    assert "sh0 / n1" in html and "sh1 / n2" in html
    assert html.count("class='shard'") == 2  # one nested accordion per shard
    assert html.count("<input class='filter'") == 2  # one filter box per shard table
    assert "<th title='click to sort'>shard</th>" not in html  # identity lifted out
    # no shard sinks → no shard markup, report unchanged
    plain = writers.html_report({"metadata": {}, "summary": {}})
    assert "class='shard'" not in plain
    # --top-sections bounds the shard collect too: top rows PER SHARD by the
    # sink sort key (sh0 keeps its count-5 row, sh1 its only row)
    capped = writers.shard_report_rows({"shard_main_ops": df}, top=1)
    assert [(r["shard"], r["count"]) for r in capped["shard_main_ops"]] == [
        ("sh0", 5), ("sh1", 3)]


def test_warc_streaming_reader_memory_bound():
    """The gzip record reader must STREAM: peak Python allocations while
    iterating a segment that decompresses to ~256 MiB stay far below the
    decompressed size (the old gzip.decompress(whole_blob) held all of it).
    Driver-side run of the exact code the executor stage uses."""
    import gzip
    import io
    import tracemalloc

    from mongo_log_parser_spark.sources import warc

    payload = (b"<html>" + b"x" * 16350 + b"</html>")  # ~16 KiB per record
    n_records = 16000  # ~256 MiB decompressed
    gz_buf = io.BytesIO()
    with gzip.GzipFile(fileobj=gz_buf, mode="wb", compresslevel=1) as gz:
        rec = io.BytesIO()
        warc.write_record(rec, "https://x.example/r", __import__("datetime").datetime(
            2025, 7, 1, tzinfo=__import__("datetime").timezone.utc), payload, "beef")
        one = rec.getvalue()
        for _ in range(n_records):
            gz.write(one)
    blob = gz_buf.getvalue()
    decompressed_size = len(one) * n_records
    assert decompressed_size > 200 * 1024 * 1024

    tracemalloc.start()
    count = 0
    for headers, body in warc.iter_warc_records(blob):
        count += 1
        assert len(body) == len(payload)
    _, peak = tracemalloc.get_traced_memory()
    tracemalloc.stop()
    assert count == n_records
    # blob itself was allocated before tracing; the reader may hold the gzip
    # window + a few record buffers — 32 MiB is an order of magnitude under
    # the decompressed stream (observed ~1-2 MiB)
    assert peak < 32 * 1024 * 1024, f"streaming reader peaked at {peak} bytes"


def test_warc_roundtrip_bytes(spark):
    """WARC render → read_warc must reproduce (url, warc_ts, html) of the
    pages table exactly, byte-for-byte html, through both the plain .warc
    and the gzipped .warc.gz segments."""
    from mongo_log_parser_spark.sources import datagen, warc

    pages_p = datagen.ensure_pages(0.001)
    warc_p = datagen.ensure_warc(0.001)
    import os

    names = sorted(os.listdir(warc_p))
    assert any(n.endswith(".warc") for n in names)
    # sf0.001 renders a single plain segment (n_files=1); the gzip read path
    # is covered byte-level in test_warc_parser_malformed_and_skips

    src = {r["url"]: r for r in spark.read.parquet(pages_p)
           .select("url", "warc_ts", "html").collect()}
    got = {r["url"]: r for r in warc.read_warc(spark, warc_p).collect()}
    assert set(got) == set(src)
    for url, row in src.items():
        assert got[url]["html"] == row["html"], url
        assert got[url]["warc_ts"] == row["warc_ts"], url


def test_warc_parser_malformed_and_skips():
    """Non-resource records are skipped; truncated/garbage input raises with
    a byte offset instead of silently dropping records."""
    import io
    from datetime import datetime, timezone

    import pytest

    from mongo_log_parser_spark.sources import warc

    ts = datetime(2025, 7, 1, 0, 0, 0, 527000, tzinfo=timezone.utc)
    buf = io.BytesIO()
    # a warcinfo record (skipped) followed by a resource record (kept)
    buf.write(b"WARC/1.1\r\nWARC-Type: warcinfo\r\nContent-Length: 3\r\n\r\nabc\r\n\r\n")
    warc.write_record(buf, "https://x.example/1", ts, b"<html>1</html>", "cafe")
    recs = list(warc.iter_warc_records(buf.getvalue()))
    assert len(recs) == 2
    kept = [(h, p) for h, p in recs if h.get("warc-type") == "resource"]
    assert len(kept) == 1
    assert kept[0][1] == b"<html>1</html>"
    assert warc.parse_warc_date(kept[0][0]["warc-date"]) == ts

    # the gzip segment path: same records, gz-compressed, sniffed by magic
    import gzip

    gz = gzip.compress(buf.getvalue())
    assert list(warc.iter_warc_records(gz)) == recs

    with pytest.raises(ValueError, match="no version line"):
        list(warc.iter_warc_records(b"NOT A WARC FILE"))
    with pytest.raises(ValueError, match="truncated"):
        list(warc.iter_warc_records(
            b"WARC/1.1\r\nWARC-Type: resource\r\nContent-Length: 99\r\n\r\nshort"))
