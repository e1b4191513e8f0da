"""spark-submit entrypoint — the packaged batch job.

Usage (local dev):
    python -m mongo_log_parser_spark.job --sf 0.01 --out data/run1

Usage (cluster) — submit the thin launcher, not this module (as a main script
this file would lose its package context for relative imports; proven on a
multi-executor local-cluster in tests/test_spark_submit.py):
    zip -r mlp.zip mongo_log_parser_spark
    spark-submit --py-files mlp.zip --master yarn \\
        scripts/submit_job.py --pages s3://bucket/pages --out s3://bucket/out

Runs the full parse→route→aggregate pipeline, writes every sink (parquet +
CSV), the JSON report, and — with --resumable — drives the per-day lineage
manifest so a restarted job skips committed partitions. The flag surface
mirrors the reference CLI (LogParser.java:60-117): --redact, --config
(FilterConfig properties), --drivers / --app-name-stats opt-ins, --text,
--html, --json-only, and the per-analysis CSV paths.
"""

from __future__ import annotations

import argparse
import json
import os


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(description="mongo_log_parser_spark batch job")
    ap.add_argument("--pages", help="pages table path (parquet)")
    ap.add_argument("--logs", nargs="*", help="raw MongoDB log file(s) (.log/.log.gz) instead of --pages")
    ap.add_argument("--sf", type=float, default=None, help="generate/use synthetic pages at this scale factor")
    ap.add_argument("--out", required=True, help="output directory for sinks + report")
    ap.add_argument("--master", default=None)
    ap.add_argument("--limit", type=int, default=None, help="per-file line limit (--logs mode)")
    ap.add_argument("--ns-filter", nargs="*", default=None,
                    help="namespace filters: exact db.coll, db.*, db, or glob")
    ap.add_argument("--resumable", action="store_true", help="per-day manifest ingest (O14)")
    ap.add_argument("--csv", action="store_true", help="also write CSV sinks")
    # reference CLI parity (LogParser.java:60-117)
    ap.add_argument("--redact", action="store_true",
                    help="redact/trim sample queries and raw lines in every output (R1-R9)")
    ap.add_argument("--config", "--filter-config", dest="filter_config",
                    help="FilterConfig properties file (filter.ignore / .add / .remove)")
    ap.add_argument("--drivers", action="store_true",
                    help="enable driver statistics sink (reference default: off)")
    ap.add_argument("--app-name-stats", action="store_true",
                    help="enable appName connection statistics sink (reference default: off)")
    ap.add_argument("--shards", action="store_true",
                    help="per-shard rollup sinks from the filename shard identity (--logs mode)")
    ap.add_argument("--text", action="store_true", help="console report")
    ap.add_argument("--html", nargs="?", const="report.html", default="report.html",
                    help="HTML report path, written by default like the reference "
                         "(LogParser.java:93-94); relative to --out unless absolute. "
                         "--json-only suppresses it")
    ap.add_argument("--json-only", action="store_true",
                    help="JSON report only (skip parquet/CSV/HTML sinks)")
    ap.add_argument("--top-sections", type=int, default=None,
                    help="opt-in cap on rows per JSON/HTML report section for "
                         "very-high-cardinality clusters (reference reports are "
                         "unbounded except queryHash top-100 / slowPlanning "
                         "top-50); dropped rows are disclosed in "
                         "report['sectionTruncation']")
    ap.add_argument("--plan-cache-csv", help="CSV path for the plan-cache analysis")
    ap.add_argument("--query-hash-csv", help="CSV path for the query-hash analysis")
    ap.add_argument("--error-codes-csv", help="CSV path for the error-code analysis")
    ap.add_argument("--transaction-csv", help="CSV path for the transaction analysis")
    ap.add_argument("--ignored-analysis", help="CSV path for the ignored-line category analysis")
    return ap


def run_job(spark, args) -> dict:
    """The job body, session-lifecycle-free (testable against a shared session)."""
    from .functions import prefilter
    from .plans import manifest, pipeline
    from .sinks import writers
    from .sources import datagen, logfiles

    if args.resumable and args.logs:
        raise ValueError("--resumable needs --pages or --sf: raw --logs carry "
                         "no warc_ts for the per-day manifest to partition on")
    if args.logs:
        pages = logfiles.read_log_files(spark, args.logs, limit_per_file=args.limit)
        pages_path = None
    else:
        # pipeline.build reads the path: a cold session's first read is build time
        pages = pages_path = args.pages or datagen.ensure_pages(
            args.sf if args.sf is not None else 0.001)

    ignore_patterns = (
        prefilter.load_filter_config(args.filter_config) if args.filter_config else None
    )
    if args.resumable:
        stats = manifest.run_resumable(spark, pages_path, os.path.join(args.out, "ingest"),
                                       ignore_patterns=ignore_patterns)
        print(json.dumps({"manifest": stats}))

    # --ns-filter gates every ns-scoped sink and --shards adds the per-shard
    # copies, both inside the one sink plan (pipeline.plan_sinks)
    res = pipeline.build(pages, ignore_patterns=ignore_patterns,
                         ns_filter=args.ns_filter, shards=args.shards)
    try:
        # reference defaults: driver stats and appName stats are opt-in
        sinks = dict(res.sinks)
        if not args.drivers:
            sinks.pop("driver_stats", None)
        if not args.app_name_stats:
            sinks.pop("app_conn_stats", None)
        if args.redact:
            sinks = writers.redact_sinks(sinks)

        os.makedirs(args.out, exist_ok=True)
        report = None  # the first report writer builds it, the JSON writer reuses it
        if not args.json_only:
            # every sink is computed once, here; the writers below read it back
            # from parquet. --json-only keeps the live plans: it reads them once
            sinks = writers.write_parquet_sinks(sinks, os.path.join(args.out, "sinks"))
            if args.csv:
                writers.write_csv_sinks(sinks, os.path.join(args.out, "csv"))
            for flag, sink in (
                (args.plan_cache_csv, "plan_cache"), (args.query_hash_csv, "query_hash"),
                (args.error_codes_csv, "error_codes"), (args.transaction_csv, "transactions"),
                (args.ignored_analysis, "ignored"),
            ):
                if flag and sink in sinks:
                    writers.write_sink_csv(
                        sink, sinks[sink],
                        flag if os.path.isabs(flag) else os.path.join(args.out, flag))
            if args.html:
                report = writers.write_html_report(
                    sinks,
                    args.html if os.path.isabs(args.html) else os.path.join(args.out, args.html),
                    top_sections=args.top_sections)
        writers.write_json_report(
            sinks, os.path.join(args.out, "report.json"),
            metadata={"pages": pages_path or "log-files", "engine": "mongo_log_parser_spark"},
            top_sections=args.top_sections, report=report,
        )
        if args.text:
            writers.console_report(sinks)
        summary = {"out": args.out, "sinks": sorted(sinks)}
        print(json.dumps(summary))
    finally:
        # removes the stage dir on failure too
        res.unpersist()
    return summary


def main(argv: list[str] | None = None) -> None:
    args = build_parser().parse_args(argv)

    from .session import build_session

    spark = build_session(app_name="mongo-log-parser-spark-job", master=args.master)
    try:
        run_job(spark, args)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
