"""K1-K6 + A12 — sink writers and the JSON report.

Each sink is computed once: `write_parquet_sinks` writes every sink
concurrently and returns the written parquet read back, and the CSV, HTML,
JSON and console writers read those scans instead of re-running the sink
plans. The HTML and JSON reports render one report dict (`json_report`),
built once from one Arrow snapshot per sink it reads: the first report
writer builds it and returns it, the second is passed it. Its A12 summaries
stay Spark aggregations over the full sinks, run once. The reference
likewise renders every format from one in-memory state
(JsonReportGenerator.java:29-89).

- CSV sinks: one file per accumulator, rows sorted by count desc — the
  reference's reportCsv pattern (Accumulator.java:169-177 and the per-
  accumulator variants, QueryHashAccumulator.java:174-183 etc.)
- Parquet sinks: the engine-native fan-out (Iceberg-table analog).
- JSON report: the nested report document with metadata + per-section arrays
  and the lossy global summaries, mirroring JsonReportGenerator.java:29-375
  (totalDocsExamined = Σ avg*count is reproduced as-is — a documented
  reference lossiness, JsonReportGenerator.java:96-106).
- humanize helpers (E18): formatDuration / formatBytes
  (LogRedactionUtil.java:515-525, 605-620).
- detectors (E19/E20): truncation + mongos/mongod source.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from typing import Any

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.aggregates import TOP_SLOW_PLANNING

# report sections in document order: (report.json key, sink it renders,
# HTML title, sort key). Every report sorts by count desc (SURVEY.md §2.7);
# slowPlanning keeps its sink's own top-K key (_sorted).
REPORT_SECTIONS = (
    ("mainOperations", "main_ops", "Main Operations", "count"),
    ("ttlOperations", "ttl_ops", "TTL Operations", "count"),
    ("operationTypeStats", "op_stats", "Operation Type Stats", "count"),
    ("errorCodes", "error_codes", "Error Codes", "count"),
    ("queryHashAnalysis", "query_hash", "Query Hash Analysis (top 100)", "count"),
    ("planCacheAnalysis", "plan_cache", "Plan Cache", "count"),
    ("indexStats", "index_stats", "Index Usage", "count"),
    ("transactions", "transactions", "Transactions", "count"),
    ("slowPlanning", "slow_planning", "Slow Planning (top 50)", None),
    ("appNameConnections", "app_conn_stats", "App Connections", "distinct_connections"),
    ("driverStats", "driver_stats", "Driver Stats", "connection_count"),
    ("ignoredCategories", "ignored", "Ignored Line Categories", "count"),
)
SINK_SORT_KEYS = {sink: key for _, sink, _, key in REPORT_SECTIONS if key}

# the reference's only bounded report sections: queryHash top-100
# (JsonReportGenerator.java:251) and slowPlanning top-50 (its sink's own
# bound, aggregates.TOP_SLOW_PLANNING)
TOP_QUERY_HASHES = 100


def _sorted(name: str, df: DataFrame) -> DataFrame:
    if name == "slow_planning":
        # the sink's own top-K key (aggregates.slow_planning); a parquet
        # read-back over several files does not keep its row order
        return df.orderBy(F.desc("planning_us"), F.asc("url"))
    key = SINK_SORT_KEYS.get(name)
    return df.orderBy(F.desc(key)) if key and key in df.columns else df


def _sort_table(name: str, table: pa.Table) -> pa.Table:
    """_sorted's order applied to an Arrow table of an unbounded section's
    sink. sort_indices is stable, so ties keep read order, as they do in
    Spark's sort of the same scan."""
    key = SINK_SORT_KEYS.get(name)
    if not (key and key in table.column_names):
        return table
    return table.take(pc.sort_indices(table, sort_keys=[(key, "descending")],
                                      null_placement="at_end"))


def write_csv_sinks(sinks: dict[str, DataFrame], out_dir: str) -> None:
    """K1/K2 — header + rows sorted by count desc, one directory per sink."""
    for name, df in sinks.items():
        _sorted(name, df).coalesce(1).write.mode("overwrite").option("header", True).csv(
            os.path.join(out_dir, f"{name}_csv")
        )


def write_sink_csv(name: str, df: DataFrame, path: str) -> None:
    """Single-sink CSV at an exact path (--planCacheCsv-style flags).

    Sinks are small post-groupBy reports, so this is driver-side assembly
    (same as json_report) — header is written even for an empty sink."""
    _sorted(name, df).toPandas().to_csv(path, index=False)


# sample/raw-line columns that carry user data — what --redact processes
REDACTABLE_COLUMNS = ("sample_line", "sample_message", "sample_auth_line",
                      "sample_metadata_line", "text")
# filter-subdocument columns (query shapes) — value-redacted via R9
# sanitizeFilter, matching the reference's redactQueries path
# (LogParserTask.java:474-526: --redact drives
# LogRedactionUtil.sanitizeFilter(filter, redactQueries))
FILTER_COLUMNS = ("sanitized_query", "raw_filter")


def redact_sinks(sinks: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """R8 over every sample/raw-line column plus R9 over filter-shape columns
    (the --redact flag, LogParser.java:99-101): trim∘redact / sanitizeFilter
    via the Arrow-batched UDFs."""
    from ..functions.redact import make_udfs

    udfs = make_udfs()
    process, sanitize = udfs["process"], udfs["sanitize_filter"]
    out = {}
    for name, df in sinks.items():
        for c in df.columns:
            if c in REDACTABLE_COLUMNS:
                df = df.withColumn(c, process(F.col(c)))
            elif c in FILTER_COLUMNS:
                df = df.withColumn(c, sanitize(F.col(c)))
        out[name] = df
    return out


def write_parquet_sinks(sinks: dict[str, DataFrame], out_dir: str) -> dict[str, DataFrame]:
    """Write every sink to `out_dir/<name>`, concurrently from a driver thread
    pool as wide as the cluster's default parallelism, and return each written
    sink read back ({name: parquet scan}) so later writers never recompute a
    sink plan. pipeline.build writes its stages with it too. Each write runs
    with the caller's job group and local properties. A failed write is raised
    once every other write has finished."""
    from pyspark.util import inheritable_thread_target

    if not sinks:
        return {}
    spark = next(iter(sinks.values())).sparkSession
    paths = {name: os.path.join(out_dir, name) for name in sinks}

    def write(name: str) -> None:
        sinks[name].write.mode("overwrite").parquet(paths[name])

    width = min(len(sinks), spark.sparkContext.defaultParallelism)
    with ThreadPoolExecutor(max_workers=width) as pool:
        # wrapped per write: each copies the caller's local properties into
        # its own object, as each SQL execution stores its id there
        futures = [pool.submit(inheritable_thread_target(spark)(write), name)
                   for name in sinks]
    for f in futures:
        f.result()
    # the written schema is known, so the read-back infers nothing (no
    # footer-reading job per sink) and an empty sink reads back empty
    return {name: spark.read.schema(df.schema).parquet(paths[name])
            for name, df in sinks.items()}


def console_report(sinks: dict[str, DataFrame]) -> None:
    """K5 — fixed-width console tables, the first 20 rows of each sink
    (Accumulator.report analog)."""
    for name, df in sinks.items():
        print(f"=== {name} ===")
        _sorted(name, df).show(20, truncate=80)


# A12 global summaries: sums over the full rollups, reproducing the
# reference's lossy Σ avg*count totalDocsExamined
# (JsonReportGenerator.java:96-106)
_SUMMARY_SUMS = {
    "main_ops": ("sum(`count`)", "sum(avg_docs * `count`)", "sum(total_returned)"),
    "error_codes": ("sum(`count`)",),
    "index_stats": ("sum(`count`) FILTER (WHERE is_collscan)",),
}


def _totals(sinks: dict[str, DataFrame], names: list[str]) -> dict[str, list[int]]:
    """Each named sink's [row count, *its _SUMMARY_SUMS], nulls as 0 and
    padded with 0 to four values, from ONE Spark job: each sink aggregates
    within one partition, where a global aggregate needs no shuffle stage,
    and the one-row results are unioned. So one task reads each sink; on a
    live sink plan (--json-only) that task also runs the plan's last stage."""
    if not names:
        return {}
    parts = []
    for name in names:
        exprs = ("count(1)", *_SUMMARY_SUMS.get(name, ()))
        exprs += ("0",) * (4 - len(exprs))
        parts.append(sinks[name].coalesce(1).agg(
            F.lit(name).alias("sink"),
            *[F.coalesce(F.expr(e), F.lit(0)).cast("long").alias(f"v{i}")
              for i, e in enumerate(exprs)]))
    return {r["sink"]: list(r)[1:] for r in reduce(lambda a, b: a.union(b), parts).collect()}


def json_report(sinks: dict[str, DataFrame], metadata: dict | None = None,
                top_sections: int | None = None) -> dict[str, Any]:
    """K3/A12 — the nested JSON report document (JsonReportGenerator.java:29-89).

    Every section comes from one snapshot of its sink: a section with no row
    bound takes its sink into the driver once as Arrow (`toArrow()`) and
    sorts it there (`_sort_table`); a bounded section keeps the Spark-side
    cut `_sorted(...).limit(k)`, so ties at the bound resolve as Spark
    resolves them. The summaries and the row counts of the bounded sections'
    sinks come from one more Spark job (`_totals`). Sinks no section reads
    are never touched.

    Section bounds match the reference: ONLY queryHashAnalysis is top-100
    (JsonReportGenerator.java:251) and slowPlanning top-50; every other
    section is unbounded, as in the reference JSON. `top_sections` is the
    OPT-IN scale cap (--top-sections) for clusters whose rollups are too big
    to collect driver-side — a deliberate divergence when engaged, and every
    section that actually drops rows is recorded in
    report["sectionTruncation"] = {section: {"total": N, "kept": K}} so
    consumers can detect it. The A12 global summaries are always computed as
    Spark aggregations over the FULL sinks, not from the collected rows, so
    the summary totals stay exact regardless of any cap."""
    bounds = {name: top_sections for _, name, _, _ in REPORT_SECTIONS}
    bounds.update(op_stats=None, ignored=None, query_hash=TOP_QUERY_HASHES,
                  slow_planning=TOP_SLOW_PLANNING)
    totals = _totals(sinks, [name for _, name, _, _ in REPORT_SECTIONS if name in sinks
                             and (bounds[name] or name in _SUMMARY_SUMS)])
    truncation: dict[str, dict[str, int]] = {}

    def rows(section: str, name: str) -> list[dict[str, Any]]:
        if name not in sinks:  # opt-out sinks (--drivers / --app-name-stats off)
            return []
        limit = bounds[name]
        if not limit:
            return _sort_table(name, sinks[name].toArrow()).to_pylist()
        if totals[name][0] > limit:
            truncation[section] = {"total": totals[name][0], "kept": limit}
        return [r.asDict(recursive=True)
                for r in _sorted(name, sinks[name]).limit(limit).collect()]

    patterns, total_ops, total_docs_lossy, total_returned = totals.get("main_ops", [0] * 4)
    total_errors = totals.get("error_codes", [0] * 4)[1]
    collscan_ops = totals.get("index_stats", [0] * 4)[1]
    report = {
        "metadata": metadata or {},
        "summary": {
            "totalOperations": total_ops,
            "totalDocsExamined": total_docs_lossy,  # Σ avg*count, by reference design
            "totalReturned": total_returned,
            "uniquePatterns": patterns,
            "totalErrors": total_errors,
            "collscanPercent": round(100.0 * collscan_ops / total_ops, 2) if total_ops else 0.0,
        },
        **{section: rows(section, name) for section, name, _, _ in REPORT_SECTIONS},
    }
    if truncation:
        report["sectionTruncation"] = truncation
    return report


def write_json_report(sinks: dict[str, DataFrame], path: str, metadata: dict | None = None,
                      top_sections: int | None = None,
                      report: dict[str, Any] | None = None) -> dict[str, Any]:
    """Write report.json with `metadata`. `report` is a json_report dict an
    earlier report writer built, so no sink is read again; without it the
    report is built here. Returns the report for the next writer."""
    if report is None:
        report = json_report(sinks, top_sections=top_sections)
    with open(path, "w") as f:
        json.dump({**report, "metadata": metadata or {}}, f, indent=2, default=str)
    return report


# ----------------------------------------------------------- K4 HTML report

# Static, data-free sorter: click a header to sort its table by that column
# (numeric when both values parse as numbers; the humanized duration/bytes
# cells carry their raw value in title="", so they sort numerically too).
# This is the ONLY script in the document and never contains report content —
# all report values go through _esc().
_SORT_JS = (
    "<script>document.addEventListener('click',function(e){"
    "var th=e.target.closest('th');if(!th||!th.closest('table'))return;"
    "var t=th.closest('table'),i=th.cellIndex,rows=Array.prototype.slice.call(t.rows,1);"
    "var dir=th.dataset.dir==='asc'?-1:1;th.dataset.dir=(dir===1?'asc':'desc');"
    "rows.sort(function(a,b){"
    "var x=a.cells[i].title||a.cells[i].textContent,y=b.cells[i].title||b.cells[i].textContent;"
    "var nx=parseFloat(x),ny=parseFloat(y);"
    "if(!isNaN(nx)&&!isNaN(ny))return dir*(nx-ny);"
    "return dir*x.localeCompare(y);});"
    "rows.forEach(function(r){t.appendChild(r);});});"
    # per-section filter boxes (HtmlReportGenerator.java:2312-2386 filterTable:
    # case-insensitive substring match over every cell, non-matching rows
    # hidden). One static delegated listener, no per-section wiring and no
    # report data in the script: each .filter input filters the table that
    # follows it in its section.
    "document.addEventListener('input',function(e){"
    "var inp=e.target;if(!inp.classList||!inp.classList.contains('filter'))return;"
    "var t=inp.parentNode.querySelector('table');if(!t)return;"
    "var q=inp.value.toLowerCase();"
    "Array.prototype.slice.call(t.rows,1).forEach(function(r){"
    "r.style.display=r.textContent.toLowerCase().indexOf(q)>=0?'':'none';});});"
    "</script>"
)

_SAMPLE_COLS = {"sample_line", "sample_metadata_line", "sample_auth_line", "raw_filter",
                "sanitized_query", "text"}

# Per-shard accordion variants (HtmlReportGenerator.java:1379-1905 renders a
# per-shard copy of each analysis section; here the rows come from the
# per_shard_grouped sinks — one shuffle each — and the HTML groups them by
# shard identity into nested accordions).
_SHARD_HTML_SECTIONS = [
    ("shard_main_ops", "Main Operations by Shard"),
    ("shard_ttl_ops", "TTL Operations by Shard"),
    ("shard_query_hash", "Query Hash Analysis by Shard"),
    ("shard_plan_cache", "Plan Cache by Shard"),
    ("shard_index_stats", "Index Usage by Shard"),
    ("shard_error_codes", "Error Codes by Shard"),
    ("shard_transactions", "Transactions by Shard"),
]
_SHARD_KEY_COLS = ("shard", "node")


def shard_report_rows(sinks: dict[str, DataFrame],
                      top: int | None = None) -> dict[str, list[dict]]:
    """Collect per-shard sink rows for the HTML shard accordions: ordered by
    shard identity, then the base sink's own sort key (count desc). Same
    driver-side O(report rows) assembly as json_report — the heavy lifting
    (the per-shard grouped aggregation) already ran distributed. `top` is the
    --top-sections cap applied PER SHARD (a window row_number, evaluated
    distributed) so the driver collect stays bounded on cluster-sized logs."""
    out: dict[str, list[dict]] = {}
    for key, _title in _SHARD_HTML_SECTIONS:
        if key not in sinks:
            continue
        df = sinks[key]
        ident = [c for c in _SHARD_KEY_COLS if c in df.columns]
        base = SINK_SORT_KEYS.get(key.removeprefix("shard_"))
        order = [F.asc(c) for c in ident]
        if base and base in df.columns:
            order.append(F.desc(base))
        if top is not None and ident:
            # --top-sections must bound THIS collect too (shard sinks are
            # ~n_shards x their base sink): keep the top rows PER SHARD by
            # the sink's own sort key, distributed, before collecting
            w = Window.partitionBy(*ident).orderBy(
                F.desc(base) if base and base in df.columns else F.asc(ident[0]))
            df = (df.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") <= top).drop("_rn"))
        rows = [r.asDict(recursive=True) for r in (df.orderBy(*order) if order else df).collect()]
        if rows:
            out[key] = rows
    return out


def _esc(v: Any) -> str:
    return (str(v).replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
            .replace('"', "&quot;"))


def _cell(col: str, v: Any) -> str:
    if v is None:
        return "<td></td>"
    if col in _SAMPLE_COLS:
        s = _esc(v)
        return f'<td><details><summary>{s[:60]}…</summary><pre>{s}</pre></details></td>' \
            if len(s) > 60 else f"<td><code>{s}</code></td>"
    if col.endswith("_ms") and isinstance(v, (int, float)) and not isinstance(v, bool):
        return f'<td title="{_esc(v)}">{_esc(format_duration(int(v)))}</td>'
    if ("bytes" in col or col == "total_reslen") and isinstance(v, int) and not isinstance(v, bool):
        return f'<td title="{_esc(v)}">{_esc(format_bytes(v))}</td>'
    return f"<td>{_esc(v)}</td>"


def html_report(report: dict[str, Any], shard_rows: dict[str, list[dict]] | None = None) -> str:
    """K4 — single-file HTML render of the JSON report: summary header, nav,
    one section per accordion (<details>, open by default — the reference's
    accordion pattern), click-to-sort column headers and per-table filter
    boxes (substring match over every cell, HtmlReportGenerator.java:2312-2386
    — both static inline JS, no report data in the script), humanized
    durations/bytes, collapsible sample log lines.

    Deliberately minimal next to the reference's 2798-line
    HtmlReportGenerator.java; section set, ordering
    (count desc), and the humanize rules match it
    (HtmlReportGenerator.java:42-120 section list; formatDuration/formatBytes
    per LogRedactionUtil.java:515-620). When `shard_rows` is given (--shards
    runs), each per-shard sink renders as an accordion of nested per-shard
    accordions — the reference's per-shard section variants
    (HtmlReportGenerator.java:1379-1905) over the per_shard_grouped sinks."""
    parts = [
        "<!DOCTYPE html><html><head><meta charset='utf-8'>",
        "<title>mongo-log-parser-spark report</title>",
        "<style>body{font-family:sans-serif;margin:1.5em}table{border-collapse:collapse;"
        "margin:1em 0;font-size:13px}th,td{border:1px solid #ccc;padding:3px 8px;"
        "text-align:left}th{background:#f0f0f0;position:sticky;top:0;cursor:pointer}"
        "tr:nth-child(even)"
        "{background:#fafafa}pre{white-space:pre-wrap;max-width:80em}summary{cursor:pointer}"
        "input.filter{padding:6px;border:1px solid #b8c4c2;border-radius:4px;"
        "margin:0.4em 0;width:240px}"
        "details.sec>summary{font-size:1.2em;font-weight:bold;margin:0.8em 0}"
        "nav a{margin-right:1em}</style></head><body>",
        "<h1>MongoDB Log Analysis Report</h1>",
    ]
    md = report.get("metadata") or {}
    sm = report.get("summary") or {}
    parts.append("<table><tr>" + "".join(
        f"<th>{_esc(k)}</th>" for k in list(md) + list(sm)) + "</tr><tr>" + "".join(
        f"<td>{_esc(v)}</td>" for v in list(md.values()) + list(sm.values())) + "</tr></table>")
    parts.append("<nav>" + "".join(
        f"<a href='#{key}'>{_esc(title)}</a>" for key, _, title, _ in REPORT_SECTIONS
        if report.get(key)) + "</nav>")
    trunc = report.get("sectionTruncation") or {}
    for key, _, title, _ in REPORT_SECTIONS:
        rows = report.get(key)
        if not rows:
            continue
        cols = list(rows[0].keys())
        note = (f" — showing top {trunc[key]['kept']} of {trunc[key]['total']}"
                if key in trunc else "")
        parts.append(
            f"<details class='sec' open id='{key}'><summary>{_esc(title)} "
            f"<small>({len(rows)} rows{_esc(note)})</small></summary>")
        parts.append("<input class='filter' type='text' placeholder='Filter rows…'>")
        parts.append("<table><tr>" + "".join(
            f"<th title='click to sort'>{_esc(c)}</th>" for c in cols) + "</tr>")
        for r in rows:
            parts.append("<tr>" + "".join(_cell(c, r.get(c)) for c in cols) + "</tr>")
        parts.append("</table></details>")
    # per-shard accordion variants (reference: HtmlReportGenerator.java:1379-1905)
    for key, title in _SHARD_HTML_SECTIONS:
        rows = (shard_rows or {}).get(key)
        if not rows:
            continue
        ident = [c for c in _SHARD_KEY_COLS if c in rows[0]]
        cols = [c for c in rows[0] if c not in ident]
        groups: dict[tuple, list[dict]] = {}
        for r in rows:
            groups.setdefault(tuple(r.get(c) for c in ident), []).append(r)
        parts.append(
            f"<details class='sec' id='{key}'><summary>{_esc(title)} "
            f"<small>({len(groups)} shards, {len(rows)} rows)</small></summary>")
        for gkey, grows in groups.items():
            label = " / ".join(_esc(v) for v in gkey if v is not None) or "(unknown shard)"
            parts.append(
                f"<details class='shard'><summary>{label} "
                f"<small>({len(grows)} rows)</small></summary>")
            parts.append("<input class='filter' type='text' placeholder='Filter rows…'>")
            parts.append("<table><tr>" + "".join(
                f"<th title='click to sort'>{_esc(c)}</th>" for c in cols) + "</tr>")
            for r in grows:
                parts.append("<tr>" + "".join(_cell(c, r.get(c)) for c in cols) + "</tr>")
            parts.append("</table></details>")
        parts.append("</details>")
    parts.append(_SORT_JS)
    parts.append("</body></html>")
    return "".join(parts)


def write_html_report(sinks: dict[str, DataFrame], path: str,
                      metadata: dict | None = None,
                      top_sections: int | None = None,
                      report: dict[str, Any] | None = None) -> dict[str, Any]:
    """Write the HTML report with `metadata`; `report` as in write_json_report."""
    if report is None:
        report = json_report(sinks, top_sections=top_sections)
    with open(path, "w") as f:
        f.write(html_report({**report, "metadata": metadata or {}},
                            shard_rows=shard_report_rows(sinks, top=top_sections)))
    return report


# ------------------------------------------------------- E18-E20 utilities

def format_duration(duration_ms: int) -> str:
    """E18 — ms → '1h 2m 3s' (LogRedactionUtil.java:605-620)."""
    if duration_ms < 1000:
        return f"{duration_ms}ms"
    if duration_ms < 60000:
        return f"{duration_ms / 1000.0:.1f}s"
    if duration_ms < 3600000:
        return f"{duration_ms // 60000}m {(duration_ms % 60000) // 1000}s"
    return (f"{duration_ms // 3600000}h {(duration_ms % 3600000) // 60000}m "
            f"{(duration_ms % 60000) // 1000}s")


def format_bytes(n: int) -> str:
    """E18 — bytes → '1.5 MB' (LogRedactionUtil.java:515-525)."""
    if n < 1024:
        return f"{n} bytes"
    if n < 1024 * 1024:
        return f"{n / 1024.0:.1f} KB"
    if n < 1024 * 1024 * 1024:
        return f"{n / (1024.0 * 1024.0):.1f} MB"
    return f"{n / (1024.0 * 1024.0 * 1024.0):.1f} GB"


def is_truncated_expr(text):
    """E19 — truncation detector, the reference's own string fallback
    (LogRedactionUtil.java:405-417)."""
    return text.contains('"truncated"') & text.contains('"errMsg"')


def query_source_expr(text):
    """E20 — mongos/mongod source detect (LogRedactionUtil.java:625-649)."""
    return F.when(
        text.contains("mongos") | text.contains("fromMongos"), " (from mongos)"
    ).otherwise(" (from mongod)")
