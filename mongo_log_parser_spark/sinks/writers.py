"""K1-K6 + A12 — sink writers and the JSON report.

Each sink is computed once: `write_parquet_sinks` writes every sink
concurrently and returns the written parquet read back, and the CSV, HTML,
JSON and console writers read those scans instead of re-running the sink
plans (the reference likewise renders every format from one in-memory state,
JsonReportGenerator.java:29-89).

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
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SINK_SORT_KEYS = {
    # every report sorts by count desc (SURVEY.md §2.7)
    "main_ops": "count", "ttl_ops": "count", "op_stats": "count",
    "query_hash": "count", "plan_cache": "count", "index_stats": "count",
    "error_codes": "count", "transactions": "count",
    "app_conn_stats": "distinct_connections", "driver_stats": "connection_count",
    "ignored": "count",
}


def _sorted(name: str, df: DataFrame) -> DataFrame:
    if name == "slow_planning":
        # the sink's own top-K key (aggregates.slow_planning); a parquet
        # read-back over several files does not keep its row order
        return df.orderBy(F.desc("planning_us"), F.asc("url"))
    key = SINK_SORT_KEYS.get(name)
    return df.orderBy(F.desc(key)) if key and key in df.columns else df


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


def console_report(sinks: dict[str, DataFrame], n: int = 20) -> None:
    """K5 — fixed-width console tables (Accumulator.report analog)."""
    for name, df in sinks.items():
        print(f"=== {name} ===")
        _sorted(name, df).show(n, truncate=80)


def json_report(sinks: dict[str, DataFrame], metadata: dict | None = None,
                top_query_hashes: int = 100, top_slow_planning: int = 50,
                top_sections: int | None = None) -> dict[str, Any]:
    """K3/A12 — the nested JSON report document (JsonReportGenerator.java:29-89).

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
    truncation: dict[str, dict[str, int]] = {}

    def rows(name, section=None, limit=None):
        if name not in sinks:  # opt-out sinks (--drivers / --app-name-stats off)
            return []
        df = _sorted(name, sinks[name])
        if limit:
            df = df.limit(limit)
        out = [r.asDict(recursive=True) for r in df.collect()]
        if limit and section and len(out) == limit:
            total = sinks[name].count()
            if total > limit:
                truncation[section] = {"total": total, "kept": limit}
        return out

    # A12 global summaries — distributed aggregation over the full rollups,
    # reproducing the reference's lossy Σ avg*count totals
    total_ops = total_docs_lossy = total_returned = unique_patterns = 0
    if "main_ops" in sinks:
        s = sinks["main_ops"].agg(
            F.coalesce(F.sum("count"), F.lit(0)).alias("ops"),
            F.coalesce(F.sum(F.col("avg_docs") * F.col("count")), F.lit(0)).alias("docs"),
            F.coalesce(F.sum("total_returned"), F.lit(0)).alias("ret"),
            F.count(F.lit(1)).alias("patterns"),
        ).collect()[0]
        total_ops, total_docs_lossy = s["ops"], s["docs"]
        total_returned, unique_patterns = s["ret"], s["patterns"]
    total_errors = 0
    if "error_codes" in sinks:
        total_errors = sinks["error_codes"].agg(
            F.coalesce(F.sum("count"), F.lit(0))).collect()[0][0]
    collscan_ops = 0
    if "index_stats" in sinks:
        collscan_ops = sinks["index_stats"].filter("is_collscan").agg(
            F.coalesce(F.sum("count"), F.lit(0))).collect()[0][0]
    report = {
        "metadata": metadata or {},
        "summary": {
            "totalOperations": total_ops,
            "totalDocsExamined": total_docs_lossy,  # Σ avg*count, by reference design
            "totalReturned": total_returned,
            "uniquePatterns": unique_patterns,
            "totalErrors": total_errors,
            "collscanPercent": round(100.0 * collscan_ops / total_ops, 2) if total_ops else 0.0,
        },
        "mainOperations": rows("main_ops", "mainOperations", limit=top_sections),
        "ttlOperations": rows("ttl_ops", "ttlOperations", limit=top_sections),
        "operationTypeStats": rows("op_stats"),
        "errorCodes": rows("error_codes", "errorCodes", limit=top_sections),
        "queryHashAnalysis": rows("query_hash", "queryHashAnalysis", limit=top_query_hashes),
        "planCacheAnalysis": rows("plan_cache", "planCacheAnalysis", limit=top_sections),
        "indexStats": rows("index_stats", "indexStats", limit=top_sections),
        "transactions": rows("transactions", "transactions", limit=top_sections),
        "slowPlanning": rows("slow_planning", "slowPlanning", limit=top_slow_planning),
        "appNameConnections": rows("app_conn_stats", "appNameConnections", limit=top_sections),
        "driverStats": rows("driver_stats", "driverStats", limit=top_sections),
        "ignoredCategories": rows("ignored"),
    }
    if truncation:
        report["sectionTruncation"] = truncation
    return report


def write_json_report(sinks: dict[str, DataFrame], path: str, metadata: dict | None = None,
                      top_sections: int | None = None) -> None:
    with open(path, "w") as f:
        json.dump(json_report(sinks, metadata, top_sections=top_sections),
                  f, indent=2, default=str)


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

_HTML_SECTIONS = [
    # (report key, title, column used for the humanized-duration hint)
    ("mainOperations", "Main Operations", "avg_ms"),
    ("ttlOperations", "TTL Operations", "avg_ms"),
    ("operationTypeStats", "Operation Type Stats", None),
    ("errorCodes", "Error Codes", None),
    ("queryHashAnalysis", "Query Hash Analysis (top 100)", "avg_ms"),
    ("planCacheAnalysis", "Plan Cache", "avg_ms"),
    ("indexStats", "Index Usage", "avg_ms"),
    ("transactions", "Transactions", "avg_ms"),
    ("slowPlanning", "Slow Planning (top 50)", None),
    ("appNameConnections", "App Connections", None),
    ("driverStats", "Driver Stats", None),
    ("ignoredCategories", "Ignored Line Categories", None),
]

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
        f"<a href='#{key}'>{_esc(title)}</a>" for key, title, _ in _HTML_SECTIONS
        if report.get(key)) + "</nav>")
    trunc = report.get("sectionTruncation") or {}
    for key, title, _ in _HTML_SECTIONS:
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
                      top_sections: int | None = None) -> None:
    with open(path, "w") as f:
        f.write(html_report(json_report(sinks, metadata, top_sections=top_sections),
                            shard_rows=shard_report_rows(sinks, top=top_sections)))


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
