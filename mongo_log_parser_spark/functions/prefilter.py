"""Pre-parse filter & routing predicates (reference F1-F8).

These are cheap substring predicates evaluated on the raw line BEFORE the
Python parse stage (parse.parse_lines) — the Spark restatement of the reference's
cheap-predicate-first hand-optimization (LogParser.java:645-649, 896-932).
Everything here is a Column expression → whole-stage codegen, no Python.

Pattern lists are the reference's defaults, ported verbatim:
- ignore patterns: FilterConfig.java:20-71
- target-op whitelist: LogParser.java:926-932
- metadata/auth/conn whitelists: LogParser.java:906-920
- TTL detector: LogParser.java:934-936
- ignored-line categorizer (12-way): LogParser.java:985-999
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LINE_CHARS = 1 * 1024 * 1024  # bounded-line reader cap, LogParser.java:631

IGNORE_PATTERNS = [
    '"c":"NETWORK"', '"c":"ACCESS"', '"c":"CONNPOOL"',
    '"hello":1', '"isMaster":1', '"ping":1', '"serverStatus":1', '"buildInfo"',
    '"getParameter":', '"getCmdLineOpts":1', '"getDefaultRWConcern":1', '"listDatabases":1',
    '"endSessions":', '"startSession"', '"saslContinue":1',
    '"replSetHeartbeat":"', 'replSetUpdatePosition', '"replSetGetStatus":1',
    '"$db":"local"', '"$db":"config"', '"ns":"local.oplog.rs"', '"ns":"local.clustermanager"',
    '"ns":"config.system.sessions"', '"ns":"config.mongos"',
    '"c":"STORAGE"', '"c":"CONTROL"', '"c":"SHARDING"',
    '"dbstats":1', '"collStats":"', '"listIndexes":"',
    '"ctx":"TTLMonitor"', '"logRotate":"',
]

TARGET_OP_PATTERNS = [
    '"find":', '"aggregate":', '"update":', '"insert":', '"delete":',
    '"findAndModify":', '"getMore":', '"count":', '"distinct":',
]


def _contains_any(col: Column, patterns: list[str]) -> Column:
    return reduce(lambda a, b: a | b, (col.contains(p) for p in patterns))


def is_oversized(text: Column) -> Column:
    return F.length(text) > F.lit(MAX_LINE_CHARS)


def is_ttl_line(text: Column) -> Column:
    """F6 — TTL pre-pass predicate; runs BEFORE the ignore decision."""
    return text.contains("TTL") & (text.contains("deleted") | text.contains("Deleted expired documents"))


def should_ignore(text: Column, ignore_patterns: list[str] | None = None) -> Column:
    """F1-F4 composite: non-JSON, or ignore-pattern match not rescued by a
    whitelist. `ignore_patterns` overrides the default list (FilterConfig
    analog — see load_filter_config)."""
    non_json = ~F.ltrim(text).startswith("{")
    target_op = _contains_any(text, TARGET_OP_PATTERNS)
    client_meta = text.contains('"msg":"client metadata"')
    auth = text.contains('"c":"ACCESS"') & text.contains('"msg":"Successfully authenticated"')
    conn_lifecycle = text.contains('"c":"NETWORK"') & (
        text.contains('"msg":"Connection accepted"') | text.contains('"msg":"Connection ended"')
    )
    whitelisted = target_op | client_meta | auth | conn_lifecycle
    pats = IGNORE_PATTERNS if ignore_patterns is None else ignore_patterns
    return non_json | (~whitelisted & _contains_any(text, pats))


def load_filter_config(path: str) -> list[str]:
    """FilterConfig properties file (FilterConfig.java:74-99):

      filter.ignore.patterns = p1, p2   # REPLACES the default list
      filter.ignore.add      = p3, p4   # adds to the current list
      filter.ignore.remove   = p1       # removes from the current list

    Returns the effective ignore-pattern list for should_ignore().
    `filter.ignore` is accepted as a lenient alias for the replace key."""
    props: dict[str, str] = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line or line.startswith(("#", "!")) or "=" not in line:
                continue
            k, v = line.split("=", 1)
            props[k.strip()] = v.strip()
    patterns = list(IGNORE_PATTERNS)
    replace = props.get("filter.ignore.patterns") or props.get("filter.ignore")
    if replace:
        patterns = [p.strip() for p in replace.split(",") if p.strip()]
    if props.get("filter.ignore.add"):
        patterns.extend(p.strip() for p in props["filter.ignore.add"].split(",") if p.strip())
    if props.get("filter.ignore.remove"):
        remove = {p.strip() for p in props["filter.ignore.remove"].split(",")}
        patterns = [p for p in patterns if p not in remove]
    return patterns


def ignored_category(text: Column) -> Column:
    """F7 — 12-way first-match CASE, order load-bearing (LogParser.java:985-999)."""
    return (
        F.when(text.contains('"c":"NETWORK"'), "NETWORK")
        .when(text.contains('"c":"ACCESS"'), "ACCESS")
        .when(text.contains('"c":"STORAGE"'), "STORAGE")
        .when(text.contains('"c":"CONTROL"'), "CONTROL")
        .when(text.contains('"hello":1') | text.contains('"isMaster":1'), "HEALTH_CHECK")
        .when(text.contains('"replSetHeartbeat"'), "REPLICATION")
        .when(text.contains('"$db":"admin"'), "ADMIN_DB")
        .when(text.contains('"$db":"local"'), "LOCAL_DB")
        .when(text.contains('"$db":"config"'), "CONFIG_DB")
        .when(text.contains('"profile":'), "PROFILING")
        .when(text.contains("TTL"), "TTL_MONITOR")
        .when(~F.ltrim(text).startswith("{"), "NON_JSON")
        .otherwise("OTHER")
    )
