"""R1-R9 — deterministic text→text redaction / trimming transforms.

Pure-Python reimplementation of the reference's redaction module
(LogRedactionUtil.java) and trim filter (LogFilter.java), wrapped as
Arrow-batched pandas UDFs. This is the per-row byte-identity surface of the
graft (input_hint: "byte-identical extracted text per url") — golden-tested in
tests/test_redaction.py against the behaviors asserted by the reference's own
LogRedactionUtilTest.java.

Output rendering: compact JSON, document key order, minimal escaping
(Jackson-compatible). The reference's redaction path uses org.json whose key
order is hash-based (nondeterministic); per SURVEY.md §7.3.1 we define the
invariant as insertion-order rendering and pin it with goldens.

Documented divergences (grammar never exercises them):
- exotic float re-rendering (1e20-style exponents) may differ between
  Double.toString and Python repr after digits→9
- Java long-overflow fallback (19+ nines → 999) reproduced via an explicit
  range check
"""

from __future__ import annotations

import json
import re

_DIGITS = re.compile(r"\d")
_USER_DATA = re.compile(r"[a-zA-Z0-9_\-/]+")
_ATLAS = re.compile(
    r"atlas-([a-zA-Z0-9]+)(-shard-[0-9]+-[0-9]+\.)([a-zA-Z0-9-]+)(\.mongodb\.net)(:[0-9]+)?"
)
_LONG_MAX = 2**63 - 1

# Explicit paths that are NEVER redacted — ported verbatim from
# LogRedactionUtil.java:67-175 (PRESERVE_PATHS)
PRESERVE_PATHS = frozenset([
    "t", "s", "c", "id", "ctx", "msg",
    "attr.type", "attr.ns", "attr.ok", "attr.code", "attr.codeName",
    "attr.errCode", "attr.errName", "attr.remote", "attr.protocol",
    "attr.durationMillis", "attr.cpuNanos", "attr.keysExamined", "attr.docsExamined",
    "attr.nreturned", "attr.nModified", "attr.nDeleted", "attr.nInserted",
    "attr.reslen", "attr.queryHash", "attr.planCacheKey", "attr.planSummary",
    "attr.nShards", "attr.nBatches", "attr.cursorExhausted", "attr.numYields",
    "attr.replanReason", "attr.replanned", "attr.placementVersionRefreshDurationMillis",
    "attr.queryFramework", "attr.cursorid", "attr.appName",
    "attr.storage", "attr.storage.data", "attr.storage.data.timeReadingMicros",
    "attr.storage.data.bytesRead",
    "attr.locks", "attr.locks.FeatureCompatibilityVersion",
    "attr.locks.FeatureCompatibilityVersion.acquireCount",
    "attr.locks.FeatureCompatibilityVersion.acquireCount.r",
    "attr.locks.FeatureCompatibilityVersion.acquireCount.w",
    "attr.locks.Mutex", "attr.locks.Mutex.acquireCount", "attr.locks.Mutex.acquireCount.r",
    "attr.locks.Global", "attr.locks.Global.acquireCount", "attr.locks.Global.acquireCount.r",
    "attr.locks.Global.acquireCount.w",
    "attr.readConcern", "attr.readConcern.level", "attr.readConcern.provenance",
    "attr.originatingCommand.readConcern", "attr.originatingCommand.readConcern.level",
    "attr.originatingCommand.readConcern.provenance",
    "attr.command.readConcern", "attr.command.readConcern.level",
    "attr.command.readConcern.provenance",
    "attr.command.limit", "attr.command.skip", "attr.command.maxTimeMS",
    "attr.command.cursorid", "attr.command.queryHash", "attr.command.planCacheKey",
    "attr.command.cursorExhausted", "attr.command.getMore", "attr.command.$db",
    "attr.command.mayBypassWriteBlocking", "attr.command.fromMongos", "attr.command.needsMerge",
    "attr.command.queryFramework", "attr.command.find", "attr.command.aggregate",
    "attr.command.update", "attr.command.delete", "attr.command.insert", "attr.command.count",
    "attr.command.collection", "attr.workingMillis", "attr.remoteOpWaitMillis",
    "attr.command.writeConcern", "attr.command.writeConcern.w", "attr.command.writeConcern.j",
    "attr.command.writeConcern.wtimeout", "attr.command.writeConcern.fsync",
    "attr.originatingCommand.writeConcern", "attr.originatingCommand.writeConcern.w",
    "attr.originatingCommand.writeConcern.j", "attr.originatingCommand.writeConcern.wtimeout",
    "attr.originatingCommand.writeConcern.fsync",
    "attr.command.$audit", "attr.command.$audit.$impersonatedUser",
    "attr.command.$audit.$impersonatedUser.user", "attr.command.$audit.$impersonatedUser.db",
    "attr.command.$audit.$impersonatedRoles", "attr.command.$audit.$impersonatedRoles.role",
    "attr.command.$audit.$impersonatedRoles.db",
    "attr.originatingCommand.$audit", "attr.originatingCommand.$audit.$impersonatedUser",
    "attr.originatingCommand.$audit.$impersonatedUser.user",
    "attr.originatingCommand.$audit.$impersonatedUser.db",
    "attr.originatingCommand.$audit.$impersonatedRoles",
    "attr.originatingCommand.$audit.$impersonatedRoles.role",
    "attr.originatingCommand.$audit.$impersonatedRoles.db",
    "attr.originatingCommand.$db", "attr.originatingCommand.mayBypassWriteBlocking",
    "attr.originatingCommand.fromMongos", "attr.originatingCommand.needsMerge",
    "attr.originatingCommand.find", "attr.originatingCommand.aggregate",
    "attr.originatingCommand.update", "attr.originatingCommand.delete",
    "attr.originatingCommand.insert", "attr.originatingCommand.count",
    "attr.originatingCommand.collection",
    "attr.command.collation", "attr.command.collation.locale",
    "attr.originatingCommand.collation", "attr.originatingCommand.collation.locale",
    "attr.command.$client", "attr.command.$client.mongos",
    "attr.command.$client.mongos.host", "attr.command.$client.mongos.client",
    "attr.command.$client.mongos.version",
    "attr.command.$client.driver", "attr.command.$client.driver.name",
    "attr.command.$client.driver.version",
    "attr.command.$client.os", "attr.command.$client.os.name",
    "attr.command.$client.os.type", "attr.command.$client.os.version",
    "attr.command.$client.os.architecture",
    "attr.command.$client.platform",
    "attr.command.$client.application", "attr.command.$client.application.name",
    "attr.originatingCommand.$client", "attr.originatingCommand.$client.mongos",
    "attr.originatingCommand.$client.mongos.host", "attr.originatingCommand.$client.mongos.client",
    "attr.originatingCommand.$client.mongos.version",
    "attr.originatingCommand.$client.driver", "attr.originatingCommand.$client.driver.name",
    "attr.originatingCommand.$client.driver.version",
    "attr.originatingCommand.$client.os", "attr.originatingCommand.$client.os.name",
    "attr.originatingCommand.$client.os.type", "attr.originatingCommand.$client.os.version",
    "attr.originatingCommand.$client.os.architecture",
    "attr.originatingCommand.$client.platform",
    "attr.originatingCommand.$client.application",
    "attr.originatingCommand.$client.application.name",
    "attr.command.$readPreference", "attr.command.$readPreference.mode",
    "attr.command.$readPreference.tags",
    "attr.command.shardVersion", "attr.command.shardVersion.t",
    "attr.command.shardVersion.e", "attr.command.shardVersion.v",
    "attr.command.clientOperationKey",
    "attr.originatingCommand.$readPreference", "attr.originatingCommand.$readPreference.mode",
    "attr.originatingCommand.$readPreference.tags",
])

# MongoDB special objects passed through untouched (LogRedactionUtil.java:290-297)
_SPECIAL_KEYS = frozenset([
    "$date", "$timestamp", "$oid", "$uuid", "$skip", "$limit",
    "distanceField", "maxDistance", "near", "spherical", "distanceMultiplier",
])

# trim filter defaults (LogFilter.java:64-78)
TRIM_IGNORE_KEYS = frozenset([
    "advanced", "bypassDocumentValidation", "databaseVersion", "flowControl",
    "fromMultiPlanner", "let", "maxTimeMSOpOnly", "mayBypassWriteBlocking",
    "multiKeyPaths", "needTime", "planningTimeMicros", "runtimeConstants",
    "totalOplogSlotDurationMicros", "waitForWriteConcernDurationMillis", "works",
    "shardVersion", "clientOperationKey", "lsid", "$clusterTime", "$configTime",
    "$topologyTime",
])
TRIM_PRESERVE_TEXT = frozenset(["ns", "planSummary"])
TRIM_PRESERVE_ARRAYS = frozenset(["pipeline", "$and", "$or"])


def _dumps(v) -> str:
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


# ---------------------------------------------------------------- redaction

def _redact_atlas_hostname(value: str, preserved_path: bool) -> str:
    """Atlas cluster/region-id redaction (LogRedactionUtil.java:325-362).
    Non-Atlas strings → "xxx" in redacted contexts, kept as-is on preserved
    .host paths."""
    if value and "atlas-" in value and ".mongodb.net" in value:
        return _ATLAS.sub(
            lambda m: f"atlas-xxx{m.group(2)}xxx{m.group(4)}{m.group(5) or ''}", value
        )
    return value if preserved_path else ("xxx" if value else value)


def _redact_number(v):
    """digits→9 preserving ±1 sort keys (LogRedactionUtil.java:975-1014)."""
    if isinstance(v, bool):  # defensive; bools handled by caller
        return v
    if isinstance(v, int):
        if v in (1, -1):
            return v
        s = _DIGITS.sub("9", str(v))
        n = int(s)
        return n if -_LONG_MAX - 1 <= n <= _LONG_MAX else 999
    if isinstance(v, float):
        s = _DIGITS.sub("9", repr(v))
        try:
            return float(s)
        except ValueError:
            return 999.0
    return _DIGITS.sub("9", str(v))


def _redact_regex_smart(pattern: str) -> str:
    """Preserve regex metacharacters, redact user content; long/spacey
    patterns → "xxx" (LogRedactionUtil.java:367-382)."""
    if not pattern:
        return pattern
    if " " in pattern or len(pattern) > 20:
        return "xxx"
    return _USER_DATA.sub("xxx", pattern)


def _redact_regular_expression(obj: dict) -> dict:
    regex = obj.get("$regularExpression")
    out: dict = {}
    if isinstance(regex, dict):
        if "pattern" in regex and isinstance(regex["pattern"], str):
            out["pattern"] = _redact_regex_smart(regex["pattern"])
        if "options" in regex:
            out["options"] = regex["options"]
    return {"$regularExpression": out}


def _redact_value(v, path: str):
    if v is None:
        return None
    if isinstance(v, dict):
        if "$regularExpression" in v:
            return _redact_regular_expression(v)
        return _redact_object(v, path)
    if isinstance(v, list):
        return [_redact_value(x, f"{path}[{i}]") for i, x in enumerate(v)]
    if isinstance(v, str):
        return _redact_atlas_hostname(v, preserved_path=False)
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float)):
        return _redact_number(v)
    return "xxx"


def _redact_object(obj: dict, path: str) -> dict:
    """Path-whitelist walk (LogRedactionUtil.java:198-232)."""
    out = {}
    for k, v in obj.items():
        p = k if not path else f"{path}.{k}"
        if p in PRESERVE_PATHS:
            if isinstance(v, str) and p.endswith(".host"):
                out[k] = _redact_atlas_hostname(v, preserved_path=True)
            elif isinstance(v, dict):
                out[k] = _redact_object(v, p)
            elif isinstance(v, list):
                out[k] = [_redact_value(x, f"{p}[{i}]") for i, x in enumerate(v)]
            else:
                out[k] = v
        elif k in _SPECIAL_KEYS:
            out[k] = v
        else:
            out[k] = _redact_value(v, p)
    return out


def redact_log_message(log_message: str, enable_redaction: bool = True) -> str:
    """R1 — whole-document path-whitelist redaction; failure → original
    (LogRedactionUtil.java:180-193)."""
    if not enable_redaction:
        return log_message
    try:
        jo = json.loads(log_message)
        if not isinstance(jo, dict):
            return log_message
        return _dumps(_redact_object(jo, ""))
    except Exception:
        return log_message


def sanitize_filter(filter_obj, enable_redaction: bool = True) -> str | None:
    """R9 — filter subdocument → redacted string (LogRedactionUtil.java:721-736)."""
    if filter_obj is None:
        return None
    if isinstance(filter_obj, str):
        try:
            filter_obj = json.loads(filter_obj)
        except Exception:
            return '{"sanitization_error": "xxx"}'
    if not enable_redaction:
        return _dumps(filter_obj)
    try:
        return _dumps(_redact_object(filter_obj, ""))
    except Exception:
        return '{"sanitization_error": "xxx"}'


# ---------------------------------------------------------------- trimming

def _trim_node(node) -> None:
    """R7 — verbose-key removal + string/array truncation + empty-object drop
    (LogFilter.java:306-396). Matches the reference's walk order exactly,
    including the empty-object check happening BEFORE recursion can empty the
    child (LogFilter.java:390): a nested-empty-object chain loses one level
    per application in both implementations, so trim converges within
    depth(doc) passes rather than being strictly idempotent
    (tests/test_redaction_properties.py::test_process_stabilizes)."""
    if isinstance(node, dict):
        for k in list(node.keys()):
            if k in TRIM_IGNORE_KEYS:
                del node[k]
                continue
            v = node[k]
            if isinstance(v, str):
                if k not in TRIM_PRESERVE_TEXT and len(v) > 35:
                    node[k] = v[:35] + "..."
            elif isinstance(v, list):
                if len(v) > 3 and k not in TRIM_PRESERVE_ARRAYS:
                    v = [v[0], f"<truncated {len(v) - 1} elements>"]
                    node[k] = v
                for el in v:
                    _trim_node(el)
            elif isinstance(v, dict):
                if not v:
                    del node[k]
                else:
                    _trim_node(v)
    elif isinstance(node, list):
        for el in node:
            _trim_node(el)


def trim_log_message(log_message: str) -> str:
    """R7 entry — failure → original (LogFilter.filterLogMessage)."""
    try:
        jo = json.loads(log_message)
        _trim_node(jo)
        return _dumps(jo)
    except Exception:
        return log_message


def process_log_message(log_message: str, enable_redaction: bool = True) -> str:
    """R8 — trim, then redact (LogRedactionUtil.java:394-400)."""
    processed = trim_log_message(log_message)
    if enable_redaction:
        processed = redact_log_message(processed, True)
    return processed


# ------------------------------------------------------------- UDF wrappers

def make_udfs():
    """Arrow-batched pandas UDFs: string in → string out."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def redact_udf(s):
        return s.map(lambda x: redact_log_message(x, True) if isinstance(x, str) else x)

    @pandas_udf(StringType())
    def trim_udf(s):
        return s.map(lambda x: trim_log_message(x) if isinstance(x, str) else x)

    @pandas_udf(StringType())
    def process_udf(s):
        return s.map(lambda x: process_log_message(x, True) if isinstance(x, str) else x)

    @pandas_udf(StringType())
    def sanitize_filter_udf(s):
        return s.map(lambda x: sanitize_filter(x, True) if isinstance(x, str) else x)

    return {
        "redact": redact_udf,
        "trim": trim_udf,
        "process": process_udf,
        "sanitize_filter": sanitize_filter_udf,
    }
