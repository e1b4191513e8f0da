"""DuckDB oracle SQL for the log-pipeline queries.

Generates DuckDB SQL that independently recomputes each log_queries.py result
from the same pages parquet, using DuckDB's JSON functions instead of the
engine's Python tokenizer (functions/parse.py). Pattern lists and dispatch
tables are imported from the engine modules so both sides share one source of
truth; the parse itself is recomputed independently.

Parity conventions (probed against DuckDB 1.0):
- raw JSON subtree capture: the tokenizer's compact re-rendering == DuckDB
  json_extract (both compact, document key order)
- deterministic argmax/first/last via composite VARCHAR sort keys
  (lpad(duration,20,'0')||url, ts_str||url) — identical on both engines
- integer averages via floor division (`//`); p95 via discrete quantile_disc
  (element at rank ceil(0.95*n)) rounded to 4dp — probed equal to Spark
  `percentile_approx(x, 0.95, 100000)` for groups under the accuracy bound
- `kept` (counted) is split from `k` (JSON-projected, json_valid-gated) so a
  hypothetical invalid-JSON kept line cannot error the oracle — mirroring
  Spark's null-struct-on-parse-failure behavior
"""

from __future__ import annotations

from ..functions.extract import ADMIN_OPS, _CMD_DISPATCH
from ..functions.prefilter import IGNORE_PATTERNS, MAX_LINE_CHARS, TARGET_OP_PATTERNS
from ..sources import datagen


def _esc(s: str) -> str:
    return s.replace("'", "''")


def _contains_any(col: str, patterns: list[str]) -> str:
    return "(" + " OR ".join(f"contains({col}, '{_esc(p)}')" for p in patterns) + ")"


def should_ignore_sql(col: str = "text") -> str:
    ig = _contains_any(col, IGNORE_PATTERNS)
    tgt = _contains_any(col, TARGET_OP_PATTERNS)
    wl = (
        f"({tgt} OR contains({col}, '\"msg\":\"client metadata\"')"
        f" OR (contains({col}, '\"c\":\"ACCESS\"') AND contains({col}, '\"msg\":\"Successfully authenticated\"'))"
        f" OR (contains({col}, '\"c\":\"NETWORK\"') AND (contains({col}, '\"msg\":\"Connection accepted\"')"
        f" OR contains({col}, '\"msg\":\"Connection ended\"'))))"
    )
    return f"((NOT starts_with(ltrim({col}), '{{')) OR (NOT {wl} AND {ig}))"


def category_sql(col: str = "text") -> str:
    return f"""CASE
      WHEN contains({col}, '"c":"NETWORK"') THEN 'NETWORK'
      WHEN contains({col}, '"c":"ACCESS"') THEN 'ACCESS'
      WHEN contains({col}, '"c":"STORAGE"') THEN 'STORAGE'
      WHEN contains({col}, '"c":"CONTROL"') THEN 'CONTROL'
      WHEN contains({col}, '"hello":1') OR contains({col}, '"isMaster":1') THEN 'HEALTH_CHECK'
      WHEN contains({col}, '"replSetHeartbeat"') THEN 'REPLICATION'
      WHEN contains({col}, '"$db":"admin"') THEN 'ADMIN_DB'
      WHEN contains({col}, '"$db":"local"') THEN 'LOCAL_DB'
      WHEN contains({col}, '"$db":"config"') THEN 'CONFIG_DB'
      WHEN contains({col}, '"profile":') THEN 'PROFILING'
      WHEN contains({col}, 'TTL') THEN 'TTL_MONITOR'
      WHEN NOT starts_with(ltrim({col}), '{{') THEN 'NON_JSON'
      ELSE 'OTHER' END"""


def _js(path: str) -> str:
    return f"json_extract_string(text, '$.attr.{path}')"


def _jl(path: str) -> str:
    return f"CAST({_js(path)} AS BIGINT)"


_NS_DB = "nullif(regexp_extract(ns, '^(.*?)\\.(.*)$', 1), '')"
_NS_COLL = "nullif(regexp_extract(ns, '^(.*?)\\.(.*)$', 2), '')"
_CONN_ID = "CAST(nullif(regexp_extract(ctx, '^conn(\\d+)$', 1), '') AS BIGINT)"
_EPOCH_MS = "CAST(epoch_ms(strptime(ts_str, '%Y-%m-%dT%H:%M:%S.%gZ')) AS BIGINT)"
_SAMPLE_KEY = "lpad(CAST(duration_ms AS VARCHAR), 20, '0') || url"
_ARRIVAL_KEY = "ts_str || url"

_TAG_FMT = (
    "list_transform(CAST(json_extract(tags_raw, '$') AS json[]), tag -> "
    "array_to_string(list_transform(json_keys(tag), kk -> "
    "kk || ': ' || json_extract_string(tag, '$.\"' || kk || '\"')), ', '))"
)
_TAG_CLASSIFY = (
    "list_filter(list_transform(CAST(json_extract(tags_raw, '$') AS json[]), tag -> CASE "
    "WHEN json_extract_string(tag,'$.nodeType')='analytics' OR json_extract_string(tag,'$.workloadType')='analytics' "
    "OR json_extract_string(tag,'$.role')='analytics' THEN 'analytics' "
    "WHEN json_extract_string(tag,'$.nodeType')='voting' OR json_extract_string(tag,'$.workloadType')='operational' THEN 'voting' "
    "WHEN json_extract_string(tag,'$.provider') IS NOT NULL AND json_extract_string(tag,'$.region') IS NOT NULL THEN 'voting' "
    "END), x -> x IS NOT NULL)"
)


def base_ctes(path: str) -> str:
    admins = ", ".join(f"'{a}'" for a in ADMIN_OPS)
    op_whens, stat_whens, coll_whens = [], [], []
    for key, op_name, stat_name, coll_src in _CMD_DISPATCH:
        cond = f"is_command AND list_contains(cmd_keys, '{key}')"
        op_whens.append(f"WHEN {cond} THEN '{op_name}'")
        stat_whens.append(f"WHEN {cond} THEN '{stat_name}'")
        # collection override requires a String-typed value (instanceof String
        # guard, LogParserTask.java:806-914) — json_type gate mirrors it
        sval = f"json_extract_string(text, '$.attr.command.{coll_src}')"
        val = f"CASE WHEN json_type(text, '$.attr.command.{coll_src}') = 'VARCHAR' THEN {sval} END"
        if key == "aggregate":
            val = f"CASE WHEN json_type(text, '$.attr.command.{coll_src}') = 'VARCHAR' AND {sval} != '1' THEN {sval} END"
        coll_whens.append(f"WHEN {cond} THEN {val}")
    return f"""
WITH pages AS (SELECT * FROM read_parquet('{path}')),
bounded AS (SELECT * FROM pages WHERE length(text) <= {MAX_LINE_CHARS}),
oversized AS (SELECT * FROM pages WHERE length(text) > {MAX_LINE_CHARS}),
ignored AS (SELECT *, {category_sql()} AS category FROM bounded WHERE {should_ignore_sql()}),
kept AS (SELECT * FROM bounded WHERE NOT {should_ignore_sql()}),
k AS MATERIALIZED (
  SELECT url, text, lang,
    json_extract_string(text, '$.c') AS comp,
    json_extract_string(text, '$.ctx') AS ctx,
    json_extract_string(text, '$.msg') AS msg,
    json_extract_string(text, '$.t."$date"') AS ts_str
  FROM kept WHERE json_valid(text)
),
ops0 AS MATERIALIZED (
  SELECT *,
    {_js('type')} AS a_type,
    {_js('ns')} AS a_ns,
    {_js('namespace')} AS a_namespace,
    {_js('msg')} AS a_msg,
    json_keys(text, '$.attr.command') AS cmd_keys,
    {_jl('durationMillis')} AS duration_ms,
    {_jl('keysExamined')} AS a_keys,
    {_jl('docsExamined')} AS a_docs,
    {_jl('nreturned')} AS a_nreturned,
    {_jl('nModified')} AS a_nmodified,
    {_jl('nUpserted')} AS a_nupserted,
    {_jl('ndeleted')} AS a_ndeleted,
    {_jl('ninserted')} AS a_ninserted,
    {_jl('numDeleted')} AS a_numdeleted,
    {_jl('reslen')} AS a_reslen,
    {_jl('nShards')} AS a_nshards,
    {_jl('writeConflicts')} AS a_writeconflicts,
    {_js('queryHash')} AS a_queryhash,
    {_js('planCacheKey')} AS a_plancachekey,
    {_js('planSummary')} AS a_plansummary,
    {_jl('planningTimeMicros')} AS a_planning,
    CAST({_js('replanned')} AS BOOLEAN) AS a_replanned,
    {_js('replanReason')} AS a_replanreason,
    CAST({_js('fromMultiPlanner')} AS BOOLEAN) AS a_frommultiplanner,
    {_js('appName')} AS a_appname,
    {_jl('ok')} AS a_ok,
    COALESCE({_jl('storage.bytesRead')}, {_jl('storage.data.bytesRead')}) AS a_bytes_read,
    COALESCE({_jl('storage.bytesWritten')}, {_jl('storage.data.bytesWritten')}) AS a_bytes_written,
    CASE WHEN json_type(text, '$.attr.command.filter') = 'OBJECT'
      THEN json_extract_string(text, '$.attr.command.filter') END AS cmd_filter_raw,
    CASE WHEN json_type(text, '$.attr.command.q') = 'OBJECT'
      THEN json_extract_string(text, '$.attr.command.q') END AS cmd_q_raw,
    json_extract_string(text, '$.attr.command.pipeline') AS cmd_pipeline_raw,
    json_extract_string(text, '$.attr.command."$readPreference"') AS rp_raw,
    json_extract_string(text, '$.attr.originatingCommand') AS orig_raw,
    json_extract(text, '$.attr.error') IS NOT NULL AS has_error_obj
  FROM k WHERE json_extract(text, '$.attr') IS NOT NULL
),
ops1 AS MATERIALIZED (
  SELECT *,
    COALESCE(comp = 'INDEX', FALSE) AS is_index,
    is_index AND a_msg IS NOT NULL AND contains(a_msg, 'Deleted expired documents') AS index_ttl,
    is_index AND NOT COALESCE(contains(a_msg, 'Deleted expired documents'), FALSE)
      AND a_namespace IS NOT NULL AS index_other,
    NOT is_index AND a_type IS NOT NULL AND COALESCE(comp = 'WRITE', FALSE) AS is_write,
    is_write AND a_ns IS NOT NULL AS write_ok,
    NOT is_index AND NOT is_write AND cmd_keys IS NOT NULL AND a_ns IS NOT NULL AS is_command,
    list_filter(cmd_keys, kx -> starts_with(kx, '_shardsv') OR kx IN ({admins}))[1] AS first_other,
    json_extract_string(orig_raw, '$."$readPreference"') AS orig_rp_raw,
    CASE WHEN json_type(orig_raw, '$.filter') = 'OBJECT'
      THEN json_extract_string(orig_raw, '$.filter') END AS orig_filter_raw,
    json_extract_string(orig_raw, '$.pipeline') AS orig_pipeline_raw
  FROM ops0
),
ops2 AS MATERIALIZED (
  SELECT *,
    CASE WHEN index_ttl THEN 'remove' WHEN index_other THEN 'command'
      WHEN write_ok AND a_type = 'update' THEN 'update_w'
      WHEN write_ok AND a_type IN ('remove','delete') THEN 'remove'
      WHEN write_ok AND a_type = 'insert' THEN 'insert'
      WHEN write_ok THEN 'command'
      {' '.join(op_whens)}
      WHEN is_command AND first_other IS NOT NULL THEN 'command' END AS op,
    CASE WHEN index_ttl THEN 'ttl_delete'
      WHEN index_other AND contains(a_msg, 'Index build') THEN 'index_build'
      WHEN index_other AND contains(a_msg, 'Index drop') THEN 'index_drop'
      WHEN index_other AND a_msg IS NOT NULL THEN 'index_other'
      WHEN index_other THEN 'index_maintenance'
      WHEN write_ok AND a_type = 'update' THEN 'update_w'
      WHEN write_ok AND a_type IN ('remove','delete') THEN 'delete_w'
      WHEN write_ok AND a_type = 'insert' THEN 'insert_w'
      WHEN write_ok THEN 'write_' || a_type
      {' '.join(stat_whens)}
      WHEN is_command AND first_other IS NOT NULL THEN
        CASE WHEN starts_with(first_other, '_shardsv') THEN 'shard_' || first_other ELSE first_other END
    END AS op_stat,
    CASE {' '.join(coll_whens)} END AS coll_override,
    CASE WHEN is_index THEN a_namespace WHEN is_write OR is_command THEN a_ns END AS ns,
    -- $readPreference may be a bare string ("secondary") — DuckDB json functions
    -- error on non-JSON input where Spark from_json yields null, so gate on the brace
    COALESCE(CASE WHEN starts_with(rp_raw, '{{') THEN json_extract_string(rp_raw, '$.tags') END,
             CASE WHEN starts_with(orig_rp_raw, '{{') THEN json_extract_string(orig_rp_raw, '$.tags') END) AS tags_raw
  FROM ops1
),
ops3 AS MATERIALIZED (
  SELECT *,
    CASE WHEN is_index THEN 'index' WHEN write_ok THEN 'write' ELSE 'command' END AS branch,
    {_NS_DB} AS db,
    COALESCE(CASE WHEN is_command THEN coll_override END, {_NS_COLL}) AS coll,
    CASE WHEN NOT is_index AND a_nreturned IS NOT NULL THEN a_keys END AS keys_examined,
    CASE WHEN NOT is_index AND a_nreturned IS NOT NULL THEN a_docs END AS docs_examined,
    CASE WHEN index_ttl THEN a_numdeleted WHEN NOT is_index THEN
      COALESCE(a_ninserted, a_ndeleted, a_nmodified, a_nupserted, a_nreturned) END AS nreturned,
    CASE WHEN NOT is_index THEN a_reslen END AS reslen,
    CASE WHEN NOT is_index THEN a_bytes_read END AS bytes_read,
    CASE WHEN NOT is_index THEN a_bytes_written END AS bytes_written,
    CASE WHEN NOT is_index THEN a_writeconflicts END AS write_conflicts,
    CASE WHEN NOT is_index THEN a_nshards END AS n_shards,
    CASE WHEN NOT is_index THEN a_queryhash END AS query_hash,
    CASE WHEN NOT is_index THEN a_plancachekey END AS plan_cache_key,
    CASE WHEN NOT is_index THEN a_plansummary END AS plan_summary,
    CASE WHEN NOT is_index THEN a_planning END AS planning_us,
    CASE WHEN NOT is_index THEN a_replanned END AS replanned,
    CASE WHEN NOT is_index THEN a_replanreason END AS replan_reason,
    CASE WHEN NOT is_index THEN a_frommultiplanner END AS from_multi_planner,
    CASE WHEN NOT is_index THEN a_appname END AS app_name,
    CASE WHEN is_command OR write_ok THEN COALESCE(
      CASE WHEN starts_with(rp_raw, '{{') THEN json_extract_string(rp_raw, '$.mode') ELSE rp_raw END,
      CASE WHEN starts_with(orig_rp_raw, '{{') THEN json_extract_string(orig_rp_raw, '$.mode') ELSE orig_rp_raw END
    ) END AS read_pref,
    CASE WHEN (is_command OR write_ok) AND tags_raw IS NOT NULL
      THEN array_to_string({_TAG_FMT}, '<br>') END AS read_pref_tags,
    CASE WHEN (is_command OR write_ok) AND tags_raw IS NOT NULL
      THEN COALESCE(({_TAG_CLASSIFY})[1], '') END AS node_type,
    CASE WHEN is_command OR write_ok THEN COALESCE(cmd_q_raw, cmd_filter_raw,
      json_extract_string(list_filter(CAST(json_extract(cmd_pipeline_raw, '$') AS json[]),
        s -> json_type(s, '$."$match"') = 'OBJECT')[1], '$."$match"'),
      orig_filter_raw) END AS raw_filter,
    COALESCE(a_ok = 0 OR has_error_obj, FALSE) AS is_error
  FROM ops2
),
ops AS MATERIALIZED (
  SELECT *,
    COALESCE(op = 'getMore' AND len(list_filter(CAST(json_extract(orig_pipeline_raw, '$') AS json[]),
      s -> json_extract(s, '$."$changeStream"') IS NOT NULL)) > 0, FALSE) AS is_change_stream,
    ns IS NOT NULL AND (db IS NULL OR db != 'config') AS ns_pass
  FROM ops3 WHERE op IS NOT NULL
),
ttl_pre AS MATERIALIZED (
  SELECT *, {_NS_DB} AS db, {_NS_COLL} AS coll FROM (
    SELECT url, text,
      json_extract_string(text, '$.attr.namespace') AS ns,
      CAST(json_extract_string(text, '$.attr.numDeleted') AS BIGINT) AS num_deleted,
      CAST(json_extract_string(text, '$.attr.durationMillis') AS BIGINT) AS duration_ms
    FROM bounded
    WHERE contains(text, 'TTL') AND (contains(text, 'deleted') OR contains(text, 'Deleted expired documents'))
      AND json_valid(text)
  ) WHERE ns IS NOT NULL AND ({_NS_DB} IS NULL OR {_NS_DB} != 'config')
)
"""


def q_route_counts(path: str) -> str:
    return base_ctes(path) + """
SELECT 'oversized' AS stream, count(*) AS count FROM oversized
UNION ALL SELECT 'ignored', count(*) FROM ignored
UNION ALL SELECT 'kept', count(*) FROM kept
"""


def q_ignored_categories(path: str) -> str:
    return base_ctes(path) + "SELECT category, count(*) AS count FROM ignored GROUP BY category"


def q_ignored_sample(path: str) -> str:
    """F8 — deterministic 1-in-100 content-hash sample of ignored lines."""
    return base_ctes(path) + """
SELECT url, text, category FROM ignored
WHERE CAST(('0x' || substr(md5(url), 1, 8)) AS BIGINT) % 100 = 0
"""


def q_parsed_ops(path: str) -> str:
    return base_ctes(path) + """
SELECT url, db, coll, op, op_stat, branch, ns_pass,
  duration_ms, keys_examined, docs_examined, nreturned, reslen,
  bytes_read, bytes_written, write_conflicts, n_shards,
  query_hash, plan_cache_key, plan_summary, planning_us,
  replanned, replan_reason, from_multi_planner,
  app_name, read_pref, read_pref_tags, node_type,
  raw_filter, is_error, is_change_stream
FROM ops
"""


def q_main_ops(path: str, extra_keys: list[tuple[str, str]] = ()) -> str:
    """extra_keys: [(expr, alias)] leading group-key columns (shard variant)."""
    extra_select = "".join(f"{expr} AS {name}, " for expr, name in extra_keys)
    extra_group = "".join(f", {expr}" for expr, _ in extra_keys)
    return base_ctes(path) + f"""
SELECT {extra_select}db, coll, op, app_name,
  count(duration_ms) AS count,
  COALESCE(min(duration_ms), 0) AS min_ms,
  COALESCE(max(duration_ms), 0) AS max_ms,
  CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
  round(CAST(COALESCE(quantile_disc(duration_ms, 0.95), 0) AS DOUBLE), 4) AS p95_ms,
  CAST(COALESCE(sum(keys_examined), 0) AS BIGINT) AS total_keys,
  CAST(COALESCE(sum(CASE WHEN keys_examined IS NOT NULL THEN docs_examined END), 0) AS BIGINT) AS total_docs,
  CAST(COALESCE(sum(nreturned), 0) AS BIGINT) AS total_returned,
  CAST(COALESCE(sum(reslen), 0) AS BIGINT) AS total_reslen,
  CAST(COALESCE(sum(bytes_read), 0) AS BIGINT) AS total_bytes_read,
  CAST(COALESCE(sum(bytes_written), 0) AS BIGINT) AS total_bytes_written,
  CAST(COALESCE(max(bytes_read), 0) AS BIGINT) AS max_bytes_read,
  CAST(COALESCE(max(bytes_written), 0) AS BIGINT) AS max_bytes_written,
  CAST(COALESCE(sum(write_conflicts), 0) AS BIGINT) AS total_write_conflicts,
  CAST(COALESCE(sum(n_shards), 0) AS BIGINT) AS total_shards,
  CAST(sum(CAST(is_error AS BIGINT)) AS BIGINT) AS error_count,
  bool_or(is_change_stream) AS is_change_stream,
  arg_max(text, {_SAMPLE_KEY}) FILTER (WHERE duration_ms IS NOT NULL) AS sample_line,
  CAST(COALESCE(sum(keys_examined) // count(duration_ms), 0) AS BIGINT) AS avg_keys,
  CAST(COALESCE(sum(CASE WHEN keys_examined IS NOT NULL THEN docs_examined END) // count(duration_ms), 0) AS BIGINT) AS avg_docs,
  CAST(COALESCE(sum(nreturned) // count(duration_ms), 0) AS BIGINT) AS avg_returned,
  CAST(COALESCE(sum(n_shards) // count(duration_ms), 0) AS BIGINT) AS avg_shards,
  CAST(CASE WHEN COALESCE(sum(nreturned), 0) > 0
    THEN COALESCE(sum(CASE WHEN keys_examined IS NOT NULL THEN docs_examined END), 0) // sum(nreturned)
    ELSE 0 END AS BIGINT) AS ex_ret_ratio
FROM ops WHERE ns_pass
GROUP BY db, coll, op, app_name{extra_group}
"""


def q_shard_main_ops(path: str) -> str:
    """per_shard_grouped main_ops: shard = first md5(url) nibble (16 synthetic
    shards), an extra group key — same derivation as log_queries.q_shard_main_ops."""
    return q_main_ops(path, extra_keys=[("substr(md5(url), 1, 1)", "shard")])


def q_ttl_ops(path: str) -> str:
    return base_ctes(path) + """
SELECT db, coll,
  count(duration_ms) AS count,
  COALESCE(min(duration_ms), 0) AS min_ms,
  COALESCE(max(duration_ms), 0) AS max_ms,
  CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
  CAST(COALESCE(sum(num_deleted) // count(duration_ms), 0) AS BIGINT) AS avg_deleted,
  CAST(COALESCE(sum(num_deleted) // count(duration_ms), 0) * count(duration_ms) AS BIGINT) AS total_deleted
FROM ttl_pre GROUP BY db, coll
"""


def q_op_stats(path: str) -> str:
    return base_ctes(path) + """
SELECT op_stat, count(*) AS count FROM (
  SELECT op_stat FROM ops WHERE branch != 'command' OR ns_pass
  UNION ALL
  SELECT 'index_operation' FROM ops WHERE branch = 'index' AND ns_pass
) GROUP BY op_stat
"""


def q_error_codes(path: str) -> str:
    return base_ctes(path) + f"""
SELECT code_name, count(*) AS count,
  arg_min(error_code, {_ARRIVAL_KEY}) FILTER (WHERE error_code IS NOT NULL) AS error_code,
  arg_min(sample_message, {_ARRIVAL_KEY}) FILTER (WHERE sample_message IS NOT NULL) AS sample_message
FROM (
  SELECT url, ts_str, json_extract_string(text, '$.attr.error.codeName') AS code_name,
    CAST(json_extract_string(text, '$.attr.error.code') AS BIGINT) AS error_code,
    json_extract_string(text, '$.attr.error.errmsg') AS sample_message
  FROM k WHERE json_extract(text, '$.attr') IS NOT NULL
    AND json_extract_string(text, '$.attr.error.codeName') IS NOT NULL
  UNION ALL
  SELECT url, ts_str,
    COALESCE(json_extract_string(text, '$.attr.errName'),
      'Error' || json_extract_string(text, '$.attr.errCode')) AS code_name,
    CAST(json_extract_string(text, '$.attr.errCode') AS BIGINT) AS error_code,
    json_extract_string(text, '$.attr.errMsg') AS sample_message
  FROM k WHERE json_extract(text, '$.attr') IS NOT NULL
    AND CAST(json_extract_string(text, '$.attr.ok') AS BIGINT) = 0
    AND COALESCE(json_extract_string(text, '$.attr.errName'),
      'Error' || json_extract_string(text, '$.attr.errCode')) IS NOT NULL
  UNION ALL
  SELECT url, ts_str, 'InterruptedByClientDisconnect',
    CAST(NULL AS BIGINT),
    'Interrupted operation as its client disconnected' ||
      COALESCE(' (opId: ' || json_extract_string(text, '$.attr.opId') || ')', '')
  FROM k WHERE json_extract(text, '$.attr') IS NOT NULL
    AND msg = 'Interrupted operation as its client disconnected'
) GROUP BY code_name
"""


def q_transactions(path: str) -> str:
    return base_ctes(path) + """
SELECT txn_retry_counter, termination_cause, commit_type,
  count(*) AS count,
  COALESCE(min(duration_ms), 0) AS min_ms,
  COALESCE(max(duration_ms), 0) AS max_ms,
  CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
  COALESCE(max(commit_ms), 0) AS max_commit_ms,
  CAST(COALESCE(sum(commit_ms) // count(commit_ms), 0) AS BIGINT) AS avg_commit_ms,
  COALESCE(max(active_ms), 0) AS max_active_ms,
  CAST(COALESCE(sum(active_ms) // count(active_ms), 0) AS BIGINT) AS avg_active_ms,
  COALESCE(max(inactive_ms), 0) AS max_inactive_ms,
  CAST(COALESCE(sum(inactive_ms) // count(inactive_ms), 0) AS BIGINT) AS avg_inactive_ms
FROM (
  SELECT
    CAST(json_extract_string(text, '$.attr.parameters.txnRetryCounter') AS BIGINT) AS txn_retry_counter,
    json_extract_string(text, '$.attr.terminationCause') AS termination_cause,
    json_extract_string(text, '$.attr.commitType') AS commit_type,
    CAST(json_extract_string(text, '$.attr.durationMillis') AS BIGINT) AS duration_ms,
    CAST(floor(CAST(json_extract_string(text, '$.attr.commitDurationMicros') AS BIGINT) / 1000.0 + 0.5) AS BIGINT) AS commit_ms,
    CAST(floor(CAST(json_extract_string(text, '$.attr.timeActiveMicros') AS BIGINT) / 1000.0 + 0.5) AS BIGINT) AS active_ms,
    CAST(floor(CAST(json_extract_string(text, '$.attr.timeInactiveMicros') AS BIGINT) / 1000.0 + 0.5) AS BIGINT) AS inactive_ms
  FROM k
  WHERE comp = 'TXN' AND msg = 'transaction' AND json_extract(text, '$.attr') IS NOT NULL
)
WHERE txn_retry_counter IS NOT NULL OR termination_cause IS NOT NULL
   OR commit_type IS NOT NULL OR duration_ms IS NOT NULL
GROUP BY 1, 2, 3
"""


def q_query_hash(path: str, with_shard: bool = False) -> str:
    """with_shard: per_shard_grouped variant — shard = first md5(url) nibble
    as a leading group key through the base agg, all three kv-map sub-aggs,
    and the final join (mirrors aggregates.query_hash(extra_keys=('shard',)))."""
    sh_sel = "substr(md5(url), 1, 1) AS shard, " if with_shard else ""
    sh_col = "shard, " if with_shard else ""
    sh_ord = ", 4" if with_shard else ""
    return base_ctes(path) + f"""
, qh_base AS (
  SELECT *, {sh_sel}db || '.' || coll AS qns FROM ops WHERE ns_pass AND query_hash IS NOT NULL
),
qh_agg AS (
  SELECT {sh_col}query_hash, qns AS ns, op,
    count(duration_ms) AS count,
    COALESCE(min(duration_ms), 0) AS min_ms,
    COALESCE(max(duration_ms), 0) AS max_ms,
    CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
    round(CAST(COALESCE(quantile_disc(duration_ms, 0.95), 0) AS DOUBLE), 4) AS p95_ms,
    CAST(COALESCE(sum(keys_examined), 0) AS BIGINT) AS total_keys,
    CAST(COALESCE(sum(docs_examined), 0) AS BIGINT) AS total_docs,
    CAST(COALESCE(sum(nreturned), 0) AS BIGINT) AS total_returned,
    CAST(COALESCE(sum(reslen), 0) AS BIGINT) AS total_reslen,
    CAST(COALESCE(sum(bytes_read), 0) AS BIGINT) AS total_bytes_read,
    CAST(COALESCE(sum(bytes_written), 0) AS BIGINT) AS total_bytes_written,
    CAST(COALESCE(max(bytes_read), 0) AS BIGINT) AS max_bytes_read,
    CAST(COALESCE(max(bytes_written), 0) AS BIGINT) AS max_bytes_written,
    CAST(COALESCE(sum(n_shards), 0) AS BIGINT) AS total_shards,
    count(planning_us) AS planning_count,
    CAST(COALESCE(min(planning_us), 0) AS BIGINT) AS min_planning_us,
    CAST(COALESCE(max(planning_us), 0) AS BIGINT) AS max_planning_us,
    CAST(COALESCE(sum(planning_us) // count(planning_us), 0) AS BIGINT) AS avg_planning_us,
    CAST(sum(CASE WHEN replanned THEN 1 ELSE 0 END) AS BIGINT) AS replanned_count,
    CAST(sum(CASE WHEN from_multi_planner THEN 1 ELSE 0 END) AS BIGINT) AS multi_planner_count,
    arg_max(plan_summary, {_ARRIVAL_KEY}) FILTER (WHERE plan_summary IS NOT NULL) AS plan_summary,
    arg_min(app_name, {_ARRIVAL_KEY}) FILTER (WHERE app_name IS NOT NULL) AS app_name,
    arg_min(raw_filter, {_ARRIVAL_KEY}) FILTER (WHERE raw_filter IS NOT NULL) AS sanitized_query,
    arg_max(text, {_SAMPLE_KEY}) FILTER (WHERE duration_ms IS NOT NULL) AS sample_line
  FROM qh_base GROUP BY 1, 2, 3{sh_ord}
),
qh_replans AS (
  SELECT {sh_col}query_hash, ns, op, string_agg(kv, '|' ORDER BY kv) AS replan_reasons FROM (
    SELECT {sh_col}query_hash, qns AS ns, op, replan_reason || '=' || count(*) AS kv
    FROM qh_base WHERE replanned AND replan_reason IS NOT NULL GROUP BY 1, 2, 3{sh_ord}, replan_reason
  ) GROUP BY 1, 2, 3{sh_ord}
),
qh_rp AS (
  SELECT {sh_col}query_hash, ns, op, string_agg(kv, '|' ORDER BY kv) AS read_pref_counts FROM (
    SELECT {sh_col}query_hash, qns AS ns, op,
      (CASE WHEN read_pref IS NOT NULL AND read_pref != '' THEN read_pref ELSE 'default' END) || '=' || count(*) AS kv
    FROM qh_base GROUP BY 1, 2, 3{sh_ord},
      CASE WHEN read_pref IS NOT NULL AND read_pref != '' THEN read_pref ELSE 'default' END
  ) GROUP BY 1, 2, 3{sh_ord}
),
qh_tags AS (
  SELECT {sh_col}query_hash, ns, op, string_agg(kv, '|' ORDER BY kv) AS read_pref_tags_counts FROM (
    SELECT {sh_col}query_hash, qns AS ns, op, read_pref_tags || '=' || count(*) AS kv
    FROM qh_base WHERE read_pref_tags IS NOT NULL AND read_pref_tags != ''
    GROUP BY 1, 2, 3{sh_ord}, read_pref_tags
  ) GROUP BY 1, 2, 3{sh_ord}
)
SELECT a.*, COALESCE(r.replan_reasons, '') AS replan_reasons,
  COALESCE(p.read_pref_counts, '') AS read_pref_counts,
  COALESCE(t.read_pref_tags_counts, '') AS read_pref_tags_counts
FROM qh_agg a
LEFT JOIN qh_replans r USING ({sh_col}query_hash, ns, op)
LEFT JOIN qh_rp p USING ({sh_col}query_hash, ns, op)
LEFT JOIN qh_tags t USING ({sh_col}query_hash, ns, op)
"""


def q_plan_cache(path: str) -> str:
    return base_ctes(path) + f"""
SELECT db || '.' || coll AS ns, op, query_hash, plan_summary,
  count(duration_ms) AS count,
  COALESCE(min(duration_ms), 0) AS min_ms,
  COALESCE(max(duration_ms), 0) AS max_ms,
  CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
  round(CAST(COALESCE(quantile_disc(duration_ms, 0.95), 0) AS DOUBLE), 4) AS p95_ms,
  CAST(COALESCE(sum(keys_examined), 0) AS BIGINT) AS total_keys,
  CAST(COALESCE(sum(docs_examined), 0) AS BIGINT) AS total_docs,
  CAST(COALESCE(sum(nreturned), 0) AS BIGINT) AS total_returned,
  bool_or(contains(plan_summary, 'COLLSCAN')) AS is_collscan,
  arg_max(text, {_SAMPLE_KEY}) FILTER (WHERE duration_ms IS NOT NULL) AS sample_line
FROM ops
WHERE ns_pass AND plan_cache_key IS NOT NULL AND plan_summary IS NOT NULL
GROUP BY 1, 2, 3, 4
"""


def q_plan_multi(path: str) -> str:
    """A5b — per-queryHash multi-plan rollup (>1 cached plan per hash)."""
    return base_ctes(path) + """
, pc AS (
  SELECT db || '.' || coll AS ns, op, query_hash, plan_summary,
    count(duration_ms) AS count,
    COALESCE(min(duration_ms), 0) AS min_ms,
    COALESCE(max(duration_ms), 0) AS max_ms
  FROM ops
  WHERE ns_pass AND plan_cache_key IS NOT NULL AND plan_summary IS NOT NULL
  GROUP BY 1, 2, 3, 4
)
SELECT query_hash,
  CAST(count(*) AS BIGINT) AS plan_count,
  CAST(sum(count) AS BIGINT) AS total_count,
  CAST(COALESCE(min(min_ms), 0) AS BIGINT) AS min_ms,
  CAST(COALESCE(max(max_ms), 0) AS BIGINT) AS max_ms,
  string_agg(plan_summary || '@' || ns || '@' || op || '=' || count, '|'
             ORDER BY plan_summary || '@' || ns || '@' || op || '=' || count) AS plans
FROM pc
WHERE query_hash IS NOT NULL
GROUP BY 1
HAVING count(*) > 1
"""


def q_index_stats(path: str) -> str:
    return base_ctes(path) + """
SELECT db || '.' || coll AS ns, plan_summary,
  count(duration_ms) AS count,
  COALESCE(min(duration_ms), 0) AS min_ms,
  COALESCE(max(duration_ms), 0) AS max_ms,
  CAST(COALESCE(sum(duration_ms) // count(duration_ms), 0) AS BIGINT) AS avg_ms,
  round(CAST(COALESCE(quantile_disc(duration_ms, 0.95), 0) AS DOUBLE), 4) AS p95_ms,
  CAST(COALESCE(sum(keys_examined), 0) AS BIGINT) AS total_keys,
  CAST(COALESCE(sum(docs_examined), 0) AS BIGINT) AS total_docs,
  CAST(COALESCE(sum(nreturned), 0) AS BIGINT) AS total_returned,
  CAST(COALESCE(sum(keys_examined) // count(duration_ms), 0) AS BIGINT) AS avg_keys,
  CAST(COALESCE(sum(docs_examined) // count(duration_ms), 0) AS BIGINT) AS avg_docs,
  CAST(COALESCE(sum(nreturned) // count(duration_ms), 0) AS BIGINT) AS avg_returned,
  CAST(CASE WHEN COALESCE(sum(nreturned), 0) > 0
    THEN (COALESCE(sum(keys_examined), 0) + COALESCE(sum(docs_examined), 0)) // sum(nreturned)
    ELSE 0 END AS BIGINT) AS examined_returned_ratio,
  contains(plan_summary, 'COLLSCAN') AS is_collscan
FROM ops
WHERE ns_pass AND plan_summary IS NOT NULL
GROUP BY 1, 2
"""


def q_slow_planning(path: str, k: int = 50) -> str:
    return base_ctes(path) + f"""
SELECT db || '.' || coll AS ns, op, plan_summary, planning_us, raw_filter, ts_str, url
FROM ops WHERE ns_pass AND planning_us IS NOT NULL
ORDER BY planning_us DESC, url ASC LIMIT {k}
"""


def q_app_conn_stats(path: str) -> str:
    return base_ctes(path) + f"""
SELECT COALESCE(app_name, 'unknown') AS app_name,
  count(DISTINCT {_CONN_ID}) AS distinct_connections
FROM ops
WHERE ns_pass AND branch IN ('index', 'write') AND {_CONN_ID} IS NOT NULL
GROUP BY 1
"""


_LIFETIMES_CTE = f"""
lifetimes_all AS (
  SELECT conn_id,
    min(CASE WHEN kind = 'start' THEN epoch_ms END) AS start_ms,
    max(CASE WHEN kind = 'end' THEN epoch_ms END) AS end_ms
  FROM (
    SELECT CAST(json_extract_string(text, '$.attr.connectionId') AS BIGINT) AS conn_id, 'start' AS kind,
      {_EPOCH_MS} AS epoch_ms
    FROM k WHERE msg = 'Connection accepted'
      AND json_extract_string(text, '$.attr.connectionId') IS NOT NULL AND ts_str IS NOT NULL
    UNION ALL
    SELECT {_CONN_ID}, 'end', {_EPOCH_MS}
    FROM k WHERE msg = 'Connection ended' AND starts_with(ctx, 'conn')
      AND {_CONN_ID} IS NOT NULL AND ts_str IS NOT NULL
  ) GROUP BY conn_id
),
lifetimes AS (
  SELECT conn_id, start_ms, end_ms, end_ms - start_ms AS lifetime_ms
  FROM lifetimes_all WHERE end_ms - start_ms > 0 AND conn_id % 10 = 0
)"""


def q_conn_lifetimes(path: str) -> str:
    return base_ctes(path) + f", {_LIFETIMES_CTE}\nSELECT conn_id, start_ms, end_ms, lifetime_ms FROM lifetimes"


def q_driver_stats(path: str) -> str:
    return base_ctes(path) + f"""
, meta AS (
  SELECT url, ts_str, ctx, {_CONN_ID} AS conn_id,
    json_extract_string(text, '$.attr.remote') AS remote,
    json_extract_string(text, '$.attr.doc.driver.name') AS driver,
    json_extract_string(text, '$.attr.doc.driver.version') AS version,
    json_extract_string(text, '$.attr.doc.os.type') AS os_type,
    json_extract_string(text, '$.attr.doc.platform') AS platform,
    COALESCE(array_to_string(list_sort(CAST(json_extract(text, '$.attr.negotiatedCompressors') AS VARCHAR[])), ','), '') AS compressors
  FROM k
  WHERE comp = 'NETWORK' AND msg = 'client metadata' AND json_extract(text, '$.attr') IS NOT NULL
    AND (json_extract_string(text, '$.attr.doc.driver.name') IS NOT NULL
         OR json_extract_string(text, '$.attr.doc.driver.version') IS NOT NULL)
    AND (json_extract_string(text, '$.attr.doc.driver.name') IS NULL
         OR NOT (starts_with(json_extract_string(text, '$.attr.doc.driver.name'), 'NetworkInterface')
                 OR json_extract_string(text, '$.attr.doc.driver.name') = 'MongoDB Internal Client'))
),
authrec AS (
  SELECT {_CONN_ID} AS conn_id,
    arg_min(json_extract_string(text, '$.attr.user'), {_ARRIVAL_KEY}) AS username
  FROM k
  WHERE comp = 'ACCESS' AND msg = 'Successfully authenticated'
    AND ctx IS NOT NULL AND json_extract_string(text, '$.attr.user') IS NOT NULL
    AND {_CONN_ID} IS NOT NULL
  GROUP BY 1
),
enriched AS (SELECT m.*, a.username FROM meta m LEFT JOIN authrec a USING (conn_id)),
{_LIFETIMES_CTE},
conn_key AS (
  SELECT conn_id,
    arg_min(driver, {_ARRIVAL_KEY}) AS driver, arg_min(version, {_ARRIVAL_KEY}) AS version,
    arg_min(os_type, {_ARRIVAL_KEY}) AS os_type, arg_min(platform, {_ARRIVAL_KEY}) AS platform,
    arg_min(compressors, {_ARRIVAL_KEY}) AS compressors, arg_min(username, {_ARRIVAL_KEY}) AS username
  FROM enriched WHERE conn_id IS NOT NULL GROUP BY conn_id
),
lt_agg AS (
  SELECT driver, version, os_type, platform, compressors, username,
    CAST(floor(avg(lifetime_ms)) AS BIGINT) AS avg_lifetime_ms,
    max(lifetime_ms) AS max_lifetime_ms,
    count(*) AS sampled_lifetimes
  FROM lifetimes JOIN conn_key USING (conn_id)
  GROUP BY 1, 2, 3, 4, 5, 6
)
, final AS (
SELECT e.driver, e.version, e.os_type, e.platform, e.compressors, e.username,
  count(*) AS connection_count,
  count(DISTINCT e.remote) AS unique_hosts,
  any_value(l.avg_lifetime_ms) AS avg_lifetime_ms,
  any_value(l.max_lifetime_ms) AS max_lifetime_ms,
  any_value(l.sampled_lifetimes) AS sampled_lifetimes
FROM enriched e
LEFT JOIN lt_agg l ON (e.driver IS NOT DISTINCT FROM l.driver AND e.version IS NOT DISTINCT FROM l.version
  AND e.os_type IS NOT DISTINCT FROM l.os_type AND e.platform IS NOT DISTINCT FROM l.platform
  AND e.compressors IS NOT DISTINCT FROM l.compressors AND e.username IS NOT DISTINCT FROM l.username)
GROUP BY 1, 2, 3, 4, 5, 6
)
SELECT *, COALESCE(username, '') AS usernames,
  array_to_string(list_transform(
    CASE WHEN compressors = '' THEN ['none'] ELSE string_split(compressors, ',') END,
    c -> c || '=' || connection_count), '|') AS compressor_usage
FROM final
"""


def q_ts_range(path: str) -> str:
    return base_ctes(path) + """
SELECT (SELECT min(ts_str) FROM k) AS earliest, (SELECT max(ts_str) FROM k) AS latest,
  (SELECT count(*) FROM kept) AS lines_with_ts
"""


def q_enrich_site_class(path: str) -> str:
    ll = datagen.lookup_path("lang_locale")
    hc = datagen.lookup_path("host_class")
    return f"""
WITH pages AS (SELECT *, regexp_extract(url, '^https?://([^/]+)', 1) AS host FROM read_parquet('{path}')),
ll AS (SELECT * FROM read_parquet('{ll}')),
hc AS (SELECT * FROM read_parquet('{hc}'))
SELECT COALESCE(hc.site_class, 'UNKNOWN') AS site_class,
  COALESCE(ll.locale, 'UNKNOWN') AS locale, count(*) AS count
FROM pages LEFT JOIN ll USING (lang) LEFT JOIN hc USING (host)
GROUP BY 1, 2
"""


def q_salted_op_rollup(path: str) -> str:
    """Oracle for the SALTED plan is the plain GROUP BY — equality proves the
    two-phase decomposition is exact."""
    return base_ctes(path) + """
SELECT db, coll, op,
  count(duration_ms) AS count,
  CAST(COALESCE(sum(duration_ms), 0) AS BIGINT) AS total_ms,
  min(duration_ms) AS min_ms,
  max(duration_ms) AS max_ms
FROM ops WHERE ns_pass GROUP BY db, coll, op
"""


def q_stream_windowed_ops(path: str) -> str:
    """Batch equivalent of the streaming 1-day tumbling-window rollup: Spark's
    window('1 day') aligns to epoch days in the UTC session timezone, i.e.
    date_trunc('day') over the UTC wall-clock value. `AT TIME ZONE 'UTC'`
    pins the truncation to UTC regardless of the DuckDB session timezone
    (parquet timestamps read back as TIMESTAMPTZ; bare date_trunc would
    truncate in host-local time on a non-UTC host). ops drops warc_ts (the k
    CTE projects it away), so join back to pages on the unique synthetic url."""
    return base_ctes(path) + """
SELECT strftime(date_trunc('day', p.warc_ts AT TIME ZONE 'UTC'), '%Y-%m-%d') AS window_day, o.op,
  count(*) AS count,
  CAST(COALESCE(sum(o.duration_ms), 0) AS BIGINT) AS total_ms
FROM ops o JOIN pages p USING (url) WHERE o.ns_pass
GROUP BY 1, 2
"""


def q_stream_conn_sessions(path: str) -> str:
    """Batch equivalent of the single-micro-batch sessionization drain:
    min(start)/max(end) per conn, closed sessions only (end > start), no
    sample — J2's lifetimes_all before the 10% cut."""
    return base_ctes(path) + f", {_LIFETIMES_CTE}" + """
SELECT conn_id, start_ms, end_ms, end_ms - start_ms AS lifetime_ms,
  'closed' AS status
FROM lifetimes_all WHERE end_ms - start_ms > 0
"""


def oracles(sf: float = 0.01) -> dict[str, str]:
    from . import pins

    p = datagen.pages_glob(sf)
    out = {
        "log_route_counts": q_route_counts(p),
        "log_ignored_categories": q_ignored_categories(p),
        "log_ignored_sample": q_ignored_sample(p),
        "log_parsed_ops": q_parsed_ops(p),
        "log_main_ops": q_main_ops(p),
        "log_shard_main_ops": q_shard_main_ops(p),
        "log_ttl_ops": q_ttl_ops(p),
        "log_op_stats": q_op_stats(p),
        "log_query_hash": q_query_hash(p),
        "log_shard_query_hash": q_query_hash(p, with_shard=True),
        "log_plan_cache": q_plan_cache(p),
        "log_plan_multi": q_plan_multi(p),
        "log_index_stats": q_index_stats(p),
        "log_error_codes": q_error_codes(p),
        "log_transactions": q_transactions(p),
        "log_slow_planning": q_slow_planning(p),
        "log_app_conn_stats": q_app_conn_stats(p),
        "log_conn_lifetimes": q_conn_lifetimes(p),
        "log_driver_stats": q_driver_stats(p),
        "log_ts_range": q_ts_range(p),
        "log_enrich_site_class": q_enrich_site_class(p),
        "log_salted_op_rollup": q_salted_op_rollup(p),
        "stream_windowed_ops": q_stream_windowed_ops(p),
        "stream_conn_sessions": q_stream_conn_sessions(p),
    }
    # log_redacted_lines: the tree-walk text transform has no SQL-expressible
    # oracle, so the expected table is PINNED (scripts/pin_redacted.py:
    # DuckDB recomputes the line selection; the transform is the pure-Python
    # process_log_message, itself byte-golden-tested against the reference).
    # Without a pin for this sf the driver records the rows-only check.
    pin_sql = pins.redacted_oracle_sql(sf)
    if pin_sql is not None:
        out["log_redacted_lines"] = pin_sql
    return out
