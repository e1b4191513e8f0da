"""E3-E20 — operation dispatch and field extraction as column expressions.

Re-expresses the reference's imperative per-row dispatch
(LogParserTask.java:155-1038) as one `when`-cascade + coalesce-chain Project
over the FLAT parsed columns from parse.parse_lines. ORDER IS LOAD-BEARING
(first match wins, SURVEY.md §7.3.7). All expressions here are
whole-stage-codegen-able boolean/string ops — the heavy tokenization happened
once in the Arrow parse stage.

Output of extract_ops(): one row per dispatched operation (the SlowQuery
analog) with a `ns_pass` namespace-filter flag and a `branch` marker
(index/write/command) for the reference's asymmetric op-stat counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .parse import ADMIN_OPS, ns_coll, ns_db  # noqa: F401 — ADMIN_OPS re-exported for the oracle

# command-op dispatch order, LogParserTask.java:802-919 (first match wins)
_CMD_DISPATCH = [
    # (key, op_type_string, op_stat, collection_source_column)
    ("find", "find", "find", "cmd_find"),
    ("aggregate", "aggregate", "aggregate", "cmd_aggregate"),
    ("findAndModify", "findAndModify", "findAndModify", "cmd_findAndModify"),
    ("update", "update", "update", "cmd_update"),
    ("insert", "insert", "insert", "cmd_insert"),
    ("delete", "remove", "delete", "cmd_delete"),
    ("getMore", "getMore", "getMore", "cmd_collection"),
    ("count", "count", "count", "cmd_count"),
    ("distinct", "distinct", "distinct", "cmd_distinct"),
]


def _has(key: str) -> Column:
    return F.array_contains(F.col("cmd_keys"), key)


def is_error_expr() -> Column:
    """F9 — attr.ok == 0 || attr.error != null (LogParserTask.java:563-579)."""
    return (F.col("a_ok") == 0) | F.col("has_error_obj")


def extract_ops(parsed: DataFrame) -> DataFrame:
    """Dispatch every parsed line into the main-op row set (or drop it).

    Mirrors the three branches of LogParserTask.call():
      INDEX (155-200) → WRITE-with-type (204-262) → attr.command (264-344),
    including the always-exclude-config namespace filter (361-408).
    """
    a_msg = F.col("a_msg")
    is_index = F.coalesce(F.col("comp") == "INDEX", F.lit(False))
    index_ttl = is_index & a_msg.isNotNull() & a_msg.contains("Deleted expired documents")
    index_other = (
        is_index
        & ~F.coalesce(a_msg.contains("Deleted expired documents"), F.lit(False))
        & F.col("a_namespace").isNotNull()
    )
    is_write = ~is_index & F.col("a_type").isNotNull() & F.coalesce(F.col("comp") == "WRITE", F.lit(False))
    write_ok = is_write & F.col("a_ns").isNotNull()
    is_command = ~is_index & ~is_write & F.col("cmd_keys").isNotNull() & F.col("a_ns").isNotNull()

    # ---- op dispatch (E3-E6) ----
    # first admin/_shardsv* key in document order — computed in the parse UDF
    # (a higher-order-function lambda here is CodegenFallback and caused a
    # GC-bound interpreted path at high parallelism)
    first_other = F.col("cmd_first_other")

    a_type = F.col("a_type")
    op = F.when(index_ttl, "remove").when(index_other, "command")
    op_stat = (
        F.when(index_ttl, "ttl_delete")
        .when(index_other & a_msg.contains("Index build"), "index_build")
        .when(index_other & a_msg.contains("Index drop"), "index_drop")
        .when(index_other & a_msg.isNotNull(), "index_other")
        .when(index_other, "index_maintenance")
    )
    op = (
        op.when(write_ok & (a_type == "update"), "update_w")
        .when(write_ok & a_type.isin("remove", "delete"), "remove")
        .when(write_ok & (a_type == "insert"), "insert")
        .when(write_ok, "command")
    )
    op_stat = (
        op_stat.when(write_ok & (a_type == "update"), "update_w")
        .when(write_ok & a_type.isin("remove", "delete"), "delete_w")
        .when(write_ok & (a_type == "insert"), "insert_w")
        .when(write_ok, F.concat(F.lit("write_"), a_type))
    )
    coll_override = None
    for key, op_name, stat_name, coll_src in _CMD_DISPATCH:
        cond = is_command & _has(key)
        op = op.when(cond, op_name)
        op_stat = op_stat.when(cond, stat_name)
        src_val = F.col(coll_src)
        if key == "aggregate":
            src_val = F.when(src_val != "1", src_val)  # aggregate:"1"/1 = db-level
        coll_override = (F.when if coll_override is None else coll_override.when)(cond, src_val)
    other_cond = is_command & first_other.isNotNull()
    op = op.when(other_cond, "command")
    op_stat = op_stat.when(
        other_cond,
        F.when(first_other.startswith("_shardsv"), F.concat(F.lit("shard_"), first_other)).otherwise(first_other),
    )

    ns = F.when(is_index, F.col("a_namespace")).when(is_write | is_command, F.col("a_ns"))
    db = ns_db(ns)
    coll = F.coalesce(F.when(is_command, coll_override), ns_coll(ns))

    # exec stats gate: docs/keys only when nreturned present (LogParserTask.java:984-988)
    gated_docs = F.when(F.col("a_nreturned").isNotNull(), F.col("a_docs_examined"))
    gated_keys = F.when(F.col("a_nreturned").isNotNull(), F.col("a_keys_examined"))
    # nreturned priority: ninserted > ndeleted > nModified > nUpserted > nreturned
    # (sequential overwrites, LogParserTask.java:990-1013)
    nret = F.coalesce(
        F.col("a_ninserted"), F.col("a_ndeleted"), F.col("a_nmodified"),
        F.col("a_nupserted"), F.col("a_nreturned"),
    )
    nret = F.when(index_ttl, F.col("a_num_deleted")).otherwise(F.when(~is_index, nret))

    common = ~is_index  # INDEX branch skips setCommonAttributes (LogParserTask.java:157-175)
    rp_gate = is_command | write_ok  # extractReadPreferenceAndFilter call sites
    # keep every dispatched row; main-op consumers filter on ns_pass, while
    # op-type stats count WRITE/INDEX dispatches regardless (the reference
    # increments those stats before its namespace check — see aggregates.op_stats).
    # Project down to the SlowQuery contract — the parsed source columns would
    # otherwise double the width of the ops stage checkpoint.
    # ONE select, not a withColumn chain: every chained withColumn round-trips
    # py4j and re-analyzes the whole upstream plan, which at ~25 links over
    # the parse tree cost ~1 s of driver-side serial time per pipeline build
    # (measured; a pure Amdahl floor at every parallelism width).
    passthrough = [c for c in ("url", "warc_ts", "lang", "shard", "node") if c in parsed.columns]
    out = parsed.select(
        *passthrough, "text", "ts_str", "ctx", "comp",
        F.when(is_index, "index").when(write_ok, "write").otherwise("command").alias("branch"),
        op.alias("op"),
        op_stat.alias("op_stat"),
        db.alias("db"),
        coll.alias("coll"),
        # namespace filter: null-db namespaces pass (Namespace regex non-match
        # keeps nulls), config db always excluded (LogParserTask.java:361-408)
        (ns.isNotNull() & (db.isNull() | (db != "config"))).alias("ns_pass"),
        F.col("a_duration_ms").alias("duration_ms"),
        F.when(common, gated_keys).alias("keys_examined"),
        F.when(common, gated_docs).alias("docs_examined"),
        nret.alias("nreturned"),
        F.when(common, F.col("a_reslen")).alias("reslen"),
        F.when(common, F.col("a_bytes_read")).alias("bytes_read"),
        F.when(common, F.col("a_bytes_written")).alias("bytes_written"),
        F.when(common, F.col("a_write_conflicts")).alias("write_conflicts"),
        F.when(common, F.col("a_nshards")).alias("n_shards"),
        F.when(common, F.col("a_query_hash")).alias("query_hash"),
        F.when(common, F.col("a_plan_cache_key")).alias("plan_cache_key"),
        F.when(common, F.col("a_plan_summary")).alias("plan_summary"),
        F.when(common, F.col("a_planning_us")).alias("planning_us"),
        F.when(common, F.col("a_replanned")).alias("replanned"),
        F.when(common, F.col("a_replan_reason")).alias("replan_reason"),
        F.when(common, F.col("a_from_multi_planner")).alias("from_multi_planner"),
        F.when(common, F.col("a_app_name")).alias("app_name"),
        F.when(common, F.col("a_remote")).alias("remote"),
        F.when(rp_gate, F.col("rp_mode")).alias("read_pref"),
        F.when(rp_gate, F.col("rp_tags")).alias("read_pref_tags"),
        F.when(rp_gate, F.col("rp_node_type")).alias("node_type"),
        # sanitize source precedence: q > filter > first $match > originating
        # filter (sequential assignment, LogParserTask.java:468-558)
        F.when(rp_gate, F.coalesce("cmd_q_raw", "cmd_filter_raw", "match_raw",
                                   "orig_filter_raw")).alias("raw_filter"),
        F.coalesce(is_error_expr(), F.lit(False)).alias("is_error"),
        F.coalesce((op == "getMore") & F.col("orig_has_changestream"),
                   F.lit(False)).alias("is_change_stream"),
    )
    return out.filter(F.col("op").isNotNull())
