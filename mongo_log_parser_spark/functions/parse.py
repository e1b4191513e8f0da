"""E1/E2 — the vectorized Arrow parse stage, and the one declaration of the
log-line grammar.

One `mapInArrow` pass tokenizes each record's raw line exactly as the
reference's per-row parser does (LogParserTask.java:88-137, fast extractors
LogParser.java:1300-1332), emitting a FLAT schema of typed fields. The field
tables below (`_ENV_FIELDS`, `_ATTR_SCALARS`, `_DERIVED_FIELDS`,
`_CMD_NAME_KEYS`) are the only place the grammar is declared: `parsed_schema`
maps their kinds to Spark types through `_KINDS` (the Arrow output types
follow from it), and the generated tokenizer `_parse_batch` emits the attr
scalars and the cmd_<key> columns from the same tables. Rationale (measured
at sf0.1, local[32]):

- Spark's JVM `from_json` with the full 60-field permissive schema costs
  ~4 ms/row (raw-subtree recapture forces Jackson re-serialization), and the
  optimizer's json-expression rewrite multiplies the parse per referenced
  field. Total: >60 s for 600k rows.
- orjson in an Arrow-batched Python stage parses + extracts the same fields
  in ~12 µs/row (scripts/parse_microbench.py times it without Spark).
- A flat (primitive-column) output also keeps the routed parquet stage
  columnar and prunable; nested structs would not be.

Raw JSON subtrees (filter/q/$match/originatingCommand.filter) are re-rendered
compact with document key order — byte-identical to DuckDB's json_extract and
to the generator's own compact rendering, which is the per-url invariant the
oracle checks.

Scale note: mapInArrow streams Arrow batches (spark.sql.execution.arrow.
maxRecordsPerBatch), so executor memory is bounded per batch regardless of
partition size; the stage parallelizes per input split like any narrow map.
"""

from __future__ import annotations

import json
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# isAdministrativeOperation, LogParserTask.java:950-958 — scanned together with
# the _shardsv* prefix in command-key document order (processOtherOperations)
ADMIN_OPS = [
    "drop", "dropDatabase", "dropIndexes", "createIndexes", "collMod",
    "renameCollection", "validate", "compact", "reIndex", "explain",
    "currentOp", "killOp", "fsync", "eval", "listCollections",
    "planCacheClear", "configureFailPoint", "killCursors",
    "abortTransaction", "commitTransaction", "startTransaction",
]
_ADMIN_SET = frozenset(ADMIN_OPS)

try:  # pragma: no cover - environment probe
    import orjson

    _loads = orjson.loads
except ImportError:  # pragma: no cover
    _loads = json.loads


def _dumps(v) -> str:
    """Compact JSON, document key order, minimal escaping — matches the
    generator's rendering and DuckDB's json_extract_string normalization."""
    return json.dumps(v, separators=(",", ":"), ensure_ascii=False)


_PASSTHROUGH = ["url", "warc_ts", "lang", "text", "shard", "node"]

# kind → Spark column type
_KINDS = {"s": StringType(), "l": LongType(), "b": BooleanType()}

_ENV_FIELDS: list[tuple[str, str]] = [
    ("ts_str", "s"), ("comp", "s"), ("ctx", "s"), ("msg", "s"),
]

# (column, kind, attr key)
_ATTR_SCALARS = [
    ("a_type", "s", "type"), ("a_ns", "s", "ns"), ("a_namespace", "s", "namespace"),
    ("a_msg", "s", "msg"),
    ("a_duration_ms", "l", "durationMillis"),
    ("a_keys_examined", "l", "keysExamined"), ("a_docs_examined", "l", "docsExamined"),
    ("a_nreturned", "l", "nreturned"), ("a_nmodified", "l", "nModified"),
    ("a_nupserted", "l", "nUpserted"), ("a_ndeleted", "l", "ndeleted"),
    ("a_ninserted", "l", "ninserted"), ("a_num_deleted", "l", "numDeleted"),
    ("a_reslen", "l", "reslen"), ("a_nshards", "l", "nShards"),
    ("a_write_conflicts", "l", "writeConflicts"),
    ("a_query_hash", "s", "queryHash"), ("a_plan_cache_key", "s", "planCacheKey"),
    ("a_plan_summary", "s", "planSummary"), ("a_planning_us", "l", "planningTimeMicros"),
    ("a_replanned", "b", "replanned"), ("a_replan_reason", "s", "replanReason"),
    ("a_from_multi_planner", "b", "fromMultiPlanner"),
    ("a_app_name", "s", "appName"), ("a_remote", "s", "remote"),
    ("a_ok", "l", "ok"), ("a_err_code_top", "l", "errCode"),
    ("a_err_name_top", "s", "errName"), ("a_err_msg_top", "s", "errMsg"),
    ("a_opid", "l", "opId"), ("a_connection_id", "l", "connectionId"),
    ("a_termination_cause", "s", "terminationCause"), ("a_commit_type", "s", "commitType"),
    ("a_commit_micros", "l", "commitDurationMicros"),
    ("a_active_micros", "l", "timeActiveMicros"), ("a_inactive_micros", "l", "timeInactiveMicros"),
    ("a_user", "s", "user"), ("a_db", "s", "db"), ("a_mechanism", "s", "mechanism"),
]

# command keys whose String value names the collection, in dispatch order
# (LogParserTask.java:806-914); each becomes the cmd_<key> column
_CMD_NAME_KEYS = ("find", "aggregate", "findAndModify", "update", "insert",
                  "delete", "collection", "count", "distinct")

_DERIVED_FIELDS: list[tuple[str, str]] = [
    ("has_attr", "b"), ("has_error_obj", "b"),
    ("err_code_name", "s"), ("err_code", "l"), ("err_errmsg", "s"),
    ("a_bytes_read", "l"), ("a_bytes_written", "l"),
    ("a_txn_retry_counter", "l"),
    ("drv_name", "s"), ("drv_version", "s"), ("os_type", "s"), ("os_name", "s"),
    ("platform", "s"), ("compressors", "s"),
    *((f"cmd_{k}", "s") for k in _CMD_NAME_KEYS),
    ("cmd_first_other", "s"),
    ("cmd_filter_raw", "s"), ("cmd_q_raw", "s"), ("match_raw", "s"),
    ("orig_filter_raw", "s"),
    ("rp_mode", "s"), ("rp_tags", "s"), ("rp_node_type", "s"),
    ("orig_has_changestream", "b"),
]

def parsed_schema(input_schema: StructType, extra_cols: tuple[str, ...] = ()) -> StructType:
    fields = [f for f in input_schema.fields if f.name in _PASSTHROUGH]
    fields += [StructField(n, _KINDS[k]) for n, k in _ENV_FIELDS]
    fields += [StructField("cmd_keys", ArrayType(StringType()))]
    fields += [StructField(n, _KINDS[k]) for n, k, _ in _ATTR_SCALARS]
    fields += [StructField(n, _KINDS[k]) for n, k in _DERIVED_FIELDS]
    by_name = {f.name: f for f in input_schema.fields}
    fields += [by_name[c] for c in extra_cols]
    return StructType(fields)


def _fmt_tag(tag: dict) -> str:
    """`k: v, k2: v2` — E13 formatSingleTag (LogParserTask.java:607-627),
    key order = document order."""
    return ", ".join(
        f"{k}: {v if isinstance(v, str) else _dumps(v)}" for k, v in tag.items()
    )


def _fmt_tags(tags) -> str:
    if isinstance(tags, list):
        return "<br>".join(_fmt_tag(t) if isinstance(t, dict) else "" for t in tags)
    if isinstance(tags, dict):
        return _fmt_tag(tags)
    return ""


def _classify_tag(tag: dict) -> str:
    """E14 analyzeTag (LogParserTask.java:632-693)."""
    if tag.get("nodeType") == "analytics" or tag.get("workloadType") == "analytics" \
            or tag.get("role") == "analytics":
        return "analytics"
    if tag.get("nodeType") == "voting" or tag.get("workloadType") == "operational":
        return "voting"
    if tag.get("provider") is not None and tag.get("region") is not None:
        return "voting"
    return ""


def _node_type(tags) -> str:
    if isinstance(tags, list):
        for t in tags:
            if isinstance(t, dict):
                c = _classify_tag(t)
                if c:
                    return c
        return ""
    if isinstance(tags, dict):
        return _classify_tag(tags)
    return ""


_ALL_FIELD_NAMES = ([n for n, _ in _ENV_FIELDS] + ["cmd_keys"]
                    + [n for n, _, _k in _ATTR_SCALARS] + [n for n, _ in _DERIVED_FIELDS])


def _gen_batch_source() -> str:
    """Source for the generated batch tokenizer `_parse_batch(texts, out, skips)`.

    The whole Arrow batch is one generated function: every column's
    `.append` is bound to a local once per batch and each kind's sanitizer is
    inlined as a `type(v) is X` expression. That removes a dict lookup + a
    Python helper call per field per row on the hottest loop in the engine —
    measured 20.1 → 12.4 µs/row (−39%) against the per-row reference parser
    on sf0.01 rows + garbage probes (min of 7 interleaved).
    The attr scalars and the cmd_<key> columns are generated from
    `_ATTR_SCALARS` and `_CMD_NAME_KEYS`. `type(v) is int` rejects bools
    because orjson only ever yields bool/int/float/str/list/dict/None and
    `type(True) is int` is False. tests/parse_reference.py keeps an
    independent per-row parser, and tests/test_parse_codegen.py proves the
    two value-identical on real + adversarial rows."""
    L: list[str] = []
    a = L.append
    a("def _parse_batch(texts, out, skips=None):")
    a("    loads = _loads")
    a("    dumps = _dumps")
    a("    fmt_tags = _fmt_tags")
    a("    node_type = _node_type")
    a("    admin_set = _ADMIN_SET")
    for n in _ALL_FIELD_NAMES:
        a(f"    ap_{n} = out['{n}'].append")
    a("    _appends = (" + ",".join(f"ap_{n}" for n in _ALL_FIELD_NAMES) + ",)")
    a("    it = texts if skips is None else zip(texts, skips)")
    a("    for item in it:")
    a("        if skips is None:")
    a("            line = item")
    a("        else:")
    a("            line, sk = item")
    a("            if sk:")
    a("                for ap in _appends: ap(None)")
    a("                continue")
    a("        try:")
    a("            jo = loads(line if type(line) is bytes else b'')")
    a("            if type(jo) is not dict: jo = None")
    a("        except Exception:")
    a("            jo = None")
    a("        if jo is None:")
    a("            for ap in _appends: ap(None)")
    a("            continue")
    # env fields (E8 common attrs)
    a("        v = jo.get('t')")
    a("        if type(v) is dict:")
    a("            v = v.get('$date')")
    a("            ap_ts_str(v if type(v) is str else None)")
    a("        else:")
    a("            ap_ts_str(None)")
    a("        v = jo.get('c'); ap_comp(v if type(v) is str else None)")
    a("        v = jo.get('ctx'); ap_ctx(v if type(v) is str else None)")
    a("        v = jo.get('msg'); ap_msg(v if type(v) is str else None)")
    a("        attr = jo.get('attr')")
    a("        has_attr = type(attr) is dict")
    a("        ap_has_attr(has_attr)")
    a("        a_get = attr.get if has_attr else _EMPTY_GET")
    py_type = {"s": "str", "l": "int", "b": "bool"}  # what orjson yields per kind
    for name, kind, key in _ATTR_SCALARS:
        a(f"        v = a_get({key!r}); ap_{name}(v if type(v) is {py_type[kind]} else None)")
    # error object
    a("        err = a_get('error')")
    a("        if type(err) is dict:")
    a("            ap_has_error_obj(True)")
    a("            v = err.get('codeName'); ap_err_code_name(v if type(v) is str else None)")
    a("            v = err.get('code'); ap_err_code(v if type(v) is int else None)")
    a("            v = err.get('errmsg'); ap_err_errmsg(v if type(v) is str else None)")
    a("        else:")
    a("            ap_has_error_obj(False)")
    a("            ap_err_code_name(None); ap_err_code(None); ap_err_errmsg(None)")
    # storage.bytesRead else storage.data.bytesRead (LogParserTask.java:1015-1038)
    a("        st = a_get('storage')")
    a("        if type(st) is dict:")
    a("            br = st.get('bytesRead'); bw = st.get('bytesWritten')")
    a("            br = br if type(br) is int else None")
    a("            bw = bw if type(bw) is int else None")
    a("            d = st.get('data')")
    a("            if type(d) is dict:")
    a("                if br is None:")
    a("                    v = d.get('bytesRead'); br = v if type(v) is int else None")
    a("                if bw is None:")
    a("                    v = d.get('bytesWritten'); bw = v if type(v) is int else None")
    a("            ap_a_bytes_read(br); ap_a_bytes_written(bw)")
    a("        else:")
    a("            ap_a_bytes_read(None); ap_a_bytes_written(None)")
    a("        p = a_get('parameters')")
    a("        if type(p) is dict:")
    a("            v = p.get('txnRetryCounter'); ap_a_txn_retry_counter(v if type(v) is int else None)")
    a("        else:")
    a("            ap_a_txn_retry_counter(None)")
    # client doc: driver / os / platform
    a("        doc = a_get('doc')")
    a("        if type(doc) is dict:")
    a("            drv = doc.get('driver')")
    a("            if type(drv) is dict:")
    a("                v = drv.get('name'); ap_drv_name(v if type(v) is str else None)")
    a("                v = drv.get('version'); ap_drv_version(v if type(v) is str else None)")
    a("            else:")
    a("                ap_drv_name(None); ap_drv_version(None)")
    a("            osd = doc.get('os')")
    a("            if type(osd) is dict:")
    a("                v = osd.get('type'); ap_os_type(v if type(v) is str else None)")
    a("                v = osd.get('name'); ap_os_name(v if type(v) is str else None)")
    a("            else:")
    a("                ap_os_type(None); ap_os_name(None)")
    a("            v = doc.get('platform'); ap_platform(v if type(v) is str else None)")
    a("        else:")
    a("            ap_drv_name(None); ap_drv_version(None); ap_os_type(None)")
    a("            ap_os_name(None); ap_platform(None)")
    a("        v = a_get('negotiatedCompressors')")
    a("        if type(v) is list:")
    a("            ap_compressors(','.join(sorted(c for c in v if type(c) is str)))")
    a("        else:")
    a("            ap_compressors(None)")
    # command block (processOtherOperations, LogParserTask.java:921-948)
    a("        cmd = a_get('command')")
    a("        if type(cmd) is dict:")
    a("            ap_cmd_keys(list(cmd.keys()))")
    a("            first_other = None")
    a("            for k in cmd.keys():")
    a("                if k.startswith('_shardsv') or k in admin_set:")
    a("                    first_other = k")
    a("                    break")
    a("            ap_cmd_first_other(first_other)")
    a("            c_get = cmd.get")
    for key in _CMD_NAME_KEYS:
        a(f"            v = c_get({key!r}); ap_cmd_{key}(v if type(v) is str else None)")
    a("            f = c_get('filter'); ap_cmd_filter_raw(dumps(f) if type(f) is dict else None)")
    a("            q = c_get('q'); ap_cmd_q_raw(dumps(q) if type(q) is dict else None)")
    a("            match = None")
    a("            pipe = c_get('pipeline')")
    a("            if type(pipe) is list:")
    a("                for stage in pipe:")
    a("                    if type(stage) is dict:")
    a("                        m = stage.get('$match')")
    a("                        if type(m) is dict:")
    a("                            match = dumps(m)")
    a("                            break")
    a("            ap_match_raw(match)")
    a("        else:")
    a("            cmd = None")
    a("            ap_cmd_keys(None); ap_cmd_first_other(None)")
    for key in _CMD_NAME_KEYS:
        a(f"            ap_cmd_{key}(None)")
    a("            ap_cmd_filter_raw(None); ap_cmd_q_raw(None); ap_match_raw(None)")
    # originatingCommand (E13)
    a("        orig = a_get('originatingCommand')")
    a("        if type(orig) is not dict: orig = None")
    a("        if orig is not None:")
    a("            of = orig.get('filter')")
    a("            ap_orig_filter_raw(dumps(of) if type(of) is dict else None)")
    a("            p = orig.get('pipeline')")
    a("            if type(p) is list:")
    a("                ap_orig_has_changestream(any(type(s) is dict and '$changeStream' in s for s in p))")
    a("            else:")
    a("                ap_orig_has_changestream(False)")
    a("        else:")
    a("            ap_orig_filter_raw(None); ap_orig_has_changestream(False)")
    # read preference with originatingCommand fallback (LogParserTask.java:446-558)
    a("        rp = cmd.get('$readPreference') if cmd is not None else None")
    a("        if rp is None and orig is None:")
    a("            ap_rp_mode(None); ap_rp_tags(None); ap_rp_node_type(None)")
    a("        else:")
    a("            mode = None; tags_fmt = None")
    a("            if type(rp) is str:")
    a("                mode = rp")
    a("            elif type(rp) is dict:")
    a("                v = rp.get('mode'); mode = v if type(v) is str else None")
    a("                if 'tags' in rp: tags_fmt = fmt_tags(rp.get('tags'))")
    a("            orp = orig.get('$readPreference') if orig is not None else None")
    a("            if mode is None:")
    a("                if type(orp) is str:")
    a("                    mode = orp")
    a("                elif type(orp) is dict:")
    a("                    v = orp.get('mode'); mode = v if type(v) is str else None")
    a("            if tags_fmt is None and type(orp) is dict and 'tags' in orp:")
    a("                tags_fmt = fmt_tags(orp.get('tags'))")
    a("            ap_rp_mode(mode); ap_rp_tags(tags_fmt)")
    a("            tags_src = rp.get('tags') if type(rp) is dict and 'tags' in rp else (")
    a("                orp.get('tags') if type(orp) is dict and 'tags' in orp else None)")
    a("            ap_rp_node_type(node_type(tags_src) if tags_src is not None else None)")
    return "\n".join(L)


_GEN_NS: dict = {
    "_loads": _loads, "_dumps": _dumps, "_fmt_tags": _fmt_tags,
    "_node_type": _node_type, "_ADMIN_SET": _ADMIN_SET, "_EMPTY_GET": {}.get,
}
exec(compile(_gen_batch_source(), "<parse._parse_batch>", "exec"), _GEN_NS)
_parse_batch = _GEN_NS["_parse_batch"]


def parse_lines(df: DataFrame, extra_cols: tuple[str, ...] = (),
                skip_col: str | None = None) -> DataFrame:
    """Vectorized parse: pages-shaped DataFrame → flat parsed DataFrame; the
    line is its `text` column.

    extra_cols: input columns passed through verbatim after the parse fields
    (the routed-checkpoint flags). skip_col: optional boolean input column;
    rows where it is true bypass the tokenizer and emit all-null parse fields
    (identical to the unparseable-line path) — this is what lets
    route.routed_parse() run kept+ignored+TTL routing in ONE scan instead of
    re-reading the raw text column once per consumer.

    Boundary is mapInArrow (guide §4.1/§4.2), not mapInPandas: generated
    columns go out as pa.array() straight from the per-column append lists
    (measured 2.1 µs/row vs 11.6 µs/row for the old object-ndarray →
    pd.DataFrame → Table.from_pandas chain), and passthrough columns — the
    url/text/timestamp bytes, the widest part of the row — are re-emitted
    ZERO-COPY from the input record batch instead of round-tripping through
    pandas object arrays. The tokenizer is the generated `_parse_batch`
    (see _gen_batch_source): one pass per row for cache locality — a
    column-at-a-time comprehension layout measured 2.3x SLOWER because 75
    passes over the batch's scattered dicts thrash the cache — with appends
    as locals and sanitizers inlined (20.1 → 12.4 µs/row vs the per-row
    reference parser; an earlier tuple-row + zip-transpose variant was also
    slower)."""
    from pyspark.sql.pandas.types import to_arrow_type

    schema = parsed_schema(df.schema, extra_cols=tuple(extra_cols))
    all_out = _ALL_FIELD_NAMES
    out_names = [f.name for f in schema.fields]
    # Arrow type of each generated column, from the same schema Spark checks
    # the batches against; passthrough columns keep the input batch's column
    generated = {n: to_arrow_type(schema[n].dataType) for n in all_out}

    def run(batches):
        import pyarrow as pa

        for batch in batches:
            out: dict[str, list] = {n: [] for n in all_out}
            # zero-copy cast to binary: orjson takes the utf-8 bytes directly,
            # skipping the str round-trip's re-encode (measured −3%/row; the
            # parquet column is a string type, so the bytes are valid utf-8)
            texts = batch.column("text").cast("binary").to_pylist()
            skips = (batch.column(skip_col).to_pylist()
                     if skip_col is not None else None)
            _parse_batch(texts, out, skips)
            cols = [
                pa.array(out[n], type=generated[n]) if n in generated else batch.column(n)
                for n in out_names
            ]
            yield pa.RecordBatch.from_arrays(cols, out_names)

    return df.mapInArrow(run, schema)


def ns_db(ns: Column) -> Column:
    """Database name: non-greedy first-dot split, Namespace.java:15-23."""
    return F.nullif(F.regexp_extract(ns, r"^(.*?)\.(.*)$", 1), F.lit(""))


def ns_coll(ns: Column) -> Column:
    """Collection name: everything after the first dot."""
    return F.nullif(F.regexp_extract(ns, r"^(.*?)\.(.*)$", 2), F.lit(""))


def conn_id(ctx: Column) -> Column:
    """E16 — `"connNNN"` → long (TwoPassDriverStatsAccumulator.java:331-340)."""
    return F.nullif(F.regexp_extract(ctx, r"^conn(\d+)$", 1), F.lit("")).cast("long")
