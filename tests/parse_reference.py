"""Per-row reference parser for the log-line grammar, and the corpus the
generated tokenizer is checked and timed on.

`_parse_row` parses one line with plain dict lookups and the `_S/_L/_B`
sanitizers. Its command-key tuples are literals and its kind → sanitizer
map is its own, written independently of `parse._CMD_NAME_KEYS` and the
generator, so a drift in either shows up as a field mismatch in
tests/test_parse_codegen.py. scripts/parse_microbench.py times both parsers
on the same corpus.
"""
from __future__ import annotations

from mongo_log_parser_spark.functions.parse import (
    _ADMIN_SET,
    _ALL_FIELD_NAMES,
    _ATTR_SCALARS,
    _dumps,
    _fmt_tags,
    _loads,
    _node_type,
)

# Adversarial rows: every branch's type guards poked with wrong-typed values.
ADVERSARIAL = [
    b"",
    b"not json",
    b"[1,2,3]",
    b'"str"',
    b"{bad",
    b"null",
    b"123",
    b'{"t":null}',
    b'{"t":{"$date":5},"c":1,"ctx":true,"msg":{},"attr":[]}',
    b'{"t":{"$date":"2024-01-01T00:00:00.000+00:00"},"c":"CMD","ctx":"conn1",'
    b'"msg":"Slow query","attr":{"type":"command","ns":"db.c","durationMillis":5}}',
    # command with non-string collection values, $readPreference tag variants
    b'{"attr":{"command":{"find":7,"$readPreference":{"mode":5,'
    b'"tags":[{"a":"b"},{"nodeType":"analytics"}]}},'
    b'"storage":{"data":{"bytesRead":"x"}}}}',
    # error/storage/doc/compressors/orig/parameters all wrong-typed or partial
    b'{"attr":{"error":{"code":"x","codeName":1},'
    b'"storage":{"bytesRead":1,"data":{"bytesWritten":2}},'
    b'"doc":{"driver":{"name":5},"os":"x","platform":"p"},'
    b'"negotiatedCompressors":["z",1,"a"],'
    b'"originatingCommand":{"filter":{"b":1},"pipeline":[{"$changeStream":{}}],'
    b'"$readPreference":"secondary"},"parameters":{"txnRetryCounter":true}}}',
    # pipeline $match scanning, db-level aggregate, orig rp fallback with tags
    b'{"attr":{"command":{"aggregate":"1","pipeline":[1,{"$match":5},'
    b'{"$match":{"a":1}}],"q":{"x":[1]},"$readPreference":{"tags":'
    b'{"nodeType":"voting"}}},"originatingCommand":{"pipeline":"x",'
    b'"$readPreference":{"mode":"nearest","tags":[]}}}}',
    # admin op dispatch + _shardsv prefix
    b'{"attr":{"command":{"_shardsvrDropCollection":"c","drop":"d"}}}',
    b'{"attr":{"command":{"drop":"d","find":"f"}}}',
    # bool-vs-int guards: every long field fed a bool, every bool an int
    b'{"attr":{"durationMillis":true,"replanned":1,"ok":false,'
    b'"connectionId":true,"fromMultiPlanner":0}}',
    None,  # null text cell
]


def _S(v):
    return v if isinstance(v, str) else None


def _L(v):
    return v if isinstance(v, int) and not isinstance(v, bool) else None


def _B(v):
    return v if isinstance(v, bool) else None


_ATTR_COMPILED = [(n, {"s": _S, "l": _L, "b": _B}[k], key) for n, k, key in _ATTR_SCALARS]


def _parse_row(line: str, app: dict) -> None:  # noqa: C901 — one grammar, one parser
    """`app` maps column name → that column's list.append, prebound once per
    Arrow batch (parse_lines) — saves two lookups per field per row on the
    hottest loop in the engine."""
    try:
        jo = _loads(line)
        if not isinstance(jo, dict):
            jo = None
    except Exception:
        jo = None  # parse errors are skipped, LogParserTask.java:127-137
    if jo is None:
        for name in _ALL_FIELD_NAMES:
            app[name](None)
        return

    t = jo.get("t")
    app["ts_str"](_S(t.get("$date")) if isinstance(t, dict) else None)
    app["comp"](_S(jo.get("c")))
    app["ctx"](_S(jo.get("ctx")))
    app["msg"](_S(jo.get("msg")))

    attr = jo.get("attr")
    has_attr = isinstance(attr, dict)
    a = attr if has_attr else {}
    a_get = a.get
    for name, fn, key in _ATTR_COMPILED:
        app[name](fn(a_get(key)))
    app["has_attr"](has_attr)

    err = a.get("error")
    if isinstance(err, dict):
        app["has_error_obj"](True)
        app["err_code_name"](_S(err.get("codeName")))
        app["err_code"](_L(err.get("code")))
        app["err_errmsg"](_S(err.get("errmsg")))
    else:
        app["has_error_obj"](False)
        app["err_code_name"](None)
        app["err_code"](None)
        app["err_errmsg"](None)

    # storage.bytesRead else storage.data.bytesRead (LogParserTask.java:1015-1038)
    st = a.get("storage")
    br = bw = None
    if isinstance(st, dict):
        br, bw = _L(st.get("bytesRead")), _L(st.get("bytesWritten"))
        d = st.get("data")
        if isinstance(d, dict):
            br = br if br is not None else _L(d.get("bytesRead"))
            bw = bw if bw is not None else _L(d.get("bytesWritten"))
    app["a_bytes_read"](br)
    app["a_bytes_written"](bw)

    params = a.get("parameters")
    app["a_txn_retry_counter"](_L(params.get("txnRetryCounter")) if isinstance(params, dict) else None)

    doc = a.get("doc")
    drv = doc.get("driver") if isinstance(doc, dict) else None
    osd = doc.get("os") if isinstance(doc, dict) else None
    app["drv_name"](_S(drv.get("name")) if isinstance(drv, dict) else None)
    app["drv_version"](_S(drv.get("version")) if isinstance(drv, dict) else None)
    app["os_type"](_S(osd.get("type")) if isinstance(osd, dict) else None)
    app["os_name"](_S(osd.get("name")) if isinstance(osd, dict) else None)
    app["platform"](_S(doc.get("platform")) if isinstance(doc, dict) else None)
    comps = a.get("negotiatedCompressors")
    app["compressors"](
        ",".join(sorted(c for c in comps if isinstance(c, str))) if isinstance(comps, list) else None
    )

    cmd = a.get("command")
    if isinstance(cmd, dict):
        app["cmd_keys"](list(cmd.keys()))  # document order — dispatch source
        first_other = None
        for k in cmd.keys():  # processOtherOperations, LogParserTask.java:921-948
            if k.startswith("_shardsv") or k in _ADMIN_SET:
                first_other = k
                break
        app["cmd_first_other"](first_other)
        for key in ("find", "aggregate", "findAndModify", "update", "insert",
                    "delete", "collection", "count", "distinct"):
            # collection-name override requires a String value (instanceof
            # String guard, LogParserTask.java:806-914)
            app[f"cmd_{key}"](_S(cmd.get(key)))
        f = cmd.get("filter")
        app["cmd_filter_raw"](_dumps(f) if isinstance(f, dict) else None)
        q = cmd.get("q")
        app["cmd_q_raw"](_dumps(q) if isinstance(q, dict) else None)
        match = None
        pipe = cmd.get("pipeline")
        if isinstance(pipe, list):
            for stage in pipe:  # first $match with an object value (E13)
                if isinstance(stage, dict):
                    m = stage.get("$match")
                    if isinstance(m, dict):
                        match = _dumps(m)
                        break
        app["match_raw"](match)
    else:
        app["cmd_keys"](None)
        app["cmd_first_other"](None)
        for key in ("find", "aggregate", "findAndModify", "update", "insert",
                    "delete", "collection", "count", "distinct"):
            app[f"cmd_{key}"](None)
        app["cmd_filter_raw"](None)
        app["cmd_q_raw"](None)
        app["match_raw"](None)

    orig = a.get("originatingCommand")
    orig = orig if isinstance(orig, dict) else None
    of = orig.get("filter") if orig else None
    app["orig_filter_raw"](_dumps(of) if isinstance(of, dict) else None)
    ocs = False
    if orig and isinstance(orig.get("pipeline"), list):
        ocs = any(isinstance(s, dict) and "$changeStream" in s for s in orig["pipeline"])
    app["orig_has_changestream"](ocs)

    # read preference: command value, originatingCommand fallback when no mode
    # was resolved (LogParserTask.java:446-558)
    mode = None
    tags_fmt = None
    rp = cmd.get("$readPreference") if isinstance(cmd, dict) else None
    if isinstance(rp, str):
        mode = rp
    elif isinstance(rp, dict):
        mode = _S(rp.get("mode"))
        if "tags" in rp:
            tags_fmt = _fmt_tags(rp.get("tags"))
    orp = orig.get("$readPreference") if orig else None
    if mode is None:
        if isinstance(orp, str):
            mode = orp
        elif isinstance(orp, dict):
            mode = _S(orp.get("mode"))
    if tags_fmt is None and isinstance(orp, dict) and "tags" in orp:
        tags_fmt = _fmt_tags(orp.get("tags"))
    app["rp_mode"](mode)
    app["rp_tags"](tags_fmt)
    tags_src = rp.get("tags") if isinstance(rp, dict) and "tags" in rp else (
        orp.get("tags") if isinstance(orp, dict) and "tags" in orp else None
    )
    app["rp_node_type"](_node_type(tags_src) if tags_src is not None else None)


def run_reference(texts, skips=None):
    out = {n: [] for n in _ALL_FIELD_NAMES}
    app = {n: out[n].append for n in _ALL_FIELD_NAMES}
    appends = list(app.values())
    rows = texts if skips is None else zip(texts, skips)
    for item in rows:
        if skips is None:
            line, sk = item, False
        else:
            line, sk = item
        if sk:
            for ap in appends:
                ap(None)
        else:
            _parse_row(line if isinstance(line, bytes) else b"", app)
    return out


def grammar_rows(n=2000):
    """Rows from the deterministic generator grammar (the same distribution
    the bench and oracle data use) — exercises the hot paths."""
    import numpy as np

    from mongo_log_parser_spark.sources import datagen

    rng = np.random.default_rng(np.random.PCG64(7))
    _urls, _ts, _htmls, texts, _langs, _hosts = datagen._build_rows(n, rng)
    return [t.encode("utf-8") for t in texts]
