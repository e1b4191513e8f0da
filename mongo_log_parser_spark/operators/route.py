"""Predicate fan-out router (F5-F11, SURVEY.md §3.1 Spark restatement).

Splits the pages stream into the reference's routed sub-streams:

  oversized   >1 MiB lines dropped whole by the bounded-line reader (S3)
  ignored     pre-parse ignore filter hits, with 12-way category (F7/K6)
  ttl_pre     TTL pre-pass rows — run BEFORE the ignore decision
              (LogParser.java:641-649), so TTLMonitor lines feed the TTL
              accumulator and are *also* counted as ignored
  kept        parsed lines entering the main pipeline (flat schema, parse.py)
  errors      error-code side channel (up to 3 records per line)
  transactions, client_metadata, auth, conn_lifecycle
  ops         dispatched main-operation rows (extract.extract_ops)

There is one router, routed_parse(): it routes and parses every bounded line
in one scan, evaluating each routing predicate once, and every caller reads
its flags. Its callers:
- pipeline.build writes it as the routed parquet stage and derives the
  streams above from the read-back (derive_streams), together with its ops
  and conn_side stages;
- split_streams() derives them from the lazy routed frame (the oracle gate,
  streaming, and the lazy sink plan pipeline.plan_sinks(split_streams(p)));
- manifest.run_resumable writes kept_rows() of it per day, and takes its
  ignored/kept counters from the is_ignored flag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import prefilter
from ..functions.extract import extract_ops
from ..functions.parse import conn_id, ns_coll, ns_db, parse_lines

ROUTE_FLAG_COLS = ("is_ignored", "is_ttl", "category")


def split_streams(pages: DataFrame,
                  ignore_patterns: list[str] | None = None) -> dict[str, DataFrame]:
    """Every routed stream as a lazy view over one scan of `pages`."""
    return {
        "oversized": pages.filter(prefilter.is_oversized(F.col("text"))),
        **derive_streams(routed_parse(pages, ignore_patterns=ignore_patterns)),
    }


def derive_streams(routed: DataFrame, ops: DataFrame | None = None,
                   conn_side: DataFrame | None = None) -> dict[str, DataFrame]:
    """kept / ignored / ttl_pre, the side channels and ops of a routed frame
    (routed_parse output, lazy or read back from a stage).

    `ops` and `conn_side` are the staged extract_ops(kept_rows(routed)) and
    conn_side_subset(kept_rows(routed)), as pipeline.build writes them; each
    one not given is derived lazily from kept. client_metadata, auth and
    conn_lifecycle read conn_side, which holds every row and column they use."""
    kept = kept_rows(routed)
    conn_side = kept if conn_side is None else conn_side
    return {
        "ignored": routed.filter(F.col("is_ignored")).select(
            *_present(routed, "url", "warc_ts", "lang", "text", "shard", "node"),
            # ignored_category() always resolves (its CASE has an otherwise),
            # so this coalesce never fires — it only pins the non-null type,
            # which the flag's CASE WHEN and the parquet round-trip erase.
            F.coalesce(F.col("category"), F.lit("OTHER")).alias("category"),
        ),
        "kept": kept,
        "ttl_pre": ttl_pre_records(routed.filter(F.col("is_ttl"))),
        "errors": error_records(kept),
        "transactions": transaction_records(kept),
        "client_metadata": client_metadata_records(conn_side),
        "auth": auth_records(conn_side),
        "conn_lifecycle": conn_lifecycle_records(conn_side),
        "ops": extract_ops(kept) if ops is None else ops,
    }


def _present(df: DataFrame, *cols: str) -> list[str]:
    """The given columns that `df` has. Page columns pass through the parse
    only when the pages frame has them (parse._PASSTHROUGH), so a stream
    keeps each one only if present."""
    return [c for c in cols if c in df.columns]


def kept_rows(routed: DataFrame) -> DataFrame:
    """The parsed lines of a routed frame that enter the main pipeline."""
    return routed.filter(~F.col("is_ignored")).drop(*ROUTE_FLAG_COLS)


def ttl_pre_records(ttl_parsed: DataFrame) -> DataFrame:
    """TTL pre-pass (processTtlOperation, LogParser.java:938-970) over
    already-parsed TTL lines: require attr.namespace, namespace filter, take
    numDeleted/durationMillis."""
    return (
        ttl_parsed.filter(F.col("a_namespace").isNotNull())
        .select(
            *_present(ttl_parsed, "url", "warc_ts", "lang", "ts_str", "text", "shard", "node"),
            F.col("a_namespace").alias("ns"),
            F.col("a_num_deleted").alias("num_deleted"),
            F.col("a_duration_ms").alias("duration_ms"),
        )
        .withColumn("db", ns_db(F.col("ns")))
        .withColumn("coll", ns_coll(F.col("ns")))
        .filter(F.col("db").isNull() | (F.col("db") != "config"))
    )


def routed_parse(pages: DataFrame,
                 ignore_patterns: list[str] | None = None) -> DataFrame:
    """ONE-scan routed parse (guide §2.4: remove shuffles/passes outright).

    Computes the routing predicates ONCE per bounded line (JVM, whole-stage
    codegen), then runs the Arrow parse over every bounded line with parse
    skipped for ignored-non-TTL rows (they emit null parse fields, exactly
    the unparseable-line path). Output = parsed schema + ROUTE_FLAG_COLS;
    derive_streams() takes kept / ignored / ttl_pre from it by flag, so no
    consumer re-reads the raw text column:
    - kept:   rows !is_ignored
    - ignored: rows is_ignored, first-match category
    - ttl:    rows is_ttl are always parsed (TTL lines are also counted as
              ignored — LogParser.java:641-649 — so the skip predicate is
              `ignore AND NOT ttl`)
    """
    text = F.col("text")
    ignore = prefilter.should_ignore(text, ignore_patterns)
    is_ttl = prefilter.is_ttl_line(text)
    flagged = (
        pages.filter(~prefilter.is_oversized(text))
        .drop("html")
        .withColumn("is_ignored", ignore)
        .withColumn("is_ttl", is_ttl)
        .withColumn("category", F.when(ignore, prefilter.ignored_category(text)))
        .withColumn("skip_parse", ignore & ~is_ttl)
    )
    return parse_lines(flagged, extra_cols=ROUTE_FLAG_COLS, skip_col="skip_parse")


def ignored_sample(ignored: DataFrame, rate: int = 100) -> DataFrame:
    """F8 — ignored-line sample sink (LogParser.java:980-982).

    The reference writes every 100th ignored line by a global arrival counter
    (thread-racy and order-dependent). The distributed restatement samples on
    a content hash: deterministic, reproducible at any cluster size, the same
    1-in-`rate` expected rate, and shuffle-free (a narrow filter — no global
    counter to serialize on)."""
    bucket = F.conv(F.substring(F.md5(F.col("url")), 1, 8), 16, 10).cast("long") % rate
    return ignored.filter(bucket == 0).select("url", "text", "category")


def error_records(kept: DataFrame) -> DataFrame:
    """A7 source — processErrorCode (LogParserTask.java:1040-1117).

    One input line can emit up to three error records (explicit error object,
    ok:0 top-level, client-disconnect message) → explode an array of candidates.
    """
    err_obj = F.when(
        F.col("has_error_obj") & F.col("err_code_name").isNotNull(),
        F.struct(
            F.col("err_code_name").alias("code_name"),
            F.col("err_code").alias("error_code"),
            F.col("err_errmsg").alias("sample_message"),
        ),
    )
    ok0_name = F.coalesce(
        F.col("a_err_name_top"),
        F.when(F.col("a_err_code_top").isNotNull(), F.concat(F.lit("Error"), F.col("a_err_code_top"))),
    )
    ok0 = F.when(
        (F.col("a_ok") == 0) & ok0_name.isNotNull(),
        F.struct(
            ok0_name.alias("code_name"),
            F.col("a_err_code_top").alias("error_code"),
            F.col("a_err_msg_top").alias("sample_message"),
        ),
    )
    disc_msg = F.concat(
        F.lit("Interrupted operation as its client disconnected"),
        F.coalesce(F.concat(F.lit(" (opId: "), F.col("a_opid").cast("string"), F.lit(")")), F.lit("")),
    )
    disconnect = F.when(
        F.col("msg") == "Interrupted operation as its client disconnected",
        F.struct(
            F.lit("InterruptedByClientDisconnect").alias("code_name"),
            F.lit(None).cast("long").alias("error_code"),
            disc_msg.alias("sample_message"),
        ),
    )
    recs = F.array_compact(F.array(err_obj, ok0, disconnect))
    shard_cols = [c for c in ("shard", "node") if c in kept.columns]
    return (
        kept.filter(F.col("has_attr"))
        .select("url", "ts_str", *shard_cols, F.explode(recs).alias("e"))
        .select("url", "ts_str", *shard_cols,
                "e.code_name", "e.error_code", "e.sample_message")
    )


def transaction_records(kept: DataFrame) -> DataFrame:
    """A8 source — processTransaction (LogParserTask.java:1119-1180).

    µs→ms conversion is Math.round(x/1000.0) per-row BEFORE aggregation
    (TransactionEntry.java:56-87) — reproduced as floor(x/1000 + 0.5)."""
    ms = lambda c: F.when(c.isNotNull(), F.floor(c / 1000.0 + 0.5)).cast("long")  # noqa: E731
    shard_cols = [c for c in ("shard", "node") if c in kept.columns]
    rows = kept.filter(
        (F.col("comp") == "TXN") & (F.col("msg") == "transaction") & F.col("has_attr")
    ).select(
        "url", "ts_str", *shard_cols,
        F.col("a_txn_retry_counter").alias("txn_retry_counter"),
        F.col("a_termination_cause").alias("termination_cause"),
        F.col("a_commit_type").alias("commit_type"),
        F.col("a_duration_ms").alias("duration_ms"),
        ms(F.col("a_commit_micros")).alias("commit_ms"),
        ms(F.col("a_active_micros")).alias("active_ms"),
        ms(F.col("a_inactive_micros")).alias("inactive_ms"),
    )
    # "at least one meaningful field" gate (LogParserTask.java:1163-1166)
    return rows.filter(
        F.col("txn_retry_counter").isNotNull()
        | F.col("termination_cause").isNotNull()
        | F.col("commit_type").isNotNull()
        | F.col("duration_ms").isNotNull()
    )


# every kept column client_metadata_records, auth_records and
# conn_lifecycle_records read
CONN_SIDE_COLS = (
    "url", "ts_str", "ctx", "comp", "msg", "has_attr", "a_remote",
    "drv_name", "drv_version", "os_type", "os_name", "platform",
    "compressors", "a_user", "a_db", "a_mechanism", "a_connection_id", "text",
)


def conn_side_subset(kept: DataFrame) -> DataFrame:
    """The few % of kept rows and the CONN_SIDE_COLS that the three
    connection-side records below read. Each record filter implies this
    predicate, so deriving them from the subset equals deriving them from
    kept. pipeline.build stages it once: read straight from the routed stage,
    meta and auth would each decompress the wide `text` column and the
    lifecycle union would scan it twice."""
    is_meta = (F.col("comp") == "NETWORK") & (F.col("msg") == "client metadata")
    is_auth = (F.col("comp") == "ACCESS") & (F.col("msg") == "Successfully authenticated")
    is_lifecycle = F.col("msg").isin("Connection accepted", "Connection ended")
    return kept.filter(is_meta | is_auth | is_lifecycle).select(*CONN_SIDE_COLS)


def client_metadata_records(kept: DataFrame) -> DataFrame:
    """A11 probe side — processClientMetadata (LogParserTask.java:1225-1320)."""
    rows = kept.filter(
        (F.col("comp") == "NETWORK") & (F.col("msg") == "client metadata") & F.col("has_attr")
    ).select(
        "url", "ts_str", "ctx",
        conn_id(F.col("ctx")).alias("conn_id"),
        F.col("a_remote").alias("remote"),
        F.col("drv_name").alias("driver"),
        F.col("drv_version").alias("version"),
        "os_type", "os_name", "platform",
        F.coalesce(F.col("compressors"), F.lit("")).alias("compressors"),
        "text",
    )
    # only meaningful driver info accumulates (LogParserTask.java:1297-1303)
    return rows.filter(F.col("driver").isNotNull() | F.col("version").isNotNull())


def auth_records(kept: DataFrame) -> DataFrame:
    """J1 build side — processAccessMessage (LogParserTask.java:1182-1223)."""
    return (
        kept.filter(
            (F.col("comp") == "ACCESS") & (F.col("msg") == "Successfully authenticated") & F.col("has_attr")
        )
        .select(
            "url", "ts_str", "ctx",
            conn_id(F.col("ctx")).alias("conn_id"),
            F.col("a_user").alias("username"),
            F.col("a_db").alias("auth_db"),
            F.col("a_mechanism").alias("mechanism"),
            "text",
        )
        .filter(F.col("ctx").isNotNull() & F.col("username").isNotNull())
    )


def conn_lifecycle_records(kept: DataFrame) -> DataFrame:
    """J2 source — processConnectionLifecycle (LogParserTask.java:1322-1376).

    Emits (conn_id, kind ∈ {start,end}, epoch_ms). The reference requires a
    parseable $date (timestamp > 0). The to_timestamp parse happens only on
    this already-filtered ~4% subset (it costs ~25µs/row — see parse.py)."""
    ts = F.to_timestamp(F.col("ts_str"))
    epoch_ms = (F.unix_timestamp(ts) * 1000 + F.date_format(ts, "SSS").cast("long"))
    start = kept.filter(
        (F.col("msg") == "Connection accepted") & F.col("a_connection_id").isNotNull()
    ).filter(ts.isNotNull()).select(
        "url", F.col("a_connection_id").alias("conn_id"), F.lit("start").alias("kind"),
        epoch_ms.alias("epoch_ms"),
    )
    end = kept.filter(
        (F.col("msg") == "Connection ended")
        & F.col("ctx").startswith("conn")
        & conn_id(F.col("ctx")).isNotNull()
    ).filter(ts.isNotNull()).select(
        "url", conn_id(F.col("ctx")).alias("conn_id"), F.lit("end").alias("kind"),
        epoch_ms.alias("epoch_ms"),
    )
    return start.unionByName(end)
