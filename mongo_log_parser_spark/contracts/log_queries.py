"""Driver-contract Spark queries for the log pipeline (pages table).

Each query takes (spark, sf_dir) and returns a DataFrame whose column
names/values match the corresponding DuckDB oracle in log_oracle.py.

Every report-sink query (the 13 sinks, the two shard_* copies and the
plan-cache multi-plan rollup over the plan_cache sink) is a `_sink_query`:
it takes its sink from pipeline.plan_sinks, the planner run_job uses, over
the lazy stream view route.split_streams. So the gate checks production's
builder→stream pairing and --shards wiring, not a copy of them. The other
queries check stream-level and standalone operators directly.

sf_dir (e.g. /root/testdata/sf0.01) selects the scale factor; the pages
table itself is the deterministic synthetic table from sources/datagen.py
(BASELINE.json input_hint), generated on first use and cached on disk so the
oracle reads the identical parquet bytes.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import aggregates as agg
from ..operators import joins, route
from ..plans import pipeline
from ..sources import datagen


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.01


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(datagen.ensure_pages(sf_from_dir(sf_dir)))


def _streams(spark: SparkSession, sf_dir: str):
    return route.split_streams(_pages(spark, sf_dir))


def _round_p95(df: DataFrame) -> DataFrame:
    for c in df.columns:
        if c.startswith("p95"):
            df = df.withColumn(c, F.round(F.col(c), 4))
    return df


def _sink_query(sink: str, shards: bool = False, then=lambda df: df):
    """The contract query for `sink` as pipeline.plan_sinks plans it over
    the lazy stream view, then `then`. `shards` gives the synthetic pages
    (which have no filename shard) the oracle's 16-way shard identity, the
    first md5(url) hex nibble, so `sink` can be a shard_* copy."""
    def query(spark: SparkSession, sf_dir: str) -> DataFrame:
        pages = _pages(spark, sf_dir)
        if shards:
            pages = pages.withColumn("shard", F.substring(F.md5(F.col("url")), 1, 1))
        sinks = pipeline.plan_sinks(route.split_streams(pages), shards=shards)
        return _round_p95(then(sinks[sink]))
    return query


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _streams(spark, sf_dir)
    counts = [
        s["oversized"].select(F.lit("oversized").alias("stream")),
        s["ignored"].select(F.lit("ignored").alias("stream")),
        s["kept"].select(F.lit("kept").alias("stream")),
    ]
    u = counts[0].unionByName(counts[1]).unionByName(counts[2])
    return u.groupBy("stream").agg(F.count(F.lit(1)).alias("count"))


def q_parsed_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level parse parity: the SlowQuery analog per url."""
    ops = _streams(spark, sf_dir)["ops"]
    return ops.select(
        "url", "db", "coll", "op", "op_stat", "branch",
        F.col("ns_pass").alias("ns_pass"),
        "duration_ms", "keys_examined", "docs_examined", "nreturned", "reslen",
        "bytes_read", "bytes_written", "write_conflicts", "n_shards",
        "query_hash", "plan_cache_key", "plan_summary", "planning_us",
        "replanned", "replan_reason", "from_multi_planner",
        "app_name", "read_pref", "read_pref_tags", "node_type",
        "raw_filter", "is_error", "is_change_stream",
    )


def q_conn_lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.conn_lifetimes(_streams(spark, sf_dir)["conn_lifecycle"]).select(
        "conn_id", "start_ms", "end_ms", "lifetime_ms"
    )


def q_ts_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.timestamp_range(_streams(spark, sf_dir)["kept"])


def q_salted_op_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11 — salted two-phase aggregate; oracle is the PLAIN group-by, proving
    the salted plan is semantics-preserving."""
    from ..operators.salting import salted_op_rollup

    return salted_op_rollup(_streams(spark, sf_dir)["ops"])


def q_redacted_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 per-url byte-identical redact∘trim transform. Driver-oracle checked
    by HASH against a committed pinned parquet (contracts/pins.py — DuckDB
    recomputes the line selection, the expected transform output is the pin);
    byte-level goldens live in tests/test_redaction.py."""
    from ..functions.redact import make_udfs

    kept = _streams(spark, sf_dir)["kept"]
    udfs = make_udfs()
    return kept.select("url", udfs["process"](F.col("text")).alias("processed"))


def q_enrich_site_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast lookup enrich: pages per (site_class, locale)."""
    spark_pages = _pages(spark, sf_dir)
    ll = pipeline.read_lookup(spark, "lang_locale")
    hc = pipeline.read_lookup(spark, "host_class")
    enriched = joins.enrich_pages(spark_pages, ll, hc)
    return enriched.groupBy(
        F.coalesce("site_class", F.lit("UNKNOWN")).alias("site_class"),
        F.coalesce("locale", F.lit("UNKNOWN")).alias("locale"),
    ).agg(F.count(F.lit(1)).alias("count"))


def q_stream_windowed_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graft §2.7 streaming — the watermarked 1-day tumbling-window op rollup
    (streaming/stream_job.py windowed_op_counts) drained with
    Trigger.AvailableNow into a memory sink. Complete-mode aggregation is
    micro-batch-boundary-invariant, so the DuckDB oracle is the equivalent
    batch GROUP BY over date_trunc('day', warc_ts). Timestamps are projected
    to day strings / sums coalesced so both engines compare on plain values."""
    import tempfile
    import uuid

    from ..streaming import stream_job

    path = datagen.ensure_pages(sf_from_dir(sf_dir))
    name = f"stream_win_{uuid.uuid4().hex[:8]}"
    windowed = stream_job.windowed_op_counts(
        stream_job.streaming_ops(stream_job.pages_stream(spark, path)))
    stream_job.run_available_now(
        windowed, name, tempfile.mkdtemp(prefix="ckpt_win_"))
    return spark.table(name).select(
        F.date_format("window_start", "yyyy-MM-dd").alias("window_day"),
        "op",
        F.col("count").cast("long").alias("count"),
        F.coalesce(F.col("total_ms"), F.lit(0)).cast("long").alias("total_ms"),
    )


def q_stream_conn_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graft §2.7 streaming — applyInPandasWithState connection sessionization
    (J2's streaming form) drained in ONE micro-batch (maxFilesPerTrigger >=
    file count) so every emitted session carries the min(start)/max(end)
    semantics of the batch oracle. Synthetic conn ids recur (pool draw), so
    per-batch close order is the only micro-batch-dependent part; the
    incremental multi-batch behavior is covered by
    tests/test_manifest_streaming.py instead."""
    import tempfile
    import uuid

    from ..streaming import stream_job

    path = datagen.ensure_pages(sf_from_dir(sf_dir))
    # run_available_now picks append mode by the *sessions suffix
    name = f"stream_{uuid.uuid4().hex[:8]}_sessions"
    sessions = stream_job.streaming_conn_sessions(
        stream_job.pages_stream(spark, path, max_files=1_000_000))
    stream_job.run_available_now(
        sessions, name, tempfile.mkdtemp(prefix="ckpt_sess_"))
    return spark.table(name).select(
        "conn_id",
        F.unix_millis("start_ts").alias("start_ms"),
        F.unix_millis("end_ts").alias("end_ms"),
        "lifetime_ms",
        "status",
    )


LOG_QUERIES = {
    "log_route_counts": q_route_counts,
    "log_ignored_categories": _sink_query("ignored"),
    "log_ignored_sample": _sink_query("ignored_sample"),
    "log_parsed_ops": q_parsed_ops,
    "log_main_ops": _sink_query("main_ops"),
    "log_shard_main_ops": _sink_query("shard_main_ops", shards=True),
    "log_ttl_ops": _sink_query("ttl_ops"),
    "log_op_stats": _sink_query("op_stats"),
    "log_query_hash": _sink_query("query_hash"),
    "log_shard_query_hash": _sink_query("shard_query_hash", shards=True),
    "log_plan_cache": _sink_query("plan_cache"),
    "log_plan_multi": _sink_query("plan_cache", then=agg.plan_cache_multi),
    "log_index_stats": _sink_query("index_stats"),
    "log_error_codes": _sink_query("error_codes"),
    "log_transactions": _sink_query("transactions"),
    "log_slow_planning": _sink_query("slow_planning"),
    "log_app_conn_stats": _sink_query("app_conn_stats"),
    "log_conn_lifetimes": q_conn_lifetimes,
    "log_driver_stats": _sink_query(
        "driver_stats", then=lambda df: df.drop("sample_metadata_line", "sample_auth_line")),
    "log_ts_range": q_ts_range,
    "log_enrich_site_class": q_enrich_site_class,
    "log_salted_op_rollup": q_salted_op_rollup,
    "log_redacted_lines": q_redacted_lines,
    "stream_windowed_ops": q_stream_windowed_ops,
    "stream_conn_sessions": q_stream_conn_sessions,
}
