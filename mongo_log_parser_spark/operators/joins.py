"""J1-J3 + lookup enrichment — broadcast equi-joins.

The reference's only join topology is small-side-lookup equi-join implemented
as a manual two-phase hash join over three file passes
(TwoPassDriverStatsAccumulator.java:55-250, LogParser.java:567-594). In Spark
this collapses to ONE scan and broadcast hash joins — the auth map and the
lookup tables are tiny relative to the page stream, so no shuffle of the big
side ever happens (verify with .explain(): BroadcastHashJoin, no SortMergeJoin).

Deterministic replacements for reference nondeterminism (SURVEY.md §4 O10):
- lifetime sampling: pmod(conn_id, 10) == 0 instead of Math.random() < 0.1
- username per connection: first-by-arrival instead of racy overwrite
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

EXCLUDED_DRIVER_PREFIX = "NetworkInterface"
EXCLUDED_DRIVER_EXACT = "MongoDB Internal Client"


def driver_allowed(col: F.Column) -> F.Column:
    """F11 — driver exclusion (TwoPassDriverStatsAccumulator.java:150-159)."""
    return col.isNull() | ~(col.startswith(EXCLUDED_DRIVER_PREFIX) | (col == EXCLUDED_DRIVER_EXACT))


def auth_by_conn(auth: DataFrame) -> DataFrame:
    """J1 build side: conn_id → username (+sample auth line), deterministic first."""
    return auth.filter(F.col("conn_id").isNotNull()).groupBy("conn_id").agg(
        F.expr("min_by(username, concat(ts_str, url))").alias("username"),
        F.expr("min_by(text, concat(ts_str, url))").alias("sample_auth_line"),
    )


def conn_lifetimes(conn_lifecycle: DataFrame, sample_mod: int = 10) -> DataFrame:
    """J2 — lifetime per connection: max(end) − min(start), positive only,
    deterministic 1-in-`sample_mod` sample (reference: 10%)."""
    lt = (
        conn_lifecycle.groupBy("conn_id")
        .agg(
            F.min(F.when(F.col("kind") == "start", F.col("epoch_ms"))).alias("start_ms"),
            F.max(F.when(F.col("kind") == "end", F.col("epoch_ms"))).alias("end_ms"),
        )
        .withColumn("lifetime_ms", F.col("end_ms") - F.col("start_ms"))
        .filter(F.col("lifetime_ms") > 0)
    )
    return lt.filter(F.pmod(F.col("conn_id"), F.lit(sample_mod)) == 0)


def driver_stats(meta: DataFrame, auth: DataFrame, conn_lifecycle: DataFrame) -> DataFrame:
    """A11 — driver/version/os/platform/compressors/username rollup.

    One grouping over the metadata rows replaces the reference's three file
    passes (TwoPassDriverStatsAccumulator.java:55-250, SURVEY.md §3.2). The
    auth map and the sampled per-connection lifetimes are broadcast-joined
    onto the metadata rows, and a connection's lifetime counts only on its
    first metadata line (first by concat(ts_str, url); a line without ts_str
    is never first), whose keys the connection belongs to. So one groupBy(keys) computes the counts, the
    sample lines and the lifetime stats; `enriched` is used once, and no
    checkpoint is needed to keep the meta ⋈ auth subtree from running twice.
    sampled_lifetimes is null, not 0, for a key without one."""
    keys = ["driver", "version", "os_type", "platform", "compressors", "username"]
    arrival = F.concat(F.col("ts_str"), F.col("url"))
    first_line = (
        F.col("conn_id").isNotNull() & arrival.isNotNull()
        & (F.row_number().over(Window.partitionBy("conn_id").orderBy(arrival.asc_nulls_last())) == 1)
    )
    lifetimes = conn_lifetimes(conn_lifecycle).select("conn_id", "lifetime_ms")
    enriched = (
        meta.filter(driver_allowed(F.col("driver")))
        .join(F.broadcast(auth_by_conn(auth)), "conn_id", "left")
        .join(F.broadcast(lifetimes), "conn_id", "left")
        .withColumn("lifetime_ms", F.when(first_line, F.col("lifetime_ms")))
    )
    out = enriched.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("connection_count"),
        F.countDistinct("remote").alias("unique_hosts"),
        F.expr("min_by(text, concat(ts_str, url))").alias("sample_metadata_line"),
        F.expr("min_by(sample_auth_line, concat(ts_str, url)) FILTER (WHERE sample_auth_line IS NOT NULL)").alias(
            "sample_auth_line"
        ),
        F.floor(F.avg("lifetime_ms")).cast("long").alias("avg_lifetime_ms"),
        F.max("lifetime_ms").alias("max_lifetime_ms"),
        F.nullif(F.count("lifetime_ms"), F.lit(0)).alias("sampled_lifetimes"),
    )
    # A11 completeness (DriverStatsEntry.java:14-120): the entry key already
    # contains username and the (sorted) compressor set, so the per-entry
    # usernames set and per-compressor usage counts are derivable in place —
    # no extra aggregation or shuffle.
    comp_tokens = F.when(F.col("compressors") == "", F.array(F.lit("none"))).otherwise(
        F.split(F.col("compressors"), ",")
    )
    return out.withColumns(
        {
            "usernames": F.coalesce(F.col("username"), F.lit("")),
            "compressor_usage": F.array_join(
                F.transform(
                    comp_tokens,
                    lambda t: F.concat(t, F.lit("="), F.col("connection_count").cast("string")),
                ),
                "|",
            ),
        }
    )


def enrich_pages(pages: DataFrame, lang_locale: DataFrame, host_class: DataFrame) -> DataFrame:
    """Graft lookup enrich: lang → locale, host → site_class (broadcast)."""
    withhost = pages.withColumn("host", F.regexp_extract("url", r"^https?://([^/]+)", 1))
    return withhost.join(F.broadcast(lang_locale), "lang", "left").join(
        F.broadcast(host_class), "host", "left"
    )
