"""A1-A12 — the aggregate stage.

Each reference accumulator (synchronized HashMap mutated row-at-a-time) becomes
one Catalyst hash aggregate with partial+final phases — the distributed
generalization of the reference's per-thread partial counters (SURVEY.md §4 O5).

Fidelity rules reproduced exactly (SURVEY.md §7.3):
- `count` counts rows with non-null duration (addExecution is the only
  count++ site, LogLineAccumulator.java:62-77).
- averages are integer division floor(sum/count) — NOT avg()
  (LogLineAccumulator.java:166-168).
- docsExamined sums only when keysExamined is non-null (addExamined gate,
  Accumulator.java:134-136).
- p95 uses `percentile_approx` (KLL-style sketch, mergeable, bounded memory —
  SURVEY §7.3.3). At accuracy=100k it is EXACT (element at rank ceil(0.95*n))
  for every group below 100k values, which covers oracle-test scale; above
  that it degrades gracefully instead of buffering every value per group the
  way exact `percentile` (ObjectHashAggregate) does — an executor-OOM risk on
  heavy-hitter namespaces at 100 TB. The reference's first-10k-arrivals cap is
  an order-dependent artifact we deliberately do not copy.
- first/last/argmax are made deterministic with min_by/max_by over (ts, url)
  — the reference is thread-race nondeterministic here (SURVEY.md §7.3.4).

Map-valued sub-counts (replan reasons, read-pref modes/tags) are encoded as
sorted `k=v` strings joined by `|` so they are portable to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _fdiv(total: Column, cnt: Column) -> Column:
    """floor(total/cnt) with 0 on empty — Java long division on non-negatives.

    try_divide: groups can have cnt=0 (rows exist but every duration is null —
    seen on the reference's real Atlas logs) and ANSI mode makes plain `/`
    throw DIVIDE_BY_ZERO there."""
    return F.coalesce(F.floor(F.try_divide(total, cnt)), F.lit(0)).cast("long")


def _z(col: Column) -> Column:
    return F.coalesce(col, F.lit(0)).cast("long")


# percentile_approx accuracy: exact (rank ceil(p*n), == DuckDB quantile_disc)
# for groups under this many values; sketch-approximate above. Keeps the
# aggregate a mergeable fixed-size HashAggregate instead of exact percentile's
# buffer-everything ObjectHashAggregate.
P95_ACCURACY = 100_000


def _p95(col: str = "duration_ms") -> Column:
    return F.coalesce(
        F.expr(f"percentile_approx({col}, 0.95, {P95_ACCURACY})").cast("double"),
        F.lit(0.0),
    )


# Composite VARCHAR sort keys — identical lexicographic semantics in Spark and
# DuckDB, replacing the reference's arrival-order nondeterminism. ts_str is the
# fixed-width ISO-8601 $date string, so string order == event order.
ARRIVAL_KEY = "concat(ts_str, url)"
SLOWEST_KEY = "concat(lpad(cast(duration_ms as string), 20, '0'), url)"


def _first_by_arrival(value: str) -> Column:
    return F.expr(f"min_by({value}, {ARRIVAL_KEY}) FILTER (WHERE {value} IS NOT NULL)")


def _last_by_arrival(value: str) -> Column:
    return F.expr(f"max_by({value}, {ARRIVAL_KEY}) FILTER (WHERE {value} IS NOT NULL)")


def _sample_slowest(value: str = "text") -> Column:
    """argmax by (duration, url) — deterministic version of
    LogLineAccumulator.addSampleLogMessage (294-300)."""
    return F.expr(f"max_by({value}, {SLOWEST_KEY}) FILTER (WHERE duration_ms IS NOT NULL)")


def main_ops(ops: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A1 — (db, coll, op, app_name) main-operation rollup
    (Accumulator.java:90-154; LogLineAccumulator.java).

    extra_keys: additional group-key columns prepended to the rollup key —
    the one-shuffle --shards path (per_shard_grouped)."""
    g = ops.filter("ns_pass").groupBy(*extra_keys, "db", "coll", "op", "app_name")
    cnt = F.count("duration_ms")
    agg = g.agg(
        cnt.alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        _z(F.max("duration_ms")).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), cnt).alias("avg_ms"),
        _p95().alias("p95_ms"),
        _z(F.sum("keys_examined")).alias("total_keys"),
        # docs gated on keys non-null (Accumulator.java:134-136)
        _z(F.sum(F.when(F.col("keys_examined").isNotNull(), F.col("docs_examined")))).alias("total_docs"),
        _z(F.sum("nreturned")).alias("total_returned"),
        _z(F.sum("reslen")).alias("total_reslen"),
        _z(F.sum("bytes_read")).alias("total_bytes_read"),
        _z(F.sum("bytes_written")).alias("total_bytes_written"),
        _z(F.max("bytes_read")).alias("max_bytes_read"),
        _z(F.max("bytes_written")).alias("max_bytes_written"),
        _z(F.sum("write_conflicts")).alias("total_write_conflicts"),
        _z(F.sum("n_shards")).alias("total_shards"),
        F.sum(F.col("is_error").cast("long")).alias("error_count"),
        F.max(F.col("is_change_stream")).alias("is_change_stream"),
        _sample_slowest().alias("sample_line"),
    )
    return agg.withColumns(
        {
            "avg_keys": _fdiv(F.col("total_keys"), F.col("count")),
            "avg_docs": _fdiv(F.col("total_docs"), F.col("count")),
            "avg_returned": _fdiv(F.col("total_returned"), F.col("count")),
            "avg_shards": _fdiv(F.col("total_shards"), F.col("count")),
            # scanned:returned ratio, LogLineAccumulator.java:190-195
            "ex_ret_ratio": F.when(
                F.col("total_returned") > 0, F.floor(F.col("total_docs") / F.col("total_returned"))
            ).otherwise(F.lit(0)).cast("long"),
        }
    )


def ttl_ops(ttl_pre: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A2 — TTL pre-pass rollup (LogParser.java:938-970, report math 1082-1133).

    total_deleted reproduces the reference's deliberately lossy
    `avgReturned * count` (LogParser.java:1123)."""
    cnt = F.count("duration_ms")
    agg = ttl_pre.groupBy(*extra_keys, "db", "coll").agg(
        cnt.alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        _z(F.max("duration_ms")).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), cnt).alias("avg_ms"),
        _fdiv(F.sum("num_deleted"), cnt).alias("avg_deleted"),
    )
    return agg.withColumn("total_deleted", F.col("avg_deleted") * F.col("count"))


def op_stats(dispatched: DataFrame) -> DataFrame:
    """A3 — operation-type counters (LogParserTask.incrementOperationStat).

    Counting rules differ per branch in the reference:
    - command-branch stats increment AFTER the namespace filter
      (LogParserTask.java:264-344: filter at 291, stat inside dispatch at 802+)
    - WRITE/INDEX-branch stats increment BEFORE it (731-778, 960-981)
    - every INDEX row that passes the filter ALSO increments "index_operation"
      (LogParserTask.java:198)
    """
    eligible = dispatched.filter(
        (F.col("branch") != "command") | F.col("ns_pass")
    )
    stats = F.array_compact(
        F.array(
            F.col("op_stat"),
            F.when((F.col("branch") == "index") & F.col("ns_pass"), F.lit("index_operation")),
        )
    )
    return (
        eligible.select(F.explode(stats).alias("op_stat"))
        .groupBy("op_stat")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def query_hash(ops: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A4 — (query_hash, ns, op) rollup (QueryHashAccumulator.java:29-47,
    QueryHashAccumulatorEntry.java:84-216). Null hashes dropped."""
    src = ops.filter("ns_pass").filter(F.col("query_hash").isNotNull()).withColumn(
        "ns", F.concat_ws(".", "db", "coll")
    )
    keys = [*extra_keys, "query_hash", "ns", "op"]
    cnt = F.count("duration_ms")
    pcnt = F.count("planning_us")
    base = src.groupBy(*keys).agg(
        cnt.alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        _z(F.max("duration_ms")).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), cnt).alias("avg_ms"),
        _p95().alias("p95_ms"),
        _z(F.sum("keys_examined")).alias("total_keys"),
        _z(F.sum("docs_examined")).alias("total_docs"),
        _z(F.sum("nreturned")).alias("total_returned"),
        _z(F.sum("reslen")).alias("total_reslen"),
        _z(F.sum("bytes_read")).alias("total_bytes_read"),
        _z(F.sum("bytes_written")).alias("total_bytes_written"),
        _z(F.max("bytes_read")).alias("max_bytes_read"),
        _z(F.max("bytes_written")).alias("max_bytes_written"),
        _z(F.sum("n_shards")).alias("total_shards"),
        pcnt.alias("planning_count"),
        _z(F.min("planning_us")).alias("min_planning_us"),
        _z(F.max("planning_us")).alias("max_planning_us"),
        _fdiv(F.sum("planning_us"), pcnt).alias("avg_planning_us"),
        F.sum(F.when(F.col("replanned"), 1).otherwise(0)).alias("replanned_count"),
        F.sum(F.when(F.col("from_multi_planner"), 1).otherwise(0)).alias("multi_planner_count"),
        _last_by_arrival("plan_summary").alias("plan_summary"),
        _first_by_arrival("app_name").alias("app_name"),
        _first_by_arrival("raw_filter").alias("sanitized_query"),
        _sample_slowest().alias("sample_line"),
    )
    # The three kv sub-maps (replan reasons / read-pref modes / read-pref
    # tags) in ONE unified pass: each row emits up to 3 (kind, key) entries,
    # one groupBy(keys, kind, k) counts them, one groupBy(keys) folds each
    # kind back into its sorted kv-string. 2 aggregations + 1 join instead of
    # the previous 4 aggregations + 3 joins (3 fewer shuffles on the widest
    # sink), and per-group state stays bounded (distinct sub-keys, never raw
    # rows — no collect_list over the stream).
    # read-pref mode: null/empty → "default" (QueryHashAccumulatorEntry.java:192-197)
    rp_key = F.when(
        F.col("read_pref").isNotNull() & (F.col("read_pref") != ""), F.col("read_pref")
    ).otherwise("default")
    entries = F.array_compact(
        F.array(
            F.when(
                F.col("replanned") & F.col("replan_reason").isNotNull(),
                F.struct(F.lit("replan").alias("kind"), F.col("replan_reason").alias("k")),
            ),
            F.struct(F.lit("rp").alias("kind"), rp_key.alias("k")),
            F.when(
                F.col("read_pref_tags").isNotNull() & (F.col("read_pref_tags") != ""),
                F.struct(F.lit("tags").alias("kind"), F.col("read_pref_tags").alias("k")),
            ),
        )
    )

    def _kv_of(kind: str) -> Column:
        kv = F.when(F.col("kind") == kind, F.concat(F.col("k"), F.lit("="), F.col("_n")))
        return F.array_join(F.array_sort(F.collect_list(kv)), "|")

    sub = (
        src.select(*keys, F.explode(entries).alias("e"))
        .select(*keys, "e.kind", "e.k")
        .groupBy(*keys, "kind", "k")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy(*keys)
        .agg(
            _kv_of("replan").alias("replan_reasons"),
            _kv_of("rp").alias("read_pref_counts"),
            _kv_of("tags").alias("read_pref_tags_counts"),
        )
    )
    out = base.join(sub, keys, "left").fillna(
        {"replan_reasons": "", "read_pref_counts": "", "read_pref_tags_counts": ""}
    )
    return out


def plan_cache(ops: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A5 — (ns, op, query_hash, plan_summary) plan-cache rollup; requires
    planCacheKey AND planSummary (PlanCacheAccumulator.java:32-51)."""
    src = (
        ops.filter("ns_pass")
        .filter(F.col("plan_cache_key").isNotNull() & F.col("plan_summary").isNotNull())
        .withColumn("ns", F.concat_ws(".", "db", "coll"))
    )
    cnt = F.count("duration_ms")
    return src.groupBy(*extra_keys, "ns", "op", "query_hash", "plan_summary").agg(
        cnt.alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        _z(F.max("duration_ms")).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), cnt).alias("avg_ms"),
        _p95().alias("p95_ms"),
        _z(F.sum("keys_examined")).alias("total_keys"),
        _z(F.sum("docs_examined")).alias("total_docs"),
        _z(F.sum("nreturned")).alias("total_returned"),
        F.max(F.col("plan_summary").contains("COLLSCAN")).alias("is_collscan"),
        _sample_slowest().alias("sample_line"),
    )


def plan_cache_multi(plan_cache_df: DataFrame) -> DataFrame:
    """A5b — per-queryHash multi-plan rollup
    (PlanCacheAccumulator.reportByQueryHash, PlanCacheAccumulator.java:199-278):
    group the plan-cache entries by query_hash and surface hashes that cached
    MORE THAN ONE distinct (plan_summary, ns, op) entry — the whole point of
    plan-cache analysis (a query flip-flopping between plans).

    The per-plan detail is encoded as a sorted `plan@ns@op=count` kv-string so
    the result is one flat row per hash, portable to the DuckDB oracle. Second
    aggregation is over the (small) A5 output, not the ops stream — negligible
    shuffle."""
    g = (
        plan_cache_df.filter(F.col("query_hash").isNotNull())
        .groupBy("query_hash")
        .agg(
            F.count(F.lit(1)).alias("plan_count"),
            F.sum("count").alias("total_count"),
            _z(F.min("min_ms")).alias("min_ms"),
            _z(F.max("max_ms")).alias("max_ms"),
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat(
                            F.col("plan_summary"), F.lit("@"), F.col("ns"), F.lit("@"),
                            F.col("op"), F.lit("="), F.col("count"),
                        )
                    )
                ),
                "|",
            ).alias("plans"),
        )
    )
    return g.filter(F.col("plan_count") > 1)


def index_stats(ops: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A6 — (ns, plan_summary) index-usage rollup; requires ns AND planSummary
    (IndexStatsAccumulator.java:15-39, IndexStatsEntry.java:31-110)."""
    src = (
        ops.filter("ns_pass")
        .filter(F.col("plan_summary").isNotNull())
        .withColumn("ns", F.concat_ws(".", "db", "coll"))
    )
    cnt = F.count("duration_ms")
    agg = src.groupBy(*extra_keys, "ns", "plan_summary").agg(
        cnt.alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        F.coalesce(F.max("duration_ms"), F.lit(0)).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), cnt).alias("avg_ms"),
        _p95().alias("p95_ms"),
        _z(F.sum("keys_examined")).alias("total_keys"),
        _z(F.sum("docs_examined")).alias("total_docs"),
        _z(F.sum("nreturned")).alias("total_returned"),
    )
    return agg.withColumns(
        {
            "avg_keys": _fdiv(F.col("total_keys"), F.col("count")),
            "avg_docs": _fdiv(F.col("total_docs"), F.col("count")),
            "avg_returned": _fdiv(F.col("total_returned"), F.col("count")),
            # (keys+docs)/returned, IndexStatsEntry.java:107-109
            "examined_returned_ratio": F.when(
                F.col("total_returned") > 0,
                F.floor((F.col("total_keys") + F.col("total_docs")) / F.col("total_returned")),
            ).otherwise(F.lit(0)).cast("long"),
            "is_collscan": F.col("plan_summary").contains("COLLSCAN"),
        }
    )


def error_codes(errors: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A7 — per-codeName counts (ErrorCodeAccumulator.java:24-44)."""
    return errors.groupBy(*extra_keys, "code_name").agg(
        F.count(F.lit(1)).alias("count"),
        _first_by_arrival("error_code").alias("error_code"),
        _first_by_arrival("sample_message").alias("sample_message"),
    )


def transactions(txn: DataFrame, extra_keys: tuple[str, ...] = ()) -> DataFrame:
    """A8 — (retry, cause, commitType) rollup (TransactionAccumulator.java:27-41,
    TransactionEntry.java:39-133)."""
    dcnt = F.count("duration_ms")
    return txn.groupBy(*extra_keys, "txn_retry_counter", "termination_cause", "commit_type").agg(
        F.count(F.lit(1)).alias("count"),
        _z(F.min("duration_ms")).alias("min_ms"),
        _z(F.max("duration_ms")).alias("max_ms"),
        _fdiv(F.sum("duration_ms"), dcnt).alias("avg_ms"),
        _z(F.max("commit_ms")).alias("max_commit_ms"),
        _fdiv(F.sum("commit_ms"), F.count("commit_ms")).alias("avg_commit_ms"),
        _z(F.max("active_ms")).alias("max_active_ms"),
        _fdiv(F.sum("active_ms"), F.count("active_ms")).alias("avg_active_ms"),
        _z(F.max("inactive_ms")).alias("max_inactive_ms"),
        _fdiv(F.sum("inactive_ms"), F.count("inactive_ms")).alias("avg_inactive_ms"),
    )


# the reference's slowPlanning top-50 (SlowPlanningAccumulator.java:16-58),
# also the report section's bound (writers.json_report)
TOP_SLOW_PLANNING = 50


def slow_planning(ops: DataFrame) -> DataFrame:
    """A9 — global top-K by planningTimeMicros (SlowPlanningAccumulator.java:16-58).
    Catalyst executes this as TakeOrderedAndProject — per-partition top-K then
    merge, the distributed version of the reference's threshold prune (O7)."""
    return (
        ops.filter("ns_pass")
        .filter(F.col("planning_us").isNotNull())
        .withColumn("ns", F.concat_ws(".", "db", "coll"))
        .select("ns", "op", "plan_summary", "planning_us", "raw_filter", "ts_str", "url")
        .orderBy(F.desc("planning_us"), F.asc("url"))
        .limit(TOP_SLOW_PLANNING)
    )


def app_conn_stats(ops: DataFrame) -> DataFrame:
    """A10 — distinct conn ids per appName (AppNameConnectionStatsAccumulator).

    Reference quirk reproduced: recordConnection is invoked only from the
    INDEX and WRITE branches (LogParserTask.java:172, 230) — command-branch
    operations do NOT contribute. Null appName → "unknown"."""
    src = (
        ops.filter("ns_pass")
        .filter(F.col("branch").isin("index", "write"))
        .withColumn("conn_id", F.nullif(F.regexp_extract("ctx", r"^conn(\d+)$", 1), F.lit("")).cast("long"))
        .filter(F.col("conn_id").isNotNull())
    )
    return src.groupBy(
        F.coalesce(F.col("app_name"), F.lit("unknown")).alias("app_name")
    ).agg(F.countDistinct("conn_id").alias("distinct_connections"))


def ignored_stats(ignored: DataFrame) -> DataFrame:
    """K6 — ignored-line category counts (LogParser.java:972-999)."""
    return ignored.groupBy("category").agg(F.count(F.lit(1)).alias("count"))


def timestamp_range(kept: DataFrame) -> DataFrame:
    """E15 — global earliest/latest event timestamp (LogParser.java:1183-1192)."""
    return kept.agg(
        F.min("ts_str").alias("earliest"), F.max("ts_str").alias("latest"),
        F.count(F.lit(1)).alias("lines_with_ts"),
    )


def _shard_keys(df: DataFrame) -> tuple[str, ...]:
    """The shard identity columns `df` carries: filename shard, then node."""
    return tuple(c for c in ("shard", "node") if c in df.columns)


def per_shard(builder, df: DataFrame):
    """Per-shard variant of any sink builder — the --shards mode
    (LogParser.java:557-565 keeps a map of per-ShardInfo accumulator copies;
    this is the same structure: one rollup per shard identity, shard columns
    prepended to the output).

    Small-N debugging/equivalence path ONLY: each per-shard branch is the
    unmodified builder over a filtered view of the same checkpointed scan, so
    work grows as shards × full scans plus a driver-side distinct().collect().
    The production path is per_shard_grouped (one shuffle, no driver loop) —
    proven row-equal to this in tests/test_golden_report.py and oracle-checked
    as log_shard_main_ops.
    """
    from functools import reduce

    shard_cols = _shard_keys(df)
    shards = sorted(
        df.select(*shard_cols).distinct().collect(),
        key=lambda r: tuple(r[c] or "" for c in shard_cols),
    )
    if not shards:  # empty stream (e.g. no TTL lines): empty rollup, right schema
        out = builder(df.limit(0))
        for c in reversed(shard_cols):
            out = out.select(F.lit(None).cast("string").alias(c), "*")
        return out
    parts = []
    for r in shards:
        sub = df
        for c in shard_cols:
            sub = sub.filter(F.col(c).eqNullSafe(F.lit(r[c])))
        out = builder(sub)
        for c in reversed(shard_cols):
            out = out.select(F.lit(r[c]).alias(c), "*")
        parts.append(out)
    return reduce(lambda a, b: a.unionByName(b), parts)


def per_shard_grouped(builder, df: DataFrame) -> DataFrame:
    """Per-shard variant of a sink builder, scale-shaped: the shard identity
    columns become EXTRA GROUP KEYS inside the builder's own aggregation —
    ONE shuffle over the stream, no driver-side shard enumeration, no
    per-shard rescans. This is the distributed restatement of the reference's
    per-ShardInfo accumulator map (LogParser.java:557-565): the map key
    (shard, node) is just more group-key arity.

    Semantically identical to per_shard() — same rows, same per-group values,
    because every builder's aggregates are computed within the group and the
    shard columns only refine the grouping (proven row-equal on the real
    4-shard Atlas logs in tests/test_golden_report.py, and oracle-checked
    directly as log_shard_main_ops).

    At 100 TB / hundreds of shards this is the only viable shape: cost is one
    hash aggregate whose key cardinality grows ~linearly with shard count,
    versus per_shard's shards × full-scan branches."""
    return builder(df, extra_keys=_shard_keys(df))
