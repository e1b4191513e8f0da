"""O14 — resumable, checkpointed ingest with a per-partition lineage manifest.

The reference has no resumability (restart = full re-run, SURVEY.md §4 O14).
The graft requires: "resumable from a checkpointed per-partition manifest
carrying lineage IDs and parse/route/agg counters".

Design (Iceberg-style without requiring an Iceberg runtime — plain parquet,
NO rename-based atomicity anywhere; on a real deployment the same structure
maps 1:1 to an Iceberg table with `days(warc_ts)` hidden partitioning, where
the manifest row is the snapshot commit):

- the ingest unit is one `day(warc_ts)` partition of the pages table,
  routed by the one router exactly as pipeline.build routes it: kept is
  route.kept_rows(route.routed_parse(day)) and ops is route.extract_ops over
  the written kept. The manifest counters are observe() metrics on the
  write jobs: rows_in/oversized over the day's pages, ignored/kept over the
  router's is_ignored flag, ops over the ops write. rows_in counts the pages
  with a non-null text, the lines the router sees (a null text is no line:
  the router drops it, as the oracle's q_route_counts does), so every
  committed row holds rows_in == oversized + ignored + kept;
- each attempt writes its routed outputs to a UNIQUE content-addressed
  location out_dir/{kept,ops}/day=<d>/attempt=<run_id>/ with plain writes —
  nothing is ever renamed or replaced, so the scheme is safe on object
  stores with no atomic rename (S3/GCS);
- THE MANIFEST ROW IS THE COMMIT POINT: after the data writes finish, one
  row (day, lineage_id, kept_path, ops_path, rows_in, oversized, ignored,
  kept, ops) is appended as a single new parquet object with a unique name
  (pyarrow write — the object-store PUT analog, not a directory-rename
  commit protocol). A crash before the append leaves only unreferenced
  orphan attempt directories (collectible garbage, exactly Iceberg's
  uncommitted-data-file semantics); a crash after it is a completed day;
- a restarted run consults the manifest and processes only missing days;
  readers (committed_ops) resolve day → first-committed attempt path
  through the manifest, never by listing the data directories. All manifest
  I/O goes through the Hadoop FileSystem API, so out_dir may be s3a://gs://
  as well as local. The append is lock-free: ONE writer per out_dir is the
  deployment assumption; if concurrent runs double-commit a day anyway,
  committed_manifest picks one (day, lineage_id) row for paths AND counters
  together, so nothing double-counts;
- the report is not built from this layer: `run_job --resumable` commits
  the ingest, then plans its aggregates (A1-A12) over pipeline.build of the
  same pages, so each line is parsed once per layer. The committed ops carry
  only the router's ns_pass (pipeline.plan_sinks applies --ns-filter), and
  kept holds no ignored or TTL lines, which the ignored and ttl_ops sinks
  read.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions import prefilter
from ..operators import route


def day_key(col=None):
    return F.date_format(col if col is not None else F.col("warc_ts"), "yyyy-MM-dd")


def manifest_path(out_dir: str) -> str:
    return os.path.join(out_dir, "manifest")


def _hadoop_fs(spark: SparkSession, path_str: str):
    """Hadoop FileSystem + Path for `path_str` — resolves the scheme
    (file:/, s3a://, gs://, hdfs://) from the session's Hadoop conf, so every
    manifest I/O works on object stores, not just the driver-local disk."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path_str)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    p = manifest_path(out_dir)
    fs, hpath = _hadoop_fs(spark, p)
    if not fs.exists(hpath) or len(fs.listStatus(hpath)) == 0:
        return None
    return spark.read.parquet(p)


def committed_manifest(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """ONE committed row per day — the view every consumer (paths AND
    counters) must read through. The manifest append is lock-free; the
    documented deployment assumption is a single writer per out_dir. If two
    concurrent runs nevertheless both commit the same day, the
    lexicographically-first lineage_id wins here for the data paths and the
    counters together, so summed counters never double-count a day."""
    m = read_manifest(spark, out_dir)
    if m is None:
        return None
    picked = [F.expr(f"min_by({c}, lineage_id)").alias(c)
              for c in m.columns if c != "day"]
    return m.groupBy("day").agg(*picked)


def completed_days(spark: SparkSession, out_dir: str) -> set[str]:
    m = read_manifest(spark, out_dir)
    if m is None:
        return set()
    return {r["day"] for r in m.select("day").distinct().collect()}


def _attempt_dir(out_dir: str, kind: str, day: str, run_id: str) -> str:
    """Unique content-addressed data location for one (day, attempt) — plain
    writes only; referenced exclusively through the manifest row."""
    return os.path.join(out_dir, kind, f"day={day}", f"attempt={run_id}")


def _append_manifest_row(spark: SparkSession, out_dir: str, row: dict) -> None:
    """The commit: ONE new parquet object with a unique name, written through
    the Hadoop FileSystem API — a single PUT on s3a://gs://, a single create
    on file:/. No renames, no directory-commit protocol (maps to an Iceberg
    snapshot commit in a real deployment). overwrite=False on the create:
    the uuid name never collides, and if it somehow did the second writer
    fails instead of silently clobbering a commit."""
    import io

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("day", pa.string()), ("lineage_id", pa.string()),
        ("kept_path", pa.string()), ("ops_path", pa.string()),
        ("rows_in", pa.int64()), ("oversized", pa.int64()),
        ("ignored", pa.int64()), ("kept", pa.int64()), ("ops", pa.int64()),
    ])
    buf = io.BytesIO()
    pq.write_table(pa.Table.from_pylist([row], schema=schema), buf)
    target = os.path.join(manifest_path(out_dir), f"commit-{uuid.uuid4().hex}.parquet")
    fs, hpath = _hadoop_fs(spark, target)
    out = fs.create(hpath, False)
    try:
        out.write(buf.getvalue())
    finally:
        out.close()


def run_resumable(spark: SparkSession, pages_path: str, out_dir: str,
                  fail_after_days: int | None = None,
                  ignore_patterns: list[str] | None = None) -> dict:
    """Process all not-yet-committed day partitions; returns run stats.

    Each day is routed as pipeline.build routes it:
    route.kept_rows(route.routed_parse(day_pages)), with `ignore_patterns`
    (the --config FilterConfig list) passed to the router.
    fail_after_days simulates a mid-run crash (for resumability tests)."""
    run_id = uuid.uuid4().hex[:12]
    os.makedirs(out_dir, exist_ok=True)
    pages = spark.read.parquet(pages_path).withColumn("day", day_key())
    done = completed_days(spark, out_dir)
    all_days = sorted(
        r["day"] for r in pages.select("day").distinct().collect()
    )
    todo = [d for d in all_days if d not in done]

    processed = []
    text, ignored = F.col("text"), F.col("is_ignored")
    for i, day in enumerate(todo):
        if fail_after_days is not None and i >= fail_after_days:
            break
        # day-partition pruning: the filter reaches the scan (partition values
        # derive from warc_ts min/max per row group → parquet stats pruning)
        day_pages = pages.filter(F.col("day") == day).drop("day")
        # the counters ride the WRITE jobs as observe() metrics, so the commit
        # is exactly 2 jobs per partition (kept write incl. the one Arrow
        # parse, then ops write off the committed kept) with no count
        # re-reads: rows_in (non-null text lines)/oversized over the day's
        # pages; ignored/kept over the router's own is_ignored flag, so no
        # predicate runs twice
        obs_in, obs_route, obs_ops = Observation(), Observation(), Observation()
        observed = day_pages.observe(
            obs_in,
            F.count(text).alias("rows_in"),
            F.sum(prefilter.is_oversized(text).cast("long")).alias("oversized"),
        )
        routed = route.routed_parse(observed, ignore_patterns=ignore_patterns).observe(
            obs_route, F.count_if(ignored).alias("ignored"), F.count_if(~ignored).alias("kept"))
        kept_dir = _attempt_dir(out_dir, "kept", day, run_id)
        ops_dir = _attempt_dir(out_dir, "ops", day, run_id)
        kept = route.kept_rows(routed)
        kept.write.mode("overwrite").parquet(kept_dir)
        # read back with the written schema: no footer-reading job, no re-parse
        ops = route.extract_ops(spark.read.schema(kept.schema).parquet(kept_dir))
        ops.observe(obs_ops, F.count(F.lit(1)).alias("ops")) \
            .write.mode("overwrite").parquet(ops_dir)
        c_in, c_route, c_ops = obs_in.get, obs_route.get, obs_ops.get
        # THE COMMIT: the manifest row (pointing at this attempt's paths).
        # A crash anywhere above leaves only unreferenced orphan dirs.
        _append_manifest_row(spark, out_dir, {
            "day": day, "lineage_id": run_id,
            "kept_path": kept_dir, "ops_path": ops_dir,
            "rows_in": c_in["rows_in"], "oversized": c_in["oversized"],
            "ignored": c_route["ignored"], "kept": c_route["kept"], "ops": c_ops["ops"],
        })
        processed.append(day)

    return {
        "run_id": run_id,
        "days_total": len(all_days),
        "days_already_done": len(done),
        "days_processed": len(processed),
        "processed": processed,
    }


def committed_ops(spark: SparkSession, out_dir: str) -> DataFrame:
    """Manifest-driven read: day → committed attempt path, never a directory
    listing — orphan (uncommitted) attempt dirs are invisible, exactly like
    Iceberg snapshot reads. If a day somehow has multiple committed rows, the
    lexicographically-first lineage_id wins deterministically
    (committed_manifest). The result carries the `day` partition column
    (string), recovered from the day=<d>/attempt=<id> directory layout via
    basePath — ONE multi-path scan, no per-day union."""
    m = committed_manifest(spark, out_dir)
    if m is None:
        raise FileNotFoundError(f"no manifest at {manifest_path(out_dir)}")
    paths = [r["ops_path"] for r in m.select("ops_path").collect()]
    base = os.path.join(out_dir, "ops")
    return (
        spark.read.option("basePath", base).parquet(*paths)
        .withColumn("day", F.col("day").cast("string"))
        .drop("attempt")
    )
