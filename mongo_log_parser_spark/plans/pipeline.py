"""End-to-end pipeline assembly (SURVEY.md §3.1 Spark restatement):

  scan → prefilter (F1-F4) → vectorized parse (E1-E2) → route (F5-F11)
       → extract (E3-E20) → aggregates (A1-A12) + joins (J1-J3) → sinks

build() has one materialization strategy: each stage between the parse and
the aggregate waves is written to parquet under its stage dir and read back
with the written schema, so every consumer reads flat columnar data that
Spark can prune and push filters into:

  routed     route.routed_parse (parsed lines + routing flags, ONE raw scan
             for kept/ignored/TTL); every stream derives from it through
             route.derive_streams, so the Arrow parse runs once. 10x faster
             than Spark's in-memory cache at sf0.1 (InMemoryRelation encode
             of wide rows was the bottleneck).
  ops        the dispatched ops: one write beats a lazy dispatch cascade per
             ops sink (3-20x, round 6).
  conn_side  route.conn_side_subset, the few % of kept rows that feed the
             client_metadata, auth and conn_lifecycle records (driver_stats).

ops and conn_side both derive from the routed read-back and are written
concurrently. unpersist() removes the stage dir; no stage holds cached blocks.

plan_sinks() is the only code that turns streams into sinks, --ns-filter
and the --shards copies included, so build() plans each sink once.
plan_sinks(route.split_streams(pages)) writes nothing: it plans the same
sinks over the lazy stream view, row-for-row equal to the staged ones
(tests/test_log_pipeline.py) — right for small interactive queries.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import prefilter
from ..functions.extract import extract_ops
from ..operators import aggregates as agg
from ..operators import joins, route
# Bound at import, never called as writers.write_parquet_sinks: perfbench
# times the report's sink writes by wrapping that module attribute, and the
# stage writes below must not count as sink writes.
from ..sinks.writers import write_parquet_sinks as _write_stages
from ..sources import datagen
from ..sources.logfiles import namespace_filter_predicate

log = logging.getLogger(__name__)


def read_pages(spark: SparkSession, sf: float | None = None, path: str | None = None) -> DataFrame:
    path = path or datagen.ensure_pages(sf if sf is not None else 0.001)
    return spark.read.parquet(path)


def read_lookup(spark: SparkSession, name: str) -> DataFrame:
    p = datagen.lookup_path(name)
    if not os.path.exists(p):
        datagen.ensure_pages(0.001)  # generates lookups as a side effect
    return spark.read.parquet(p)


@dataclass
class PipelineResult:
    streams: dict[str, DataFrame]
    sinks: dict[str, DataFrame]
    workdir: str

    def unpersist(self) -> None:
        """Remove the stage dir."""
        _remove_dir(self.workdir)


def _remove_dir(path: str) -> None:
    try:
        shutil.rmtree(path)
    except FileNotFoundError:
        pass
    except OSError:
        log.warning("could not remove stage dir %s", path, exc_info=True)


def _staged_streams(pages: DataFrame, workdir: str,
                    ignore_patterns: list[str] | None) -> dict[str, DataFrame]:
    # ONE routed stage: kept + ignored + TTL in a single scan/parse/write; the
    # ignored rows only add their text bytes (null parse fields are free
    # under parquet RLE)
    routed = _write_stages(
        {"routed": route.routed_parse(pages, ignore_patterns=ignore_patterns)}, workdir)["routed"]
    kept = route.kept_rows(routed)
    # both read the routed stage, so neither write runs a second parse
    staged = _write_stages({"ops": extract_ops(kept),
                            "conn_side": route.conn_side_subset(kept)}, workdir)
    return {
        "oversized": pages.filter(prefilter.is_oversized(F.col("text"))),
        **route.derive_streams(routed, **staged),
    }


# (sink, the stream it reads, has a per-shard copy) for each sink planned by
# the aggregates builder of its name. The per-shard copies are the
# reference's shard-tracked accumulators (LogParser.java:557-565).
_AGG_SINKS = (
    ("main_ops", "ops", True),
    ("ttl_ops", "ttl_pre", True),
    ("op_stats", "ops", False),
    ("query_hash", "ops", True),
    ("plan_cache", "ops", True),
    ("index_stats", "ops", True),
    ("error_codes", "errors", True),
    ("transactions", "transactions", True),
    ("slow_planning", "ops", False),
    ("app_conn_stats", "ops", False),
)


def plan_sinks(streams: dict[str, DataFrame], ns_filter: list[str] | None = None,
               shards: bool = False) -> dict[str, DataFrame]:
    """The report sinks over `streams`: the one place that pairs each sink
    builder with the stream it reads. Builders are looked up on their module
    at plan time, never bound at import, so wrapping a module attribute
    reaches every call.

    `ns_filter` (--ns-filter) is ANDed into ops.ns_pass and filters ttl_pre
    before any builder reads them, as the reference's matchesNamespaceFilter
    gates every ns-scoped analysis (LogParserTask.java:361-408). `shards`
    (--shards) adds the agg.per_shard_grouped copy shard_<sink> of each
    shard-tracked sink when the streams carry a shard column."""
    read = dict(streams)
    if ns_filter:
        pred = namespace_filter_predicate(ns_filter)
        read["ops"] = read["ops"].withColumn(
            "ns_pass", F.col("ns_pass") & pred(F.col("db"), F.col("coll")))
        read["ttl_pre"] = read["ttl_pre"].filter(pred(F.col("db"), F.col("coll")))
    sinks = {sink: getattr(agg, sink)(read[stream]) for sink, stream, _ in _AGG_SINKS}
    sinks["driver_stats"] = joins.driver_stats(
        read["client_metadata"], read["auth"], read["conn_lifecycle"])
    sinks["ignored"] = agg.ignored_stats(read["ignored"])
    sinks["ignored_sample"] = route.ignored_sample(read["ignored"])
    if shards and "shard" in read["ops"].columns:
        # shard/node become extra group keys: one shuffle per sink, no
        # driver-side shard loop
        sinks.update({f"shard_{sink}": agg.per_shard_grouped(getattr(agg, sink), read[stream])
                      for sink, stream, per_shard in _AGG_SINKS if per_shard})
    return sinks


def build(
    pages: DataFrame | str,
    ignore_patterns: list[str] | None = None,
    ns_filter: list[str] | None = None,
    shards: bool = False,
) -> PipelineResult:
    """Stage the routed streams of `pages`, a pages frame or the path of a
    pages parquet table, and plan every report sink over them
    (plan_sinks with `ns_filter` and `shards`). The streams route through
    route.routed_parse with `ignore_patterns`, as manifest.run_resumable
    routes each day."""
    if isinstance(pages, str):
        pages = read_pages(SparkSession.active(), path=pages)
    workdir = os.path.join(datagen.DATA_ROOT, "tmp", f"stage-{uuid.uuid4().hex[:8]}")
    try:
        streams = _staged_streams(pages, workdir, ignore_patterns)
    except BaseException:
        _remove_dir(workdir)
        raise
    return PipelineResult(streams=streams, workdir=workdir,
                          sinks=plan_sinks(streams, ns_filter=ns_filter, shards=shards))
