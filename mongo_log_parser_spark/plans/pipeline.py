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

build(cache=False) writes nothing: the streams are the lazy
route.split_streams view, row-for-row equal to the staged ones
(tests/test_log_pipeline.py) — right for small interactive queries.
"""

from __future__ import annotations

import logging
import os
import shutil
import uuid
from dataclasses import dataclass, field

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
    sinks: dict[str, DataFrame] = field(default_factory=dict)
    workdir: str | None = None

    def unpersist(self) -> None:
        """Remove the stage dir."""
        if self.workdir:
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


def build(
    pages: DataFrame,
    cache: bool = True,
    workdir: str | None = None,
    ignore_patterns: list[str] | None = None,
) -> PipelineResult:
    if cache:
        own_workdir = workdir is None
        workdir = workdir or os.path.join(
            datagen.DATA_ROOT, "tmp", f"stage-{uuid.uuid4().hex[:8]}"
        )
        try:
            streams = _staged_streams(pages, workdir, ignore_patterns)
        except BaseException:
            if own_workdir:
                _remove_dir(workdir)
            raise
    else:
        streams = route.split_streams(pages, ignore_patterns=ignore_patterns)

    sinks = {
        "main_ops": agg.main_ops(streams["ops"]),
        "ttl_ops": agg.ttl_ops(streams["ttl_pre"]),
        "op_stats": agg.op_stats(streams["ops"]),
        "query_hash": agg.query_hash(streams["ops"]),
        "plan_cache": agg.plan_cache(streams["ops"]),
        "index_stats": agg.index_stats(streams["ops"]),
        "error_codes": agg.error_codes(streams["errors"]),
        "transactions": agg.transactions(streams["transactions"]),
        "slow_planning": agg.slow_planning(streams["ops"]),
        "app_conn_stats": agg.app_conn_stats(streams["ops"]),
        "driver_stats": joins.driver_stats(
            streams["client_metadata"], streams["auth"], streams["conn_lifecycle"]
        ),
        "ignored": agg.ignored_stats(streams["ignored"]),
        "ignored_sample": route.ignored_sample(streams["ignored"]),
    }
    return PipelineResult(streams=streams, sinks=sinks, workdir=workdir)
