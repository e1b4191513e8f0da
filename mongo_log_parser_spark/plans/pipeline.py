"""End-to-end pipeline assembly (SURVEY.md §3.1 Spark restatement):

  scan → prefilter (F1-F4) → vectorized parse (E1-E2) → route (F5-F11)
       → extract (E3-E20) → aggregates (A1-A12) + joins (J1-J3) → sinks

build() has one materialization strategy, stage checkpoints between the
parse and the aggregate waves:

  routed     route.routed_parse (parsed lines + routing flags, ONE raw scan
             for kept/ignored/TTL) written to parquet and read back; every
             stream is route.derive_streams over that checkpoint, so the
             Arrow parse runs once and each consumer reads flat columnar data
             with pruning/pushdown. 10x faster than Spark's in-memory cache
             at sf0.1 (InMemoryRelation encode of wide rows was the
             bottleneck).
  ops        the dispatched ops, derived from the routed checkpoint and
             written as a second checkpoint: one serial write beats a lazy
             dispatch cascade per ops sink (3-20x, round 6).
  conn_side  the client-metadata/auth/lifecycle subset feeding driver_stats,
             localCheckpointed lazily once and released by unpersist().

build(cache=False) writes nothing: the streams are the lazy
route.split_streams view, row-for-row equal to the checkpointed ones
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
from ..operators import aggregates as agg
from ..operators import joins, route
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
    conn_side: DataFrame | None = None

    def unpersist(self) -> None:
        """Release the conn-side checkpoint blocks and the stage dir."""
        if self.conn_side is not None:
            try:
                # DataFrame.unpersist() only drops cache-manager entries; a
                # localCheckpoint's blocks belong to the RDD under its plan.
                self.conn_side._jdf.queryExecution().analyzed().rdd().unpersist(False)
            except Exception:
                log.warning("could not release the conn-side checkpoint", exc_info=True)
            self.conn_side = None
        if self.workdir:
            _remove_dir(self.workdir)


def _remove_dir(path: str) -> None:
    try:
        shutil.rmtree(path)
    except FileNotFoundError:
        pass
    except OSError:
        log.warning("could not remove stage dir %s", path, exc_info=True)


def _checkpoint(df: DataFrame, path: str) -> DataFrame:
    schema = df.schema
    df.write.mode("overwrite").parquet(path)
    # explicit schema: skips the footer-inference job on read-back
    return df.sparkSession.read.schema(schema).parquet(path)


def _checkpointed_streams(pages: DataFrame, workdir: str,
                          ignore_patterns: list[str] | None) -> tuple[dict[str, DataFrame], DataFrame]:
    # ONE routed checkpoint: kept + ignored + TTL in a single scan/parse/write;
    # the ignored rows only add their text bytes (null parse fields are free
    # under parquet RLE).
    ckpt = _checkpoint(route.routed_parse(pages, ignore_patterns=ignore_patterns),
                       os.path.join(workdir, "routed"))
    # client_metadata, auth and conn_lifecycle share ONE scan: each filters
    # to a tiny subset (a few % of rows together), but as separate plans
    # driver_stats would scan the checkpoint four times per wave (meta and
    # auth each decompressing the wide `text` column, plus the lifecycle
    # union's start/end pair). The union-predicate subset is localCheckpointed
    # lazily ONCE and every side channel re-applies its exact filter over it,
    # so rows and schema equal deriving straight from kept (each record
    # filter implies the union predicate). localCheckpoint truncates lineage:
    # losing an executor after it materializes fails the job, so a cluster
    # deployment should swap it for a parquet stage like the two here.
    is_meta = (F.col("comp") == "NETWORK") & (F.col("msg") == "client metadata")
    is_auth = (F.col("comp") == "ACCESS") & (F.col("msg") == "Successfully authenticated")
    is_lifecycle = F.col("msg").isin("Connection accepted", "Connection ended")
    conn_side = ckpt.filter(
        ~F.col("is_ignored") & (is_meta | is_auth | is_lifecycle)
    ).select(
        "url", "ts_str", "ctx", "comp", "msg", "has_attr", "a_remote",
        "drv_name", "drv_version", "os_type", "os_name", "platform",
        "compressors", "a_user", "a_db", "a_mechanism", "a_connection_id",
        "text",
    ).localCheckpoint(eager=False)
    streams = {
        "oversized": pages.filter(prefilter.is_oversized(F.col("text"))),
        **route.derive_streams(ckpt, conn_side=conn_side),
    }
    # ops derive FROM the routed checkpoint, so this write runs no second parse
    streams["ops"] = _checkpoint(streams["ops"], os.path.join(workdir, "ops"))
    return streams, conn_side


def build(
    pages: DataFrame,
    cache: bool = True,
    workdir: str | None = None,
    ignore_patterns: list[str] | None = None,
) -> PipelineResult:
    conn_side = None
    if cache:
        own_workdir = workdir is None
        workdir = workdir or os.path.join(
            datagen.DATA_ROOT, "tmp", f"stage-{uuid.uuid4().hex[:8]}"
        )
        try:
            streams, conn_side = _checkpointed_streams(pages, workdir, ignore_patterns)
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
    return PipelineResult(streams=streams, sinks=sinks, workdir=workdir,
                          conn_side=conn_side)
