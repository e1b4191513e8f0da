"""Structured Streaming variant of the parse→route→aggregate pipeline.

The reference is strictly batch (SURVEY.md §2.7) — this is graft-added
capability: the batch router (route.split_streams) runs unchanged on a
file-source stream of pages, with

- a watermarked sliding-window operation rollup (late data handled by the
  watermark instead of the reference's implicit file ordering), and
- a custom stateful operator: connection-lifetime sessionization via
  applyInPandasWithState (start/end event matching with timeout — the
  streaming version of J2).

Tested with Trigger.AvailableNow against the batch results (tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..operators.route import split_streams


def pages_stream(spark: SparkSession, path: str, schema=None, max_files: int = 4) -> DataFrame:
    import os

    schema = schema or spark.read.parquet(path).schema
    # the file source needs a directory; the synthetic table is a single file
    if path.endswith(".parquet") and os.path.isfile(path):
        glob = os.path.basename(path)
        path = os.path.dirname(path)
    else:
        glob = "*.parquet"
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .option("pathGlobFilter", glob)
        .parquet(path)
    )


def streaming_ops(pages: DataFrame) -> DataFrame:
    return split_streams(pages)["ops"]


def windowed_op_counts(ops: DataFrame, window: str = "1 day", watermark: str = "2 days") -> DataFrame:
    """Watermarked tumbling-window per-op rollup on event time (warc_ts)."""
    return (
        ops.filter(F.col("ns_pass"))
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("op"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.sum("duration_ms").alias("total_ms"),
        )
        .select(F.col("w.start").alias("window_start"), "op", "count", "total_ms")
    )


_SESSION_OUT = StructType([
    StructField("conn_id", LongType()),
    StructField("start_ts", TimestampType()),
    StructField("end_ts", TimestampType()),
    StructField("lifetime_ms", LongType()),
    StructField("status", StringType()),
])
_SESSION_STATE = StructType([
    StructField("start_ms", LongType()),
    StructField("end_ms", LongType()),
])


_SESSION_COLS = ["conn_id", "start_ts", "end_ts", "lifetime_ms", "status"]


def _make_session_fn(timeout_ms: int | None):
    """Build the stateful start/end matcher. `timeout_ms=None` (the oracle
    path, drained with AvailableNow) leaves unmatched halves in state forever
    — matching the batch analog J2, which ignores unmatched connections.
    With a timeout, every state update arms a processing-time timer; a
    connection that stays half-open past the timer is EVICTED as an
    'expired' row (the live-stream deployment mode — state size stays
    bounded by the active-connection count, not the stream history)."""

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        (conn_id,) = key
        if timeout_ms is not None and state.hasTimedOut:
            start_ms, end_ms = state.get
            state.remove()
            yield pd.DataFrame(
                [[conn_id,
                  pd.Timestamp(start_ms, unit="ms") if start_ms is not None else pd.NaT,
                  pd.Timestamp(end_ms, unit="ms") if end_ms is not None else pd.NaT,
                  None, "expired"]],
                columns=_SESSION_COLS,
            )
            return
        start_ms, end_ms = state.get if state.exists else (None, None)
        for pdf in pdfs:
            # columnar min/max per batch — no per-row Python loop
            starts = pdf.loc[pdf["kind"] == "start", "epoch_ms"]
            ends = pdf.loc[pdf["kind"] != "start", "epoch_ms"]
            if len(starts):
                s = int(starts.min())
                start_ms = s if start_ms is None else min(start_ms, s)
            if len(ends):
                e = int(ends.max())
                end_ms = e if end_ms is None else max(end_ms, e)
        if start_ms is not None and end_ms is not None and end_ms > start_ms:
            state.remove()
            yield pd.DataFrame(
                [[conn_id,
                  pd.Timestamp(start_ms, unit="ms"),
                  pd.Timestamp(end_ms, unit="ms"),
                  end_ms - start_ms, "closed"]],
                columns=_SESSION_COLS,
            )
        else:
            state.update((start_ms, end_ms))
            if timeout_ms is not None:
                state.setTimeoutDuration(timeout_ms)

    return fn


def streaming_conn_sessions(pages: DataFrame, timeout_ms: int | None = None) -> DataFrame:
    """applyInPandasWithState sessionization of connection lifecycles (J2).

    `timeout_ms=None` (default) uses NoTimeout — the AvailableNow/oracle
    configuration. A live deployment passes a processing-time timeout so
    half-open connections are evicted as 'expired' rows instead of pinning
    state forever (tests/test_manifest_streaming.py drives the eviction).

    Measured caveat (why the oracle path stays NoTimeout): with
    ProcessingTimeTimeout an AvailableNow drain emits the evictions but does
    NOT self-terminate — Spark keeps scheduling no-data micro-batches for the
    stateful operator (observed 40+ empty batches after the last file). A
    live deployment runs a processingTime trigger with an explicit stop
    policy; the eviction test polls the sink and stops the query."""
    events = split_streams(pages)["conn_lifecycle"]
    return events.groupBy("conn_id").applyInPandasWithState(
        _make_session_fn(timeout_ms),
        outputStructType=_SESSION_OUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf=(GroupStateTimeout.NoTimeout if timeout_ms is None
                     else GroupStateTimeout.ProcessingTimeTimeout),
    )


def run_available_now(stream_df: DataFrame, query_name: str, checkpoint: str):
    """Drain the stream with Trigger.AvailableNow into an in-memory sink."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append" if query_name.endswith("sessions") else "complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
