"""SparkSession factory tuned for the log pipeline.

Scale posture: these configs are chosen for a multi-executor cluster reading
~100 TB (AQE on, skew-join splitting, partial aggregation pushdown, Arrow for
the pandas-UDF boundary). Locally we run the same plan on local[N]; the bench
harness evidences scaling by running the identical job at two parallelism
levels (see bench.py).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "mongo-log-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # Under spark-submit (PythonRunner exports PYSPARK_GATEWAY_PORT before the
    # driver script runs) the master arrives as a JVM system property; calling
    # .master() here would silently override it — a YARN or local-cluster
    # submit would fall back to local[N]. In that case leave the builder's
    # master alone and size shuffle partitions from the live session's actual
    # master after getOrCreate().
    under_submit = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if not under_submit:
        master = master or f"local[{cpus}]"
    if shuffle_partitions is None and master is not None:
        shuffle_partitions = _default_shuffle_partitions(master, cpus)

    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        builder
        # AQE: runtime re-plan, partition coalescing, skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The extract stage's dispatch projection generates >8 KB of bytecode;
        # HotSpot never JITs methods above 8000 bytes, so whole-stage codegen
        # would run *interpreted generated code* (measured 10x slower at 32
        # threads). Falling back to Catalyst's interpreted expressions (small,
        # JIT-friendly methods) above this limit restores linear scaling.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Arrow boundary for the pandas UDFs (redact/trim, media metadata).
        # Round-4 halved this to 5000 to stop the round-3 Python-worker crash
        # and was suspected of the 12->27->59 s parse-stage walk. Measured
        # (scripts/ab_arrow_batch.py, 2x3 interleaved runs per arm with
        # matched pure-CPU probes, BENCH/ab_arrow_batch_r5_*.json.txt): on a
        # quiet host BOTH arms run the sf0.1 parse stage in ~8 s — the walk
        # was co-tenant noise, not the batch size. Restored to 10000 (the
        # round-2 configuration) and the crash risk is bounded by ADDRESS
        # SPACE instead: spark.executor.pyspark.memory sets RLIMIT_AS inside
        # each worker (verified effective in local mode), so a runaway worker
        # dies with a catchable MemoryError+traceback (bench retries once)
        # instead of inviting the host OOM killer. 6g x 16 workers is
        # virtual, not resident; measured parse peak per batch is ~0.5 GiB.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.executor.pyspark.memory", "6g")
        # When a Python worker does die, get a real traceback instead of
        # "exited unexpectedly (crashed)".
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.sql.execution.pyspark.udf.faulthandler.enabled", "true")
        # The reference drops >1 MiB lines; our text payloads stay well under
        # broadcast limits — keep autoBroadcast on for the lookup joins.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Subset-key co-partitioning (SPARK-35703): lets a join whose children
        # are both hash-partitioned on a SUBSET of the join keys run without
        # re-shuffling either side. Equal full keys imply equal subset
        # hashes, so this is purely a planner capability unlock, not a
        # semantics change; dropping it would change plans, so it stays
        # until an A/B measures that.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # Checkpoint/sink parquet codec (guide §6/§9): zstd. Measured on the
        # routed checkpoint (3-round interleaved A/B, sf0.1): write and read
        # times equal to snappy/lz4/none within noise, 42% smaller files than
        # snappy (60 vs 104 MB) — pure win locally, and the production-right
        # choice where checkpoint bytes cross a network.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.session.timeZone", "UTC")
        # PySpark wraps every Column method to record its Python call site:
        # a conf read plus two JVM calls each, about half the py4j round
        # trips of building the pipeline's plans. Off, DataFrame errors lose
        # the Python call site from their context. Read once per process.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "24g"))
    )
    # Split sizing stays at Spark's default 128 MiB: the synthetic pages table
    # is written as N part files (datagen.n_files) so scan parallelism comes
    # from the file layout, exactly as a 100 TB table's thousands of files
    # would provide — not from a local-only split-size hack.
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None and "spark.sql.shuffle.partitions" not in (extra_conf or {}):
        # submit path: size shuffles from the master spark-submit provided
        # (runtime conf — safe to set after session creation)
        actual = spark.conf.get("spark.master", f"local[{cpus}]")
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(_default_shuffle_partitions(actual, cpus)))
    return spark


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """Local modes: match total cores so one shuffle wave; unrecognized
    (cluster) masters: the env CPU count — on a real deployment this is
    overridden to ~2-3x total cluster cores (AQE coalesces the excess)."""
    inner = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
    if master.startswith("local-cluster"):
        # local-cluster[numExecutors, coresPerExecutor, memoryPerExecutorMB]
        n_exec, cores, _mem = (int(x) for x in inner.split(","))
        return n_exec * cores
    if master.startswith("local") and inner:
        return cpus if inner == "*" else int(inner)
    return cpus
