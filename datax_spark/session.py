"""SparkSession factory.

Replaces DataX's Engine bootstrap (reference:
``core/src/main/java/com/alibaba/datax/core/Engine.java:40-88`` — bind
ColumnCast defaults, pick container, start trace). Here the analogous
job-wide defaults are session confs: UTC session timezone (DataX defaults
GMT+8 via ``core/src/main/conf/core.json`` ``common.column.timeZone``; we
standardize on UTC and make offsets explicit in tests), Arrow-enabled
pandas UDFs, and AQE for runtime skew handling.

The session sets no Parquet codec: the lake table owns it
(``lake.table.PARQUET_CODEC``, zstd) and passes it as a writer option on
every file the engine writes, so a table's bytes are the same under this
factory and under a caller's bare session. Writers a job configures
(``config.py``'s ``parquetwriter`` / ``txtfilewriter``) keep the session
default or their own ``compress`` option.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# Session confs the engine's CORRECTNESS surface depends on (as opposed
# to the perf confs below, which merely make it fast). Two independent
# incidents proved a caller's bare ``SparkSession.builder.getOrCreate()``
# silently breaks features that rely on these: INT96 parquet timestamps
# (Spark's legacy default) carry NO column statistics, so zone-map /
# per-file lsn capture from footers records nothing and range pruning
# degrades to "keep everything" — or worse, a query asserting pruning
# fails outright. These are runtime SQL confs, so engine entry points
# (LakeTable writes) pin them on whatever session they are handed via
# :func:`ensure_engine_confs` instead of trusting the session factory.
ENGINE_CORRECTNESS_CONFS = {
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ensure_engine_confs(spark: SparkSession) -> None:
    """Pin correctness-critical runtime SQL confs on ``spark``.

    Idempotent and cheap (conf get/set only). Called from engine entry
    points whose behavior would silently change under a session that was
    not built by :func:`get_spark` — e.g. ``LakeTable.write_data_files``
    needs MICROS parquet timestamps so footer statistics exist for
    manifest zone maps. MICROS is Spark's own internal representation,
    so the round-trip is exact and the pin never changes row values.
    """
    for k, v in ENGINE_CORRECTNESS_CONFS.items():
        try:
            cur = spark.conf.get(k)
        except Exception:
            cur = None
        if cur != v:
            spark.conf.set(k, v)


def get_spark(
    app_name: str = "datax_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parallelism maps DataX's channel count
    (``core/.../job/JobContainer.java:416-486`` adjustChannelNumber) onto
    ``master=local[N]`` threads + ``spark.sql.shuffle.partitions``. On a
    real cluster the same code runs unchanged under ``spark-submit
    --py-files``; only master/memory confs differ.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nparts = shuffle_partitions or int(
        os.environ.get("DATAX_SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(nparts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Binary-heavy pipelines: Spark 4.1's scalar pandas_udf runner
        # degrades super-linearly with Arrow batch BYTES on multi-KB
        # binary columns (measured: 10k-row × 3KB batches 7× slower than
        # 1k-row). Cap rows/batch so a batch stays a few MB.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("DATAX_SPARK_ARROW_BATCH", "1024"),
        )
        .config("spark.driver.memory", os.environ.get("DATAX_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "32")
        # zstd for shuffle/spill/broadcast IO: the merge pipeline is
        # shuffle-byte-heavy (KB-scale page payloads), and zstd's better
        # ratio trades spare CPU for scarce interconnect/DRAM bandwidth.
        # Interleaved same-session A/B on the 3.2M-event bulk replay
        # (8 arms, both orderings): zstd won 3/4 pairs, min 32.75 s vs
        # lz4 34.15 s, medians 33.8 vs 37.0 s (see BENCH.md). Override
        # via extra_conf for CPU-starved deployments.
        .config("spark.io.compression.codec", os.environ.get("DATAX_SPARK_IO_CODEC", "zstd"))
    )
    for k, v in ENGINE_CORRECTNESS_CONFS.items():
        builder = builder.config(k, v)
    # generic env passthrough for A/B harnesses driving fresh-subprocess
    # sessions (e.g. bench.py --replay-child): "k=v;k=v"
    for pair in filter(None, os.environ.get("DATAX_SPARK_EXTRA_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Stop the active session (used by the two-parallelism bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
