"""SparkSession factory with scale-oriented defaults.

Single place where engine-relevant Spark conf lives, so tests, the
benchmark (perfbench/) and the driver entry all run the same way.
Designed for a multi-executor cluster (AQE on, skew-join handling on,
Arrow batching for the geometry UDFs); tested on local[N].

Python worker start-up is not a conf: ``_worker.py`` keeps a reused
worker from re-reading ``pyspark.zip`` at the start of every task.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "geofileops_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing + skew-join splitting — the Spark-native
        # replacement for the reference's hand-tuned batch sizing
        # (geofileops _geoops_sql.py:4518-4597)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # geometry rows are CPU-heavy per byte: coalesce to ~8MB partitions
        # (the 64MB default starves Python-UDF stages of parallelism)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        # scan splits sized for CPU-heavy UDF pipelines over the modest
        # sandbox files; on a real 100TB table with 128MB+ row groups the
        # defaults (128m/4m) are appropriate instead
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "2m")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transfer for all pandas UDFs (vectorized geometry kernels)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        # generous broadcast threshold: zone/dim layers are small
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # shuffle/spill on tmpfs: the sandbox's overlayfs makes shuffle-file
        # creation syscall-bound; real clusters use fast local SSDs instead
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        # explicit worker reuse: without it every job forks fresh pandas-UDF
        # workers whose post-fork GC copy-on-writes ~100MB each — at 32
        # cores that's a kernel-time storm that INVERTS scaling
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "120")
        # unix domain sockets for JVM<->Python data: measurably lower
        # syscall cost than loopback TCP in this sandbox
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """A small driver-built table: ``rows`` typed by ``schema`` (a
    StructType or DDL string, matched by position), through the Arrow
    ``createDataFrame`` of a pandas frame that :func:`get_spark` enables.

    The result is a LocalRelation, whose rows stay on the driver:
    collecting or broadcasting it runs no Spark job, and Catalyst sizes
    it from its real bytes, so ``pairing.choose`` can broadcast it. A
    frame built from a Python list is an RDD scan instead, which runs a
    job on every collect and has no size estimate. The values are never
    rendered into SQL text, so no id, name or WKB can change the plan.
    The columns are object-typed, so ints past 2**53, Decimals and
    NULLs reach Arrow as they are. An empty ``rows`` gives an empty
    RDD-backed frame."""
    if not rows:
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(pd.DataFrame(rows, dtype=object), schema)
