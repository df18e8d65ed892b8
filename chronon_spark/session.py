"""SparkSession builder tuned for the engine.

Mirrors the intent of the reference's session setup
(spark/src/main/scala/ai/chronon/spark/SparkSessionBuilder.scala:56-62 —
catalog + shuffle + serializer configs) but is pure-PySpark: UTC session
time, AQE on (runtime re-plan, skew-join splitting), Arrow on (all our
pandas kernels are Arrow-batched).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def box_heap() -> str:
    """Half the box's memory in whole GB, at most 32g: the JVM gets a
    large heap, while the Python workers and the OS need the rest of the
    box."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "32g"
    return f"{min(32, max(1, kb // 2 // 2**20))}g"


def build_session(
    app_name: str = "chronon_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    cores = len(os.sched_getaffinity(0))
    if shuffle_partitions is None:
        # local mode: one shuffle partition per core this process may use
        # is the sweet spot; AQE coalesces further at runtime. On a real
        # cluster this would be 2-3x total executor cores (set via
        # spark-submit conf).
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cores))
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # dynamic partition overwrite = Chronon's insertPartitions overwrite
        # semantics (TableUtils.scala:546-600) on plain parquet tables.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # ds partition values stay strings (engine contract: ds string
        # yyyy-MM-dd, TableUtils.scala:343-347)
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or box_heap())
        # PySpark 4's DataFrame-debugging captures a Python stack trace on
        # EVERY DataFrame/Column API call (inspect.currentframe walk + a
        # per-call origin string shipped over py4j; first use even imports
        # IPython) purely to enrich error messages with user call sites.
        # Measured ~30-40% of plan-CONSTRUCTION time for the wide temporal
        # plans. Batch-engine trade: errors lose the user-code line, plans
        # build materially faster.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # keep post-shuffle parallelism: default 64MB advisory target
        # collapses small-SF stages to a handful of tasks
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # allow co-partitioned joins when ONE side is already hash-laid-out
        # on a subset of the join keys (e.g. a bucketed-by-url table joined
        # on (url, ts, hash)): only the other side shuffles, the bucketed
        # scan keeps zero exchanges — the point of provisioning bucketed
        # tables for the flagship payload join
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
