"""Session start, warm-up and the checked action every timed op runs."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def start_session(work: str, ui: bool = False) -> SparkSession:
    """The engine's ``build_session`` at local[nproc], with every file the
    JVM writes kept under ``work`` (JVM heap and temp dir: run.prepare_env).
    Launches the JVM when none is running."""
    from chronon_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        conf.update({"spark.ui.port": "0", "spark.ui.retainedJobs": "5000",
                     "spark.ui.retainedStages": "10000"})
    spark = build_session(app_name="perfbench", master=f"local[{os.cpu_count()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession) -> None:
    """Stop the session and its JVM and wait until the JVM has exited, so
    that the next ``start_session`` launches a fresh JVM, as every
    spark-submit does."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.close()
    # the gateway JVM exits when its standard input closes
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


def warm_up(spark: SparkSession) -> None:
    """Small jobs through Spark's generic paths, none of them a workload's
    query: a JVM aggregate; a shuffle with a window, an aggregate and a
    join; Arrow batches and a grouped pandas function through the Python
    workers."""
    from pyspark.sql import Window

    spark.range(200_000).selectExpr("sum(id * 3)").collect()
    df = spark.range(0, 40_000, 1, os.cpu_count()).selectExpr("id % 97 AS k", "id AS v")
    lagged = df.withColumn("lag", F.lag("v").over(Window.partitionBy("k").orderBy("v")))
    lagged.join(df.groupBy("k").agg(F.max("v").alias("m")), "k").selectExpr("count(*)", "sum(lag)").collect()

    def ident(batches):
        yield from batches

    df.mapInArrow(ident, df.schema).selectExpr("count(*)").collect()
    df.groupBy("k").applyInPandas(lambda pdf: pdf.head(1), "k long, v long").selectExpr("count(*)").collect()


def _hashable(field: T.StructField):
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, T.MapType):
        return F.array_sort(F.map_entries(c))
    return c


def checksum_action(df: DataFrame, key: str, sample: list[str], check_cols: list[str]):
    """One action that reads every output column: row count, an
    order-independent checksum over all columns, and the rows of the
    sampled keys (only ``check_cols``) for the reference check."""
    fields = df.schema.fields
    h = F.xxhash64(*[_hashable(f) for f in fields]).cast("decimal(20,0)")
    pick = F.when(F.col(key).isin(sample), F.struct(*[F.col(c) for c in check_cols]))
    r = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"), F.collect_list(pick).alias("rows")).first()
    return r["n"], str(r["h"]), [row.asDict(recursive=True) for row in r["rows"]]
