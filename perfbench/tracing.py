"""The traced run: per-layer numbers, never used for end-to-end metrics.

1. An untraced session (UI off) in a fresh JVM times the set-up's parts
   (``session.start_s`` includes the JVM launch) and runs the workload's
   cold op and one warm op: ``spark.codegen_s`` is cold minus warm, and
   the warm op is the base of ``trace.overhead_s``.
2. A traced session in the same JVM (UI on, REST API on localhost)
   labels every job it triggers with
   ``setJobGroup("<workload>.<module>.<phase>")``. It times each layer's
   public function from outside, each as its own action on materialized
   inputs, and reads per-stage run time, shuffle, spill, GC and task
   times of each group from the REST API.
3. One more op of the workload (and, on join_sparse, one more fetch) runs
   under the PySpark UDF profiler (``spark.sql.pyspark.udf.profiler=perf``),
   which gives Python seconds and kernel call counts per module; the
   profiler inflates wall time, so no time in this step is reported as a
   wall time.

join_sparse also carries the upload layer: ``group_by_upload`` over its
page log and ``fetch_features`` of its request batch. Layers a workload
does not exercise report 0.
"""

from __future__ import annotations

import json
import os
import re
import time
import urllib.request
from contextlib import contextmanager

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MB = 1024 * 1024

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "sources.scan_s": "s",
    "sources.input_mb": "MB",
    "features.s": "s",
    "features.shuffle_mb": "MB",
    "pipelines.plan_s": "s",
    "pipelines.plan_jobs": "count",
    "pipelines.payload_shuffle_mb": "MB",
    "temporal.plan_s": "s",
    "temporal.s": "s",
    "temporal.python_s": "s",
    "temporal.python_calls": "count",
    "temporal.shuffle_mb": "MB",
    "temporal.task_skew": "ratio",
    "tiled.s": "s",
    "tiled.python_s": "s",
    "tiled.python_calls": "count",
    "tiled.tile_rows": "count",
    "tiled.shuffle_mb": "MB",
    "groupby.s": "s",
    "groupby.shuffle_mb": "MB",
    "join.plan_s": "s",
    "join.part_s": "s",
    "join.jobs": "count",
    "join.exchanges": "count",
    "upload.build_s": "s",
    "upload.rows": "count",
    "upload.fetch_s": "s",
    "upload.fetch_python_s": "s",
    "upload.fetch_python_calls": "count",
    "spark.codegen_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "spark.tasks": "count",
    "spark.exchanges": "count",
    "spark.jvm_peak_rss_mb": "MB",
    "trace.overhead_s": "s",
}

# kernel module -> (python seconds metric, call count metric)
KERNEL_METRICS = {
    "temporal": ("temporal.python_s", "temporal.python_calls"),
    "tiled": ("tiled.python_s", "tiled.python_calls"),
    "upload": ("upload.fetch_python_s", "upload.fetch_python_calls"),
}


class Rest:
    """Stage metrics of one job group from the Spark REST API."""

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group(self, name: str) -> dict:
        # the status store is fed asynchronously: wait until the group's
        # jobs are all finished and their number stops changing
        jobs, seen = [], -1
        for _ in range(100):
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") == name]
            if len(jobs) == seen and all(j["status"] != "RUNNING" for j in jobs):
                break
            seen = len(jobs)
            time.sleep(0.1)
        ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self.get("/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]
        g = {
            "jobs": len(jobs),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000,
            "shuffle_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
            "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
            # exchanges Spark ran: stages that wrote shuffle output
            "exchanges": sum(1 for s in stages if s["shuffleWriteBytes"] > 0),
            "skew": 0.0,
        }
        if stages:
            top = max(stages, key=lambda s: s["executorRunTime"])
            q = self.get(f"/stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,1.0")
            med, mx = q["executorRunTime"]
            g["skew"] = mx / med if med else 0.0
        return g


class Tracer:
    """Job groups named ``<workload>.<module>.<phase>``; each group yields
    its wall seconds and, after it closes, its REST stage metrics."""

    def __init__(self, spark: SparkSession, workload: str):
        self.spark = spark
        self.workload = workload
        self.rest = Rest(spark)

    @contextmanager
    def group(self, module: str, phase: str):
        name = f"{self.workload}.{module}.{phase}"
        sc = self.spark.sparkContext
        sc.setJobGroup(name, name)
        out = {}
        t0 = time.perf_counter()
        try:
            yield out
        finally:
            out["s"] = time.perf_counter() - t0
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        out.update(self.rest.group(name))


def noop(df: DataFrame) -> None:
    """Materialize every column without collecting."""
    df.write.format("noop").mode("overwrite").save()


def exchanges(df: DataFrame) -> int:
    """Exchange operators in the physical plan of ``df``."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"\b(?:Broadcast)?Exchange ", plan))


def _materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    return df


def _webtext_layers(t: Tracer, wl, m: dict) -> None:
    from chronon_spark.pipelines.webtext import WEBTEXT_GROUPBY, backfill_features, enrich_pages
    from chronon_spark.operators.temporal import temporal_events

    spark = t.spark
    with t.group("sources", "materialize"):
        slim = _materialize(wl.pages.select("url", "ts", "ds", F.length("text").alias("text_len"), "lang"))
    with t.group("features", "enrich") as g:
        noop(enrich_pages(slim))
    m["features.s"], m["features.shuffle_mb"] = g["s"], g["shuffle_mb"]
    with t.group("features", "materialize"):
        left = _materialize(enrich_pages(slim))
    with t.group("temporal", "plan") as g:
        feats = temporal_events(spark, WEBTEXT_GROUPBY, left, slim.select("url", "ts", "text_len", "lang"),
                                mode="raw", passthrough=True)
    m["temporal.plan_s"] = g["s"]
    with t.group("temporal", "run") as g:
        noop(feats)
    m["temporal.s"], m["temporal.shuffle_mb"], m["temporal.task_skew"] = g["s"], g["shuffle_mb"], g["skew"]
    with t.group("pipelines", "plan") as g:
        backfill_features(spark, wl.pages)
    m["pipelines.plan_s"], m["pipelines.plan_jobs"] = g["s"], g["jobs"]


def _join_layers(t: Tracer, wl, m: dict) -> None:
    from chronon_spark.api.types import JoinPart
    from chronon_spark.operators.groupby import snapshot_events
    from chronon_spark.operators.join import ROW_UID, compute_join_part, join_backfill
    from chronon_spark.operators.tiled import build_tile_frame, temporal_events_tiled
    from chronon_spark.sources.scan import render_source, shift_ds

    spark = t.spark
    start, end = wl.start_ds, wl.end_ds
    with t.group("sources", "materialize"):
        events = _materialize(render_source(spark, wl.gb_t.sources[0], wl.gb_t, start, end))
        left = _materialize(render_source(spark, wl.join.left, None, start, end)
                            .withColumn(ROW_UID, F.monotonically_increasing_id()))
    with t.group("tiled", "tiles"):
        m["tiled.tile_rows"] = build_tile_frame(wl.gb_t, events).count()
    with t.group("tiled", "run") as g:
        noop(temporal_events_tiled(spark, wl.gb_t, left.select("url", "ts", "query_id"), events))
    m["tiled.s"], m["tiled.shuffle_mb"] = g["s"], g["shuffle_mb"]
    with t.group("groupby", "snapshot") as g:
        noop(snapshot_events(spark, wl.gb_s, events, shift_ds(start, -1), shift_ds(end, -1)))
    m["groupby.s"], m["groupby.shuffle_mb"] = g["s"], g["shuffle_mb"]
    part_s = 0.0
    for gb in (wl.gb_t, wl.gb_s):
        with t.group("join", f"part_{gb.name}") as g:
            feats, _ = compute_join_part(spark, left, JoinPart(gb), start, end)
            noop(feats)
        part_s += g["s"]
    m["join.part_s"] = part_s
    with t.group("join", "plan") as g:
        out = join_backfill(spark, wl.join, start, end)
    m["join.plan_s"] = g["s"]
    m["join.exchanges"] = exchanges(out)


def _upload_layers(t: Tracer, m: dict, inputs: dict, artifact: str):
    """Write side and read side of serving over the page log: the upload
    artifact at the boundary before the last day, then one request batch
    fetched against it plus the streamed last day. Returns the function
    that builds the fetch plan, which runs again under the profiler."""
    from chronon_spark.operators.upload import fetch_features, group_by_upload
    from gen import DAYS, MS_DAY, T0, ds_of
    from workloads import UPLOAD_GB

    spark = t.spark
    end_ds = str(ds_of(np.array([T0 + (DAYS - 2) * MS_DAY]))[0])
    events = spark.read.parquet(inputs["pagelog"])
    with t.group("upload", "build") as g:
        group_by_upload(spark, UPLOAD_GB, events, end_ds).write.mode("overwrite").parquet(artifact)
    m["upload.build_s"] = g["s"]
    uploaded = spark.read.parquet(artifact)
    m["upload.rows"] = uploaded.count()

    def fetch() -> DataFrame:
        head = events.filter(F.col("ts") >= T0 + (DAYS - 1) * MS_DAY)
        return fetch_features(spark, UPLOAD_GB, uploaded, head, spark.read.parquet(inputs["requests"]), end_ds)

    with t.group("upload", "fetch") as g:
        noop(fetch())
    m["upload.fetch_s"] = g["s"]
    return fetch


def _kernel_profile(spark: SparkSession, m: dict) -> None:
    """Python seconds and calls of each UDF's outermost kernel function,
    credited to the kernel module it lives in."""
    for stats in spark._profiler_collector._perf_profile_results.values():
        best = None
        for (fname, _, _), (_, nc, _, ct, _) in stats.stats.items():
            # worker frames name the file by its base name only
            mod = os.path.basename(fname).removesuffix(".py")
            if mod in KERNEL_METRICS and (best is None or ct > best[2]):
                best = (mod, nc, ct)
        if best:
            s_name, n_name = KERNEL_METRICS[best[0]]
            m[s_name] += best[2]
            m[n_name] += best[1]


def traced_run(wl, inputs: dict, ops, work: str, phases: dict) -> dict:
    from box import jvm_pid, peak_rss_mb
    from engine import start_session, stop_session, warm_up

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    t0 = time.perf_counter()
    spark = start_session(work)
    m["session.start_s"] = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setJobGroup(f"{wl.name}.session.warmup", "")
        t0 = time.perf_counter()
        warm_up(spark)
        m["session.warmup_s"] = time.perf_counter() - t0
        wl.register(spark, inputs)
        sc.setJobGroup(f"{wl.name}.main.cold", "")
        cold = ops.run(spark)
        sc.setJobGroup(f"{wl.name}.main.untraced", "")
        warm = ops.run(spark)
        # the traced session below runs in this JVM
        spark.stop()
    except BaseException:
        stop_session(spark)
        raise
    m["spark.codegen_s"] = (cold or 0.0) - (warm or 0.0)
    phases.update(cold_s=cold, warm_s=warm)

    spark = start_session(work, ui=True)
    try:
        t = Tracer(spark, wl.name)
        wl.register(spark, inputs)
        with t.group("sources", "scan") as g:
            for path in inputs.values():
                noop(spark.read.parquet(path))
        m["sources.scan_s"] = g["s"]
        m["sources.input_mb"] = sum(
            os.path.getsize(os.path.join(d, f)) for d in inputs.values() for f in os.listdir(d)
        ) / MB
        fetch = None
        if wl.name == "webtext_dense":
            _webtext_layers(t, wl, m)
        else:
            _join_layers(t, wl, m)
            fetch = _upload_layers(t, m, inputs, os.path.join(work, "artifact"))
        with t.group("main", "warm") as g:
            traced = ops.run(spark)
        m["trace.overhead_s"] = (traced or 0.0) - (warm or 0.0)
        for k in ("gc_s", "spill_mb", "tasks", "exchanges"):
            m[f"spark.{k}"] = g[k]
        if wl.name == "webtext_dense":
            # what the whole pipeline shuffles beyond its window-feature and
            # kernel stages: the text payload join
            m["pipelines.payload_shuffle_mb"] = max(
                0.0, g["shuffle_mb"] - m["features.shuffle_mb"] - m["temporal.shuffle_mb"])
        if wl.name == "join_sparse":
            m["join.jobs"] = g["jobs"]
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
        with t.group("main", "profiled"):
            ops.run(spark)
        if fetch is not None:
            with t.group("upload", "profiled"):
                noop(fetch())
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
        _kernel_profile(spark, m)
        m["spark.jvm_peak_rss_mb"] = peak_rss_mb(jvm_pid(spark))
    finally:
        stop_session(spark)
    return m
