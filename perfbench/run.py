"""Benchmark of the point-in-time engine: one workload per run.

    python3 perfbench/run.py --workload webtext_dense --seed 1 --seconds 25 --trace 0

Closed loop: one client process at local[nproc] runs one Spark action at
a time; the next starts when the last completes. Only the engine's public
functions are called. Inputs come from ``gen.py`` (seeded, written once
per seed), every op is checked against ``reference.py`` and the last line
of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (tracing.py). The line before it holds
the box context: nproc, memory, load average and a fixed CPU probe's
seconds before and after, CPU time stolen by other guests, versions, the
commit and the seconds of every phase.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")
MIN_WARM_OPS = 4

END_TO_END_UNITS = {"setup_s": "s", "cold_s": "s", "fv_per_s": "1/s", "worker_peak_rss_mb": "MB"}


class Ops:
    """Runs timed actions and checks each one: the row count, the
    checksum (equal on every op) and the sampled rows against the
    reference."""

    def __init__(self, wl, sample: list[str], expected: dict, corrupt: bool = False):
        self.wl = wl
        self.sample = sample
        self.expected = expected
        self.cols = sorted(set(wl.row_id) | set(wl.check) | {wl.leak[0]})
        self.corrupt = corrupt
        self.checksum: str | None = None
        self.attempted = 0
        self.failed = 0

    def run(self, spark) -> float | None:
        """Seconds of plan build plus action, or None when the op failed."""
        from engine import checksum_action
        from reference import compare

        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = self.wl.op(spark)
            n, h, rows = checksum_action(df, self.wl.key, self.sample, self.cols)
            dt = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if self.corrupt:
            _corrupt(rows, self.expected, self.wl.row_id, self.wl.leak[0])
        cmp = compare(rows, self.expected, self.wl.check, self.wl.row_id, self.wl.leak)
        problems = []
        if n != self.wl.rows:
            problems.append(f"rows {n} != {self.wl.rows}")
        if (self.checksum or h) != h:
            problems.append("checksum differs from the first op")
        self.checksum = self.checksum or h
        if cmp["mismatched"] or cmp["missing"] or cmp["leaks"] or not cmp["checked"]:
            problems.append(f"reference check {cmp}")
        if problems:
            print(f"op {self.attempted} failed: {'; '.join(problems)}", file=sys.stderr)
            self.failed += 1
            return None
        return dt


def _corrupt(rows: list[dict], expected: dict, row_id: tuple[str, ...], col: str) -> None:
    """Add one to a count of the first engine row the reference checks."""
    for row in rows:
        if tuple(row[c] for c in row_id) in expected:
            row[col] = (row[col] or 0) + 1
            return


def measured_run(wl, inputs: dict, seconds: float, ops: Ops, phases: dict) -> dict:
    """End-to-end metrics of one fresh JVM, as a spark-submit starts it:
    set-up (JVM launch, session, warm-up, input registration), the cold op,
    then warm ops for ``seconds``; ``fv_per_s`` is the output rows of one
    op over the median warm op time. Every timing lands in ``phases``
    too."""
    from box import WorkerPeakRss, jvm_pid
    from engine import start_session, stop_session, warm_up

    warm = []
    t0 = time.perf_counter()
    spark = start_session(WORK)
    try:
        warm_up(spark)
        wl.register(spark, inputs)
        setup = time.perf_counter() - t0
        with WorkerPeakRss(jvm_pid(spark)) as rss:
            t0 = time.perf_counter()
            ops.run(spark)
            cold = time.perf_counter() - t0
            deadline = time.perf_counter() + seconds
            while time.perf_counter() < deadline or len(warm) < MIN_WARM_OPS:
                dt = ops.run(spark)
                if dt is not None:
                    warm.append(dt)
                elif ops.failed > 2 * MIN_WARM_OPS:
                    break
    finally:
        t0 = time.perf_counter()
        stop_session(spark)
        phases["stop_s"] = time.perf_counter() - t0
    phases.update(setup_s=setup, cold_s=cold, warm_s=warm)
    return {
        "setup_s": setup,
        "cold_s": cold,
        "fv_per_s": wl.rows / statistics.median(warm) if warm else 0.0,
        "worker_peak_rss_mb": rss.peak_mb,
    }


def prepare_env() -> None:
    """Engine and benchmark modules importable by the Python workers; every
    temporary file under the work directory (no JVM perf-data file in
    /tmp); a 3 GB driver heap through the engine's own setting, not its
    16 GB default, on a box whose memory is shared."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "3g"
    for p in (BENCH, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("webtext_dense", "join_sparse"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (1.0 = benchmark size)")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one engine output row before the check (self-test of the check)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "chronon_spark", "__init__.py")):
        print(f"engine package chronon_spark not found under {ROOT}", file=sys.stderr)
        return 2
    prepare_env()
    import numpy as np
    import pyarrow.parquet as pq

    import box
    import gen
    import reference
    import workloads

    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    inputs = gen.ensure_inputs(WORK, args.workload, args.seed, args.scale)
    phases = {"inputs_s": time.perf_counter() - t0}
    rng = np.random.default_rng([args.seed, 7])
    keys = pq.read_table(inputs.get("spine") or inputs["pages"], columns=[wl.key, "ts", "ds"])
    sample = reference.sample_keys(keys, wl.key, rng)
    expected = reference.BUILD[args.workload](inputs, sample, rng)
    phases["reference_s"] = time.perf_counter() - t0 - phases["inputs_s"]
    ops = Ops(wl, sample, expected, corrupt=args.corrupt)
    ctx = box.context(ROOT)
    ctx.update(workload=args.workload, seed=args.seed, scale=args.scale, trace=args.trace,
               loadavg_before=box.loadavg(), cpu_probe_s=[box.cpu_probe_s()])
    steal0 = box.steal_s()
    if args.trace:
        import tracing

        metrics = tracing.traced_run(wl, inputs, ops, WORK, phases)
        units = tracing.PER_LAYER_UNITS
    else:
        metrics = measured_run(wl, inputs, args.seconds, ops, phases)
        units = END_TO_END_UNITS
    ctx["loadavg_after"] = box.loadavg()
    ctx["steal_s"] = box.steal_s() - steal0
    ctx["cpu_probe_s"].append(box.cpu_probe_s())
    ctx["phases"] = phases
    print("context " + json.dumps(ctx))
    print(json.dumps({
        "correct": ops.failed == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
