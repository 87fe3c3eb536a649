"""Benchmark of the engine: three closed-loop workloads on
``local[<cores>]`` from one driver process.

    python3 perfbench/run.py --workload etl_batch_x4 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
and staged under ``perfbench/.work`` (reused by later runs with the
same seed); everything the run writes stays under that directory.

The last stdout line is one JSON object: ``correct`` (every output
matched its oracle), ``attempted`` and ``failed`` (query forces,
drains and reads, verification included) and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is the run record (box state,
per-operation latency median and its sample count, errors); the
traced run also writes its spans and the per-layer attribution to
``perfbench/.work/out/trace-<workload>-seed<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "financial_tracker_etl_spark"
KEEP_STAGED = 48  # staged input sets kept between runs
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pass_wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout; run on all cores this process may use."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(tmp, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # A fixed 2 GiB heap in place of the engine's default (an 8 GiB
    # maximum, grown from 1/64 of physical memory): the collector grows
    # the heap at varying points, so peak memory differed by up to a
    # third between runs of the same workload. No workload spills at
    # either size.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData"
    # no perf-data file under /tmp, from the driver JVM nor from
    # spark-submit's launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}") + " pyspark-shell"
    )


T0 = time.perf_counter()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found next to "
              f"{os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; have "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    prepare_env(tmp)

    import bench
    import gen
    import measure
    from context import Context

    wl = workloads.WORKLOADS[args.workload]
    t0 = time.perf_counter()
    wl.stage(os.path.join(WORK, "inputs"), args.seed, tmp)
    stage_s = time.perf_counter() - t0
    load0 = [round(x, 2) for x in os.getloadavg()]
    steal0 = bench.cpu_steal_snapshot()
    out = workloads.Outcome()
    from financial_tracker_etl_spark.session import get_spark

    rss = measure.RssSampler()
    spark = ctx = None
    try:
        with rss:
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            out.session_s = time.perf_counter() - t0
            ctx = Context(spark, args.workload, args.seed, WORK, tmp, bool(args.trace))
            wl.run(ctx, out, args.seconds, bool(args.trace))
    finally:
        if ctx is not None:
            ctx.close()
        if spark is not None:
            cpus = spark.sparkContext.defaultParallelism
            gen.stop_session(spark)
    box = measure.box_state(cpus, steal0, bench.cpu_steal_snapshot(), load0)
    # the oracles run after the memory sampler and the JVM stop:
    # DuckDB's memory is not the engine's
    t0 = time.perf_counter()
    wl.verify(out)
    verify_s = time.perf_counter() - t0
    gen.prune(os.path.join(WORK, "inputs"), KEEP_STAGED)
    shutil.rmtree(tmp, ignore_errors=True)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "box": box,
        "pass_walls": [round(w, 3) for w in out.pass_wall],
        # per query force, or per micro-batch trigger; too few samples
        # in a run for a tail percentile, so only the median is kept
        "latency_samples": len(out.latencies_ms),
        "latency_p50_ms": (
            round(statistics.median(out.latencies_ms), 3) if out.latencies_ms else None
        ),
        "wrong_results": out.wrong,
        "error_rate": out.failed / max(1, out.attempted),
        "errors": out.errors[:20],
        "stage_s": round(stage_s, 3),
        "session_s": round(out.session_s, 3),
        "warm_s": round(out.warm_s, 3),
        "verify_s": round(verify_s, 3),
        "total_s": round(time.perf_counter() - T0, 3),
    }
    if args.trace:
        metrics = ctx.layer_metrics(out)
        record["attribution"] = ctx.attribution
        path = ctx.write_trace(out, record)
        record["trace_file"] = os.path.relpath(path, ROOT)
    else:
        metrics = end_to_end(out, rss.peak)
    print(json.dumps({"perfbench_record": record}))
    print(json.dumps({
        "correct": out.wrong == 0 and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


def end_to_end(out, peak_rss_mb: float) -> dict:
    if not out.pass_wall:
        raise SystemExit("perfbench: no measured pass completed")
    values = {
        "setup_s": out.session_s + out.warm_s,
        "pass_wall_s": statistics.median(out.pass_wall),
        "cpu_s": statistics.median(out.pass_cpu),
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}


if __name__ == "__main__":
    sys.exit(main())
