#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload community_sql --seed 1 --seconds 9 --trace 0

Run from the repository root.  The last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the per-layer metrics.  Spans and run details go to
``.bench_out/``.  Exit code 0 means every operation succeeded and every
output matched its reference; 1 means a failed operation or a wrong
result; 2 means the engine could not be imported; 3 means another Spark
JVM was running, so nothing was measured.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

#: per-workload input size, in TPC-H scale-factor units
SCALE = {"community_sql": 0.01, "curation_batch": 0.001, "commit_stream": 0.001}
CPUS = 4


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric with its unit; workloads that do not touch
    a layer report 0 for it."""
    from workloads import CURATION, SHARED

    u = {"session.start_s": "s", "session.table_load_s": "s",
         "session.warmup_s": "s"}
    u.update({f"session.shared.{k}_s": "s" for k in SHARED})
    for k in ("build_s", "plan_s", "exec_s"):
        u[f"queries.{k}_p50"] = "s"
        u[f"queries.{k}_round"] = "s"
    u.update({"queries.jobs": "count", "queries.stages": "count",
              "queries.tasks": "count", "queries.executor_cpu_s": "s",
              "queries.shuffle_bytes": "bytes", "queries.spill_bytes": "bytes"})
    for q in CURATION:
        u[f"datapipe.{q}.wall_s"] = "s"
        u[f"datapipe.{q}.build_s"] = "s"
    u.update({
        "streaming.batch_s_p50": "s", "streaming.batch_s_p90": "s",
        "streaming.add_batch_s": "s", "streaming.plan_s": "s",
        "streaming.offsets_s": "s", "streaming.commit_s": "s",
        "streaming.rows_per_batch": "rows", "streaming.state_rows": "rows",
        "streaming.state_bytes": "bytes", "streaming.backlog_files_max": "files",
        "streaming.generator_late_s": "s",
        "io.sinks.upsert_s_p50": "s", "io.sinks.upsert_s_p90": "s",
        "io.sinks.index_rows": "rows",
        "ops.attempted": "count", "ops.failed": "count", "ops.retried": "count",
        "trace.overhead_s": "s", "trace.request_gap_max_s": "s",
        "mem.peak_rss_mb": "MB",
    })
    return u


E2E_UNITS = {
    "setup_s": "s", "throughput_per_s": "1/s", "capacity_per_s": "1/s",
    "latency_p50_s": "s", "makespan_s": "s",
}


def stop_spark(spark) -> None:
    """Stop the session and wait until the gateway JVM and every other
    process this one started have exited."""
    from pyspark import SparkContext

    from harness import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(os.getpid()):
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["community_sql", "curation_batch", "commit_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="input size override (TPC-H scale-factor units)")
    args = ap.parse_args()

    try:
        from lab_flink_repository_analytics_spark import session as S
        from tools.time_queries import _foreign_spark_jvms

        import workloads as W
        from harness import Ops, RssSampler
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    foreign = _foreign_spark_jvms()
    if foreign:
        print("refusing to measure: another Spark JVM is running:\n  "
              + "\n  ".join(foreign), file=sys.stderr)
        return 3

    import datagen

    scale = args.scale if args.scale is not None else SCALE[args.workload]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    })
    ops = Ops()
    timings = {"start_s": 0.0, "table_load_s": 0.0, "warmup_s": 0.0}
    spark = None
    phases = {}  # wall seconds of every phase of the run, for budgeting
    t_run = time.time()
    try:
        sf_dir = os.path.join(work, "data")
        if args.workload != "commit_stream":
            datagen.write_tables(sf_dir, args.seed, scale)
        phases["datagen_s"] = time.time() - t_run
        with RssSampler() as rss:
            t = time.time()
            spark = S.get_spark(
                app_name=f"bench-{args.workload}", master=f"local[{CPUS}]",
                shuffle_partitions=CPUS,
                extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse")})
            timings["start_s"] = time.time() - t
            if args.workload != "commit_stream":
                t = time.time()
                tables = S.load_tables(spark, sf_dir)
                for name in tables:  # resolve every table's schema and view
                    tables[name]
                timings["table_load_s"] = time.time() - t
            ctx = W.Ctx(spark, sf_dir, work, args.seed, args.seconds,
                        bool(args.trace), ops, timings)
            t = time.time()
            W.WORKLOADS[args.workload](ctx)
            phases["workload_s"] = time.time() - t
            t = time.time()
            canary_end = S.run_canary(spark, reps=1)
            phases["canary_end_s"] = time.time() - t
            t = time.time()
            stop_spark(spark)
            spark = None
            phases["stop_s"] = time.time() - t
        phases["total_s"] = time.time() - t_run
        e2e = dict(ctx.e2e)
        e2e["setup_s"] = sum(timings.values())
        layer = {k: 0.0 for k in per_layer_units()}
        layer.update(ctx.layer)
        layer.update({f"session.{k}": v for k, v in timings.items()})
        layer.update({"ops.attempted": ops.attempted, "ops.failed": ops.failed,
                      "ops.retried": ops.retried, "mem.peak_rss_mb": rss.peak_mb})
        if args.trace:
            with open(os.path.join(out_dir, f"{tag}.spans.jsonl"), "w") as f:
                for s in ctx.tracer.spans:
                    f.write(json.dumps(s) + "\n")
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "scale": scale, "seconds": args.seconds,
                       "canary_start": ctx.canary_start, "canary_end": canary_end,
                       "phases": phases, "setup": timings,
                       "peak_rss_mb": rss.peak_mb,
                       "details": ctx.details, "end_to_end": e2e,
                       "per_layer": layer if args.trace else None,
                       "self_time_s": ctx.tracer.self_times(),
                       "errors": ops.errors}, f, indent=1, default=str)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    for err in ops.errors:
        print(err, file=sys.stderr)
    units = per_layer_units() if args.trace else E2E_UNITS
    values = layer if args.trace else e2e
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if ops.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
