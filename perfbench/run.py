"""evlake benchmark: one command per workload.

    python3 perfbench/run.py --workload <ev_etl|dashboard|lake_mutations|corpus_prep>
        --seed <n> --seconds <s> --trace <0|1> [--size full|tiny]

Run from the repository root. Generates the workload's inputs from
the seed, starts the engine, sets it up (timed as ``setup_s``), runs
closed loops for ``--seconds``, checks every output, and prints a
report followed by one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Scratch data
lives under ``.perfbench_work/`` and is removed at exit; the last
report and span dump of each workload stay there.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

# Every end-to-end metric; the workload-specific meaning of the
# generic ones is tabled in perfbench/README.md.
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "main_op_s": "s",
    "second_op_s": "s",
    "items_per_s": "1/s",
    "bytes_per_live_byte": "ratio",
}

# Per-layer metrics; layers a workload does not touch report 0.
LAYER_TIMES = {  # self time per traced operation, by span name
    "readers.read_bronze_csv_s": "readers.read_bronze_csv",
    "quality.verification_run_s": "quality.verification_run",
    "silver.run_silver_self_s": "silver.run_silver",
    "writers.write_partitioned_parquet_s": "writers.write_partitioned_parquet",
    "gold.run_gold_self_s": "gold.run_gold",
    "snaptable.create_table_s": "snaptable.create_table",
    "snaptable.overwrite_partitions_s": "snaptable.overwrite_partitions",
    "snaptable.append_s": "snaptable.append",
    "snaptable.merge_into_s": "snaptable.merge_into",
    "snaptable.delete_where_s": "snaptable.delete_where",
    "snaptable.optimize_s": "snaptable.optimize",
    "snaptable.vacuum_s": "snaptable.vacuum",
    "snaptable.read_snapshot_s": "snaptable.read_snapshot",
    "snaptable.scan_s": "snaptable.scan",
    "ddl.execute_sql_s": "ddl.execute_sql",
    "spark.execute_s": "spark.execute",
    "llm_prep.funnel_s": "llm_prep.llm_prep",
    "dedup.minhash_lsh_s": "dedup.minhash_lsh",
}
LAYER_COUNTS = {  # exact state counts at the workload's checkpoint
    "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "snaptable.bytes_rewritten": "bytes",
    "snaptable.live_files": "count",
    "snaptable.manifest_versions": "count",
    "snaptable.dv_positions": "count",
    "snaptable.bytes_on_disk": "bytes",
}
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def start_engine(ctx, cpus: int):
    from ev_charging_sessions_orchestrated_lakehouse_pipeline_spark import session

    tmp = ctx.path("tmp")
    os.makedirs(tmp, exist_ok=True)
    return session.get_spark(
        app_name=f"perfbench-{ctx.workload}",
        master=f"local[{cpus}]",
        conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": ctx.path("spark-local"),
            "spark.sql.warehouse.dir": ctx.path("warehouse"),
            # no hsperfdata file under /tmp: the run writes only in the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem",
        },
    )


def stop_engine(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def layer_metrics(ctx, wl, since: float, overhead_before: float) -> dict:
    """Per-layer metrics of a traced run: span times per operation of
    the measured window, state counts, and the time spent tracing."""
    tr = ctx.tracer
    self_t = tr.self_times(since)
    ops = max(ctx.ops, 1)
    out = {name: (self_t.get(span, 0.0) / ops, "s") for name, span in LAYER_TIMES.items()}
    out["session.get_spark_s"] = (tr.totals().get("session.get_spark", 0.0), "s")
    out["gold.rerun_s"] = (tr.totals(since).get("etl.gold_rerun", 0.0) / ops, "s")
    commits = tr.totals(since, parent="llm_prep.llm_prep")
    out["llm_prep.survivor_commit_s"] = (
        (commits.get("snaptable.create_table", 0.0) + commits.get("snaptable.overwrite_table", 0.0)) / ops,
        "s",
    )
    planned = ctx.samples.get("plan.files", [])
    kept = ctx.samples.get("plan.kept", [])
    out["snaptable.files_planned_per_query"] = (sum(planned) / len(planned) if planned else 0.0, "count")
    out["snaptable.files_kept_ratio"] = (sum(kept) / len(kept) if kept else 0.0, "ratio")
    for name, unit in LAYER_COUNTS.items():
        out[name] = (float(wl.state.get(name, 0)), unit)
    out["trace.overhead_s"] = ((tr.overhead_s - overhead_before) / ops, "s")
    return out


def fmt(v: float) -> str:
    return "nan" if isinstance(v, float) and math.isnan(v) else f"{v:.6g}"


def run(args) -> int:
    try:
        import workloads
        from harness import Ctx
        from spans import Tracer
    except ImportError as e:  # not a checkout of the engine
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # options of the short-lived launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:+PerfDisableSharedMem"
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args.workload, args.seed, args.size, work, tracer)
    wl = workloads.WORKLOADS[args.workload](ctx)
    cpus = len(os.sched_getaffinity(0))
    try:
        t = time.perf_counter()
        wl.inputs()
        gen_s = time.perf_counter() - t
        if args.trace:
            tracer.install()
        t0 = time.perf_counter()
        ctx.spark = start_engine(ctx, cpus)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.cleanup_setup()

        since, overhead_before = time.perf_counter(), tracer.overhead_s
        wl.measure(args.seconds, wl.min_steps)
        wl.finish()
        metrics = {**wl.contract(), "setup_s": setup_s}
        metrics["peak_rss_mb"] = ctx.peak_rss_mb()
        stop_engine(ctx.spark)
    except Exception:
        traceback.print_exc()
        tracer.uninstall()
        if ctx.spark is not None:
            stop_engine(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1

    ctx.put("setup_s", setup_s, "s")
    ctx.put("peak_rss_mb", metrics["peak_rss_mb"], "MB")
    ctx.put("ops_failed_ratio", ctx.failed / max(ctx.attempted, 1), "ratio", ctx.attempted)
    ctx.put("input_generation_s", gen_s, "s")
    if args.trace:
        out = layer_metrics(ctx, wl, since, overhead_before)
        tracer.write(os.path.join(base, f"spans-{args.workload}.jsonl"))
    else:
        out = {k: (metrics[k], u) for k, u in E2E_UNITS.items()}

    print(f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} run={run_id}")
    for name, (value, unit, n) in sorted(ctx.report.items()):
        print(f"{name} = {fmt(value)} {unit}" + (f" (n={n})" if n is not None else ""))
    for name, value in sorted(wl.state.items()):
        print(f"state {name} = {value}")
    for msg in ctx.errors[:10]:
        print(f"error: {msg.splitlines()[0]}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out.items()},
    }
    with open(os.path.join(base, f"report-{args.workload}.json"), "w") as fh:
        json.dump(
            {"report": ctx.report, "state": wl.state, "samples": ctx.samples, "result": result},
            fh,
            indent=1,
        )
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
