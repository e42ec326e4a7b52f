"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_backfill --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed`` (cached under
``perfbench/_work``; generation counts toward no metric), starts Spark
with ``min(3, nproc - 1)`` worker threads, runs the workload through the
program's public functions, checks its outputs and prints one JSON
object as the last line of stdout.  ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (from spans around
the benchmark's calls, the streams' progress reports, artifact
directories and a Spark event log).  A failed output check prints the
errors to stderr, reports ``"correct": false`` and exits with code 1.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "real_time_cdc_analytics_pipeline_with_clickhouse_spark"
WORKLOADS = ("cdc_backfill", "cdc_stream")

END_TO_END = {
    "setup_s": "s",
    "ingest_per_s": "1/s",
    "batch_p50_s": "s",
    "query_p50_s": "s",
}

SPARK_GROUPS = (
    "backfill.scan", "backfill.unwrap_eng", "backfill.unwrap_ct", "backfill.compact_dim",
    "backfill.enrich", "backfill.hourly", "backfill.dedup",
    "stream.dim", "stream.warehouse", "stream.queries",
)
SPARK_UNITS = {
    "task_s": "s", "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "jvm_gc_s": "s", "jobs": "count",
}
PER_LAYER = {
    # cdc_backfill
    "sources.scan_s": "s",
    "operators.cdc.unwrap_engagement_s": "s",
    "operators.cdc.unwrap_content_s": "s",
    "operators.cdc.rows_dropped": "count",
    "operators.enrich.compact_dim_latest_s": "s",
    "operators.enrich.enrich_events_s": "s",
    "operators.rollups.hourly_rollup_s": "s",
    "operators.rollups.dedup_latest_event_version_s": "s",
    # cdc_stream
    "streaming.pipeline.add_batch_s": "s",
    "streaming.pipeline.query_planning_s": "s",
    "streaming.pipeline.wal_commit_s": "s",
    "streaming.pipeline.latest_offset_s": "s",
    "streaming.pipeline.first_batch_s": "s",
    "streaming.pipeline.last_batch_s": "s",
    "streaming.pipeline.maintain_dim_table.batch_s": "s",
    "lakehouse.merge_upsert.files_written_per_batch": "count",
    "lakehouse.merge_upsert.bytes_written_per_batch": "bytes",
    "warehouse.table_files": "count",
    "warehouse.table_bytes": "bytes",
    "operators.rollups.wh_hourly_rollup_s": "s",
    "operators.rollups.wh_last_write_wins_s": "s",
    "operators.rollups.wh_trending_recent_s": "s",
    "operators.rollups.wh_user_leaderboard_s": "s",
    # every workload
    "peak_rss_mb": "MB",
    "trace.rounds_s": "s",
    "trace.unaccounted_s": "s",
}
PER_LAYER.update(
    {f"spark.{g}.{m}": u for g in SPARK_GROUPS for m, u in SPARK_UNITS.items()}
)


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


def spark_env(work: str, cpus: int, event_log: str | None) -> None:
    """Point every scratch path of Spark and the JVM into ``work`` and
    fix the worker count; the program's ``get_spark`` reads these.  The
    shuffle partition count stays the program's own."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": "3g",
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": tmp,
        }
    )
    os.environ.pop("SPARK_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    tempfile.tempdir = tmp
    confs = {"spark.ui.showConsoleProgress": "false"}
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = "file://" + event_log
        # one plain JSON-lines file
        confs["spark.eventLog.rolling.enabled"] = "false"
        confs["spark.eventLog.compress"] = "false"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f'--driver-java-options "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"')
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    t_proc = process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"the package {PACKAGE} is not importable from {ROOT}", file=sys.stderr)
        return 2

    sys.path.insert(0, HERE)
    import workloads as W
    from spans import Tracer, peak_rss_mb, spark_by_group

    work = os.path.join(HERE, "_work")
    os.makedirs(work, exist_ok=True)
    t_inputs = time.time()
    if args.workload == "cdc_backfill":
        inp = W.backfill_inputs(args.seed, os.path.join(work, "inputs"))
    else:
        inp = W.stream_inputs(args.seed, W.stream_base(os.path.join(work, "stream_base")))
    t_spark = time.time()

    # one core stays free for the Python process, the JIT compiler and
    # GC threads; with every core running tasks, pass times swung by 20%
    cpus = min(3, max(1, len(os.sched_getaffinity(0)) - 1))
    run_id = f"{args.workload}-{args.seed}-{int(t_proc)}"
    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)
    spark_env(work, cpus, event_log)
    from real_time_cdc_analytics_pipeline_with_clickhouse_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t_ready = time.time()
    setup_s = (t_inputs - t_proc) + (t_ready - t_spark)

    tracer = Tracer(bool(args.trace), run_id)
    ctx = W.Ctx(spark, args.seed, args.seconds, work, tracer)
    try:
        run = {"cdc_backfill": W.run_backfill, "cdc_stream": W.run_stream}
        with tracer.span("run"):
            res = run[args.workload](ctx, inp)
        if args.trace:
            pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
            ctx.layer["peak_rss_mb"] = peak_rss_mb(pids)
    finally:
        stop_spark(spark)

    attempted = sum(ctx.counts.values())
    print(
        f"# {args.workload} seed={args.seed} cpus={cpus} inputs_s={t_spark - t_inputs:.2f} "
        f"attempted={ctx.counts} failed=0",
        file=sys.stderr,
    )
    for e in res["errors"]:
        print("CHECK FAILED: " + e, file=sys.stderr)

    if args.trace:
        layer = dict.fromkeys(PER_LAYER, 0.0)
        layer.update(ctx.layer)
        groups = spark_by_group(event_log, tracer)
        if args.workload == "cdc_backfill":
            groups = W.backfill_spark_layers(groups)
        for g, vals in groups.items():
            for m, v in vals.items():
                if f"spark.{g}.{m}" in layer:
                    layer[f"spark.{g}.{m}"] = v
        rounds = [s for s in tracer.spans if s["name"] == "round"]
        top = [s for s in tracer.spans if s["parent"] in {r["id"] for r in rounds}]
        layer["trace.rounds_s"] = sum(s["end"] - s["start"] for s in rounds)
        layer["trace.unaccounted_s"] = layer["trace.rounds_s"] - sum(s["end"] - s["start"] for s in top)
        tracer.write(os.path.join(work, "traces", run_id + ".jsonl"))
        self_t = tracer.self_times()
        print("# self times: " + json.dumps({k: round(v, 4) for k, v in self_t.items()}), file=sys.stderr)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        res["setup_s"] = setup_s
        metrics = {k: {"value": res[k], "unit": u} for k, u in END_TO_END.items()}
    correct = not res["errors"]
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": 0, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
