"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload backfill_views --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a checkout of the repository.  ``--trace 0`` measures
the end-to-end metrics with tracing off; ``--trace 1`` is a separate run
that records job groups, a Spark event log and a streaming listener and
reports the per-layer metrics instead.  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
All files the run writes go under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

_T_SCRIPT = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"

# end-to-end metrics (untraced run), reported by every workload
E2E = {
    "setup_s": "s", "peak_rss_mb": "MB", "full_sync_s": "s",
    "ingest_events_per_s": "events/s", "apply_p50_s": "s",
    "bytes_per_user_byte": "ratio", "freshness_p50_s": "s",
    "freshness_p90_s": "s", "lookup_p50_s": "s", "scan_mor_s": "s",
    "compact_s": "s",
}
WORKLOADS = ("backfill_views", "live_tail")
# per-layer metrics (traced run), reported by every workload; a layer the
# workload does not drive reads 0
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.parse_cpu_s": "s", "sources.input_bytes_per_event": "B/event",
    "streaming.trigger_s": "s", "streaming.plan_s": "s",
    "streaming.wal_commit_s": "s", "streaming.files_per_batch": "count",
    "streaming.backlog_files_max": "count",
    "streaming.generator_late_max_s": "s",
    "cdc.apply_batch_s": "s", "cdc.apply_batch_jobs": "count",
    "cdc.full_sync_jobs": "count",
    "merge.shuffle_write_bytes_per_event": "B/event",
    "merge.spill_bytes": "bytes", "merge.executor_cpu_s": "s",
    "merge.gc_s": "s", "merge.task_skew": "ratio",
    "merge.bucket_bytes_skew": "ratio",
    "table.manifest_parse_s": "s", "table.manifest_serialize_s": "s",
    "table.manifest_bytes": "bytes", "table.files": "count",
    "catalog.commits": "count", "catalog.meta_bytes_written": "bytes",
    "table.read_s": "s", "table.read_jobs": "count",
    "table.files_scanned_share": "ratio",
    "table.compact_jobs": "count", "table.compact_bytes_rewritten": "bytes",
    "table.space_amp_after_compact": "ratio",
    "aggview.refresh_s": "s", "aggview.refresh_jobs": "count",
    "aggview.recompute_share": "ratio", "aggview.shuffle_bytes": "bytes",
    "joinview.refresh_s": "s", "joinview.refresh_jobs": "count",
    "joinview.input_bytes_per_changed_byte": "ratio",
    "joinview.shuffle_bytes": "bytes",
}
def _process_start() -> float:
    """time.monotonic() value at which this process started."""
    with open("/proc/self/stat", encoding="ascii") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime", encoding="ascii") as f:
        uptime = float(f.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return min(_T_SCRIPT, time.monotonic() - age)


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM it launched has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "datax_spark", "__init__.py")):
        print(f"perfbench: no datax_spark package under {ROOT}; run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    t_proc = _process_start()
    state = os.path.join(ROOT, ".perfbench")
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(state, "runs", run_id)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # everything the engine, Spark and the JVM write stays in the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, ROOT)

    from perfbench import host, workloads
    from perfbench.oracle import Oracle
    from perfbench.spans import StageMetrics, Tracer

    from datax_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(log_dir)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    spark = get_session(f"perfbench-{args.workload}", cores=CORES,
                        shuffle_partitions=SHUFFLE_PARTITIONS,
                        extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_start_s = time.monotonic() - t_proc
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current()
                  .pid())

    tracer = Tracer(spark.sparkContext, run_id, bool(args.trace))
    run = workloads.Run(spark, tracer, work, args.seed, args.seconds)
    run.session_start_s = session_start_s
    run.oracle = Oracle()
    run.read_rss = lambda: host.peak_rss_mb([jvm_pid, os.getpid()])
    hostrec = host.host_record(CORES)
    try:
        try:
            workloads.WORKLOADS[args.workload](run)
        finally:
            run.oracle.close()
            _stop(spark)
        if args.trace:
            run.stages = StageMetrics(log_dir)
            workloads.span_layers(run)
            for fn in run.after_stop:
                fn()
        spans_dir = os.path.join(state, "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.dump(os.path.join(spans_dir, f"{run_id}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    run.metric("setup_s", session_start_s
               + run.setup_span["end"] - run.setup_span["start"], "s")
    run.metric("peak_rss_mb", run.peak_rss, "MB")
    cover = tracer.coverage(run.window)
    print(f"host {json.dumps(hostrec)}")
    sp, wi = run.setup_span, run.window
    print(f"phases session_s={session_start_s:.1f} "
          f"inputs_s={sp['start'] - t_proc - session_start_s:.1f} "
          f"setup_s={sp['end'] - sp['start']:.1f} "
          f"window_s={wi['end'] - wi['start']:.1f} "
          f"after_s={time.monotonic() - wi['end']:.1f}")
    print(f"window {args.workload} wall_s="
          f"{run.window['end'] - run.window['start']:.3f} "
          f"span_cover={cover:.3f} checks={json.dumps(run.checks)}")
    ratio = run.failed / run.attempted if run.attempted else 1.0
    print(f"metric failed_op_ratio {ratio:.6f} ratio "
          f"(n={run.attempted})")
    for name, (value, unit, n) in {**run.e2e, **run.extra}.items():
        print(f"metric {name} {value:.6g} {unit} (n={n})")
    if args.trace:
        for name, (value, unit) in sorted(run.layer.items()):
            print(f"layer {name} {value:.6g} {unit}")
        metrics = {n: {"value": run.layer.get(n, (0.0,))[0], "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": run.e2e[n][0], "unit": u}
                   for n, u in E2E.items()}
    correct = all(run.checks.values()) and bool(run.checks)
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
