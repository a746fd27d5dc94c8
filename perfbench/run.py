"""Benchmark of the ETL pipeline and the query engine.

    python3 perfbench/run.py --workload {etl_bulk,etl_tickers,query_mix} \
        [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. Each run starts one Spark session on
``local[nproc]``, runs a checked warm-up pass (the set-up), then times
passes for ``--seconds``. Every op's output is checked. The report
prints every metric by name with its unit; the last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``; per-layer metrics, from the
Spark event log and the benchmark's spans, with ``--trace 1``).

All scratch data (inputs, Spark local dirs, warehouse, CSV output,
event logs, temp files) lives under ``.perfbench_work/`` in the
checkout and is removed at exit. See NOTES.md for what each workload
and metric is for.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time

import datagen
import tracing
import workloads
from mock_postgrest import MockPostgrest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_bulk", "etl_tickers", "query_mix")
DATA_SF = 0.01
APP = "perfbench"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "jvm_live_mb": "MB",
}
# Per-layer metrics that every workload reports in the JSON line. Times
# that are zero by construction on some workload (pin stages on the ETL
# workloads, sink stages on query_mix, ...) are printed in the report
# table only.
PER_LAYER = {
    "session.start_s": "s",
    "op.build_s": "s",
    "op.run_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.stage_wall_s": "s",
    "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "spill.memory_bytes": "bytes",
    "spill.disk_bytes": "bytes",
    "pinning.stages": "count",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    "scan.input_rows": "count",
    "scan.input_bytes": "bytes",
    "etl.read_amplification": "ratio",
    "writers.csv_bytes": "bytes",
    "rest.requests": "count",
    "rest.connections": "count",
    "rest.rows_received": "count",
    "rest.bytes_received": "bytes",
    "rest.retries": "count",
    "rest.faults_injected": "count",
    "rest.failed_chunks": "count",
    "rest.duplicate_rows": "count",
    "storage.requests": "count",
    "storage.bytes": "bytes",
    "pipeline.jobs_per_table": "count",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
}


def pin_environment(work: str) -> dict[str, str]:
    """Pin the program's environment from the benchmark's side and
    return the session conf the benchmark adds. Must run before pyspark
    starts the JVM, which inherits this environment."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_PIN_MODE"] = "local"
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.chdir(work)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def jvm_live_mb(spark) -> float:
    """Driver heap in use after a full GC (median of three), once the
    blocks that finished ops pinned have been released."""
    gc.collect()  # drop Python handles on finished ops' JVM objects
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(1.0)  # the context cleaner removes unreachable RDD blocks
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        used.append(heap.getUsed() / 2**20)
    return statistics.median(used)


def timed_passes(wl, spark, seconds: float, tag: str, traced: bool) -> list:
    """Run passes until ``seconds`` have elapsed (at least one)."""
    passes = []
    t0 = time.time()
    while not passes or time.time() - t0 < seconds:
        passes.append(wl.run_pass(spark, f"{tag}{len(passes)}", check=wl.checks_every_pass, traced=traced))
    return passes


def stop_gateway() -> None:
    """Stop the JVM that pyspark launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args, work: str) -> dict:
    data_dir = None if args.workload == "etl_tickers" else datagen.write(os.path.join(work, "data"), DATA_SF)
    conf = pin_environment(work)
    from supabase_etl_spark.session import get_spark

    fault_share = workloads.FAULT_SHARE if args.workload == "etl_bulk" else 0.0
    with MockPostgrest(fault_seed=args.seed, fault_share=fault_share) as mock:
        if args.workload == "etl_bulk":
            wl = workloads.etl_bulk(data_dir, work, mock)
        elif args.workload == "etl_tickers":
            wl = workloads.etl_tickers(args.seed, work, mock)
        else:
            wl = workloads.QueryMix(data_dir)

        ops, spark = [], None
        phases = {"start": time.time()}
        try:
            t0 = time.time()
            spark = get_spark(APP, extra_conf=conf)
            session_s = time.time() - t0
            # the warm-up pass runs cold and is checked, not timed; on
            # etl_bulk it also shows the mock which chunks to fault
            warm = wl.run_pass(spark, "warmup", check=True, traced=False)
            ops += warm.ops
            phases["set-up"] = time.time()
            faults = mock.arm_faults(warm.sink.get("chunks", {}))
            timed = timed_passes(wl, spark, args.seconds, "pass", traced=False)
            phases["timed"] = time.time()
            ops += [op for p in timed for op in p.ops]
            live_mb = jvm_live_mb(spark)
            traced = []
            if args.trace:
                spark.stop()
                log_dir = os.path.join(work, "eventlog")
                spark = get_spark(APP, extra_conf={**conf, **event_log_conf(log_dir)})
                # the new session's first pass is cold; it is checked, not measured
                ops += wl.run_pass(spark, "tracewarm", check=True, traced=True).ops
                traced = timed_passes(wl, spark, args.seconds, "traced", traced=True)
                ops += [op for p in traced for op in p.ops]
                phases["traced"] = time.time()
        finally:
            if spark is not None:
                spark.stop()
            stop_gateway()

    failed = [op for op in ops if op.error]
    result = {
        "workload": args.workload,
        "attempted": len(ops),
        "failed": failed,
        "session_s": session_s,
        "warm": warm,
        "timed": timed,
        "faults": faults,
        "phases": phases,
    }
    med = statistics.median
    result["end_to_end"] = {
        # session start plus the warm-up ops; the benchmark's own output
        # checks between ops are left out
        "setup_s": session_s + sum(op.wall_s for op in warm.ops),
        "wall_s": med(p.wall_s for p in timed),
        "rows_per_s": med(p.rows / p.wall_s for p in timed),
        "op_p50_s": med(op.wall_s for p in timed for op in p.ops),
        "jvm_live_mb": live_mb,
    }
    if args.trace:
        log = tracing.EventLog(log_dir)
        per_pass = [layer_metrics(log, p, faults, session_s) for p in traced]
        keys = sorted(set().union(*per_pass))
        layers = {k: med(m.get(k, 0.0) for m in per_pass) for k in keys}
        layers["trace.overhead_s"] = layers["trace.wall_s"] - result["end_to_end"]["wall_s"]
        result["per_layer"] = layers
    return result


def layer_metrics(log, p, faults: int, session_s: float) -> dict[str, float]:
    m = tracing.pass_metrics(log, p)
    m["session.start_s"] = session_s
    sink = p.sink
    if sink:
        m["rest.requests"] = sink["requests"]
        m["rest.connections"] = sink["connections"]
        m["rest.rows_received"] = sink["rows_received"]
        m["rest.bytes_received"] = sink["bytes_received"]
        m["rest.retries"] = sink["retries"]
        m["rest.faults_injected"] = faults
        m["rest.failed_chunks"] = sink["failed_chunks"]
        m["rest.duplicate_rows"] = sink["duplicate_rows"]
        m["rest.server_busy_s"] = sink["server_busy_s"]
        m["storage.requests"] = sink["storage_requests"]
        m["storage.bytes"] = sink["storage_bytes"]
        loaded = sink["rows_received"] - sink["duplicate_rows"]
        m["etl.read_amplification"] = m["scan.input_rows"] / loaded if loaded else 0.0
        m["pipeline.jobs_per_table"] = m["spark.jobs"] / len(p.ops)
    return m


def report(result: dict, trace: bool) -> dict:
    """Print the human-readable report and return the JSON line."""
    print(f"workload {result['workload']}: {len(result['timed'])} timed passes, "
          f"{result['attempted']} ops attempted, {len(result['failed'])} failed")
    for op in result["failed"]:
        print(f"  FAILED op {op.name}: {op.error}")
    marks = list(result["phases"].items())
    print("  phases: " + ", ".join(f"{name} {t - prev:.1f} s" for (_, prev), (name, t) in zip(marks, marks[1:])))
    print(f"  set-up: session start {result['session_s']:.3f} s, warm-up pass wall {result['warm'].wall_s:.3f} s")
    print("  timed pass walls: " + ", ".join(f"{p.wall_s:.3f}" for p in result["timed"]) + " s")
    print(f"  error_rate {len(result['failed']) / result['attempted']:.6g} (failed ops / attempted ops)")
    e2e = result["end_to_end"]
    for name, unit in END_TO_END.items():
        print(f"  {name:<28} {e2e[name]:>14.6g} {unit}")
    metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    if trace:
        layers = result["per_layer"]
        print("per-layer (median over traced passes; self times add up to op wall):")
        for name in sorted(layers):
            print(f"  {name:<44} {layers[name]:>16.6g}")
        metrics = {k: {"value": layers.get(k, 0.0), "unit": u} for k, u in PER_LAYER.items()}
    return {
        "correct": not result["failed"],
        "attempted": result["attempted"],
        "failed": len(result["failed"]),
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "supabase_etl_spark")):
        print(f"perfbench: the program (supabase_etl_spark/) is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(report(result, bool(args.trace))), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
