#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <eth_jobs|star_sql> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. One process is one
run: it builds a fresh Spark session (timed as set-up), generates the
workload's inputs from the seed, warms up, runs the timed body, checks
every output and prints, as its last stdout line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. With ``--trace 0``
the metrics are the end-to-end ones (``END_TO_END``); with ``--trace 1``
the untraced body is followed by one round traced and one untraced, and
the metrics are the per-layer ones (``PER_LAYER``) from the traced round,
with the tracing overhead as its wall minus the untraced round's. The
line before it is a JSON object of run details (sizes, phase times, the
latency tail with its percentile and sample count, errors).

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed at exit, except the span file of a traced run, written
once at the end to ``.perfbench_traces/``.
"""

from __future__ import annotations

import time

T_START = time.time()   # set-up is measured from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = min(4, os.cpu_count() or 1)
WORKLOAD_NAMES = ("eth_jobs", "star_sql")

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "op_p50_s": "s",
    "shuffle_mb": "MB",
}

_LAYER_SPECIFIC = {
    "session.get_spark_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "catalog.memo_hit_ratio": "ratio",
    "sources.read_amplification": "ratio",
    "sources.reject_ratio": "ratio",
    "sources.write_json_s": "s",
    "sources.scan_s": "s",
    "sources.scan_share": "ratio",
    "functions.text.eval_s": "s",
    "functions.temporal.eval_s": "s",
    "operators.calls": "count",
    "queries.construct_s": "s",
    "queries.exec_s": "s",
    "queries.jobs_per_query": "count",
    **{f"pipelines.ethereum.{j}_s": "s" for j in (
        "monthly_transactions", "top10_contracts", "top10_miners",
        "scam_analysis", "gas_guzzlers", "data_overhead")},
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}
COUNTER_LAYERS = ("sources", "functions", "operators", "queries", "pipelines")
_COUNTER_UNITS = {
    "jobs": "count", "tasks": "count", "executor_run_s": "s", "executor_cpu_s": "s",
    "gc_s": "s", "input_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "failed_tasks": "count", "slot_utilization": "ratio",
}
PER_LAYER = {
    **_LAYER_SPECIFIC,
    **{f"{layer}.{c}": u for layer in COUNTER_LAYERS for c, u in _COUNTER_UNITS.items()},
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getPid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def jvm_stats(spark) -> dict[str, float]:
    """The driver JVM's garbage-collection and JIT-compilation totals so
    far, and its committed heap."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "gc_s": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())) / 1e3,
        "gc_count": sum(gcs.get(i).getCollectionCount() for i in range(gcs.size())),
        "jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
        "heap_mb": mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20,
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def run(args: argparse.Namespace, work: str) -> int:
    sys.path.insert(0, ROOT)
    from bigdata_processing_spark.session import get_spark

    t = time.time()
    spark = get_spark("perfbench", master=f"local[{CORES}]", extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        # keep the JVM's temporary files (and its perf-data file) out of /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    })
    get_spark_s = time.time() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        setup_s = time.time() - T_START

        # the benchmark's own modules load after set-up is measured
        from spans import SparkCounters, Tracer
        from stats import result_line, tail
        from workloads import WORKLOADS

        phases = {}
        wl = WORKLOADS[args.workload](spark, args.seed, work, CORES)
        t = time.time()
        wl.generate()
        phases["generate"] = time.time() - t
        t = time.time()
        wl.warmup()
        phases["warmup"] = time.time() - t
        jvm0 = jvm_stats(spark)
        bodies = [wl.body(args.seconds)]
        jvm1 = jvm_stats(spark)
        tracer = None
        if args.trace:
            # one round traced, then one untraced: the two are equally warm,
            # so their wall difference is the overhead
            n_rounds = 1
            tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                            SparkCounters(spark), CORES)
            wl.trace_hooks(tracer)
            try:
                bodies.append(wl.body(args.seconds, tracer, n_rounds=n_rounds))
            finally:
                tracer.unwrap_all()
            bodies.append(wl.body(args.seconds, n_rounds=n_rounds))
        timed = bodies[0]
        rss = peak_rss_mb(spark)

        t = time.time()
        for b in bodies:
            wl.check(b)
        phases["check"] = time.time() - t
        ops = [op for b in bodies for op in b.ops]
        failed = sum(not op.ok for op in ops)
        correct = failed == 0

        lat = [op.latency for op in timed.ops]
        tail_s, tail_pct, n = tail(lat)
        typical = timed.typical
        info = {
            "workload": args.workload, "seed": args.seed, "cores": CORES,
            "spark": spark.version, "python": sys.version.split()[0],
            "driver_mem": spark.conf.get("spark.driver.memory"),
            "rounds": timed.rounds, "body_s": timed.wall_s, "round_s": timed.round_s,
            # the tail is a run detail, not a metric: with 18 (eth_jobs) or 30
            # (star_sql) operations a run, the rule puts it at p44 or p67
            "op_tail_s": tail_s, "op_tail_percentile": tail_pct, "op_tail_n": n,
            # a run detail too: with the engine's 8g heap, peak RSS follows the
            # JVM's heap growth and spreads across seeds wider than the largest
            # bound a metric may have (README.md gives the figures)
            "peak_rss_mb": rss,
            # what the driver JVM spent on its own upkeep during the timed body
            "jvm_timed": {k: jvm1[k] - jvm0[k] for k in ("gc_s", "gc_count", "jit_s")},
            "jvm_heap_mb": jvm1["heap_mb"],
            "fail_ratio": failed / len(ops), "phases_s": phases,
            "op_latencies_s": [round(x, 3) for x in lat],
            "op_typical_s": {k: round(v, 3) for k, v in typical.items()}, **wl.info,
            "errors": sorted({f"{op.label}: {op.error}" for op in ops if not op.ok})[:10],
        }
        if tracer is None:
            metrics = {
                "setup_s": setup_s,
                "rows_per_s": wl.round_rows() / timed.round_s,
                "op_p50_s": statistics.median(typical.values()),
                "shuffle_mb": timed.shuffle_mb / timed.rounds,
            }
            units = END_TO_END
        else:
            traced, untraced = bodies[1], bodies[2]
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(wl.layer_metrics(tracer, traced))   # may add spans
            values.update(tracer.layer_counters(COUNTER_LAYERS))
            values["session.get_spark_s"] = get_spark_s
            values["trace.overhead_s"] = traced.wall_s - untraced.wall_s
            values["trace.bookkeeping_s"] = tracer.bookkeeping_s
            info["pass_walls_s"] = {"timed": timed.wall_s, "traced_round": traced.wall_s,
                                    "untraced_round": untraced.wall_s}
            trace_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(trace_dir, f"{tracer.run_id}.jsonl")
            tracer.dump(trace_path)
            info["spans"] = os.path.relpath(trace_path, ROOT)
            metrics, units = {k: values[k] for k in PER_LAYER}, PER_LAYER
        print(json.dumps({"info": info}, default=str))
        print(result_line(correct, len(ops), failed,
                          {k: (v, units[k]) for k, v in metrics.items()}))
        return 0
    finally:
        stop_spark(spark)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if args.workload not in WORKLOAD_NAMES:
        print(f"unknown workload {args.workload!r}; one of {WORKLOAD_NAMES}",
              file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "bigdata_processing_spark")):
        print(f"no engine package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # measure the engine's own driver heap default, whatever the caller's shell sets
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
