#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run is one workload in a fresh
Spark session on ``local[nproc]``, driven as a closed loop by one
client: each op starts when the previous one has finished. The run
synthesizes its inputs from the seed, warms up, checks outputs, times
whole cycles of ops until at least ``--seconds`` of op time has passed,
and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with
``--trace 1`` every other op runs with spans around the package's layer
functions, and the metrics are the per-layer ones. README.md lists them
all.

Everything the run writes goes under ``.perfbench_run/`` in the
checkout, which is deleted before the run exits.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")
#: The program under test, and the existing helpers the benchmark
#: reuses: the TPC-H-ish generator, the registry fixture writers,
#: bench.py's steal counter and the oracle-parity frame comparison.
NEEDED = (
    "nycdb_k8s_loader_spark/__init__.py",
    "tools/gen_scale_data.py",
    "tests/fixture_gen.py",
    "bench.py",
    "tests/test_oracle_parity.py",
)
DRIVER_MEMORY = "2g"
#: Steal above this share of the box's CPU time makes an op run again
#: (bench.py's steal-clean idea): on a shared host, bursts of steal
#: slowed whole runs by 25-35%, while ordinary ops see under 2%.
STEAL_LIMIT = 0.05
STEAL_RETRIES = 1


def _session(root: str, cores: int, trace: bool):
    from nycdb_k8s_loader_spark.session import get_spark

    java_opts = " ".join((
        f"-Dderby.system.home={root}/derby",
        f"-Djava.io.tmpdir={root}/tmp",
        "-XX:-UsePerfData",
    ))
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.local.dir": f"{root}/local",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    }
    if trace:
        from spans import event_log_conf

        conf.update(event_log_conf(f"{root}/events"))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        warehouse_dir=f"{root}/warehouse",
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _parallelism(spark, cores: int) -> dict:
    """The parallelism Spark really uses; a mismatch with nproc fails
    the run."""
    sc = spark.sparkContext
    got = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")
        ),
        "spark_graft_cpus": os.environ["SPARK_GRAFT_CPUS"],
    }
    want = {
        "master": f"local[{cores}]",
        "default_parallelism": cores,
        "shuffle_partitions": cores,
        "spark_graft_cpus": str(cores),
    }
    if got != want:
        raise RuntimeError(f"parallelism {got} != {want}")
    return got


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    jvm_pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _collect_garbage(spark) -> None:
    """Collect Python and JVM garbage, so that an op does not pay for
    the garbage of the ops before it and its time does not depend on
    its place in the cycle."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _run_op(workload, key, tracer, op_id: int, steal_jiffies) -> dict:
    """Prepare, time and check one op. ``tracer`` is None for an
    untraced op. The record holds the op's wall time, its epoch window,
    and the hypervisor steal during it as a share of the box's CPU
    time."""
    from spans import install_layer_hooks, uninstall

    workload.prepare(key)
    _collect_garbage(workload.spark)
    undo = install_layer_hooks(tracer) if tracer is not None else []
    errors: list[str] = []
    result = None
    steal0 = steal_jiffies()
    w0, t0 = time.time(), time.perf_counter()
    try:
        if tracer is not None:
            with tracer.op_span(op_id, f"op.{key}"):
                result = workload.op(key, tracer)
        else:
            result = workload.op(key)
    except Exception as exc:  # noqa: BLE001 - counted as failed
        traceback.print_exc(file=sys.stderr)
        errors = [f"{key}: {type(exc).__name__}: {exc}"]
    elapsed = time.perf_counter() - t0
    window = (w0, time.time())
    capacity = elapsed * os.sysconf("SC_CLK_TCK") * os.cpu_count()
    steal = (steal_jiffies() - steal0) / capacity
    uninstall(undo)
    if not errors:
        errors = workload.check(key, result)
    if errors:
        print(f"check failed: {errors[:3]}", file=sys.stderr)
    return {"key": key, "s": elapsed, "window": window, "steal": steal,
            "traced": tracer is not None, "failed": bool(errors)}


def measure(workload, seconds: float, steal_jiffies, min_cycles: int = 1,
            tracer=None) -> list[dict]:
    """Run whole cycles of ops, at least ``min_cycles`` and until the
    summed wall time of the kept ops reaches ``seconds``. Each op is
    timed alone; preparing it, collecting garbage and checking its
    output happen outside the timed window.

    An op during which the hypervisor stole more than STEAL_LIMIT of the
    box's CPU time is run again, up to STEAL_RETRIES times, and only the
    last attempt is kept for the end-to-end metrics. Every attempt
    counts as attempted.

    With a tracer, the layer hooks are installed for every other op,
    alternating by cycle, so that over two cycles each op runs once
    traced and once untraced."""
    ops: list[dict] = []
    rank = {k: i for i, k in enumerate(sorted(workload.cycle(0)))}
    cycle = 0
    while (cycle < min_cycles
           or sum(o["s"] for o in ops if o["kept"]) < seconds):
        for key in workload.cycle(cycle):
            traced = tracer is not None and (rank[key] + cycle) % 2 == 0
            for attempt in range(STEAL_RETRIES + 1):
                op = _run_op(workload, key, tracer if traced else None,
                             len(ops), steal_jiffies)
                op["kept"] = (op["steal"] <= STEAL_LIMIT
                              or attempt == STEAL_RETRIES)
                ops.append(op)
                if op["kept"]:
                    break
        cycle += 1
    return ops


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(setup_s: float, ops: list[dict]) -> dict:
    times = [o["s"] for o in ops if o["kept"]]
    return {
        "setup_s": _metric(setup_s, "s"),
        "op_p50_s": _metric(statistics.median(times), "s"),
        "ops_per_min": _metric(60.0 * len(times) / sum(times), "1/min"),
    }


def per_layer(tracer, spark_totals: dict, ops: list[dict], session_s: float,
              cores: int) -> dict:
    # spans and Spark numbers cover every traced attempt
    n = sum(o["traced"] for o in ops)
    wall = sum(o["s"] for o in ops if o["traced"])
    c = tracer.counts
    loads = c.get("engine.loads", 0)
    load_all = tracer.total("engine.load_all")
    p50_plain = statistics.median(
        o["s"] for o in ops if o["kept"] and not o["traced"]
    )
    p50_traced = statistics.median(
        o["s"] for o in ops if o["kept"] and o["traced"]
    )
    skipped = c.get("engine.skipped", 0)
    out = {
        "engine.load_s": (tracer.total("engine.load") / n, "s"),
        "engine.loads": (loads / n, "count"),
        "engine.skip_ratio": (skipped / loads if loads else 0.0, "ratio"),
        "engine.overlap": (
            tracer.total("engine.load") / load_all if load_all else 0.0,
            "ratio",
        ),
        "state.check_s": (tracer.total("state.check") / n, "s"),
        "state.commit_s": (tracer.total("state.commit") / n, "s"),
        "state.kv_reads": (c.get("state.kv_reads", 0) / n, "count"),
        "state.kv_writes": (c.get("state.kv_writes", 0) / n, "count"),
        "publish.ingest_s": (tracer.total("publish.ingest") / n, "s"),
        "publish.ingest_rows": (
            c.get("publish.ingest_rows", 0) / n, "count"
        ),
        "publish.sql_s": (tracer.total("publish.sql") / n, "s"),
        "publish.sql_statements": (
            c.get("publish.sql_statements", 0) / n, "count"
        ),
        "publish.validate_s": (tracer.total("publish.validate") / n, "s"),
        "publish.swap_s": (tracer.total("publish.swap") / n, "s"),
        "publish.staging_s": (tracer.self_time("publish.staging") / n, "s"),
        "graph.cc_s": (tracer.total("graph.cc") / n, "s"),
        "plans.build_s": (tracer.total("plans.build") / n, "s"),
        "plans.exec_s": (tracer.total("plans.exec") / n, "s"),
        "spark.cpu_busy_ratio": (
            spark_totals["executor_cpu_s"] / (wall * cores), "ratio"
        ),
        "session.start_s": (session_s, "s"),
        "trace.overhead_pct": (
            100.0 * (p50_traced - p50_plain) / p50_plain, "%"
        ),
    }
    units = {"jobs": "count", "stages": "count", "tasks": "count"}
    for k, v in spark_totals.items():
        unit = units.get(k, "MB" if k.endswith("_mb") else "s")
        out[f"spark.{k}"] = (v / n, unit)
    return {k: _metric(v, u) for k, (v, u) in sorted(out.items())}


def run(workload_name: str, seed: int, seconds: float, trace: bool,
        root: str) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    from bench import _steal_jiffies

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.perf_counter()
    spark = _session(root, cores, trace)
    session_s = time.perf_counter() - t0
    try:
        meta = {"workload": workload_name, "seed": seed, "trace": trace,
                "parallelism": _parallelism(spark, cores)}
        workload = WORKLOADS[workload_name](spark, root, seed)
        t1 = time.perf_counter()
        workload.synthesize()
        t2 = time.perf_counter()
        workload.warm_up()
        t3 = time.perf_counter()
        setup_s = t3 - t0
        meta["setup_parts_s"] = {"session": session_s, "synthesize": t2 - t1,
                                 "warm_up": t3 - t2}
        setup_errors = workload.warm_up_errors()
        for e in setup_errors:
            print(f"setup check failed: {e}", file=sys.stderr)

        steal0, load0 = _steal_jiffies(), os.getloadavg()[0]
        tracer = None
        if trace:
            from spans import Tracer

            tracer = Tracer(f"{root}/warehouse")
        ops = measure(workload, seconds, _steal_jiffies,
                      2 if trace else 1, tracer)
        meta.update(
            steal_jiffies=_steal_jiffies() - steal0,
            loadavg_1m=[load0, os.getloadavg()[0]],
            ops=sum(o["kept"] for o in ops),
            steal_retries=sum(not o["kept"] for o in ops),
            op_s=[(o["key"], o["s"], o["steal"], o["traced"], o["kept"])
                  for o in ops],
        )
        meta["peak_rss_mb"] = _peak_rss_mb(spark)
    finally:
        _stop(spark)

    attempted = len(ops)
    failed = attempted if setup_errors else sum(o["failed"] for o in ops)
    if trace:
        from spans import event_log_totals

        totals = event_log_totals(
            f"{root}/events", [o["window"] for o in ops if o["traced"]]
        )
        metrics = per_layer(tracer, totals, ops, session_s, cores)
        os.makedirs(SPANS_DIR, exist_ok=True)
        tracer.write(os.path.join(SPANS_DIR, f"{workload_name}.jsonl"))
    else:
        metrics = end_to_end(setup_s, ops)
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    return result, meta


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            fp = os.path.join(dirpath, f)
            if not os.path.islink(fp):
                total += os.path.getsize(fp)
    return total


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in NEEDED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: run from a checkout of the repo; missing {missing}",
              file=sys.stderr)
        return 2

    # A plain SIGTERM would skip the finally blocks that stop the JVM
    # and delete the run's directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cores = len(os.sched_getaffinity(0))
    os.makedirs(RUN_DIR, exist_ok=True)
    disk_before = _dir_bytes(RUN_DIR)
    root = os.path.join(RUN_DIR, f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "derby", "events", "warehouse", "data"):
        os.makedirs(os.path.join(root, sub))
    # session.py reads SPARK_GRAFT_CPUS at import time, so it is set
    # before anything imports the package.
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
    os.environ["TMPDIR"] = os.path.join(root, "tmp")
    sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools"),
                    os.path.join(ROOT, "tests")]
    try:
        result, meta = run(args.workload, args.seed, args.seconds,
                           bool(args.trace), root)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    meta["disk_growth_bytes"] = _dir_bytes(RUN_DIR) - disk_before
    if os.path.exists(root) or meta["disk_growth_bytes"] > 0:
        print(f"perfbench: run left files behind under {RUN_DIR}",
              file=sys.stderr)
        result["correct"] = False
    print("meta " + json.dumps(meta))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
