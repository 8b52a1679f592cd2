"""Pipeline benchmark: one workload per invocation, one closed-loop client.

    python3 perfbench/run.py --workload validate_pages --seed 1 --seconds 10 --trace 0

Run from the repository root. The benchmark builds its inputs from --seed,
writes them as parquet source tables, drives the workload from a single
driver thread against `local[<nproc>]`, checks every answer, and prints
one JSON result as its last stdout line (the line before it stamps the
box, the inputs and the raw timings, op times included). Session defaults
are the package's own, except the driver heap: a quarter of RAM, fixed at
start.

--trace 0  end-to-end metrics from untimed set-up plus timed ops:
           setup_s       JVM start + median of 2 input writes + one
                         warm-up pass of the workload's pipeline over a
                         small corpus (JIT, codegen and Python worker
                         start-up land here, not in timed ops)
           docs_per_s    input docs per op / op wall time (median)
           peak_rss_mb   the JVM's VmHWM from /proc
--trace 1  after the same set-up, the op replayed layer by layer under
           Spark job groups with the event log on; per-layer metrics come
           from the log (see layertrace.py). trace.op_s minus the median
           untraced op time is the tracing overhead.

Failed or wrong ops count in `failed` (never retried); `correct` is false
if any op failed its check. Scratch files live in .perfbench_work/ at the
repository root and are removed at exit, except the span dump.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import pyspark

from layertrace import (EXTRAS, LAYER_METRICS, LAYERS, Tracer, event_log_conf,
                        layer_metrics, read_event_log)
from workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WRITE_REPEATS = 2


def _jvm_peak_rss_mb(spark) -> float:
    # psutil is not available; the JVM's own /proc entry has the peak
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for JVM pid {pid}")


def _jvm_heap_pools_mb(spark) -> dict[str, float]:
    """Peak use of each JVM heap pool. With the heap size fixed (see run)
    the collector sets these, not the program: G1's old-gen peak sits at
    its occupancy threshold and eden's at its young-gen sizing. So they go
    to the info line, not into a metric."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return {pool.getName(): pool.getPeakUsage().getUsed() / 2 ** 20
            for pool in mf.getMemoryPoolMXBeans() if pool.getType().name() == "HEAP"}


def _box() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "mem_total_mb": mem_kb // 1024}


def _stop(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=60)


def _timed_op(wl, k: int, latencies: list, problems: list) -> bool:
    """Run op k; its wall time goes to `latencies`, its check runs after.
    An op that raises or fails its check is failed, and not retried."""
    t = time.perf_counter()
    try:
        result = wl.op(k)
        latencies.append(time.perf_counter() - t)
        found = wl.check(result)
    except Exception:
        found = [traceback.format_exc(limit=3)]
    problems.extend(found)
    return not found


def run(args) -> tuple[dict, dict]:
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the package from the checkout, and every
    # scratch file (JVM tmp, shuffle, py4j handshake) stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file in the system temp dir from any JVM we start
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    sys.path.insert(0, ROOT)

    from harvesting_validator_spark.session import get_spark

    box = _box()
    # The package's default driver heap (24g) exceeds the RAM of small
    # boxes, and the JVM then grows until the kernel kills it. Cap it at a
    # quarter of RAM unless the caller chose a size, and start the heap at
    # that size: G1's resizing decisions otherwise vary from run to run and
    # move both the timings and the peak RSS. peak_rss_mb then mostly
    # reflects this setting; off-heap and native growth still show in it.
    heap = os.environ.setdefault("SPARK_DRIVER_MEM", f"{box['mem_total_mb'] // 4}m")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{heap}",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(event_log_conf(log_dir))
    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{box['nproc']}]", extra_conf=conf)
    jvm_s = time.perf_counter() - t0
    latencies: list[float] = []
    problems: list[str] = []
    attempted = failed = 0
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed)
        writes = []
        for _ in range(WRITE_REPEATS):
            t = time.perf_counter()
            wl.write_inputs()
            writes.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm_op()
        warm = time.perf_counter() - t
        setup_s = jvm_s + statistics.median(writes) + warm
        if args.trace:
            attempted, tracer = 1, Tracer(spark)
            with tracer.span("op") as root:
                result = wl.traced_op(tracer, 1)
            with tracer.span("counts", group="counts"):
                wl.trace_counts(tracer)
            problems.extend(wl.check(result))
            failed = int(bool(problems))
        else:
            t_end = time.perf_counter() + args.seconds
            while attempted == 0 or time.perf_counter() < t_end:
                attempted += 1
                failed += not _timed_op(wl, attempted, latencies, problems)
        peak_rss_mb = _jvm_peak_rss_mb(spark)
        heap_pools_mb = _jvm_heap_pools_mb(spark)
        app_id = spark.sparkContext.applicationId
    finally:
        _stop(spark)

    info = {
        "workload": args.workload, "seed": args.seed, **box,
        "spark": pyspark.__version__, "inputs": wl.sizes,
        "driver_memory": os.environ["SPARK_DRIVER_MEM"],
        "jvm_start_s": jvm_s, "write_s": writes, "warmup_s": warm,
        "op_s": latencies, "heap_pools_peak_mb": heap_pools_mb,
        "failed_ops_share": failed / max(1, attempted),
        "problems": problems[:5],
    }
    if args.trace:
        tracer.dump(os.path.join(ROOT, ".perfbench_work", f"spans-{args.workload}.json"))
        jobs, tasks = read_event_log(log_dir, app_id)
        traced_s = root["end"] - root["start"]
        covered = sum(s["end"] - s["start"] for s in tracer.spans
                      if s["name"] in LAYERS)
        values = {**{name: 0.0 for name, _ in EXTRAS},
                  **layer_metrics(tracer, jobs, tasks), **wl.extras(tasks),
                  "trace.op_s": traced_s, "trace.layer_coverage": covered / traced_s}
        units = dict([(f"{l}.{m}", u) for l in LAYERS for m, u in LAYER_METRICS]
                     + EXTRAS)
    else:
        values = {
            "setup_s": setup_s,
            "docs_per_s": statistics.median(wl.docs / t for t in latencies)
            if latencies else 0.0,
            "peak_rss_mb": peak_rss_mb,
        }
        units = {"setup_s": "s", "docs_per_s": "docs/s", "peak_rss_mb": "MB"}
    shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": failed == 0 and not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }
    return info, result


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    info, result = run(args)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
