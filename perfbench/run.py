#!/usr/bin/env python3
"""Benchmark command for the engine.

    python3 perfbench/run.py --workload crawl_interior --seed 1 --seconds 16 --trace 0

Runs one workload on `local[nproc]` from this one Python process:
makes the seeded inputs (cached under `.perfbench_cache/` in the
checkout), starts the session, sets up, then repeats the workload's op in
a closed loop with one client until `--seconds` have passed, checks the
outputs and prints one JSON object as the last line of stdout. With
`--trace 0` it carries the end-to-end metrics, with `--trace 1` the
per-layer ones (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = "timezone_boundary_builder_spark"
MAX_OPS = 60
KEEP_INPUTS = 12  # cached input sets kept per workload


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str):
    """The package's own session (its heap, AQE and Arrow settings) on
    every core, with scratch files kept in the checkout and the driver's
    memory peaks polled often enough to catch a short stage."""
    from timezone_boundary_builder_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.executor.metrics.pollingInterval": "100ms",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the context, then the JVM, and wait for both to be gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree() -> list[int]:
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb() -> dict[str, float]:
    """VmHWM of this process, its JVM and the Python workers (the
    JVM's other descendants), in MB."""
    out = {"python": 0.0, "jvm": 0.0, "workers": 0.0}
    me = os.getpid()
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        kb = int(fields.get("VmHWM", "0 kB").split()[0])
        kind = "python" if pid == me else "jvm" if fields["Name"].strip() == "java" else "workers"
        out[kind] += kb / 1024.0
    return out


def jvm_peaks_mb(spark) -> dict[str, float]:
    """The driver JVM's memory peaks, in MB, from the executor metrics the
    status store keeps (polled every 100 ms): used heap and off-heap, and
    the memory Spark itself manages for execution (sort, aggregation and
    Arrow buffers) and storage (broadcast and cached blocks)."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    execs = sc.statusStore().executorList(True)
    peaks = next(
        execs.apply(i).peakMemoryMetrics()
        for i in range(execs.size())
        if execs.apply(i).id() == "driver"
    ).get()
    mb = {
        name: peaks.getMetricValue(name) / 2**20
        for name in (
            "JVMHeapMemory",
            "JVMOffHeapMemory",
            "OnHeapExecutionMemory",
            "OffHeapExecutionMemory",
            "OnHeapStorageMemory",
            "OffHeapStorageMemory",
        )
    }
    return {
        "heap": mb["JVMHeapMemory"],
        "off_heap": mb["JVMOffHeapMemory"],
        "execution": mb["OnHeapExecutionMemory"] + mb["OffHeapExecutionMemory"],
        "storage": mb["OnHeapStorageMemory"] + mb["OffHeapStorageMemory"],
    }


def tree_cpu_s() -> float:
    """CPU time (user + system, with that of reaped children) of this
    process, its JVM and the Python workers, in seconds."""
    ticks = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(v) for v in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Share of the host's CPU time between two /proc/stat reads that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1)


def evict_old_inputs(workload: str) -> None:
    """Keep the most recently used input sets of this workload."""
    inputs = os.path.join(CACHE, "inputs")
    dirs = sorted(
        (os.path.join(inputs, d) for d in os.listdir(inputs) if d.startswith(workload + "-")),
        key=os.path.getmtime,
        reverse=True,
    )
    for d in dirs[KEEP_INPUTS:]:
        shutil.rmtree(d, ignore_errors=True)


def run(args) -> dict:
    import layers as layer_report
    import spans
    import workloads

    tmp = os.environ["TMPDIR"]
    work = os.path.join(CACHE, "work", str(os.getpid()))
    for d in (tmp, work, os.path.join(CACHE, "inputs"), os.path.join(CACHE, "traces")):
        os.makedirs(d, exist_ok=True)
    report: dict = {"workload": args.workload, "seed": args.seed, "cores": cores()}
    tracer = spans.Tracer()

    ticks = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_session(tmp)
    session_s = time.perf_counter() - t0
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, os.path.join(CACHE, "inputs"), work
        )
        t0 = time.perf_counter()
        wl.prepare()
        report["gen_s"] = time.perf_counter() - t0
        setups = []
        for _ in range(wl.setup_repeats):
            t0 = time.perf_counter()
            wl.setup(tracer)
            setups.append(time.perf_counter() - t0)
        report["session_s"] = session_s
        report["setup_repeats_s"] = setups
        setup_s = session_s + statistics.median(setups)

        tracing = (
            spans.Layers(tracer, spans.SparkMetrics(spark)) if args.trace else spans.NoLayers()
        )
        untraced, traced, failed, cpu = [], [], 0, []
        k = 0

        def op(i: int, is_traced: bool) -> float:
            nonlocal failed
            tracer.op_id = i if is_traced else None
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                ok = wl.op(tracing if is_traced else spans.NoLayers(), i, is_traced)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                ok = False
            failed += 0 if ok else 1
            wall = time.perf_counter() - t0
            cpu.append(tree_cpu_s() - c0)
            return wall

        t0 = time.perf_counter()
        wl.warmup(bool(args.trace))
        report["warmup_s"] = time.perf_counter() - t0
        # closed loop, one client; the traced run alternates untraced and
        # traced ops so the tracing overhead is measured inside one run
        deadline = time.perf_counter() + args.seconds
        timed = 0
        while k < MAX_OPS and (timed < wl.min_ops or time.perf_counter() < deadline):
            is_traced = bool(args.trace) and timed % 2 == 1
            (traced if is_traced else untraced).append((k, op(k, is_traced)))
            k += 1
            timed += 1
        if args.trace and not traced:
            traced.append((k, op(k, True)))
            k += 1
        cycles = wl.after_ops(tracing, bool(args.trace))
        if cycles:
            report["cycle_walls_s"] = cycles
            report["cycle_s"] = statistics.median(cycles)
        t0 = time.perf_counter()
        try:
            bad = wl.final_check()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = 1
        report["check_s"] = time.perf_counter() - t0
        failed += min(bad, 1)
        attempted = k + len(cycles)
        report["final_check_mismatches"] = bad
        report["op_walls_s"] = [w for _, w in untraced]
        report["op_cpus_s"] = cpu
        report["rss_mb"] = peak_rss_mb()
        report["jvm_peak_mb"] = jvm_peaks_mb(spark)
        report["steal_frac"] = steal_frac(ticks, cpu_ticks())

        if args.trace:
            out = layer_report.per_layer(wl, tracer, tracing, untraced, traced)
            out.update(wl.counts_after())
            out["jvm.rss_mb"] = report["rss_mb"]["jvm"]
            out.update({f"jvm.{k}_peak_mb": v for k, v in report["jvm_peak_mb"].items()})
            tracer.write(
                os.path.join(CACHE, "traces", f"{args.workload}-s{args.seed}.json"),
                tracing.spark_by_op,
            )
            names = layer_report.per_layer_metrics()
            # a layer this workload runs must have been read; one it does
            # not run is reported as 0
            missing = [n for n, _ in names if wl.reports(n) and out.get(n) is None]
            if missing:
                print(f"perfbench: per-layer metrics not read: {missing}", file=sys.stderr)
                report["missing_metrics"] = missing
                failed += 1
            metrics_out = {
                name: {"value": float(out.get(name) or 0.0), "unit": unit}
                for name, unit in names
            }
        else:
            op_s = statistics.median(report["op_walls_s"])
            report["op_s"] = op_s
            metrics_out = {
                "op_cpu_s": {"value": statistics.median(cpu), "unit": "s"},
                "setup_s": {"value": setup_s, "unit": "s"},
                "python_rss_mb": {
                    "value": report["rss_mb"]["python"] + report["rss_mb"]["workers"],
                    "unit": "MB",
                },
            }
            report.update(wl.named_metrics(op_s, len(untraced)))
        report["failed_frac"] = failed / attempted
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    evict_old_inputs(args.workload)
    print(json.dumps({"report": report}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics_out,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [d for d in os.environ.get("PYTHONPATH", "").split(os.pathsep) if d]
    )
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every temporary file stays inside the checkout: Python's and the
    # JVM's temp dirs point there, and neither the Spark launcher JVM nor
    # the session JVM writes hsperfdata files to the system temp dir
    tmp = os.path.join(CACHE, "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
