#!/usr/bin/env python3
"""Benchmark of the daily mailing job and the iterative query operators.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload mailing_job --seed 1 --seconds 10 --trace 0

One run is one fresh process with one Spark session on ``local[nproc]``
(shuffle partitions = cores), driven by a single client thread:

1. set-up: ``session.build_spark`` and ``spark.range(1).count()``;
2. the workload's inputs are generated from ``--seed`` (not timed);
3. a cold pass; then full GCs until the heap in use settles, which is
   ``live_heap_mb``; then warm passes back to back until ``--seconds``
   have passed (closed loop, at least one warm pass).  ``warm_cpu_s`` is
   the first warm pass: the later ones keep getting faster, so a median
   over them would depend on how many fit in ``--seconds``, and fewer fit
   when the host is busy;
4. the outputs are checked, outside the timed passes.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end metrics.
The cold and warm passes are reported in CPU seconds of the driver JVM plus
this process (``cold_cpu_s``, ``warm_cpu_s``): on a shared host their wall
times follow the hypervisor's steal (see ``perfbench/BASELINE.md``); the
wall times stay in the stamp line (``pass_s``) and in the traced run.
``--trace 1`` wraps each layer's public functions in spans, turns on
Spark's event log, and reports the per-layer metrics (medians over the
warm passes).  Every run also prints a stamp line (load, hypervisor
steal, foreign JVMs or pytest seen) and appends it to
``perfbench/work/runs.jsonl``; the traced run writes its span table to
``perfbench/work/trace_<workload>.json``.

Everything the run writes stays under ``perfbench/work/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "python_etl_mailing_automation_spark"
# Driver heap, well below the 15 GiB of the 4-core box the benchmark was
# sized on (the package default, 16g, is not).  -Xms pins the heap at this
# size: left to grow, G1 sizes it by GC pause times, and peak RSS then
# varied by 24 % (quartile spread over ten seeds) on iterative_queries.
# With the pin, peak RSS is mostly the pinned heap; live_heap_mb shows what
# the program itself holds.
DRIVER_MEM = "2g"
# JVM background threads: 2 JIT compiler threads and 2 (parallel) / 1
# (concurrent) GC threads instead of the defaults for 4 cores (3 and 4/1),
# so that they and the local[nproc] task threads do not oversubscribe the
# cores.  Beside two CPU-bound processes, mailing_job's cold pass took
# 30-34 s with the defaults and 24-27 s with these (about 20 s alone).
JVM_THREADS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    fields = Path("/proc/self/stat").read_text().rsplit(")", 1)[1].split()
    started = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return float(Path("/proc/uptime").read_text().split()[0]) - started


class Stamp:
    """Machine conditions over one run: load, steal, foreign processes."""

    def __init__(self) -> None:
        self.cpu0 = self._cpu()
        self.load1: list[float] = []
        self.foreign: set[str] = set()
        self.sample()

    @staticmethod
    def _cpu() -> list[int]:
        return [int(x) for x in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:]]

    def sample(self) -> None:
        self.load1.append(float(Path("/proc/loadavg").read_text().split()[0]))
        parent, cmd = {}, {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                parent[d.name] = (d / "stat").read_text().rsplit(")", 1)[1].split()[1]
                cmd[d.name] = (d / "cmdline").read_bytes().replace(b"\0", b" ").decode(errors="replace")
            except OSError:  # the process ended while we looked
                continue
        mine = str(os.getpid())
        for pid, line in cmd.items():
            if "java" not in line and "pytest" not in line:
                continue
            p, seen = pid, set()
            while p in parent and p != mine and p not in seen:
                seen.add(p)
                p = parent[p]
            if p != mine:
                self.foreign.add(f"{pid}: {line[:160]}")

    def record(self) -> dict:
        cpu1 = self._cpu()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        return {
            "load1_max": max(self.load1),
            "load1_mean": statistics.fmean(self.load1),
            "steal_frac": delta[7] / total,
            "foreign_processes": sorted(self.foreign),
        }


def jvm_peak_rss_mb(pid: int) -> float:
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver JVM and this Python process
    (all threads, user + system).  The kernel leaves hypervisor steal out
    of both, so unlike wall time they do not grow when the host is busy."""
    fields = Path(f"/proc/{jvm_pid}/stat").read_text().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + time.process_time()


def jvm_live_heap_mb(sc) -> float:
    """Heap the driver JVM still holds once nothing more can be freed.

    A full GC (``System.gc()``) hands unreachable RDDs, broadcasts and
    shuffles to Spark's ContextCleaner, which removes their blocks in the
    background; so GCs are repeated half a second apart until the heap in
    use stops falling (at most 10).  Python is collected before each, so
    py4j releases the JVM objects that only Python garbage still pins.
    """
    jvm = sc._jvm
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(10):
        gc.collect()
        jvm.java.lang.System.gc()
        now = mx.getHeapMemoryUsage().getUsed() / 2**20
        if now > used - 0.5:  # less than 0.5 MB freed: settled
            return now
        used = now
        time.sleep(0.5)
    return used


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its children) to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:  # noqa: BLE001 - TimeoutExpired; never leave it running
        proc.kill()
        proc.wait()


def count_checkpoints(tracer) -> None:
    """Count detach.py calls and every DataFrame (local)checkpoint call."""
    import importlib
    import pkgutil

    from pyspark.sql.classic.dataframe import DataFrame

    pkg = importlib.import_module(PACKAGE)
    detach_mod = importlib.import_module(f"{PACKAGE}.detach")
    # Bind every ``from ..detach import detach`` before patching it.
    for info in pkgutil.walk_packages(pkg.__path__, f"{PACKAGE}."):
        importlib.import_module(info.name)
    importlib.import_module("__spark_entry__")
    original = detach_mod.detach
    for mod in list(sys.modules.values()):
        name = getattr(mod, "__name__", "")
        if (name.startswith(PACKAGE) or name == "__spark_entry__") and getattr(
            mod, "detach", None
        ) is original:
            tracer.count_calls(mod, "detach", "detach.calls")
    tracer.count_calls(DataFrame, "localCheckpoint", "spark.checkpoints")
    tracer.count_calls(DataFrame, "checkpoint", "spark.checkpoints")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("mailing_job", "iterative_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (ROOT / PACKAGE / "__init__.py").is_file() or not (ROOT / "__spark_entry__.py").is_file():
        print(f"perfbench: {PACKAGE} and __spark_entry__.py are not in {ROOT}", file=sys.stderr)
        return 2

    work = BENCH / "work"
    run_dir = work / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog"):
        (run_dir / d).mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=str(run_dir / "tmp"),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    tempfile.tempdir = str(run_dir / "tmp")
    os.chdir(run_dir)  # spark-warehouse/, derby.log and friends land here
    sys.path[:0] = [str(ROOT), str(ROOT / "tools"), str(BENCH)]
    stamp = Stamp()

    from python_etl_mailing_automation_spark.session import build_spark

    from spans import Tracer, read_event_log

    conf = {
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} {JVM_THREADS} -Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.sql.warehouse.dir": str(run_dir / "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",  # no zstd module in Python here
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
        })
    t0 = time.perf_counter()
    spark = build_spark(master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf)
    build_s = time.perf_counter() - t0
    sc = spark.sparkContext
    tracer = Tracer(sc, enabled=bool(args.trace))
    try:
        spark.range(1).count()
        setup_s = process_age_s()
        jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()

        from layers import annotate, per_layer
        from workloads import WORKLOADS

        workload = WORKLOADS[args.workload](run_dir, args.seed)
        if args.trace:
            workload.instrument(tracer)
            count_checkpoints(tracer)
        passes = []

        def one_pass() -> None:
            before = Counter(tracer.counts)
            cpu0 = cpu_s(jvm_pid)
            with tracer.span("pass") as rec:
                workload.run_pass(spark, tracer)
            rec["cpu"] = cpu_s(jvm_pid) - cpu0
            workload.after_pass()
            rec["counts"] = dict(tracer.counts - before)
            passes.append(rec)
            stamp.sample()

        one_pass()
        live_heap_mb = jvm_live_heap_mb(sc)
        warm_start = time.perf_counter()
        while len(passes) < 2 or time.perf_counter() - warm_start < args.seconds:
            one_pass()
        tracer.restore()
        verdicts = workload.check(spark)
        peak_rss_mb = jvm_peak_rss_mb(jvm_pid)
    finally:
        tracer.restore()
        stop_spark(spark)

    attempted, failed = len(verdicts), verdicts.count(False)
    cold_cpu_s = passes[0]["cpu"]
    warm_cpu_s = passes[1]["cpu"]
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cpus, "passes": len(passes), "inputs": workload.inputs,
        "pass_s": [round(p["dur"], 4) for p in passes],
        "pass_cpu_s": [round(p["cpu"], 2) for p in passes], "run_s": round(process_age_s(), 2),
        **stamp.record(),
    }
    if args.trace:
        groups = read_event_log(run_dir / "eventlog")
        metrics = per_layer(tracer.spans, passes, groups, build_s)
        annotate(tracer.spans, groups)
        (work / f"trace_{args.workload}.json").write_text(
            json.dumps({"run": record, "metrics": metrics, "spans": tracer.spans}, indent=1, default=str)
        )
        for name, (value, unit) in metrics.items():
            print(f"{name:40s} {value:14.4f} {unit}")
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_cpu_s": (cold_cpu_s, "s"),
            "warm_cpu_s": (warm_cpu_s, "s"),
            "pass_frac": ((attempted - failed) / attempted, "fraction"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "live_heap_mb": (live_heap_mb, "MB"),
        }
    line = json.dumps({"stamp": record}, default=str)
    print(line)
    with (work / "runs.jsonl").open("a", encoding="utf-8") as fh:
        fh.write(line + "\n")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
