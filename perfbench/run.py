"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload signal_refresh --seed 1 \\
        --seconds 15 --trace 0

Run it from the root of a checkout. It generates its inputs from
``--seed``, sets up (Spark session, registry import, one untimed
warm-up cycle), runs timed cycles until ``--seconds`` have passed (at
least four), checks the outputs against the DuckDB oracles, and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` alternates untraced and traced cycles, reports the
per-layer metrics of the traced ones and writes every span to
``.perfbench/traces/``. Everything the run writes stays under
``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
INPUT_REPEATS = 3
JVM_EXIT_TIMEOUT_S = 60
#: Timed cycles per run at least; their median is the reported cycle.
MIN_CYCLES = 4


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file the run writes under ``work``: Python's and the
    JVM's temp dirs and Spark's scratch space. Size the session to the
    CPUs this process may use."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    # PerfDisableSharedMem: keep the JVM's perf counters out of /tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:+PerfDisableSharedMem'"
        " pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def stop(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers
    it forked) to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args: argparse.Namespace, work: Path) -> dict:
    from statistics import median

    from perfbench import gen
    from perfbench.report import PER_LAYER, per_layer, write_trace
    from perfbench.spans import Tracer
    from perfbench.workloads import WARMUP_CYCLES, WORKLOADS, Run

    wl = WORKLOADS[args.workload]
    tracer = Tracer()
    tracer.enabled = bool(args.trace)
    src = work / "src"
    input_s = []
    for _ in range(INPUT_REPEATS):
        t = time.perf_counter()
        gen.write(args.seed, str(src))
        input_s.append(time.perf_counter() - t)

    t = time.perf_counter()
    with tracer.span("get_spark", "session", "setup", leaf=False):
        from economic_data_project_spark.session import get_spark

        spark = get_spark()
    start_s = time.perf_counter() - t
    try:
        t = time.perf_counter()
        with tracer.span("load_all", "registry", "setup", leaf=False):
            from economic_data_project_spark import registry
            from economic_data_project_spark.sources.warehouse import Warehouse

            registry.load_all()
        load_s = time.perf_counter() - t
        tracer.spark = spark
        run = Run(spark, str(src), Warehouse(spark, str(work / "wh")), args.seed, tracer)
        t = time.perf_counter()
        for i in range(WARMUP_CYCLES):
            wl.cycle(run, i)
        warmup_s = time.perf_counter() - t
        setup_s = median(input_s) + start_s + load_s + warmup_s
        tracer.collect_counters()

        times: list[tuple[bool, float]] = []  # (traced, seconds) per timed cycle
        t0 = time.perf_counter()
        n = 0  # timed cycles so far; a traced run alternates untraced and traced
        while n < MIN_CYCLES + args.trace or time.perf_counter() - t0 < args.seconds:
            tracer.enabled = bool(args.trace) and n % 2 == 1
            t = time.perf_counter()
            wl.cycle(run, WARMUP_CYCLES + n)
            times.append((tracer.enabled, time.perf_counter() - t))
            # start every cycle with Spark's listener bus drained, traced or not
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            tracer.collect_counters()
            n += 1
        tracer.enabled = False
        untraced = [s for traced, s in times if not traced]
        print(
            f"perfbench: setup {setup_s:.2f}s (warm-up {warmup_s:.2f}s),"
            f" timed cycles (traced, s) {times}",
            file=sys.stderr,
        )
        print(f"perfbench: step times {run.step_times}", file=sys.stderr)
        rss_mb = vm_hwm_mb("self") + vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        wl.check(run)

        if args.trace:
            metrics = per_layer(
                tracer.spans,
                wl.rows_upserted(run),
                {
                    "session.start_s": start_s,
                    "session.warmup_s": warmup_s,
                    "registry.load_s": load_s,
                    "process.peak_rss_mb": rss_mb,
                },
                times,
            )
            trace_path = ROOT / ".perfbench" / "traces" / f"{wl.name}-seed{args.seed}.json"
            write_trace(
                str(trace_path),
                tracer.spans,
                metrics,
                {
                    "workload": wl.name,
                    "seed": args.seed,
                    "cycle_s": times,
                    "setup_s": setup_s,
                    "problems": run.problems,
                },
            )
            print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
            reported = {k: {"value": metrics[k], "unit": u} for k, u in PER_LAYER.items()}
        else:
            reported = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "cycle_s": {"value": median(untraced), "unit": "s"},
            }
    finally:
        stop(spark)
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": reported,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    work = ROOT / ".perfbench" / f"run-{os.getpid()}"
    try:
        isolate(work)
        sys.path.insert(0, str(ROOT))
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
