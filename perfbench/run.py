#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload device_queries --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout and reads and writes only inside it
(scratch space: ``.perfbench_work/``). Spark runs as ``local[N]`` with
N the CPUs this process may use. The workload's inputs come from
``perfbench/gen.py`` with the given seed; the engine receives only
those inputs.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` measures the same loop untraced and then traced (the
difference is the tracing overhead), makes the per-layer probes, writes
the spans to ``.perfbench_work/traces/`` and prints a self-time table.
The last line of standard output is the JSON result; everything
before it is a human-readable report.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
#: set-ups per run; ``setup_s`` is their median plus the workload's
#: once-per-run preparation
SETUPS = 5
#: the driver JVM's heap cap (local mode: the whole cluster's memory).
#: The heap starts small and grows as the program allocates, so peak
#: RSS follows its use; the cap only bounds what this box may lend.
DRIVER_HEAP = "2g"
#: a fixed young generation: G1 otherwise sizes it by its pause-time
#: goal, differently in every run (peak RSS of one workload varied by
#: 35 % between seeds); with it fixed the peak follows what the old
#: generation holds
YOUNG_GEN = "256m"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p95_s": "s",
}


def _confine_to_checkout(run_dir: Path) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    the checkout, and size Spark to this process's CPUs."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        TMPDIR=str(tmp),
        TZ="UTC",
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_MASTER=f"local[{cpus}]",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} "
            f"--conf spark.local.dir={run_dir / 'spark-local'} "
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn{YOUNG_GEN}" pyspark-shell'
        ),
    )
    time.tzset()


def _stop_processes(wl) -> None:
    """Stop the session and the JVM, and wait for every process this
    run started to end."""
    if "pyspark" not in sys.modules:
        return
    import counters
    from pyspark import SparkContext

    kids = counters.descendants(os.getpid())
    if wl is not None and wl.spark is not None:
        wl.spark.stop()

    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in kids):
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def main() -> int:
    ap = argparse.ArgumentParser(description="Engine benchmark (one workload, one seed).")
    ap.add_argument("--workload", required=True, choices=("property_stream", "device_queries"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    _confine_to_checkout(run_dir)
    sys.path.insert(0, str(ROOT))
    wl = None
    try:
        import astarte_data_updater_plant_spark  # noqa: F401  (fails without the engine)

        import counters
        import workloads
        from spans import Tracer

        tracer = Tracer(False)
        wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, run_dir, tracer)
        setups = []
        for _ in range(SETUPS):
            t = time.perf_counter()
            wl.start_session()
            wl.setup()
            setups.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t
        e2e = wl.measure()
        report = {"setups_s": [round(x, 3) for x in setups], "prepare_s": prepare_s,
                  "warmup_s": warmup_s, **wl.report}
        driver_mb, jvm_mb = counters.peak_rss_mb()
        report.update(driver_peak_rss_mb=driver_mb, jvm_peak_rss_mb=jvm_mb,
                      jvm_heap_peak_mb=counters.jvm_heap_peak_mb(wl.spark))
        metrics = {
            "setup_s": statistics.median(setups) + prepare_s,
            "peak_rss_mb": driver_mb + jvm_mb,
            **e2e,
        }
        units = dict(END_TO_END)
        if args.trace:
            tracer.enabled = True
            traced = wl.measure()
            layers = {k: 0.0 for k in workloads.LAYER_METRICS}
            layers.update(wl.probes())
            layers["session.start_s"] = statistics.median(wl.session_starts)
            layers["trace.overhead_s"] = traced["latency_p50_s"] - e2e["latency_p50_s"]
            layers["trace.overhead_frac"] = layers["trace.overhead_s"] / e2e["latency_p50_s"]
            report.update({f"untraced.{k}": v for k, v in e2e.items()})
            report.update({f"traced.{k}": v for k, v in traced.items()})
            metrics, units = layers, workloads.LAYER_METRICS
            traces = WORK / "traces"
            traces.mkdir(parents=True, exist_ok=True)
            spans = traces / f"spans-{args.workload}-seed{args.seed}.json"
            tracer.dump(str(spans))
            print(tracer.table())
            print(f"spans: {spans.relative_to(ROOT)} ({len(tracer.spans)})")
    finally:
        _stop_processes(wl)
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, v in report.items():
        print(f"{args.workload} {k} = {v}")
    for p in wl.problems[:20]:
        print(f"incorrect: {p}")
    print(json.dumps({
        "correct": wl.failed == 0 and wl.attempted > 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
