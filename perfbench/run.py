"""Benchmark entry point.

    python3 perfbench/run.py --workload nightly_rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One run starts a ``local[4]`` Spark
session, generates the workload's inputs from ``--seed``, prepares the
workload and runs its untimed warm-up cycles, then runs closed-loop
cycles until ``--seconds`` have passed (at least one), checks the outputs and
prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the measured cycles
are traced and the metrics are the per-layer ones. Everything the run
writes stays under ``perfbench/.work`` (removed at exit) and
``perfbench/.results`` (one result file per run, plus the span file of a
traced run). See ``perfbench/README.md`` for every metric.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("nightly_rebuild", "incremental_sync")
CPUS = 4
#: a run stops starting cycles once another one could push it past this
RUN_BUDGET_S = 150.0


def cpu_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-contention gauge."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(400_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_noise() -> dict:
    """Load average, the CPU probe, and the host's cumulative stolen CPU
    seconds (time a hypervisor gave this machine's CPUs to others)."""
    with open("/proc/stat") as f:
        steal = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    return {"loadavg": [round(x, 2) for x in os.getloadavg()], "cpu_probe_s": round(cpu_probe(), 4),
            "steal_s": steal}


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def tail(values: list[float]) -> tuple[float | None, float]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples above
    it, as (percentile, value); (None, max) when there are fewer than 20."""
    xs = sorted(values)
    best = (None, xs[-1] if xs else 0.0)
    for p in (50, 75, 90, 95, 99):
        k = math.ceil(p / 100 * len(xs))
        if k >= 1 and len(xs) - k >= 10:
            best = (p, xs[k - 1])
    return best


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [m for m in ("pyspark", "trialsync_etl_spark")
               if importlib.util.find_spec(m) is None]
    if missing:
        print(f"perfbench: cannot import {missing} from {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    noise_start = host_noise()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    results = os.path.join(HERE, ".results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        return measure(args, work, results, noise_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, work: str, results: str, noise_start: dict) -> int:
    from tracing import Tracer

    from trialsync_etl_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}", cpus=CPUS,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    try:
        from workloads import SCALE, WORKLOADS as CLASSES, tree_cpu_s

        tracer = Tracer(spark, enabled=bool(args.trace))
        tracer.enabled = False  # set-up and warm-up stay untraced
        wl = CLASSES[args.workload](spark, tracer, work, args.seed)
        t1 = time.perf_counter()
        wl.prepare()
        t2 = time.perf_counter()
        for c in range(wl.warmup_cycles):
            wl.run_cycle(c)
        t3 = time.perf_counter()
        # CPU seconds of everything before the first measured cycle, the
        # JVM's start included; input generation is the benchmark's work
        setup_s = tree_cpu_s(wl.jvm_pid) - wl.gen_cpu_s
        setup_wall_s = session_s + (t3 - t1) - wl.gen_s

        tracer.enabled = bool(args.trace)
        wl.measuring = True
        start = time.perf_counter()
        c = wl.warmup_cycles
        while True:
            wl.run_cycle(c)
            c += 1
            elapsed = time.perf_counter() - start
            if elapsed >= args.seconds or time.perf_counter() - t0 + wl.cycle_s[-1] > RUN_BUDGET_S:
                break
        tracer.enabled = False
        wl.measuring = False
        t4 = time.perf_counter()
        wl.final_checks()
        wh_bytes = wl.warehouse_bytes()
        phases = {"setup_wall_s": setup_wall_s, "session_s": session_s, "generate_s": wl.gen_s,
                  "prepare_s": t2 - t1 - wl.gen_s, "warmup_s": t3 - t2,
                  "measure_s": t4 - start, "checks_s": time.perf_counter() - t4}
        peak_mb = (vm_hwm_kb(wl.jvm_pid) + vm_hwm_kb("self")) / 1024.0
    finally:
        stop(spark)

    steps = [s for _, _, s in wl.steps]
    p, tail_v = tail(steps)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "cycle_cpu_s": (statistics.median(wl.cycle_cpu_s), "s"),
        "fresh_cpu_s": (statistics.median(wl.fresh_cpu_s), "s"),
        "warehouse_mb": (wh_bytes / 1e6, "MB"),
    }
    # wall-clock figures: fields, not metrics (README, "Why CPU seconds")
    wall = {
        "cycle_s": statistics.median(wl.cycle_s),
        "fresh_s": statistics.median(wl.fresh_s),
        "rows_per_s": sum(wl.rows) / sum(wl.cycle_s),
    }
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": SCALE, "cpus": CPUS, "cycles": len(wl.cycle_s),
        "wall": wall, "cycle_s": wl.cycle_s, "fresh_s": wl.fresh_s,
        "steps": len(steps), "step_p50_s": statistics.median(steps),
        "step_tail": {"percentile": p, "value_s": tail_v}, "peak_rss_mb": peak_mb,
        "fail_ratio": wl.failed / max(1, wl.attempted), "problems": len(wl.problems),
        "phases": phases, "host_noise": {"start": noise_start, "end": host_noise()},
        "by_kind": by_kind(wl.steps), **wl.report(),
    }
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}")
    if args.trace:
        import layers

        spans = tracer.records()
        metrics = {k: (v, layers.unit(k)) for k, v in
                   layers.compute(spans, session_s, wl.layer_extra()).items()}
        figures = {**{k: v for k, (v, _) in end_to_end.items()}, **wall}
        report["tracing_overhead"] = overhead(stem, figures)
        report["traced_end_to_end"] = figures
        with open(stem + "-spans.json", "w") as f:
            json.dump({"report": report, "spans": spans, "layers": layers.table(spans)}, f, indent=1)
        for row in layers.table(spans):
            print("layer " + json.dumps(row))
    else:
        metrics = end_to_end
        with open(stem + "-untraced.json", "w") as f:
            json.dump({**{k: v for k, (v, _) in end_to_end.items()}, **wall}, f)
    print("report " + json.dumps(report))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def stop(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit; it exits when its
    stdin closes, and takes the Python workers it started with it."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def by_kind(steps) -> dict:
    """Median latency and count per operation kind (job, transform, query,
    micro-batch), e.g. the sync, query and gate figures of one cycle."""
    out: dict[str, list[float]] = {}
    for kind, _, s in steps:
        out.setdefault(kind, []).append(s)
    return {k: {"n": len(v), "p50_s": statistics.median(v), "tail": tail(v)} for k, v in out.items()}


def overhead(stem: str, traced: dict) -> dict | str:
    """Traced minus untraced end-to-end figures, against the last untraced
    run of the same workload and seed in this checkout."""
    try:
        with open(stem + "-untraced.json") as f:
            base = json.load(f)
    except FileNotFoundError:
        return "no untraced run of this workload and seed to compare with"
    return {k: v - base[k] for k, v in traced.items() if k in base}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.exit(main())
