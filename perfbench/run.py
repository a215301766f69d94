"""Repository benchmark: one workload, one seed, one timed closed loop.

Usage (from the repository root)::

    python3 perfbench/run.py --workload grid_session --seed 1 --seconds 5 --trace 0

Set-up (session start, fixtures, one warm-up step, calibration) is timed as
``setup_s``; then whole steps run until ``--seconds`` have passed (a started
step always completes). Outputs are checked outside the timed requests. The last
stdout line is the result JSON: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1`` (spans are also written as JSON lines to
``.perfbench-out/``). The line before it carries the host context. Exits
non-zero when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import warnings
from collections import Counter
from statistics import median
from time import perf_counter

from tracer import Tracer, installed, metric_units
from workloads import WORKLOADS, Tally

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {
    "setup_s": "s",
    "jvm_rss_peak_mb": "MB",
    "step_s": "s",
    "heavy_s": "s",
    "light_s": "s",
}


def host_sizing() -> tuple[int, int]:
    """(cores, Spark driver heap GiB): every core this process may use, and a
    quarter of host RAM capped at 4 GiB (the package default of 16g exceeds
    small hosts)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cores, max(1, min(4, mem_kb // (4 * 1024 * 1024)))


def start_session(work: str, cores: int, heap_gb: int):
    """A local session sized to the host whose temporary files stay under ``work``.
    The environment is set before the JVM starts so Python workers inherit it.

    JVM options: the heap is committed at start (``-Xms`` = ``-Xmx``) and its
    young generation is fixed at a third of it (``-Xmn``), so the peak RSS
    follows what the program retains, not when G1 grows the heap or resizes
    the young generation (adaptive sizing spread it by 8% between seeds);
    and JIT compilation stops at C1 (``TieredStopAtLevel=1``), which reaches
    its steady state within the warm-up step. Under the default C2 tier,
    requests keep getting faster for over a minute, longer than a run, and
    where a run lands on that slope spread results by ~20%. C1-only is a
    measurement condition, not how the package runs: JVM-side work is slower
    than under C2, so the figures overstate the JVM's share of a request.
    The code cache keeps the tiered default size; C1-only would shrink it to
    48 MB, which fills on the catalog workload and disables the compiler."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    tempfile.tempdir = tmp
    from kamodo_dask_spark import get_spark

    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{heap_gb}g",
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap_gb}g -Xmn{heap_gb * 1024 // 3}m"
                " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
                f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def walls(fn, n: int) -> list[float]:
    times = []
    for _ in range(n):
        t0 = perf_counter()
        fn()
        times.append(perf_counter() - t0)
    return times


def calibrate(spark) -> dict[str, float]:
    """Host constants recorded with every result: the wall of a one-task
    job (the Spark driver's per-job scheduling floor) and of a fixed in-JVM sum."""
    sc = spark.sparkContext
    one_task = spark.range(0, 1, 1, 1)
    one_task.collect()
    total = spark.range(0, 2_000_000, 1, sc.defaultParallelism).selectExpr("sum(id % 7)")
    return {
        "sched_job_s": median(walls(one_task.collect, 7)),
        "spark_sum_s": median(walls(total.collect, 3)),
    }


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    with open(f"/proc/{SparkContext._gateway.proc.pid}/status") as f:
        kb = int(next(line for line in f if line.startswith("VmHWM")).split()[1])
    return kb / 1024.0


def step_walls(workload, tally) -> dict[str, float]:
    """Medians over the complete steps of each step's heavy and light walls,
    where a step's wall sums the median latency of each of its request
    kinds. Summing within a step keeps the seeded request order out of the
    result (the first call on a fresh registry costs more than the rest,
    whichever kind it is)."""
    heavy, light = [], []
    for step in tally.steps:
        by_kind: dict[str, list[float]] = {}
        for kind, dt in step:
            by_kind.setdefault(kind, []).append(dt)
        if Counter(kind for kind, _ in step) != Counter(workload.STEP):
            continue  # a request failed
        heavy.append(sum(median(v) for k, v in by_kind.items() if k in workload.HEAVY))
        light.append(sum(median(v) for k, v in by_kind.items() if k not in workload.HEAVY))
    if not heavy:  # no complete step: the run reports its failures, not a time
        return {"step_s": None, "heavy_s": None, "light_s": None}
    h, li = median(heavy), median(light)
    return {"step_s": h + li, "heavy_s": h, "light_s": li}


def kind_stats(tally) -> dict[str, dict]:
    """Median and tail per request kind. The tail is the highest of p90/p99
    with at least ten samples beyond it (None when no percentile has)."""
    out = {}
    for kind, samples in sorted(tally.latencies().items()):
        xs = sorted(samples)
        tail = None
        for p in (99, 90):
            if len(xs) * (100 - p) / 100 >= 10:
                tail = {"p": p, "s": xs[int(len(xs) * p / 100)]}
                break
        out[kind] = {"n": len(xs), "p50_s": median(xs), "tail": tail, "samples_s": samples}
    return out


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str) -> tuple[dict, dict]:
    t_setup = perf_counter()
    cores, heap_gb = host_sizing()
    spark = start_session(work, cores, heap_gb)
    workload = None
    try:
        import pyspark

        sc = spark.sparkContext
        parts = {"session_s": perf_counter() - t_setup}
        workload = WORKLOADS[workload_name](spark, work, seed)
        parts["fixtures_s"] = perf_counter() - t_setup - sum(parts.values())
        tally = Tally()
        tally.begin_step()
        workload.warm_up(Tracer(sc, enabled=False), tally)
        parts["warmup_s"] = perf_counter() - t_setup - sum(parts.values())
        constants = calibrate(spark)
        setup_s = perf_counter() - t_setup
        parts["calibrate_s"] = setup_s - sum(parts.values())
        warm_kinds = kind_stats(tally)
        warm = (tally.attempted, tally.failed)

        tally = Tally()
        tracer = Tracer(sc, enabled=trace)
        steps = 0
        t0 = perf_counter()
        with installed(tracer):
            while steps == 0 or perf_counter() < t0 + seconds:
                tally.begin_step()
                workload.step(tracer, tally)
                steps += 1
        loop_s = perf_counter() - t0
        rss_mb = jvm_peak_rss_mb()
        workload.verify(tally)
        tally.attempted += warm[0]
        tally.failed += warm[1]

        if trace:
            tracer.attribute_jobs()
            answered = sum(len(step) for step in tally.steps)
            per_step = answered / len(workload.STEP)
            values = tracer.layer_totals(per_step or 1.0, constants["sched_job_s"])
            values["session.sched_job_s"] = constants["sched_job_s"]
            values["session.spark_sum_s"] = constants["spark_sum_s"]
            values["trace.overhead_share"] = tracer.overhead_s / loop_s
            out_dir = os.path.join(ROOT, ".perfbench-out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(out_dir, f"spans-{workload_name}-seed{seed}.jsonl"))
            units = metric_units()
        else:
            values = {"setup_s": setup_s, "jvm_rss_peak_mb": rss_mb, **step_walls(workload, tally)}
            units = END_TO_END
        context = {
            "workload": workload_name,
            "seed": seed,
            "cores": cores,
            "heap_gb": heap_gb,
            "pyspark": pyspark.__version__,
            "loadavg_15m": os.getloadavg()[2],
            **constants,
            "setup": parts,
            "warmup": warm_kinds,
            "steps": steps,
            "loop_s": loop_s,
            "kinds": kind_stats(tally),
            "trace_overhead_s": tracer.overhead_s,
        }
    finally:
        if workload is not None:
            workload.close()
        stop_session(spark)
    result = {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    return context, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kamodo_dask_spark", "__init__.py")):
        print(f"perfbench: no kamodo_dask_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # a terminated run still stops Spark and removes its temporary files (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    warnings.filterwarnings("ignore", message=r".*requested grid files are missing")
    work = tempfile.mkdtemp(prefix=".perfbench-work-", dir=ROOT)
    try:
        context, result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
