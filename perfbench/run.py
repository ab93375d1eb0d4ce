"""Benchmark entry point: one workload in one fresh process and Spark session.

    python3 perfbench/run.py --workload pit_fit_woe --seed 1 --seconds 12 --trace 0

Run from the repository root; the engine is imported from the checkout this
file sits in. Prints a detail line (host stamps, tail percentile, sample
count, drift check, job counts) and, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs the same loop with every other op
traced layer by layer and reports the per-layer metrics instead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "monotonic_optimal_binning_spark"

# input preparation runs this many times; setup_s takes the median
SETUP_REPS = 3


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["pit_fit_woe", "score_wide"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test shrinks it)")
    return p.parse_args(argv)


def import_engine():
    """Import the engine from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    try:
        mod = __import__(PACKAGE)
    except ImportError as e:
        sys.exit(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}")
    where = os.path.dirname(os.path.abspath(mod.__file__))
    if where != os.path.join(ROOT, PACKAGE):
        sys.exit(f"perfbench: {PACKAGE} imported from {where}, not {ROOT}")


def measure(spark, wl, tr, seconds: float) -> dict:
    """Set up, warm up and run the timed window of one workload."""
    import harness

    prep = []
    for rep in range(SETUP_REPS):
        wl.release()
        t0 = time.perf_counter()
        if tr is None:
            rows_per_op = wl.prepare()
        else:
            with tr.layer("sources", rep):
                rows_per_op = wl.prepare()
        prep.append(time.perf_counter() - t0)
        if tr is not None:
            tr.put("sources", rep, "gen_s", prep[-1])

    jobs = {}
    traced_ops = []  # window ops that ran traced
    trace_from = None  # first traced op; every other op from here is traced

    def op(i: int):
        if tr is not None and trace_from is not None and (i - trace_from) % 2 == 0:
            if i > trace_from:
                traced_ops.append(i)
            return wl.traced_op(i, tr)
        spark.sparkContext.setJobGroup(f"op#{i}", "op")
        msg = wl.op(i)
        jobs[i] = len(spark.sparkContext.statusTracker().getJobIdsForGroup(f"op#{i}"))
        return msg

    loop = harness.Loop(op)
    warm = loop.warm_up()
    if tr is not None:
        # one unreported traced op first: traced ops plan differently shaped
        # queries, whose codegen the plain warm-up did not compile
        trace_from = loop.n_ops
        loop.run_once()

    first_window_op = loop.n_ops
    probe_before = harness.cpu_probe_s()
    cpu_before = harness.read_cpu_times()
    lat, window_s = loop.window(seconds, min_ops=4 if tr else 3)
    steal = harness.steal_pct(cpu_before, harness.read_cpu_times())
    probe_s = statistics.median([probe_before, harness.cpu_probe_s()])

    rss_mb = harness.vm_hwm_mb("self") + harness.vm_hwm_mb(harness.jvm_pid(spark))
    wl.release()

    ops = range(first_window_op, loop.n_ops)
    return {
        "prep": prep,
        "warm": warm,
        "rows_per_op": rows_per_op,
        "plain": [t for i, t in zip(ops, lat) if i not in traced_ops],
        "traced": [t for i, t in zip(ops, lat) if i in traced_ops],
        "traced_ops": traced_ops,
        # a traced run spends part of its window on traced ops
        "plain_window_s": window_s * (len(lat) - len(traced_ops)) / len(lat),
        "jobs_per_op": statistics.median(jobs.values()),
        "steal_pct": steal,
        "cpu_probe_s": probe_s,
        "peak_rss_mb": rss_mb,
        "errors": loop.errors,
        # every op, warm-up included
        "attempted": loop.n_ops,
    }


def run(args, work_dir: str) -> dict:
    import harness
    from tracing import Tracer, unit
    from workloads import WORKLOADS

    # half the host's CPUs run tasks; the other half absorbs the driver-side
    # work (Python, py4j, JIT compiler and GC threads) that would otherwise
    # contend with the task threads (measured steadier: run-to-run spread of
    # the pit_fit_woe median fell from ~19% to ~10% on a 4-CPU host)
    cores = max(1, (os.cpu_count() or 1) // 2)
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None

    t0 = time.perf_counter()
    spark = harness.build_spark(work_dir, cores, event_dir)
    jvm_s = time.perf_counter() - t0
    tr = Tracer(spark) if args.trace else None
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, args.scale, work_dir)
        m = measure(spark, wl, tr, args.seconds)
    finally:
        # also closes the event log the traced run reads
        harness.stop_spark(spark)

    s = harness.summarize(m["plain"], m["rows_per_op"], m["plain_window_s"])
    failed = len(m["errors"])
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "local_cores": cores,
        "nproc": os.cpu_count(),
        "steal_pct": m["steal_pct"],
        "cpu_probe_s": m["cpu_probe_s"],
        "jvm_start_s": jvm_s,
        "prepare_s": m["prep"],
        "warmup_s": m["warm"],
        "latencies_s": m["plain"],
        "samples": s["samples"],
        "tail_percentile": s["tail_percentile"],
        "drift": s["drift"],
        "steady": s["steady"],
        "error_rate": failed / m["attempted"],
        "jobs_per_op": m["jobs_per_op"],
        "errors": m["errors"][:3],
    }
    if tr is None:
        metrics = {
            "rows_per_s": (s["rows_per_s"], "rows/s"),
            "latency_p50_s": (s["latency_p50_s"], "s"),
            "latency_tail_s": (s["latency_tail_s"], "s"),
            "setup_s": (jvm_s + statistics.median(m["prep"]) + sum(m["warm"]), "s"),
            "peak_rss_mb": (m["peak_rss_mb"], "MB"),
        }
    else:
        layer = tr.report(event_dir, m["traced_ops"], list(range(SETUP_REPS)))
        untraced_p50 = statistics.median(m["plain"])
        traced_p50 = statistics.median(m["traced"])
        layer.update({
            "op.jobs": m["jobs_per_op"],
            "op.untraced_p50_s": untraced_p50,
            "op.traced_p50_s": traced_p50,
            "trace.overhead_pct": 100.0 * (traced_p50 / untraced_p50 - 1.0),
            "host.steal_pct": m["steal_pct"],
            "host.cpu_probe_s": m["cpu_probe_s"],
        })
        metrics = {k: (v, unit(k)) for k, v in layer.items()}
    detail["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    print(json.dumps(detail))
    return {
        "correct": failed == 0,
        "attempted": m["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    import_engine()
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work_dir, exist_ok=True)
    # every scratch file of the run stays in work_dir: Python temp files,
    # Spark's local dirs, and the temp files of both JVMs (the launcher JVM
    # of spark-submit does not see spark.driver.extraJavaOptions)
    os.environ["TMPDIR"] = work_dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join([
        os.environ.get("JAVA_TOOL_OPTIONS", ""),
        f"-Djava.io.tmpdir={work_dir}", "-XX:-UsePerfData",
    ]).strip()
    # Python workers (pandas UDFs) import the engine from this checkout too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    try:
        result = run(args, work_dir)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
