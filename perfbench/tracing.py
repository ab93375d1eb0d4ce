"""Layer attribution for the traced run.

Each layer call runs under its own Spark job group named
``<layer>#<op index>`` and ends at a materialization boundary, so every
Spark job, stage and task it launches carries the group in its
properties. After the session stops, :func:`rollup_event_log` folds the
uncompressed event log into per-group task metrics with the standard
library only. Driver-side work (the ``core`` solve) has no Spark jobs and
is timed from the wall clock alone.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, List

# metrics taken from the event log for every layer that launches jobs
SPARK_METRICS = (
    "jobs", "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb",
    "fetch_wait_s", "spill_mb", "task_skew", "failed_tasks",
)

# layer -> metrics it reports in the traced run. `core` is the driver-side
# PAVA + merge solve: no Spark jobs, so only its wall clock (solve_s) and
# counters.
LAYERS: Dict[str, tuple] = {
    # gen_s: one input preparation (generation + cache fill), the term
    # setup_s takes the median of
    "sources": SPARK_METRICS + ("gen_s",),
    "operators.windows": ("wall_s",) + SPARK_METRICS,
    "operators.asof": ("wall_s",) + SPARK_METRICS,
    "operators.binning.fit": ("wall_s",) + SPARK_METRICS
    + ("passes_per_fit", "stats_rows"),
    "core": ("solve_s", "merge_iterations"),
    "operators.binning.transform": ("wall_s",) + SPARK_METRICS
    + ("plan_s", "python_eval_nodes"),
    "scorecard": ("wall_s",) + SPARK_METRICS + ("python_eval_nodes",),
    "plans.checkpoint": ("wall_s",) + SPARK_METRICS + ("bytes_written",),
}

# whole-op metrics of the traced run
RUN_METRICS = (
    "op.jobs",                # Spark jobs per untraced op (statusTracker)
    "op.untraced_p50_s",      # median untraced op, same process
    "op.traced_p50_s",        # median traced op, same process
    "trace.overhead_pct",     # traced vs untraced median, percent
    "host.steal_pct",         # hypervisor steal over the window
    "host.cpu_probe_s",       # fixed CPU probe, median of before/after
)


_UNITS = {
    "wall_s": "s", "cpu_s": "s", "gc_s": "s", "fetch_wait_s": "s",
    "gen_s": "s", "solve_s": "s", "plan_s": "s", "untraced_p50_s": "s",
    "traced_p50_s": "s", "cpu_probe_s": "s",
    "shuffle_write_mb": "MB", "shuffle_read_mb": "MB", "spill_mb": "MB",
    "bytes_written": "bytes", "task_skew": "ratio",
    "overhead_pct": "%", "steal_pct": "%",
}


def unit(name: str) -> str:
    """Unit of a per-layer metric, from its last dotted component."""
    return _UNITS.get(name.rsplit(".", 1)[-1], "count")


def per_layer_names() -> List[str]:
    names = [f"{layer}.{m}" for layer, ms in LAYERS.items() for m in ms]
    return names + list(RUN_METRICS)


class Tracer:
    """Job-group wrappers plus per-op counters recorded by the workload."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        # (layer, op index) -> {metric: value}
        self.values: Dict[tuple, Dict[str, float]] = defaultdict(dict)
        self.groups: Dict[str, tuple] = {}

    def group(self, name: str) -> None:
        """Tag the jobs that follow with a group outside any layer."""
        self.sc.setJobGroup(name, name)

    def jobs_in(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    @contextmanager
    def layer(self, layer: str, op: int):
        """Run a block as one layer call under job group ``<layer>#<op>``;
        its wall time adds to the op's ``wall_s`` for that layer."""
        group = f"{layer}#{op}"
        self.groups[group] = (layer, op)
        self.sc.setJobGroup(group, layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.add(layer, op, "wall_s", time.perf_counter() - t0)
            self.group(f"untraced#{op}")

    def add(self, layer: str, op: int, metric: str, value: float) -> None:
        d = self.values[(layer, op)]
        d[metric] = d.get(metric, 0.0) + value

    def put(self, layer: str, op: int, metric: str, value: float) -> None:
        self.values[(layer, op)][metric] = value

    def report(self, event_log_dir: str, ops: List[int],
               setup_reps: List[int]) -> Dict[str, float]:
        """Median over the traced ops (for ``sources``: over the setup
        repetitions) of every layer metric; layers a workload never enters
        report 0 (no jobs, no time)."""
        spark_side = rollup_event_log(event_log_dir, self.groups)
        out: Dict[str, float] = {}
        for layer, metrics in LAYERS.items():
            for m in metrics:
                vals = []
                for op in setup_reps if layer == "sources" else ops:
                    merged = dict(spark_side.get((layer, op), {}))
                    merged.update(self.values.get((layer, op), {}))
                    vals.append(float(merged.get(m, 0.0)))
                out[f"{layer}.{m}"] = statistics.median(vals)
        return out


def _event_log_file(event_log_dir: str) -> str:
    files = [
        f for f in glob.glob(os.path.join(event_log_dir, "*"))
        if os.path.isfile(f) and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log, found {files}")
    return files[0]


def rollup_event_log(event_log_dir: str, groups: Dict[str, tuple]):
    """Fold the event log into ``{(layer, op): metrics}`` for the job
    groups in ``groups``. ``task_skew`` is max/median task run time of the
    group's heaviest stage (by summed task run time)."""
    stage_group: Dict[int, str] = {}
    acc: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    task_ms: Dict[int, List[float]] = defaultdict(list)
    with open(_event_log_file(event_log_dir)) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g in groups:
                    acc[g]["jobs"] += 1
                    for s in ev.get("Stage IDs", []):
                        stage_group[s] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                a = acc[g]
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    a["failed_tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                a["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                a["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                a["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 2**20
                a["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
                a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / 2**20
                task_ms[ev["Stage ID"]].append(float(tm.get("Executor Run Time", 0)))
    heaviest: Dict[str, List[float]] = {}
    for stage, ms in task_ms.items():
        g = stage_group[stage]
        if sum(ms) > sum(heaviest.get(g, [])):
            heaviest[g] = ms
    for g, ms in heaviest.items():
        med = statistics.median(ms)
        acc[g]["task_skew"] = max(ms) / med if med > 0 else 1.0
    return {groups[g]: dict(v) for g, v in acc.items()}


def python_eval_nodes(df) -> int:
    """ArrowEvalPython / BatchEvalPython nodes in the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
