"""The workloads: inputs, one op, its output check, and the traced variant
of the op that runs each layer under its own job group.

Every op builds a fresh DataFrame plan from the cached inputs: collecting
the same DataFrame object twice would reuse its shuffle outputs.
"""

from __future__ import annotations

import os
import random
import time
import zlib
from typing import Dict, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from monotonic_optimal_binning_spark import (
    BinningConstraints,
    FittedBins,
    GroupedBins,
    Scorecard,
    collect_group_stats,
    fit_binners_per_group,
    fit_groups_from_stats,
)
from monotonic_optimal_binning_spark.operators.asof import asof_join, leakage_audit
from monotonic_optimal_binning_spark.operators.windows import sessionize, with_lag_lead
from monotonic_optimal_binning_spark.plans.checkpoint import load_manifest, run_stage
from monotonic_optimal_binning_spark.sources.synthetic import (
    DEFAULT_SOURCES,
    event_table,
    token_table,
)

from tracing import Tracer, dir_bytes, python_eval_nodes

CONSTRAINTS = dict(constraints=BinningConstraints(max_bins=6, min_bins=3))


def _merge_iterations(models) -> int:
    return sum(
        m.diagnostics.get("merge_phase1_iterations", 0)
        + m.diagnostics.get("merge_phase2_iterations", 0)
        for m in models
    )


def _plan(tr: Tracer, layer: str, op: int, df: DataFrame) -> None:
    """Time analysis + optimization + physical planning of ``df`` and count
    its Python evaluation nodes, outside the layer's wall time."""
    tr.group(f"plan#{op}")
    t0 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    tr.put(layer, op, "plan_s", time.perf_counter() - t0)
    tr.put(layer, op, "python_eval_nodes", python_eval_nodes(df))


def _signature(m: FittedBins):
    return (tuple(m.rights.tolist()), tuple(np.asarray(m.woes).tolist()))


class Workload:
    """One benchmark workload. ``prepare`` (re)builds and caches the
    inputs; ``op``/``traced_op`` return None when the output check passed,
    else a message."""

    def __init__(self, spark, seed: int, scale: float, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.scale = scale
        self.work_dir = work_dir
        self.cached: List[DataFrame] = []

    def release(self) -> None:
        for df in self.cached:
            df.unpersist(blocking=True)
        self.cached = []

    def _cache(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        self.cached.append(df)
        return df


# ------------------------------------------------------------ pit_fit_woe --

class PitFitWoe(Workload):
    """Lag/lead + sessionize over events, as-of join onto observation
    snapshots, per-source fit, 6-bin WoE transform, checkpointed write."""

    EVENTS_PER_DOC = 4
    SNAPS_PER_DOC = 2

    def prepare(self) -> int:
        n = max(int(60_000 * self.scale), 200)
        self.ev = self._cache(
            event_table(self.spark, n, self.EVENTS_PER_DOC, seed=self.seed)
        )
        tok = token_table(self.spark, n, seed=self.seed).select(
            "doc_id", "n_tok", "source"
        )
        # several observation times per entity, spread over the event
        # horizon and jittered per doc (no single global cutoff)
        snap_ts = [
            F.lit(1_700_000_000.0 + (k + 1) * 86_400.0 / (self.SNAPS_PER_DOC + 1))
            + (F.abs(F.xxhash64("doc_id", F.lit(self.seed), F.lit(k))) % 7_200_000)
            / 1000.0
            - 3600.0
            for k in range(self.SNAPS_PER_DOC)
        ]
        self.snap = self._cache(
            tok.select("*", F.explode(F.array(*snap_ts)).alias("ts"))
        )
        self.n_snap = n * self.SNAPS_PER_DOC
        self.stage_dir = os.path.join(self.work_dir, "stage")
        self.reference = None
        return n * self.EVENTS_PER_DOC + self.n_snap

    def _windows(self) -> DataFrame:
        tie = ["value", "label"]
        ev = with_lag_lead(
            self.ev, ["value", "label"], "doc_id", "ts",
            lags=[1], leads=[1], tiebreak=tie,
        )
        return sessionize(ev, "doc_id", "ts", gap_seconds=4 * 3600.0, tiebreak=tie)

    def _asof(self, ev_w: DataFrame) -> DataFrame:
        feat = asof_join(
            self.snap, ev_w, on="doc_id", left_ts="ts", right_ts="ts",
            value_cols=["value", "value_lag1", "label_lead1", "session_id"],
            right_prefix="ev_", include_matched_ts="ev_ts",
        )
        # target: outcome of the first event AFTER the observation, which
        # is the lead of the last event at or before it
        return feat.withColumn(
            "y", F.coalesce(F.col("ev_label_lead1"), F.lit(0)).cast("int")
        )

    def _out(self, scored: DataFrame) -> DataFrame:
        return scored.select(
            "doc_id", "ts", "source", "n_tok", "n_tok_woe",
            "ev_value", "ev_value_lag1", "ev_session_id", "y",
        )

    def _check(self, feat: DataFrame, gb: GroupedBins) -> Optional[str]:
        """Zero leakage, every observation written once, and the same
        per-source models on every op (scan/solve split included)."""
        models = tuple((g, _signature(m)) for g, m in sorted(gb.models.items()))
        if self.reference is None:
            self.reference = models
        if models != self.reference:
            return "fitted models differ from the first op's models"
        audit = leakage_audit(feat, "ts", "ev_ts").collect()[0]
        rows = load_manifest(self.stage_dir).rows_written
        if audit["n_leaks"] != 0:
            return f"leakage_audit found {audit['n_leaks']} leaks"
        if rows != self.n_snap or audit["n_rows"] != self.n_snap:
            return f"wrote {rows} rows, audit saw {audit['n_rows']}, input {self.n_snap}"
        return None

    def op(self, i: int) -> Optional[str]:
        feat = self._asof(self._windows()).persist()
        try:
            gb = fit_binners_per_group(feat, "source", "n_tok", "y", **CONSTRAINTS)
            out = gb.transform(feat, assign="woe", input_col="n_tok",
                               output_col="n_tok_woe")
            run_stage(self.spark, self.stage_dir, "pit_features",
                      lambda: self._out(out), force=True)
            return self._check(feat, gb)
        finally:
            feat.unpersist()

    def traced_op(self, i: int, tr: Tracer) -> Optional[str]:
        keep = []
        try:
            with tr.layer("operators.windows", i):
                ev_w = self._windows().persist()
                ev_w.count()
                keep.append(ev_w)
            with tr.layer("operators.asof", i):
                feat = self._asof(ev_w).persist()
                feat.count()
                keep.append(feat)
            with tr.layer("operators.binning.fit", i):
                stats = collect_group_stats(feat, "source", "n_tok", "y", **CONSTRAINTS)
            tr.put("operators.binning.fit", i, "passes_per_fit",
                   tr.jobs_in(f"operators.binning.fit#{i}"))
            tr.put("operators.binning.fit", i, "stats_rows", len(stats.rows))
            with tr.layer("core", i):
                gb = fit_groups_from_stats(stats, **CONSTRAINTS)
            tr.put("core", i, "solve_s", tr.values[("core", i)]["wall_s"])
            tr.put("core", i, "merge_iterations",
                   _merge_iterations(gb.models.values()))
            out = gb.transform(feat, assign="woe", input_col="n_tok",
                               output_col="n_tok_woe")
            _plan(tr, "operators.binning.transform", i, out)
            with tr.layer("operators.binning.transform", i):
                out = out.persist()
                out.count()
                keep.append(out)
            with tr.layer("plans.checkpoint", i):
                run_stage(self.spark, self.stage_dir, "pit_features",
                          lambda: self._out(out), force=True)
            tr.put("plans.checkpoint", i, "bytes_written",
                   dir_bytes(os.path.join(self.stage_dir, "data")))
            tr.group(f"check#{i}")
            return self._check(feat, gb)
        finally:
            for df in keep:
                df.unpersist()


# ------------------------------------------------------------- score_wide --

class ScoreWide(Workload):
    """Read-only serving from prebuilt artifacts: WoE and interval
    transforms from 6 to 200 bins, a grouped model, and a scorecard with
    reason codes, to a noop sink."""

    DISTINCT = 20_000
    BINS = {"a": 6, "b": 16, "c": 64, "d": 200}
    GROUP_BINS = (6, 12, 24, 48, 96)
    INTERVAL = ("b", "d")

    def _model(self, rng: random.Random, x: str, k: int) -> FittedBins:
        cuts = [1000.0 * j / k + rng.randrange(1, 20) / 8.0 for j in range(1, k)]
        # WoE on a 1/64 grid: every checksum below is an exact float sum
        woes = [rng.randrange(-128, 129) / 64.0 for _ in range(k)]
        return FittedBins.from_cuts(x, cuts, woes)

    def prepare(self) -> int:
        n = max(int(300_000 * self.scale), 2_000)
        rng = random.Random(self.seed)
        self.models = {x: self._model(rng, x, k) for x, k in self.BINS.items()}
        self.grouped = GroupedBins("source", "a", "y", {
            s: self._model(rng, "a", k)
            for s, k in zip(DEFAULT_SOURCES, self.GROUP_BINS)
        })
        self.card = Scorecard(self.models)

        u = F.abs(F.xxhash64("id", F.lit(self.seed))) % self.DISTINCT
        d = float(self.DISTINCT)
        nan = F.lit(float("nan"))

        def feat(mult: int):
            return ((u * mult) % self.DISTINCT) / (d / 1000.0)

        src = F.array(*[F.lit(s) for s in DEFAULT_SOURCES])
        df = self.spark.range(0, n, 1, self.spark.sparkContext.defaultParallelism).select(
            F.when(u % 101 == 0, F.lit(None)).when(u % 103 == 0, nan)
            .otherwise(feat(1)).alias("a"),
            F.when(u % 107 == 0, nan).otherwise(feat(7919)).alias("b"),
            feat(104_729).alias("c"),
            F.when(u % 109 == 0, F.lit(None)).otherwise(feat(1_299_709)).alias("d"),
            src[(u % len(DEFAULT_SOURCES)).cast("int")].alias("source"),
        )
        self.base = self._cache(df)
        counts = self.base.groupBy("a", "b", "c", "d", "source").count().collect()
        self.expected = self._expected(counts)
        return n

    # --- output columns and their observed checksums ---

    def _transforms(self, df: DataFrame) -> DataFrame:
        for x, m in self.models.items():
            df = m.transform(df, assign="woe", input_col=x, output_col=f"{x}_woe")
        df = self.grouped.transform(df, assign="woe", input_col="a",
                                    output_col="a_grp_woe")
        for x in self.INTERVAL:
            df = self.models[x].transform(df, assign="interval", input_col=x,
                                          output_col=f"{x}_interval")
        return df

    def _transform_metrics(self):
        out = []
        for c in [f"{x}_woe" for x in self.models] + ["a_grp_woe"]:
            miss = F.col(c).isNull() | F.isnan(c)
            out += [
                F.sum(F.when(miss, 0.0).otherwise(F.col(c))).alias(f"sum_{c}"),
                F.sum(miss.cast("long")).alias(f"missing_{c}"),
            ]
        for x in self.INTERVAL:
            out.append(F.sum(F.crc32(F.col(f"{x}_interval"))).alias(f"crc_{x}_interval"))
        return out

    def _score(self, df: DataFrame) -> DataFrame:
        return self.card.reason_codes(df, top_k=3, score_col="score")

    def _score_metrics(self):
        return [
            F.sum("score").alias("sum_score"),
            F.sum(F.size("reasons")).alias("n_reasons"),
            F.sum(F.crc32(F.concat_ws("|", "reasons"))).alias("crc_reasons"),
        ]

    def _expected(self, counts) -> Dict[str, float]:
        """Checksums from FittedBins.assign_batch over the value-count table
        (driver-side; NULL and NaN both count as missing)."""
        pdf = pd.DataFrame(
            [r.asDict() for r in counts],
            columns=["a", "b", "c", "d", "source", "count"],
        )
        w = pdf["count"].to_numpy()
        exp: Dict[str, float] = {}

        def add_woe(name: str, woe: np.ndarray) -> None:
            miss = np.isnan(woe)
            exp[f"sum_{name}"] = float(np.sum(np.where(miss, 0.0, woe) * w))
            exp[f"missing_{name}"] = int(np.sum(w[miss]))

        for x, m in self.models.items():
            add_woe(f"{x}_woe", m.assign_batch(pdf[x], "woe").to_numpy(float))
        grp = np.full(len(pdf), np.nan)
        for g, m in self.grouped.items():
            sel = (pdf["source"] == g).to_numpy()
            grp[sel] = m.assign_batch(pdf["a"][sel], "woe").to_numpy(float)
        add_woe("a_grp_woe", grp)
        for x in self.INTERVAL:
            labels = self.models[x].assign_batch(pdf[x], "interval")
            crc = np.array([zlib.crc32(s.encode()) for s in labels], dtype=np.int64)
            exp[f"crc_{x}_interval"] = int(np.sum(crc * w))

        # reason codes: per-feature points (missing -> neutral), deficit
        # against the best attainable points, top 3 by (deficit, name)
        names = sorted(self.models)
        pts = np.column_stack([
            self.card._points_of_woe(x, np.nan_to_num(
                self.models[x].assign_batch(pdf[x], "woe").to_numpy(float), nan=0.0))
            for x in names
        ])
        exp["sum_score"] = int(np.sum(pts.sum(axis=1).astype(np.int64) * w))
        deficit = pts - np.array([self.card.best_points(x) for x in names])
        # stable sort on deficit keeps the name order among ties
        order = np.argsort(deficit, axis=1, kind="stable")
        n_reasons = crc_reasons = 0
        for r in range(len(pdf)):
            top = [names[j] for j in order[r] if deficit[r, j] < 0][:3]
            n_reasons += len(top) * int(w[r])
            crc_reasons += zlib.crc32("|".join(top).encode()) * int(w[r])
        exp["n_reasons"] = n_reasons
        exp["crc_reasons"] = crc_reasons
        return exp

    def _compare(self, got: Dict[str, float]) -> Optional[str]:
        if got == self.expected:
            return None
        return f"checksums {got} differ from expected {self.expected}"

    def _run(self, df: DataFrame, metrics) -> Dict[str, float]:
        """Score to a noop sink, observing the checksums in the same pass."""
        obs = Observation()
        df.observe(obs, *metrics).write.format("noop").mode("overwrite").save()
        return obs.get

    def op(self, i: int) -> Optional[str]:
        out = self._score(self._transforms(self.base))
        return self._compare(
            self._run(out, self._transform_metrics() + self._score_metrics())
        )

    def traced_op(self, i: int, tr: Tracer) -> Optional[str]:
        got: Dict[str, float] = {}
        layer = "operators.binning.transform"
        out = self._transforms(self.base)
        _plan(tr, layer, i, out)
        with tr.layer(layer, i):
            got.update(self._run(out, self._transform_metrics()))
        out = self._score(self.base)
        tr.put("scorecard", i, "python_eval_nodes", python_eval_nodes(out))
        with tr.layer("scorecard", i):
            got.update(self._run(out, self._score_metrics()))
        return self._compare(got)


WORKLOADS = {
    "pit_fit_woe": PitFitWoe,
    "score_wide": ScoreWide,
}
