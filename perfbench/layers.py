"""Per-layer metrics of a traced run.

Joins the recorder's spans with the run's Spark event log, writes one
JSON file per request type (self time per layer, job/stage/task totals)
and returns the values of the ``per_layer`` metrics named in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

import numpy as np

import gen

from spans import (
    FIT_SCOPE,
    layer_breakdown,
    max_concurrent_tasks,
    read_event_log,
    stage_totals,
    summarize_event_log,
)

#: request coverage the spans must reach (share of request wall)
MIN_COVERAGE = 0.95


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def time_kernels(seed: int, n: int = 16) -> dict[str, float]:
    """Per-series cost of the fit kernels, in-process, on ``n`` seeded
    series of the raster model: PolyTrend on the annual means, DBEST on
    the monthly series (the shapes the engine's flows fit). For
    workloads whose own requests give no per-series sample."""
    from trendengine_spark.functions.dbest import dbest_change_detection
    from trendengine_spark.functions.polytrend import polytrend_classify

    rng = np.random.default_rng([seed, 5])
    _, _, y, _ = gen.raster_values(rng, n, 1, 12 * gen.N_YEARS, gen.RASTER["shift_share"])
    annual = y.reshape(n, gen.N_YEARS, 12).mean(axis=2)
    out = {}
    for name, fn, series in (
        ("polytrend_kernel_ms", polytrend_classify, annual),
        ("dbest_kernel_ms", dbest_change_detection, y[: n // 4]),
    ):
        times = []
        for s in series:
            t0 = time.perf_counter()
            fn(s)
            times.append(time.perf_counter() - t0)
        out[name] = 1e3 * _median(times)
    return out


def per_layer(ctx, wl, out_dir: Path, log_dir: Path, measure_start: float,
              context: dict, extras: dict) -> dict[str, float]:
    rec = ctx.rec
    events = read_event_log(str(log_dir))
    jobs, stages = summarize_event_log(events)
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    window = [j for j in jobs.values() if j.start_ms >= measure_start * 1e3]
    kinds = layer_breakdown(rec, jobs, stages)

    batches = extras.get("streaming.batches", 0)
    ops = max(len(rec.requests) + batches, 1)
    tot = stage_totals(window, stages)
    window_stages = {sid: stages[sid] for j in window for sid in j.stages if sid in stages}
    narrow_fit = [sid for sid, st in window_stages.items()
                  if FIT_SCOPE in st["scopes"] and 0 < st["tasks"] < cpus]
    peak = max_concurrent_tasks(window_stages)
    # SPARK_GRAFT_CPUS is honoured when no more tasks than cores ever run
    # at once and every fit stage is at least that wide; a miss is a
    # performance finding, reported, not a wrong result
    cpu_check = {"cpus": cpus, "peak_concurrent_tasks": peak, "narrow_fit_stages": narrow_fit}
    if peak > cpus or narrow_fit:
        print(f"perfbench: SPARK_GRAFT_CPUS check: {cpu_check}", file=sys.stderr)

    reqs = rec.requests
    coverage = min((k["coverage_min"] for k in kinds.values()), default=1.0)
    if coverage < MIN_COVERAGE:
        print(f"perfbench: span coverage {coverage:.3f} < {MIN_COVERAGE}", file=sys.stderr)
    def self_ms(layer: str) -> float:
        """Median over request types of each type's median self time."""
        return _median([k["self_ms_median"][layer] for k in kinds.values()
                        if layer in k["self_ms_median"]])

    def phase_ms(phase: str) -> float:
        """Mean, not median: the tracker counts whole milliseconds."""
        xs = [r.catalyst_ms[phase] for r in reqs if r.catalyst_ms]
        return statistics.fmean(xs) if xs else 0.0

    values = {
        **context,
        "build.ms": self_ms("build"),
        "catalyst.analysis_ms": phase_ms("analysis"),
        "catalyst.optimization_ms": phase_ms("optimization"),
        "catalyst.planning_ms": phase_ms("planning"),
        "exec.jobs": tot["jobs"] / ops,
        "exec.stages": tot["stages"] / ops,
        "exec.tasks": tot["tasks"] / ops,
        "exec.task_run_s": tot["task_run_s"] / ops,
        "exec.task_cpu_s": tot["task_cpu_s"] / ops,
        "exec.task_gc_s": tot["task_gc_s"] / ops,
        "exec.sched_delay_s": tot["sched_delay_s"] / ops,
        "exec.shuffle_bytes": tot["shuffle_bytes"] / ops,
        "exec.spill_bytes": tot["spill_bytes"] / ops,
        "exec.driver_gap_ms": self_ms("gap"),
        "exec.narrow_fit_stages": len(narrow_fit),
        "tables.scan_rows": tot["scan_rows"] / ops,
        "tables.scan_bytes": tot["scan_bytes"] / ops,
        "transfer.rows": _median([r.rows for r in reqs]),
        "transfer.bytes": _median([r.bytes for r in reqs]),
        "functions.polytrend_kernel_ms": extras.get("polytrend_kernel_ms", 0.0),
        "functions.dbest_kernel_ms": extras.get("dbest_kernel_ms", 0.0),
        "trace.span_coverage_min": coverage,
    }

    # the plan-build layer is the engine's flows on trend_region and the
    # query registry (queries / sqltext) on query_suite
    extras[f"{wl.build_layer}.build_ms"] = values["build.ms"]
    out_dir.mkdir(parents=True, exist_ok=True)
    kernel_ms = extras.get("kernel_ms_per_request", {})
    for kind, k in kinds.items():
        fit_s = k["per_request"].get("fit_stage_s", 0.0)
        if kind in kernel_ms and fit_s:
            # useful work: in-process kernel time ÷ fit-stage task time
            k["functions.kernel_share"] = kernel_ms[kind] / 1e3 / fit_s
        (out_dir / f"{kind}.json").write_text(json.dumps(k, indent=1, sort_keys=True))
    (out_dir / "workload.json").write_text(
        json.dumps({"per_layer": values, "cpu_check": cpu_check, "extras": extras},
                   indent=1, sort_keys=True, default=str)
    )
    (out_dir / "spans.json").write_text(
        json.dumps([s.__dict__ for s in rec.spans], indent=0)
    )
    return values
