"""Benchmark command for the trend engine.

    python3 perfbench/run.py --workload trend_region --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. It writes seeded inputs under
``.perfbench/``, starts the engine's session in a new JVM, restarts it
several times (``setup_s`` is the median restart plus the workload's
own set-up), warms up, runs the workload's closed loop, checks every
result and prints one JSON line
``{"correct", "attempted", "failed", "metrics"}`` as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` reruns the workload with the Spark event log on and reports the
per-layer metrics, writing one JSON file per request type under
``.perfbench/trace/<workload>/``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

from spans import Recorder, catalyst_phases

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("trend_region", "query_suite")
#: Options of the session's JVM. ``TieredStopAtLevel=1`` keeps the JIT at
#: its first tier, which finishes compiling during the warm-up. With the
#: full JIT the engine's code was still being recompiled while a run
#: measured (a headline pass kept speeding up for ~60 s of queries), so
#: a run's figures read how far the compiler had got; see README.md.
JVM_OPTS = "-XX:-UsePerfData -XX:TieredStopAtLevel=1"
#: session restarts after the cold start; ``setup_s`` uses their median
RESTARTS = 3


class Ctx:
    """State of one benchmark run: session, recorder and op counts."""

    def __init__(self, seed: int, data: Path, traced: bool):
        self.seed = seed
        self.data = data
        self.traced = traced
        self.rec = Recorder(False)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        #: persistent RDDs the workload pins (its table cache)
        self.pinned: set[int] = set()

    def fail(self, msg: str, count: int = 1) -> None:
        self.failed += count
        self.problems.append(msg)
        print(f"perfbench: FAILED {msg}", file=sys.stderr)

    def op(self, label: str, fn, check):
        """One counted operation: ``fn`` returns (result, request, *extra);
        ``check(result, *extra)`` returns the gate misses. Afterwards the
        engine's owned caches are dropped, and the JVM's persistent-RDD
        set must equal the workload's pinned table cache: a leftover
        would make the next sample warm, a lost pin cold. Either is a
        failure."""
        self.attempted += 1
        try:
            tbl, req, *extra = fn()
        except Exception as exc:  # a failed request is counted, not fatal
            traceback.print_exc()
            self.fail(f"{label}: {type(exc).__name__}: {exc}")
            return None, None
        problems = check(tbl, *extra) + self.drop_caches(label)
        if problems:
            self.fail("; ".join(problems))
        return tbl, req

    def drop_caches(self, label: str) -> list[str]:
        """Drop the engine's owned caches; a persistent RDD other than the
        pinned ones is a gate miss."""
        from trendengine_spark.operators.util import owned_cache_drop

        owned_cache_drop(self.spark, "")
        persisted = set(self.spark.sparkContext._jsc.getPersistentRDDs().keySet())
        if persisted != self.pinned:
            return [f"persisted RDDs {sorted(persisted)} != pinned {sorted(self.pinned)} "
                    f"after {label}"]
        return []

    def request(self, kind: str, build):
        """One timed request: ``build()`` returns a DataFrame, the action
        is ``toArrow()``. Returns (Arrow table, request)."""
        with self.rec.request(self.spark, kind) as req:
            with self.rec.span("build"):
                df = build()
            with self.rec.span("action"):
                tbl = df.toArrow()
        req.rows, req.bytes = tbl.num_rows, tbl.nbytes
        if self.rec.traced:
            req.catalyst_ms = catalyst_phases(df)
        return tbl, req


def session_conf(work: Path, event_log: Path | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} {JVM_OPTS}",
    }
    if event_log is not None:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(ctx: Ctx, conf: dict[str, str]) -> None:
    """Engine session start as a user pays it: ``session.get_spark``
    (JVM launch on the first call, package ship) and the first job."""
    if ctx.spark is not None:
        ctx.spark.stop()
    from trendengine_spark.session import get_spark

    ctx.spark = get_spark(app_name="perfbench", extra_conf=conf)
    ctx.spark.range(1000).selectExpr("sum(id)").collect()


def stop_jvm() -> None:
    """Stop the session, then the py4j gateway, and wait for the JVM (and
    its Python workers) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return float("nan")


def make_workload(name: str, ctx: Ctx):
    if name == "trend_region":
        from trend_region import TrendRegion

        return TrendRegion(ctx)
    from query_suite import QuerySuite

    return QuerySuite(ctx)


_T0 = time.perf_counter()


def phase(name: str) -> None:
    """Progress line on standard error: seconds since the start."""
    print(f"perfbench: {time.perf_counter() - _T0:7.2f} s  {name}", file=sys.stderr, flush=True)


def run(args, work: Path, run_dir: Path) -> dict:
    phase("imports done")
    ctx = Ctx(args.seed, run_dir, bool(args.trace))
    wl = make_workload(args.workload, ctx)
    t0 = time.perf_counter()
    info = wl.generate()
    gen_s = time.perf_counter() - t0
    print("perfbench: input " + json.dumps({"workload": args.workload, "seed": args.seed, **info}))
    phase("inputs generated")

    calib = None
    if ctx.traced:
        from bench import _parallel_calibration

        calib = _parallel_calibration()  # before the JVM starts: it forks
    log_dir = work / "trace" / args.workload / "eventlog"
    if ctx.traced:
        shutil.rmtree(log_dir, ignore_errors=True)
        log_dir.mkdir(parents=True)
    conf = lambda log=None: {**getattr(wl, "conf", {}), **session_conf(work, log)}  # noqa: E731

    # the cold start (JVM launch) is one sample per run, reported as
    # session.start_s; setup_s is the median of the restarts after it
    # plus the workload's own set-up, which the last session needs anyway
    t0 = time.perf_counter()
    start_session(ctx, conf())
    cold_s = time.perf_counter() - t0
    phase("cold start done")
    restarts: list[float] = []
    for _ in range(RESTARTS):
        t0 = time.perf_counter()
        start_session(ctx, conf())
        restarts.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    wl.setup_extra()
    setup_s = statistics.median(restarts) + time.perf_counter() - t0
    baseline_ms = float("nan")
    if ctx.traced:
        # untraced reference for the trace overhead, equally warm; then
        # the traced session
        wl.warmup()
        baseline_ms = wl.baseline_ms()
        start_session(ctx, conf(log_dir))
        wl.setup_extra()
    phase("set-up done")

    wl.warmup()
    phase("warm-up done")
    ctx.rec = Recorder(ctx.traced)
    measure_start = time.time()
    res = wl.measure(args.seconds)
    phase("measured")
    problems, extras = wl.gates_after()
    phase("gates done")
    if problems:
        ctx.fail("; ".join(problems), count=len(problems))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if ctx.traced:
        from layers import per_layer, time_kernels

        if "polytrend_kernel_ms" not in extras:
            extras.update(time_kernels(args.seed))
        context = {
            "session.start_s": cold_s,
            "session.jvm_peak_rss_mb": jvm_peak_rss_mb(),
            "host.calib_parallel_s": calib,
            "host.load_avg": os.getloadavg()[0],
            "gen_s": gen_s,
            "trace.overhead_ratio": res["op_p50_ms"] / baseline_ms,
            "op_cpu_ms": res["op_cpu_ms"],
        }
        ctx.spark.stop()  # flushes the event log
        extras.update(wl.layer_metrics())
        extras.update(restarts_s=restarts, setup_s=setup_s,
                      result={k: v for k, v in res.items() if not isinstance(v, list)})
        values = per_layer(ctx, wl, work / "trace" / args.workload, log_dir, measure_start,
                           context, extras)
        names = spec["per_layer"]
    else:
        values = {**res, "setup_s": setup_s}
        names = spec["end_to_end"]
    metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in names}
    ok = not ctx.problems and all(
        isinstance(v, (int, float)) and v == v for v, _ in metrics.values()
    )
    return {
        "correct": bool(ok),
        "attempted": int(ctx.attempted),
        "failed": int(ctx.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="Trend-engine benchmark (see perfbench/README.md)")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    needed = ("trendengine_spark/__init__.py", "bench.py", "tools/check_oracle.py")
    if not all((ROOT / f).is_file() for f in needed):
        print(
            f"perfbench: no engine sources ({', '.join(needed)}) in {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2

    work = ROOT / ".perfbench"
    run_dir = work / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for d in (work / "tmp", work / "spark-local", run_dir):
        d.mkdir(parents=True, exist_ok=True)
    # every scratch file of the session, the JVM and the Python workers
    # stays inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path[:0] = [str(ROOT), str(HERE), str(ROOT / "tools")]
    try:
        result = run(args, work, run_dir)
    finally:
        try:
            stop_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            shutil.rmtree(work / "tmp", ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
