"""``query_suite``: the repository's headline query suite.

Exactly ``bench.HEADLINE`` under ``bench.BENCH_CONF``, over seeded
TPC-H-shaped tables with the row counts and value ranges of the sf0.1
test tables (``gen.write_tables``). As in ``bench.py``, the tables are
pinned with ``tables.warm_cache`` (part of set-up), every sample builds
a fresh plan from the registry callable and ``toArrow()`` is the
action, after an untimed warm-up pass. The warm-up pass also checks
every result: against its DuckDB oracle, canonicalised the way
``tools/check_oracle.py`` does it, where the registry declares SQL, and
for rows otherwise.
"""

from __future__ import annotations

import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import gen
from trend_region import table_digest

DUCKDB_THREADS = 1
#: timed passes per run at least: the median query sits between two
#: queries of the ten, so one pass leaves it as noisy as those two
MIN_PASSES = 2
WARMUP_THREADS = 4


class QuerySuite:
    name = "query_suite"
    #: the layer that builds a request's plan
    build_layer = "queries"

    def __init__(self, ctx):
        from bench import BENCH_CONF, HEADLINE
        from trendengine_spark.queries import REGISTRY, all_queries

        self.ctx = ctx
        self.conf = BENCH_CONF
        self.headline = HEADLINE
        self.queries = all_queries()
        #: oracle SQL of the headline queries that declare it
        self.sql = {n: REGISTRY[n].sql for n in HEADLINE if REGISTRY[n].sql is not None}
        self.warm_s: list[float] = []
        self.rows: dict[str, int] = {}
        self.digests: dict[str, str] = {}

    def generate(self) -> dict:
        self.sf = str(self.ctx.data / "tables")
        return gen.write_tables(self.sf, self.ctx.seed)

    def setup_extra(self) -> None:
        """Pin the tables in the columnar cache; their persistent RDDs are
        the set every later operation must leave behind."""
        from trendengine_spark.tables import warm_cache

        t0 = time.perf_counter()
        self.counts = warm_cache(self.ctx.spark, self.sf)
        self.warm_s.append(time.perf_counter() - t0)
        self.ctx.pinned = set(self.ctx.spark.sparkContext._jsc.getPersistentRDDs().keySet())

    # ------------------------------------------------------------- gates

    def _oracle(self) -> dict:
        """DuckDB results of the headline queries that declare SQL, over
        the same files; a query's error stands in for its result."""
        import duckdb
        from check_oracle import TABLES

        results = {}
        with duckdb.connect() as con:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"SET threads={DUCKDB_THREADS}")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            for name, sql in self.sql.items():
                try:
                    results[name] = con.execute(sql).df()
                except duckdb.Error as exc:
                    results[name] = exc
        return results

    def warmup(self) -> None:
        """One untimed pass, ``WARMUP_THREADS`` queries at a time (nothing
        is timed, so the pass may overlap), ``toPandas()`` as the action.
        The first warm-up of a run checks every result against its
        oracle, computed on a thread meanwhile, or for rows where the
        registry declares no SQL; a miss is a failed operation."""
        ctx = self.ctx
        check = not self.rows
        run = lambda name: self.queries[name](ctx.spark, self.sf).toPandas()  # noqa: E731
        results, problems = {}, []
        with ThreadPoolExecutor(1) as duck, ThreadPoolExecutor(WARMUP_THREADS) as pool:
            oracle = duck.submit(self._oracle) if check else None
            futures = {name: pool.submit(run, name) for name in self.headline}
            for name, fut in futures.items():
                ctx.attempted += 1
                try:
                    results[name] = fut.result()
                except Exception as exc:  # a failed query is counted, not fatal
                    problems.append(f"{name}: {type(exc).__name__}: {exc}")
            problems += ctx.drop_caches("the warm-up pass")
            if check:
                try:
                    wanted = oracle.result()
                except Exception as exc:  # no oracle: every SQL query misses its gate
                    wanted = dict.fromkeys(self.sql, exc)
                problems += self._compare(results, wanted)
        for p in problems:
            ctx.fail(p)

    def _compare(self, results: dict, wanted: dict) -> list[str]:
        """Spark results against the oracle's, canonicalised as
        ``tools/check_oracle.py`` does; rows > 0 where there is no SQL."""
        from check_oracle import canon_pandas

        problems = []
        for name, got in results.items():
            self.rows[name] = len(got)
            want = wanted.get(name)
            if name not in self.sql:
                if not len(got):
                    problems.append(f"{name}: no rows")
            elif isinstance(want, Exception):
                problems.append(f"{name}: oracle error {want}")
            elif (len(got) != len(want) or sorted(got.columns) != sorted(want.columns)
                  or canon_pandas(got) != canon_pandas(want)):
                problems.append(f"{name}: result differs from the DuckDB oracle")
        return problems

    def _run(self, name: str):
        fn = self.queries[name]
        return self.ctx.request(name, lambda: fn(self.ctx.spark, self.sf))

    def _check(self, name: str, tbl) -> list[str]:
        """Same row count as the oracle-checked warm-up result, and the
        same digest on every timed sample."""
        problems = []
        if tbl.num_rows != self.rows.get(name):
            problems.append(f"{name}: {tbl.num_rows} rows, warm-up had {self.rows.get(name)}")
        d = table_digest(tbl)
        if self.digests.setdefault(name, d) != d:
            problems.append(f"{name}: result digest changed between samples")
        return problems

    # --------------------------------------------------------------- run

    def baseline_ms(self) -> float:
        """Median query latency of one untraced pass after the warm-up,
        for the trace overhead."""
        walls = []
        for name in self.headline:
            _, req = self.ctx.op(name, lambda name=name: self._run(name),
                                 lambda t, name=name: self._check(name, t))
            if req is not None:
                walls.append(req.wall_s)
        return 1e3 * float(np.median(walls))

    def measure(self, seconds: float) -> dict:
        """Whole passes over the headline queries for ``seconds``, at
        least ``MIN_PASSES``."""
        ctx = self.ctx
        passes: list[float] = []
        walls: list[float] = []
        cpus: list[float] = []
        rows = 0
        t_end = time.perf_counter() + seconds
        while len(passes) < MIN_PASSES or time.perf_counter() < t_end:
            total = 0.0
            for name in self.headline:
                _, req = ctx.op(name, lambda name=name: self._run(name),
                                lambda t, name=name: self._check(name, t))
                if req is not None:
                    total += req.wall_s
                    walls.append(req.wall_s)
                    cpus.append(req.cpu_s)
                    rows += req.rows
            passes.append(total)
            ms = " ".join(f"{1e3 * w:.0f}" for w in walls[-len(self.headline):])
            print(f"perfbench: pass {total:.2f} s, per query ms: {ms}", file=sys.stderr)
        return {
            "op_p50_ms": 1e3 * float(np.median(walls)),
            "bulk_s": float(np.median(passes)),
            "rows_per_s": rows / sum(walls),
            "op_cpu_ms": 1e3 * float(np.median(cpus)),
            "passes": len(passes),
        }

    def layer_metrics(self) -> dict:
        return {
            "tables.warm_cache_s": float(np.median(self.warm_s)),
            "tables.warm_cache_rows": sum(self.counts.values()),
            "query_rows": self.rows,
        }

    def gates_after(self) -> tuple[list[str], dict]:
        """The oracle gate runs in the warm-up pass."""
        return [], {}
