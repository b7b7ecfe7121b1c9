"""The ingest leg of ``trend_region``: the write side of the
observation schema.

Seeded per-image-date parquet files land in a directory;
``streaming.stream_parquet_source`` (one file per trigger) feeds
``tablelog.publish_stream_versioned``, so every file becomes one
microbatch and one committed table version. Afterwards the whole table
is read back with ``tablelog.read_versioned``.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

import gen
from spans import tree_cpu_s

N_DATES = gen.LANDING["dates"]
READBACKS = 1


def _median(xs) -> float:
    return float(np.median(xs)) if len(xs) else float("nan")


class StreamIngest:
    def __init__(self, ctx):
        self.ctx = ctx
        self._streams = 0

    def generate(self) -> dict:
        d = self.ctx.data
        self.landing = str(d / "landing")
        self.info, self.values = gen.write_landing(self.landing, self.ctx.seed, N_DATES)
        self.warm = str(d / "warm")
        gen.write_landing(self.warm, self.ctx.seed + 1, gen.LANDING["warm_dates"])
        self.empty = str(d / "empty")
        os.makedirs(self.empty, exist_ok=True)
        return self.info

    def _stream(self, src_dir: str):
        """Start one publishing stream into a fresh table; returns
        (query, table path)."""
        from pyspark.sql import types as T

        from trendengine_spark.streaming.windows import stream_parquet_source
        from trendengine_spark.tablelog import publish_stream_versioned

        self._streams += 1
        table = str(self.ctx.data / f"table_{self._streams}")
        schema = T.StructType(
            [
                T.StructField("longitude", T.DoubleType()),
                T.StructField("latitude", T.DoubleType()),
                T.StructField("time", T.TimestampType()),
                T.StructField("value", T.DoubleType()),
            ]
        )
        src = stream_parquet_source(
            self.ctx.spark, src_dir, schema, watermark_col="time", max_files_per_trigger=1
        )
        q = publish_stream_versioned(
            src, table, checkpoint=table + "_checkpoint", query_name=f"ingest_{self._streams}"
        )
        return q, table

    def setup_extra(self) -> None:
        """Streaming query start, part of set-up: a stream over an empty
        landing directory starts, finds nothing and ends."""
        q, _ = self._stream(self.empty)
        q.awaitTermination()

    def warmup(self) -> None:
        """A short stream of other dates: the first writes of a session
        run at JIT speed."""
        q, _ = self._stream(self.warm)
        q.awaitTermination()

    def _readback(self, table: str):
        from trendengine_spark.tablelog import read_versioned

        return self.ctx.request("readback", lambda: read_versioned(self.ctx.spark, table))

    def check(self, tbl, table: str, batches: int) -> list[str]:
        """Committed rows equal landed rows, no duplicate (pixel, time),
        one version per batch, identical values."""
        from trendengine_spark.tablelog import current_version

        problems = []
        df = tbl.to_pandas()
        if len(df) != self.info["rows"]:
            problems.append(f"{len(df)} rows committed, {self.info['rows']} landed")
        if df.duplicated(["longitude", "latitude", "time"]).any():
            problems.append("duplicate (longitude, latitude, time) rows")
        versions = current_version(table) + 1
        if versions != batches or batches != N_DATES:
            problems.append(f"{versions} versions for {batches} batches of {N_DATES} files")
        got = np.sort(df["value"].to_numpy())
        want = np.sort(self.values)
        if got.shape != want.shape or not np.array_equal(got, want):
            problems.append("committed values differ from landed values")
        return problems

    def measure(self) -> dict:
        """The fixed ``N_DATES``-file ingest, then ``READBACKS`` read-backs."""
        ctx = self.ctx
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        q, table = self._stream(self.landing)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        ingest_cpu = tree_cpu_s() - c0
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        self.progress = progress
        self.table = table
        ctx.attempted += len(progress)
        if q.exception() is not None:
            ctx.fail(f"stream failed: {q.exception()}", count=len(progress) or 1)
        commits = [p["durationMs"]["triggerExecution"] for p in progress]
        print(f"perfbench: commits_ms {commits}", file=sys.stderr)
        reads = []
        for _ in range(READBACKS):
            tbl, req = ctx.op(
                "readback",
                lambda: self._readback(table),
                lambda t: self.check(t, table, len(progress)),
            )
            if tbl is not None:
                reads.append(req.wall_s)
        return {
            # one image date per microbatch, at the median commit time
            "rows_per_s": self.info["pixels"] / (_median(commits) / 1e3),
            "commit_p50_ms": _median(commits),
            "commit_cpu_ms": 1e3 * ingest_cpu / max(len(progress), 1),
            "readback_s": _median(reads),
            "ingest_s": wall,
        }

    def layer_metrics(self) -> dict:
        """Per-microbatch phase medians from ``recentProgress`` and the
        committed table's layout."""
        p = self.progress
        dur = lambda k: [x["durationMs"].get(k, 0) for x in p]  # noqa: E731
        commits = dur("triggerExecution")
        parts = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
        coverage = [
            sum(x["durationMs"].get(k, 0) for k in parts) / max(x["durationMs"]["triggerExecution"], 1)
            for x in p
        ]
        data_dir = os.path.join(self.table, "data")
        files = [f for f in os.listdir(data_dir) if f.endswith(".parquet")]
        table_bytes = sum(os.path.getsize(os.path.join(data_dir, f)) for f in files)
        landed = sum(
            os.path.getsize(os.path.join(self.landing, f)) for f in os.listdir(self.landing)
        )
        from trendengine_spark.tablelog import current_version

        return {
            "streaming.batches": len(p),
            "streaming.commit_p90_ms": float(np.percentile(commits, 90)) if commits else 0.0,
            "streaming.add_batch_ms": _median(dur("addBatch")),
            "streaming.wal_commit_ms": _median(dur("walCommit")),
            "streaming.planning_ms": _median(dur("queryPlanning")),
            "streaming.latest_offset_ms": _median(dur("latestOffset")),
            "streaming.phase_coverage_min": min(coverage) if coverage else 0.0,
            "tablelog.versions": current_version(self.table) + 1,
            "tablelog.files": len(files),
            "tablelog.bytes_per_input_byte": table_bytes / landed,
            "tablelog.readback_s": _median(self.ctx.rec.walls("readback")),
            "progress_sample": json.loads(json.dumps(p[len(p) // 2], default=str)) if p else {},
        }
