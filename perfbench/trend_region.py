"""``trend_region``: the paper's own workload.

A closed loop of one analyst on one seeded raster: each cycle sends a
whole-AOI PolyTrend request (annual composite), a sub-AOI DBEST change
detection request (monthly composite + ``fill_missing_months``) and
``POINTS_PER_CYCLE`` single-pixel PolyTrend requests. Every request
goes through ``TrendEngine.from_parquet`` and reads the parquet files
again; the engine keeps no cache between requests. After the loop, the
ingest leg (``stream_ingest.StreamIngest``) publishes new image dates
of the same observation schema into a versioned table.
"""

from __future__ import annotations

import hashlib
import json
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

import gen
from stream_ingest import StreamIngest

YEARS = (gen.YEAR0, gen.YEAR0 + gen.N_YEARS - 1)
POINTS_PER_CYCLE = 2
SUB_AOI = 4  # sub-AOI side, in pixels
SAMPLE = 16  # pixels re-fitted in-process by the correctness gate
DBEST_SAMPLE = 6
#: the PolyTrend flow's default quality threshold
THRESHOLD = 0.1
SLOPE_REL = 1e-9
PIXEL = ["longitude", "latitude"]


def table_digest(tbl) -> str:
    """Order-independent digest of an Arrow result: the sorted hashes of
    its rows, each row rendered as strings in column-name order."""
    df = tbl.to_pandas()
    cols = sorted(df.columns)
    rows = pd.util.hash_pandas_object(df[cols].astype(str), index=False).to_numpy()
    h = hashlib.sha256(",".join(cols).encode())
    h.update(np.sort(rows).tobytes())
    return h.hexdigest()


def _same(a, b, rel: float = 0.0) -> bool:
    """Equal, or both null, or within ``rel`` relative difference."""
    if pd.isna(a) or pd.isna(b):
        return pd.isna(a) and pd.isna(b)
    return a == b or abs(a - b) <= rel * max(abs(a), abs(b))


class TrendRegion:
    name = "trend_region"
    #: the layer that builds a request's plan
    build_layer = "engine"

    def __init__(self, ctx):
        self.ctx = ctx
        self.ingest = StreamIngest(ctx)
        self.info: dict = {}
        self.digests: dict[str, str] = {}
        self.first: dict = {}  # first result table of each AOI request kind
        self.region: pd.DataFrame | None = None

    # ------------------------------------------------------------ inputs

    def generate(self) -> dict:
        ctx = self.ctx
        self.path = str(ctx.data / "raster")
        self.info = gen.write_raster(self.path, ctx.seed)
        rng = np.random.default_rng([ctx.seed, 3])
        nx, ny = gen.RASTER["nx"], gen.RASTER["ny"]
        ix0, iy0 = (int(v) for v in rng.integers(0, [nx - SUB_AOI, ny - SUB_AOI]))
        half = gen.STEP / 2
        self.bbox = (
            gen.LON0 + gen.STEP * ix0 - half,
            gen.LAT0 + gen.STEP * iy0 - half,
            gen.LON0 + gen.STEP * (ix0 + SUB_AOI - 1) + half,
            gen.LAT0 + gen.STEP * (iy0 + SUB_AOI - 1) + half,
        )
        pix = rng.choice(nx * ny, size=64, replace=False)
        jitter = rng.uniform(-gen.STEP / 4, gen.STEP / 4, (64, 2))
        self.points = []
        for p, (jx, jy) in zip(pix, jitter):
            lon, lat = (float(v) for v in gen.pixel_lonlat(p // ny, p % ny))
            self.points.append((lon, lat, lon + jx, lat + jy))
        self.sample = rng.choice(nx * ny, size=SAMPLE, replace=False)
        return {"raster": self.info, "landing": self.ingest.generate()}

    # ---------------------------------------------------------- requests

    def _engine(self):
        from trendengine_spark.engine import TrendEngine

        return TrendEngine.from_parquet(self.ctx.spark, self.path)

    def polytrend_region(self):
        return self.ctx.request("aoi_polytrend", lambda: self._engine().polytrend(*YEARS))

    def dbest_region(self):
        return self.ctx.request(
            "aoi_dbest",
            lambda: self._engine().dbest(*YEARS, bbox=self.bbox, largest_only=True),
        )

    def point(self, k: int):
        lon, lat, qlon, qlat = self.points[k % len(self.points)]
        tbl, req = self.ctx.request(
            "point", lambda: self._engine().polytrend(*YEARS, point=(qlon, qlat))
        )
        return tbl, req, (lon, lat)

    # ------------------------------------------------------------- gates

    def _check_digest(self, kind: str, tbl) -> list[str]:
        d = table_digest(tbl)
        first = self.digests.setdefault(kind, d)
        return [] if d == first else [f"{kind}: result digest changed between samples"]

    def check_polytrend(self, tbl) -> list[str]:
        df = tbl.to_pandas()
        problems = []
        n = self.info["pixels"]
        if len(df) != n or df[PIXEL].drop_duplicates().shape[0] != n:
            problems.append(f"aoi_polytrend: {len(df)} rows for {n} pixels")
        if df["status"].value_counts().sum() != n:
            problems.append("aoi_polytrend: status counts do not cover every pixel")
        return problems + self._check_digest("aoi_polytrend", tbl)

    def check_dbest(self, tbl) -> list[str]:
        df = tbl.to_pandas()
        n = SUB_AOI * SUB_AOI
        problems = []
        if len(df) != n or df[PIXEL].drop_duplicates().shape[0] != n:
            problems.append(f"aoi_dbest: {len(df)} rows for {n} pixels")
        return problems + self._check_digest("aoi_dbest", tbl)

    def check_point(self, tbl, pixel) -> list[str]:
        df = tbl.to_pandas()
        if len(df) != 1:
            return [f"point: {len(df)} rows"]
        row = df.iloc[0]
        if (row["longitude"], row["latitude"]) != pixel:
            return [f"point: nearest pixel {(row['longitude'], row['latitude'])} != {pixel}"]
        if "aoi_polytrend" in self.first:
            if self.region is None:
                self.region = self.first["aoi_polytrend"].to_pandas().set_index(PIXEL)
            ref = self.region.loc[pixel]
            if not (_same(row["trend_type"], ref["trend_type"])
                    and _same(row["slope"], ref["slope"], SLOPE_REL)):
                return [f"point {pixel}: differs from the AOI result"]
        return []

    def check_kernels(self, poly_tbl, dbest_tbl) -> tuple[list[str], dict]:
        """Re-fit sampled pixels in-process with the engine's kernels on
        the engine's own composites and compare with the Spark results.
        Also times the kernels per series."""
        from trendengine_spark.engine import filter_bbox, filter_years
        from trendengine_spark.functions.dbest import _prepare_series, dbest_change_detection
        from trendengine_spark.functions.polytrend import polytrend_classify
        from trendengine_spark.operators.composite import (
            annual_composite,
            fill_missing_months,
            monthly_composite,
        )

        obs = self.ctx.spark.read.parquet(self.path)
        out: dict = {}
        annual, req = self.ctx.request(
            "composite", lambda: annual_composite(filter_years(obs, *YEARS), PIXEL)
        )
        monthly, req2 = self.ctx.request(
            "composite",
            lambda: fill_missing_months(
                monthly_composite(filter_bbox(filter_years(obs, *YEARS), *self.bbox), PIXEL),
                PIXEL,
            ),
        )
        annual, monthly = annual.to_pandas(), monthly.to_pandas()
        out["operators.composite_s"] = req.wall_s + req2.wall_s

        problems = []
        spark_poly = poly_tbl.to_pandas().set_index(PIXEL)
        ny = gen.RASTER["ny"]
        groups = dict(tuple(annual.groupby(PIXEL)))
        k_times = []
        for p in self.sample:
            key = tuple(float(v) for v in gen.pixel_lonlat(p // ny, p % ny))
            got = spark_poly.loc[key]
            y = groups[key].sort_values("yr")["value"].to_numpy(dtype=np.float64)
            y = y[~np.isnan(y)]
            if not np.all(y > THRESHOLD):
                if got["status"] != "below_threshold":
                    problems.append(f"kernel {key}: status {got['status']} != below_threshold")
                continue
            t0 = time.perf_counter()
            res = polytrend_classify(y)
            k_times.append(time.perf_counter() - t0)
            if (
                got["status"] != "ok"
                or got["trend_type"] != res["trend_type"]
                or got["degree"] != res["degree"]
                or not _same(got["slope"], res["slope"], SLOPE_REL)
            ):
                problems.append(f"polytrend kernel mismatch at {key}")
        out["polytrend_kernel_ms"] = 1e3 * float(np.median(k_times)) if k_times else 0.0

        spark_dbest = dbest_tbl.to_pandas().set_index(PIXEL)
        d_times = []
        keys = sorted(spark_dbest.index)[:: max(1, len(spark_dbest) // DBEST_SAMPLE)]
        mgroups = dict(tuple(monthly.groupby(PIXEL)))
        for key in keys[:DBEST_SAMPLE]:
            got = spark_dbest.loc[key]
            y, status = _prepare_series(mgroups[key], "period_start", "value", None)
            if status != "ok":
                if got["status"] != status:
                    problems.append(f"dbest {key}: status {got['status']} != {status}")
                continue
            t0 = time.perf_counter()
            res = dbest_change_detection(y)
            d_times.append(time.perf_counter() - t0)
            same = (
                got["status"] == "ok"
                and got["breakpoint_no"] == res["breakpoint_no"]
                and got["segment_no"] == res["segment_no"]
                and got["start"] == res["start"][0]
                and got["end"] == res["end"][0]
                and got["change_type"] == res["change_type"][0]
                and got["significance"] == res["significance"][0]
                and _same(got["change"], res["change"][0], SLOPE_REL)
            )
            if not same:
                problems.append(f"dbest kernel mismatch at {key}")
        out["dbest_kernel_ms"] = 1e3 * float(np.median(d_times)) if d_times else 0.0
        out["functions.series_by_status"] = spark_poly["status"].value_counts().to_dict()
        out["kernel_ms_per_request"] = {
            "aoi_polytrend": out["polytrend_kernel_ms"] * self.info["pixels"],
            "aoi_dbest": out["dbest_kernel_ms"] * SUB_AOI * SUB_AOI,
            "point": out["polytrend_kernel_ms"],
        }
        return problems, out

    # --------------------------------------------------------------- run

    def setup_extra(self) -> None:
        """The ingest leg's streaming query start; every request reads
        the files, so nothing else is set up."""
        self.ingest.setup_extra()

    def warmup(self) -> None:
        """A short ingest stream of other dates, one request of each kind
        at once, four more point requests two at a time, then one
        whole-AOI request of each kind: the first requests of a fresh
        session start the Python workers and compile the plans. Nothing
        here is measured."""
        self.ingest.warmup()
        with ThreadPoolExecutor(3) as pool:
            for f in [pool.submit(self.polytrend_region), pool.submit(self.dbest_region),
                      pool.submit(self.point, 0)]:
                f.result()
        with ThreadPoolExecutor(2) as pool:
            list(pool.map(self.point, range(1, 5)))
        self.polytrend_region()
        self.dbest_region()

    def baseline_ms(self) -> float:
        """Median of three point requests after a fourth, for the trace
        overhead."""
        return 1e3 * float(np.median([self.point(k)[1].wall_s for k in range(4)][1:]))

    def measure(self, seconds: float) -> dict:
        """Closed loop for ``seconds``; whole cycles only, at least two."""
        ctx = self.ctx
        walls: dict[str, list[float]] = {"aoi_polytrend": [], "aoi_dbest": [], "point": []}
        aoi = (
            ("aoi_polytrend", self.polytrend_region, self.check_polytrend),
            ("aoi_dbest", self.dbest_region, self.check_dbest),
        )
        point_cpu: list[float] = []
        t_end = time.perf_counter() + seconds
        cycles = k = 0
        while cycles < 2 or time.perf_counter() < t_end:
            for kind, fn, check in aoi:
                tbl, req = ctx.op(kind, fn, check)
                if tbl is not None:
                    walls[kind].append(req.wall_s)
                    self.first.setdefault(kind, tbl)
            for _ in range(POINTS_PER_CYCLE):
                tbl, req = ctx.op("point", lambda: self.point(k), self.check_point)
                if tbl is not None:
                    walls["point"].append(req.wall_s)
                    point_cpu.append(req.cpu_s)
                k += 1
            cycles += 1
        med = {kind: float(np.median(w)) if w else float("nan") for kind, w in walls.items()}
        ms = {kind: [round(1e3 * x) for x in w] for kind, w in walls.items()}
        print(f"perfbench: walls_ms {json.dumps(ms)}", file=sys.stderr)
        self.loop = {"cycles": cycles, **{f"{k}_s": v for k, v in med.items()}}
        return {
            "op_p50_ms": 1e3 * med["point"],
            "bulk_s": med["aoi_polytrend"] + med["aoi_dbest"],
            "op_cpu_ms": 1e3 * float(np.median(point_cpu)) if point_cpu else float("nan"),
            **self.ingest.measure(),
        }

    def layer_metrics(self) -> dict:
        return {"loop": self.loop, **self.ingest.layer_metrics()}

    def gates_after(self) -> tuple[list[str], dict]:
        """Kernel re-fit gate, run once outside the timed loop."""
        if len(self.first) < 2:
            return ["no successful AOI request to check"], {}
        return self.check_kernels(self.first["aoi_polytrend"], self.first["aoi_dbest"])
