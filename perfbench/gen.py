"""Seeded input generator for the benchmark.

Every input the engine sees is written here from one ``--seed``; the
engine never sees the seed. Each writer returns the properties it
varied plus a SHA-256 digest of the generated values, so a change to
the inputs shows as a changed digest for the same seed.

Run alone to print the digests of one seed::

    python3 perfbench/gen.py --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Raster geometry shared by the trend and ingest inputs.
LON0, LAT0, STEP = 13.0, 52.0, 0.01
YEAR0, N_YEARS = 2001, 20

#: ``trend_region`` raster: pixels per side, length, and the shares of
#: pixels with a planted level shift, of missing observations and of
#: pixels too short to fit
RASTER = {
    "nx": 16,
    "ny": 16,
    "months": 12 * N_YEARS,
    "shift_share": 0.30,
    "gap_share": 0.03,
    "short_share": 0.02,
}
#: ingest landing tile: pixels per side, image dates (one microbatch
#: each) and the dates of the separate warm-up stream
LANDING = {"nx": 16, "ny": 16, "dates": 12, "warm_dates": 4}

OBS_SCHEMA = pa.schema(
    [
        ("longitude", pa.float64()),
        ("latitude", pa.float64()),
        ("time", pa.timestamp("us", tz="UTC")),
        ("value", pa.float64()),
    ]
)


def _digest(*arrays: np.ndarray) -> str:
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def image_dates(months: int) -> np.ndarray:
    """One acquisition date per month: day 1 + a fixed in-month offset
    so dates are not all month starts (the composite must truncate)."""
    m = np.arange(months)
    month_start = (
        np.datetime64(f"{YEAR0}-01", "M") + m.astype("timedelta64[M]")
    ).astype("datetime64[D]")
    return (month_start + (m * 7 % 15 + 3).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def pixel_lonlat(ix, iy):
    """Grid coordinates of pixel (ix, iy), exactly as written to the files."""
    return np.round(LON0 + STEP * np.asarray(ix), 6), np.round(LAT0 + STEP * np.asarray(iy), 6)


def _exactly(rng: np.random.Generator, n: int, share: float) -> np.ndarray:
    """A mask of exactly ``round(share * n)`` of ``n`` items, at seeded
    places, so the seed moves where the work is, not how much there is."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[: round(share * n)]] = True
    return mask


def raster_values(rng: np.random.Generator, nx: int, ny: int, months: int,
                  shift_share: float) -> tuple[np.ndarray, np.ndarray, np.ndarray, dict]:
    """Per-pixel NDVI-like series: seasonal harmonic + linear slope +
    Gaussian noise, with a planted level shift on ``shift_share`` of
    the pixels. Returns (lon, lat, values[pixel, month], truth)."""
    n = nx * ny
    ix, iy = np.meshgrid(np.arange(nx), np.arange(ny), indexing="ij")
    lon, lat = pixel_lonlat(ix.ravel(), iy.ravel())
    m = np.arange(months, dtype=np.float64)
    base = rng.uniform(0.35, 0.55, n)
    amp = rng.uniform(0.05, 0.2, n)
    phase = rng.uniform(0.0, 2 * np.pi, n)
    slope = rng.normal(0.0, 4e-4, n)
    y = (
        base[:, None]
        + amp[:, None] * np.sin(2 * np.pi * m[None, :] / 12 + phase[:, None])
        + slope[:, None] * m[None, :]
        + rng.normal(0.0, 0.02, (n, months))
    )
    shifted = _exactly(rng, n, shift_share)
    shift_at = rng.integers(months // 6, months - months // 6, n)
    shift_by = rng.choice([-1.0, 1.0], n) * rng.uniform(0.1, 0.2, n)
    step = (m[None, :] >= shift_at[:, None]) * (shifted * shift_by)[:, None]
    y = np.maximum(y + step, 0.15)
    return lon, lat, y, {"shifted_pixels": int(shifted.sum())}


def write_raster(out_dir: str, seed: int) -> dict:
    """The ``trend_region`` input: one parquet file per year, rows sorted
    by pixel then time, with small row groups so a bbox filter prunes
    row groups. A ``gap_share`` of observations is missing and a
    ``short_share`` of pixels keeps only three months (too short for
    either fit)."""
    p = RASTER
    rng = np.random.default_rng([seed, 1])
    nx, ny, months = p["nx"], p["ny"], p["months"]
    lon, lat, y, truth = raster_values(rng, nx, ny, months, p["shift_share"])
    n = nx * ny
    keep = rng.random((n, months)) >= p["gap_share"]
    short = _exactly(rng, n, p["short_share"])
    start = rng.integers(0, months - 3, n)
    m = np.arange(months)
    in_short = (m[None, :] >= start[:, None]) & (m[None, :] < start[:, None] + 3)
    keep &= ~short[:, None] | in_short
    dates = image_dates(months)
    pix, mon = np.nonzero(keep)
    os.makedirs(out_dir, exist_ok=True)
    for yr in range(months // 12):
        sel = (mon >= 12 * yr) & (mon < 12 * yr + 12)
        t = pa.table(
            [lon[pix[sel]], lat[pix[sel]], dates[mon[sel]], y[pix[sel], mon[sel]]],
            schema=OBS_SCHEMA,
        )
        pq.write_table(
            t, os.path.join(out_dir, f"year_{YEAR0 + yr}.parquet"), row_group_size=4096
        )
    return {
        "pixels": n,
        "months": months,
        "rows": int(keep.sum()),
        "shift_share": p["shift_share"],
        "gap_share": p["gap_share"],
        "short_share": p["short_share"],
        "short_pixels": int(short.sum()),
        **truth,
        "digest": _digest(lon, lat, keep, np.where(keep, y, 0.0)),
    }


def write_landing(out_dir: str, seed: int, n_dates: int) -> tuple[dict, np.ndarray]:
    """The ``stream_ingest`` input: one parquet file per image date, each
    holding every pixel of the ``LANDING`` tile for that date, from the
    same series model as the raster. Returns (properties, values)."""
    rng = np.random.default_rng([seed, 2])
    lon, lat, y, _ = raster_values(
        rng, LANDING["nx"], LANDING["ny"], n_dates, RASTER["shift_share"]
    )
    dates = image_dates(n_dates)
    os.makedirs(out_dir, exist_ok=True)
    for k in range(n_dates):
        t = pa.table(
            [lon, lat, np.full(lon.size, dates[k]), y[:, k]], schema=OBS_SCHEMA
        )
        pq.write_table(t, os.path.join(out_dir, f"img_{k:05d}.parquet"))
    info = {
        "pixels": int(lon.size),
        "image_dates": n_dates,
        "rows": int(y.size),
        "digest": _digest(lon, lat, y),
    }
    return info, y.ravel()


#: ``query_suite`` tables: the row counts of the sf0.1 test tables the
#: headline queries read, and the near-duplicate share of documents
TABLES = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
    "near_dup_share": 0.05,
}
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _days(rng, first: str, last: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps drawn uniformly from [first, last]."""
    d0, d1 = np.datetime64(first, "D"), np.datetime64(last, "D")
    return (d0 + rng.integers(0, (d1 - d0).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-dp amounts stored as the doubles nearest the decimals."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100


def write_tables(out_dir: str, seed: int) -> dict:
    """The ``query_suite`` input: the ten TPC-H-shaped test tables the
    headline queries read, one single-row-group parquet file each (the
    layout of the test tables: ``tables.warm_cache`` restores the scan
    parallelism), with their column names, types, row counts and value
    ranges. Money is 2-dp, dates are midnight, timestamps carry no
    time zone."""
    n = TABLES
    rng = np.random.default_rng([seed, 4])
    def pick(xs, k):
        """``k`` strings drawn uniformly from ``xs``."""
        idx = pa.array(rng.integers(0, len(xs), k).astype(np.int32))
        return pa.DictionaryArray.from_arrays(idx, pa.array(list(xs))).cast(pa.string())

    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    keys = lambda k: np.arange(k, dtype=np.int64)  # noqa: E731
    nc, ns, npart, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t = {
        "region": {
            "r_regionkey": i32(np.arange(5)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": i32(np.arange(25)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": i32(np.arange(25) % 5),
        },
        "customer": {
            "c_custkey": keys(nc),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": pick(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        },
        "supplier": {
            "s_suppkey": keys(ns),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        },
        "part": {
            "p_partkey": keys(npart),
            "p_name": pick([f"{a} {b}" for a in "blue cold hot large new old red small".split()
                            for b in "anvil bolt gear gizmo plate ring rod widget".split()], npart),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": pick(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": (90000 + np.arange(npart) % 1000 * 10) / 100,
        },
        "orders": {
            "o_orderkey": keys(no),
            "o_custkey": rng.integers(0, nc, no),
            "o_orderstatus": pick(["F", "O", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, no, nl),
            "l_partkey": rng.integers(0, npart, nl),
            "l_suppkey": rng.integers(0, ns, nl),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100,
            "l_tax": rng.integers(0, 9, nl) / 100,
            "l_returnflag": pick(["A", "N", "R"], nl),
            "l_linestatus": pick(["F", "O"], nl),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
        },
    }
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 10**6
    t["events"] = {
        "event_id": keys(ne),
        "ts": t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, ne),
        "event_type": pick(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne) * 100) / 100,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, nd)]
    dups = np.nonzero(rng.random(nd) < n["near_dup_share"])[0]
    for i in dups[dups > 0]:
        # a near-duplicate: an earlier document with one token appended
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = {
        "doc_id": keys(nd),
        "text": texts,
        "lang": pick(["en", "en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    vec = rng.normal(0.0, 1.0, (nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": keys(nv),
        "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": i32(rng.integers(0, 10, nv)),
    }
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, cols in t.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=table.num_rows)
        for c in table.columns:
            c = c.combine_chunks()
            if pa.types.is_list(c.type):
                c = c.flatten()
            if pa.types.is_string(c.type):
                offsets = np.frombuffer(c.buffers()[1], np.int32)[c.offset : c.offset + len(c) + 1]
                h.update((offsets - offsets[0]).tobytes())
                h.update(c.buffers()[2].to_pybytes()[offsets[0] : offsets[-1]])
            else:
                h.update(c.to_numpy(zero_copy_only=False).tobytes())
    return {
        **n,
        "near_dup_docs": int((dups > 0).sum()),
        "digest": h.hexdigest(),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    info = {
        "raster": write_raster(os.path.join(args.out, "raster"), args.seed),
        "landing": write_landing(
            os.path.join(args.out, "landing"), args.seed, LANDING["dates"]
        )[0],
        "tables": write_tables(os.path.join(args.out, "tables"), args.seed),
    }
    print(json.dumps(info, indent=1))


if __name__ == "__main__":
    main()
