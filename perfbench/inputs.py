"""Seeded inputs for the ``track_profile`` workload, and the numpy
reference its output is checked against.

The grid has the HYCOM fixture's lat/lon/depth geometry (30 x 81 x 81
on the 0.25 deg x 0.6 deg axes the profile operator defaults to) over
8 three-hourly time steps, about 25 MB, with random values, about 2.7%
of them the HYCOM sentinel,
and a time origin drawn from the seed. The origin is a multiple of the
3-hour step: the profile operator snaps track times to multiples of 3
hours since 2000, so an unaligned axis would join no grid row at all.

The tracks are NHC best-track CSV rows: ``n_storms`` storms of
``n_fixes`` hourly fixes each, random walks kept inside the grid, with
positions rounded to 0.1 deg as NHC publishes them.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

# the profile operator's default geometry (operators/profile.py)
LAT0, LAT_STEP, LON0, LON_STEP = 14.95, 0.25, 279.85, 0.6
TIME_STEP = 3
SENTINEL = -30000.0
SENTINEL_THRESHOLD = -4.0  # operators/aggregates.py mask_sentinel
SENTINEL_SHARE = 0.027
K_DEPTHS = 25
EPS = 1e-6
EPOCH = dt.datetime(2000, 1, 1)


@dataclass(frozen=True)
class GridShape:
    n_time: int = 8
    n_depth: int = 30
    n_lat: int = 81
    n_lon: int = 81


FULL = GridShape()
TINY = GridShape(n_time=6, n_depth=4, n_lat=81, n_lon=81)


@dataclass
class TrackInputs:
    grid_path: str
    track_path: str
    shape: GridShape
    time_hours: np.ndarray  # (n_time,) int64
    water_temp: np.ndarray  # (n_time, n_depth, n_lat, n_lon) float64
    tracks: dict  # column name -> numpy array, one entry per fix


def make_track_inputs(
    seed: int, out_dir: str, shape: GridShape = FULL,
    n_storms: int = 40, n_fixes: int = 21,
) -> TrackInputs:
    """Write ``grid.nc`` and ``track.csv`` under ``out_dir``."""
    from modeltracking_spark.sources.netcdf_classic import write_classic

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    # origin: a 3-hour multiple somewhere in 2010-2024
    t0 = TIME_STEP * int(rng.integers(3652 * 8, 9131 * 8))
    time_hours = t0 + TIME_STEP * np.arange(shape.n_time, dtype=np.int64)
    full = (shape.n_time, shape.n_depth, shape.n_lat, shape.n_lon)
    temp = rng.uniform(2.0, 31.0, full)
    temp[rng.random(full) < SENTINEL_SHARE] = SENTINEL
    sal = rng.uniform(30.0, 38.0, full)
    sal[rng.random(full) < SENTINEL_SHARE] = SENTINEL

    grid_path = os.path.join(out_dir, "grid.nc")
    write_classic(
        grid_path,
        dims=[("time", 0), ("depth", shape.n_depth),
              ("lat", shape.n_lat), ("lon", shape.n_lon)],
        variables=[
            ("time", ("time",),
             lambda r: np.array(time_hours[r], dtype=np.int32)),
            ("depth", ("depth",),
             np.arange(shape.n_depth, dtype=np.float64) * 5.0),
            ("lat", ("lat",),
             LAT0 + np.arange(shape.n_lat, dtype=np.float64) * LAT_STEP),
            ("lon", ("lon",),
             LON0 + np.arange(shape.n_lon, dtype=np.float64) * LON_STEP),
            ("water_temp", ("time", "depth", "lat", "lon"), lambda r: temp[r]),
            ("salinity", ("time", "depth", "lat", "lon"), lambda r: sal[r]),
        ],
        record_dim="time",
        n_records=shape.n_time,
    )

    tracks = _random_tracks(rng, shape, time_hours, n_storms, n_fixes)
    track_path = os.path.join(out_dir, "track.csv")
    _write_nhc_csv(track_path, tracks)
    return TrackInputs(grid_path, track_path, shape, time_hours, temp, tracks)


def _random_tracks(rng, shape, time_hours, n_storms, n_fixes) -> dict:
    # fixes must snap onto the grid's time axis: start within the first
    # step, and the axis must cover the last fix
    span_h = int(time_hours[-1] - time_hours[0])
    n_fixes = min(n_fixes, span_h)
    # keep every fix at least one cell inside the grid, so each point
    # has its full 3x3 neighbourhood
    lat_lo, lat_hi = LAT0 + LAT_STEP, LAT0 + (shape.n_lat - 2) * LAT_STEP
    lon_lo, lon_hi = LON0 + LON_STEP, LON0 + (shape.n_lon - 2) * LON_STEP
    cols = {k: [] for k in ("name", "t_hours", "lat", "lon", "intensity")}
    for s in range(n_storms):
        start = int(time_hours[0]) + int(rng.integers(0, TIME_STEP))
        lat = rng.uniform(lat_lo, lat_hi)
        lon = rng.uniform(lon_lo, lon_hi)
        dlat, dlon = rng.normal(0.1, 0.05), rng.normal(-0.2, 0.1)
        for i in range(n_fixes):
            lat = float(np.clip(lat + dlat + rng.normal(0, 0.03), lat_lo, lat_hi))
            lon = float(np.clip(lon + dlon + rng.normal(0, 0.05), lon_lo, lon_hi))
            cols["name"].append(f"STORM{s:02d}")
            cols["t_hours"].append(start + i)
            cols["lat"].append(round(lat, 1))
            # NHC files carry west longitudes as negative degrees
            cols["lon"].append(round(lon - 360.0, 1))
            cols["intensity"].append(int(rng.integers(25, 140)))
    return {k: np.asarray(v) for k, v in cols.items()}


def _write_nhc_csv(path: str, tracks: dict) -> None:
    header = ("atcfdtg,stormnum,stormname,basin,stormtype,intensity,"
              "intensitymph,intensitykph,lat,lon,minsealevelpres,dtg")
    with open(path, "w") as fh:
        fh.write(header + "\n")
        for name, th, lat, lon, kt in zip(
            tracks["name"], tracks["t_hours"], tracks["lat"],
            tracks["lon"], tracks["intensity"],
        ):
            ymdh = (EPOCH + dt.timedelta(hours=int(th))).strftime("%Y%m%d%H")
            mph, kph = round(kt * 1.15078), round(kt * 1.852)
            fh.write(f"{ymdh},{name[5:]},{name},AL,HU,{kt},{mph},{kph},"
                     f"{lat:.1f},{lon:.1f},990,{ymdh}\n")


def snap_time(t):
    """Nearest time step, as ``nearest_time_bucket`` computes it."""
    return np.floor((2 * np.asarray(t) + TIME_STEP) / (2 * TIME_STEP)).astype(np.int64) * TIME_STEP


def reference_profile(inp: TrackInputs) -> dict:
    """Inverse-distance-weighted profile of every fix, in numpy:
    ``(stormname, point_id, depth_idx) -> (n_valid, idw_value)``.

    Mirrors ``profile_along_track``: nearest 3-hour step, nearest grid
    cell, its 3x3 neighbourhood, weight ``1/(d + eps)^2``, sentinels
    dropped, depths ``< K_DEPTHS``. ``idw_value`` is None when every
    neighbour is a sentinel."""
    tr = inp.tracks
    lat = tr["lat"].astype(np.float64)
    lon = tr["lon"].astype(np.float64)
    lon = np.where(lon < 0, lon + 360.0, lon)  # as normalize_lon_0_360
    t = tr["t_hours"].astype(np.int64)
    t_sel = snap_time(t)
    ti = np.searchsorted(inp.time_hours, t_sel)
    # Spark's round() is half-up; positions at 0.1 deg never tie
    li = np.floor((lat - LAT0) / LAT_STEP + 0.5).astype(np.int64)
    lj = np.floor((lon - LON0) / LON_STEP + 0.5).astype(np.int64)
    n_depth = min(K_DEPTHS, inp.shape.n_depth)
    out = {}
    for p in range(len(t)):
        if ti[p] >= len(inp.time_hours) or inp.time_hours[ti[p]] != t_sel[p]:
            continue
        num = np.zeros(n_depth)
        den = np.zeros(n_depth)
        cnt = np.zeros(n_depth, dtype=np.int64)
        hit = False
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                a, b = li[p] + di, lj[p] + dj
                if not (0 <= a < inp.shape.n_lat and 0 <= b < inp.shape.n_lon):
                    continue
                hit = True
                g_lat, g_lon = LAT0 + a * LAT_STEP, LON0 + b * LON_STEP
                dlo, dla = lon[p] - g_lon, lat[p] - g_lat
                d = np.sqrt(dlo * dlo + dla * dla) + EPS
                w = 1.0 / (d * d)
                v = inp.water_temp[ti[p], :n_depth, a, b]
                ok = v > SENTINEL_THRESHOLD
                num += np.where(ok, w * v, 0.0)
                den += np.where(ok, w, 0.0)
                cnt += ok
        if not hit:
            continue
        for k in range(n_depth):
            val = num[k] / den[k] if cnt[k] else None
            out[(str(tr["name"][p]), int(t[p]), k)] = (int(cnt[k]), val)
    return out
