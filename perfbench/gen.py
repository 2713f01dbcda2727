"""Seeded synthetic inputs for the benchmark.

A station fleet with varied longitude and latitude, hourly observations
with seasonal and diurnal shape, intermittent rain and sunshine
duration, and the daily series aggregated from them the way
``daily_from_hourly`` does. Everything is numpy + pyarrow, so no Spark
runs while inputs are generated; the program under test only ever sees
the parquet files written here.

The same (seed, stations, years) always gives the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

START_YEAR = 2015


def station_meta(n_stations: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 0])
    return pd.DataFrame(
        dict(
            station_id=[f"st{i:04d}" for i in range(n_stations)],
            name=[f"station {i}" for i in range(n_stations)],
            lon=np.round(rng.uniform(6.0, 15.0, n_stations), 3),
            # mid-latitudes only: no polar days, so every method applies
            lat=np.round(rng.uniform(45.0, 55.0, n_stations), 3),
            timezone=np.ones(n_stations),
        )
    )


def station_hourly(station_id: str, lat: float, years: int, seed: int, idx: int) -> pd.DataFrame:
    """One station's hourly series over ``years`` whole calendar years."""
    rng = np.random.default_rng([seed, 1, idx])
    ts = pd.date_range(f"{START_YEAR}-01-01", f"{START_YEAR + years}-01-01",
                       freq="h", inclusive="left")
    n = len(ts)
    doy = ts.dayofyear.to_numpy().astype(float)
    hour = ts.hour.to_numpy().astype(float)
    n_days = n // 24

    # rain: a wet/dry Markov chain per day, then hourly intermittency
    # and gamma amounts inside the wet days
    u = rng.random(n_days)
    wet_day = np.zeros(n_days, dtype=bool)
    for d in range(1, n_days):
        wet_day[d] = u[d] < (0.6 if wet_day[d - 1] else 0.25)
    wet_h = np.repeat(wet_day, 24) & (rng.random(n) < 0.35)
    precip = np.where(wet_h, np.round(rng.gamma(0.8, 1.5, n), 1), 0.0)
    cloud = np.repeat(np.where(wet_day, 0.7, rng.uniform(0.0, 0.4, n_days)), 24)

    amp_season = 10 + 0.3 * (lat - 50)
    seasonal = amp_season * np.sin(2 * np.pi * (doy - 110) / 365.25)
    diurnal = (5 - 3 * cloud) * np.cos(2 * np.pi * (hour - 15) / 24)
    temp = 282.0 - 0.4 * (lat - 50) + seasonal + diurnal + rng.normal(0, 0.8, n)

    day_amp = 1 + 0.6 * np.sin(2 * np.pi * (doy - 80) / 365.25)
    clear = np.maximum(0.0, 750 * np.cos(2 * np.pi * (hour - 12) / 24) * day_amp)
    glob = clear * (1 - 0.75 * cloud) * rng.uniform(0.9, 1.0, n)
    ssd = np.where(glob > 120, 60.0 * np.clip(1.2 - cloud, 0, 1), 0.0)

    hum = np.clip(80 - 2.0 * (temp - 282.0) + 10 * cloud + rng.normal(0, 3, n), 5, 100)
    wind = np.maximum(
        0.2, 2.5 + 1.0 * np.cos(np.pi * (hour - 14) / 12) + rng.gamma(1.5, 0.6, n)
    )
    return pd.DataFrame(
        dict(station_id=station_id, ts=ts, temp=temp, precip=precip, glob=glob,
             hum=hum, wind=wind, ssd=ssd)
    )


def daily_of(hourly: pd.DataFrame) -> pd.DataFrame:
    """The ``daily_from_hourly`` semantics, in pandas."""
    g = hourly.assign(date=hourly["ts"].dt.date).groupby(["station_id", "date"], sort=True)
    out = g.agg(
        temp=("temp", "mean"), tmin=("temp", "min"), tmax=("temp", "max"),
        precip=("precip", "sum"), glob=("glob", "mean"),
        hum=("hum", "mean"), hum_min=("hum", "min"), hum_max=("hum", "max"),
        wind=("wind", "mean"), ssd=("ssd", "sum"),
    ).reset_index()
    out["ssd"] = out["ssd"] / 60.0
    return out


def fleet(n_stations: int, years: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    meta = station_meta(n_stations, seed)
    hourly = pd.concat(
        [station_hourly(s, lat, years, seed, i)
         for i, (s, lat) in enumerate(zip(meta.station_id, meta.lat))],
        ignore_index=True,
    )
    return meta, hourly


def _write(df: pd.DataFrame, path: str) -> None:
    table = pa.Table.from_pandas(df, preserve_index=False)
    fields = []
    for f in table.schema:
        if pa.types.is_timestamp(f.type):
            # instant timestamps in microseconds: Spark reads them as
            # TIMESTAMP under the engine's UTC session zone
            f = pa.field(f.name, pa.timestamp("us", tz="UTC"))
        fields.append(f)
    pq.write_table(table.cast(pa.schema(fields)), path)
    # on disk now: the kernel would otherwise write the pages back about
    # 30 s later, inside the timed run
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def write_inputs(workload: str, out_dir: str, stations: int, years: int = 1,
                 days: int = 0, holdout_years: int = 0, seed: int = 0) -> dict:
    """Write the input files of one workload run; returns their paths
    and the sizes the checks need.

    - ``paper_workflow``: meta, hourly (all years), hourly_calib (the
      leading years) and hourly_holdout (the last ``holdout_years``),
      plus the daily series for the checks; the held-out year is the
      hourly truth the checks score the outputs against;
    - ``fleet_disagg``: meta and daily, plus the hourly series the daily
      one was aggregated from, as the checks' hourly truth;
    - ``stream_ingest``: ``days`` staged files, each a day of hourly
      observations of all stations, and the daily aggregates that the
      stream must emit (every day but the last, which the watermark
      never passes).
    """
    os.makedirs(out_dir, exist_ok=True)
    meta, hourly = fleet(stations, years, seed)
    info = dict(stations=stations)

    def put(key: str, df: pd.DataFrame) -> None:
        info[key] = os.path.join(out_dir, f"{key}.parquet")
        _write(df, info[key])

    put("meta", meta)
    if workload == "stream_ingest":
        hourly = hourly[hourly.ts < hourly.ts.min() + pd.Timedelta(days=days)]
        stage = os.path.join(out_dir, "stage")
        os.makedirs(stage)
        files = []
        for d, part in hourly.groupby(hourly.ts.dt.date, sort=True):
            files.append(os.path.join(stage, f"obs-{d}.parquet"))
            _write(part, files[-1])
        info.update(stream_files=files, stream_rows_per_file=stations * 24, days=days)
        put("stream_expected", daily_of(hourly[hourly.ts < hourly.ts.max().normalize()]))
        return info
    daily = daily_of(hourly)
    info["days"] = len(daily) // stations
    put("daily", daily)
    if workload == "paper_workflow":
        cut = pd.Timestamp(f"{START_YEAR + years - holdout_years}-01-01")
        put("hourly", hourly)
        put("hourly_calib", hourly[hourly.ts < cut])
        put("hourly_holdout", hourly[hourly.ts >= cut])
        info["hourly_truth"] = info["hourly_holdout"]
    else:
        put("hourly_truth", hourly.drop(columns="ssd"))
    return info
