"""Output checks, computed with pandas from the committed files.

Every check result is ``(name, ok, detail)``; the checks of one
operation (one variable's disaggregation, one stream's output) are
grouped so a run can count failed operations against attempted ones.

Tolerances:

- daily conservation, every station-day: precipitation sums within
  1e-6 mm; radiation daily means (``pot_rad`` scaling) within 0.01
  W/m2, since hourly values below 0.01 are floored to 0;
- stream: every aggregate of every emitted day equal to the pandas
  aggregate within 1e-9 relative;
- skill: the station-mean r, RMSE and NSE of each variable x method,
  computed here from the sunk output against the generated hourly
  truth (the held-out year in ``paper_workflow``, every hour in
  ``fleet_disagg``), inside the bounds committed in ``reference.json``;
- where the program scores itself (``paper_workflow``'s
  ``skill_scores``), its scores equal the ones computed here within
  1e-9 relative.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

REFERENCE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "reference.json")
# absolute tolerance of the daily conservation check, per variable
CONSERVE_ATOL = {"precip": 1e-6, "glob": 0.01}
STREAM_RTOL = 1e-9
PROGRAM_SKILL_RTOL = 1e-9
SKILL_METRICS = ("r", "rmse", "nse")


def expected_rows(inputs: dict) -> int:
    return inputs["stations"] * inputs["days"] * 24


def _read(path: str) -> pd.DataFrame:
    """A parquet file or directory; station ids as a categorical, since
    the checks group and sort millions of rows by them."""
    df = pq.read_table(path, read_dictionary=["station_id"]).to_pandas()
    if "ts" in df.columns:
        df["ts"] = pd.to_datetime(df["ts"], utc=True)
    return df


def load_reference() -> dict:
    with open(REFERENCE) as f:
        return json.load(f)


def check_disagg(workload: str, inputs: dict, paths: dict, methods: dict,
                 program_skill: dict | None, conserve: dict) -> list[dict]:
    """One op per variable x method. Each op also carries the skill
    computed here, under ``"skill"``, for ``make_reference.py``."""
    daily = pd.read_parquet(inputs["daily"])
    daily["date"] = pd.to_datetime(daily["date"]).dt.tz_localize("UTC")
    truth = Truth(_read(inputs["hourly_truth"]))
    ref = load_reference().get(workload, {}).get("bounds", {})
    n = expected_rows(inputs)
    ops = []
    for var, (_layer, method) in methods.items():
        op = f"{var}:{method}"
        out = _read(paths[var])
        res = [
            ("rows", len(out) == n, f"{len(out)} rows, expected {n}"),
            ("unique", not out.duplicated(["station_id", "ts"]).any(), "(station_id, ts) unique"),
            ("nulls", bool(out[var].notna().all()), f"{int(out[var].isna().sum())} nulls"),
        ]
        if var in conserve:
            res.append(_conservation(out, daily, var, conserve[var]))
        skill = truth.skill(out, var)
        if skill is None:
            res.append(("truth_keys", False, "output hours differ from the truth's"))
            ops.append(dict(op=op, checks=res))
            continue
        res += _skill(skill, ref.get(op))
        if program_skill is not None:
            res += _agrees(program_skill[op], skill)
        ops.append(dict(op=op, checks=res, skill=skill))
    return ops


class Truth:
    """The hourly truth, sorted once by (station_id, ts)."""

    def __init__(self, df: pd.DataFrame):
        self.stations = pd.Index(df["station_id"].unique())
        self.code, self.ts, order = _key_order(df, self.stations)
        self.first, self.last = df["ts"].min(), df["ts"].max()
        self.df = df.iloc[order]

    def skill(self, out: pd.DataFrame, var: str) -> dict | None:
        """Station-mean r, RMSE and NSE of ``out[var]`` against the
        truth's ``var`` over the truth's hours, as ``skill_scores``
        defines them: Pearson r with sample moments, NSE against the
        station's own observed mean, a station whose r or NSE is
        undefined (zero variance) left out of that mean. None when
        ``out`` does not hold exactly the truth's (station_id, ts) keys
        within the truth's time span."""
        out = out[(out["ts"] >= self.first) & (out["ts"] <= self.last)]
        if len(out) != len(self.df):
            return None
        oc, ot, oi = _key_order(out, self.stations)
        if (oc < 0).any() or not (np.array_equal(self.code, oc) and np.array_equal(self.ts, ot)):
            return None
        c, k = self.code, len(self.stations)
        obs = self.df[var].to_numpy(float)
        sim = out[var].to_numpy(float)[oi]
        cnt = np.bincount(c, minlength=k)
        do = obs - (np.bincount(c, obs, k) / cnt)[c]
        ds = sim - (np.bincount(c, sim, k) / cnt)[c]
        soo = np.bincount(c, do * do, k)
        sss = np.bincount(c, ds * ds, k)
        sos = np.bincount(c, do * ds, k)
        sse = np.bincount(c, (obs - sim) ** 2, k)
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(soo * sss > 0, sos / np.sqrt(soo * sss), np.nan)
            nse = np.where(soo > 0, 1.0 - sse / soo, np.nan)
        rmse = np.sqrt(sse / cnt)
        return {m: (float(np.nanmean(v)) if np.isfinite(v).any() else float("nan"))
                for m, v in zip(SKILL_METRICS, (r, rmse, nse))}


def _key_order(df: pd.DataFrame, stations: pd.Index):
    """(station code, ts) of ``df`` sorted by them, and the sort order."""
    ids = pd.Categorical(df["station_id"])
    code = stations.get_indexer(ids.categories)[ids.codes]
    # .values, not .to_numpy(): the latter boxes tz-aware timestamps
    ts = df["ts"].values.astype("datetime64[us]").view(np.int64)
    order = np.lexsort((ts, code))
    return code[order], ts[order], order


def _agrees(program: dict, checked: dict) -> list:
    res = []
    for m in SKILL_METRICS:
        p, c = program.get(m), checked[m]
        ok = p is not None and bool(np.isclose(p, c, rtol=PROGRAM_SKILL_RTOL, atol=1e-12))
        res.append((f"program_{m}", ok, f"program {p!r}, pandas {c!r}"))
    return res


def _conservation(out: pd.DataFrame, daily: pd.DataFrame, var: str, how: str):
    agg = (out.assign(date=out["ts"].dt.floor("D"))
           .groupby(["station_id", "date"], observed=True)[var].agg(how)
           .rename("hourly_" + how))
    j = daily.set_index(["station_id", "date"])[[var]].join(agg, how="inner")
    resid = (j["hourly_" + how] - j[var]).abs()
    ok = len(j) == len(daily) and bool((resid <= CONSERVE_ATOL[var]).all())
    return (f"daily_{how}", ok, f"max residual {resid.max():.3g} over {len(j)} days")


def _skill(got: dict, bounds: dict | None) -> list:
    if bounds is None:
        return [("skill", False, "no reference bounds")]
    res = []
    for m, (lo, hi) in bounds.items():
        v = got.get(m)
        ok = v is not None and bool(np.isfinite(v)) and lo <= v <= hi
        res.append((f"skill_{m}", ok, f"{v!r} in [{lo}, {hi}]"))
    return res


def check_stream(inputs: dict, sink: str) -> list[dict]:
    want = pd.read_parquet(inputs["stream_expected"])
    want["date"] = pd.to_datetime(want["date"]).dt.date
    got = _read(sink)
    got["date"] = pd.to_datetime(got["date"]).dt.date
    keys = ["station_id", "date"]
    res = [("rows", len(got) == len(want), f"{len(got)} days emitted, expected {len(want)}")]
    j = want.merge(got, on=keys, how="inner", suffixes=("", "_got"))
    res.append(("keys", len(j) == len(want), f"{len(j)} of {len(want)} days matched"))
    for c in want.columns:
        if c in keys:
            continue
        ok = np.allclose(j[c + "_got"], j[c], rtol=STREAM_RTOL, atol=0.0)
        res.append((f"value_{c}", bool(ok), f"max |diff| {np.abs(j[c + '_got'] - j[c]).max():.3g}"))
    return [dict(op="stream_output", checks=res)]
