"""Solar geometry and clear-sky radiation as column expressions.

Pure trigonometry on ``dayofyear``/``hour``/``minute`` — runs fully in
whole-stage codegen for any number of stations; lon/lat/timezone may be
literals or columns (broadcast-joined station metadata).

Reference: `util/util.py:160-246` (sun times, Bourges declination +
Spencer equation of time), `radiation.py:104-204` (Liston & Elder
potential radiation with Paltridge-Platt eccentricity).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

PI = math.pi


def _col(x) -> Column:
    if isinstance(x, Column):
        return x
    if isinstance(x, str):  # a column NAME (memoizable by-name tree)
        return F.col(x)
    return F.lit(float(x))


def _declination(doy: Column) -> Column:
    """Solar declination [rad] after Bourges (1985) (`util/util.py:181-191`)."""
    b = F.radians((F.lit(360.0 / 365.25)) * (doy - F.lit(79.346)))
    return F.radians(
        F.lit(0.3723)
        + F.lit(23.2567) * F.sin(b)
        - F.lit(0.7580) * F.cos(b)
        + F.lit(0.1149) * F.sin(2 * b)
        + F.lit(0.3656) * F.cos(2 * b)
        - F.lit(0.1712) * F.sin(3 * b)
        + F.lit(0.0201) * F.cos(3 * b)
    )


def _equation_of_time(doy: Column) -> Column:
    """Equation of time [h] after Spencer (1971) (`util/util.py:193-205`)."""
    s = F.lit(2 * PI / 365.0) * (doy - F.lit(1.0))
    return F.lit(12.0 / PI) * (
        F.lit(0.000075)
        + F.lit(0.001868) * F.cos(s)
        - F.lit(0.032077) * F.sin(s)
        - F.lit(0.014615) * F.cos(2 * s)
        - F.lit(0.040849) * F.sin(2 * s)
    )


from melodist_spark.util.planmemo import MEMO, memo_part


def sun_times_exprs(date_col, lon, lat, timezone) -> dict[str, Column]:
    """Sunrise/sunnoon/sunset/daylength [decimal hours] per day.

    Returns a dict of named column expressions; midnight-sun and
    polar-night clamping per `util/util.py:220-239` (daylength is
    computed before the ±24 h wrap, matching the reference order).

    The returned Columns are UNRESOLVED expression trees — immutable
    and reusable across any number of plans — and building this tree
    costs a few hundred py4j round-trips (~0.37 s measured), so
    calls whose lon/lat/timezone are literals or column NAMES are
    memoized per application (``util.planmemo``); round 14 extends
    the round-7 literal-only memo to by-name trees, which is what
    the operator call sites pass (the met family was rebuilding this
    tree once per query, twice per fused humidity query). Calls with
    Column OBJECTS keep building fresh — their trees may carry
    plan-specific context."""
    if isinstance(date_col, str):
        parts = (memo_part(lon), memo_part(lat), memo_part(timezone))
        if all(p is not None for p in parts):
            return MEMO.get(
                ("sun", date_col, *parts),
                lambda: _sun_times_exprs_build(date_col, lon, lat, timezone),
            )
    return _sun_times_exprs_build(date_col, lon, lat, timezone)


def _sun_times_exprs_build(date_col, lon, lat, timezone) -> dict[str, Column]:
    d = _col(date_col) if not isinstance(date_col, str) else F.col(date_col)
    doy = F.dayofyear(d).cast("double")
    lonc, latc, tzc = _col(lon), _col(lat), _col(timezone)

    decl = _declination(doy)
    eq_time = _equation_of_time(doy)
    delta_lat_time = (lonc - tzc * F.lit(15.0)) * F.lit(24.0 / 360.0)

    omega_arg = -F.tan(F.radians(latc)) * F.tan(decl)
    omega = F.acos(omega_arg)

    sunnoon = F.lit(12.0) - delta_lat_time - eq_time
    sunrise_raw = F.lit(12.0) * (F.lit(1.0) - omega / F.lit(PI)) - delta_lat_time - eq_time
    sunset_raw = F.lit(12.0) * (F.lit(1.0) + omega / F.lit(PI)) - delta_lat_time - eq_time

    # midnight sun / polar night clamps (`util/util.py:224-233`)
    sunrise = (
        F.when(omega_arg < -1, sunnoon - 12)
        .when(omega_arg > 1, sunnoon)
        .otherwise(sunrise_raw)
    )
    sunset = (
        F.when(omega_arg < -1, sunnoon + 12)
        .when(omega_arg > 1, sunnoon)
        .otherwise(sunset_raw)
    )
    daylength = sunset - sunrise

    sunrise = F.when(sunrise < 0, sunrise + 24).otherwise(sunrise)
    sunset = F.when(sunset > 24, sunset - 24).otherwise(sunset)

    return {
        "sunrise": sunrise,
        "sunnoon": sunnoon,
        "sunset": sunset,
        "daylength": daylength,
    }


def sun_times(daily, date_col="date", lon="lon", lat="lat", timezone="timezone"):
    """Attach sunrise/sunnoon/sunset/daylength columns to a daily frame
    that already carries lon/lat/timezone (e.g. after a broadcast join
    with station metadata). Reference: `util/util.py:160-246`.
    """
    # strings pass through as column NAMES so the by-name memo fires
    exprs = sun_times_exprs(date_col, lon, lat, timezone)
    return daily.withColumns(exprs)


def potential_radiation(
    ts,
    lon,
    lat,
    timezone,
    terrain_slope: float = 0.0,
    terrain_slope_azimuth: float = 0.0,
    cloud_fraction: float = 0.0,
    split: bool = False,
):
    """Potential clear-sky shortwave radiation [W/m²] at timestamps.

    Liston & Elder (2006) as in `radiation.py:104-204`. Returns a
    single total-radiation Column, or ``(direct, diffuse)`` when
    ``split=True`` (`radiation.py:199-204`).

    Like :func:`sun_times_exprs`, the tree (~0.15 s of py4j build)
    is memoized per application when every input is a literal or a
    column NAME (round 14; see ``util.planmemo``).
    """
    parts = tuple(memo_part(v) for v in (ts, lon, lat, timezone))
    if all(p is not None for p in parts):
        return MEMO.get(
            (
                "potrad",
                *parts,
                float(terrain_slope),
                float(terrain_slope_azimuth),
                float(cloud_fraction),
                bool(split),
            ),
            lambda: _potential_radiation_build(
                ts, lon, lat, timezone, terrain_slope,
                terrain_slope_azimuth, cloud_fraction, split,
            ),
        )
    return _potential_radiation_build(
        ts, lon, lat, timezone, terrain_slope, terrain_slope_azimuth,
        cloud_fraction, split,
    )


def _potential_radiation_build(
    ts,
    lon,
    lat,
    timezone,
    terrain_slope: float = 0.0,
    terrain_slope_azimuth: float = 0.0,
    cloud_fraction: float = 0.0,
    split: bool = False,
):
    t = F.col(ts) if isinstance(ts, str) else ts
    lonc, latc, tzc = _col(lon), _col(lat), _col(timezone)

    solar_constant = 1367.0
    days_per_year = 365.25
    tropic_of_cancer = math.radians(23.43697)
    solstice = 173.0

    doy = F.dayofyear(t).cast("double")
    hour = F.hour(t).cast("double")
    minute = F.minute(t).cast("double")

    solar_decline = F.lit(tropic_of_cancer) * F.cos(
        F.lit(2.0 * PI) * (doy - F.lit(solstice)) / F.lit(days_per_year)
    )

    delta_lat_time = (lonc - tzc * F.lit(15.0)) * F.lit(24.0 / 360.0)
    hour_angle = F.lit(PI) * (
        ((hour + minute / F.lit(60.0) + delta_lat_time) / F.lit(12.0)) - F.lit(1.0)
    )

    cos_zen = F.greatest(
        F.sin(solar_decline) * F.sin(F.radians(latc))
        + F.cos(solar_decline) * F.cos(F.radians(latc)) * F.cos(hour_angle),
        F.lit(0.0),
    )

    trans_direct = (F.lit(0.6) + F.lit(0.2) * cos_zen) * F.lit(1.0 - cloud_fraction)
    trans_diffuse = (F.lit(0.3) + F.lit(0.1) * cos_zen) * F.lit(cloud_fraction)

    beta = F.lit(2.0 * PI) * (doy / F.lit(days_per_year))
    radius_ratio = (
        F.lit(1.00011)
        + F.lit(0.034221) * F.cos(beta)
        + F.lit(0.00128) * F.sin(beta)
        + F.lit(0.000719) * F.cos(2 * beta)
        + F.lit(0.000077) * F.sin(2 * beta)
    )
    s0 = F.lit(solar_constant) * radius_ratio

    if terrain_slope == 0.0:
        # flat terrain: cos(incidence) == cos(zenith); avoids the
        # asin/sin(zenith) singularity of the general formula
        cosi = cos_zen
    else:
        zen = F.acos(cos_zen)
        mu = F.asin(
            F.least(
                F.greatest(F.cos(solar_decline) * F.sin(hour_angle) / F.sin(zen), F.lit(-1.0)),
                F.lit(1.0),
            )
        )
        cosi = F.cos(F.lit(terrain_slope)) * cos_zen + F.sin(F.lit(terrain_slope)) * F.sin(
            zen
        ) * F.cos(mu - F.lit(terrain_slope_azimuth))

    direct = F.greatest(s0 * trans_direct * cosi, F.lit(0.0))
    diffuse = s0 * trans_diffuse * cos_zen

    if split:
        return direct, diffuse
    return direct + diffuse
