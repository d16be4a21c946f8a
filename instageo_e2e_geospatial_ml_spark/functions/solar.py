"""P7: daytime filter via NOAA solar-position closed form.

The reference filters granules to daytime acquisitions with astral
sunrise/sunset at the footprint centroid (stac_utils.py:72-90). astral is
absent here, so the standard NOAA Solar Calculator equations (public
formulae) are implemented in numpy inside a scalar pandas UDF.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType


def sunrise_sunset_utc_minutes(
    lat: np.ndarray, lon: np.ndarray, day_of_year: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """NOAA closed form → (sunrise, sunset) in minutes after 00:00 UTC.

    Polar day/night: NaN where the sun never crosses the horizon.
    """
    g = 2.0 * np.pi / 365.0 * (day_of_year - 1 + 0.5)
    eqtime = 229.18 * (
        0.000075
        + 0.001868 * np.cos(g)
        - 0.032077 * np.sin(g)
        - 0.014615 * np.cos(2 * g)
        - 0.040849 * np.sin(2 * g)
    )
    decl = (
        0.006918
        - 0.399912 * np.cos(g)
        + 0.070257 * np.sin(g)
        - 0.006758 * np.cos(2 * g)
        + 0.000907 * np.sin(2 * g)
        - 0.002697 * np.cos(3 * g)
        + 0.00148 * np.sin(3 * g)
    )
    lat_r = np.radians(lat)
    zenith = np.radians(90.833)  # official sunrise/sunset
    cos_ha = (np.cos(zenith) - np.sin(lat_r) * np.sin(decl)) / (
        np.cos(lat_r) * np.cos(decl)
    )
    with np.errstate(invalid="ignore"):
        ha = np.degrees(np.arccos(np.clip(cos_ha, -1.0, 1.0)))
    ha = np.where((cos_ha > 1.0) | (cos_ha < -1.0), np.nan, ha)
    sunrise = 720.0 - 4.0 * (lon + ha) - eqtime
    sunset = 720.0 - 4.0 * (lon - ha) - eqtime
    return sunrise, sunset


@pandas_udf(BooleanType())
def is_daytime_udf(lat: pd.Series, lon: pd.Series, ts: pd.Series) -> pd.Series:
    t = pd.to_datetime(ts)
    doy = t.dt.dayofyear.to_numpy(np.float64)
    minutes = (t.dt.hour * 60 + t.dt.minute + t.dt.second / 60.0).to_numpy(np.float64)
    sr, ss = sunrise_sunset_utc_minutes(
        lat.to_numpy(np.float64), lon.to_numpy(np.float64), doy
    )
    # wrap: sunrise/sunset minutes can fall outside [0, 1440)
    day = (minutes - sr) % 1440.0 < (ss - sr) % 1440.0
    day = np.where(np.isnan(sr), lat.to_numpy() * 0 > -1, day)  # polar: keep
    return pd.Series(day)


def daytime_filter(granules: DataFrame) -> DataFrame:
    """Keep granules acquired between local sunrise and sunset at the
    footprint centroid (reference stac_utils.py:72-90)."""
    return granules.filter(
        is_daytime_udf(F.col("fp_cy"), F.col("fp_cx"), F.col("ts").cast("timestamp"))
    )
