"""Vectorized geospatial column functions (Arrow-batched pandas UDFs + pure
column expressions).

The hot-path cell index (`cell_of`, its ids packed by `cell_id`) is a pure
Catalyst column expression — whole-stage-codegen'd, no Python — identical
to grid.sql_cell_expr so the DuckDB oracle can verify it. The MGRS encoder
(string tile ids, needed for reference parity) and CRS reprojection run as
scalar pandas UDFs over numpy (replacing the reference's row-at-a-time
`df.apply(mgrs.MGRS().toMGRS)`, data_pipeline.py:374-377 — a ~100×
vectorization win).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType
from pyspark.sql.functions import pandas_udf

from .. import mgrs as _mgrs
from ..grid import RES_SHIFT, Y_SHIFT


def cell_id(res: int, cy: Column, cx: Column) -> Column:
    """Packed int64 cell id from grid coordinates (the grid.py layout:
    res << 58 | cy << 29 | cx) as a column expression."""
    return F.lit(res).cast("long") * F.lit(1 << RES_SHIFT) + cy * F.lit(1 << Y_SHIFT) + cx


def cell_of(lon: Column | str, lat: Column | str, res: int) -> Column:
    """Packed int64 grid cell id as a pure column expression (JVM-side).

    Bit-identical to grid.cell_encode / grid.sql_cell_expr.
    """
    lon = F.col(lon) if isinstance(lon, str) else lon
    lat = F.col(lat) if isinstance(lat, str) else lat
    n = 1 << res
    # clamp to the grid exactly like grid.cell_encode (np.clip) so boundary
    # inputs (lon=180, lat=90) yield the same id in every path
    cx = F.least(
        F.greatest(F.floor((lon + F.lit(180.0)) * n / F.lit(180.0)).cast("long"), F.lit(0)),
        F.lit(2 * n - 1),
    )
    cy = F.least(
        F.greatest(F.floor((lat + F.lit(90.0)) * n / F.lit(180.0)).cast("long"), F.lit(0)),
        F.lit(n - 1),
    )
    return cell_id(res, cy, cx)


@pandas_udf(StringType())
def mgrs_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """MGRS precision-0 tile id (vectorized numpy UTM + lettering)."""
    out = _mgrs.mgrs_precision0(lat.to_numpy(), lon.to_numpy())
    return pd.Series(out)


@pandas_udf(
    StructType(
        [StructField("x_4326", DoubleType()), StructField("y_4326", DoubleType())]
    )
)
def reproject_to_4326_udf(x: pd.Series, y: pd.Series, epsg: pd.Series) -> pd.DataFrame:
    """CRS reprojection → EPSG:4326 (reference data_pipeline.py:330-349).

    Supports 4326 (identity), 3857 (web mercator), 326xx/327xx (UTM N/S),
    and the common continental CRS via projections.py closed forms: 5070
    (Conus Albers), 3577 (Australian Albers), 2154 (Lambert-93), 3978
    (Canada Atlas LCC), 3035 (LAEA Europe). Other codes raise with a clear
    message (the reference would delegate to pyproj, absent here).
    """
    from .. import projections as _proj

    code = int(epsg.iloc[0])
    xs = x.to_numpy(dtype=np.float64)
    ys = y.to_numpy(dtype=np.float64)
    if code == 4326:
        lat, lon = ys, xs
    elif code == 3857:
        lat, lon = _mgrs.webmercator_to_latlon(xs, ys)
    elif 32601 <= code <= 32660:
        lat, lon = _mgrs.utm_to_latlon(xs, ys, code - 32600, south=False)
    elif 32701 <= code <= 32760:
        lat, lon = _mgrs.utm_to_latlon(xs, ys, code - 32700, south=True)
    elif code in _proj.EPSG_INVERSE:
        lat, lon = _proj.EPSG_INVERSE[code](xs, ys)
    else:
        raise NotImplementedError(
            f"EPSG:{code} not supported without pyproj (supported: 4326, "
            f"3857, UTM 326xx/327xx, {sorted(_proj.EPSG_INVERSE)})"
        )
    return pd.DataFrame({"x_4326": lon, "y_4326": lat})
