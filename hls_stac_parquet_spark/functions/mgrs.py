"""MGRS tile-id → tile-center lat/lon, without the C `mgrs` library.

The reference decodes tiles with the libmgrs binding (write.py:36,71)
— the one genuinely UDF-shaped operation in the pipeline (SURVEY.md
A15). Here it's a vectorized numpy implementation of the public
MGRS/UTM math (zone + 100 km square letters → easting/northing,
then the standard UTM inverse series — see e.g. Snyder, "Map
Projections: A Working Manual", USGS PP 1395, and the Wikipedia
"Universal Transverse Mercator" formulas). Center accuracy is well
under the ~2.4 km Hilbert-grid cell (p=14), which is all the
clustering key needs.

Three consumption forms:
- :func:`mgrs_center_udf` — Arrow-batched pandas UDF
- :func:`mgrs_dim_table` — precomputed broadcast dimension table
  (tile → lat/lon) to join instead of calling a UDF per row
- :func:`tile_keys` — the same table plus the Hilbert key, computed
  in plain numpy on the driver from a list of tiles; ~56k HLS tiles
  ≈ a few MB, so E2 keys a month before it fetches any item.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StructField,
    StructType,
)

from hls_stac_parquet_spark.functions.spatial import hilbert_index

# WGS84
_A = 6378137.0
_F = 1 / 298.257223563
_E2 = _F * (2 - _F)
_EP2 = _E2 / (1 - _E2)
_K0 = 0.9996

_COL_LETTERS = "ABCDEFGHJKLMNPQRSTUVWXYZ"  # no I, O
_ROW_LETTERS = "ABCDEFGHJKLMNPQRSTUV"  # no I, O (20 letters, 2000km cycle)
_BAND_LETTERS = "CDEFGHJKLMNPQRSTUVWX"  # lat bands -80..+72, 8° each

# approximate northing of the bottom of each lat band (metres), used to
# resolve the 2,000 km row-letter ambiguity — standard MGRS technique
_BAND_BOTTOM_LAT = {c: -80 + 8 * i for i, c in enumerate(_BAND_LETTERS)}


def _utm_to_latlon(zone: np.ndarray, northern: np.ndarray, easting: np.ndarray,
                   northing: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized UTM → lat/lon (standard inverse series, float64)."""
    x = easting - 500000.0
    y = np.where(northern, northing, northing - 10000000.0)

    m = y / _K0
    mu = m / (_A * (1 - _E2 / 4 - 3 * _E2**2 / 64 - 5 * _E2**3 / 256))

    e1 = (1 - np.sqrt(1 - _E2)) / (1 + np.sqrt(1 - _E2))
    phi1 = (
        mu
        + (3 * e1 / 2 - 27 * e1**3 / 32) * np.sin(2 * mu)
        + (21 * e1**2 / 16 - 55 * e1**4 / 32) * np.sin(4 * mu)
        + (151 * e1**3 / 96) * np.sin(6 * mu)
        + (1097 * e1**4 / 512) * np.sin(8 * mu)
    )

    sin1, cos1, tan1 = np.sin(phi1), np.cos(phi1), np.tan(phi1)
    c1 = _EP2 * cos1**2
    t1 = tan1**2
    n1 = _A / np.sqrt(1 - _E2 * sin1**2)
    r1 = _A * (1 - _E2) / (1 - _E2 * sin1**2) ** 1.5
    d = x / (n1 * _K0)

    lat = phi1 - (n1 * tan1 / r1) * (
        d**2 / 2
        - (5 + 3 * t1 + 10 * c1 - 4 * c1**2 - 9 * _EP2) * d**4 / 24
        + (61 + 90 * t1 + 298 * c1 + 45 * t1**2 - 252 * _EP2 - 3 * c1**2)
        * d**6
        / 720
    )
    lon = (
        d
        - (1 + 2 * t1 + c1) * d**3 / 6
        + (5 - 2 * c1 + 28 * t1 - 3 * c1**2 + 8 * _EP2 + 24 * t1**2) * d**5 / 120
    ) / cos1

    lon_deg = np.degrees(lon) + (zone * 6.0 - 183.0)
    return np.degrees(lat), lon_deg


def mgrs_tile_center(tiles: pd.Series) -> pd.DataFrame:
    """Vectorized decode of 5-char MGRS tile ids (e.g. '15TWN') to the
    100 km-square center lat/lon. Invalid ids → NaN (feeds the
    Hilbert error sentinel downstream, matching write.py:83-88)."""
    s = tiles.astype("string")
    valid = s.str.match(r"^[0-9]{2}[C-HJ-NP-X][A-HJ-NP-Z][A-HJ-NP-V]$").fillna(False)
    n = len(s)
    lat = np.full(n, np.nan)
    lon = np.full(n, np.nan)
    if valid.any():
        sv = s[valid]
        zone = sv.str.slice(0, 2).astype(int).to_numpy()
        band = sv.str.slice(2, 3).to_numpy()
        col_l = sv.str.slice(3, 4).to_numpy()
        row_l = sv.str.slice(4, 5).to_numpy()

        # 100km column: letters cycle in 3-zone sets of 8 (AJS rule)
        col_idx = np.array([_COL_LETTERS.index(c) for c in col_l])
        col_off = ((zone - 1) % 3) * 8
        easting = ((col_idx - col_off) % 24 + 1) * 100000.0 + 50000.0

        # 100km row: even zones offset by 5 letters (F start)
        row_idx = np.array([_ROW_LETTERS.index(c) for c in row_l])
        row_off = np.where(zone % 2 == 0, 5, 0)
        row_in_cycle = (row_idx - row_off) % 20
        base_northing = row_in_cycle * 100000.0 + 50000.0

        # resolve the 2000km cycle with the lat band's bottom northing
        band_bottom = np.array([_BAND_BOTTOM_LAT[b] for b in band], dtype=np.float64)
        northern = band_bottom >= 0
        # meters per degree latitude ≈ 110,946 m on WGS84 mean
        approx_northing = np.where(
            northern, band_bottom * 110946.0, (band_bottom + 80) * 110946.0
        )
        # southern hemisphere northings count up from 10,000,000 at equator
        approx_northing = np.where(
            northern, approx_northing, 10000000.0 - (0 - band_bottom) * 110946.0
        )
        cycles = np.round((approx_northing - base_northing) / 2000000.0)
        northing = base_northing + cycles * 2000000.0

        la, lo = _utm_to_latlon(zone, northern, easting, northing)
        lat[valid.to_numpy()] = la
        lon[valid.to_numpy()] = lo
    return pd.DataFrame({"lat": lat, "lon": lon})


_CENTER_SCHEMA = StructType(
    [StructField("lat", DoubleType()), StructField("lon", DoubleType())]
)


@F.pandas_udf(_CENTER_SCHEMA)
def mgrs_center_udf(tile: pd.Series) -> pd.DataFrame:
    """MGRS tile → struct(lat, lon); Arrow-batched."""
    return mgrs_tile_center(tile)


def mgrs_dim_table(spark: SparkSession, tiles_df: DataFrame,
                   tile_col: str = "mgrs_tile") -> DataFrame:
    """Build a (tile → lat/lon) dimension table from the distinct
    tiles actually present, for a broadcast join (SURVEY.md A15's
    preferred plan: ~56k HLS tiles, a few MB).

    distinct() shrinks the UDF invocation count from |rows| to
    |tiles| — at 10^9 items/month that's a 10^4× cut in Python-side
    work, then a broadcast hash join does the rest JVM-side.
    """
    distinct_tiles = tiles_df.select(F.col(tile_col).alias("mgrs_tile")).distinct()
    return distinct_tiles.withColumn(
        "center", mgrs_center_udf(F.col("mgrs_tile"))
    ).select(
        "mgrs_tile",
        F.col("center.lat").alias("tile_lat"),
        F.col("center.lon").alias("tile_lon"),
    )


def tile_keys(tiles) -> pd.DataFrame:
    """Distinct tile ids (None allowed) → (mgrs_tile, lat, lon,
    hilbert_idx), in numpy on the driver. Same values as the
    :func:`mgrs_dim_table` + ``hilbert_index_udf`` column path: a tile
    the decoder rejects, or no tile at all, gets NaN lat/lon and the
    error sentinel key."""
    tiles = pd.Series(list(tiles), dtype=object)
    center = mgrs_tile_center(tiles)
    lat = center["lat"].to_numpy()
    lon = center["lon"].to_numpy()
    return pd.DataFrame(
        {
            "mgrs_tile": tiles,
            "lat": lat,
            "lon": lon,
            "hilbert_idx": hilbert_index(lon, lat),
        }
    )
