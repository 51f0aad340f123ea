"""Space-filling-curve keys for spatial clustering.

The reference clusters a month of STAC items by Hilbert index before
writing GeoParquet (``/root/reference/src/hls_stac_parquet/write.py:36-37,
58-88,204-219``): MGRS tile → lat/lon → 2^14 × 2^14 grid → Hilbert
distance (p=14, n=2), errors mapped to sentinel ``2**28`` so they sort
last, then a single-threaded in-memory ``list.sort``.

Here the same capability is a *derived sort key column* + a Spark
range-partitioned sort — the driver-side memory cliff disappears and
the sort scales horizontally:

- :func:`morton_key` / :func:`morton_key_sql` — pure-SQL bit
  interleave (Z-order). Stays inside whole-stage codegen, and is
  expressible in ANSI-ish SQL for the DuckDB oracle.
- :func:`hilbert_index` / :func:`hilbert_index_udf` — exact Hilbert
  distance in numpy (bit-twiddling, no per-row Python) and as a
  vectorized pandas UDF, matching the reference's (p, n, sentinel)
  contract.

The clustering itself belongs to the GeoParquet sink
(``sinks/geoparquet.py::cluster_month``): a range-partitioned sort on
the key — a total order with no driver materialization.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

#: grid resolution used by the reference (write.py:37): p=14 → 16384²
HILBERT_P = 14
#: sentinel for unparseable rows (write.py:88) — sorts after any real key
HILBERT_ERROR_SENTINEL = 2**28
#: bits per coordinate of a Morton key (inputs are ints below 256)
MORTON_BITS = 8


def _bit_sql(expr: str, i: int, dialect: str) -> str:
    if dialect == "spark":
        return f"(shiftright({expr}, {i}) & 1)"
    return f"(({expr} >> {i}) & 1)"


def morton_key_sql(x_expr: str, y_expr: str, dialect: str = "spark") -> str:
    """SQL text for a 2-D Morton (Z-order) interleave of two ints.

    ``x_expr``/``y_expr`` must already be non-negative integers below
    ``2**MORTON_BITS``. The same generator emits Spark SQL and DuckDB SQL so
    the oracle can verify the engine bit-for-bit.
    """
    xs = f"CAST({x_expr} AS BIGINT)"
    ys = f"CAST({y_expr} AS BIGINT)"
    terms = []
    for i in range(MORTON_BITS):
        terms.append(f"{_bit_sql(xs, i, dialect)} * {1 << (2 * i)}")
        terms.append(f"{_bit_sql(ys, i, dialect)} * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


def morton_key(x: Column | str, y: Column | str) -> Column:
    """Morton key as a Spark Column (pure built-ins → codegen)."""
    xs = F.col(x) if isinstance(x, str) else x
    ys = F.col(y) if isinstance(y, str) else y
    xs = xs.cast("bigint")
    ys = ys.cast("bigint")
    out = F.lit(0).cast("bigint")
    for i in range(MORTON_BITS):
        out = out + F.shiftright(xs, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
        out = out + F.shiftright(ys, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
    return out


def hilbert_xy2d_sql(
    order: int,
    x_expr: str,
    y_expr: str,
    inner: str,
) -> str:
    """DuckDB SQL computing the exact Hilbert distance — the classic
    xy→d loop UNROLLED into ``order`` chained subqueries of pure
    integer arithmetic (legal because ``order`` is a constant), so the
    oracle can verify :func:`hilbert_xy2d` bit-for-bit, the same
    generator-twin idea as :func:`morton_key_sql`.

    ``inner`` is a FROM-able subquery/table exposing ``x_expr`` /
    ``y_expr`` (non-negative ints < 2**order) plus any passthrough
    columns; the result exposes the same columns plus ``hd``.
    """
    sql = (
        f"(SELECT *, CAST({x_expr} AS BIGINT) AS _hx, "
        f"CAST({y_expr} AS BIGINT) AS _hy, CAST(0 AS BIGINT) AS hd "
        f"FROM {inner})"
    )
    for k in range(order - 1, -1, -1):
        s = 1 << k
        # rx/ry bits, then the quadrant rotation (swap when ry=0,
        # flip when additionally rx=1) — identical to hilbert_xy2d
        sql = (
            "(SELECT * EXCLUDE (_hx, _hy, hd, _rx, _ry), "
            f"hd + {s * s} * xor(3 * _rx, _ry) AS hd, "
            f"CASE WHEN _ry = 0 THEN "
            f"  (CASE WHEN _rx = 1 THEN {s - 1} - _hy ELSE _hy END) "
            f"ELSE _hx END AS _hx, "
            f"CASE WHEN _ry = 0 THEN "
            f"  (CASE WHEN _rx = 1 THEN {s - 1} - _hx ELSE _hx END) "
            f"ELSE _hy END AS _hy "
            "FROM (SELECT *, "
            f"CASE WHEN (_hx & {s}) > 0 THEN 1 ELSE 0 END AS _rx, "
            f"CASE WHEN (_hy & {s}) > 0 THEN 1 ELSE 0 END AS _ry "
            f"FROM {sql}))"
        )
    return f"(SELECT * EXCLUDE (_hx, _hy) FROM {sql})"


def hilbert_xy2d(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Vectorized Hilbert distance for points on a ``2**order`` grid.

    Classic xy→d iteration (the public algorithm, e.g. Wikipedia
    "Hilbert curve"), lifted to numpy arrays so a whole Arrow batch is
    converted per call. Returns int64 distances in ``[0, 4**order)``.
    """
    x = x.astype(np.int64).copy()
    y = y.astype(np.int64).copy()
    d = np.zeros_like(x)
    s = np.int64(1) << (order - 1)
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rotate quadrant
        swap = ry == 0
        flip = swap & (rx == 1)
        x_f = np.where(flip, s - 1 - x, x)
        y_f = np.where(flip, s - 1 - y, y)
        x_new = np.where(swap, y_f, x_f)
        y_new = np.where(swap, x_f, y_f)
        x, y = x_new, y_new
        s >>= 1
    return d


def lonlat_to_grid(
    lon: np.ndarray, lat: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Normalize lon/lat to the 2**HILBERT_P grid with clamping.

    Mirrors the reference's grid math (write.py:76-81): scale to
    [0, side), floor, clamp to the valid cell range.
    """
    side = 1 << HILBERT_P
    gx = np.floor((lon + 180.0) / 360.0 * side)
    gy = np.floor((lat + 90.0) / 180.0 * side)
    gx = np.clip(gx, 0, side - 1).astype(np.int64)
    gy = np.clip(gy, 0, side - 1).astype(np.int64)
    return gx, gy


def hilbert_index(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """lon/lat → Hilbert distance on the reference's 16384² grid.

    NaN inputs get the error sentinel ``2**28`` (sorts last),
    matching write.py:86-88. O(order) vector ops, not per-row work.
    """
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    bad = np.isnan(lon) | np.isnan(lat)
    gx, gy = lonlat_to_grid(np.nan_to_num(lon), np.nan_to_num(lat))
    d = hilbert_xy2d(HILBERT_P, gx, gy)
    d[bad] = HILBERT_ERROR_SENTINEL
    return d


@F.pandas_udf(LongType())
def hilbert_index_udf(lon: pd.Series, lat: pd.Series) -> pd.Series:
    """Column form of :func:`hilbert_index` (nulls → sentinel);
    Arrow-batched, one numpy call per batch."""
    return pd.Series(
        hilbert_index(
            lon.to_numpy(dtype=np.float64, na_value=np.nan),
            lat.to_numpy(dtype=np.float64, na_value=np.nan),
        )
    )
