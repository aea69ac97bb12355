"""Web-Mercator XYZ (slippy-map) tile math — NumPy kernels + native Spark
column expressions.

Net-new spatial layer (SURVEY.md §1.2, BASELINE.json north_star); the
reference has no tiling — its block windows (cli.py:81-83) are the moral
ancestor of "partition pixels by tile".

Standard slippy-map formulas:

    n = 2**z
    x = floor((lon + 180) / 360 * n)
    y = floor((1 - asinh(tan(lat_rad)) / pi) / 2 * n)

Latitudes are clamped to ±85.0511287798066 (the Web-Mercator limit) and
x/y to [0, n-1], so every point maps to a valid tile.

Two implementations sharing ONE asinh formulation — ``ln(t + sqrt(t²+1))``
— so the NumPy path, the JVM Column path, and the DuckDB oracle evaluate
the same expression tree (``np.arcsinh`` and the ln form differ by ULPs,
which can flip ``floor()`` at exact tile-boundary latitudes):

- ``tile_xy`` — vectorized NumPy (used in kernels/oracles)
- ``tile_cols`` — native Spark Column expressions: tile assignment runs
  JVM-side inside whole-stage codegen, with NO Python crossing. This is the
  preferred path in the pipeline; the NumPy twin exists for oracle tests
  and in-UDF use.

Outputs agree except where the engines' libm ``log``/``sqrt`` differ in the
last ULP at an exact tile boundary (no such latitude exists in the
synthetic fixtures; the set-equality tests would catch one).
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

MAX_LAT = 85.0511287798066


def clip_lat(lat):
    return np.clip(lat, -MAX_LAT, MAX_LAT)


def asinh_ln(t: np.ndarray) -> np.ndarray:
    """asinh as ``ln(t + sqrt(t² + 1))`` — the engine's ONE formulation,
    shared verbatim with tile_cols (JVM) and tile_xy_sql (DuckDB)."""
    return np.log(t + np.sqrt(t * t + 1.0))


def mercator_y_frac(lat) -> np.ndarray:
    """Clipped latitude (degrees) → Web-Mercator y fraction in [0, 1]."""
    t = np.tan(np.radians(clip_lat(np.asarray(lat, dtype=np.float64))))
    return (1.0 - asinh_ln(t) / math.pi) / 2.0


def tile_xy(lon, lat, zoom: int) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized lon/lat → (tile_x, tile_y) at ``zoom``."""
    n = 1 << zoom
    lon = np.asarray(lon, dtype=np.float64)
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor(mercator_y_frac(lat) * n).astype(np.int64)
    return np.clip(x, 0, n - 1), np.clip(y, 0, n - 1)


def tile_cols(lon: Column, lat: Column, zoom: int) -> tuple[Column, Column]:
    """Native Spark Column twins of :func:`tile_xy` (JVM-side, codegen'd)."""
    n = float(1 << zoom)
    lat_c = F.greatest(F.lit(-MAX_LAT), F.least(F.lit(MAX_LAT), lat))
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    lat_rad = F.radians(lat_c)
    # asinh(t) = ln(t + sqrt(t^2 + 1))
    t = F.tan(lat_rad)
    y = F.floor(
        (F.lit(1.0) - F.log(t + F.sqrt(t * t + F.lit(1.0))) / F.lit(math.pi))
        / F.lit(2.0)
        * F.lit(n)
    )
    clip = lambda c: F.greatest(F.lit(0), F.least(F.lit(int(n) - 1), c))
    return clip(x).cast("int"), clip(y).cast("int")


def bbox_tile_range(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, zoom: int
) -> tuple[int, int, int, int]:
    """Exact tile cover of a lon/lat bbox: (x0, y0, x1, y1) inclusive.

    Mercator x is monotonic in lon and y is monotonic in -lat, so the
    corner tiles bound the cover exactly — this is what makes the
    tile-based PIP prefilter provably a candidate superset.
    """
    x0, y0 = tile_xy(np.array([lon_min]), np.array([lat_max]), zoom)
    x1, y1 = tile_xy(np.array([lon_max]), np.array([lat_min]), zoom)
    return int(x0[0]), int(y0[0]), int(x1[0]), int(y1[0])


def tile_pixel_lonlat(
    x: int, y: int, zoom: int, resolution: int
) -> tuple[np.ndarray, np.ndarray]:
    """Pixel-center lon/lat grids of a tile, separable: (lon (res,), lat (res,)).

    lon is linear in pixel column; lat is the inverse-Mercator of the pixel
    row (vectorized). Callers meshgrid as needed.
    """
    n = 1 << zoom
    cols = (np.arange(resolution) + 0.5) / resolution
    rows = (np.arange(resolution) + 0.5) / resolution
    lon = (x + cols) / n * 360.0 - 180.0
    lat = np.degrees(np.arctan(np.sinh(math.pi * (1.0 - 2.0 * (y + rows) / n))))
    return lon, lat


def pack_tile(x, y, zoom: int):
    """(x, y) → single int64 key ``(zoom << 58) | (x << 29) | y``.

    Supports zoom ≤ 28; one BIGINT join key instead of a struct keeps the
    shuffle narrow and lets AQE handle skew on it.
    """
    x = np.asarray(x, dtype=np.int64)
    y = np.asarray(y, dtype=np.int64)
    return (np.int64(zoom) << np.int64(58)) | (x << np.int64(29)) | y


def pack_tile_col(x: Column, y: Column, zoom: int) -> Column:
    return (
        F.lit(zoom).cast("long") * F.lit(1 << 58).cast("long")
        + x.cast("long") * F.lit(1 << 29).cast("long")
        + y.cast("long")
    )
