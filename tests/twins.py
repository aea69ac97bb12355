"""Reference formulations the tests compare the engine against.

The engine (rio_color_spark/) keeps one form per primitive: SQL-text hash
builders, Column tile math, NumPy cell encoding. These are the second
forms — NumPy MinHash/SimHash, a per-bit Column SimHash, the inverse tile
and cell maps — and none of them is on an execution path; tests assert the
engine matches them value for value.
"""

from __future__ import annotations

import hashlib
import math
import re

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from rio_color_spark.functions import cells as C
from rio_color_spark.functions import texthash as TH

_WS = re.compile(TH.WS_REGEX)


# -- text hashing -------------------------------------------------------------


def _tokens(text: str) -> list[str]:
    # strip(" ") not strip(): Spark/DuckDB `trim` removes ONLY spaces,
    # and the oracle contract is trim(lower(text))
    return _WS.split(text.lower().strip(" "))


def _md5_prefix(strings: list[str]) -> np.ndarray:
    return np.array(
        [int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in strings],
        dtype=np.int64,
    )


def shingles_py(text: str) -> list[str]:
    """3-word shingles of the whitespace tokens of trimmed lowercased text."""
    toks = _tokens(text)
    return [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)]


def minhash_sig_py(text: str) -> list[int]:
    """NumPy MinHash signature: 3-word shingles, first 8 md5 hex chars as
    the element hash, the 16 fixed affine hashes mod P (P when empty)."""
    sh = shingles_py(text)
    if not sh:
        return [TH.MINHASH_P] * TH.N_MINHASH
    hs = _md5_prefix(sh)
    a = np.array(TH.MINHASH_A, dtype=np.int64)[:, None]
    b = np.array(TH.MINHASH_B, dtype=np.int64)[:, None]
    sig = ((a * (hs % TH.MINHASH_P)[None, :] + b) % TH.MINHASH_P).min(axis=1)
    return sig.tolist()


def simhash_py(text: str) -> int:
    """NumPy 32-bit majority SimHash over the token hashes."""
    hs = _md5_prefix(_tokens(text))
    n = len(hs)
    bits = (hs[:, None] >> np.arange(TH.SIMHASH_BITS)[None, :]) & 1  # (n, 32)
    maj = bits.sum(axis=0) * 2 > n
    return int((maj.astype(np.int64) << np.arange(TH.SIMHASH_BITS)).sum())


def simhash_col(hashes: Column) -> Column:
    """32-bit SimHash as 32 per-bit Column passes: bit b set iff a strict
    majority of hashes set bit b (the reference for the single-pass
    texthash.simhash_agg_sql)."""
    def bit_pred(b: int):
        # a plain 1-arg lambda with a default arg would be inspected by
        # PySpark as a 2-arg (value, index) lambda — build via closure
        return lambda x: F.shiftright(x, b).bitwiseAND(F.lit(1)) == 1

    n = F.size(hashes)
    acc = F.lit(0).cast("long")
    for b in range(TH.SIMHASH_BITS):
        set_cnt = F.size(F.filter(hashes, bit_pred(b)))
        acc = acc + F.when(set_cnt * 2 > n, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return acc


# -- spatial ------------------------------------------------------------------


def tile_bounds(x: int, y: int, zoom: int) -> tuple[float, float, float, float]:
    """(lon_min, lat_min, lon_max, lat_max) of a slippy-map tile."""
    n = 1 << zoom
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0
    lat_max = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
    lat_min = math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * (y + 1) / n))))
    return lon_min, lat_min, lon_max, lat_max


def cell_center_lonlat(cell, level: int = C.DEFAULT_LEVEL):
    """cell id → (lon, lat) of the cell center."""
    face, i, j = C.decompose(cell, level)
    n = 1 << level
    u = (i.astype(np.float64) + 0.5) / n * 2.0 - 1.0
    v = (j.astype(np.float64) + 0.5) / n * 2.0 - 1.0
    x, y, z = C._face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    x, y, z = x / norm, y / norm, z / norm
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.sqrt(x * x + y * y)))
    return lon, lat
