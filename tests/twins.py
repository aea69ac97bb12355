"""Reference formulations the tests compare the engine against.

The engine (rio_color_spark/) keeps one form per primitive: SQL-text hash
builders, Column tile math, NumPy cell encoding, the in-place saturation
kernel. These are the second forms — NumPy MinHash/SimHash, a per-bit
Column SimHash, the inverse tile and cell maps, the whole-array saturation
sequence — and none of them is on an execution path; tests assert the
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
from rio_color_spark.functions import colorspace as CS
from rio_color_spark.functions import texthash as TH
from rio_color_spark.plans.dsl import parse_ops_spec

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


# -- saturation ---------------------------------------------------------------
#
# The whole-array form of colorspace.saturate_rgb_from_linear: every hop
# allocates its results, branches are np.where over both sides. The op
# sequence (operand order of every add and multiply, division vs
# reciprocal, t*t*t vs t**3) is the one the engine's in-place kernel must
# reproduce bit for bit.


def srgb_inverse_compand(c):
    with np.errstate(invalid="ignore"):
        return np.where(c <= 0.04045, c / 12.92, ((c + 0.055) / 1.055) ** 2.4)


def linear_rgb_to_xyz(rl, gl, bl):
    x = (rl * 0.4124564 + gl * 0.3575761 + bl * 0.1804375) / CS._XN
    y = rl * 0.2126729 + gl * 0.7151522 + bl * 0.0721750
    z = (rl * 0.0193339 + gl * 0.1191920 + bl * 0.9503041) / CS._ZN
    return x, y, z


def xyz_to_lab(x, y, z):
    with np.errstate(invalid="ignore"):
        fx = np.where(x > CS._T0, np.cbrt(x), CS._ALPHA * x + CS._BINTERCEPT)
        fy = np.where(y > CS._T0, np.cbrt(y), CS._ALPHA * y + CS._BINTERCEPT)
        fz = np.where(z > CS._T0, np.cbrt(z), CS._ALPHA * z + CS._BINTERCEPT)
    return 116 * fy - 16, 500 * (fx - fy), 200 * (fy - fz)


def lab_to_xyz(L, a, b):
    d, bi = CS._DELTA, CS._BINTERCEPT
    tx = (L + 16) / 116.0 + a / 500.0
    ty = (L + 16) / 116.0
    tz = (L + 16) / 116.0 - b / 200.0
    with np.errstate(invalid="ignore"):
        x = np.where(tx > d, tx * tx * tx, 3 * d * d * (tx - bi))
        y = np.where(ty > d, ty * ty * ty, 3 * d * d * (ty - bi))
        z = np.where(tz > d, tz * tz * tz, 3 * d * d * (tz - bi))
    return x, y, z


def xyz_to_rgb(x, y, z):
    x = x * CS._XN
    z = z * CS._ZN
    rlin = x * 3.2404542 + y * -1.5371385 + z * -0.4985314
    glin = x * -0.9692660 + y * 1.8760108 + z * 0.0415560
    blin = x * 0.0556434 + y * -0.2040259 + z * 1.0572252
    with np.errstate(invalid="ignore"):
        r = np.where(rlin <= 0.0031308, 12.92 * rlin, 1.055 * rlin ** (1 / 2.4) - 0.055)
        g = np.where(glin <= 0.0031308, 12.92 * glin, 1.055 * glin ** (1 / 2.4) - 0.055)
        b = np.where(blin <= 0.0031308, 12.92 * blin, 1.055 * blin ** (1 / 2.4) - 0.055)
    return np.clip(r, 0.0, 1.0), np.clip(g, 0.0, 1.0), np.clip(b, 0.0, 1.0)


def saturate_rgb_from_linear(rl, gl, bl, satmult: float) -> np.ndarray:
    """Linear RGB → XYZ → LAB, (a, b) · satmult, LAB → XYZ → sRGB, clip."""
    L, a, b = xyz_to_lab(*linear_rgb_to_xyz(rl, gl, bl))
    r, g, bb = xyz_to_rgb(*lab_to_xyz(L, a * satmult, b * satmult))
    out = np.empty((3,) + np.shape(rl), dtype=np.float64)
    out[0], out[1], out[2] = r, g, bb
    return out


def saturate_rgb(arr: np.ndarray, satmult: float) -> np.ndarray:
    """(3, ...) sRGB in [0, 1] → saturated sRGB (the float-path twin)."""
    return saturate_rgb_from_linear(
        *(srgb_inverse_compand(arr[i]) for i in range(3)), satmult
    )


def apply_chain(ops_string: str, arr: np.ndarray) -> np.ndarray:
    """A DSL chain over a float (C, H, W) array, op by op, with every
    saturation run by the twin above instead of the engine kernel."""
    out = arr.copy()
    for spec in parse_ops_spec(ops_string):
        if spec.rgb_op:
            out[0:3] = saturate_rgb(out[0:3], spec.kwargs["proportion"])
        else:
            spec.apply_into(out, out)
    return out
