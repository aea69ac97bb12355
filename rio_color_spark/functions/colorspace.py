"""Vectorized colorspace conversions (RGB / XYZ / LAB / LCH / LUV).

Numeric semantics pinned to the reference's Cython kernel
(rio_color/colorspace.pyx), re-derived as NumPy array passes
— the per-pixel ``for i/for j`` loops (colorspace.pyx:90-98, 120-132) become
~10 in-place ufunc passes per conversion hop. Behavioral pins:

- sRGB companding piecewise (colorspace.pyx:265-277, compile-time flag
  ``SRGB_COMPAND=True`` at colorspace.pyx:255)
- non-standard white normalization: X/xn and Z/zn applied INSIDE rgb→xyz
  (colorspace.pyx:286-288) and re-multiplied in xyz→rgb (colorspace.pyx:383-384)
- LCH hue in RADIANS via atan2 (colorspace.pyx:332)
- xyz→rgb hard-clamps to [0, 1] (colorspace.pyx:411-423)
- luv→xyz special-cases L == 0 → (0,0,0) (colorspace.pyx:460-464)
- all routes hub through XYZ and/or LAB exactly as the reference's
  ``_convert`` routing (colorspace.pyx:137-231)
- division by zero / invalid propagates NaN/inf silently, matching the
  reference's ``cdivision=True`` C semantics (colorspace.pyx:1)
"""

from __future__ import annotations

from enum import IntEnum

import numpy as np


class ColorSpace(IntEnum):
    """Color space tags — values match the reference enum (colorspace.pyx:23-28)."""

    rgb = 0
    xyz = 1
    lab = 2
    lch = 3
    luv = 4


# D65 constants (colorspace.pyx:235-247)
_BINTERCEPT = 4.0 / 29
_DELTA = 6.0 / 29
_T0 = _DELTA**3
_ALPHA = (_DELTA**-2) / 3
_THIRD = 1.0 / 3
_KAPPA = (29.0 / 3) ** 3
_XN = 0.95047
_YN = 1.0
_ZN = 1.08883
_DENOM_N = _XN + (15 * _YN) + (3 * _ZN)
_UPRIME_N = (4 * _XN) / _DENOM_N
_VPRIME_N = (9 * _YN) / _DENOM_N


def _srgb_inverse_compand(c):
    """sRGB channel → linear-light channel (the pointwise companding leg,
    split out so quantized-input callers can fold it into a lookup table —
    operators/color.py; byte-identical op sequence either way)."""
    with np.errstate(invalid="ignore"):
        return np.where(c <= 0.04045, c / 12.92, ((c + 0.055) / 1.055) ** 2.4)


#: the linear-RGB → XYZ and XYZ → linear-RGB matrix rows (colorspace.pyx)
_RGB_TO_XYZ = (
    (0.4124564, 0.3575761, 0.1804375),
    (0.2126729, 0.7151522, 0.0721750),
    (0.0193339, 0.1191920, 0.9503041),
)
_XYZ_TO_RGB = (
    (3.2404542, -1.5371385, -0.4985314),
    (-0.9692660, 1.8760108, 0.0415560),
    (0.0556434, -0.2040259, 1.0572252),
)
#: slope of the LAB → XYZ toe, folded left to right as 3 * δ * δ
_TOE = 3 * _DELTA * _DELTA

# The conversion legs below work in place on caller-owned float64 buffers
# (``t`` a scratch array, ``m`` a bool mask of the same shape): no leg
# allocates, so a slab's whole working set stays cache-resident. Each keeps
# the reference formula's IEEE op sequence — operand order of every add,
# division where it divides, t*t*t where it cubes — and a branch writes
# the taken side over the other with np.copyto(where=), which selects the
# same values np.where would. The transcendental ufuncs (cbrt, power) run
# strictly in place: NumPy's SIMD loops fall back to scalar libm, whose
# last bit can differ, when the output buffer merely touches the input's.


def _mix_into(dst, t, u, v, w, row):
    """dst = u·row[0] + v·row[1] + w·row[2], summed left to right.
    ``dst`` must not alias ``v`` or ``w``."""
    np.multiply(u, row[0], out=dst)
    np.add(dst, np.multiply(v, row[1], out=t), out=dst)
    np.add(dst, np.multiply(w, row[2], out=t), out=dst)


def _linear_rgb_to_xyz_into(rl, gl, bl, x, y, z, t):
    """linear-RGB → XYZ into ``x, y, z``, with the reference's in-stage
    X/xn, Z/zn norm."""
    for dst, row in zip((x, y, z), _RGB_TO_XYZ):
        _mix_into(dst, t, rl, gl, bl, row)
    np.divide(x, _XN, out=x)
    np.divide(z, _ZN, out=z)


def _xyz_to_lab_(x, y, z, t, m):
    """XYZ → LAB in place; returns the buffers as (L, a, b).

    np.cbrt == pow(v, 1/3) to float ulps and runs ~1.8x faster (SIMD cube
    root vs scalar libm pow); the ulp delta is far inside the oracle twins'
    6/7-digit rounding and the reference-golden tolerances."""
    for v in (x, y, z):
        np.greater(v, _T0, out=m)
        np.logical_not(m, out=m)  # the toe where v > T0 fails, NaN included
        np.multiply(v, _ALPHA, out=t)
        np.add(t, _BINTERCEPT, out=t)
        np.cbrt(v, out=v)
        np.copyto(v, t, where=m)
    np.subtract(x, y, out=x)
    np.multiply(x, 500, out=x)  # a = 500 (fx - fy)
    np.subtract(y, z, out=z)
    np.multiply(z, 200, out=z)  # b = 200 (fy - fz)
    np.multiply(y, 116, out=y)
    np.subtract(y, 16, out=y)  # L = 116 fy - 16
    return y, x, z


def _lab_to_xyz_(L, a, b, t, m):
    """LAB → XYZ in place; returns the buffers as (x, y, z).

    t*t*t == t**3 within 1 ulp at ~2.3x the speed (two multiplies vs a
    scalar libm pow pass); rounding on both oracle sides absorbs it."""
    np.add(L, 16, out=L)
    np.divide(L, 116.0, out=L)  # ty = (L + 16) / 116
    np.divide(a, 500.0, out=a)
    np.add(L, a, out=a)  # tx = ty + a / 500
    np.divide(b, 200.0, out=b)
    np.subtract(L, b, out=b)  # tz = ty - b / 200
    for v in (a, L, b):
        np.greater(v, _DELTA, out=m)
        np.multiply(v, v, out=t)
        np.multiply(t, v, out=t)
        np.subtract(v, _BINTERCEPT, out=v)
        np.multiply(v, _TOE, out=v)
        np.copyto(v, t, where=m)
    return a, L, b


def _xyz_to_rgb_into(x, y, z, r, g, b, t, m):
    """XYZ → sRGB into ``r, g, b``; ``x`` and ``z`` are rescaled in place.

    The hard clamp for float drift (colorspace.pyx:411-423) lets NaN pass
    through untouched, matching the C comparison chain's NaN behavior."""
    np.multiply(x, _XN, out=x)
    np.multiply(z, _ZN, out=z)
    for dst, row in zip((r, g, b), _XYZ_TO_RGB):
        _mix_into(dst, t, x, y, z, row)
        np.less_equal(dst, 0.0031308, out=m)
        np.multiply(dst, 12.92, out=t)
        with np.errstate(invalid="ignore"):  # negative bases take the toe
            np.power(dst, 1 / 2.4, out=dst)
        np.multiply(dst, 1.055, out=dst)
        np.subtract(dst, 0.055, out=dst)
        np.copyto(dst, t, where=m)
        np.clip(dst, 0.0, 1.0, out=dst)


def _work(one, two, three):
    """Float64 copies of three channels plus a scratch array and a mask:
    the in-place legs' operands when a route must keep its inputs."""
    one, two, three = (np.array(v, dtype=np.float64) for v in (one, two, three))
    return one, two, three, np.empty_like(one), np.empty(one.shape, dtype=bool)


def _rgb_to_xyz(r, g, b):
    # sRGB inverse companding, then linear-RGB → XYZ
    rl, gl, bl = (_srgb_inverse_compand(c) for c in (r, g, b))
    x, y, z, t = (np.empty(np.shape(rl)) for _ in range(4))
    _linear_rgb_to_xyz_into(rl, gl, bl, x, y, z, t)
    return x, y, z


def _xyz_to_lab(x, y, z):
    return _xyz_to_lab_(*_work(x, y, z))


def _lab_to_lch(L, a, b):
    # hue is RADIANS (colorspace.pyx:332); C uses the same sqrt form as the
    # reference's ((a*a)+(b*b))**0.5
    return L, np.sqrt(a * a + b * b), np.arctan2(b, a)


def _lch_to_lab(L, C, H):
    return L, C * np.cos(H), C * np.sin(H)


def _lab_to_xyz(L, a, b):
    return _lab_to_xyz_(*_work(L, a, b))


def _xyz_to_rgb(x, y, z):
    x, y, z, t, m = _work(x, y, z)
    r, g, b = (np.empty(x.shape) for _ in range(3))
    _xyz_to_rgb_into(x, y, z, r, g, b, t, m)
    return r, g, b


def _xyz_to_luv(x, y, z):
    with np.errstate(divide="ignore", invalid="ignore"):
        denom = x + 15 * y + 3 * z
        uprime = (4 * x) / denom
        vprime = (9 * y) / denom
        yr = y / _YN
        L = np.where(yr <= _T0, _KAPPA * yr, 116 * np.power(yr, _THIRD) - 16)
        u = 13 * L * (uprime - _UPRIME_N)
        v = 13 * L * (vprime - _VPRIME_N)
    return L, u, v


def _luv_to_xyz(L, u, v):
    with np.errstate(divide="ignore", invalid="ignore"):
        uprime = u / (13 * L) + _UPRIME_N
        vprime = v / (13 * L) + _VPRIME_N
        y = np.where(L <= 8.0, L / _KAPPA, ((L + 16) / 116.0) ** 3)
        x = y * ((9 * uprime) / (4 * vprime))
        z = y * ((12 - 3 * uprime - 20 * vprime) / (4 * vprime))
    # L == 0 → exactly (0, 0, 0) (colorspace.pyx:460-464)
    zero = L == 0.0
    x = np.where(zero, 0.0, x)
    y = np.where(zero, 0.0, y)
    z = np.where(zero, 0.0, z)
    return x, y, z


# Routing table: every (src, dst) pair maps to a hop chain through the
# XYZ / LAB hubs, mirroring _convert (colorspace.pyx:137-231).
_ROUTES = {
    (ColorSpace.rgb, ColorSpace.xyz): (_rgb_to_xyz,),
    (ColorSpace.rgb, ColorSpace.lab): (_rgb_to_xyz, _xyz_to_lab),
    (ColorSpace.rgb, ColorSpace.lch): (_rgb_to_xyz, _xyz_to_lab, _lab_to_lch),
    (ColorSpace.rgb, ColorSpace.luv): (_rgb_to_xyz, _xyz_to_luv),
    (ColorSpace.xyz, ColorSpace.lab): (_xyz_to_lab,),
    (ColorSpace.xyz, ColorSpace.lch): (_xyz_to_lab, _lab_to_lch),
    (ColorSpace.xyz, ColorSpace.rgb): (_xyz_to_rgb,),
    (ColorSpace.xyz, ColorSpace.luv): (_xyz_to_luv,),
    (ColorSpace.lab, ColorSpace.xyz): (_lab_to_xyz,),
    (ColorSpace.lab, ColorSpace.lch): (_lab_to_lch,),
    (ColorSpace.lab, ColorSpace.rgb): (_lab_to_xyz, _xyz_to_rgb),
    (ColorSpace.lab, ColorSpace.luv): (_lab_to_xyz, _xyz_to_luv),
    (ColorSpace.lch, ColorSpace.lab): (_lch_to_lab,),
    (ColorSpace.lch, ColorSpace.xyz): (_lch_to_lab, _lab_to_xyz),
    (ColorSpace.lch, ColorSpace.rgb): (_lch_to_lab, _lab_to_xyz, _xyz_to_rgb),
    (ColorSpace.lch, ColorSpace.luv): (_lch_to_lab, _lab_to_xyz, _xyz_to_luv),
    (ColorSpace.luv, ColorSpace.lab): (_luv_to_xyz, _xyz_to_lab),
    (ColorSpace.luv, ColorSpace.xyz): (_luv_to_xyz,),
    (ColorSpace.luv, ColorSpace.rgb): (_luv_to_xyz, _xyz_to_rgb),
    (ColorSpace.luv, ColorSpace.lch): (_luv_to_xyz, _xyz_to_lab, _lab_to_lch),
}


def _normalize_space(value, which: str) -> ColorSpace:
    """Accept str / int / ColorSpace; ValueError otherwise (colorspace.pyx:44-69)."""
    if isinstance(value, str):
        try:
            return ColorSpace[value.lower()]
        except KeyError:
            raise ValueError(f"Invalid {which} colorspace: {value}")
    if isinstance(value, ColorSpace):
        return value
    if isinstance(value, int):
        try:
            return ColorSpace(value)
        except ValueError:
            raise ValueError(f"Invalid {which} colorspace: {value}")
    raise ValueError("Invalid colorspace")


def convert_channels(one, two, three, src: ColorSpace, dst: ColorSpace):
    """Convert three same-shaped arrays between colorspaces (vectorized core)."""
    if src == dst:
        return one, two, three
    chain = _ROUTES[(src, dst)]
    for hop in chain:
        one, two, three = hop(one, two, three)
    return one, two, three


def convert(one: float, two: float, three: float, src, dst):
    """Scalar conversion — API parity with the reference's ``convert``."""
    src = _normalize_space(src, "source")
    dst = _normalize_space(dst, "destination")
    a, b, c = convert_channels(
        np.float64(one), np.float64(two), np.float64(three), src, dst
    )
    return float(a), float(b), float(c)


def _check_arr(arr: np.ndarray) -> None:
    """Shape/dtype validation with the reference's error wording
    (colorspace.pyx buffer checks, pinned at tests/test_colorspace.py:140-170)."""
    if arr.ndim != 3:
        raise ValueError(
            f"Buffer has wrong number of dimensions (expected 3, got {arr.ndim})"
        )
    if arr.shape[0] != 3:
        raise ValueError("The 0th dimension must contain 3 bands")
    if arr.dtype != np.float64:
        raise ValueError("Buffer dtype mismatch, expected 'float64'")


def convert_arr(arr: np.ndarray, src, dst) -> np.ndarray:
    """Convert a (3, H, W) float64 array between colorspaces."""
    if not isinstance(src, ColorSpace) or not isinstance(dst, ColorSpace):
        # match the reference's `src not in ColorSpace` membership check
        try:
            src = ColorSpace(src) if not isinstance(src, ColorSpace) else src
            dst = ColorSpace(dst) if not isinstance(dst, ColorSpace) else dst
        except (ValueError, KeyError):
            raise ValueError("Invalid colorspace")
    _check_arr(arr)
    one, two, three = convert_channels(arr[0], arr[1], arr[2], src, dst)
    out = np.empty((3,) + arr.shape[1:], dtype=np.float64)
    out[0], out[1], out[2] = one, two, three
    return out


def saturate_rgb(arr: np.ndarray, satmult: float, out=None) -> np.ndarray:
    """RGB → LCH, scale chroma by ``satmult``, LCH → RGB — computed via
    the LAB shortcut: C = hypot(a, b) and H = atan2(b, a), so scaling C
    with H fixed is EXACTLY (a, b) → (satmult·a, satmult·b); the
    LAB→LCH→LAB legs cancel algebraically. This removes four
    transcendental passes (sqrt, atan2, cos, sin) per pixel versus the
    reference's literal per-pixel LCH loop (colorspace.pyx:103-134),
    while agreeing with it to float ulps (pinned in
    tests/test_colorspace.py).

    Companding each band, then :func:`saturate_rgb_from_linear`. The
    result goes to ``out`` (a new (3, H, W) float64 array when None);
    ``out`` may be ``arr`` itself.
    """
    _check_arr(arr)
    return saturate_rgb_from_linear(
        *(_srgb_inverse_compand(arr[i]) for i in range(3)), satmult, out=out
    )


def saturate_rgb_from_linear(rl, gl, bl, satmult: float, out=None) -> np.ndarray:
    """:func:`saturate_rgb` over already-inverse-companded linear channels:
    linear RGB → XYZ → LAB, (a, b) · satmult, LAB → XYZ → sRGB, clip.

    Split out so the quantized-input LUT path (operators/color.py) can fold
    the three companding ``pow(x, 2.4)`` passes into its per-band tables.
    One in-place pass over four scratch channels and a mask: the result is
    written to ``out`` (a new ``(3,) + rl.shape`` float64 array when None),
    which may alias ``rl, gl, bl`` — they are read in full before ``out``
    is written. Same op sequence, so the same bits, as the whole-array
    form in tests/twins.py."""
    shape = np.shape(rl)
    if out is None:
        out = np.empty((3,) + shape, dtype=np.float64)
    x, y, z, t = (np.empty(shape) for _ in range(4))
    m = np.empty(shape, dtype=bool)
    _linear_rgb_to_xyz_into(rl, gl, bl, x, y, z, t)
    L, a, b = _xyz_to_lab_(x, y, z, t, m)
    np.multiply(a, satmult, out=a)
    np.multiply(b, satmult, out=b)
    x, y, z = _lab_to_xyz_(L, a, b, t, m)
    _xyz_to_rgb_into(x, y, z, out[0], out[1], out[2], t, m)
    return out
