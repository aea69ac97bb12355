"""S2-style cube-face quadtree cell index — fully vectorized NumPy.

Net-new spatial layer (BASELINE.json north_rule permits "H3/S2"; H3's
icosahedral math is disproportionate to re-derive, so the engine uses an
S2-style index: cube-face gnomonic projection + Morton-interleaved quadtree,
which makes parent/child/neighbor ops pure bit math — SURVEY.md §7).

This is a from-scratch design, not Google S2: no Hilbert curve, no quadratic
uv-warp. Layout of a level-L cell id (L ≤ 26):

    cell_id = (face << 2L) | morton(i, j)        -- face ∈ [0, 6)

Face frames (normal n, u-axis a, v-axis b; point p = n + u·a + v·b,
so u = (p·a)/(p·n), v = (p·b)/(p·n)):

    face 0 (+x): p = ( 1,  u,  v)
    face 1 (+y): p = ( v,  1,  u)
    face 2 (+z): p = ( u,  v,  1)
    face 3 (-x): p = (-1,  v,  u)
    face 4 (-y): p = ( u, -1,  v)
    face 5 (-z): p = ( v,  u, -1)

Properties the engine relies on:

- **hierarchy**: ``parent(c, k) == c >> 2k`` (face bits shift with it)
- **locality**: Morton order keeps spatially-near cells numerically near,
  so range-partitioning on cell_id clusters neighborhoods
- **neighbors**: ±1 steps in (i, j); steps off a face edge re-project
  through the unit sphere and land on the correct adjacent face

Everything is whole-array NumPy — encoding a 10⁶-point batch is ~20 array
ops — exposed to Spark through Arrow-vectorized pandas UDFs
(operators/spatial.py).
"""

from __future__ import annotations

import numpy as np

DEFAULT_LEVEL = 12

_U64 = np.uint64


def _spread_bits2(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between bits of a ≤26-bit int (Morton spreading)."""
    v = v.astype(_U64)
    v = (v | (v << _U64(16))) & _U64(0x0000FFFF0000FFFF)
    v = (v | (v << _U64(8))) & _U64(0x00FF00FF00FF00FF)
    v = (v | (v << _U64(4))) & _U64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << _U64(2))) & _U64(0x3333333333333333)
    v = (v | (v << _U64(1))) & _U64(0x5555555555555555)
    return v


def _compact_bits2(v: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_spread_bits2`."""
    v = v.astype(_U64) & _U64(0x5555555555555555)
    v = (v | (v >> _U64(1))) & _U64(0x3333333333333333)
    v = (v | (v >> _U64(2))) & _U64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> _U64(4))) & _U64(0x00FF00FF00FF00FF)
    v = (v | (v >> _U64(8))) & _U64(0x0000FFFF0000FFFF)
    v = (v | (v >> _U64(16))) & _U64(0x00000000FFFFFFFF)
    return v


def morton(i: np.ndarray, j: np.ndarray) -> np.ndarray:
    return _spread_bits2(i) | (_spread_bits2(j) << _U64(1))


def unmorton(m: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    return _compact_bits2(m), _compact_bits2(np.asarray(m, dtype=_U64) >> _U64(1))


def lonlat_to_xyz(lon, lat):
    lon = np.radians(np.asarray(lon, dtype=np.float64))
    lat = np.radians(np.asarray(lat, dtype=np.float64))
    cl = np.cos(lat)
    return cl * np.cos(lon), cl * np.sin(lon), np.sin(lat)


def _xyz_to_face_uv(x, y, z):
    """3D point → (face, u, v) per the frame table in the module docstring."""
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    face = np.where(
        (ax >= ay) & (ax >= az),
        np.where(x >= 0, 0, 3),
        np.where(ay >= az, np.where(y >= 0, 1, 4), np.where(z >= 0, 2, 5)),
    ).astype(np.int64)

    with np.errstate(divide="ignore", invalid="ignore"):
        u = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [y / x, z / y, x / z, z / -x, x / -y],
            default=y / -z,
        )
        v = np.select(
            [face == 0, face == 1, face == 2, face == 3, face == 4],
            [z / x, x / y, y / z, y / -x, z / -y],
            default=x / -z,
        )
    return face, u, v


def _face_uv_to_xyz(face, u, v):
    """(face, u, v) → 3D point (not normalized); exact inverse of the above."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [one, v, u, -one, u],
        default=v,
    )
    y = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [u, one, v, v, -one],
        default=u,
    )
    z = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [v, u, one, u, v],
        default=-one,
    )
    return x, y, z


def _uv_to_ij(u, v, level: int):
    n = 1 << level
    i = np.clip(np.floor((u + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor((v + 1.0) / 2.0 * n), 0, n - 1).astype(np.int64)
    return i, j


def encode_cell(lon, lat, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """Vectorized lon/lat → int64 cell id at ``level``."""
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = _xyz_to_face_uv(x, y, z)
    i, j = _uv_to_ij(u, v, level)
    return _assemble(face, i, j, level)


def _assemble(face, i, j, level: int) -> np.ndarray:
    m = morton(i.astype(_U64), j.astype(_U64))
    return ((face.astype(_U64) << _U64(2 * level)) | m).view(np.int64)


def decompose(cell, level: int):
    """cell id → (face, i, j)."""
    c = np.asarray(cell, dtype=np.int64).view(_U64)
    face = (c >> _U64(2 * level)).astype(np.int64)
    m = c & ((_U64(1) << _U64(2 * level)) - _U64(1))
    i, j = unmorton(m)
    return face, i.astype(np.int64), j.astype(np.int64)


def parent(cell, k: int = 1) -> np.ndarray:
    """Parent k levels up — pure shift (face bits travel with it)."""
    return (np.asarray(cell, dtype=np.int64).view(_U64) >> _U64(2 * k)).view(np.int64)


def children(cell) -> np.ndarray:
    """Four child ids, shape (..., 4)."""
    c = np.asarray(cell, dtype=np.int64).view(_U64)
    base = c << _U64(2)
    return np.stack([ (base | _U64(q)).view(np.int64) for q in range(4)], axis=-1)


_RING_STEPS = [(-1, -1), (-1, 0), (-1, 1), (0, -1), (0, 1), (1, -1), (1, 0), (1, 1)]


def neighbor_ring(cell, level: int = DEFAULT_LEVEL) -> np.ndarray:
    """The 8-neighborhood of each cell, shape (..., 8).

    In-face steps are pure index math; steps off a face edge re-project the
    stepped (u, v) through the sphere onto the adjacent face. Duplicates can
    occur at cube corners (3-neighbor corners) — callers dedupe.
    """
    cell = np.asarray(cell, dtype=np.int64)
    face, i, j = decompose(cell, level)
    n = 1 << level
    out = np.empty(cell.shape + (8,), dtype=np.int64)

    for idx, (di, dj) in enumerate(_RING_STEPS):
        ni = i + di
        nj = j + dj
        inside = (ni >= 0) & (ni < n) & (nj >= 0) & (nj < n)
        res = np.where(inside, _assemble(face, ni % n, nj % n, level), 0)
        if not np.all(inside):
            # off-edge: step in uv space (cell centers just beyond the face),
            # re-project through the sphere, land on the adjacent face
            u = (ni.astype(np.float64) + 0.5) / n * 2.0 - 1.0
            v = (nj.astype(np.float64) + 0.5) / n * 2.0 - 1.0
            x, y, z = _face_uv_to_xyz(face, u, v)
            norm = np.sqrt(x * x + y * y + z * z)
            nf, nu, nv = _xyz_to_face_uv(x / norm, y / norm, z / norm)
            ci, cj = _uv_to_ij(nu, nv, level)
            res = np.where(inside, res, _assemble(nf, ci, cj, level))
        out[..., idx] = res
    return out
