"""Deterministic synthetic polygons table (FIXTURES.md §2).

Convex k-gons (k ∈ 3..8) on a seeded lon/lat grid with hash-jittered
centers/radii/rotations, plus one deliberately "hot" polygon covering a
large area to exercise skew salting. Pure function of the polygon index —
reproducible anywhere, no external data.
"""

from __future__ import annotations

import numpy as np

from rio_color_spark.functions.pip import PackedPolygons, pack_polygons
from rio_color_spark.sources.images import splitmix64


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash → float64 in [0, 1)."""
    return (h >> np.uint64(11)).astype(np.float64) / 2.0**53


def make_polygons(n_polys: int) -> list[tuple[str, np.ndarray]]:
    """Generate ``n_polys`` deterministic convex rings (lon/lat degrees).

    Polygon p is a regular k-gon (k = 3 + hash%6) centered at a
    low-discrepancy point, radius 0.5°..3.0°, rotated by a hashed angle.
    Polygon 0 is instead a 20°-radius octagon at (0, 20) — the hot-cell
    skew driver.
    """
    out = []
    idx = np.arange(n_polys, dtype=np.uint64)
    h1 = splitmix64(idx)
    h2 = splitmix64(idx + np.uint64(0x9E37))
    h3 = splitmix64(idx + np.uint64(0xC2B2))
    for p in range(n_polys):
        if p == 0:
            k, radius, clon, clat, rot = 8, 20.0, 0.0, 20.0, 0.0
        else:
            k = 3 + int(h1[p] % np.uint64(6))
            radius = 0.5 + 2.5 * _unit(h2[[p]])[0]
            clon = _unit(h1[[p]])[0] * 340.0 - 170.0
            clat = _unit(h2[[p]])[0] * 140.0 - 70.0
            rot = _unit(h3[[p]])[0] * 2 * np.pi
        ang = rot + np.arange(k) * (2 * np.pi / k)
        ring = np.stack(
            [clon + radius * np.cos(ang), clat + radius * np.sin(ang)], axis=1
        )
        out.append((f"poly{p:05d}", ring))
    return out


def packed_polygons(n_polys: int) -> PackedPolygons:
    return pack_polygons(make_polygons(n_polys))
