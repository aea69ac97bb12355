"""Point-in-polygon: packed edge arrays + vectorized ray casting.

Net-new spatial layer (BASELINE.json north_star: "ray-casting over sorted
polygon edge lists broadcast as packed NumPy arrays").

Polygons are a small dimension table; they're packed once on the driver
into flat NumPy buffers (edges padded to the max edge count so the pair
test is a single fancy-indexed array expression) and broadcast to
executors. The even-odd ray-cast rule:

    crossing(e) = (y0 > py) != (y1 > py)
                  and px < (x1 - x0) * (py - y0) / (y1 - y0) + x0
    inside      = parity of crossings over the polygon's edges

Points exactly on an edge/vertex follow the rule's half-open semantics
(deterministic, matching the brute-force oracle in tests). Polygons must be
simple rings without antimeridian crossings (FIXTURES.md §2 scopes those
out).
"""

from __future__ import annotations

import numpy as np


class PackedPolygons:
    """Flat, broadcast-friendly edge-array representation of a polygon set."""

    __slots__ = ("poly_ids", "x0", "y0", "x1", "y1", "edge_mask", "bbox")

    def __init__(self, poly_ids, x0, y0, x1, y1, edge_mask, bbox):
        self.poly_ids = poly_ids  # list[str], index = poly_idx
        self.x0 = x0  # (P, K) float64, padded
        self.y0 = y0
        self.x1 = x1
        self.y1 = y1
        self.edge_mask = edge_mask  # (P, K) bool — True for real edges
        self.bbox = bbox  # (P, 4): lon_min, lat_min, lon_max, lat_max


def pack_polygons(polys: list[tuple[str, np.ndarray]]) -> PackedPolygons:
    """[(poly_id, ring (V, 2) lon/lat array — open or closed)] → packed form."""
    ids = []
    rings = []
    for pid, ring in polys:
        ring = np.asarray(ring, dtype=np.float64)
        if np.array_equal(ring[0], ring[-1]):
            ring = ring[:-1]  # drop explicit closure; edges wrap implicitly
        ids.append(pid)
        rings.append(ring)

    kmax = max(len(r) for r in rings)
    P = len(rings)
    x0 = np.zeros((P, kmax))
    y0 = np.zeros((P, kmax))
    x1 = np.zeros((P, kmax))
    y1 = np.zeros((P, kmax))
    mask = np.zeros((P, kmax), dtype=bool)
    bbox = np.zeros((P, 4))
    for p, ring in enumerate(rings):
        v = len(ring)
        nxt = np.roll(ring, -1, axis=0)
        x0[p, :v], y0[p, :v] = ring[:, 0], ring[:, 1]
        x1[p, :v], y1[p, :v] = nxt[:, 0], nxt[:, 1]
        mask[p, :v] = True
        bbox[p] = (ring[:, 0].min(), ring[:, 1].min(), ring[:, 0].max(), ring[:, 1].max())
    return PackedPolygons(ids, x0, y0, x1, y1, mask, bbox)


def pip_pairs(
    px: np.ndarray, py: np.ndarray, poly_idx: np.ndarray, packed: PackedPolygons
) -> np.ndarray:
    """Vectorized even-odd test for N (point, polygon) candidate pairs.

    Gathers each pair's padded edge rows — (N, K) arrays, one expression,
    no Python loop.
    """
    poly_idx = np.asarray(poly_idx, dtype=np.int64)
    x0 = packed.x0[poly_idx]
    y0 = packed.y0[poly_idx]
    x1 = packed.x1[poly_idx]
    y1 = packed.y1[poly_idx]
    mask = packed.edge_mask[poly_idx]

    px = np.asarray(px, dtype=np.float64)[:, None]
    py = np.asarray(py, dtype=np.float64)[:, None]

    straddles = (y0 > py) != (y1 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xcross = (x1 - x0) * (py - y0) / (y1 - y0) + x0
    crossings = straddles & (px < xcross) & mask
    return (crossings.sum(axis=1) & 1).astype(bool)


def pip_multi(
    px: np.ndarray, py: np.ndarray, packed: PackedPolygons
) -> list[list[str]]:
    """Per point, the ids of ALL polygons containing it (bbox-prefiltered).

    Same even-odd rule as :func:`pip_pairs` (the exact test IS pip_pairs),
    so a point's membership here equals its membership in the candidate
    (cover-join) path — only candidate generation differs: a per-polygon
    bbox mask instead of the coarse-tile equi-join. bbox ⊇ exact, so the
    result sets are identical.

    Cost is O(P) cheap vector masks per batch + exact ray casts on bbox
    survivors only. This is the in-UDF path for small broadcast polygon
    sets (dimension tables, 10s-1000s of rings); for very large P, group
    polygons by coarse tile first (operators/spatial_join.polygon_cover_rows)
    and loop only the tiles present in the batch.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    out: list[list[str]] = [[] for _ in range(px.shape[0])]
    for p, pid in enumerate(packed.poly_ids):
        lon0, lat0, lon1, lat1 = packed.bbox[p]
        cand = np.nonzero(
            (px >= lon0) & (px <= lon1) & (py >= lat0) & (py <= lat1)
        )[0]
        if cand.size == 0:
            continue
        inside = pip_pairs(
            px[cand], py[cand], np.full(cand.size, p, dtype=np.int64), packed
        )
        for i in cand[inside]:
            out[i].append(pid)
    return out
