"""NumPy-level oracle tests for tiles, cells, and PIP (FIXTURES.md §6)."""

import numpy as np
import pytest

from rio_color_spark.functions import cells as C
from rio_color_spark.functions import tiles as T
from rio_color_spark.functions.pip import pack_polygons, pip_pairs
from rio_color_spark.sources.polygons import make_polygons
from twins import cell_center_lonlat, tile_bounds

rng = np.random.default_rng(42)


# -- tiles --------------------------------------------------------------------


def test_tile_anchors():
    # origin: dead center at every zoom
    for z in (0, 1, 4, 12):
        x, y = T.tile_xy(np.array([0.0]), np.array([0.0]), z)
        assert (x[0], y[0]) == ((1 << z) // 2 if z else 0, (1 << z) // 2 if z else 0)
    # Berlin @ z12 — standard slippy anchor
    x, y = T.tile_xy(np.array([13.4050]), np.array([52.5200]), 12)
    assert (x[0], y[0]) == (2200, 1343)


def test_tile_lat_clamp_and_range():
    lon = rng.uniform(-180, 180, 1000)
    lat = rng.uniform(-90, 90, 1000)  # beyond Mercator limit on purpose
    for z in (0, 4, 12):
        x, y = T.tile_xy(lon, lat, z)
        n = 1 << z
        assert x.min() >= 0 and x.max() < n
        assert y.min() >= 0 and y.max() < n


def test_tile_bounds_roundtrip():
    lon = rng.uniform(-179, 179, 200)
    lat = rng.uniform(-84, 84, 200)
    z = 9
    x, y = T.tile_xy(lon, lat, z)
    for k in range(200):
        lon0, lat0, lon1, lat1 = tile_bounds(int(x[k]), int(y[k]), z)
        assert lon0 <= lon[k] <= lon1
        assert lat0 - 1e-9 <= lat[k] <= lat1 + 1e-9


def test_bbox_tile_range_is_exact_cover():
    z = 7
    lon0, lat0, lon1, lat1 = 10.0, 20.0, 34.0, 41.0
    x0, y0, x1, y1 = T.bbox_tile_range(lon0, lat0, lon1, lat1, z)
    # every sampled inner point's tile falls inside the range
    lons = rng.uniform(lon0, lon1, 500)
    lats = rng.uniform(lat0, lat1, 500)
    xs, ys = T.tile_xy(lons, lats, z)
    assert xs.min() >= x0 and xs.max() <= x1
    assert ys.min() >= y0 and ys.max() <= y1


def test_pack_tile_unique():
    z = 12
    lon = rng.uniform(-180, 180, 5000)
    lat = rng.uniform(-85, 85, 5000)
    x, y = T.tile_xy(lon, lat, z)
    packed = T.pack_tile(x, y, z)
    assert len(set(packed.tolist())) == len(set(zip(x.tolist(), y.tolist())))


# -- cells --------------------------------------------------------------------

LON = rng.uniform(-180, 180, 5000)
LAT = rng.uniform(-85, 85, 5000)


@pytest.mark.parametrize("level", [4, 12, 20])
def test_cell_center_roundtrip(level):
    c = C.encode_cell(LON, LAT, level)
    lon2, lat2 = cell_center_lonlat(c, level)
    assert np.array_equal(C.encode_cell(lon2, lat2, level), c)


@pytest.mark.parametrize("level", [4, 12, 20])
def test_cell_parent_is_shift(level):
    c = C.encode_cell(LON, LAT, level)
    cp = C.encode_cell(LON, LAT, level - 1)
    assert np.array_equal(C.parent(c, 1), cp)
    assert np.array_equal(C.parent(c, 3), C.encode_cell(LON, LAT, level - 3))


def test_cell_children_contain_parent_center():
    level = 10
    c = C.encode_cell(LON[:100], LAT[:100], level)
    ch = C.children(c)  # (100, 4)
    assert np.array_equal(C.parent(ch.ravel(), 1).reshape(-1, 4), np.repeat(c[:, None], 4, 1))


def test_cell_face_anchors():
    # face centers: lon/lat of the 6 cube axes
    anchors = [
        (0.0, 0.0, 0),    # +x
        (90.0, 0.0, 1),   # +y
        (0.0, 90.0, 2),   # +z (north pole)
        (180.0, 0.0, 3),  # -x
        (-90.0, 0.0, 4),  # -y
        (0.0, -90.0, 5),  # -z (south pole)
    ]
    for lon, lat, face in anchors:
        c = C.encode_cell(np.array([lon]), np.array([lat]), 8)
        f, i, j = C.decompose(c, 8)
        assert f[0] == face, (lon, lat, face, f[0])
        # axis point lands in one of the 4 center cells
        assert i[0] in (127, 128) and j[0] in (127, 128)


def test_neighbor_ring_symmetry_and_distinctness():
    level = 10
    c = np.unique(C.encode_cell(LON[:800], LAT[:800], level))
    ring = C.neighbor_ring(c, level)
    assert not np.any(ring == c[:, None])  # never includes self
    for k in range(len(c)):
        for nb in set(ring[k].tolist()):
            back = C.neighbor_ring(np.array([nb]), level)[0]
            assert c[k] in set(back.tolist())


def test_neighbor_ring_cross_face():
    # a point just inside face 0's +u edge (lon slightly under 45°)
    level = 8
    c = C.encode_cell(np.array([44.99]), np.array([0.0]), level)
    ring = C.neighbor_ring(c, level)[0]
    faces = {int(f) for f in C.decompose(ring, level)[0]}
    assert faces == {0, 1}  # ring spans onto the +y face


def test_morton_roundtrip():
    i = rng.integers(0, 1 << 26, 10000).astype(np.uint64)
    j = rng.integers(0, 1 << 26, 10000).astype(np.uint64)
    m = C.morton(i, j)
    i2, j2 = C.unmorton(m)
    assert np.array_equal(i, i2) and np.array_equal(j, j2)


# -- PIP ----------------------------------------------------------------------


def _oracle_pip(px, py, ring):
    """Independent classic scalar ray caster (the brute-force oracle)."""
    inside = False
    v = len(ring)
    for e in range(v):
        x0, y0 = ring[e]
        x1, y1 = ring[(e + 1) % v]
        if (y0 > py) != (y1 > py):
            if px < (x1 - x0) * (py - y0) / (y1 - y0) + x0:
                inside = not inside
    return inside


def test_pip_matches_oracle():
    polys = make_polygons(30)
    packed = pack_polygons(polys)
    # sample points around each polygon's bbox (inside, outside, near-edge)
    pxs, pys, idxs, expect = [], [], [], []
    for pidx, (_, ring) in enumerate(polys):
        lon0, lat0 = ring.min(axis=0) - 0.5
        lon1, lat1 = ring.max(axis=0) + 0.5
        px = rng.uniform(lon0, lon1, 200)
        py = rng.uniform(lat0, lat1, 200)
        for a, b in zip(px, py):
            pxs.append(a)
            pys.append(b)
            idxs.append(pidx)
            expect.append(_oracle_pip(a, b, ring))
    got = pip_pairs(np.array(pxs), np.array(pys), np.array(idxs), packed)
    assert np.array_equal(got, np.array(expect))
    assert 0.2 < np.mean(expect) < 0.8  # the sample exercises both classes


def test_pip_adversarial_points():
    # vertex and edge-midpoint probes on a square — deterministic half-open rule
    square = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [0.0, 4.0]])
    packed = pack_polygons([("sq", square)])
    pts = np.array(
        [
            (2.0, 2.0, True),    # center
            (5.0, 2.0, False),   # right of it
            (-1.0, 2.0, False),  # left outside (ray crosses 2 edges)
            (0.0, 2.0, True),    # on left edge: ray (x→+inf) crosses right edge only
            (4.0, 2.0, False),   # on right edge: strict < excludes
            (2.0, 0.0, True),    # on bottom edge: y0>py != y1>py straddle rule
            (2.0, 4.0, False),   # on top edge
        ]
    )
    got = pip_pairs(pts[:, 0], pts[:, 1], np.zeros(len(pts), dtype=int), packed)
    assert np.array_equal(got, pts[:, 2].astype(bool))
