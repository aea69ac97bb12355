"""Write the in-repo GeoTIFF test fixtures: tests/fixtures/{rgb8,rgb16,rgba8}.tif.

The rasters have the shapes of rio-color's own test rasters: 438x500
pixels, 32x32 LZW tiles, predictor 1, chunky (pixel-interleaved),
classic little-endian TIFF. rgba8 carries an unassociated alpha band
(ExtraSamples=2) with one fully transparent block. Every file carries the
GeoTIFF/GDAL tags 33550, 33922, 34735, 34737 and 42112, so tag
preservation is checked on real payloads.

Pixel content is smooth and photo-like: products of low-frequency sines
drawn from a fixed seed. ``make_raster`` is also the recipe of the rasters
tests/test_tiff.py writes at test time, which add per-pixel noise.

The files are written by the engine's own encoder (``write_tiff``) and are
deterministic: running this script again reproduces them byte for byte
(tests/test_tiff.py::test_fixture_script_reproduces_fixtures checks it).

    python scripts/make_tiff_fixtures.py [OUT_DIR]   # default tests/fixtures
"""

from __future__ import annotations

import os
import struct
import sys

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from rio_color_spark.sources import tiff as T  # noqa: E402

WIDTH, HEIGHT = 438, 500
#: kind → (bands, dtype)
SHAPES = {"rgb8": (3, "uint8"), "rgba8": (4, "uint8"), "rgb16": (3, "uint16")}
#: kind → seed of the committed fixture
SEEDS = {"rgb8": 0, "rgb16": 1, "rgba8": 2}

CITATION = b"WGS 84 / Pseudo-Mercator|"
GDAL_METADATA = (
    b'<GDALMetadata>\n  <Item name="AREA_OR_POINT">Area</Item>\n</GDALMetadata>\n'
)


def _ascii(text: bytes) -> tuple[int, int, bytes]:
    payload = text + b"\0"
    return (2, len(payload), payload)


def _doubles(*vals: float) -> tuple[int, int, bytes]:
    return (12, len(vals), struct.pack(f"<{len(vals)}d", *vals))


def geo_tags() -> dict[int, tuple[int, int, bytes]]:
    """A north-up EPSG:3857 georeference with 30 m pixels."""
    keys = [
        1, 1, 0, 4,  # directory version, revision, minor, key count
        1024, 0, 1, 1,  # GTModelType = projected
        1025, 0, 1, 1,  # GTRasterType = PixelIsArea
        1026, 34737, len(CITATION), 0,  # GTCitation → GeoAsciiParams
        3072, 0, 1, 3857,  # ProjectedCSType = EPSG:3857
    ]
    return {
        33550: _doubles(30.0, 30.0, 0.0),  # ModelPixelScale
        33922: _doubles(0.0, 0.0, 0.0, -13692297.0, 4512000.0, 0.0),  # ModelTiepoint
        34735: (3, len(keys), struct.pack(f"<{len(keys)}H", *keys)),  # GeoKeyDirectory
        34737: _ascii(CITATION),  # GeoAsciiParams
        42112: _ascii(GDAL_METADATA),  # GDAL_METADATA
    }


def make_raster(kind: str, seed: int, noise: float = 0.0) -> np.ndarray:
    """A (bands, 500, 438) raster of smooth sines; ``noise`` > 0 adds
    independent uniform per-pixel noise of that amplitude to each color band."""
    bands, dtype = SHAPES[kind]
    hi = np.iinfo(dtype).max
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:HEIGHT, 0:WIDTH]
    arr = np.empty((bands, HEIGHT, WIDTH), dtype=dtype)
    for b in range(3):
        fx, fy = rng.uniform(0.002, 0.03, 2)
        level = 0.5 + 0.4 * np.sin(xx * fx + b) * np.cos(yy * fy)
        if noise:
            level = level + rng.uniform(-noise, noise, (HEIGHT, WIDTH))
        arr[b] = (np.clip(level, 0, 1) * hi).astype(dtype)
    if bands == 4:  # opaque, with one fully transparent block
        arr[3] = hi
        arr[3, 100:180, 50:300] = 0
    return arr


def profile(kind: str, geo: dict | None = None) -> T.TiffProfile:
    """The reference layout for ``kind``: 32x32 LZW tiles, predictor 1, chunky."""
    bands, dtype = SHAPES[kind]
    return T.TiffProfile(
        width=WIDTH, height=HEIGHT, count=bands, dtype=dtype,
        extrasamples=(2,) if bands == 4 else (), geo=geo or {},
    )


def main(out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for kind, seed in SEEDS.items():
        path = os.path.join(out_dir, f"{kind}.tif")
        T.write_tiff(path, make_raster(kind, seed), profile(kind, geo_tags()))
        print(f"{path}: {os.path.getsize(path)} bytes")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "tests", "fixtures"))
