"""Deterministic synthetic images table (FIXTURES.md §1).

Schema is fixed by BASELINE.json's ``input_hint``:

    image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
    caption:string, phash:int64

Every column is a pure function of the row index ``n`` — generation is
distributed (``spark.range(n)`` → ``mapInPandas``) and the result is
identical under any partitioning, which is what makes the `local[8]` vs
`local[32]` set-equality runs meaningful.

``phash`` doubles as the deterministic geo seed (FIXTURES.md §1):

    lon = ((phash >> 32) & 0xFFFFFFFF) / 2**32 * 360 - 180
    lat = ( phash        & 0xFFFFFFFF) / 2**32 * 170 -  85

Rows 0 and 1 embed the reference's unit-test fixtures (3×2×2 uint8 and the
RGBA variant — /root/reference/tests/test_operations.py:15-45) so scalar
golden checks apply to real table rows.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from rio_color_spark.sources import codec

_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long"
)

#: reference unit fixture (tests/test_operations.py:15-30): values ×10
GOLDEN_RGB = (np.array(
    [[[1, 2], [3, 4]], [[5, 6], [7, 8]], [[9, 10], [11, 12]]]
) * 10).astype(np.uint8)

#: RGBA variant (tests/test_operations.py:33-45): alpha 25.5→trunc 25→×10=250
GOLDEN_RGBA = np.concatenate(
    [GOLDEN_RGB, (np.array([[[0, 0], [25.5, 25.5]]]).astype(np.uint8) * 10)]
).astype(np.uint8)

#: odd shapes sprinkled in to catch shape bugs (FIXTURES.md §1)
_ODD_SHAPES = ((2, 2), (1, 1), (33, 17), (17, 33), (5, 64))

_WORDS = (
    "terrain ridge basin delta mesa canyon fjord atoll tundra steppe "
    "harbor marsh dune crater plateau reef lagoon butte arroyo moraine"
).split()


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized SplitMix64 — the engine's one deterministic hash."""
    z = (x.astype(np.uint64) + np.uint64(0x9E3779B97F4A7C15)) & _MASK
    z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & _MASK
    z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & _MASK
    return z ^ (z >> np.uint64(31))


def phash_for(n: np.ndarray) -> np.ndarray:
    """int64 phash column for row indices ``n``."""
    return splitmix64(np.asarray(n, dtype=np.uint64)).view(np.int64)


def lonlat_from_phash(phash: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Decode the deterministic (lon, lat) from phash halves (Mercator-safe)."""
    u = np.asarray(phash, dtype=np.int64).view(np.uint64)
    hi = ((u >> np.uint64(32)) & np.uint64(0xFFFFFFFF)).astype(np.float64)
    lo = (u & np.uint64(0xFFFFFFFF)).astype(np.float64)
    lon = hi / 2.0**32 * 360.0 - 180.0
    lat = lo / 2.0**32 * 170.0 - 85.0
    return lon, lat


def _shape_fmt_for(n: int) -> tuple[int, int, str]:
    """(h, w, fmt) for row n — deterministic size/dtype/band mix."""
    if n == 0:
        return 2, 2, "npy8"
    if n == 1:
        return 2, 2, "npy8a"
    if n % 97 == 2:
        h, w = _ODD_SHAPES[(n // 97) % len(_ODD_SHAPES)]
    else:
        h, w = 32, 32
    if n % 7 == 3:
        fmt = "npy8a"
    elif n % 5 == 4:
        fmt = "npy16"
    else:
        fmt = "npy8"
    return h, w, fmt


def _pixels_for(n: int, phash: int, h: int, w: int, fmt: str) -> bytes:
    """Deterministic pixel payload: counter-based SplitMix64 over pixel index."""
    if n == 0:
        return codec.encode(GOLDEN_RGB, "npy8")
    if n == 1:
        return codec.encode(GOLDEN_RGBA, "npy8a")
    info = codec.format_info(fmt)
    count = info.bands * h * w
    base = np.uint64(phash if phash >= 0 else phash + 2**64)
    stream = splitmix64(base + np.arange(count, dtype=np.uint64))
    if info.dtype.itemsize == 1:
        px = (stream & np.uint64(0xFF)).astype(np.uint8)
    else:
        px = (stream & np.uint64(0xFFFF)).astype(np.uint16)
    return codec.encode(px.reshape(info.bands, h, w), fmt)


def _caption_for(n: int, phash: int) -> str:
    u = phash & 0xFFFFFFFF
    words = " ".join(_WORDS[(u >> (4 * k)) % len(_WORDS)] for k in range(4))
    return f"caption for img{n:08d} :: {words}"


def generate_pandas(indices: np.ndarray) -> pd.DataFrame:
    """Generate image rows for explicit indices (shared by Spark + tests).

    Payloads are produced group-vectorized: all rows sharing (h, w, fmt)
    get their pixel streams from ONE SplitMix64 call over a (rows × pixels)
    index grid — the per-row result is identical to calling
    :func:`_pixels_for` row by row (the golden rows 0/1 stay special-cased).
    """
    idx = np.asarray(indices, dtype=np.int64)
    ph = phash_for(idx)
    shapes = [_shape_fmt_for(int(n)) for n in idx]

    payloads: dict[int, bytes] = {}
    by_shape: dict[tuple, list[int]] = {}
    for k, n in enumerate(idx.tolist()):
        if n <= 1:
            h, w, fmt = shapes[k]
            payloads[k] = _pixels_for(n, int(ph[k]), h, w, fmt)
        else:
            by_shape.setdefault(shapes[k], []).append(k)

    for (h, w, fmt), ks in by_shape.items():
        info = codec.format_info(fmt)
        count = info.bands * h * w
        base = ph[ks].view(np.uint64)[:, None]
        stream = splitmix64(base + np.arange(count, dtype=np.uint64)[None, :])
        if info.dtype.itemsize == 1:
            px = (stream & np.uint64(0xFF)).astype(np.uint8)
        else:
            px = (stream & np.uint64(0xFFFF)).astype("<u2")
        for row, k in enumerate(ks):
            payloads[k] = px[row].tobytes()

    rows = []
    for k, (n, p) in enumerate(zip(idx.tolist(), ph.tolist())):
        h, w, fmt = shapes[k]
        rows.append(
            (f"img{n:08d}", payloads[k], w, h, fmt, _caption_for(n, p), p)
        )
    return pd.DataFrame(
        rows, columns=["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]
    )


def images_df(spark, n_rows: int, partitions: int | None = None):
    """Distributed deterministic images table as a DataFrame."""
    if partitions is None:
        partitions = max(1, min(256, n_rows // 2048 or 1))

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield generate_pandas(pdf["id"].to_numpy())

    return (
        spark.range(0, n_rows, numPartitions=partitions)
        .mapInPandas(gen, schema=IMAGES_SCHEMA)
    )


#: writer options for tables whose ``bytes`` column holds pixel payloads
#: (the synthetic images table, every pipeline chunk). lz4, not the
#: session's zstd: the payloads are incompressible (100k rows on tmpfs:
#: zstd 7.3 s / 375 MB vs lz4 3.0 s / 377 MB). No dictionary for ``bytes``
#: only: unique payloads make it hash every value, then fall back to plain.
#: Pipeline chunks are written by their tasks with the same settings as
#: pyarrow arguments (:func:`payload_writer_options`). pyarrow's ``lz4``
#: writes the LZ4_RAW codec, Spark's writes Hadoop-framed LZ4; Spark 4
#: reads both.
PAYLOAD_WRITE_OPTIONS = {"compression": "lz4", "parquet.enable.dictionary#bytes": "false"}


def payload_writer_options(schema) -> dict:
    """:data:`PAYLOAD_WRITE_OPTIONS` as ``pyarrow.parquet.ParquetWriter``
    arguments for the ``pyarrow.Schema`` ``schema``: lz4, and dictionary
    encoding on every leaf column but ``bytes`` (pyarrow names a list's
    leaf ``<name>.list.element``)."""
    import pyarrow as pa

    leaves = [
        f"{f.name}.list.element" if pa.types.is_list(f.type) else f.name
        for f in schema
        if f.name != "bytes"
    ]
    return {"compression": "lz4", "use_dictionary": leaves}


def write_images(spark, n_rows: int, path: str, partitions: int | None = None):
    """Materialize the synthetic table to parquet (bench input)."""
    images_df(spark, n_rows, partitions).write.mode("overwrite").options(
        **PAYLOAD_WRITE_OPTIONS
    ).parquet(path)


# -- multi-frame clips (operators/media.sample_frames input) -------------------


def clip_spec_for(n: int) -> tuple[int, int, int, str]:
    """(n_frames, h, w, fmt) for clip row n — deterministic mix of real
    ``npyseq8`` multi-frame clips and still rows (1-frame passthrough)."""
    if n % 4 == 3:
        return 1, 8, 8, "npy8"  # still row: sample_frames passes it through
    n_frames = 1 + (n % 6)
    h, w = (8, 8) if n % 2 == 0 else (6, 10)
    return n_frames, h, w, "npyseq8"


def generate_clips_pandas(indices: np.ndarray) -> pd.DataFrame:
    """Deterministic clips table: every frame's pixels come from one
    SplitMix64 stream seeded by the clip's phash (frame f occupies the
    stream's f-th frame_size slice, so frame extraction is checkable by
    independent slicing arithmetic)."""
    rows = []
    for n in np.asarray(indices, dtype=np.int64).tolist():
        n_frames, h, w, fmt = clip_spec_for(n)
        ph = int(phash_for(np.array([n]))[0])
        base = np.uint64(ph if ph >= 0 else ph + 2**64)
        count = n_frames * 3 * h * w
        stream = splitmix64(base + np.arange(count, dtype=np.uint64))
        payload = (stream & np.uint64(0xFF)).astype(np.uint8).tobytes()
        rows.append((f"clip{n:06d}", payload, w, h, fmt))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "w", "h", "fmt"])


CLIPS_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string"


def clips_df(spark, n_rows: int, partitions: int | None = None):
    """Distributed deterministic clips table as a DataFrame."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield generate_clips_pandas(pdf["id"].to_numpy())

    return spark.range(0, n_rows, numPartitions=partitions or 8).mapInPandas(
        gen, schema=CLIPS_SCHEMA
    )
