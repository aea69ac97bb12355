"""Pure-Python (Geo)TIFF codec — the engine's bridge to the reference's
native user surface (``.tif`` in, ``.tif`` out; reference
rio_color/scripts/cli.py:81-121 reads/writes GeoTIFF via rasterio).

This container has no rasterio/GDAL/Pillow, so the bridge carries its own
minimal TIFF implementation covering exactly the profile space the
reference's own test rasters use (tests/rgb8.tif, rgb16.tif, rgba8.tif:
little-endian classic TIFF, 32×32 tiles, LZW, chunky planar, uint8/uint16,
GeoTIFF tags) plus the common neighbors:

- container: classic TIFF (version 42, 32-bit offsets) AND BigTIFF
  (version 43, 64-bit offsets — required past 4 GiB)
- compression: none (1), LZW (5, with TIFF early-change), Deflate
  (8/32946), baseline JPEG (7, via sources/jpeg.py)
- layout: tiled or stripped; chunky (PlanarConfiguration=1) or planar
  (PlanarConfiguration=2, plane-major chunks; with JPEG each plane chunk
  is a standalone 1-component grayscale stream, libtiff's SEPARATE shape)
- samples: uint8 / uint16, 1-4 bands, alpha via ExtraSamples
- predictor: 1 (none) and 2 (horizontal differencing)
- GeoTIFF/GDAL tags preserved byte-for-byte as opaque (type, payload)
  pairs: ModelPixelScale, ModelTiepoint, ModelTransformation, GeoKeys,
  GeoDoubleParams, GeoAsciiParams, GDAL metadata + nodata — the analogue
  of rasterio profile passthrough (reference cli.py:102 ``src.profile``).

Structure reads go through a ``fetch(offset, size)`` callable, so the IFD
and tag payloads may live ANYWHERE in the file (libtiff commonly writes
them at the END): callers parsing from a partial header window get an
explicit error or a transparent range re-read instead of silently
truncated tag payloads.

Scale note: the per-chunk byte ranges exposed by :func:`read_ifd` are what
the Spark bridge parallelizes — tasks read and decode disjoint tile ranges
(sources/tiff_bridge.py), so a large GeoTIFF ingests as a distributed scan
without the driver touching pixel data. On the write side
:class:`TiffChunkWriter` streams pre-compressed payloads into the
container in ANY order and writes the IFD at the tail, so the single
assembling writer holds O(one chunk) in memory regardless of raster size.
"""

from __future__ import annotations

import os
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

# -- tag ids -----------------------------------------------------------------
TAG_WIDTH = 256
TAG_HEIGHT = 257
TAG_BITS = 258
TAG_COMPRESSION = 259
TAG_PHOTOMETRIC = 262
TAG_STRIP_OFFSETS = 273
TAG_SPP = 277
TAG_ROWS_PER_STRIP = 278
TAG_STRIP_COUNTS = 279
TAG_PLANAR = 284
TAG_PREDICTOR = 317
TAG_TILE_W = 322
TAG_TILE_H = 323
TAG_TILE_OFFSETS = 324
TAG_TILE_COUNTS = 325
TAG_EXTRASAMPLES = 338
TAG_SAMPLE_FORMAT = 339
TAG_JPEG_TABLES = 347

#: opaque side-channel tags preserved verbatim (GeoTIFF + GDAL)
GEO_TAGS = (33550, 33922, 34264, 34735, 34736, 34737, 42112, 42113)

COMPRESSION_NONE = 1
COMPRESSION_LZW = 5
COMPRESSION_JPEG = 7
COMPRESSION_DEFLATE = 8
COMPRESSION_DEFLATE_OLD = 32946

#: --co compress=NAME → tag value
COMPRESS_NAMES = {
    "none": COMPRESSION_NONE,
    "lzw": COMPRESSION_LZW,
    "deflate": COMPRESSION_DEFLATE,
    "jpeg": COMPRESSION_JPEG,
}

_TYPE_SIZES = {
    1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
    11: 4, 12: 8, 13: 4, 16: 8, 17: 8, 18: 8,
}


# -- LZW (TIFF flavor: MSB-first bit order, early change) --------------------

_CLEAR, _EOI = 256, 257


def lzw_decode(data: bytes) -> bytes:
    """Decode a TIFF LZW code stream (TIFF 6.0 §13: 9→12 bit codes,
    MSB-first packing, code width increments one code EARLY)."""
    out = bytearray()
    nbits = 9
    bitpos = 0
    nbytes = len(data)
    table: list[bytes] = []
    prev = b""
    while True:
        byte0 = bitpos >> 3
        if byte0 >= nbytes:
            break
        window = int.from_bytes(data[byte0 : byte0 + 4].ljust(4, b"\0"), "big")
        code = (window >> (32 - nbits - (bitpos & 7))) & ((1 << nbits) - 1)
        bitpos += nbits
        if code == _EOI:
            break
        if code == _CLEAR:
            table = [bytes([i]) for i in range(256)] + [b"", b""]
            nbits = 9
            prev = b""
            continue
        if not table:
            raise ValueError("LZW stream does not start with a Clear code")
        if prev:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise ValueError(f"corrupt LZW stream: code {code} beyond table")
            table.append(prev + entry[:1])
        else:
            entry = table[code]
        out += entry
        prev = entry
        # early change: widen as soon as the NEXT table add would need it
        if len(table) == (1 << nbits) - 1 and nbits < 12:
            nbits += 1
    return bytes(out)


class _BitWriter:
    __slots__ = ("buf", "acc", "nacc")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nacc = 0

    def put(self, code: int, nbits: int) -> None:
        self.acc = (self.acc << nbits) | code
        self.nacc += nbits
        while self.nacc >= 8:
            self.nacc -= 8
            self.buf.append((self.acc >> self.nacc) & 0xFF)
        self.acc &= (1 << self.nacc) - 1

    def flush(self) -> bytes:
        if self.nacc:
            self.buf.append((self.acc << (8 - self.nacc)) & 0xFF)
            self.acc = self.nacc = 0
        return bytes(self.buf)


def lzw_encode(data: bytes) -> bytes:
    """Encode a TIFF LZW code stream (early-change; Clear at table-full,
    matching the decoder above and TIFF 6.0 §13's 4094 reset point)."""
    w = _BitWriter()
    nbits = 9
    w.put(_CLEAR, nbits)
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    run = b""
    for i in range(len(data)):
        c = data[i : i + 1]
        rc = run + c
        if rc in table:
            run = rc
            continue
        w.put(table[run], nbits)
        table[rc] = next_code
        next_code += 1
        # widen so the decoder (whose table lags this one by exactly one
        # entry — it reconstructs entry k only upon reading code k+1) sees
        # its early-change condition len==2^nbits-1 at the same stream
        # position: encoder counter 2^nbits ⇔ decoder length 2^nbits - 1.
        # Timing validated against libtiff-written tiles in tests.
        if next_code == (1 << nbits) and nbits < 12:
            nbits += 1
        if next_code == 4094:
            w.put(_CLEAR, nbits)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            nbits = 9
        run = c
    if run:
        w.put(table[run], nbits)
        # the decoder appends a table entry after EVERY data code —
        # including this final one — and may early-change widen before
        # reading EOI; mirror that here or EOI is written one bit too
        # narrow whenever the final code lands exactly on a width
        # boundary (libtiff's LZWPostEncode increments free_ent for the
        # same reason)
        next_code += 1
        if next_code == (1 << nbits) and nbits < 12:
            nbits += 1
    w.put(_EOI, nbits)
    return w.flush()


# -- profile -----------------------------------------------------------------


@dataclass
class TiffProfile:
    """Everything needed to re-create a raster container losslessly —
    the analogue of rasterio's ``src.profile`` + ``src.colorinterp``."""

    width: int
    height: int
    count: int
    dtype: str  # 'uint8' | 'uint16'
    compression: int = COMPRESSION_LZW
    predictor: int = 1
    photometric: int = 2
    extrasamples: tuple[int, ...] = ()
    tiled: bool = True
    tile_width: int = 32
    tile_height: int = 32
    rows_per_strip: int = 0
    #: opaque preserved tags: {tag: (type, count, payload bytes)}
    geo: dict[int, tuple[int, int, bytes]] = field(default_factory=dict)
    #: BigTIFF (version 43, 64-bit offsets) — required for >4 GiB files
    bigtiff: bool = False
    #: JPEG quality for compress=jpeg exports (GDAL JPEG_QUALITY analogue;
    #: default chosen so real raster content clears the PSNR≥40dB gate)
    jpeg_quality: int = 95
    #: PlanarConfiguration: 1 = chunky (pixel-interleaved), 2 = planar
    #: (band-separate — each tile/strip holds ONE band's samples)
    planar: int = 1

    @property
    def np_dtype(self) -> np.dtype:
        return np.dtype("<u2") if self.dtype == "uint16" else np.dtype("uint8")

    def colorinterp(self) -> tuple[str, ...]:
        """Band interpretation tuple (reference tests/test_cli.py:199-219
        asserts this survives a color run)."""
        if self.photometric == 2:
            base = ["red", "green", "blue"]
        elif self.photometric in (0, 1):
            base = ["gray"]
        else:
            base = [f"photometric_{self.photometric}"] * min(self.count, 1)
        extras = ["alpha" if e in (1, 2) else "undefined" for e in self.extrasamples]
        out = (base + extras + ["undefined"] * self.count)[: self.count]
        return tuple(out)


@dataclass
class ChunkRef:
    """One decodable unit (tile or strip) as a byte range — the Spark
    bridge's unit of parallelism."""

    index: int
    row0: int  # pixel row of chunk origin
    col0: int
    width: int  # valid (unpadded) pixels
    height: int
    stored_width: int  # padded storage width (tiles pad to tile_width)
    stored_height: int
    offset: int
    nbytes: int
    #: band index for planar (PlanarConfiguration=2) chunks; -1 = chunky
    #: (the chunk carries ALL bands pixel-interleaved)
    plane: int = -1


# -- reader ------------------------------------------------------------------


def _bytes_fetch(data: bytes):
    """fetch(off, size) over an in-memory buffer; loudly rejects reads past
    the end instead of returning a silently truncated slice (the old
    behavior corrupted tag payloads parsed from a partial header window)."""

    def fetch(off: int, size: int) -> bytes:
        if off < 0 or off + size > len(data):
            raise ValueError(
                f"TIFF structure at bytes [{off}, {off + size}) lies beyond "
                f"the {len(data)}-byte buffer (IFD or tag payload outside "
                f"the header window — pass a file-backed fetch)"
            )
        return bytes(data[off : off + size])

    return fetch


def file_fetch(f, prefix: bytes):
    """fetch(off, size) over an open binary file, served from an eager
    ``prefix`` cache when possible (GDAL writes header-first; plain
    libtiff writes the IFD at the tail — both work here)."""

    def fetch(off: int, size: int) -> bytes:
        if 0 <= off and off + size <= len(prefix):
            return prefix[off : off + size]
        f.seek(off)
        b = f.read(size)
        if len(b) != size:
            raise ValueError(
                f"short read: wanted [{off}, {off + size}) but file ended "
                f"after {off + len(b)} bytes (truncated TIFF?)"
            )
        return b

    return fetch


def _decode_values(bo: str, typ: int, cnt: int, payload: bytes):
    if typ == 3:
        return list(struct.unpack(bo + "H" * cnt, payload))
    if typ in (4, 13):
        return list(struct.unpack(bo + "I" * cnt, payload))
    if typ in (16, 17, 18):
        return list(struct.unpack(bo + ("Q" if typ == 16 or typ == 18 else "q") * cnt, payload))
    if typ == 12:
        return list(struct.unpack(bo + "d" * cnt, payload))
    return payload  # byte-ish types (1/2/6/7) stay raw


def read_ifd_fetch(fetch) -> tuple[TiffProfile, list[ChunkRef]]:
    """Parse the first IFD through a ``fetch(offset, size)`` callable →
    (profile, chunk byte-ranges). Handles classic TIFF (version 42) and
    BigTIFF (version 43). Only header + tag structures are fetched; pixel
    bytes are NOT read — on a shared filesystem the driver parses the
    structure and ships ChunkRefs to executors.
    """
    head = fetch(0, 8)
    if head[:2] not in (b"II", b"MM"):
        raise ValueError("not a TIFF file")
    bo = "<" if head[:2] == b"II" else ">"
    magic = struct.unpack(bo + "H", head[2:4])[0]
    if magic == 42:
        bigtiff = False
        ifd_off = struct.unpack(bo + "I", head[4:8])[0]
    elif magic == 43:
        bigtiff = True
        bh = fetch(4, 12)
        offsize, reserved = struct.unpack(bo + "HH", bh[:4])
        if offsize != 8 or reserved != 0:
            raise ValueError(f"bad BigTIFF header (offset size {offsize})")
        ifd_off = struct.unpack(bo + "Q", bh[4:12])[0]
    else:
        raise ValueError("bad TIFF magic")

    if bigtiff:
        n = struct.unpack(bo + "Q", fetch(ifd_off, 8))[0]
        ebase, esize, vbytes = ifd_off + 8, 20, 8
        cnt_fmt = off_fmt = "Q"
    else:
        n = struct.unpack(bo + "H", fetch(ifd_off, 2))[0]
        ebase, esize, vbytes = ifd_off + 2, 12, 4
        cnt_fmt = off_fmt = "I"
    table = fetch(ebase, n * esize)

    #: {tag: (type, count, raw payload bytes)}
    tags: dict[int, tuple[int, int, bytes]] = {}
    for i in range(n):
        e = table[i * esize : (i + 1) * esize]
        tag, typ = struct.unpack(bo + "HH", e[:4])
        cnt = struct.unpack(bo + cnt_fmt, e[4 : esize - vbytes])[0]
        raw = e[esize - vbytes :]
        if typ not in _TYPE_SIZES:
            continue  # unknown type: skip, per TIFF 6.0 readers-should-skip
        size = _TYPE_SIZES[typ] * cnt
        if size > vbytes:
            off = struct.unpack(bo + off_fmt, raw)[0]
            payload = fetch(off, size)
        else:
            payload = raw[:size]
        tags[tag] = (typ, cnt, payload)

    def vals(tag: int):
        typ, cnt, payload = tags[tag]
        return _decode_values(bo, typ, cnt, payload)

    def one(tag: int, default=None):
        if tag not in tags:
            if default is None:
                raise ValueError(f"required TIFF tag {tag} missing")
            return default
        v = vals(tag)
        return v[0] if isinstance(v, list) else v

    width, height = one(TAG_WIDTH), one(TAG_HEIGHT)
    spp = one(TAG_SPP, 1)
    bits = vals(TAG_BITS) if TAG_BITS in tags else [8]
    bits = bits if isinstance(bits, list) else [8]
    if len(set(bits)) != 1 or bits[0] not in (8, 16):
        raise NotImplementedError(f"unsupported BitsPerSample {bits}")
    comp = one(TAG_COMPRESSION, COMPRESSION_NONE)
    if comp not in (
        COMPRESSION_NONE, COMPRESSION_LZW, COMPRESSION_JPEG,
        COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_OLD,
    ):
        raise NotImplementedError(f"unsupported TIFF compression {comp}")
    if comp == COMPRESSION_JPEG and bits[0] != 8:
        raise NotImplementedError("JPEG-in-TIFF is 8-bit only")
    planar = one(TAG_PLANAR, 1)
    if planar not in (1, 2):
        raise NotImplementedError(f"unsupported PlanarConfiguration {planar}")
    # planar + JPEG is allowed: each band-separate chunk is a standalone
    # 1-component (grayscale) JPEG stream — libtiff's SEPARATE+JPEG shape
    predictor = one(TAG_PREDICTOR, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"unsupported predictor {predictor}")
    extrasamples = tuple(vals(TAG_EXTRASAMPLES)) if TAG_EXTRASAMPLES in tags else ()

    # opaque byte-exact preservation: the raw payloads are already in hand
    geo = {t: tags[t] for t in GEO_TAGS if t in tags}
    if TAG_JPEG_TABLES in tags:
        geo = dict(geo)
        geo[TAG_JPEG_TABLES] = tags[TAG_JPEG_TABLES]

    prof = TiffProfile(
        width=width,
        height=height,
        count=spp,
        dtype="uint16" if bits[0] == 16 else "uint8",
        compression=comp,
        predictor=predictor,
        photometric=one(TAG_PHOTOMETRIC, 1),
        extrasamples=extrasamples,
        geo=geo,
        bigtiff=bigtiff,
        planar=planar,
    )

    chunks: list[ChunkRef] = []
    if TAG_TILE_OFFSETS in tags:
        tw, th = one(TAG_TILE_W), one(TAG_TILE_H)
        prof.tiled, prof.tile_width, prof.tile_height = True, tw, th
        offsets = vals(TAG_TILE_OFFSETS)
        counts = vals(TAG_TILE_COUNTS)
        across = -(-width // tw)
        down = -(-height // th)
        per_plane = across * down
        n_planes = spp if planar == 2 else 1
        if len(offsets) != per_plane * n_planes:
            raise ValueError("tile count mismatch")
        for idx in range(len(offsets)):
            # planar offsets are plane-major (TIFF 6.0: all of band 0's
            # tiles, then band 1's, ...)
            plane, s = divmod(idx, per_plane)
            r, c = divmod(s, across)
            chunks.append(
                ChunkRef(
                    index=idx,
                    row0=r * th,
                    col0=c * tw,
                    width=min(tw, width - c * tw),
                    height=min(th, height - r * th),
                    stored_width=tw,
                    stored_height=th,
                    offset=offsets[idx],
                    nbytes=counts[idx],
                    plane=plane if planar == 2 else -1,
                )
            )
    else:
        rps = one(TAG_ROWS_PER_STRIP, height)
        prof.tiled = False
        prof.rows_per_strip = rps
        offsets = vals(TAG_STRIP_OFFSETS)
        counts = vals(TAG_STRIP_COUNTS)
        if isinstance(offsets, bytes):  # single short strip edge case
            raise ValueError("unexpected strip offset encoding")
        per_plane = -(-height // rps)
        n_planes = spp if planar == 2 else 1
        if len(offsets) != per_plane * n_planes:
            raise ValueError("strip count mismatch")
        for idx in range(len(offsets)):
            plane, s = divmod(idx, per_plane)
            r0 = s * rps
            h = min(rps, height - r0)
            chunks.append(
                ChunkRef(
                    index=idx,
                    row0=r0,
                    col0=0,
                    width=width,
                    height=h,
                    stored_width=width,
                    stored_height=h,
                    offset=offsets[idx],
                    nbytes=counts[idx],
                    plane=plane if planar == 2 else -1,
                )
            )
    return prof, chunks


def read_ifd(data: bytes) -> tuple[TiffProfile, list[ChunkRef]]:
    """Parse the first IFD from an in-memory buffer. Raises a clear error
    (instead of silently truncating payloads) if the IFD or any tag
    payload lies beyond the buffer — use :func:`read_ifd_fetch` with
    :func:`file_fetch` when parsing from a partial header window."""
    return read_ifd_fetch(_bytes_fetch(data))


def decode_chunk(raw: bytes, prof: TiffProfile, chunk: ChunkRef) -> np.ndarray:
    """Compressed chunk bytes → (count, height, width) ndarray (valid
    region only — tile padding removed)."""
    comp = prof.compression
    if comp == COMPRESSION_JPEG:
        from rio_color_spark.sources import jpeg as J

        tables = prof.geo.get(TAG_JPEG_TABLES)
        px = J.decode_jpeg(raw, tables=tables[2] if tables else None)
        if px.ndim == 2:
            px = px[:, :, None]
        return np.ascontiguousarray(
            px[: chunk.height, : chunk.width, :].transpose(2, 0, 1)
        )
    if comp == COMPRESSION_LZW:
        buf = lzw_decode(raw)
    elif comp in (COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_OLD):
        buf = zlib.decompress(raw)
    else:
        buf = raw
    dt = prof.np_dtype
    # a planar chunk carries exactly ONE band's samples
    spp = 1 if chunk.plane >= 0 else prof.count
    sw, sh = chunk.stored_width, chunk.stored_height
    expected = sw * sh * spp * dt.itemsize
    if len(buf) < expected:
        # stripped files may truncate the final strip to valid rows
        expected = chunk.width * chunk.height * spp * dt.itemsize
        sw, sh = chunk.width, chunk.height
        if len(buf) < expected:
            raise ValueError(
                f"chunk {chunk.index}: decoded {len(buf)} bytes < expected {expected}"
            )
    arr = np.frombuffer(buf[:expected], dtype=dt).reshape(sh, sw, spp)
    if prof.predictor == 2:
        arr = np.cumsum(arr.astype(np.int64), axis=1).astype(dt)
    # (h, w, spp) pixel-interleaved → (spp, h, w), padding clipped
    return np.ascontiguousarray(
        arr[: chunk.height, : chunk.width, :].transpose(2, 0, 1)
    )


def encode_chunk(arr: np.ndarray, prof: TiffProfile, stored_w: int, stored_h: int) -> bytes:
    """(count, h, w) ndarray → compressed chunk bytes, zero-padded to the
    stored tile geometry (GDAL pads the same way)."""
    spp, h, w = arr.shape
    dt = prof.np_dtype
    if prof.compression == COMPRESSION_JPEG:
        from rio_color_spark.sources import jpeg as J

        if dt.itemsize != 1:
            raise NotImplementedError("JPEG-in-TIFF is 8-bit only")
        # JPEG pads edge blocks by replicating the last row/col (zero
        # padding would ring at valid-pixel boundaries)
        px = np.empty((stored_h, stored_w, spp), dtype=np.uint8)
        px[:h, :w, :] = arr.transpose(1, 2, 0)
        px[h:, :w, :] = px[h - 1 : h, :w, :]
        px[:, w:, :] = px[:, w - 1 : w, :]
        return J.encode_jpeg(px, quality=prof.jpeg_quality)
    px = np.zeros((stored_h, stored_w, spp), dtype=dt)
    px[:h, :w, :] = arr.transpose(1, 2, 0)
    if prof.predictor == 2:
        px = np.concatenate(
            [px[:, :1, :], np.diff(px.astype(np.int64), axis=1)], axis=1
        ).astype(dt)
    buf = px.tobytes()
    comp = prof.compression
    if comp == COMPRESSION_LZW:
        return lzw_encode(buf)
    if comp in (COMPRESSION_DEFLATE, COMPRESSION_DEFLATE_OLD):
        return zlib.compress(buf, 6)
    return buf


def read_tiff(path: str) -> tuple[np.ndarray, TiffProfile]:
    """Whole-raster read → ((count, height, width) array, profile)."""
    with open(path, "rb") as f:
        data = f.read()
    prof, chunks = read_ifd(data)
    out = np.zeros((prof.count, prof.height, prof.width), dtype=prof.np_dtype)
    for ch in chunks:
        tile = decode_chunk(data[ch.offset : ch.offset + ch.nbytes], prof, ch)
        dst = out[ch.plane : ch.plane + 1] if ch.plane >= 0 else out
        dst[:, ch.row0 : ch.row0 + ch.height, ch.col0 : ch.col0 + ch.width] = tile
    return out, prof


# -- writer ------------------------------------------------------------------


def _chunk_grid(prof: TiffProfile) -> list[tuple[int, int, int, int, int, int]]:
    """(row0, col0, valid_w, valid_h, stored_w, stored_h) per chunk in
    index order."""
    out = []
    if prof.tiled:
        tw, th = prof.tile_width, prof.tile_height
        for r0 in range(0, prof.height, th):
            for c0 in range(0, prof.width, tw):
                out.append(
                    (r0, c0, min(tw, prof.width - c0), min(th, prof.height - r0), tw, th)
                )
    else:
        rps = prof.rows_per_strip or prof.height
        for r0 in range(0, prof.height, rps):
            h = min(rps, prof.height - r0)
            out.append((r0, 0, prof.width, h, prof.width, h))
    return out


class TiffChunkWriter:
    """Streaming single-writer container assembly: pre-compressed chunk
    payloads arrive in ANY order via :meth:`add`; pixel data is appended
    immediately and the IFD is written at the file TAIL by :meth:`close`
    (the header's IFD pointer is patched last). The writer holds
    O(one payload) + O(8 bytes × n_chunks) of offset bookkeeping, so the
    Spark sink can add a raster of any size one collected wave of
    partitions at a time instead of collecting the whole raster.

    Classic TIFF (version 42) offsets are 32-bit; :meth:`close` raises if
    the file outgrew 4 GiB — write with ``prof.bigtiff=True`` (or
    ``--co bigtiff=yes``) for version 43's 64-bit offsets.

    The container is assembled under the sibling name ``path + ".part"``
    and moved onto ``path`` only when :meth:`close` succeeds; a failed
    close, or an exception inside a ``with`` block, removes it, so a
    failed write never leaves a partial file.
    """

    def __init__(self, path: str, prof: TiffProfile):
        self.prof = prof
        self.bigtiff = prof.bigtiff
        self.grid = _chunk_grid(prof)
        # planar layout: one payload per (plane, spatial chunk), global
        # index = plane * len(grid) + spatial (plane-major, TIFF 6.0)
        self.n_planes = prof.count if prof.planar == 2 else 1
        n = len(self.grid) * self.n_planes
        self.path = path
        self._part = path + ".part"
        self._f = open(self._part, "wb")
        bo = "<"
        if self.bigtiff:
            # II + 43 + offset-size 8 + reserved 0 + IFD offset (patched)
            self._f.write(b"II" + struct.pack(bo + "HHHQ", 43, 8, 0, 0))
        else:
            self._f.write(b"II" + struct.pack(bo + "HI", 42, 0))
        self._pos = self._f.tell()
        self._offsets = [0] * n
        self._counts = [-1] * n

    @property
    def n_chunks(self) -> int:
        return len(self._counts)

    def __enter__(self) -> TiffChunkWriter:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        if exc_type is None:
            self.close()
        else:
            self._discard()

    def _discard(self) -> None:
        """Drop the partial container; ``path`` is left untouched."""
        self._f.close()
        if os.path.exists(self._part):
            os.remove(self._part)

    def add(self, index: int, payload: bytes) -> None:
        if not 0 <= index < len(self._counts):
            raise IndexError(
                f"chunk index {index} outside grid of {len(self._counts)}"
            )
        if self._counts[index] >= 0:
            raise ValueError(f"duplicate payload for chunk {index}")
        self._offsets[index] = self._pos
        self._counts[index] = len(payload)
        self._f.write(payload)
        if len(payload) & 1:
            self._f.write(b"\0")
        self._pos += len(payload) + (len(payload) & 1)

    def close(self) -> None:
        """Write the tail IFD and move the container onto ``path``."""
        try:
            self._write_ifd()
        except BaseException:
            self._discard()
            raise
        self._f.close()
        os.replace(self._part, self.path)

    def _write_ifd(self) -> None:
        missing = [i for i, c in enumerate(self._counts) if c < 0]
        if missing:
            raise ValueError(
                f"{len(missing)} of {len(self._counts)} chunk payloads missing "
                f"(first: {missing[:5]})"
            )
        prof, bo = self.prof, "<"
        bits = 16 if prof.dtype == "uint16" else 8

        entries: list[tuple[int, int, int, bytes]] = []

        def add(tag: int, typ: int, values) -> None:
            if isinstance(values, (bytes, bytearray)):
                payload, cnt = bytes(values), len(values)
            else:
                vals = values if isinstance(values, (list, tuple)) else [values]
                fmt = {3: "H", 4: "I", 12: "d", 16: "Q"}[typ]
                payload = struct.pack(bo + fmt * len(vals), *vals)
                cnt = len(vals)
            entries.append((tag, typ, cnt, payload))

        add(TAG_WIDTH, 4, prof.width)
        add(TAG_HEIGHT, 4, prof.height)
        add(TAG_BITS, 3, [bits] * prof.count)
        add(TAG_COMPRESSION, 3, prof.compression)
        add(TAG_PHOTOMETRIC, 3, prof.photometric)
        add(TAG_SPP, 3, prof.count)
        add(TAG_PLANAR, 3, 2 if prof.planar == 2 else 1)
        if prof.predictor != 1:
            add(TAG_PREDICTOR, 3, prof.predictor)
        if prof.tiled:
            add(TAG_TILE_W, 3, prof.tile_width)
            add(TAG_TILE_H, 3, prof.tile_height)
        else:
            add(TAG_ROWS_PER_STRIP, 4, prof.rows_per_strip or prof.height)
        if prof.extrasamples:
            add(TAG_EXTRASAMPLES, 3, list(prof.extrasamples))
        add(TAG_SAMPLE_FORMAT, 3, [1] * prof.count)
        off_typ = 16 if self.bigtiff else 4
        add(TAG_TILE_OFFSETS if prof.tiled else TAG_STRIP_OFFSETS, off_typ, self._offsets)
        add(TAG_TILE_COUNTS if prof.tiled else TAG_STRIP_COUNTS, 4, self._counts)
        for tag, (typ, cnt, payload) in sorted(prof.geo.items()):
            entries.append((tag, typ, cnt, payload))
        entries.sort(key=lambda e: e[0])

        ifd_off = self._pos
        if self.bigtiff:
            head = struct.pack(bo + "Q", len(entries))
            esize, vbytes, next_sz = 20, 8, 8
            cnt_fmt = off_fmt = "Q"
        else:
            head = struct.pack(bo + "H", len(entries))
            esize, vbytes, next_sz = 12, 4, 4
            cnt_fmt = off_fmt = "I"
        ifd_size = len(head) + len(entries) * esize + next_sz
        ovf_cursor = ifd_off + ifd_size
        body = bytearray()
        ovf = bytearray()
        for tag, typ, cnt, payload in entries:
            body += struct.pack(bo + "HH", tag, typ)
            body += struct.pack(bo + cnt_fmt, cnt)
            if len(payload) > vbytes:
                body += struct.pack(bo + off_fmt, ovf_cursor)
                ovf += payload
                if len(payload) & 1:
                    ovf += b"\0"
                ovf_cursor += len(payload) + (len(payload) & 1)
            else:
                body += payload.ljust(vbytes, b"\0")
        end = ifd_off + ifd_size + len(ovf)
        if not self.bigtiff and end > 0xFFFFFFFF:
            raise ValueError(
                f"file is {end} bytes — classic TIFF offsets overflow 4 GiB; "
                f"write with bigtiff (--co bigtiff=yes)"
            )
        self._f.write(head + body + struct.pack(bo + ("Q" if self.bigtiff else "I"), 0) + ovf)
        self._f.seek(8 if self.bigtiff else 4)
        self._f.write(struct.pack(bo + ("Q" if self.bigtiff else "I"), ifd_off))


def write_tiff_chunks(path: str, payloads: list[bytes], prof: TiffProfile) -> None:
    """Assemble a TIFF from pre-compressed chunk payloads (index order must
    match :func:`_chunk_grid`). Thin wrapper over :class:`TiffChunkWriter`;
    the Spark export path streams into the writer directly."""
    with TiffChunkWriter(path, prof) as w:
        if len(payloads) != w.n_chunks:
            raise ValueError(
                f"expected {w.n_chunks} chunk payloads, got {len(payloads)}"
            )
        for i, p in enumerate(payloads):
            w.add(i, p)


def write_tiff(path: str, arr: np.ndarray, prof: TiffProfile) -> None:
    """Whole-raster write: (count, height, width) array → TIFF. Honors
    ``prof.planar == 2`` (band-separate: each chunk encodes one band,
    plane-major — GDAL's INTERLEAVE=BAND)."""
    if arr.ndim != 3:
        raise ValueError(f"expected (bands, h, w), got shape {arr.shape}")
    prof.count, prof.height, prof.width = arr.shape
    if prof.planar == 2:
        payloads = [
            encode_chunk(arr[p : p + 1, r0 : r0 + vh, c0 : c0 + vw], prof, sw, sh)
            for p in range(prof.count)
            for (r0, c0, vw, vh, sw, sh) in _chunk_grid(prof)
        ]
    else:
        payloads = [
            encode_chunk(arr[:, r0 : r0 + vh, c0 : c0 + vw], prof, sw, sh)
            for (r0, c0, vw, vh, sw, sh) in _chunk_grid(prof)
        ]
    write_tiff_chunks(path, payloads, prof)


def apply_creation_options(prof: TiffProfile, co: dict[str, str]) -> TiffProfile:
    """GDAL-style creation options (reference --co, cli.py:85 /
    tests/test_cli.py:121-169) onto a profile copy."""
    import copy

    p = copy.deepcopy(prof)
    for k, v in co.items():
        k = k.lower()
        if k == "compress":
            name = v.lower()
            if name not in COMPRESS_NAMES:
                raise ValueError(f"unknown compress={v!r}")
            p.compression = COMPRESS_NAMES[name]
            if p.compression == COMPRESSION_JPEG:
                # JPEG chunks are self-contained scans; predictor and the
                # shared-tables side channel do not apply
                p.predictor = 1
                p.geo.pop(TAG_JPEG_TABLES, None)
        elif k == "predictor":
            p.predictor = int(v)
        elif k == "blockxsize":
            p.tile_width = int(v)
        elif k == "blockysize":
            p.tile_height = int(v)
        elif k == "tiled":
            p.tiled = v.lower() in ("true", "yes", "1")
        elif k == "bigtiff":
            p.bigtiff = v.lower() in ("true", "yes", "1", "if_safer")
        elif k == "jpeg_quality":
            p.jpeg_quality = int(v)
        elif k == "interleave":
            # GDAL INTERLEAVE=PIXEL|BAND → PlanarConfiguration 1|2
            name = v.lower()
            if name not in ("pixel", "band"):
                raise ValueError(f"unknown interleave={v!r}")
            p.planar = 2 if name == "band" else 1
        # unknown options pass through silently, matching GDAL's tolerance
    return p
