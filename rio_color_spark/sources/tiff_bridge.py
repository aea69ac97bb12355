"""GeoTIFF ⇄ image-table bridge — the engine's analogue of the reference's
windowed raster IO (reference rio_color/scripts/cli.py:81-121 reads GeoTIFF
windows via riomucho and writes them back preserving profile + creation
options + colorinterp; tests/test_cli.py:121-169,199-219 pin that contract).

Spark-first shape — a ``.tif`` is a lazy DataFrame source and a sink:

- **source** (:func:`tiff_rows`) — the DRIVER parses only the TIFF
  structure (header, IFD, tag payloads — wherever they live in the file;
  libtiff writes them at the tail) through a range-read fetch, turning
  the raster into a ``spark.range`` of chunk indices split into
  contiguous ranges; each TASK then reads and decodes its own disjoint
  tile ranges (``mapInPandas``) and emits image-table rows. A 100 GB
  (Big)TIFF on a shared filesystem reads as a fully parallel scan —
  pixel data never passes through the driver. There is at least one
  partition per core, and as many more as keep a partition's even share
  of the decoded pixels within ``spark.sql.files.maxPartitionBytes``.
- **chunk streams** — the decode loop of the source and the first stage
  of the sink are generators over ``(chunk index, pixel array)`` pairs,
  so a source, the color chain and a sink compose inside ONE Python pass
  instead of one ``mapInPandas`` stage each.
- **sink** (:func:`write_tiff_rows`) — tasks encode + compress their
  tiles (the CPU-heavy step); the driver collects the opaque compressed
  payloads in waves (one Spark job per wave, its tasks running at once)
  and adds each wave, in partition order, to :class:`tiff.TiffChunkWriter`
  (tail-written IFD, any arrival order). A wave is at most
  ``defaultParallelism`` partitions, and no more than put half of
  ``spark.driver.maxResultSize`` of uncompressed payloads in it at an
  even spread, so the driver holds one bounded wave at a time whatever
  the raster size. A single
  .tif has one writer by construction — the same constraint rasterio has.
  Containers past 4 GiB need ``--co bigtiff=yes``.
- ``rio color in.tif out.tif`` (:func:`color_correct_tiff`) is read →
  decode → color chain → encode in ONE Python crossing per chunk (the
  reference worker loop's single pass), no intermediate table. Chunks
  reach the container in index order, so the output bytes do not depend
  on the partition count.
- **re-tiling** — when creation options change the chunk grid
  (blockxsize/blockysize/tiled), pixel blocks are re-gridded on
  executors: each source chunk splits into target-aligned pieces,
  one shuffle co-locates the pieces of each target chunk, and
  ``applyInPandas`` assembles + encodes it. The pointwise-op property
  makes the result exact (same full-raster array, new grid).
- every chunk row lands in the standard images schema (sources/images.py
  ``IMAGES_SCHEMA``), so the ENTIRE existing operator surface — color
  chains, optimize, histograms, dedup of captions, … — runs on TIFF
  rows unchanged.

A parquet table is written only on request (:func:`ingest_tiff`, the
CLI's table destinations). Its container profile (dtype, tiling,
compression, photometric, ExtraSamples, GeoTIFF/GDAL tags) rides in a
``_tiff_profile.json`` manifest inside the table directory —
underscore-prefixed, so Spark's listing treats it as a non-data file
(pipeline._list_data_files applies the same rule).
"""

from __future__ import annotations

import dataclasses
import json
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from rio_color_spark.sources import codec
from rio_color_spark.sources import tiff as T
from rio_color_spark.sources.images import IMAGES_SCHEMA, phash_for

MANIFEST = "_tiff_profile.json"

#: bytes the driver prefetches before structure parsing. GDAL writes the
#: IFD header-first so this one read usually suffices; anything outside
#: the window (tail-written IFDs, far tag payloads) is range-read on
#: demand through tiff.file_fetch — never silently truncated.
_HEADER_BYTES = 4 << 20

def _profile_to_json(prof: T.TiffProfile) -> str:
    return json.dumps(
        {
            "width": prof.width,
            "height": prof.height,
            "count": prof.count,
            "dtype": prof.dtype,
            "compression": prof.compression,
            "predictor": prof.predictor,
            "photometric": prof.photometric,
            "extrasamples": list(prof.extrasamples),
            "tiled": prof.tiled,
            "tile_width": prof.tile_width,
            "tile_height": prof.tile_height,
            "rows_per_strip": prof.rows_per_strip,
            "bigtiff": prof.bigtiff,
            "jpeg_quality": prof.jpeg_quality,
            "planar": prof.planar,
            "geo": {str(t): [typ, cnt, payload.hex()] for t, (typ, cnt, payload) in prof.geo.items()},
        },
        indent=1,
    )


def _profile_from_json(s: str) -> T.TiffProfile:
    d = json.loads(s)
    return T.TiffProfile(
        width=d["width"],
        height=d["height"],
        count=d["count"],
        dtype=d["dtype"],
        compression=d["compression"],
        predictor=d["predictor"],
        photometric=d["photometric"],
        extrasamples=tuple(d["extrasamples"]),
        tiled=d["tiled"],
        tile_width=d["tile_width"],
        tile_height=d["tile_height"],
        rows_per_strip=d["rows_per_strip"],
        bigtiff=d.get("bigtiff", False),
        jpeg_quality=d.get("jpeg_quality", 95),
        planar=d.get("planar", 1),
        geo={int(t): (v[0], v[1], bytes.fromhex(v[2])) for t, v in d["geo"].items()},
    )


def read_profile(table_path: str) -> T.TiffProfile:
    with open(os.path.join(table_path, MANIFEST)) as f:
        return _profile_from_json(f.read())


def read_structure(tif_path: str) -> tuple[T.TiffProfile, list[T.ChunkRef]]:
    """Driver-side structure parse: prefetch a header window, range-read
    anything beyond it (tail IFDs, far tag payloads)."""
    size = os.path.getsize(tif_path)
    with open(tif_path, "rb") as f:
        prefix = f.read(min(size, _HEADER_BYTES))
        return T.read_ifd_fetch(T.file_fetch(f, prefix))


def _partition_count(spark: SparkSession, decoded: int, n_chunks: int) -> int:
    """Partitions for ``n_chunks`` chunks of ``decoded`` pixel bytes: at
    least one per core, and enough more that an even share is within
    ``spark.sql.files.maxPartitionBytes``, so a sink wave of them is a
    bounded share of the raster whatever its size; at most one per chunk."""
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    return max(1, min(n_chunks, max(
        spark.sparkContext.defaultParallelism, -(-decoded // split)
    )))


def _payload_bytes(prof: T.TiffProfile) -> int:
    """Uncompressed bytes of every chunk of ``prof``'s grid (edge chunks
    padded to the full chunk size, as they are encoded)."""
    raw = sum(sw * sh for *_, sw, sh in T._chunk_grid(prof))
    return raw * prof.count * prof.np_dtype.itemsize


def _tiff_chunks(spark: SparkSession, tif_path: str):
    """GeoTIFF → (chunk-id DataFrame, profile, chunk stream).

    Only the structure parse runs now. The DataFrame is ``spark.range``
    over the SPATIAL chunk indices, split into contiguous index ranges,
    so partitions hold neighbouring chunks and a sink adds them in index
    order. The chunk stream turns one task's id batches into, per batch,
    a generator of ``(chunk index, (count, h, w) array)`` pairs in id
    order: each task reads and decodes its own disjoint byte ranges. A
    planar (band-separate) source has `count` byte ranges per spatial
    chunk (one per band), decoded and stacked into the same full-band
    chunks as a chunky source's."""
    tif_path = os.path.abspath(tif_path)
    prof, chunks = read_structure(tif_path)
    n_planes = prof.count if prof.planar == 2 else 1
    n = len(chunks) // n_planes
    # chunks are plane-major (TIFF 6.0): row s holds spatial chunk s's
    # byte range in each band
    offsets = np.array([c.offset for c in chunks], np.int64).reshape(n_planes, n).T
    nbytes = np.array([c.nbytes for c in chunks], np.int64).reshape(n_planes, n).T
    # a contiguous split adds at most one chunk to a partition's even share
    decoded = prof.width * prof.height * prof.count * prof.np_dtype.itemsize
    ids = spark.range(n, numPartitions=_partition_count(spark, decoded, n))

    def decode(f, grid, pdf: pd.DataFrame) -> Iterator[tuple[int, np.ndarray]]:
        for s in pdf["id"].tolist():
            planes = []
            for p in range(n_planes):
                off, nb = int(offsets[s, p]), int(nbytes[s, p])
                f.seek(off)
                ch = T.ChunkRef(s, *grid[s], off, nb, plane=p if n_planes > 1 else -1)
                planes.append(T.decode_chunk(f.read(nb), prof, ch))
            yield s, planes[0] if n_planes == 1 else np.concatenate(planes, axis=0)

    def stream(batches: Iterator[pd.DataFrame]):
        grid = T._chunk_grid(prof)
        with open(tif_path, "rb") as f:
            for pdf in batches:
                yield decode(f, grid, pdf)

    return ids, prof, stream


def tiff_rows(spark: SparkSession, tif_path: str) -> tuple[DataFrame, T.TiffProfile]:
    """GeoTIFF → lazy image-table DataFrame (one row per tile/strip) and
    its container profile. Only the structure parse runs now; tile reads
    and decodes run on executors when the DataFrame is consumed."""
    ids, prof, chunks = _tiff_chunks(spark, tif_path)
    tif_path = os.path.abspath(tif_path)
    fmt = codec.fmt_for_dtype(prof.np_dtype, prof.count)
    stem = os.path.splitext(os.path.basename(tif_path))[0]

    def decode_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pairs in chunks(batches):
            out = {k: [] for k in ("image_id", "bytes", "w", "h", "fmt", "caption", "phash")}
            for idx, arr in pairs:
                out["image_id"].append(f"{stem}:{idx:06d}")
                out["bytes"].append(codec.encode(arr, fmt))
                out["w"].append(arr.shape[2])
                out["h"].append(arr.shape[1])
                out["fmt"].append(fmt)
                out["caption"].append(tif_path)
                out["phash"].append(int(phash_for(np.array([idx]))[0]))
            yield pd.DataFrame(out)

    return ids.mapInPandas(decode_rows, schema=IMAGES_SCHEMA), prof


def write_table(
    df: DataFrame, prof: T.TiffProfile | None, table_path: str,
    options: dict[str, str] | None = None,
) -> None:
    """Image rows → parquet table; with a profile, also the manifest that
    keeps the table exportable as a GeoTIFF."""
    df.write.mode("overwrite").options(**(options or {})).parquet(table_path)
    if prof is not None:
        with open(os.path.join(table_path, MANIFEST), "w") as f:
            f.write(_profile_to_json(prof))


def ingest_tiff(spark: SparkSession, tif_path: str, table_path: str) -> None:
    """GeoTIFF → parquet image table (one row per tile/strip) + manifest."""
    write_table(*tiff_rows(spark, tif_path), table_path)


def _planar_payloads(
    arr: np.ndarray, p: T.TiffProfile, grid: list, spatial_idx: int,
) -> list[tuple[int, bytes]]:
    """(global chunk index, payload) pairs for one full-band pixel block
    at ``grid[spatial_idx]`` (``grid`` is ``p``'s chunk grid): one pair for
    chunky output; `count` plane-major pairs (index = plane * len(grid) +
    spatial) for planar (INTERLEAVE=BAND) output."""
    sw, sh = grid[spatial_idx][4:]
    if p.planar == 2:
        return [
            (pl * len(grid) + spatial_idx,
             T.encode_chunk(arr[pl : pl + 1], p, sw, sh))
            for pl in range(arr.shape[0])
        ]
    return [(spatial_idx, T.encode_chunk(arr, p, sw, sh))]


def _table_chunks(batches: Iterator[pd.DataFrame]):
    """The chunk stream of image-table rows (see :func:`_tiff_chunks`):
    the chunk index is the ``image_id`` suffix."""
    for pdf in batches:
        yield (
            (int(r.image_id.rsplit(":", 1)[1]), codec.decode(r.bytes, r.w, r.h, r.fmt))
            for r in pdf.itertuples(index=False)
        )


def _encode_same_grid(df: DataFrame, chunks, p: T.TiffProfile) -> DataFrame:
    """``df`` → (index, payload): the source grid IS the target grid, so
    every chunk encodes independently in the same Python pass that
    ``chunks`` produces it in (no shuffle at all)."""

    def encode_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid = T._chunk_grid(p)
        for pairs in chunks(batches):
            idxs, payloads = [], []
            for idx, arr in pairs:
                for gi, payload in _planar_payloads(arr, p, grid, idx):
                    idxs.append(gi)
                    payloads.append(payload)
            yield pd.DataFrame({"index": idxs, "payload": payloads})

    return df.mapInPandas(encode_rows, schema="index int, payload binary")


def _encode_regrid(
    df: DataFrame, chunks, pin: T.TiffProfile, pout: T.TiffProfile
) -> DataFrame:
    """``df``, whose chunk stream ``chunks`` yields chunks on the SOURCE
    grid → (index, payload) on the TARGET grid, fully distributed:

    1. ``mapInPandas``: produce each source chunk, slice it along target
       chunk boundaries, emit (target index, placement, raw pixel block)
    2. one shuffle co-locates each target chunk's pieces. Where the
       source's partition rule (:func:`_partition_count`) asks for more
       partitions for the target's payload bytes than
       ``spark.sql.shuffle.partitions``, the shuffle takes that many, so a
       partition stays a bounded share of the raster whatever its size;
       below it, Spark's own shuffle (which AQE may coalesce) stands
    3. ``applyInPandas`` per target chunk: assemble the valid region,
       ``encode_chunk``

    Exactness: slicing + reassembly is a permutation of pixels, so the
    decoded full-raster array is identical to the source's — mirroring
    GDAL's ability to rewrite with any block size.
    """

    def split_rows(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        in_grid = T._chunk_grid(pin)
        out_grid = T._chunk_grid(pout)
        if pout.tiled:
            tw, th = pout.tile_width, pout.tile_height
            across = -(-pout.width // tw)
        else:
            tw, th = pout.width, (pout.rows_per_strip or pout.height)
            across = 1
        for pairs in chunks(batches):
            for idx, arr in pairs:
                out = {k: [] for k in ("tgt", "y0", "x0", "h", "w", "block")}
                r0, c0 = in_grid[idx][0], in_grid[idx][1]
                h, w = arr.shape[1], arr.shape[2]
                ty0, ty1 = r0 // th, (r0 + h - 1) // th
                tx0, tx1 = c0 // tw, (c0 + w - 1) // tw
                for ty in range(ty0, ty1 + 1):
                    for tx in range(tx0, tx1 + 1):
                        tgt = ty * across + tx
                        gr0, gc0 = out_grid[tgt][0], out_grid[tgt][1]
                        # overlap of [r0, r0+h) x [c0, c0+w) with target
                        a = max(r0, gr0)
                        b = min(r0 + h, gr0 + out_grid[tgt][3])
                        c = max(c0, gc0)
                        d = min(c0 + w, gc0 + out_grid[tgt][2])
                        if a >= b or c >= d:
                            continue
                        sub = np.ascontiguousarray(
                            arr[:, a - r0 : b - r0, c - c0 : d - c0]
                        )
                        out["tgt"].append(tgt)
                        out["y0"].append(a - gr0)
                        out["x0"].append(c - gc0)
                        out["h"].append(b - a)
                        out["w"].append(d - c)
                        out["block"].append(sub.tobytes())
                yield pd.DataFrame(out)  # one source chunk's pieces

    pieces = df.mapInPandas(
        split_rows, schema="tgt int, y0 int, x0 int, h int, w int, block binary"
    )

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        out_grid = T._chunk_grid(pout)
        tgt = int(key[0])
        vw, vh = out_grid[tgt][2:4]
        dt = pout.np_dtype
        tile = np.zeros((pout.count, vh, vw), dtype=dt)
        for r in pdf.itertuples(index=False):
            blk = np.frombuffer(r.block, dtype=dt).reshape(pout.count, r.h, r.w)
            tile[:, r.y0 : r.y0 + r.h, r.x0 : r.x0 + r.w] = blk
        pairs = _planar_payloads(tile, pout, out_grid, tgt)
        return pd.DataFrame(
            {"index": [i for i, _ in pairs],
             "payload": [pl for _, pl in pairs]}
        )

    spark = df.sparkSession
    n_parts = _partition_count(spark, _payload_bytes(pout), len(T._chunk_grid(pout)))
    if n_parts > int(spark.conf.get("spark.sql.shuffle.partitions")):
        pieces = pieces.repartition(n_parts, "tgt")  # the groupBy reuses it
    return pieces.groupBy("tgt").applyInPandas(
        assemble, schema="index int, payload binary"
    )


def _profile_for_fmt(prof: T.TiffProfile, fmt: str) -> T.TiffProfile:
    """``prof`` with the dtype and band count of payload format ``fmt``."""
    info = codec.format_info(fmt)
    return dataclasses.replace(
        prof,
        count=info.bands,
        dtype="uint16" if info.dtype.itemsize == 2 else "uint8",
        extrasamples=prof.extrasamples[: max(0, info.bands - 3)],
    )


def write_tiff_rows(
    df: DataFrame,
    prof: T.TiffProfile,
    fmt: str,
    tif_path: str,
    creation_options: dict[str, str] | None = None,
) -> None:
    """Image rows on ``prof``'s chunk grid (payload format ``fmt``) →
    single GeoTIFF.

    Chunk compression runs on executors. The driver runs the encode plan
    in waves of :func:`_wave_length` partitions, one Spark job each, and
    adds each wave's payloads to the container in partition order before
    it runs the next; its peak hold is one wave of compressed chunks.

    Creation options (``--co compress=deflate``, ``blockxsize``,
    ``bigtiff=yes`` …) override the preserved profile, the reference's
    GDAL-option contract
    (tests/test_cli.py:121-169); a changed chunk grid triggers the
    distributed re-grid path. An error in any upstream stage leaves
    ``tif_path`` untouched.
    """
    _write_chunks(df, _table_chunks, _profile_for_fmt(prof, fmt), tif_path,
                  creation_options)


def _write_chunks(
    df: DataFrame, chunks, in_prof: T.TiffProfile, tif_path: str,
    creation_options: dict[str, str] | None,
) -> None:
    """``df``, whose chunk stream ``chunks`` yields pixel chunks on
    ``in_prof``'s grid → single GeoTIFF (see :func:`write_tiff_rows`)."""
    out_prof = T.apply_creation_options(in_prof, creation_options or {})
    grid_fields = ("tiled", "tile_width", "tile_height", "rows_per_strip")
    if all(getattr(out_prof, k) == getattr(in_prof, k) for k in grid_fields):
        enc = _encode_same_grid(df, chunks, out_prof)
    else:
        enc = _encode_regrid(df, chunks, in_prof, out_prof)
    _collect(enc, out_prof, tif_path)


def _collect(enc: DataFrame, out_prof: T.TiffProfile, tif_path: str) -> None:
    """(index, payload) rows → the container at ``tif_path``, in waves."""
    rdd = enc.rdd
    sc, n_parts = rdd.context, rdd.getNumPartitions()
    wave = _wave_length(
        sc.defaultParallelism, n_parts, _payload_bytes(out_prof), _result_limit(sc)
    )
    with T.TiffChunkWriter(tif_path, out_prof) as writer:
        for start in range(0, n_parts, wave):
            ids = list(range(start, min(start + wave, n_parts)))
            for index, payload in sc.runJob(rdd, lambda rows: rows, ids):
                writer.add(index, bytes(payload))


def _result_limit(sc) -> int:
    """``spark.driver.maxResultSize`` in bytes (0: no limit)."""
    return sc._jsc.sc().conf().getSizeAsBytes("spark.driver.maxResultSize", "1g")


def _wave_length(parallelism: int, n_parts: int, payload_bytes: int, limit: int) -> int:
    """Partitions per sink wave: at most one per core, and at most as many
    as fit half of ``limit`` (Spark's per-job cap on collected bytes; 0 =
    none) when the container's uncompressed ``payload_bytes`` spread evenly
    over ``n_parts``. The other half absorbs uneven partitions (a re-grid
    shuffle hashes chunks to partitions) and codec expansion. Never below
    one partition per job."""
    if limit <= 0:
        return parallelism
    per_part = max(1, -(-payload_bytes // max(1, n_parts)))
    return max(1, min(parallelism, limit // 2 // per_part))


def table_rows(
    spark: SparkSession, table_path: str
) -> tuple[DataFrame, T.TiffProfile | None]:
    """Parquet image table → (rows, profile of its payloads), the profile
    None when the table has no manifest. The payload dtype/band count is
    read from the ``fmt`` column (a JVM-only scan) and wins over the
    manifest's: a manifest may have been copied from the table's source."""
    df = spark.read.parquet(table_path)
    if not os.path.exists(os.path.join(table_path, MANIFEST)):
        return df, None
    rows_fmt = df.select("fmt").limit(1).collect()
    if not rows_fmt:
        raise ValueError(f"empty image table: {table_path}")
    return df, _profile_for_fmt(read_profile(table_path), rows_fmt[0]["fmt"])


def export_tiff(
    spark: SparkSession,
    table_path: str,
    tif_path: str,
    creation_options: dict[str, str] | None = None,
) -> None:
    """Image table (+ manifest) → single GeoTIFF; see :func:`write_tiff_rows`."""
    df, prof = table_rows(spark, table_path)
    if prof is None:
        raise FileNotFoundError(os.path.join(table_path, MANIFEST))
    fmt = codec.fmt_for_dtype(prof.np_dtype, prof.count)
    write_tiff_rows(df, prof, fmt, tif_path, creation_options)


def is_tiff_path(path: str) -> bool:
    return path.lower().endswith((".tif", ".tiff"))


def color_correct_tiff(
    spark: SparkSession,
    src_tif: str,
    dst_tif: str,
    ops_string: str,
    out_dtype: str | None = None,
    creation_options: dict[str, str] | None = None,
) -> None:
    """End-to-end ``rio color SRC.tif DST.tif OPS`` twin in one Python
    crossing per chunk, the reference worker loop's read → chain → write:
    each task reads and decodes its tiles, runs the fused color chain on
    them and encodes the result in one pass over the chunk metadata; the
    driver streams the payloads into the container. A re-grid adds its
    shuffle and assembly pass behind that one."""
    from rio_color_spark.operators.color import color_chunks

    ids, prof, chunks = _tiff_chunks(spark, src_tif)
    fmt = codec.fmt_for_dtype(out_dtype or prof.np_dtype, prof.count)
    _write_chunks(
        ids, color_chunks(chunks, ops_string, out_dtype),
        _profile_for_fmt(prof, fmt), dst_tif, creation_options,
    )
