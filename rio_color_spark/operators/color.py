"""Fused color-correction operator over the images table.

The Spark realization of the reference's worker loop
(/root/reference/rio_color/workers.py:21-31: read → to_math_type → fold ops
→ scale_dtype → write), with two engine-level optimizations the reference
cannot do:

1. **Whole-chain fusion** — the entire DSL chain plus decode/rescale runs in
   ONE ``mapInPandas`` pass: one JVM→Python and one Python→JVM Arrow crossing
   per batch, and a single array materialization per image (the reference
   copies the block once per op, operations.py:192).
2. **Within-batch shape grouping** — rows in an Arrow batch are grouped by
   (h, w, fmt) and stacked into a single ``(C, B·h, w)`` array, so each NumPy
   kernel launches once per group per batch instead of once per row. Pixel
   semantics are unchanged: every op is pointwise per pixel (per band), so
   stacking along rows is exact.

Validation semantics follow the reference's fail-fast model: a ValueError
raised by an op (domain violation) fails the task, exactly like the
reference raising mid-pipeline. The DSL string is validated on the driver
before the job is launched (mirrors cli.py:95-98's validate-early).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType, DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from rio_color_spark.functions import colorspace
from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.plans.dsl import compile_chain, parse_ops_spec
from rio_color_spark.sources import codec


def _stack_rows(bufs, h: int, w: int, fmt: str) -> np.ndarray:
    """B same-shaped payloads → one (C, B*h, w) array."""
    info = codec.format_info(fmt)
    # (B, C, h, w) → (C, B, h, w) → (C, B*h, w); raw formats reinterpret
    # one joined buffer zero-copy, codec formats (png/jpeg) decode per row
    arr = codec.stack_decode(bufs, h, w, fmt)
    return np.ascontiguousarray(arr.transpose(1, 0, 2, 3)).reshape(
        info.bands, len(bufs) * h, w
    )


def _unstack_rows(arr: np.ndarray, n: int, h: int, w: int) -> list[bytes]:
    """(C, B*h, w) typed array → B per-row payloads."""
    c = arr.shape[0]
    per_row = arr.reshape(c, n, h, w).transpose(1, 0, 2, 3)
    return [np.ascontiguousarray(per_row[i]).tobytes() for i in range(n)]


#: target bytes per float64 math slab. A slab's working set is the slab,
#: the saturation kernel's four scratch channels and its mask: about 2.4x
#: this, ~1.9 MB, one core's 2 MB L2 on a 4-core Xeon host. Swept there
#: with 4 pinned concurrent processes on the flagship chain (median ms for
#: 1.6 MB / 800 KB / 400 KB / 200 KB slabs): a 256x256 uint8 tile
#: 4.06/3.78/3.93/4.45, 600 stacked 32x32 uint8 images 38.1/36.8/36.4/40.8,
#: 200 stacked 32x32 uint16 images 13.3/12.6/13.4/14.8.
SLAB_BYTES = 800_000


def _split_plan(plan):
    """(pointwise per-band prefix, remainder) of a parsed op plan.

    The prefix is the longest run of non-RGB-space ops (gamma, sigmoidal):
    each touches single bands pointwise, so over a quantized input dtype it
    is exactly representable as one lookup table per band. The remainder
    starts at the first channel-mixing op (saturation) and runs in float.
    """
    for i, spec in enumerate(plan):
        if spec.rgb_op:
            return plan[:i], plan[i:]
    return plan, []


def _luts_for(fused, in_dt: np.dtype, out_dt: np.dtype, nbands: int):
    """Per-band lookup tables for the chain's pointwise prefix, or None.

    A uint8/uint16 pixel can only take ``max+1`` values, and the math-type
    value of level ``k`` is exactly ``k / max`` — so applying the pointwise
    prefix to the ``arange(max + 1)`` grid yields, per band, a table whose
    gather reproduces the per-pixel computation bit-for-bit (same float64
    ops on the same inputs; guide §1.2 "per-task work"). When the WHOLE
    chain is pointwise (e.g. the atmo opstring) the table also folds
    ``scale_dtype`` and maps uint→uint directly. Returns
    ``(luts, suffix)`` — ``luts[band]`` arrays plus the remaining specs —
    or None when no plan is attached, the dtype is not an unsigned int, or
    the prefix raises on some grid value the real data may not contain
    (fall back to the exact per-slab path, which keeps the reference
    fail-fast semantics bit-identical).
    """
    if np.dtype(in_dt).kind != "u":
        return None
    plan = getattr(fused, "plan", None)
    if plan is None:
        return None
    cache = getattr(fused, "_lut_cache", None)
    if cache is None:
        cache = {}
        try:
            fused._lut_cache = cache
        except AttributeError:
            pass
    key = (np.dtype(in_dt).str, np.dtype(out_dt).str, nbands)
    if key in cache:
        return cache[key]
    from rio_color_spark.plans.dsl import _OP_TABLE

    prefix, suffix = _split_plan(plan)
    base = to_math_type(np.arange(np.iinfo(in_dt).max + 1, dtype=in_dt))
    entry = None
    try:
        luts = []
        for b in range(nbands):
            v = base
            for spec in prefix:
                if (b + 1) in spec.bands:
                    v = _OP_TABLE[spec.name][0](v, **spec.kwargs)
            # fold the output rescale into the table when nothing mixes bands
            luts.append(scale_dtype(v, out_dt) if not suffix else v)
        sat_first = bool(suffix) and suffix[0].name == "saturation" and nbands >= 3
        if sat_first:
            # saturation's first leg is pointwise sRGB inverse companding:
            # fold its three pow(x, 2.4) passes into the RGB tables too and
            # enter via saturate_rgb_from_linear (byte-identical sequence)
            luts = [
                colorspace._srgb_inverse_compand(v) if b < 3 else v
                for b, v in enumerate(luts)
            ]
        entry = (luts, suffix, sat_first)
    except ValueError:
        entry = None  # a grid value outside an op's domain: exact path rules
    cache[key] = entry
    return entry


def _apply_slabbed(
    stacked: np.ndarray, fused, out_dt: np.dtype
) -> np.ndarray:
    """decode-scale → fused chain → rescale, in cache-sized row slabs.

    Elementwise/per-pixel semantics make row-slab blocking value-exact; the
    only observable difference vs whole-array execution is that domain
    ValueErrors raise on the first offending slab (fail-fast either way).

    Quantized inputs take the LUT fast path (see :func:`_luts_for`): the
    pointwise prefix becomes one table gather per band — bit-identical
    values, no pow/exp per pixel — and only the channel-mixing remainder
    (plus the rescale) still runs in float per slab.
    """
    c, h, w = stacked.shape
    out = np.empty((c, h, w), dtype=out_dt)
    lut_entry = _luts_for(fused, stacked.dtype, np.dtype(out_dt), c)
    if lut_entry is not None:
        luts, suffix, sat_first = lut_entry
        if not suffix:
            for b in range(c):
                out[b] = luts[b][stacked[b]]
            return out
        top = np.iinfo(out_dt).max
        slab_rows = max(1, SLAB_BYTES // (c * w * 8))
        fl = np.empty((c, slab_rows, w), dtype=np.float64)
        for s in range(0, h, slab_rows):
            n = min(slab_rows, h - s)
            part = fl[:, :n]
            for b in range(c):
                np.take(luts[b], stacked[b, s : s + n], out=part[b], mode="clip")
            if sat_first:
                colorspace.saturate_rgb_from_linear(
                    part[0], part[1], part[2], suffix[0].kwargs["proportion"],
                    out=part[0:3],
                )
                rest = suffix[1:]
            else:
                rest = suffix
            for spec in rest:
                spec.apply_into(part, part)
            # scale_dtype in the slab buffer: the same multiply, then the
            # same truncating cast on assignment
            np.multiply(part, top, out=part)
            out[:, s : s + n] = part
        return out
    slab_rows = max(1, SLAB_BYTES // (c * w * 8))
    for s in range(0, h, slab_rows):
        chunk = np.ascontiguousarray(stacked[:, s : s + slab_rows])
        out[:, s : s + slab_rows] = scale_dtype(fused(to_math_type(chunk)), out_dt)
    return out


def _transform_batch(
    pdf: pd.DataFrame, fused, out_dtype: str | None
) -> pd.DataFrame:
    bufs = pdf["bytes"].to_numpy()
    hs = pdf["h"].to_numpy()
    ws = pdf["w"].to_numpy()
    fmts = pdf["fmt"].to_numpy()

    new_bytes = np.empty(len(pdf), dtype=object)
    new_fmt = fmts.copy().astype(object)

    order = np.arange(len(pdf))
    for key in set(zip(hs.tolist(), ws.tolist(), fmts.tolist())):
        h, w, fmt = key
        sel = order[(hs == h) & (ws == w) & (fmts == fmt)]
        info = codec.format_info(fmt)
        stacked = _stack_rows([bufs[i] for i in sel], h, w, fmt)
        dt = np.dtype(out_dtype) if out_dtype else info.dtype
        scaled = _apply_slabbed(stacked, fused, dt)
        payloads = _unstack_rows(scaled, len(sel), h, w)
        ofmt = codec.fmt_for_dtype(dt, info.bands)
        for i, payload in zip(sel.tolist(), payloads):
            new_bytes[i] = payload
            new_fmt[i] = ofmt

    out_pdf = pdf.copy()
    out_pdf["bytes"] = new_bytes
    out_pdf["fmt"] = new_fmt
    return out_pdf


def _validate(ops_string: str, out_dtype: str | None) -> None:
    """validate-early on the driver (bad DSL fails before any task launches)"""
    parse_ops_spec(ops_string)
    if out_dtype is not None:
        np.iinfo(np.dtype(out_dtype))  # must be an integer dtype


def color_chunks(chunks, ops_string: str, out_dtype: str | None = None):
    """The fused chain over a chunk stream (``sources.tiff_bridge``): every
    ``(index, (C, h, w) array)`` pair comes out colored and rescaled to
    ``out_dtype`` (None keeps its dtype). Same driver-side validation,
    kernels and fail-fast ValueErrors as :func:`color_correct`, but no
    DataFrame stage of its own: it runs inside its consumer's Python pass."""
    _validate(ops_string, out_dtype)

    def stream(batches):
        fused = compile_chain(ops_string)  # compiled once per task
        for pairs in chunks(batches):
            yield (
                (idx, _apply_slabbed(arr, fused, np.dtype(out_dtype or arr.dtype)))
                for idx, arr in pairs
            )

    return stream


def color_correct(
    df: DataFrame, ops_string: str, out_dtype: str | None = None
) -> DataFrame:
    """Apply a DSL op chain to every image; all non-pixel columns pass through.

    ``out_dtype`` rescales the output payload (None keeps the input dtype),
    matching the reference CLI's ``--out-dtype`` (cli.py:36-39).
    """
    _validate(ops_string, out_dtype)
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fused = compile_chain(ops_string)  # compiled once per task
        for pdf in batches:
            yield _transform_batch(pdf, fused, out_dtype)

    return df.mapInPandas(run, schema=schema)


#: the fused index columns, appended to every input column
INDEX_FIELDS = [
    StructField(name, t())
    for name, t in (
        ("lon", DoubleType), ("lat", DoubleType), ("tile_x", IntegerType),
        ("tile_y", IntegerType), ("tile_z", IntegerType), ("tile_xyz", LongType),
        ("cell_id", LongType),
    )
]

#: XYZ tile zoom and hierarchical cell level of the fused index columns
TILE_ZOOM = 12
CELL_LEVEL = 12


def index_and_color(
    df: DataFrame, ops_string: str, packed=None, sink: bool = False
) -> DataFrame:
    """Spatial index + fused color chain (+ optional PIP) in ONE Python crossing.

    Chaining with_spatial_index's cell UDF stage in front of the color
    ``mapInPandas`` puts TWO Python worker sets in every task pipeline —
    at local[32] that is 64 concurrent heavy workers and it collapses
    throughput (measured 25-174 s vs 4 s). This operator computes lon/lat,
    tiles at :data:`TILE_ZOOM`, cells at :data:`CELL_LEVEL` (NumPy
    kernels) and the color chain in the same batch loop: one worker set,
    one Arrow round-trip, same values. Payloads keep their input dtype.

    ``packed`` (a functions.pip.PackedPolygons dimension set) additionally
    computes ``poly_ids: array<string>`` — the containing polygons per
    image — with the same ray-cast kernel the standalone
    operators/spatial_join path uses, for free inside the same crossing
    (the polygon set rides to executors in the task closure; it is a few
    KB of packed edges). Tile assignments are the read-time JVM view
    ``pipeline.assignments`` (``explode(poly_ids)``), never written.

    ``sink=True`` returns the file-sink form, a task-written plan for
    :meth:`~rio_color_spark.sources.catalog.CheckpointedWriter.write_data`:
    the same batch loop writes its colored batches to the task's own
    parquet file (:data:`~rio_color_spark.sources.images.PAYLOAD_WRITE_OPTIONS`
    settings) and returns one
    :data:`~rio_color_spark.sources.catalog.TASK_FILE_SCHEMA` row, so no
    pixel row goes back to the JVM.
    """
    from rio_color_spark.functions import cells as cellmod
    from rio_color_spark.functions import tiles as tilemod
    from rio_color_spark.functions.pip import pip_multi
    from rio_color_spark.sources.images import lonlat_from_phash

    parse_ops_spec(ops_string)

    # built here, not parsed from DDL: a parse is a JVM round trip per plan
    fields = [StructField(f.name, f.dataType) for f in df.schema] + INDEX_FIELDS
    if packed is not None:
        fields.append(StructField("poly_ids", ArrayType(StringType())))
    schema = StructType(fields)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        fused = compile_chain(ops_string)
        for pdf in batches:
            out = _transform_batch(pdf, fused, None)
            lon, lat = lonlat_from_phash(pdf["phash"].to_numpy())
            tx, ty = tilemod.tile_xy(lon, lat, TILE_ZOOM)
            out["lon"] = lon
            out["lat"] = lat
            out["tile_x"] = tx.astype(np.int32)
            out["tile_y"] = ty.astype(np.int32)
            out["tile_z"] = np.int32(TILE_ZOOM)
            out["tile_xyz"] = tilemod.pack_tile(tx, ty, TILE_ZOOM)
            out["cell_id"] = cellmod.encode_cell(lon, lat, CELL_LEVEL)
            if packed is not None:
                out["poly_ids"] = pip_multi(lon, lat, packed)
            yield out

    if not sink:
        return df.mapInPandas(run, schema=schema)

    from pyspark.sql.pandas.types import to_arrow_schema

    from rio_color_spark.sources.catalog import TASK_FILE_SCHEMA, write_task_file
    from rio_color_spark.sources.images import payload_writer_options

    arrow = to_arrow_schema(schema)
    options = payload_writer_options(arrow)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        yield write_task_file(run(batches), arrow, options)

    return df.mapInPandas(write, schema=TASK_FILE_SCHEMA)
