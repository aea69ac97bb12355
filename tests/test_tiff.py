"""GeoTIFF bridge tests — the engine's twin of the reference CLI contract
(reference tests/test_cli.py:40-74 j1==j2 equality, :121-169 creation
options, :171-197 RGBA alpha passthrough, :199-219 colorinterp
preservation), plus the built-in codec's own invariants.

The rasters under tests/fixtures/ (rgb8/rgb16/rgba8.tif) have the shapes
of the reference's test rasters but are written by the engine's own
encoder (scripts/make_tiff_fixtures.py), so the round-trip tests decode
engine-written tiles. Interoperability with libtiff is pinned only by
test_lzw_matches_libtiff_ratio, which runs where the reference's
libtiff-written rasters are present: it compares our LZW output size with
theirs, and decoding tiles that OTHER encoder produced pins the
early-change timing against the spec's canonical implementation.

The JPEG PSNR>=40dB assertions read those libtiff-written rasters too, and
run only where they are present: ``jpeg_quality=95`` is promised to clear
the gate on real raster content, and the fixtures' smooth synthetic content
clears it by so wide a margin that it would not test that promise. On the
fixtures the same JPEG exports check only what lands in the container.
"""

from __future__ import annotations

import contextlib
import filecmp
import math
import os
import subprocess
import sys

import numpy as np
import pytest

from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.plans.dsl import compile_chain
from rio_color_spark.sources import codec
from rio_color_spark.sources import tiff as T
from rio_color_spark.sources import tiff_bridge as TB
from scripts import make_tiff_fixtures as FX

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
REF = os.path.join(HERE, "fixtures")
#: the reference checkout's libtiff-written rasters (optional)
LIBTIFF_REF = "/root/reference/tests"
needs_libtiff_rasters = pytest.mark.skipif(
    not os.path.isdir(LIBTIFF_REF),
    reason=f"{LIBTIFF_REF} (libtiff-written rasters) absent",
)
RASTERS = ["rgb8.tif", "rgb16.tif", "rgba8.tif"]
OPS = "gamma b 1.85 gamma r,g 1.95 sigmoidal rgb 35 0.13 saturation 1.15"


# -- codec layer -------------------------------------------------------------


def test_lzw_roundtrip_fuzz():
    rng = np.random.default_rng(7)
    for n in [0, 1, 2, 300, 511, 3072, 50000]:
        for data in (
            bytes(rng.integers(0, 4, n, dtype=np.uint8)),
            bytes(rng.integers(0, 256, n, dtype=np.uint8)),
            bytes(np.arange(n, dtype=np.uint8) % 7),
        ):
            assert T.lzw_decode(T.lzw_encode(data)) == data


def test_lzw_final_code_on_width_boundary():
    """Regression: when the FINAL flushed run code lands exactly on an
    early-change boundary, the decoder widens before reading EOI — the
    encoder must widen too or EOI is written one bit narrow (found via a
    planar rgb8 band tile; libtiff's LZWPostEncode has the same
    free_ent++ for this). Sweep lengths around the 9→10 bit boundary
    (incompressible input ≈ one table entry per byte ⇒ boundary near
    254 bytes) and around 10→11."""
    for seed in range(4):
        rng = np.random.default_rng(seed)
        for n in list(range(240, 280)) + list(range(740, 790, 7)):
            data = bytes(rng.integers(0, 256, n, dtype=np.uint8))
            assert T.lzw_decode(T.lzw_encode(data)) == data, (seed, n)


@needs_libtiff_rasters
def test_lzw_matches_libtiff_ratio():
    """Our encoder's output size for the reference raster is within 1% of
    libtiff's — evidence the early-change timing matches (a mistimed
    encoder still round-trips itself but diverges in code widths)."""
    for name in RASTERS:
        arr, prof = T.read_tiff(f"{LIBTIFF_REF}/{name}")
        tmp = f"/tmp/_lzwsz_{name}"
        T.write_tiff(tmp, arr.copy(), prof)
        ours, theirs = os.path.getsize(tmp), os.path.getsize(f"{LIBTIFF_REF}/{name}")
        assert abs(ours - theirs) / theirs < 0.01, (name, ours, theirs)
        os.unlink(tmp)


def test_fixture_script_reproduces_fixtures(tmp_path):
    """scripts/make_tiff_fixtures.py rewrites the committed rasters byte for
    byte, so the fixtures and their generator cannot drift apart."""
    FX.main(str(tmp_path))
    for name in RASTERS:
        assert filecmp.cmp(tmp_path / name, f"{REF}/{name}", shallow=False), name


@pytest.mark.parametrize("name", RASTERS)
def test_read_write_roundtrip(name, tmp_path):
    arr, prof = T.read_tiff(f"{REF}/{name}")
    assert arr.shape == ((4, 500, 438) if name == "rgba8" + ".tif" else (3, 500, 438))
    out = str(tmp_path / name)
    T.write_tiff(out, arr.copy(), prof)
    arr2, prof2 = T.read_tiff(out)
    assert np.array_equal(arr, arr2)
    assert prof2.geo == prof.geo  # byte-exact GeoTIFF/GDAL tag payloads
    assert prof2.colorinterp() == prof.colorinterp()


def test_predictor2_and_deflate_roundtrip(tmp_path):
    arr, prof = T.read_tiff(f"{REF}/rgb16.tif")
    for co in ({"compress": "deflate"}, {"compress": "lzw", "predictor": "2"},
               {"compress": "none"}):
        p = T.apply_creation_options(prof, co)
        out = str(tmp_path / "x.tif")
        T.write_tiff(out, arr.copy(), p)
        arr2, prof2 = T.read_tiff(out)
        assert np.array_equal(arr, arr2), co
        assert prof2.compression == p.compression


def test_stripped_layout_roundtrip(tmp_path):
    """Stripped (non-tiled) containers: the other classic layout."""
    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, (3, 45, 38), dtype=np.uint8)
    prof = T.TiffProfile(
        width=38, height=45, count=3, dtype="uint8",
        compression=T.COMPRESSION_LZW, tiled=False, rows_per_strip=16,
    )
    out = str(tmp_path / "strips.tif")
    T.write_tiff(out, arr, prof)
    arr2, prof2 = T.read_tiff(out)
    assert np.array_equal(arr, arr2)
    assert not prof2.tiled and prof2.rows_per_strip == 16


@needs_libtiff_rasters
def test_jpeg_in_tiff_roundtrip_psnr40(tmp_path):
    """Reference tests/test_cli.py:121-169 asserts compress=jpeg lands in
    the container; the engine's lossy gate is PSNR>=40dB on decoded
    pixels (BASELINE north rule)."""
    from rio_color_spark.functions.utils import psnr

    arr, prof = T.read_tiff(f"{LIBTIFF_REF}/rgb8.tif")
    p = T.apply_creation_options(prof, {"compress": "jpeg"})
    assert p.compression == T.COMPRESSION_JPEG
    out = str(tmp_path / "j.tif")
    T.write_tiff(out, arr.copy(), p)
    arr2, prof2 = T.read_tiff(out)
    assert prof2.compression == T.COMPRESSION_JPEG
    assert arr2.shape == arr.shape and arr2.dtype == arr.dtype
    assert psnr(arr, arr2) >= 40.0
    assert prof2.geo.keys() >= {k for k in prof.geo if k != T.TAG_JPEG_TABLES}


def test_jpeg_rejected_for_uint16(tmp_path):
    arr, prof = T.read_tiff(f"{REF}/rgb16.tif")
    p = T.apply_creation_options(prof, {"compress": "jpeg"})
    with pytest.raises(NotImplementedError, match="8-bit"):
        T.write_tiff(str(tmp_path / "j16.tif"), arr.copy(), p)


def test_bigtiff_roundtrip(tmp_path):
    """Version-43 container (64-bit offsets): round-trips and is detected
    on read; classic write refuses once offsets would overflow 4 GiB."""
    arr, prof = T.read_tiff(f"{REF}/rgb8.tif")
    p = T.apply_creation_options(prof, {"bigtiff": "yes"})
    out = str(tmp_path / "big.tif")
    T.write_tiff(out, arr.copy(), p)
    with open(out, "rb") as f:
        assert f.read(4) == b"II+\0"  # magic 43
    arr2, prof2 = T.read_tiff(out)
    assert prof2.bigtiff
    assert np.array_equal(arr, arr2)
    assert prof2.geo == prof.geo


def test_structure_read_beyond_header_window(tmp_path):
    """The writer places the IFD at the file TAIL (streaming assembly);
    a 64-byte prefetch forces every structure read through the range
    fetch — the old fixed-window parse either failed or silently
    truncated tag payloads here."""
    arr, prof = T.read_tiff(f"{REF}/rgb8.tif")
    out = str(tmp_path / "tail.tif")
    T.write_tiff(out, arr.copy(), prof)
    with open(out, "rb") as f:
        prefix = f.read(64)
        prof2, chunks = T.read_ifd_fetch(T.file_fetch(f, prefix))
    assert prof2.geo == prof.geo  # byte-exact payloads despite tiny window
    assert len(chunks) == 224
    # and the in-memory parser now fails LOUDLY on a truncated buffer
    with open(out, "rb") as f:
        head = f.read(4096)
    with pytest.raises(ValueError, match="beyond"):
        T.read_ifd(head)


def test_planar_roundtrip_tiled_and_stripped(tmp_path):
    """PlanarConfiguration=2 (band-separate — GDAL INTERLEAVE=BAND):
    write/read round-trips for both layouts, and reading a planar file
    yields the IDENTICAL array as the chunky twin."""
    arr, prof = T.read_tiff(f"{REF}/rgb8.tif")
    # tiled planar
    p = T.apply_creation_options(prof, {"interleave": "band"})
    assert p.planar == 2
    out = str(tmp_path / "planar_tiled.tif")
    T.write_tiff(out, arr.copy(), p)
    arr2, prof2 = T.read_tiff(out)
    assert prof2.planar == 2
    assert np.array_equal(arr, arr2)
    assert prof2.geo == prof.geo
    # stripped planar with predictor
    p2 = T.apply_creation_options(
        p, {"tiled": "no", "compress": "deflate", "predictor": "2"}
    )
    p2.rows_per_strip = 64
    out2 = str(tmp_path / "planar_strips.tif")
    T.write_tiff(out2, arr.copy(), p2)
    arr3, prof3 = T.read_tiff(out2)
    assert prof3.planar == 2
    assert np.array_equal(arr, arr3)
    # jpeg + planar: each band-separate chunk is a standalone grayscale
    # JPEG stream (libtiff's SEPARATE+JPEG shape); its decoded quality is
    # pinned on real raster content by test_planar_jpeg_psnr40.
    pj = T.apply_creation_options(p, {"compress": "jpeg"})
    assert pj.planar == 2
    outj = str(tmp_path / "planar_jpeg.tif")
    T.write_tiff(outj, arr.copy(), pj)
    arrj, profj = T.read_tiff(outj)
    assert profj.planar == 2
    assert profj.compression == T.COMPRESSION_JPEG
    assert arrj.shape == arr.shape


@needs_libtiff_rasters
def test_planar_jpeg_psnr40(tmp_path):
    """Planar JPEG is lossy, so PSNR-pinned. No JFIF color transform
    per-plane, so it need not match chunky-JPEG bytes — only the decoded
    raster quality."""
    from rio_color_spark.functions.utils import psnr

    arr, prof = T.read_tiff(f"{LIBTIFF_REF}/rgb8.tif")
    p = T.apply_creation_options(prof, {"interleave": "band"})
    pj = T.apply_creation_options(p, {"compress": "jpeg"})
    outj = str(tmp_path / "planar_jpeg.tif")
    T.write_tiff(outj, arr.copy(), pj)
    arrj, profj = T.read_tiff(outj)
    assert profj.planar == 2
    assert psnr(arr, arrj) >= 40.0


# -- Spark bridge ------------------------------------------------------------


def test_ingest_export_identity(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, f"{REF}/rgb8.tif", tbl)
    df = spark.read.parquet(tbl)
    assert df.count() == 224  # 14 x 16 tile grid of 438x500 at 32x32
    assert set(df.columns) == {"image_id", "bytes", "w", "h", "fmt", "caption", "phash"}
    out = str(tmp_path / "identity.tif")
    TB.export_tiff(spark, tbl, out)
    a0, p0 = T.read_tiff(f"{REF}/rgb8.tif")
    a1, p1 = T.read_tiff(out)
    assert np.array_equal(a0, a1)
    assert p1.geo == p0.geo


def test_planar_ingest_export_preserves_interleave(spark, tmp_path):
    """A band-separate source ingests to the SAME full-band image table
    (each row stacks its per-plane byte ranges on the executor — no extra
    shuffle) and re-exports as planar; --co interleave=pixel converts."""
    arr, prof = T.read_tiff(f"{REF}/rgb8.tif")
    src = str(tmp_path / "planar_src.tif")
    T.write_tiff(src, arr.copy(), T.apply_creation_options(prof, {"interleave": "band"}))
    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, src, tbl)
    df = spark.read.parquet(tbl)
    assert df.count() == 224  # spatial chunks, not 3x planes
    # decoded pixel content matches the chunky reference ingest exactly
    row = df.filter("image_id = 'planar_src:000000'").collect()[0]
    blk = codec.decode(row["bytes"], row["w"], row["h"], row["fmt"])
    assert np.array_equal(blk, arr[:, :32, :32])
    # planar round-trip through the distributed export
    out = str(tmp_path / "back.tif")
    TB.export_tiff(spark, tbl, out)
    a1, p1 = T.read_tiff(out)
    assert p1.planar == 2 and np.array_equal(a1, arr)
    # interleave conversion on export
    out2 = str(tmp_path / "chunky.tif")
    TB.export_tiff(spark, tbl, out2, creation_options={"interleave": "pixel"})
    a2, p2 = T.read_tiff(out2)
    assert p2.planar == 1 and np.array_equal(a2, arr)


def test_color_correct_tiff_matches_library_chain(spark, tmp_path):
    """Tiled distributed execution == whole-array chain: every DSL op is
    pointwise, so the 32x32 tile grid cannot change a pixel (the same
    property the reference relies on for riomucho windows)."""
    out = str(tmp_path / "colored.tif")
    TB.color_correct_tiff(spark, f"{REF}/rgb8.tif", out, OPS, out_dtype="uint8")
    a0, p0 = T.read_tiff(f"{REF}/rgb8.tif")
    a2, p2 = T.read_tiff(out)
    expected = scale_dtype(compile_chain(OPS)(to_math_type(a0)), np.uint8)
    assert np.array_equal(a2, expected)
    assert p2.geo == p0.geo and p2.colorinterp() == p0.colorinterp()


def test_rgba_alpha_passthrough(spark, tmp_path):
    """Reference test_color_cli_rgba: band 4 is unaltered."""
    out = str(tmp_path / "rgba_out.tif")
    TB.color_correct_tiff(spark, f"{REF}/rgba8.tif", out, OPS, out_dtype="uint8")
    a0, _ = T.read_tiff(f"{REF}/rgba8.tif")
    a1, p1 = T.read_tiff(out)
    assert p1.count == 4
    assert np.array_equal(a0[3], a1[3])
    assert p1.colorinterp() == ("red", "green", "blue", "alpha")


def test_uint16_colorinterp_preserved(spark, tmp_path):
    """Reference test_color_cli_16bit_photointerp."""
    out = str(tmp_path / "c16.tif")
    TB.color_correct_tiff(
        spark, f"{REF}/rgb16.tif", out, "gamma b 1.85 gamma r,g 1.95",
        out_dtype="uint16",
    )
    _, p0 = T.read_tiff(f"{REF}/rgb16.tif")
    a1, p1 = T.read_tiff(out)
    assert a1.dtype == np.uint16
    assert p1.colorinterp() == p0.colorinterp()


def test_creation_options_change_container(spark, tmp_path):
    """Reference test_creation_opts: --co compress=X demonstrably lands
    in the file — including the reference's literal compress=jpeg
    contract (tests/test_cli.py:128,137,146,169); its PSNR>=40dB on real
    raster content is test_exported_jpeg_psnr40."""
    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, f"{REF}/rgb8.tif", tbl)
    out = str(tmp_path / "defl.tif")
    TB.export_tiff(spark, tbl, out, creation_options={"compress": "deflate"})
    arr0, _ = T.read_tiff(f"{REF}/rgb8.tif")
    arr1, prof1 = T.read_tiff(out)
    assert prof1.compression == T.COMPRESSION_DEFLATE
    assert np.array_equal(arr0, arr1)
    outj = str(tmp_path / "j.tif")
    TB.export_tiff(spark, tbl, outj, creation_options={"compress": "jpeg"})
    arrj, profj = T.read_tiff(outj)
    assert profj.compression == T.COMPRESSION_JPEG
    assert arrj.shape == arr0.shape


@needs_libtiff_rasters
def test_exported_jpeg_psnr40(spark, tmp_path):
    """--co compress=jpeg through the distributed export holds PSNR>=40dB."""
    from rio_color_spark.functions.utils import psnr

    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, f"{LIBTIFF_REF}/rgb8.tif", tbl)
    arr0, _ = T.read_tiff(f"{LIBTIFF_REF}/rgb8.tif")
    outj = str(tmp_path / "j.tif")
    TB.export_tiff(spark, tbl, outj, creation_options={"compress": "jpeg"})
    arrj, profj = T.read_tiff(outj)
    assert profj.compression == T.COMPRESSION_JPEG
    assert psnr(arr0, arrj) >= 40.0


def test_export_retiling_regrids_distributed(spark, tmp_path):
    """--co blockxsize/blockysize with a CHANGED grid: pixel blocks are
    re-gridded on executors (mirrors GDAL's arbitrary block-size
    rewrite); the decoded full-raster array is bit-identical."""
    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, f"{REF}/rgb8.tif", tbl)
    arr0, prof0 = T.read_tiff(f"{REF}/rgb8.tif")
    # 32x32 -> 64x96 tiles
    out = str(tmp_path / "retiled.tif")
    TB.export_tiff(spark, tbl, out,
                   creation_options={"blockxsize": "64", "blockysize": "96"})
    arr1, prof1 = T.read_tiff(out)
    assert (prof1.tile_width, prof1.tile_height) == (64, 96)
    assert np.array_equal(arr0, arr1)
    assert prof1.geo == prof0.geo
    # tiled -> stripped is a grid change too
    outs = str(tmp_path / "stripped.tif")
    TB.export_tiff(spark, tbl, outs, creation_options={"tiled": "no"})
    arr2, prof2 = T.read_tiff(outs)
    assert not prof2.tiled
    assert np.array_equal(arr0, arr2)


def test_export_bigtiff_creation_option(spark, tmp_path):
    tbl = str(tmp_path / "tbl")
    TB.ingest_tiff(spark, f"{REF}/rgb8.tif", tbl)
    out = str(tmp_path / "big.tif")
    TB.export_tiff(spark, tbl, out, creation_options={"bigtiff": "yes"})
    with open(out, "rb") as f:
        assert f.read(4) == b"II+\0"
    arr0, _ = T.read_tiff(f"{REF}/rgb8.tif")
    arr1, _ = T.read_tiff(out)
    assert np.array_equal(arr0, arr1)
    # and the bigtiff container ingests back through the range-read path
    tbl2 = str(tmp_path / "tbl2")
    TB.ingest_tiff(spark, out, tbl2)
    assert spark.read.parquet(tbl2).count() == 224


def test_out_dtype_conversion_roundtrip(spark, tmp_path):
    """uint16 source -> uint8 output container (reference -d uint8 on a
    16-bit raster); the exported file's dtype follows the table payload."""
    out = str(tmp_path / "c8.tif")
    TB.color_correct_tiff(
        spark, f"{REF}/rgb16.tif", out, "gamma rgb 1.0", out_dtype="uint8"
    )
    a0, _ = T.read_tiff(f"{REF}/rgb16.tif")
    a1, _ = T.read_tiff(out)
    assert a1.dtype == np.uint8
    expected = scale_dtype(to_math_type(a0), np.uint8)
    assert np.array_equal(a1, expected)


# -- Spark bridge on rasters written at test time -----------------------------

#: the reference rasters' shapes: 438x500, 32x32 LZW tiles
SHAPES = FX.SHAPES
VARIANTS = {
    "default": ({}, {}),
    "out_uint8": ({"out_dtype": "uint8"}, {}),
    "regrid64": ({}, {"blockxsize": "64", "blockysize": "64"}),
    "stripped": ({}, {"tiled": "no"}),
}


def _make_raster(path: str, kind: str, seed: int) -> np.ndarray:
    """The fixtures' smooth content plus +-5% per-pixel noise, no geo tags."""
    arr = FX.make_raster(kind, seed, noise=0.05)
    T.write_tiff(path, arr.copy(), FX.profile(kind))
    return arr


@pytest.fixture(scope="module")
def rasters(tmp_path_factory):
    d = tmp_path_factory.mktemp("rasters")
    return {
        kind: (str(d / f"{kind}.tif"), _make_raster(str(d / f"{kind}.tif"), kind, i))
        for i, kind in enumerate(SHAPES)
    }


@pytest.mark.parametrize("variant", VARIANTS)
@pytest.mark.parametrize("kind", SHAPES)
def test_color_correct_tiff_equals_chain_replay(spark, rasters, tmp_path, kind, variant):
    """Distributed decode → chain → encode (same grid or re-gridded) is
    bit-identical to the whole-array chain; alpha and colorinterp survive."""
    src, arr = rasters[kind]
    kwargs, co = VARIANTS[variant]
    out = str(tmp_path / "out.tif")
    TB.color_correct_tiff(spark, src, out, OPS, creation_options=co, **kwargs)
    got, prof = T.read_tiff(out)
    dt = np.dtype(kwargs.get("out_dtype", arr.dtype))
    assert np.array_equal(got, scale_dtype(compile_chain(OPS)(to_math_type(arr)), dt))
    if kind == "rgba8":
        assert np.array_equal(got[3], arr[3])
        assert prof.colorinterp() == ("red", "green", "blue", "alpha")
    assert prof.colorinterp() == TB.read_structure(src)[0].colorinterp()
    if variant == "stripped":
        assert not prof.tiled
    else:
        size = 64 if variant == "regrid64" else 32
        assert prof.tiled and (prof.tile_width, prof.tile_height) == (size, size)
    assert os.listdir(tmp_path) == ["out.tif"]


MAX_PARTITION_BYTES = "spark.sql.files.maxPartitionBytes"


@contextlib.contextmanager
def _max_partition_bytes(spark, value: int):
    """Run the block with ``spark.sql.files.maxPartitionBytes`` at ``value``."""
    old = spark.conf.get(MAX_PARTITION_BYTES, None)
    spark.conf.set(MAX_PARTITION_BYTES, str(value))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(MAX_PARTITION_BYTES)
        else:
            spark.conf.set(MAX_PARTITION_BYTES, old)


def _multi_wave_split(spark, arr: np.ndarray) -> int:
    """A maxPartitionBytes that cuts ``arr`` into more than two waves."""
    return arr.nbytes // (2 * spark.sparkContext.defaultParallelism + 1)


def _jobs_of(spark, group: str, fn) -> list:
    """Run ``fn`` under job group ``group``; the group's jobs in id order."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group))


def _result_tasks(spark, job_id: int) -> int:
    """Tasks of a job's result stage (its highest stage id)."""
    st = spark.sparkContext.statusTracker()
    return st.getStageInfo(max(st.getJobInfo(job_id).stageIds)).numTasks


def test_tiff_sink_one_wave_job_count(spark, rasters, tmp_path):
    """A raster of at most ``defaultParallelism`` partitions runs exactly
    ONE Spark job: one collect wave, no shuffle ahead of it."""
    src, _ = rasters["rgb8"]
    par = spark.sparkContext.defaultParallelism
    n_parts = TB.tiff_rows(spark, src)[0].rdd.getNumPartitions()
    assert n_parts <= par
    jobs = _jobs_of(spark, "tiff-one-wave", lambda: TB.color_correct_tiff(
        spark, src, str(tmp_path / "out.tif"), OPS
    ))
    assert len(jobs) == 1
    assert _result_tasks(spark, jobs[0]) == n_parts


def test_tiff_sink_multi_wave(spark, rasters, tmp_path):
    """Below ``maxPartitionBytes`` of decoded pixels per partition the sink
    runs waves of at most ``defaultParallelism`` tasks; partitions hold
    contiguous chunk ranges; the container is the replay's pixels and,
    byte for byte, the container of a one-wave run at the session's own
    ``maxPartitionBytes``: the bytes do not depend on the partition
    count."""
    import pyspark.sql.functions as F

    src, arr = rasters["rgb8"]
    par = spark.sparkContext.defaultParallelism
    split = _multi_wave_split(spark, arr)
    out, ref = str(tmp_path / "out.tif"), str(tmp_path / "one_wave.tif")
    TB.color_correct_tiff(spark, src, ref, OPS)
    with _max_partition_bytes(spark, split):
        df = TB.tiff_rows(spark, src)[0]
        n_parts = df.rdd.getNumPartitions()
        assert n_parts > 2 * par
        idx = F.substring_index("image_id", ":", -1).cast("int")
        per_part = sorted(df.groupBy(F.spark_partition_id()).agg(
            F.min(idx), F.max(idx), F.count("*"),
            F.sum(F.col("w") * F.col("h") * arr.shape[0] * arr.itemsize),
        ).collect())
        assert len(per_part) == n_parts
        # contiguous index ranges, in partition order, sizes within one chunk
        assert [r[1] for r in per_part] == [0] + [r[2] + 1 for r in per_part[:-1]]
        assert all(r[3] == r[2] - r[1] + 1 for r in per_part)
        assert max(r[3] for r in per_part) - min(r[3] for r in per_part) <= 1
        # so a partition holds at most one 32² tile above its even share
        tile = 32 * 32 * arr.shape[0] * arr.itemsize
        assert max(r[4] for r in per_part) <= split + tile
        jobs = _jobs_of(spark, "tiff-multi-wave", lambda: TB.color_correct_tiff(
            spark, src, out, OPS
        ))
    waves = [min(par, n_parts - s) for s in range(0, n_parts, par)]
    assert [_result_tasks(spark, j) for j in jobs] == waves
    got, _ = T.read_tiff(out)
    assert np.array_equal(got, scale_dtype(compile_chain(OPS)(to_math_type(arr)), arr.dtype))
    assert filecmp.cmp(out, ref, shallow=False)


def _sunk_plans(spark, monkeypatch, src: str, dst: str, co: dict) -> list[tuple[str, int]]:
    """(physical plan, partition count) of each encode DataFrame
    ``color_correct_tiff`` sinks."""
    plans = []
    real = TB._collect

    def record(enc, *args):
        plan = enc._jdf.queryExecution().executedPlan().toString()
        plans.append((plan, enc.rdd.getNumPartitions()))
        return real(enc, *args)

    monkeypatch.setattr(TB, "_collect", record)
    TB.color_correct_tiff(spark, src, dst, OPS, creation_options=co)
    return plans


def test_color_correct_tiff_plan_shape(spark, rasters, tmp_path, monkeypatch):
    """Same grid: decode → color → encode is ONE Python-eval node and the
    plan has no Exchange. Re-grid: one ``mapInPandas`` (decode → color →
    split) ahead of the shuffle and one ``applyInPandas``."""
    src, _ = rasters["rgb8"]
    dst = str(tmp_path / "out.tif")
    ((plan, _),) = _sunk_plans(spark, monkeypatch, src, dst, {})
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    assert "Python" not in plan.replace("MapInPandas", "")
    co = {"blockxsize": "64", "blockysize": "64"}
    ((plan, _),) = _sunk_plans(spark, monkeypatch, src, dst, co)
    assert plan.count("MapInPandas") == 1
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert plan.count("Exchange hashpartitioning") == 1


def test_color_correct_tiff_domain_error_fails_fast(spark, rasters, tmp_path):
    """A chain that passes driver validation but violates an op's domain
    (sigmoidal bias > 1) fails the fused task with the op's ValueError,
    which the driver raises as a PythonException, and leaves no ``dst``."""
    from pyspark.errors import PythonException

    src, _ = rasters["rgb8"]
    out_dir = tmp_path / "out"
    out_dir.mkdir()
    with pytest.raises(PythonException, match="ValueError: bias must be"):
        TB.color_correct_tiff(spark, src, str(out_dir / "out.tif"), "sigmoidal rgb 5 1.5")
    assert os.listdir(out_dir) == []


def test_sink_wave_length():
    """A wave is at most one partition per core and at most half of the
    result limit of evenly spread payloads; never empty."""
    gib = 1 << 30
    # 2 GiB over a re-grid shuffle of 8 partitions at 4 cores: 256 MiB each
    assert TB._wave_length(4, 8, 2 * gib, gib) == 2
    assert TB._wave_length(4, 8, 2 * gib, 0) == 4  # no limit
    assert TB._wave_length(4, 8, 8 * gib, gib) == 1  # a partition over the limit
    assert TB._wave_length(4, 4, 7 << 20, gib) == 4  # the core cap
    assert TB._wave_length(16, 64, 8 * gib, gib) == 4  # 128 MiB partitions


def _regrid64(arr: np.ndarray) -> tuple[int, int]:
    """(padded payload bytes, chunk count) of ``arr`` re-gridded to 64² tiles."""
    rows, cols = -(-arr.shape[1] // 64), -(-arr.shape[2] // 64)
    return arr.shape[0] * rows * cols * 64 * 64 * arr.itemsize, rows * cols


def test_regrid_shuffle_sized_by_bytes(spark, rasters, tmp_path, monkeypatch):
    """A small raster's re-grid shuffle is Spark's own (at most
    ``spark.sql.shuffle.partitions``, which AQE may coalesce). With a lower
    ``maxPartitionBytes`` it takes as many more partitions as keep a
    partition's even share of the payload within it. The pixels written do
    not depend on the count (the tile order in the container does: tiles
    arrive in hash-partition order)."""
    src, arr = rasters["rgb8"]
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    co = {"blockxsize": "64", "blockysize": "64"}
    ref, out = str(tmp_path / "ref.tif"), str(tmp_path / "out.tif")
    payload, n_chunks = _regrid64(arr)
    ((_, n),) = _sunk_plans(spark, monkeypatch, src, ref, co)
    assert n <= shuffle
    split = payload // (2 * shuffle)
    with _max_partition_bytes(spark, split):
        ((plan, n),) = _sunk_plans(spark, monkeypatch, src, out, co)
    assert n == min(n_chunks, -(-payload // split)) > shuffle
    assert plan.count("Exchange") == 1
    got, prof = T.read_tiff(out)
    assert np.array_equal(got, T.read_tiff(ref)[0])
    assert np.array_equal(got, scale_dtype(compile_chain(OPS)(to_math_type(arr)), arr.dtype))
    assert (prof.tile_width, prof.tile_height) == (64, 64)


def test_tiff_sink_regrid_waves_fit_result_limit(spark, rasters, tmp_path, monkeypatch):
    """A re-grid sink over a shuffle of ``2 × defaultParallelism``
    partitions, under a result limit whose half holds two of its
    partitions' payloads but not three, collects waves of two tasks and
    writes the container of a run without that limit byte for byte."""
    src, arr = rasters["rgb8"]
    par = spark.sparkContext.defaultParallelism
    co = {"blockxsize": "64", "blockysize": "64"}
    out, ref = str(tmp_path / "out.tif"), str(tmp_path / "ref.tif")
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert n_parts == 2 * par
    old = spark.conf.get(key)
    spark.conf.set(key, "false")  # keep the shuffle's 2P partitions
    try:
        TB.color_correct_tiff(spark, src, ref, OPS, creation_options=co)
        # half this limit is 2.5 partitions' share of the source pixels;
        # 64² tiles pad the 438×500 raster by under 5%, so two partitions
        # of uncompressed payload fit in it and three do not
        monkeypatch.setattr(TB, "_result_limit", lambda sc: 5 * arr.nbytes // n_parts)
        jobs = _jobs_of(spark, "tiff-regrid-waves", lambda: TB.color_correct_tiff(
            spark, src, out, OPS, creation_options=co
        ))
    finally:
        spark.conf.set(key, old)
    tasks = [_result_tasks(spark, j) for j in jobs]
    assert tasks[-(n_parts // 2):] == [2] * (n_parts // 2)
    assert filecmp.cmp(out, ref, shallow=False)


def _corrupt(path: str, chunk: T.ChunkRef) -> None:
    with open(path, "r+b") as f:
        f.seek(chunk.offset)
        f.write(bytes(chunk.nbytes))


def test_corrupt_tile_leaves_no_partial_output(spark, rasters, tmp_path):
    """A decode error surfaces while the container is being written; the
    writer drops its partial file and ``dst`` never appears. Two cases: a
    corrupt middle tile in a one-wave run, and a corrupt tile in the last
    partition of a multi-wave run, whose error arrives after the earlier
    waves' payloads were added."""
    import pyspark.sql.functions as F

    _, arr = rasters["rgb8"]

    def deflate_source(name: str) -> tuple[str, list[T.ChunkRef]]:
        src = str(tmp_path / f"{name}.tif")
        T.write_tiff(src, arr.copy(), T.TiffProfile(
            width=438, height=500, count=3, dtype="uint8",
            compression=T.COMPRESSION_DEFLATE,
        ))
        return src, TB.read_structure(src)[1]

    def fails_cleanly(src: str, name: str) -> None:
        out_dir = tmp_path / name
        out_dir.mkdir()
        with pytest.raises(Exception, match="while decompressing data"):
            TB.color_correct_tiff(spark, src, str(out_dir / "out.tif"), OPS)
        assert os.listdir(out_dir) == []

    src, chunks = deflate_source("middle")
    _corrupt(src, chunks[len(chunks) // 2])
    fails_cleanly(src, "out_middle")

    src, chunks = deflate_source("last")
    par = spark.sparkContext.defaultParallelism
    with _max_partition_bytes(spark, _multi_wave_split(spark, arr)):
        df = TB.tiff_rows(spark, src)[0]
        n_parts = df.rdd.getNumPartitions()
        last = df.where(F.spark_partition_id() == n_parts - 1).select("image_id").collect()
        _corrupt(src, chunks[max(int(r[0].rsplit(":", 1)[1]) for r in last)])
        jobs = _jobs_of(spark, "tiff-late-failure", lambda: fails_cleanly(src, "out_last"))
    st = spark.sparkContext.statusTracker()
    done = [j for j in jobs if st.getJobInfo(j).status == "SUCCEEDED"]
    # one job per wave; every wave before the last one succeeded
    n_waves = math.ceil(n_parts / par)
    assert len(jobs) == n_waves > 1
    assert len(done) == n_waves - 1


def test_cli_via_tables_equals_direct_tif(spark, rasters, tmp_path):
    """ingest → color (table → table) → export gives the same container
    as color .tif → .tif; the colored table's manifest holds the OUTPUT
    profile (dtype after --out-dtype)."""
    from rio_color_spark.cli import main

    src, _ = rasters["rgb16"]
    direct = str(tmp_path / "direct.tif")
    assert main(["color", "-d", "uint8", src, direct, OPS]) == 0
    t0, t1, via = (str(tmp_path / n) for n in ("t0", "t1", "via.tif"))
    assert main(["ingest", src, t0]) == 0
    assert main(["color", "-d", "uint8", t0, t1, OPS]) == 0
    assert TB.read_profile(t1).dtype == "uint8"
    assert main(["export", t1, via]) == 0
    a, pa = T.read_tiff(direct)
    b, pb = T.read_tiff(via)
    assert a.dtype == np.uint8 and np.array_equal(a, b)
    assert pa == pb


# -- CLI surface -------------------------------------------------------------


def _cli(*argv: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "rio_color_spark.cli", *argv],
        capture_output=True, text=True, cwd=REPO, timeout=300,
    )


def test_cli_color_tif_j1_j2_equal(tmp_path):
    """Reference test_color_cli/test_atmos_cli: -j1 and -j2 outputs are
    identical (determinism across parallelism), here byte for byte."""
    o1, o2 = str(tmp_path / "j1.tif"), str(tmp_path / "j2.tif")
    r1 = _cli("color", "-d", "uint8", "-j", "1", f"{REF}/rgb8.tif", o1,
              "gamma 3 1.85", "gamma 1,2 1.95")
    assert r1.returncode == 0, r1.stderr[-2000:]
    r2 = _cli("color", "-d", "uint8", "-j", "2", f"{REF}/rgb8.tif", o2,
              "gamma 3 1.85", "gamma 1,2 1.95")
    assert r2.returncode == 0, r2.stderr[-2000:]
    assert filecmp.cmp(o1, o2, shallow=False)


def test_cli_ingest_export_subcommands(tmp_path):
    tbl = str(tmp_path / "tbl")
    out = str(tmp_path / "back.tif")
    r = _cli("ingest", "-j", "2", f"{REF}/rgb8.tif", tbl)
    assert r.returncode == 0, r.stderr[-2000:]
    assert os.path.exists(os.path.join(tbl, TB.MANIFEST))
    r = _cli("export", "-j", "2", "--co", "compress=deflate", tbl, out)
    assert r.returncode == 0, r.stderr[-2000:]
    a0, _ = T.read_tiff(f"{REF}/rgb8.tif")
    a1, p1 = T.read_tiff(out)
    assert np.array_equal(a0, a1)
    assert p1.compression == T.COMPRESSION_DEFLATE


def test_cli_empty_ops_tif_exit2(tmp_path):
    """Reference test_color_empty_operations on the tif surface: usage
    error before anything is written."""
    out = str(tmp_path / "never.tif")
    r = _cli("color", f"{REF}/rgb8.tif", out, ", , ,")
    assert r.returncode == 2
    assert not os.path.exists(out)
