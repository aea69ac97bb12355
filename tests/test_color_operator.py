"""End-to-end Spark tests for the fused color operator (SURVEY.md §7 M2):
distributed result == local NumPy oracle, caption byte-equality, dtype
rescaling, alpha passthrough."""

import numpy as np
import pytest

from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.operators.color import color_correct
from rio_color_spark.plans.dsl import parse_operations
from rio_color_spark.sources import codec
from rio_color_spark.sources.images import generate_pandas, images_df

FLAGSHIP_OPS = "gamma b 1.85, gamma rg 1.95, sigmoidal rgb 35 0.13, saturation 1.15"
N_ROWS = 230  # covers golden rows, odd shapes, all three fmts


def _oracle(row, ops, out_dtype=None):
    """Reference-shaped local computation: decode → to_math → fold → scale."""
    arr = codec.decode(row["bytes"], row["w"], row["h"], row["fmt"])
    math = to_math_type(arr)
    for f in parse_operations(ops):
        math = f(math)
    dt = np.dtype(out_dtype) if out_dtype else arr.dtype
    return scale_dtype(math, dt)


@pytest.fixture(scope="module")
def images(spark):
    return images_df(spark, N_ROWS).cache()


def test_color_correct_matches_oracle(spark, images):
    out = {r["image_id"]: r for r in color_correct(images, FLAGSHIP_OPS).collect()}
    assert len(out) == N_ROWS
    src = generate_pandas(np.arange(N_ROWS))
    for _, row in src.iterrows():
        got = out[row["image_id"]]
        expected = _oracle(row, FLAGSHIP_OPS)
        result = codec.decode(got["bytes"], got["w"], got["h"], got["fmt"])
        assert np.array_equal(result, expected), row["image_id"]
        assert got["caption"] == row["caption"]  # byte-equal passthrough
        assert got["phash"] == row["phash"]


def test_golden_row_pixel_value(spark, images):
    """Row 0 embeds the reference unit fixture; check a pinned golden."""
    out = color_correct(images, "sigmoidal rgb 10 0.15").filter(
        "image_id = 'img00000000'"
    ).collect()[0]
    arr = codec.decode(out["bytes"], out["w"], out["h"], out["fmt"])
    # golden from reference tests/test_operations.py:48-50 (math domain),
    # scaled to uint8 with truncation: 0.08056034... * 255 = 20.54 → 20
    assert arr[0, 0, 0] == 20


def test_out_dtype_rescale(spark, images):
    rgb16 = images.filter("fmt = 'npy16'")
    n = rgb16.count()
    assert n > 0
    out = color_correct(rgb16, "gamma rgb 1.0", out_dtype="uint8").collect()
    src = {r["image_id"]: r for r in rgb16.collect()}
    for got in out:
        assert got["fmt"] == "npy8"
        row = src[got["image_id"]]
        expected = _oracle(
            {k: row[k] for k in ("bytes", "w", "h", "fmt")},
            "gamma rgb 1.0",
            out_dtype="uint8",
        )
        result = codec.decode(got["bytes"], got["w"], got["h"], got["fmt"])
        assert np.array_equal(result, expected)


def test_alpha_passthrough_e2e(spark, images):
    rgba = images.filter("fmt = 'npy8a'")
    out = {r["image_id"]: r for r in color_correct(rgba, FLAGSHIP_OPS).collect()}
    for r in rgba.collect():
        before = codec.decode(r["bytes"], r["w"], r["h"], r["fmt"])
        after_row = out[r["image_id"]]
        after = codec.decode(
            after_row["bytes"], after_row["w"], after_row["h"], after_row["fmt"]
        )
        assert np.array_equal(before[3], after[3])


def test_atmos_matches_local(spark, images):
    from rio_color_spark.functions.operations import simple_atmo, simple_atmo_opstring

    ops = simple_atmo_opstring(0.03, 10, 0.15)
    out = {r["image_id"]: r for r in color_correct(images, ops).collect()}
    src = generate_pandas(np.arange(0, 50))
    for _, row in src.iterrows():
        arr = codec.decode(row["bytes"], row["w"], row["h"], row["fmt"])
        expected = scale_dtype(simple_atmo(to_math_type(arr), 0.03, 10, 0.15), arr.dtype)
        got = out[row["image_id"]]
        result = codec.decode(got["bytes"], got["w"], got["h"], got["fmt"])
        assert np.array_equal(result, expected), row["image_id"]


def test_bad_ops_fails_on_driver(spark, images):
    with pytest.raises(ValueError):
        color_correct(images, "foob 123")


def test_generator_deterministic_across_partitioning(spark):
    a = images_df(spark, 64, partitions=1).collect()
    b = images_df(spark, 64, partitions=7).collect()
    key = lambda r: r["image_id"]
    for ra, rb in zip(sorted(a, key=key), sorted(b, key=key)):
        assert ra == rb


def test_flagship_chain_psnr_gate(spark, images):
    """BASELINE gate: engine output vs reference-formula output at
    PSNR >= 40 dB on decoded pixels (SURVEY.md §7a). Today's npy* codecs
    are lossless so the ratio is infinite; the assertion is the objective
    floor any future lossy codec must still clear."""
    from rio_color_spark.functions.utils import psnr

    out = {r["image_id"]: r for r in
           color_correct(images.limit(40), FLAGSHIP_OPS).collect()}
    src = generate_pandas(np.arange(N_ROWS))
    checked = 0
    for _, row in src.iterrows():
        if row["image_id"] not in out:
            continue
        got = out[row["image_id"]]
        engine = codec.decode(got["bytes"], got["w"], got["h"], got["fmt"])
        expected = _oracle(row, FLAGSHIP_OPS)
        assert psnr(engine, expected) >= 40.0, row["image_id"]
        checked += 1
    assert checked > 0


def test_psnr_properties():
    """psnr itself: inf on identity, finite + monotone under noise, dtype
    peak handling, shape mismatch raises."""
    from rio_color_spark.functions.utils import psnr

    rng = np.random.default_rng(0)
    img = rng.integers(0, 255, size=(3, 16, 16), dtype=np.uint8)
    assert psnr(img, img) == float("inf")
    small = img.astype(np.int32) + rng.integers(-1, 2, size=img.shape)
    big = img.astype(np.int32) + rng.integers(-40, 41, size=img.shape)
    p_small = psnr(img, np.clip(small, 0, 255).astype(np.uint8))
    p_big = psnr(img, np.clip(big, 0, 255).astype(np.uint8))
    assert p_small > 40.0 > p_big > 0.0
    # float [0,1] domain uses peak 1.0
    f = img.astype(np.float64) / 255.0
    assert psnr(f, f + 0.001) == pytest.approx(60.0, abs=0.5)
    with pytest.raises(ValueError, match="shape mismatch"):
        psnr(img, img[:, :8])
