"""The in-place saturation kernel (colorspace.saturate_rgb_from_linear)
against its whole-array twin (tests/twins.py), bit for bit.

The uint8 gate runs every RGB triple through the operator's slab path with
the flagship chain; a truncating cast to uint8 hides most last-bit
changes, so each slab's float64 kernel output is also compared with the
twin's as raw bits — reordering two ops of the kernel changes those.

Run alone: ``python -m pytest tests/test_saturation_kernel.py -q``.
"""

import warnings

import numpy as np
import pytest

import rio_color_spark.operators.color as C
import twins
from rio_color_spark.functions import colorspace as CS
from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.pipeline import FLAGSHIP_OPS
from rio_color_spark.plans.dsl import compile_chain

#: the flagship chain split at its saturation: pointwise prefix, proportion
PREFIX, SATMULT = FLAGSHIP_OPS.rsplit(",", 1)[0], 1.15


def _bits_equal(a: np.ndarray, b: np.ndarray) -> bool:
    return a.shape == b.shape and np.array_equal(a.view(np.uint64), b.view(np.uint64))


def _all_rgb_triples() -> np.ndarray:
    """All 2^24 uint8 RGB triples as one (3, 4096, 4096) array."""
    idx = np.arange(1 << 24, dtype=np.uint32).reshape(4096, 4096)
    return np.stack([idx >> 16, (idx >> 8) & 255, idx & 255]).astype(np.uint8)


def test_flagship_every_uint8_triple_matches_twin():
    arr = _all_rgb_triples()
    assert C._luts_for(compile_chain(FLAGSHIP_OPS), arr.dtype, arr.dtype, 3)[2]
    got = C._apply_slabbed(arr, compile_chain(FLAGSHIP_OPS), np.dtype(np.uint8))
    prefix = compile_chain(PREFIX)
    rows = 128
    for s in range(0, arr.shape[1], rows):
        v = prefix(to_math_type(arr[:, s : s + rows]))
        lin = [twins.srgb_inverse_compand(v[b]) for b in range(3)]
        want = twins.saturate_rgb_from_linear(*lin, SATMULT)
        assert _bits_equal(CS.saturate_rgb_from_linear(*lin, SATMULT), want), s
        assert np.array_equal(got[:, s : s + rows], scale_dtype(want, np.uint8)), s


@pytest.mark.parametrize(
    "bands,dtype", [(3, np.uint16), (4, np.uint8), (4, np.uint16)]
)
def test_flagship_samples_match_twin(bands, dtype):
    """uint16 and RGBA through the slab path; alpha passes through."""
    rng = np.random.default_rng(bands * 100 + np.dtype(dtype).itemsize)
    top = np.iinfo(dtype).max
    arr = rng.integers(0, top + 1, size=(bands, 301, 257)).astype(dtype)
    arr[:, 0, :2] = [[0, top]] * bands
    got = C._apply_slabbed(arr, compile_chain(FLAGSHIP_OPS), np.dtype(dtype))
    want = scale_dtype(twins.apply_chain(FLAGSHIP_OPS, to_math_type(arr)), dtype)
    assert np.array_equal(got, want)
    if bands == 4:
        assert np.array_equal(got[3], arr[3])


@pytest.mark.parametrize("satmult", [0.0, 0.7, 1.15, 3.0])
def test_float_path_matches_twin(satmult):
    """saturate_rgb and the DSL's float path run the same kernel."""
    rng = np.random.default_rng(int(satmult * 100))
    arr = rng.random((3, 97, 131))
    want = twins.saturate_rgb(arr, satmult)
    assert _bits_equal(CS.saturate_rgb(arr, satmult), want)
    assert _bits_equal(compile_chain(f"saturation {satmult}")(arr), want)


def test_out_may_alias_inputs():
    rng = np.random.default_rng(7)
    arr = rng.random((3, 64, 80))
    lin = np.stack([twins.srgb_inverse_compand(arr[b]) for b in range(3)])
    want = twins.saturate_rgb_from_linear(*lin, SATMULT)
    got = CS.saturate_rgb_from_linear(lin[0], lin[1], lin[2], SATMULT, out=lin)
    assert got is lin and _bits_equal(lin, want)
    # a band-interleaved slab view, as the operator's slab buffer has
    slab = np.empty((4, 64, 80))
    slab[:3] = np.stack([twins.srgb_inverse_compand(arr[b]) for b in range(3)])
    CS.saturate_rgb_from_linear(slab[0], slab[1], slab[2], SATMULT, out=slab[0:3])
    assert _bits_equal(slab[:3], want)
    same = arr.copy()
    assert CS.saturate_rgb(same, SATMULT, out=same) is same
    assert _bits_equal(same, twins.saturate_rgb(arr, SATMULT))


def test_out_of_gamut_and_nan_match_twin_without_warnings():
    """Linear inputs outside [0, 1] (negative bases reach the sRGB power)
    and NaN: the twin's values, and no RuntimeWarning escapes."""
    rng = np.random.default_rng(11)
    lin = rng.uniform(-0.5, 1.5, (3, 50, 60))
    lin[0, 0, :4] = np.nan
    lin[1, 1, :4] = np.nan
    lin[:, 2, :4] = [[-1.0], [0.0], [2.0]]
    want = twins.saturate_rgb_from_linear(*lin, SATMULT)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        got = CS.saturate_rgb_from_linear(*lin, SATMULT)
        srgb = CS.saturate_rgb(np.clip(lin, 0, 1), SATMULT)
    assert np.isnan(got).any()
    assert _bits_equal(got, want)
    assert _bits_equal(srgb, twins.saturate_rgb(np.clip(lin, 0, 1), SATMULT))


def test_convert_routes_share_the_kernel_legs():
    """convert_arr's RGB ⇄ LAB routes run the kernel's legs."""
    rng = np.random.default_rng(5)
    arr = rng.random((3, 40, 30))
    lin = [twins.srgb_inverse_compand(arr[b]) for b in range(3)]
    lab = twins.xyz_to_lab(*twins.linear_rgb_to_xyz(*lin))
    assert _bits_equal(CS.convert_arr(arr, CS.ColorSpace.rgb, CS.ColorSpace.lab), np.stack(lab))
    rgb = twins.xyz_to_rgb(*twins.lab_to_xyz(*lab))
    assert _bits_equal(CS.convert_arr(np.stack(lab), CS.ColorSpace.lab, CS.ColorSpace.rgb), np.stack(rgb))
