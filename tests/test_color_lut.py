"""The round-7 LUT fast path (operators/color._luts_for / _apply_slabbed)
must be BIT-IDENTICAL to the exact float path (the chain op by op,
saturation by the whole-array twin) for every
(chain, band count, dtype) shape the engine serves, including the
saturation compand fold and the fail-fast fallback."""

import zlib

import numpy as np
import pytest

import rio_color_spark.operators.color as C
import twins
from rio_color_spark.functions.utils import scale_dtype, to_math_type
from rio_color_spark.plans.dsl import compile_chain


def _reference_apply(stacked, chain, out_dt):
    """The pre-LUT exact path: decode-scale → chain op by op → rescale,
    saturation by the whole-array twin so a kernel change shows."""
    return scale_dtype(twins.apply_chain(chain, to_math_type(stacked)), out_dt)


CHAINS = [
    "gamma b 1.85 gamma rg 1.95 sigmoidal rgb 35 0.13 saturation 1.15",
    "gamma g 0.99, gamma b 0.97, sigmoidal rgb 10 0.15",  # full-pointwise
    "saturation 1.2 gamma rgb 1.1",  # empty prefix, saturation first
    "saturation 1.3 saturation 0.7",  # saturation in prefix AND suffix slot
    "gamma r 1.3 saturation 0.8 sigmoidal b 4 0.3",  # per-band tail
    "sigmoidal rgb -10 0.15",  # inverse sigmoid
]

SHAPES = [
    (3, np.uint8, np.uint8),
    (4, np.uint8, np.uint8),  # alpha passthrough
    (3, np.uint16, np.uint16),
    (3, np.uint8, np.uint16),  # out-dtype rescale folded into the table
]


@pytest.mark.parametrize("chain", CHAINS)
@pytest.mark.parametrize("bands,in_dt,out_dt", SHAPES)
def test_lut_path_bit_identical(chain, bands, in_dt, out_dt):
    rng = np.random.default_rng(zlib.crc32(f"{chain}|{bands}".encode()))
    arr = rng.integers(0, np.iinfo(in_dt).max + 1, size=(bands, 257, 33)).astype(
        in_dt
    )
    # include the dtype extremes explicitly (LUT edge entries)
    arr[:, 0, 0] = 0
    arr[:, 0, 1] = np.iinfo(in_dt).max
    want = _reference_apply(arr, chain, np.dtype(out_dt))
    fused = compile_chain(chain)
    got = C._apply_slabbed(arr, fused, np.dtype(out_dt))
    assert C._luts_for(fused, arr.dtype, np.dtype(out_dt), bands) is not None
    assert got.dtype == want.dtype
    assert np.array_equal(got, want)


def test_lut_split_plan():
    plan = compile_chain(CHAINS[0]).plan
    prefix, suffix = C._split_plan(plan)
    assert [s.name for s in prefix] == ["gamma", "gamma", "sigmoidal"]
    assert [s.name for s in suffix] == ["saturation"]


def test_lut_declined_for_floats():
    fused = compile_chain("gamma rgb 1.2")
    assert C._luts_for(fused, np.dtype(np.float64), np.dtype(np.uint8), 3) is None


def test_lut_declined_when_grid_value_out_of_domain(monkeypatch):
    """If building the table raises (a grid value outside an op's domain),
    the operator must fall back to the exact path, not fail eagerly."""
    fused = compile_chain("gamma rgb 1.2")

    from rio_color_spark.plans import dsl

    def boom(arr, **kw):
        raise ValueError("domain")

    monkeypatch.setitem(dsl._OP_TABLE, "gamma", (boom, ("g",), False))
    assert C._luts_for(fused, np.dtype(np.uint8), np.dtype(np.uint8), 3) is None
