"""MJPEG-in-AVI container (sources/avi.py): a real COMPRESSED video path
for the clip columns, built on the engine's own baseline JPEG codec.
Container structure is byte-pinned (RIFF/hdrl/movi/idx1); pixel fidelity
is PSNR-pinned (MJPEG is lossy)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from rio_color_spark.operators import media
from rio_color_spark.sources import avi
from rio_color_spark.functions.utils import psnr


def _smooth_clip(nf=4, h=48, w=40):
    """Deterministic smooth frames (JPEG-friendly: gradients, not noise)."""
    yy, xx = np.mgrid[0:h, 0:w]
    frames = []
    for f in range(nf):
        r = ((yy * 4 + f * 16) % 256).astype(np.uint8)
        g = ((xx * 5 + f * 8) % 256).astype(np.uint8)
        b = (((yy + xx) * 2 + f * 24) % 256).astype(np.uint8)
        frames.append(np.stack([r, g, b]))
    return np.stack(frames)


def test_container_structure():
    clip = _smooth_clip()
    data = avi.encode_avi(clip, fps=30)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    # RIFF size field covers everything after the first 8 bytes
    (riff_len,) = struct.unpack("<I", data[4:8])
    assert riff_len + 8 == len(data)
    meta = avi.probe_avi(data)
    assert meta == {"n_frames": 4, "w": 40, "h": 48, "fps": 30, "handler": "MJPG"}
    # idx1 present with one keyframe entry per frame
    assert data.count(b"00dc") >= 8  # movi chunks + idx1 entries


def test_roundtrip_psnr():
    clip = _smooth_clip()
    back = avi.decode_avi(avi.encode_avi(clip))
    assert back.shape == clip.shape and back.dtype == np.uint8
    assert psnr(clip, back) >= 40.0


def test_error_contracts():
    with pytest.raises(ValueError, match="RIFF"):
        avi.decode_avi(b"nope" * 10)
    with pytest.raises(ValueError, match="shape"):
        avi.encode_avi(np.zeros((3, 4, 4), dtype=np.uint8))
    with pytest.raises(ValueError, match="uint8"):
        avi.encode_avi(np.zeros((1, 3, 4, 4), dtype=np.uint16))
    # non-MJPG handler is an explicit seam, not a garbage decode
    data = bytearray(avi.encode_avi(_smooth_clip(nf=1)))
    i = data.find(b"vids") + 4
    data[i : i + 4] = b"H264"
    with pytest.raises(NotImplementedError, match="MJPG"):
        avi.decode_avi(bytes(data))
    # truncated movi payload fails loudly (idx1 for 2 frames is 40 bytes;
    # cut past it into the last JPEG chunk itself)
    with pytest.raises(ValueError, match="truncated"):
        avi.decode_avi(avi.encode_avi(_smooth_clip(nf=2))[:-100])
    # dropping exactly the (optional) idx1 chunk still decodes — the
    # reader scans movi directly, index-less files are valid
    full = avi.encode_avi(_smooth_clip(nf=2))
    assert avi.decode_avi(full[:-40]).shape == (2, 3, 48, 40)


def test_sample_frames_avi(spark):
    """The registry path: MJPEG AVI clips decode on executors; sampled
    stills match a driver-side decode of the same payload exactly
    (the codec is deterministic — lossy encode, exact decode)."""
    clips = {f"mov{n}": _smooth_clip(nf=nf) for n, nf in ((0, 5), (1, 1), (2, 6))}
    rows = [
        (vid, avi.encode_avi(c), c.shape[3], c.shape[2], "avi")
        for vid, c in clips.items()
    ]
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )
    out = media.sample_frames(df, every_k=2).collect()
    got = {}
    for r in out:
        got.setdefault(r["image_id"], []).append(r)
    assert {k: len(v) for k, v in got.items()} == {"mov0": 3, "mov1": 1, "mov2": 3}
    payload = {r[0]: r[1] for r in rows}
    for vid, frames in got.items():
        decoded = avi.decode_avi(payload[vid])
        for r in frames:
            assert r["fmt"] == "npy8" and r["w"] == 40 and r["h"] == 48
            assert bytes(r["bytes"]) == decoded[r["frame"]].tobytes()
