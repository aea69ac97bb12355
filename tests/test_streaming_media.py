"""Streaming (availableNow exactly-once) + multimodal operator tests."""

import numpy as np
import pytest

from rio_color_spark.operators.color import index_and_color
from rio_color_spark.operators.media import resize_images, sample_frames, with_band_stats
from rio_color_spark.sources import codec
from rio_color_spark.sources.images import generate_pandas, images_df
from rio_color_spark.streaming.pipeline import stream_color_correct

OPS = "gamma rgb 1.2 sigmoidal rgb 10 0.2"


def test_stream_color_correct_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    images_df(spark, 120).write.parquet(inp)

    q = stream_color_correct(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ck"), OPS
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(tmp_path / "out"))
    # batch twin of the streaming stage (same fused operator)
    batch = index_and_color(spark.read.parquet(inp), OPS)
    assert got.count() == 120
    assert got.exceptAll(batch).isEmpty()
    assert batch.exceptAll(got).isEmpty()

    # exactly-once: draining again with nothing new adds nothing
    q2 = stream_color_correct(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ck"), OPS
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 120

    # incremental: new files picked up on the next drain
    images_df(spark, 150).filter("image_id >= 'img00000120'").write.mode(
        "append"
    ).parquet(inp)
    q3 = stream_color_correct(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "ck"), OPS
    )
    q3.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "out")).count() == 150


def test_band_stats(spark):
    df = images_df(spark, 30)
    stats = {(r["image_id"], r["band"]): r for r in with_band_stats(df).collect()}
    src = generate_pandas(np.arange(30))
    from rio_color_spark.functions.utils import to_math_type

    for _, row in src.iterrows():
        arr = to_math_type(codec.decode(row["bytes"], row["w"], row["h"], row["fmt"]))
        for b in range(arr.shape[0]):
            r = stats[(row["image_id"], b)]
            assert r["mean"] == pytest.approx(float(arr[b].mean()))
            assert r["std"] == pytest.approx(float(arr[b].std()))


def test_resize_images(spark):
    df = images_df(spark, 40)
    out = {r["image_id"]: r for r in resize_images(df, 8, 8).collect()}
    src = generate_pandas(np.arange(40))
    for _, row in src.iterrows():
        r = out[row["image_id"]]
        assert (r["w"], r["h"]) == (8, 8)
        arr = codec.decode(r["bytes"], 8, 8, r["fmt"])
        src_arr = codec.decode(row["bytes"], row["w"], row["h"], row["fmt"])
        assert arr.shape[1:] == (8, 8)
        # nearest-neighbor: every output pixel exists in the source band
        for b in range(arr.shape[0]):
            assert np.isin(arr[b], src_arr[b]).all()


def test_sample_frames_passthrough_and_stub(spark):
    df = images_df(spark, 10)
    frames = sample_frames(df).collect()
    assert len(frames) == 10
    assert all(f["frame"] == 0 for f in frames)

    # a video fmt row fails the task with NotImplementedError semantics
    vid = df.limit(1).selectExpr(
        "image_id", "bytes", "w", "h", "'mp4' as fmt", "caption", "phash"
    )
    with pytest.raises(Exception, match="NotImplementedError|decoder library"):
        sample_frames(vid).collect()


def test_sample_frames_every_k_on_multiframe_clips(spark):
    """npyseq8 clips exercise the real sampling arithmetic: frames
    0, k, 2k, ... are emitted with the correct per-frame payloads."""
    h = w = 4
    fsize = 3 * h * w
    rows = []
    for n, n_frames in ((0, 7), (1, 1), (2, 12)):
        payload = bytes(
            bytearray((n * 100 + f * 10 + p) % 251 for f in range(n_frames) for p in range(fsize))
        )
        rows.append((f"clip{n}", payload, w, h, "npyseq8"))
    df = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string"
    )

    for k, want in ((1, {("clip0", 7), ("clip1", 1), ("clip2", 12)}),
                    (3, {("clip0", 3), ("clip1", 1), ("clip2", 4)})):
        out = sample_frames(df, every_k=k).collect()
        got = {}
        for r in out:
            got.setdefault(r["image_id"], []).append(r)
        assert {(cid, len(fs)) for cid, fs in got.items()} == want
        for cid, fs in got.items():
            n = int(cid[4:])
            for r in fs:
                assert r["frame"] % k == 0
                assert r["fmt"] == "npy8" and len(r["bytes"]) == fsize
                # payload of frame f is the f-th slice of the clip
                f = r["frame"]
                expect = bytes(
                    bytearray((n * 100 + f * 10 + p) % 251 for p in range(fsize))
                )
                assert bytes(r["bytes"]) == expect

    with pytest.raises(ValueError, match="every_k"):
        sample_frames(df, every_k=0)
