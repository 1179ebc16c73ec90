"""RIFF/AVI MJPEG codec (video/avi.py): structure, roundtrip fidelity,
fps metadata, malformed rejection, and the video stage over it."""

import struct

import numpy as np
import pytest

from pii_filter_spark.video.avi import (
    FPS,
    decode_avi_mjpeg,
    encode_avi_mjpeg,
    synth_clip,
)


def test_container_structure_is_real_avi():
    data = encode_avi_mjpeg(synth_clip(1))
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    for marker in (b"hdrl", b"avih", b"strh", b"strf", b"movi", b"idx1",
                   b"MJPG", b"00dc"):
        assert marker in data, marker
    assert struct.unpack("<I", data[4:8])[0] == len(data) - 8
    # frame payloads are REAL JPEGs
    i = data.index(b"00dc")
    assert data[i + 8:i + 11] == b"\xff\xd8\xff"


def test_roundtrip_counts_dims_fps_fidelity():
    frames = synth_clip(5)
    fps, out = decode_avi_mjpeg(encode_avi_mjpeg(frames, quality=90))
    assert fps == FPS and len(out) == len(frames)
    for a, b in zip(frames, out):
        assert b.shape == a.shape
        assert float(np.abs(a.astype(int) - b.astype(int)).mean()) < 4.0


def test_malformed_rejected():
    with pytest.raises(ValueError):
        decode_avi_mjpeg(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        encode_avi_mjpeg([])


def test_video_stage_dispatch(spark):
    from pii_filter_spark.operators.image_stage import FRAME_STRIDE, sample_video_frames

    clips = [(f"v{i}", encode_avi_mjpeg(synth_clip(i))) for i in range(3)]
    # bytes without the RIFF/AVI magic (a WAVE file, opaque bytes) are
    # quarantined: no frames
    clips += [("wave", b"RIFF\x04\x00\x00\x00WAVE"), ("opaque", b"opaque")]
    df = spark.createDataFrame(clips, "image_id string, bytes binary")
    rows = sample_video_frames(df).collect()
    by_vid = {}
    for r in rows:
        by_vid.setdefault(r.video_id, []).append(r)
    assert sorted(by_vid) == ["v0", "v1", "v2"]
    for i in range(3):
        frames = synth_clip(i)
        got = sorted(by_vid[f"v{i}"], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in got] == list(range(0, len(frames), FRAME_STRIDE))
        assert (got[0].frame_w, got[0].frame_h) == (
            frames[0].shape[1], frames[0].shape[0]
        )
