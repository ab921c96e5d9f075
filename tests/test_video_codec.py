"""MJPEG-AVI video decode (textops/multimodal.py): RIFF/AVI container
walk + per-frame baseline-JPEG decode, with FRAME SAMPLING (the stats
kernel decodes only first/middle/last — the 100 TB pattern where the
container walk is cheap and per-frame decode is the budget)."""

from __future__ import annotations

import numpy as np
import pytest

from alix_spark.textops.jpeg import encode_jpeg
from alix_spark.textops.multimodal import (
    decode_video_frames,
    encode_mjpeg_avi,
)


def _clip(n_frames=5, h=16, w=16, seed=0):
    # flat-luma frames with a known per-frame value: DC-only JPEG is
    # exact, so sampled luma means are asserted exactly
    frames = []
    for k in range(n_frames):
        val = (40 + 30 * k) % 256
        frames.append(encode_jpeg(np.full((h, w), val, dtype=np.uint8)))
    return frames


def test_container_roundtrip():
    frames = _clip(5)
    payload = encode_mjpeg_avi(frames, fps=25.0)
    got, fps = decode_video_frames(payload)
    assert fps == pytest.approx(25.0, rel=1e-4)
    assert [bytes(f) for f in got] == [bytes(f) for f in frames]


def test_odd_length_frames_word_aligned():
    # JPEG payloads of odd byte length force the RIFF pad-byte path
    frames = _clip(3, h=9, w=7)
    lens = [len(f) for f in frames]
    assert any(ln & 1 for ln in lens) or True  # alignment exercised below
    payload = encode_mjpeg_avi(frames + [b"x" * 7], fps=10.0)
    got, _ = decode_video_frames(payload)
    assert len(got) == 4 and bytes(got[3]) == b"x" * 7


def test_non_avi_raises():
    with pytest.raises(NotImplementedError):
        decode_video_frames(b"\x00\x00\x00 ftypisom....")  # MP4


def test_video_stats_kernel(spark):
    import pandas as pd

    from alix_spark.textops.multimodal import decode_video_stats

    payloads = [
        (0, encode_mjpeg_avi(_clip(5), fps=25.0)),
        (1, encode_mjpeg_avi(_clip(2, h=8, w=24), fps=10.0)),
    ]
    media = spark.createDataFrame(
        pd.DataFrame(payloads, columns=["doc_id", "payload"])
    )
    rows = {r["doc_id"]: r for r in decode_video_stats(media).collect()}
    r0 = rows[0]
    assert r0["n_frames"] == 5 and r0["fps"] == pytest.approx(25.0, rel=1e-4)
    assert r0["duration_ms"] == pytest.approx(200.0, rel=1e-4)
    assert (r0["height"], r0["width"]) == (16, 16)
    # flat DC-only frames decode exactly: luma(frame k) = 40 + 30k
    assert r0["mean_luma_first"] == pytest.approx(40.0)
    assert r0["mean_luma_mid"] == pytest.approx(100.0)
    assert r0["mean_luma_last"] == pytest.approx(160.0)
    r1 = rows[1]
    assert r1["n_frames"] == 2 and (r1["height"], r1["width"]) == (8, 24)


def test_video_stream_after_audio_stream():
    """An AVI declaring its audio stream first carries frames as 01dc
    chunks between 00wb audio chunks: the first vids stream's chunks
    are the frames."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + len(body).to_bytes(4, "little") + body + (
            b"\x00" if len(body) & 1 else b""
        )

    def strl(fcc_type: bytes) -> bytes:
        return chunk(b"LIST", b"strl" + chunk(b"strh", fcc_type + bytes(52)))

    frames = _clip(3)
    avih = chunk(b"avih", (40000).to_bytes(4, "little") + bytes(52))
    hdrl = chunk(b"LIST", b"hdrl" + avih + strl(b"auds") + strl(b"vids"))
    movi = chunk(
        b"LIST",
        b"movi"
        + b"".join(chunk(b"00wb", b"pcm!" * 3) + chunk(b"01dc", f) for f in frames),
    )
    body = b"AVI " + hdrl + movi
    got, fps = decode_video_frames(b"RIFF" + len(body).to_bytes(4, "little") + body)
    assert fps == pytest.approx(25.0, rel=1e-4)
    assert [bytes(f) for f in got] == [bytes(f) for f in frames]
