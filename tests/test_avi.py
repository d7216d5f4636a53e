"""AVI/RIFF container codec + DCT frame payloads (video modality)."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from ds_raster_pipelines_spark import avi, codecs


def _gradient_frames(i: int = 3, n: int = 9) -> list[np.ndarray]:
    base = np.arange(64, dtype=np.uint8)[None, :]
    return [(base + np.uint8((i + 11 * k) % 97)).repeat(64, axis=0) for k in range(n)]


def test_avi_roundtrip_bit_exact():
    frames = _gradient_frames()
    blob = avi.encode_avi_dct(frames, fps=10)
    meta = avi.parse_avi(blob)
    assert (meta.w, meta.h, meta.fps, meta.n_frames) == (64, 64, 10, 9)
    assert meta.handler == b"DCT0"
    out = avi.decode_avi_dct(blob)
    assert all(np.array_equal(a, b) for a, b in zip(out, frames))


def test_avi_word_alignment_with_odd_payloads():
    """RIFF requires even chunk alignment; DCT payload lengths are often
    odd — the walk must stay in sync across padded chunks."""
    frames = _gradient_frames(n=12)
    payloads = [codecs.encode_dct(f, 90) for f in frames]
    assert any(len(p) % 2 for p in payloads), "test needs an odd payload"
    blob = avi.encode_avi(payloads, 64, 64)
    assert avi.frame_payloads(blob) == payloads


def test_avi_frame_sampling_slices_only_kept_frames():
    frames = _gradient_frames(n=10)
    blob = avi.encode_avi_dct(frames, fps=5)
    s = avi.decode_avi_dct(blob, every_n=3)
    assert len(s) == 4  # frames 0, 3, 6, 9
    assert np.array_equal(s[2], frames[6])
    p = avi.frame_payloads(blob, every_n=3, offset=1)
    assert p == [codecs.encode_dct(frames[k], 90) for k in (1, 4, 7)]


def test_avi_idx1_crosscheck_and_corruption():
    frames = _gradient_frames(n=4)
    blob = bytearray(avi.encode_avi_dct(frames))
    # corrupt the first idx1 entry's offset -> walk/index disagreement
    pos = bytes(blob).rfind(b"idx1")
    struct.pack_into("<I", blob, pos + 8 + 8, 9999)
    with pytest.raises(ValueError, match="idx1 disagrees"):
        avi.parse_avi(bytes(blob))


def test_avi_header_frame_count_mismatch():
    frames = _gradient_frames(n=4)
    blob = bytearray(avi.encode_avi_dct(frames))
    pos = bytes(blob).find(b"avih")
    struct.pack_into("<I", blob, pos + 8 + 16, 7)  # dwTotalFrames
    with pytest.raises(ValueError, match="frames"):
        avi.parse_avi(bytes(blob))


def _walk_outcome(buf: bytes):
    try:
        return avi.parse_avi(buf)
    except Exception as exc:  # compared by type and message
        return type(exc), str(exc)


def test_avi_native_walk_matches_python_on_truncated_strh(monkeypatch):
    """A walkable buffer ending inside a 'vids' stream header: the Python
    walk slices a short handler (b"DC"); the native walk must hand such a
    buffer back to it instead of reporting an empty handler."""
    from ds_raster_pipelines_spark import native

    def chunk(fourcc: bytes, data: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(data)) + data

    movi = chunk(b"LIST", b"movi" + chunk(b"00dc", b"\x01\x02"))
    idx1 = chunk(b"idx1", b"00dc" + struct.pack("<III", 0x10, 4, 2))
    strh = chunk(b"strh", b"vidsDC")  # 6 bytes: handler cut to 2 bytes
    hdrl = chunk(b"LIST", b"hdrl" + chunk(b"LIST", b"strl" + strh))
    body = b"AVI " + movi + idx1 + hdrl
    buf = b"RIFF" + struct.pack("<I", len(body)) + body

    got = _walk_outcome(buf)
    monkeypatch.setattr(native, "avi_scan", lambda _buf: None)
    want = _walk_outcome(buf)
    assert want.handler == b"DC" and want.frames == [(buf.index(b"00dc") + 8, 2)]
    assert got == want


def test_avi_rejects_non_avi():
    with pytest.raises(ValueError):
        avi.parse_avi(b"RIFF\x04\x00\x00\x00WAVE")
    with pytest.raises(ValueError):
        avi.parse_avi(b"garbage")


def test_avi_noise_frames_clear_psnr_gate():
    """input_hint's lossy gate (PSNR>=40dB) through the video container."""
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, size=(64, 64), dtype=np.uint8) for _ in range(3)]
    blob = avi.encode_avi([codecs.encode_dct(f, 95) for f in frames], 64, 64)
    for got, want in zip(avi.decode_avi_dct(blob), frames):
        assert codecs.psnr(want, got) >= 40.0


def test_unknown_handler_raises():
    blob = avi.encode_avi([b"\x00" * 10], 8, 8)
    hacked = blob.replace(b"vidsDCT0", b"vidsH264")
    with pytest.raises(NotImplementedError, match="H264"):
        avi.decode_avi_dct(hacked)


def test_video_frame_stats_kernel(spark):
    """ONE Python stage, flatMap shape, integer-exact sums vs closed form."""
    from ds_raster_pipelines_spark.sources.multimodal import (
        build_video_corpus,
        video_frame_stats,
        video_frames_for,
    )

    ids = spark.range(0, 7).withColumnRenamed("id", "i")
    media = build_video_corpus(ids)
    rows = video_frame_stats(media, every_n=2).orderBy("i", "frame_idx").collect()
    want = []
    for i in range(7):
        for k in range(0, 8 + i % 5, 2):
            want.append((i, k, 4096, 129024 + 4096 * ((i + 11 * k) % 97)))
    got = [(r.i, r.frame_idx, r.n_px, r.sum_px) for r in rows]
    assert got == want
    # sanity: synthesis helper agrees with the closed form it documents
    assert int(video_frames_for(5)[3].sum(dtype=np.int64)) == 129024 + 4096 * ((5 + 33) % 97)


def test_avi_mjpeg_real_jfif_frames_bit_exact():
    """r7 (VERDICT r6 item 4): MJPG-tagged AVI carries complete baseline
    JFIF streams per frame; gradient frames round-trip BIT-exactly."""
    from ds_raster_pipelines_spark.sources.multimodal import video_frames_for

    frames = video_frames_for(3)
    blob = avi.encode_avi_mjpeg(frames)
    meta = avi.parse_avi(blob)
    assert meta.handler == b"MJPG"
    # every payload is a self-contained JFIF stream (SOI..EOI)
    for payload in avi.frame_payloads(blob):
        assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
        assert b"JFIF" in payload[:32]
    for got, want in zip(avi.decode_avi_frames(blob), frames):
        assert np.array_equal(got, want)


def test_avi_mjpeg_sampled_decode_and_psnr_gate():
    """1-in-N sampling on the MJPG path + input_hint PSNR>=40dB gate on
    non-gradient (lossy-regime) frames."""
    rng = np.random.default_rng(11)
    # smooth low-frequency frames: band-limited content a 40 dB gate is
    # meaningful for (pure noise is the degenerate worst case for ANY
    # transform codec, JPEG included)
    y, x = np.mgrid[0:64, 0:64]
    frames = [
        np.clip(
            128
            + 60 * np.sin(2 * np.pi * (x * (k + 1) / 64.0))
            + 50 * np.cos(2 * np.pi * (y * (k + 2) / 80.0))
            + rng.normal(0, 2, (64, 64)),
            0, 255,
        ).astype(np.uint8)
        for k in range(6)
    ]
    blob = avi.encode_avi_mjpeg(frames, quality=90)
    sampled = avi.decode_avi_frames(blob, every_n=3)
    assert len(sampled) == 2
    for got, want in zip(sampled, frames[::3]):
        assert codecs.psnr(want, got) >= 40.0, codecs.psnr(want, got)


def test_video_frame_stats_kernel_mjpeg(spark):
    """The handler-dispatched kernel over an MJPG corpus matches the same
    closed form as the DCT corpus (identical oracle)."""
    from ds_raster_pipelines_spark.sources.multimodal import (
        build_video_corpus,
        video_frame_stats,
    )

    ids = spark.range(0, 5).withColumnRenamed("id", "i")
    media = build_video_corpus(ids, codec="mjpeg")
    rows = video_frame_stats(media, every_n=2).orderBy("i", "frame_idx").collect()
    want = []
    for i in range(5):
        for k in range(0, 8 + i % 5, 2):
            want.append((i, k, 4096, 129024 + 4096 * ((i + 11 * k) % 97)))
    assert [(r.i, r.frame_idx, r.n_px, r.sum_px) for r in rows] == want
