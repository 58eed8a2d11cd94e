"""Multimodal binary-column plumbing: audio features and video frame
sampling via mapInPandas — real RIFF/WAVE + MJPEG-AVI codecs (incl.
Java AudioSystem interop fixtures), with the remaining perceptual /
inter-frame codec boundaries failing soft."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row

from ocr_inference_spark.gifcodec import gif_encode_frames
from ocr_inference_spark.multimodal import (
    MEDIA_SCHEMA,
    audio_features,
    decode_audio,
    sample_video_frames,
    wav_encode,
)
from ocr_inference_spark.render import render_page


def test_audio_roundtrip_unit():
    t = np.arange(16000) / 16000.0
    x = 0.5 * np.sin(2 * np.pi * 440 * t)
    back, rate = decode_audio(wav_encode(x, 16000))
    assert rate == 16000
    assert np.allclose(back, x, atol=1e-4)


def test_real_codec_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_audio(b"ID3\x04mp3-ish bytes")


@pytest.fixture(scope="module")
def media_df(spark):
    t = np.arange(8000) / 8000.0
    clip = 0.25 * np.sin(2 * np.pi * 220 * t)
    frames = [render_page([f"frame {i}"]) for i in range(4)]
    rows = [
        Row(media_ref="a1", modality="audio",
            content=wav_encode(clip, 8000), mime="audio/wav", meta={}),
        Row(media_ref="a2", modality="audio",
            content=b"OggS fake", mime="audio/ogg", meta={}),
        Row(media_ref="v1", modality="video",
            content=gif_encode_frames(frames), mime="image/gif", meta={}),
    ]
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def test_audio_features_df(media_df):
    rows = {r["media_ref"]: r for r in audio_features(media_df).collect()}
    ok = rows["a1"]
    assert ok["status"] == "success"
    assert ok["n_samples"] == 8000 and ok["sample_rate"] == 8000
    assert abs(ok["duration_s"] - 1.0) < 1e-9
    assert 0.15 < ok["rms"] < 0.2  # sine rms = amp/sqrt(2) ~ 0.177
    assert rows["a2"]["status"] == "unsupported_codec"


def test_video_frame_sampling(media_df):
    frames = sample_video_frames(media_df, every_nth=2).collect()
    idx = sorted(r["frame_idx"] for r in frames)
    assert idx == [0, 2]
    for r in frames:
        assert r["status"] == "success"
        assert r["width"] > 0 and r["height"] > 0
        assert len(r["frame_png"]) > 0


def test_video_frames_feed_ocr(media_df, spark):
    """Sampled frames are PNG — the OCR page kernel applies unchanged."""
    from ocr_inference_spark.model import RecognitionSession, serialize_weights
    from ocr_inference_spark.page import process_page

    sess = RecognitionSession(serialize_weights())
    frame = sample_video_frames(media_df, every_nth=4).collect()[0]
    res = process_page(bytes(frame["frame_png"]), sess)
    assert res.status == "success"
    assert res.texts == ["frame 0"]


# ------------------------------------------------------- real RIFF codecs


def test_wav_roundtrip_all_depths():
    from ocr_inference_spark.multimodal import wav_decode, wav_encode

    rng = np.random.default_rng(7)
    t = np.arange(8000) / 16000.0
    x = np.clip(
        0.5 * np.sin(2 * np.pi * 440 * t) + 0.1 * rng.standard_normal(8000), -1, 1
    )
    # integer PCM: encode scales by 2^(b-1)-1, decode divides by 2^(b-1)
    # -> worst-case error 1.5 quantization steps
    for bits, tol in ((8, 1.5 / 128), (16, 1.5 / 32768), (24, 1.5 / 2**23),
                      (32, 1.5 / 2**31), (-32, 1e-7)):
        y, rate = wav_decode(wav_encode(x, 16000, bits=bits))
        assert rate == 16000 and len(y) == len(x)
        assert float(np.abs(y - x).max()) < tol, bits


def test_wav_stereo_downmix_and_extensible():
    import struct

    from ocr_inference_spark.multimodal import wav_decode, wav_encode

    t = np.arange(4000) / 8000.0
    x = 0.4 * np.sin(2 * np.pi * 220 * t)
    # opposite-phase stereo must downmix to ~silence
    y, rate = wav_decode(wav_encode(np.stack([x, -x], axis=1), 8000, bits=16))
    assert rate == 8000 and float(np.abs(y).max()) < 1e-4
    # WAVE_FORMAT_EXTENSIBLE: real format code lives in the SubFormat GUID
    blob = wav_encode(x, 8000, bits=16)
    assert blob[12:16] == b"fmt "
    ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
        + struct.pack("<HHI", 22, 16, 4)
        + struct.pack("<H", 1)
        + b"\x00\x00\x00\x00\x10\x00\x80\x00\x00\xaa\x00\x38\x9b\x71"
    )
    patched = bytearray(
        blob[:12] + b"fmt " + struct.pack("<I", len(ext)) + ext + blob[36:]
    )
    patched[4:8] = struct.pack("<I", len(patched) - 8)
    assert np.array_equal(wav_decode(bytes(patched))[0], wav_decode(blob)[0])


def test_wav_java_audiosystem_fixtures():
    """Decode WAVs written by Java's javax.sound.sampled (the interop
    oracle this repo uses for codecs) and recompute the known PCM."""
    from pathlib import Path

    from ocr_inference_spark.multimodal import decode_audio

    data = Path(__file__).parent / "data"
    y, rate = decode_audio((data / "java_pcm16_mono_8k.wav").read_bytes())
    assert rate == 8000 and len(y) == 1600
    i = np.arange(1600)
    v = np.rint(12000.0 * np.sin(2 * np.pi * 997.0 * i / 8000) + 4000.0 * i / 1600)
    assert np.array_equal(np.asarray(y) * 32768.0, v)
    # 8-bit unsigned stereo: downmix of the two deterministic ramps
    y2, rate2 = decode_audio((data / "java_pcm8_stereo_8k.wav").read_bytes())
    l = ((np.arange(800) * 7) % 256).astype(np.float64)
    r = (255 - (np.arange(800) * 13) % 256).astype(np.float64)
    exp = ((l - 128) / 128 + (r - 128) / 128) / 2
    assert rate2 == 8000 and np.allclose(y2, exp, atol=1e-12)


def test_avi_mjpeg_roundtrip_and_ocr():
    from ocr_inference_spark.model import RecognitionSession, serialize_weights
    from ocr_inference_spark.multimodal import avi_encode_mjpeg, iter_video_frames
    from ocr_inference_spark.page import process_page

    texts = ["the quick brown fox", "jumps over the lazy dog", "a spark native engine"]
    frames = [render_page([t]) for t in texts]
    avi = avi_encode_mjpeg(frames, fps=10, quality=95)
    assert avi[:4] == b"RIFF" and avi[8:12] == b"AVI "
    dec = list(iter_video_frames(avi))
    assert [d.shape for d in dec] == [f.shape for f in frames]
    for d, f in zip(dec, frames):
        assert int(np.abs(d.astype(int) - f.astype(int)).max()) < 20
    # MJPEG frames feed the OCR kernel unchanged (q95 is inside the
    # binarization margin, same invariance the driver-gate JPEG slots pin)
    sess = RecognitionSession(serialize_weights())
    for d, t in zip(dec, texts):
        from ocr_inference_spark.imgcodec import png_encode

        res = process_page(png_encode(d), sess)
        assert res.status == "success" and res.texts == [t]


def test_wav_avi_through_spark_kernels(spark):
    from ocr_inference_spark.multimodal import avi_encode_mjpeg, wav_encode

    t = np.arange(8000) / 8000.0
    clip = 0.25 * np.sin(2 * np.pi * 220 * t)
    frames = [render_page([f"frame {i}"]) for i in range(4)]
    rows = [
        Row(media_ref="w1", modality="audio",
            content=wav_encode(clip, 8000, bits=16), mime="audio/wav", meta={}),
        Row(media_ref="w2", modality="audio",
            content=b"RIFF\x10\x00\x00\x00WAVEjunk", mime="audio/wav", meta={}),
        Row(media_ref="m1", modality="video",
            content=avi_encode_mjpeg(frames, fps=4), mime="video/x-msvideo",
            meta={}),
        Row(media_ref="m2", modality="video",
            content=b"\x00\x01\x02\x03 not a container", mime="video/mp4", meta={}),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    arows = {r["media_ref"]: r for r in audio_features(df).collect()}
    assert arows["w1"]["status"] == "success"
    assert arows["w1"]["n_samples"] == 8000 and arows["w1"]["sample_rate"] == 8000
    assert 0.15 < arows["w1"]["rms"] < 0.2
    assert arows["w2"]["status"] == "decode_failed"
    vrows = sample_video_frames(df, every_nth=2).collect()
    by_ref = {}
    for r in vrows:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_ref["m1"]) == [0, 2]
    assert all(r["status"] == "success" for r in by_ref["m1"])
    assert by_ref["m2"][0]["status"] == "unsupported_codec"


def test_wav_truncated_and_garbage_raise_cleanly():
    import struct as _struct

    from ocr_inference_spark.multimodal import wav_decode, wav_encode

    with pytest.raises(ValueError):
        wav_decode(b"RIFF")
    blob = wav_encode(np.zeros(100), 8000)
    # chop the data chunk out entirely
    with pytest.raises(ValueError):
        truncated = bytearray(blob[:36])
        truncated[4:8] = _struct.pack("<I", len(truncated) - 8)
        wav_decode(bytes(truncated))


def _avi_second_frame_cut(keep: int | None, movi_consistent: bool) -> bytes:
    """A two-frame clip whose SECOND frame's JPEG keeps only its first
    ``keep`` bytes (None: all but the last 200), and the clip ends there
    (no idx1). The frame chunk and the RIFF size match the cut; the movi
    LIST size does too when ``movi_consistent``, and else still claims
    the uncut list."""
    import struct as _struct

    from ocr_inference_spark.multimodal import avi_encode_mjpeg

    frames = [render_page(["frame a"]), render_page(["frame b"])]
    avi = avi_encode_mjpeg(frames, fps=4)
    movi = avi.find(b"movi") - 8  # the LIST holding the frame chunks
    # the second '00dc' chunk after movi (later ones are idx1 entries)
    idx = avi.find(b"00dc", avi.find(b"00dc", movi) + 4)
    (sz,) = _struct.unpack("<I", avi[idx + 4 : idx + 8])
    keep = sz - 200 if keep is None else keep
    clip = bytearray(avi[: idx + 8 + keep])
    clip[idx + 4 : idx + 8] = _struct.pack("<I", keep)
    clip[4:8] = _struct.pack("<I", len(clip) - 8)
    assert clip[movi : movi + 4] == b"LIST"
    (movi_size,) = _struct.unpack("<I", clip[movi + 4 : movi + 8])
    assert movi_size > len(clip) - movi - 8
    if movi_consistent:
        clip[movi + 4 : movi + 8] = _struct.pack("<I", len(clip) - movi - 8)
    return bytes(clip)


def _sampled_rows(spark, content: bytes):
    rows = [
        Row(media_ref="bad", modality="video", content=content,
            mime="video/x-msvideo", meta={}),
    ]
    df = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    return sample_video_frames(df, every_nth=1).collect()


def test_avi_midstream_truncation_is_atomic(spark):
    """A clip whose SECOND frame is corrupt, with consistent RIFF and
    movi sizes, must yield exactly one decode_failed row — never a mix
    of success frames and a failure row for the same media_ref. The
    frame ends 150 bytes in, inside a Huffman table, where the decoder
    raises (a cut inside the scan data still decodes, zero-filled)."""
    out = _sampled_rows(spark, _avi_second_frame_cut(150, movi_consistent=True))
    assert len(out) == 1
    assert out[0]["status"] == "decode_failed" and out[0]["frame_idx"] == -1


def test_avi_overlong_movi_list_is_atomic(spark):
    """A clip cut 200 bytes before the end of its second frame, whose
    movi LIST claims more bytes than the file holds, is one
    decode_failed row too: the chunk walk runs off the file."""
    out = _sampled_rows(spark, _avi_second_frame_cut(None, movi_consistent=False))
    assert len(out) == 1
    assert out[0]["status"] == "decode_failed" and out[0]["frame_idx"] == -1


def test_avi_frame_cut_inside_a_jpeg_segment_is_one_failed_row(spark):
    """A clip whose only frame ends inside a JPEG header segment (150
    bytes in, inside a Huffman table) is one decode_failed row: the
    decoder raises ValueError, not an error the sampler lets through to
    fail the task."""
    import struct as _struct

    from ocr_inference_spark.jpegcodec import jpeg_decode
    from ocr_inference_spark.multimodal import avi_encode_mjpeg

    avi = avi_encode_mjpeg([render_page(["frame a"])], fps=4)
    movi = avi.find(b"movi") - 8  # the LIST holding the frame chunks
    idx = avi.find(b"00dc", movi)
    frame = avi[idx + 8 : idx + 8 + 150]
    with pytest.raises(ValueError, match="runs past the end"):
        jpeg_decode(frame)
    clip = bytearray(avi[:idx] + b"00dc" + _struct.pack("<I", len(frame)) + frame)
    assert clip[movi : movi + 4] == b"LIST"
    clip[movi + 4 : movi + 8] = _struct.pack("<I", len(clip) - movi - 8)
    clip[4:8] = _struct.pack("<I", len(clip) - 8)
    rows = [
        Row(media_ref="cut", modality="video", content=bytes(clip),
            mime="video/x-msvideo", meta={}),
    ]
    out = sample_video_frames(spark.createDataFrame(rows, schema=MEDIA_SCHEMA)).collect()
    assert len(out) == 1
    assert out[0]["status"] == "decode_failed" and out[0]["frame_idx"] == -1


def test_clip_corpus_rotates_avi_and_gif(spark):
    """q42's synthetic clip corpus must carry BOTH short-clip
    containers (even doc_id -> MJPEG-AVI, odd -> animated GIF) and the
    GIF clips' frames must come out at the clip's logical-screen width
    (widest page among its frames), padded with paper."""
    from ocr_inference_spark.layout import _SPEC_LINE_POOL, layout_spec
    from ocr_inference_spark.multimodal import synth_mjpeg_corpus
    from ocr_inference_spark.glyphs import encode_text, line_pixel_width
    from ocr_inference_spark.render import PAGE_MARGIN
    from ocr_inference_spark.io import read_table

    docs = read_table(spark, "/root/testdata/sf0.001/documents.parquet")
    media = synth_mjpeg_corpus(spark, layout_spec(docs, n_docs=8))
    rows = media.select("media_ref", "mime").collect()
    kinds = {r["media_ref"][:3] for r in rows}
    assert kinds == {"avi", "gif"}
    assert {r["mime"] for r in rows} == {"video/x-msvideo", "image/gif"}

    sampled = {
        (r["media_ref"], r["frame_idx"]): r
    for r in sample_video_frames(media, every_nth=2).collect()}
    assert all(r["status"] == "success" for r in sampled.values())
    page_w = [line_pixel_width(len(encode_text(t))) + 2 * PAGE_MARGIN
              for t in _SPEC_LINE_POOL]
    # every GIF frame is as wide as its clip's widest page
    gif_rows = [r for r in sampled.values() if r["media_ref"].startswith("gif")]
    assert gif_rows
    for r in gif_rows:
        assert r["width"] in {max(page_w[:n]) for n in (1, 2, 3)}
