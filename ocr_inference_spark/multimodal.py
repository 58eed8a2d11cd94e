"""Multimodal media columns: images, audio, video as opaque binary +
typed metadata, processed by Arrow-batched ``worker.map_rows`` kernels.

Images are fully real (imgcodec + jpegcodec + faxcodec). Audio and
video are real for the classic RIFF containers, implemented from the
published specs (no codec libraries in this container):

- ``decode_audio`` parses RIFF/WAVE (PCM 8/16/24/32-bit, IEEE float
  32/64-bit, WAVE_FORMAT_EXTENSIBLE, multi-channel downmixed to mono);
  perceptual codecs (mp3/ogg/flac/aac) remain honest
  ``NotImplementedError`` boundaries;
- ``sample_video_frames`` parses MJPEG-in-AVI (RIFF 'AVI ' — the
  classic scanner/camera archive layout; every ``..dc``/``..db`` movi
  chunk is a baseline JPEG decoded by jpegcodec) and animated GIF;
  inter-frame codecs (h264/vp9/av1) remain ``NotImplementedError``.

Everything Spark-side — schemas, partitioning, UDF signatures, Arrow
batch shapes — is the same regardless of container; a production
deployment extends the two decode functions with soundfile/pyav calls
behind identical signatures for the formats that need external codecs.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .imgcodec import png_encode
from .worker import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video
        T.StructField("content", T.BinaryType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

AUDIO_FEATURES_SCHEMA = (
    "media_ref string, n_samples long, sample_rate int, duration_s double,"
    " rms double, peak double, zero_crossings long, status string"
)

VIDEO_FRAMES_SCHEMA = (
    "media_ref string, frame_idx int, width int, height int,"
    " mean_luma double, frame_png binary, status string"
)


def _chunk(cid: bytes, body: bytes) -> bytes:
    """RIFF chunk: id + little-endian size + body + word-alignment pad —
    the ONE place the convention lives (WAV and AVI writers both use it)."""
    return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")


def _list(kind: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", kind + body)


# ------------------------------------------------------------------ audio


def wav_encode(
    samples: np.ndarray, sample_rate: int = 16000, bits: int = 16
) -> bytes:
    """float samples in [-1, 1] (1-D mono or (n, ch)) -> RIFF/WAVE.

    ``bits``: 8 (unsigned PCM), 16/24/32 (signed PCM), or -32 for IEEE
    float32 (format code 3) — the layouts real speech corpora ship."""
    x = np.clip(np.asarray(samples, dtype=np.float64), -1.0, 1.0)
    if x.ndim == 1:
        x = x[:, None]
    elif x.ndim != 2:
        raise ValueError(f"samples must be 1-D mono or (n, ch), got {x.shape}")
    ch = x.shape[1]
    if bits == -32:
        fmt_code, width = 3, 4
        payload = x.astype("<f4").tobytes()
    elif bits == 8:
        fmt_code, width = 1, 1
        payload = (np.rint(x * 127.0) + 128).astype(np.uint8).tobytes()
    elif bits in (16, 32):
        fmt_code, width = 1, bits // 8
        scale = float(2 ** (bits - 1) - 1)
        payload = np.rint(x * scale).astype(f"<i{width}").tobytes()
    elif bits == 24:
        fmt_code, width = 1, 3
        ints = np.rint(x * float(2**23 - 1)).astype("<i4")
        b4 = ints.reshape(-1).view(np.uint8).reshape(-1, 4)
        payload = np.ascontiguousarray(b4[:, :3]).tobytes()  # little-endian: low 3 bytes
    else:
        raise ValueError(f"unsupported bits {bits}")
    block = ch * width
    fmt = struct.pack(
        "<HHIIHH", fmt_code, ch, sample_rate, sample_rate * block, block, 8 * width
    )
    chunks = _chunk(b"fmt ", fmt) + _chunk(b"data", payload)
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def wav_decode(content: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE -> (mono float64 samples, sample_rate).

    Walks the chunk list per the RIFF spec (skipping unknown chunks,
    honoring odd-size pad bytes), supports PCM (format 1) at 8/16/24/32
    bits, IEEE float (format 3) at 32/64 bits, and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE — real format code in the SubFormat
    GUID). Multi-channel audio is downmixed to mono by channel mean."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, min(len(content), 8 + struct.unpack("<I", content[4:8])[0])
    fmt = None
    data = None
    while pos + 8 <= end:
        cid = content[pos : pos + 4]
        (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
        body = content[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack("<HHIIHH", body[:16])
            if fmt[0] == 0xFFFE:  # EXTENSIBLE: real code leads the GUID
                if size < 40:
                    raise ValueError("truncated WAVE_FORMAT_EXTENSIBLE fmt chunk")
                (real_code,) = struct.unpack("<H", body[24:26])
                fmt = (real_code,) + fmt[1:]
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt or data chunk")
    fmt_code, ch, rate, _byte_rate, _block, bits = fmt
    if ch < 1:
        raise ValueError("WAVE with zero channels")
    if fmt_code == 1:
        if bits == 8:
            x = (np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
        elif bits in (16, 32):
            x = np.frombuffer(data, dtype=f"<i{bits // 8}").astype(np.float64)
            x /= float(2 ** (bits - 1))
        elif bits == 24:
            raw = np.frombuffer(data[: len(data) - len(data) % 3], dtype=np.uint8)
            b = raw.reshape(-1, 3).astype(np.int64)
            v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
            v -= (v >> 23) << 24  # sign-extend
            x = v.astype(np.float64) / float(2**23)
        else:
            raise ValueError(f"unsupported PCM bit depth {bits}")
    elif fmt_code == 3:
        if bits == 32:
            x = np.frombuffer(data, dtype="<f4").astype(np.float64)
        elif bits == 64:
            x = np.frombuffer(data, dtype="<f8").astype(np.float64)
        else:
            raise ValueError(f"unsupported float bit depth {bits}")
    else:
        raise NotImplementedError(
            f"WAVE format code {fmt_code} needs an external codec "
            "(only PCM and IEEE float decode here)"
        )
    if ch > 1:
        x = x[: len(x) - len(x) % ch].reshape(-1, ch).mean(axis=1)
    return x, rate


def decode_audio(content: bytes) -> tuple[np.ndarray, int]:
    """-> (mono float64 samples, sample_rate). RIFF/WAVE decodes here
    (``wav_decode``); perceptual codecs stay honest NotImplementedError
    boundaries."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        return wav_decode(content)
    raise NotImplementedError(
        "perceptual audio codecs (mp3/ogg/flac/aac) are not available "
        "in this container; RIFF/WAVE decodes here"
    )


def audio_features(media_df: DataFrame) -> DataFrame:
    """Audio binary column -> per-clip acoustic features (a
    ``worker.map_rows`` kernel: one decode+feature pass per clip)."""

    def rows(r):
        try:
            x, rate = decode_audio(r.content)
            feats = (
                len(x),
                rate,
                len(x) / rate if rate else 0.0,
                float(np.sqrt(np.mean(x**2))) if len(x) else 0.0,
                float(np.abs(x).max()) if len(x) else 0.0,
                int(np.count_nonzero(np.diff(np.signbit(x)))),
                "success",
            )
        except (NotImplementedError, ValueError, struct.error) as exc:
            status = (
                "unsupported_codec" if isinstance(exc, NotImplementedError) else "decode_failed"
            )
            feats = (0, 0, 0.0, 0.0, 0.0, 0, status)
        yield (r.media_ref, *feats)

    audio = media_df.where(F.col("modality") == "audio").select("media_ref", "content")
    return map_rows(audio, AUDIO_FEATURES_SCHEMA, lambda: rows)


# ------------------------------------------------------------------ video


def avi_encode_mjpeg(frames: list[np.ndarray], fps: int = 25, quality: int = 90) -> bytes:
    """uint8 frames -> RIFF 'AVI ' with one MJPG video stream: LIST hdrl
    (avih + strl{strh 'vids'/'MJPG', strf BITMAPINFOHEADER}), LIST movi
    of '00dc' baseline-JPEG chunks (every frame a keyframe — the MJPEG
    property), and an idx1 index — the layout OpenDV-era scanners and
    cameras write (AVI RIFF form, MSDN/OpenDML public spec)."""
    from .jpegcodec import jpeg_encode

    if not frames:
        raise ValueError("no frames")
    h, w = frames[0].shape[:2]
    blobs = [jpeg_encode(f, quality=quality) for f in frames]
    movi_body = bytearray()
    index = bytearray()
    for b in blobs:
        # idx1 offsets point at the chunk ID, relative to the 'movi'
        # fourcc (the convention every mainstream reader uses)
        index += b"00dc" + struct.pack("<III", 0x10, 4 + len(movi_body), len(b))
        movi_body += _chunk(b"00dc", b)
    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, 0, 0, 0x10, len(blobs), 0, 1, 0, w, h, 0, 0, 0, 0,
    )
    strh = b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIIIhhhh", 0, 0, 0, 0, 1, fps, 0, len(blobs), 0, 0xFFFFFFFF, 0,
        0, 0, w, h,
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0x47504A4D, w * h * 3, 0, 0, 0, 0)
    hdrl = _list(b"hdrl", _chunk(b"avih", avih)
                 + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = _list(b"movi", bytes(movi_body))
    idx1 = _chunk(b"idx1", bytes(index))
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _iter_avi_mjpeg_frames(content: bytes):
    """Walk the RIFF tree to LIST movi and decode every video chunk
    ('NNdc'/'NNdb' — compressed/uncompressed-flagged DIB slots both
    carry JPEG bits under MJPG). Tolerant reader: unknown chunks and
    LIST rec groupings are skipped by size, per the RIFF rules."""
    from .jpegcodec import jpeg_decode

    (riff_size,) = struct.unpack("<I", content[4:8])
    end = min(len(content), 8 + riff_size)

    def walk(pos, end):
        while pos + 8 <= end:
            cid = content[pos : pos + 4]
            (size,) = struct.unpack("<I", content[pos + 4 : pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                kind = content[body_start : body_start + 4]
                if kind in (b"movi", b"rec "):
                    yield from walk(body_start + 4, body_start + size)
            elif cid[2:4] in (b"dc", b"db") and size:
                yield content[body_start : body_start + size]
            pos = body_start + size + (size & 1)

    for blob in walk(12, end):
        yield jpeg_decode(blob)


def iter_video_frames(content: bytes):
    if content[:4] == b"RIFF" and content[8:12] == b"AVI ":
        yield from _iter_avi_mjpeg_frames(content)
        return
    if content[:4] == b"GIF8":
        # animated GIF is the web's other short-clip container; frames
        # come out composited full-canvas (gifcodec handles disposal /
        # transparency), so the sampler treats it exactly like MJPEG
        from .gifcodec import iter_gif_frames

        yield from iter_gif_frames(content)
        return
    raise NotImplementedError(
        "inter-frame video codecs (h264/vp9/av1) are not available in "
        "this container; MJPEG-AVI and animated GIF decode here"
    )


def sample_video_frames(media_df: DataFrame, every_nth: int = 2) -> DataFrame:
    """Video binary column -> sampled frames with per-frame stats
    (frame-sample as a ``worker.map_rows`` kernel; frames re-encoded as
    PNG so downstream image operators — including the OCR page kernel —
    apply unchanged)."""

    def rows(r):
        # per-media rows commit ATOMICALLY: a clip whose Nth frame is
        # corrupt yields ONE failure row, never a mix of success frames
        # and a failure row for the same ref
        pending: list[tuple] = []
        status = "empty"
        try:
            for i, frame in enumerate(iter_video_frames(r.content)):
                if i % every_nth:
                    continue
                pending.append(
                    (
                        r.media_ref,
                        i,
                        int(frame.shape[1]),
                        int(frame.shape[0]),
                        float(frame.mean()),
                        png_encode(frame),
                        "success",
                    )
                )
        except (NotImplementedError, ValueError, struct.error) as exc:
            pending = []
            status = (
                "unsupported_codec"
                if isinstance(exc, NotImplementedError)
                else "decode_failed"
            )
        yield from pending or [(r.media_ref, -1, 0, 0, 0.0, b"", status)]

    video = (
        media_df.where(F.col("modality") == "video")
        .select("media_ref", "content")
        .repartition("media_ref")
    )
    return map_rows(video, VIDEO_FRAMES_SCHEMA, lambda: rows)


# ---------------------------------------------- oracle-checkable corpora
# (the q34/q38 recipe applied to audio/video: media synthesized from a
# deterministic SQL-expressible rule, so DuckDB can compute the expected
# kernel output closed-form while Spark must actually build and decode
# real WAV/AVI containers to match)


def synth_wav_corpus(spark, docs_df: DataFrame, n_docs: int = 32) -> DataFrame:
    """Per doc (doc_id < n_docs): a 16-bit mono 8 kHz WAV whose PCM is
    the deterministic ramp  v_i = ((doc_id*7919 + i*31) % 20001) - 10000
    over  n = 1000 + 10*doc_id  samples — every acoustic feature
    (duration, rms, zero crossings) is then closed-form in SQL."""

    def rows(r):
        d = int(r.doc_id)
        n = 1000 + 10 * d
        i = np.arange(n, dtype=np.int64)
        v = (d * 7919 + i * 31) % 20001 - 10000
        # scale by 1/32767 so wav_encode's rint(x*32767) lands
        # exactly back on v: the container carries v verbatim
        yield f"wav_{d:08d}", "audio", wav_encode(v / 32767.0, 8000, bits=16), "audio/wav", {}

    src = (
        docs_df.select(F.col("doc_id").cast("long").alias("doc_id"))
        .where(F.col("doc_id") < n_docs)
    )
    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(src.repartition(n_parts, "doc_id"), MEDIA_SCHEMA, lambda: rows)


def synth_mjpeg_corpus(spark, spec_df: DataFrame) -> DataFrame:
    """Per layout-spec row: a short clip whose frame j (j < n_lines) is
    the single-line spec page for pool line j — frame count and pixel
    dimensions are closed-form from the spec (the q34 geometry).
    Containers ROTATE per doc so the driver gate exercises both clip
    decoders: even doc_ids build an MJPEG-AVI (frames at their natural
    per-page sizes), odd doc_ids an animated GIF (one logical screen
    per clip, so frames pad right to the widest page with paper — the
    GIF canvas model; q42's oracle mirrors both width rules)."""

    def setup():
        from .gifcodec import gif_encode_frames
        from .layout import _SPEC_LINE_POOL
        from .render import PAPER, render_page

        def rows(r):
            d = int(r.doc_id)
            frames = [render_page([_SPEC_LINE_POOL[j]]) for j in range(int(r.n_lines))]
            if d % 2 == 0:
                ref, mime = f"avi_{d:08d}", "video/x-msvideo"
                content = avi_encode_mjpeg(frames, fps=10, quality=95)
            else:
                wmax = max(f.shape[1] for f in frames)
                padded = [
                    np.pad(f, ((0, 0), (0, wmax - f.shape[1])), constant_values=PAPER)
                    for f in frames
                ]
                ref, mime = f"gif_{d:08d}", "image/gif"
                content = gif_encode_frames(padded, delay_cs=10)
            yield ref, "video", content, mime, {}

        return rows

    n_parts = spark.sparkContext.defaultParallelism
    return map_rows(spec_df.repartition(n_parts, "doc_id"), MEDIA_SCHEMA, setup)
