"""Deterministic text-recognition "network" + executor-side session cache.

Plays the role of the reference's per-line ONNX CTC recognizer
(BDRC/inference.py:279-429): ``forward`` maps a binarized line image to
per-timestep vocab logits (one timestep per pixel column); CTC decoding
(kernels/ctc.py) turns the logit matrix into text. The "weights" are the
glyph templates (glyphs.py) serialized to bytes, shipped to executors
via ``SparkContext.broadcast`` exactly as real ONNX weight bytes would
be, and materialized into a process-global session once per executor —
mirroring the reference's single ``ort.InferenceSession`` per process
(BDRC/inference.py:128-130,294) so executors stay warm across
mapInPandas batches.
"""

from __future__ import annotations

import io

import numpy as np

from .glyphs import GLYPH_H, GLYPH_TOP, TEMPLATES, VOCAB_SIZE
from .worker import worker_init


def serialize_weights(templates: np.ndarray = TEMPLATES) -> bytes:
    """Weights -> bytes (what a real deployment would read from the model
    registry; here: the .npy wire format)."""
    buf = io.BytesIO()
    np.save(buf, templates.astype(np.uint8))
    return buf.getvalue()


def deserialize_weights(blob: bytes) -> np.ndarray:
    return np.load(io.BytesIO(blob))


_POPCOUNT16 = np.unpackbits(
    np.arange(65536, dtype=np.uint16).view(np.uint8)
).reshape(65536, 16).sum(axis=1).astype(np.uint8)


class RecognitionSession:
    """The 'InferenceSession': holds weights, exposes batched forward.

    Glyph columns are bit-packed into uint16 words; per-column vocab
    distances are Hamming distances computed as popcount(xor) via a
    16-bit lookup table — 16x less data movement than materializing the
    (T, V, GLYPH_H) comparison tensor.
    """

    def __init__(self, weight_blob: bytes):
        self.templates = deserialize_weights(weight_blob).astype(np.int16)
        if self.templates.shape != (VOCAB_SIZE, GLYPH_H):
            raise ValueError(f"bad weight shape {self.templates.shape}")
        self._template_pop = self.templates.sum(axis=1)  # (V,)
        bits = (1 << np.arange(GLYPH_H, dtype=np.uint32))
        self._templates_packed = (
            (self.templates.astype(np.uint32) * bits[None, :]).sum(axis=1)
        ).astype(np.uint16)  # (V,)

    def features(self, line_img: np.ndarray) -> np.ndarray:
        """Line ink {0,1} (H,W) -> per-column glyph features (W, GLYPH_H).

        Each column is anchored at its first ink row (the strut rule of
        the band), making the features invariant to residual sub-band
        vertical offsets left by deskew/dewarp resampling.
        """
        h, w = line_img.shape
        if h == 0 or w == 0:
            return np.zeros((0, GLYPH_H), dtype=np.int16)
        any_ink = line_img.any(axis=0)
        first = np.where(any_ink, line_img.argmax(axis=0), 0)
        rows = first[None, :] + GLYPH_TOP + np.arange(GLYPH_H)[:, None]  # (GH, W)
        valid = rows < h
        rows_c = np.minimum(rows, h - 1)
        feats = line_img[rows_c, np.arange(w)[None, :]].astype(np.int16)
        feats = np.where(valid, feats, 0)
        feats = np.where(any_ink[None, :], feats, 0)
        return feats.T  # (W, GLYPH_H)

    def _pack(self, feats: np.ndarray) -> np.ndarray:
        """(W, GLYPH_H) bits -> (W,) uint16 packed columns."""
        bits = (1 << np.arange(GLYPH_H, dtype=np.uint32))
        return ((feats.astype(np.uint32) * bits[None, :]).sum(axis=1)).astype(
            np.uint16
        )

    def _logits_from_packed(self, packed: np.ndarray) -> np.ndarray:
        """(W,) packed columns -> (W, V) logits via popcount(xor)."""
        xor = packed[:, None] ^ self._templates_packed[None, :]  # (W, V) uint16
        d = _POPCOUNT16[xor].astype(np.float32)
        d[:, 0] = _POPCOUNT16[packed]  # blank: distance to empty column
        return -2.0 * d

    def forward(self, line_img: np.ndarray) -> np.ndarray:
        """Line ink -> logits (T=W, V): char score = -2*hamming(col,
        template); blank score = -2*popcount(col). A column matching a
        template wins; an (almost-)empty column yields blank."""
        return self._logits_from_packed(self._pack(self.features(line_img)))

    def forward_batch(self, line_imgs: list[np.ndarray]) -> list[np.ndarray]:
        """Batched call — concatenates all lines' packed columns into one
        vectorized pass (the reference runs per line; we batch, cf.
        SURVEY.md I31)."""
        if not line_imgs:
            return []
        packed = [self._pack(self.features(img)) for img in line_imgs]
        widths = [p.shape[0] for p in packed]
        logits = self._logits_from_packed(np.concatenate(packed) if packed else
                                          np.zeros(0, dtype=np.uint16))
        out = []
        pos = 0
        for w in widths:
            out.append(logits[pos : pos + w])
            pos += w
        return out


_SESSION_CACHE: dict[str, RecognitionSession] = {}
# id(blob) -> (blob, digest): the broadcast value is a stable object per
# worker, so the digest of a multi-MB blob is computed once per process
# instead of once per Arrow batch. Capped to the 2 most RECENTLY USED
# blobs (LRU — hits re-insert, so alternating live blobs stay cached) —
# a long-lived executor that sees a fresh broadcast per job must not
# pin every multi-MB weight blob it ever decoded (id() keys are only
# meaningful while the blob object is alive, so entries for dead blobs
# are unreachable garbage anyway).
_DIGEST_CACHE: dict[int, tuple[bytes, str]] = {}
_DIGEST_CACHE_MAX = 2


def get_session(weight_blob: bytes) -> RecognitionSession:
    """Executor-global session keyed by weight CONTENT — constructed once
    per Python worker process and reused across Arrow batches. md5 of
    the blob is an honest content key (Python's bytes hash is per-process
    salted, so it identifies nothing across processes); the digest is
    memoized per blob object so it is not recomputed per batch.

    Every OCR kernel calls this first, so it also installs the worker's
    once-per-process import guard (worker.worker_init)."""
    import hashlib

    worker_init()
    cached = _DIGEST_CACHE.get(id(weight_blob))
    if cached is not None and cached[0] is weight_blob:
        key = cached[1]
        # LRU, not FIFO: re-insert on hit so 3+ live blobs alternating
        # per batch cannot evict the hottest entry every round
        _DIGEST_CACHE.pop(id(weight_blob))
        _DIGEST_CACHE[id(weight_blob)] = cached
    else:
        key = hashlib.md5(weight_blob).hexdigest()
        while len(_DIGEST_CACHE) >= _DIGEST_CACHE_MAX:
            _DIGEST_CACHE.pop(next(iter(_DIGEST_CACHE)))
        _DIGEST_CACHE[id(weight_blob)] = (weight_blob, key)
    sess = _SESSION_CACHE.get(key)
    if sess is None:
        sess = RecognitionSession(weight_blob)
        _SESSION_CACHE[key] = sess
    return sess
