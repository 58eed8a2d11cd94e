"""Deterministic glyph alphabet shared by the fixture renderer and the
recognition "network".

The reference recognizes real Tibetan script with a trained ONNX model
(reference: BDRC/inference.py:279-429). External model downloads are out
of scope (public-knowledge-only constraint), so our engine ships a
*deterministic synthetic script*: every character in the charset is a
distinct 1-column ink pattern of height ``GLYPH_H``, repeated
``GLYPH_W`` times, followed by a ``GLYPH_GAP``-column blank gap. The
recognition model (model.py) maps each image column to vocab logits by
template distance — a faithful stand-in for a per-timestep CTC
classifier: repeated columns produce repeated argmax frames, gaps
produce blanks, and CTC collapse (kernels/ctc.py) recovers the text,
including doubled characters.

Templates are seeded and pairwise separated by Hamming distance >= 6 so
single-pixel interpolation artifacts (deskew/dewarp resampling) can
never flip a classification.
"""

from __future__ import annotations

import numpy as np

# Charset: index 0 is reserved for the CTC blank; characters are 1-based
# (same convention as the reference encoder: ctc_blank=0,
# reference: BDRC/label_encoder.py:87-98).
CHARSET = "abcdefghijklmnopqrstuvwxyz0123456789 .,-'"
BLANK = 0
VOCAB_SIZE = len(CHARSET) + 1

GLYPH_H = 16  # rows of the glyph strip
GLYPH_W = 8   # columns a character occupies
GLYPH_GAP = 4  # blank columns between characters
MIN_HAMMING = 6

# Band geometry: every text line is rendered as a band with a solid
# "strut" rule at the top (keeps the whole line one connected component
# and gives the recognizer a per-column vertical anchor), then the glyph
# strip, then a blank guard row zone.
STRUT_H = 4
GLYPH_TOP = STRUT_H + 4          # glyph strip starts here within the band
BAND_H = GLYPH_TOP + GLYPH_H + 4  # total band height (28)


def _build_templates() -> np.ndarray:
    """(VOCAB_SIZE, GLYPH_H) uint8 in {0,1}; row 0 (blank) is all zeros."""
    rng = np.random.default_rng(20260213)
    templates = np.zeros((VOCAB_SIZE, GLYPH_H), dtype=np.uint8)
    chosen: list[np.ndarray] = []
    for idx in range(1, VOCAB_SIZE):
        while True:
            cand = (rng.random(GLYPH_H) < 0.5).astype(np.uint8)
            if cand.sum() < 4:  # ensure visible ink
                continue
            if all(int(np.sum(cand != c)) >= MIN_HAMMING for c in chosen):
                chosen.append(cand)
                templates[idx] = cand
                break
    return templates


TEMPLATES = _build_templates()

_CHAR_TO_ID = {ch: i + 1 for i, ch in enumerate(CHARSET)}


def encode_text(text: str) -> np.ndarray:
    """Text -> int32 char-id sequence (1-based; unknown chars -> space)."""
    space = _CHAR_TO_ID[" "]
    return np.array([_CHAR_TO_ID.get(ch, space) for ch in text], dtype=np.int32)


# id -> character lookup; the blank and out-of-range ids map to ""
_ID_TO_CHAR = np.array([""] + list(CHARSET), dtype=object)


def decode_ids(ids) -> str:
    """Char-id sequence -> text; blank and unknown ids are dropped."""
    ids = np.asarray(ids, dtype=np.int64)
    return "".join(_ID_TO_CHAR[ids[(ids >= 1) & (ids <= len(CHARSET))]])


def line_pixel_width(n_chars: int) -> int:
    return n_chars * (GLYPH_W + GLYPH_GAP)
