"""CTC decoding: greedy and beam, pure NumPy, deterministic.

Reimplements (from the published CTC formulation, Graves et al. 2006,
and the reference's observable behavior — BDRC/inference.py:75-118,
379-398) the decode step: collapse repeated argmax frames, drop blanks.
The beam variant is a standard prefix beam search over log-probs with
optional top-k beam output (top_k_beams=10, beam width 64 —
BDRC/inference.py:83,690-693). Confidence is exp(score/len)
(BDRC/inference.py:707-720). The reference's optional KenLM shallow
fusion (BDRC/inference.py:95-106,386-398) is not carried: no entry
point takes a language model.
"""

from __future__ import annotations

import math

import numpy as np

BLANK = 0
BEAM_WIDTH = 64  # reference: BDRC/inference.py:83
TOP_K_BEAMS = 10  # reference: BDRC/inference.py:690-693


def log_softmax(logits: np.ndarray) -> np.ndarray:
    """(T, V) raw scores -> log-probabilities, numerically stable.
    Kept in float32 when the input is float32 (half the bandwidth)."""
    m = logits.max(axis=1, keepdims=True)
    z = logits - m
    return z - np.log(np.exp(z).sum(axis=1, keepdims=True, dtype=z.dtype))


def greedy_decode(logits: np.ndarray) -> tuple[np.ndarray, float]:
    """(T, V) -> (char-id sequence, total log-prob of the greedy path)."""
    logp = log_softmax(logits)
    path = logp.argmax(axis=1)
    score = float(logp[np.arange(len(path)), path].sum())
    # collapse repeats, then drop blanks
    keep = np.ones(len(path), dtype=bool)
    keep[1:] = path[1:] != path[:-1]
    collapsed = path[keep]
    return collapsed[collapsed != BLANK].astype(np.int32), score


def beam_decode(
    logits: np.ndarray,
    beam_width: int = BEAM_WIDTH,
    top_k: int = TOP_K_BEAMS,
) -> list[tuple[tuple[int, ...], float]]:
    """Prefix beam search. Returns up to ``top_k`` (sequence, log-prob)
    pairs, best first. Deterministic: ties broken by sequence."""
    logp = log_softmax(logits)
    T, V = logp.shape

    # beams: prefix -> (logp ending in blank, logp ending in non-blank)
    beams: dict[tuple[int, ...], tuple[float, float]] = {(): (0.0, -math.inf)}
    for t in range(T):
        nxt: dict[tuple[int, ...], tuple[float, float]] = {}

        def add(prefix, pb, pnb):
            opb, opnb = nxt.get(prefix, (-math.inf, -math.inf))
            nxt[prefix] = (np.logaddexp(opb, pb), np.logaddexp(opnb, pnb))

        frame = logp[t]
        for prefix, (pb, pnb) in beams.items():
            total = np.logaddexp(pb, pnb)
            # blank extends, prefix unchanged
            add(prefix, total + frame[BLANK], -math.inf)
            for c in range(1, V):
                p = frame[c]
                if prefix and prefix[-1] == c:
                    # same char: repeat (no growth) or after-blank (growth)
                    add(prefix, -math.inf, pnb + p)
                    add(prefix + (c,), -math.inf, pb + p)
                else:
                    add(prefix + (c,), -math.inf, total + p)
        pruned = sorted(
            nxt.items(),
            key=lambda kv: (-np.logaddexp(kv[1][0], kv[1][1]), kv[0]),
        )[:beam_width]
        beams = dict(pruned)

    final = sorted(
        ((prefix, float(np.logaddexp(pb, pnb))) for prefix, (pb, pnb) in beams.items()),
        key=lambda kv: (-kv[1], kv[0]),
    )
    return final[:top_k]


def ctc_confidence(logit_score: float, text_len: int) -> float:
    """exp(score / len) (reference: BDRC/inference.py:707-720)."""
    if text_len <= 0:
        return 0.0
    return float(math.exp(logit_score / text_len))
