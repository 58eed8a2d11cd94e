import math

import numpy as np

from ocr_inference_spark.kernels.ctc import (
    beam_decode,
    ctc_confidence,
    greedy_decode,
    log_softmax,
)


def _logits_for_path(path, vocab=5, hi=10.0):
    """Build logits whose argmax follows `path` exactly."""
    T = len(path)
    logits = np.zeros((T, vocab), dtype=np.float64)
    for t, c in enumerate(path):
        logits[t, c] = hi
    return logits


def test_greedy_collapse_repeats_and_blanks():
    # path: a a blank a b b -> "a a b" -> ids [1, 1, 2]
    ids, _ = greedy_decode(_logits_for_path([1, 1, 0, 1, 2, 2]))
    assert ids.tolist() == [1, 1, 2]


def test_greedy_all_blank():
    ids, _ = greedy_decode(_logits_for_path([0, 0, 0]))
    assert ids.tolist() == []


def test_greedy_doubled_char_needs_blank():
    ids, _ = greedy_decode(_logits_for_path([3, 3, 3]))
    assert ids.tolist() == [3]
    ids2, _ = greedy_decode(_logits_for_path([3, 0, 3]))
    assert ids2.tolist() == [3, 3]


def test_beam_matches_greedy_on_peaked_logits():
    path = [1, 0, 2, 2, 0, 3, 1, 0]
    g_ids, _ = greedy_decode(_logits_for_path(path))
    beams = beam_decode(_logits_for_path(path), beam_width=8, top_k=3)
    assert list(beams[0][0]) == g_ids.tolist()
    # beam returns descending scores
    scores = [s for _, s in beams]
    assert scores == sorted(scores, reverse=True)


def test_log_softmax_normalizes():
    lp = log_softmax(np.array([[1.0, 2.0, 3.0]]))
    assert abs(np.exp(lp).sum() - 1.0) < 1e-9


def test_confidence():
    assert ctc_confidence(0.0, 5) == 1.0
    assert ctc_confidence(-2.0, 2) == math.exp(-1.0)
    assert ctc_confidence(-1.0, 0) == 0.0
