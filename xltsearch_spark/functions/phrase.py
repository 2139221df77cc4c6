"""Per-document phrase-frequency matcher of the pyoracle.

Exact phrases (slop=0) reproduce Lucene's ExactPhraseScorer semantics: a
match is a document position ``p`` such that every phrase term ``t_i`` with
relative offset ``o_i`` occurs at ``p + o_i``; ``phraseFreq`` = number of
such ``p``. Stop-filter position gaps are honored (the offsets come from the
analyzed phrase, so ``"alpha the beta"`` requires a gap of 2 —
enablePositionIncrements=true in 4.6).

Sloppy phrases (slop>0) use a deterministic greedy matcher: each occurrence
of the first term anchors a candidate; every other term contributes the
occurrence closest to its expected position; the candidate matches if the
summed displacement <= slop and adds ``1/(1+displacement)`` to the freq
(the shape of Lucene's SloppyPhraseScorer ``sloppyFreq``; exact 4.6
tie-handling for repeated terms is approximated).

The engine (``functions/evaluate.py:Evaluator.phrase``) applies the same two
rules batch-wide in its own vectorized kernels — exact phrases as a
(doc, slot, anchor) group count, sloppy ones as a nearest-position
searchsorted — and the oracle tests hold the two to rank identity.
"""

from __future__ import annotations

import numpy as np


def phrase_freq(positions: list[np.ndarray], offsets: list[int], slop: int) -> float:
    """positions[i] = sorted token positions of term i in one doc."""
    if any(p.size == 0 for p in positions):
        return 0.0
    if slop == 0:
        base = positions[0].astype(np.int64) - offsets[0]
        for p, o in zip(positions[1:], offsets[1:]):
            base = np.intersect1d(base, p.astype(np.int64) - o, assume_unique=False)
            if base.size == 0:
                return 0.0
        return float(base.size)
    freq = 0.0
    anchors = positions[0].astype(np.int64) - offsets[0]
    for a in anchors:
        total = 0
        ok = True
        for p, o in zip(positions[1:], offsets[1:]):
            expected = a + o
            j = np.searchsorted(p, expected)
            cands = []
            if j < p.size:
                cands.append(abs(int(p[j]) - expected))
            if j > 0:
                cands.append(abs(int(p[j - 1]) - expected))
            d = min(cands)
            total += d
            if total > slop:
                ok = False
                break
        if ok:
            freq += 1.0 / (1 + total)
    return freq
