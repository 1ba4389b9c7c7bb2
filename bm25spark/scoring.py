"""BM25 scoring math — bit-for-bit the reference's formulas.

- ``idf``  : ln((N + 1) / (df + 0.5))         (reference bm25.rs:285-289)
- ``tf_score``: tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)) where dl is
  the *quantized* length fieldnorm_to_length(fieldnorm)
  (bm25.rs:291-295 — scores are computed from the quantized length).
- ``Cache``: per-term strength reduction s0 = idf*(k1+1),
  s1[fn] = k1*(1-b+b*dl_fn/avgdl), score = tf*s0/(tf+s1[fn])
  (bm25.rs:334-359). Vectorized over numpy arrays here.
- ``wand_max``: per-term/per-block maximum tf-score with its argmax
  (fieldnorm, tf) pair — the monoid the reference folds with
  Wand::push/extend (bm25.rs:297-332). Keeping (fieldnorm, tf) rather
  than the float allows re-deriving upper bounds under any (k1, b,
  avgdl) and merging across salted partitions.
"""

from __future__ import annotations

import numpy as np

from .fieldnorm import FIELDNORM_TO_LENGTH


def idf(n_docs: int, df: int | np.ndarray) -> float | np.ndarray:
    return np.log((float(n_docs) + 1.0) / (np.asarray(df, dtype=np.float64) + 0.5))


def tf_score(
    fieldnorm: np.ndarray | int,
    tf: np.ndarray | int,
    k1: float,
    b: float,
    avgdl: float,
) -> np.ndarray | float:
    tf = np.asarray(tf, dtype=np.float64)
    dl = FIELDNORM_TO_LENGTH[np.asarray(fieldnorm)].astype(np.float64)
    return (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl / avgdl))


class Cache:
    """Per-query-term score cache (reference bm25.rs:334-359)."""

    __slots__ = ("s0", "s1")

    def __init__(self, n_docs: int, df: int, k1: float, b: float, avgdl: float):
        self.s0 = float(idf(n_docs, df)) * (k1 + 1.0)
        dl = FIELDNORM_TO_LENGTH.astype(np.float64)
        self.s1 = k1 * (1.0 - b + b * dl / avgdl)  # shape (256,)

    def evaluate(self, fieldnorm: np.ndarray | int, tf: np.ndarray | int):
        tf = np.asarray(tf, dtype=np.float64)
        return (tf * self.s0) / (tf + self.s1[np.asarray(fieldnorm)])


def wand_max(
    fieldnorms: np.ndarray,
    tfs: np.ndarray,
    k1: float,
    b: float,
    avgdl: float,
) -> tuple[int, int]:
    """argmax of tf_score over postings -> (fieldnorm, tf).

    Matches Wand::push semantics: strictly-greater update, initial
    state tf=0.0 / fieldnorm=255 / term_frequency=0 (bm25.rs:304-318),
    so the first posting always wins over the initial state unless its
    tf-score is 0 (impossible for tf >= 1).
    """
    scores = tf_score(fieldnorms, tfs, k1, b, avgdl)
    i = int(np.argmax(scores))  # first max = reference's strict-< update order
    return int(fieldnorms[i]), int(tfs[i])
