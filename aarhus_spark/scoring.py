"""BM25 scoring — frozen Lucene ≥8 form (SURVEY.md §1.3.4).

    idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))
    partial(t,d) = tf / (tf + k1 * (1 - b + b * dl/avgdl))
    score(q,d)  = Σ_{t ∈ uniq(T(q)), sorted} idf(t) * partial(t,d)

k1 = 1.2, b = 0.75 (Lucene BM25Similarity defaults, BASELINE.json:6).
float64 throughout; terms summed in sorted term order so floating-
point addition order — and therefore every score bit — is identical
between the Spark engine, the NumPy oracle, and any partitioning.

Note: classic Robertson BM25 multiplies each term by (k1+1); Lucene
dropped it in 8.0 as rank-preserving. We freeze the Lucene form —
flip ``SCALE_K1_PLUS_1`` if score-parity against a live ES is ever
needed (ranks are unaffected).
"""

from __future__ import annotations

import numpy as np

from .config import B, K1

SCALE_K1_PLUS_1 = False


def idf(df: np.ndarray | float, n_docs: int) -> np.ndarray | float:
    """Lucene BM25 idf. Accepts scalars or numpy arrays (float64)."""
    df = np.asarray(df, dtype=np.float64)
    out = np.log1p((n_docs - df + 0.5) / (df + 0.5))
    return out if out.shape else float(out)


def partial(tf: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    """tf-and-length-dependent factor, float64, vectorized."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    norm = K1 * (1.0 - B + B * dl / avgdl)
    out = tf / (tf + norm)
    if SCALE_K1_PLUS_1:
        out *= K1 + 1.0
    return out
