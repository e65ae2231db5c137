"""Mergeable count sketch (signed) — unbiased frequency estimates.

Eighth kernel. Charikar-Chen-Farach-Colton 2002 ("frequent items in
data streams"): d rows of w SIGNED counters; each key maps per row to
a bucket AND a sign in {-1, +1}; update adds sign*count; the point
estimate is the MEDIAN over rows of sign*cell.

Where it beats CMS: estimates are UNBIASED with error <= eps*||f||_2
(L2 norm of the frequency vector) for w = 3/eps^2 — on heavy-tailed
token streams ||f||_2 << ||f||_1, so a count sketch of equal width is
markedly tighter than CMS's eps*N bound, and errors are two-sided
noise rather than systematic overcounts (the right property when the
estimates feed a downstream mean/regression). Where CMS wins: the
overestimate-only guarantee (never miss a heavy hitter).

merge = elementwise add — associative and commutative, so merged
counter bytes are order-independent (same lattice class as CMS; the
reference's reduceByKey-OR pattern, /root/reference/spark/main.py:150,
applied to signed counters).
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde
from sketchlib.core.counters import CounterTable


@serde.register_sketch(serde.TYPE_COUNTSKETCH)
class CountSketch(CounterTable):
    __slots__ = ()

    def __init__(self, w: int, d: int = 5, seed: int = 0):
        super().__init__(w, d, seed)
        if d % 2 == 0:
            raise ValueError(f"d must be odd for an unbiased median, got {d}")

    @classmethod
    def from_error(cls, epsilon: float, d: int = 5, seed: int = 0) -> "CountSketch":
        """w = ceil(3/eps^2): |est - f_k| <= eps*||f||_2 w.h.p."""
        return cls(int(np.ceil(3.0 / (epsilon * epsilon))), d, seed)

    def _indices_signs(self, values) -> tuple[np.ndarray, np.ndarray]:
        """(int64[n, d] bucket, int64[n, d] sign in {-1,+1}).

        One hashing pass: per (key, row) the KM-derived 64-bit value
        yields the bucket from its low bits and the sign from bit 63 —
        disjoint bit ranges of the same uniform word (w << 2^63)."""
        h1, h2 = hashing.hash64_pair(values, self.seed)
        hv = hashing.km_expand(h1, h2, self.d)
        bucket = (hv % np.uint64(self.w)).astype(np.int64)
        sign = 1 - 2 * (hv >> np.uint64(63)).astype(np.int64)
        return bucket, sign

    def _add(self, values, counts: np.ndarray) -> None:
        bucket, sign = self._indices_signs(values)
        for r in range(self.d):
            np.add.at(self.table[r], bucket[:, r], sign[:, r] * counts)

    def query_batch(self, values) -> np.ndarray:
        """Unbiased point estimates. int64[n] (may under- or over-shoot)."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.int64)
        bucket, sign = self._indices_signs(values)
        ests = np.stack([sign[:, r] * self.table[r][bucket[:, r]]
                         for r in range(self.d)], axis=1)
        return np.median(ests, axis=1).astype(np.int64)

    def l2_estimate(self) -> float:
        """Estimated ||f||_2 of the stream: median over rows of the
        row's L2 norm (each row's sum of squares is an unbiased
        estimator of sum f_k^2 + cross terms that cancel in expectation)."""
        return float(np.median(np.sqrt((self.table.astype(np.float64) ** 2)
                                       .sum(axis=1))))
