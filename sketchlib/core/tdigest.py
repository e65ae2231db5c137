"""Mergeable t-digest (merging variant, scale function k1) — vectorized.

The reference has no quantile sketch; this fits its
partial-build/merge UDAF shape (/root/reference/spark/main.py:139-164,
SURVEY.md §2.6). Algorithm: Dunning & Ertl, "Computing Extremely
Accurate Quantiles Using t-Digests" (arXiv:1902.04023), merging-digest
form: state is a sorted list of (mean, weight) centroids; an update or
merge concatenates, sorts by (mean, weight), and runs one deterministic
compression pass with scale k1(q) = (delta/2pi)·asin(2q-1).

Determinism: compression is a pure function of the sorted centroid
list, so equal states serialize to equal bytes and merge is
bitwise-commutative. Like every t-digest, compression is lossy, so
bitwise associativity does not hold — the property tests assert
quantile estimates stay within the rank-error bound under arbitrary
merge orders instead (SURVEY.md §7 "hard parts").
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import serde

_TWO_PI = 2.0 * np.pi


@serde.register_sketch(serde.TYPE_TDIGEST)
class TDigest:
    __slots__ = ("delta", "means", "weights", "vmin", "vmax", "_buf")

    def __init__(self, delta: int = 200):
        if delta < 10:
            raise ValueError(f"compression delta must be >= 10, got {delta}")
        self.delta = int(delta)
        self.means = np.zeros(0, dtype=np.float64)
        self.weights = np.zeros(0, dtype=np.float64)
        self.vmin = np.inf
        self.vmax = -np.inf
        self._buf: list[np.ndarray] = []

    # --- internals ---

    def _k_limit(self, q: np.ndarray) -> np.ndarray:
        """Scale function k1: k(q) = delta/(2pi) * asin(2q-1)."""
        return self.delta / _TWO_PI * np.arcsin(np.clip(2.0 * q - 1.0, -1.0, 1.0))

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        """Deterministic fully-vectorized compression.

        Fixed-boundary variant of the merging digest: the k1 scale is
        divided into unit-k bins (q_j = (sin(j*2pi/delta - pi/2)+1)/2),
        centroids sorted by (mean, weight) are bucketed by the cumulative
        weight of their *left edge* via searchsorted, and each bucket
        collapses to its weighted mean with np.add.reduceat — no Python
        loop. Every bucket spans < 1 unit of k, so the classic t-digest
        size bound (<= ~2*delta centroids) and rank-error shape hold;
        determinism is by construction (state -> bytes is a pure
        function, merges are bitwise-commutative).
        """
        if len(means) == 0:
            self.means = means
            self.weights = weights
            return
        order = np.lexsort((weights, means))
        means = means[order]
        weights = weights[order]
        total = weights.sum()
        # unit-k boundaries in q-space (k1 scale): k(q_j) = j - delta/4*2pi...
        # solve k(q) = j for j = ceil(k(0))..floor(k(1)):
        # q = (sin(2pi j / delta) + 1) / 2 with j in [-delta/4, delta/4]
        j = np.arange(-(self.delta // 4), self.delta // 4 + 1, dtype=np.float64)
        bounds_q = (np.sin(_TWO_PI * j / self.delta) + 1.0) / 2.0
        left_cum = np.concatenate([[0.0], np.cumsum(weights)[:-1]]) / total
        bucket = np.searchsorted(bounds_q, left_cum, side="right")
        # reduceat needs the first index of each bucket run
        starts = np.flatnonzero(np.diff(bucket, prepend=bucket[0] - 1))
        w_sum = np.add.reduceat(weights, starts)
        mw_sum = np.add.reduceat(means * weights, starts)
        self.means = mw_sum / w_sum
        self.weights = w_sum

    def _flush(self) -> None:
        if not self._buf:
            return
        new = np.concatenate(self._buf)
        self._buf = []
        means = np.concatenate([self.means, new])
        weights = np.concatenate([self.weights, np.ones(len(new), dtype=np.float64)])
        self._compress(means, weights)

    # --- UDAF contract ---

    def update_batch(self, values) -> "TDigest":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self._buf.append(v)
        if sum(len(b) for b in self._buf) >= 32 * self.delta:
            self._flush()
        return self

    def merge(self, other: "TDigest") -> "TDigest":
        if other.delta != self.delta:
            raise ValueError("cannot merge t-digests with different delta")
        self._flush()
        other._flush()
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self._compress(np.concatenate([self.means, other.means]),
                       np.concatenate([self.weights, other.weights]))
        return self

    def total_weight(self) -> float:
        self._flush()
        return float(self.weights.sum())

    def quantile(self, q) -> np.ndarray:
        """Quantile estimate(s) for q in [0,1] (scalar or array)."""
        self._flush()
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else out[0]
        total = self.weights.sum()
        centers = np.cumsum(self.weights) - self.weights / 2.0
        xp = np.concatenate([[0.0], centers, [total]])
        fp = np.concatenate([[self.vmin], self.means, [self.vmax]])
        out = np.interp(qs * total, xp, fp)
        return out if np.ndim(q) else out[0]

    def cdf(self, x) -> np.ndarray:
        self._flush()
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        if len(self.means) == 0:
            out = np.full(len(xs), np.nan)
            return out if np.ndim(x) else out[0]
        total = self.weights.sum()
        centers = np.cumsum(self.weights) - self.weights / 2.0
        xp = np.concatenate([[self.vmin], self.means, [self.vmax]])
        fp = np.concatenate([[0.0], centers / total, [1.0]])
        # xp must be increasing for interp; means are sorted, min/max bound them
        out = np.interp(xs, xp, fp)
        return out if np.ndim(x) else out[0]

    # --- serialization (canonical: always compressed first) ---

    def to_bytes(self) -> bytes:
        self._flush()
        header = {
            "delta": self.delta,
            "n": len(self.means),
            # raw floats: json round-trips Infinity; a None sentinel would
            # conflate "unset" with legitimate inf data values
            "vmin": self.vmin,
            "vmax": self.vmax,
        }
        payload = self.means.tobytes() + self.weights.tobytes()
        return serde.pack(serde.TYPE_TDIGEST, header, payload)

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "TDigest":
        td = cls(header["delta"])
        n = header["n"]
        arr = np.frombuffer(payload, dtype=np.float64)
        td.means = arr[:n].copy()
        td.weights = arr[n:2 * n].copy()
        td.vmin = float(header["vmin"]) if header["vmin"] is not None else np.inf
        td.vmax = float(header["vmax"]) if header["vmax"] is not None else -np.inf
        return td

    def __repr__(self) -> str:
        self._flush()
        return f"TDigest(delta={self.delta}, centroids={len(self.means)})"
