"""Mergeable KLL quantile sketch — vectorized, deterministic compaction.

Algorithm: Karnin-Lang-Liberty, "Optimal Quantile Approximation in
Streams" (FOCS 2016): a hierarchy of compactors; level h holds items of
weight 2^h; a full level sorts its items and promotes every other one.
Rank error is ~O(1/k) with capacities decaying geometrically (c=2/3)
below the top level.

Determinism (SURVEY.md §7 "hard parts"): the classic algorithm picks
the odd/even compaction offset at random; we derive it from a murmur
hash of the compacted values' bytes instead. Same input bytes -> same
offset -> reproducible sketches run-to-run, while remaining unbiased
across inputs. Like all KLL variants, compaction is lossy, so bitwise
merge-associativity cannot hold; property tests assert the rank-error
bound under arbitrary merge orders (bitwise identity is asserted for
Bloom/HLL/CMS, whose merges are lossless lattice joins).
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde

_CAP_DECAY = 2.0 / 3.0


@serde.register_sketch(serde.TYPE_KLL)
class KLL:
    __slots__ = ("k", "levels", "n", "vmin", "vmax")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError(f"k must be >= 8, got {k}")
        self.k = int(k)
        self.levels: list[np.ndarray] = [np.zeros(0, dtype=np.float64)]
        self.n = 0
        self.vmin = np.inf
        self.vmax = -np.inf

    def _capacity(self, h: int) -> int:
        depth = len(self.levels)
        return max(8, int(np.ceil(self.k * _CAP_DECAY ** (depth - 1 - h))))

    @staticmethod
    def _offset(values: np.ndarray) -> int:
        """Deterministic 0/1 compaction offset from the values' contents."""
        return hashing.fold64(values, seed=0x6B6C6C) & 1

    def _compact(self) -> None:
        """Compact lowest overfull level(s) until all within capacity."""
        h = 0
        while h < len(self.levels):
            lvl = self.levels[h]
            if len(lvl) <= self._capacity(h):
                h += 1
                continue
            srt = np.sort(lvl)
            if len(srt) & 1:
                # keep one item at this level so pairs are exact halves
                keep_idx = self._offset(srt) * (len(srt) - 1)  # first or last
                keep = srt[keep_idx:keep_idx + 1]
                srt = np.delete(srt, keep_idx)
            else:
                keep = np.zeros(0, dtype=np.float64)
            promoted = srt[self._offset(srt)::2]
            self.levels[h] = keep
            if h + 1 == len(self.levels):
                self.levels.append(np.zeros(0, dtype=np.float64))
            self.levels[h + 1] = np.concatenate([self.levels[h + 1], promoted])
            h += 1

    # --- UDAF contract ---

    def update_batch(self, values) -> "KLL":
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v) == 0:
            return self
        self.vmin = min(self.vmin, float(v.min()))
        self.vmax = max(self.vmax, float(v.max()))
        self.levels[0] = np.concatenate([self.levels[0], v])
        self.n += len(v)
        self._compact()
        return self

    def merge(self, other: "KLL") -> "KLL":
        if other.k != self.k:
            raise ValueError("cannot merge KLL sketches with different k")
        for h in range(len(other.levels)):
            while h >= len(self.levels):
                self.levels.append(np.zeros(0, dtype=np.float64))
            self.levels[h] = np.concatenate([self.levels[h], other.levels[h]])
        self.n += other.n
        self.vmin = min(self.vmin, other.vmin)
        self.vmax = max(self.vmax, other.vmax)
        self._compact()
        return self

    def _items_weights(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, lvl in enumerate(self.levels):
            if len(lvl):
                items.append(lvl)
                weights.append(np.full(len(lvl), float(1 << h)))
        if not items:
            return np.zeros(0), np.zeros(0)
        return np.concatenate(items), np.concatenate(weights)

    def quantile(self, q) -> np.ndarray:
        """Quantile estimate(s) for q in [0,1] (scalar or array)."""
        qs = np.atleast_1d(np.asarray(q, dtype=np.float64))
        items, weights = self._items_weights()
        if len(items) == 0:
            out = np.full(len(qs), np.nan)
            return out if np.ndim(q) else out[0]
        order = np.argsort(items, kind="stable")
        items = items[order]
        weights = weights[order]
        cum = np.cumsum(weights) - weights / 2.0
        total = weights.sum()
        out = np.interp(qs * total, np.concatenate([[0.0], cum, [total]]),
                        np.concatenate([[self.vmin], items, [self.vmax]]))
        return out if np.ndim(q) else out[0]

    def rank(self, x) -> np.ndarray:
        """Estimated rank fraction of value(s) x."""
        xs = np.atleast_1d(np.asarray(x, dtype=np.float64))
        items, weights = self._items_weights()
        if len(items) == 0:
            out = np.full(len(xs), np.nan)
            return out if np.ndim(x) else out[0]
        order = np.argsort(items, kind="stable")
        items = items[order]
        cum = np.cumsum(weights[order])
        pos = np.searchsorted(items, xs, side="right")
        total = cum[-1]
        out = np.where(pos == 0, 0.0, cum[np.maximum(pos - 1, 0)]) / total
        return out if np.ndim(x) else out[0]

    # --- serialization ---

    def to_bytes(self) -> bytes:
        header = {
            "k": self.k,
            "n": self.n,
            "sizes": [len(l) for l in self.levels],
            # raw floats: Python json round-trips Infinity/-Infinity, and
            # a None sentinel would conflate "unset" with legitimate inf data
            "vmin": self.vmin,
            "vmax": self.vmax,
        }
        payload = b"".join(np.sort(l).tobytes() for l in self.levels)
        return serde.pack(serde.TYPE_KLL, header, payload)

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "KLL":
        s = cls(header["k"])
        s.n = header["n"]
        s.vmin = float(header["vmin"]) if header["vmin"] is not None else np.inf
        s.vmax = float(header["vmax"]) if header["vmax"] is not None else -np.inf
        arr = np.frombuffer(payload, dtype=np.float64)
        if len(arr) != sum(header["sizes"]):
            # a clipped blob would otherwise decode into short/empty
            # levels while n/vmin/vmax still claim the full state —
            # silently wrong quantiles instead of the serde contract's
            # loud refusal
            raise ValueError(
                f"truncated KLL blob: payload holds {len(arr)} values, "
                f"header claims {sum(header['sizes'])}")
        s.levels = []
        off = 0
        for size in header["sizes"]:
            s.levels.append(arr[off:off + size].copy())
            off += size
        if not s.levels:
            s.levels = [np.zeros(0, dtype=np.float64)]
        return s

    def __repr__(self) -> str:
        return f"KLL(k={self.k}, n={self.n}, levels={len(self.levels)})"
