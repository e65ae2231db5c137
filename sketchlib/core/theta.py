"""Mergeable theta (bottom-k / KMV) sketch — set operations on streams.

Sixth kernel beyond the north_rule's five: distinct counting like HLL,
but the state (the k smallest 64-bit key hashes) supports set algebra —
intersection / union / difference cardinalities between groups
(e.g. "how many urls do en and fr share?"), which register-based HLL
cannot do without inclusion-exclusion error blowup.

State = sorted uint64 array of the k smallest distinct hashes.
merge = union-then-keep-k-smallest: a pure function of the input key
multiset, so merged bytes are bitwise-identical under ANY merge order
(same lattice-join class as Bloom/HLL/CMS; property-tested).

Estimate (Bar-Yossef et al. 2002; Dasgupta et al., "Theta sketch
framework", 2016): with theta = k-th smallest hash / 2^64,
distinct ≈ (k - 1) / theta; relative error ≈ 1/sqrt(k - 2).
Intersection: |A ∩ B| ≈ |{x in A.state ∩ B.state : x < theta_AB}| /
theta_AB with theta_AB = min(theta_A, theta_B).
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde

_MAX_U64 = float(2 ** 64)


def kmv_theta_raw(hashes: np.ndarray, k: int) -> int:
    """KMV sampling threshold of a sorted bottom-k hash state as a raw
    uint64: the k-th smallest hash, or 2^64 below saturation."""
    return int(hashes[-1]) if len(hashes) >= k else 2 ** 64


def kmv_estimate(hashes: np.ndarray, k: int) -> float:
    """KMV distinct estimate (k - 1) / theta; exact below saturation."""
    if len(hashes) < k:
        return float(len(hashes))
    return (k - 1) / (kmv_theta_raw(hashes, k) / _MAX_U64)


@serde.register_sketch(serde.TYPE_THETA)
class ThetaSketch:
    __slots__ = ("k", "seed", "hashes")

    def __init__(self, k: int = 4096, seed: int = 0):
        if k < 16:
            raise ValueError(f"k must be >= 16, got {k}")
        self.k = int(k)
        self.seed = int(seed)
        self.hashes = np.zeros(0, dtype=np.uint64)  # sorted, distinct

    def rel_error(self) -> float:
        return 1.0 / np.sqrt(self.k - 2)

    # --- UDAF contract ---

    def update_batch(self, values) -> "ThetaSketch":
        if len(values) == 0:
            return self
        values = hashing.drop_null_keys(values)  # null is not a value
        if len(values) == 0:
            return self
        h = hashing.hash64(values, self.seed)
        merged = np.union1d(self.hashes, h)  # sorted + distinct
        self.hashes = merged[: self.k]
        return self

    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if (other.k, other.seed) != (self.k, self.seed):
            raise ValueError("cannot merge theta sketches with different (k,seed)")
        merged = np.union1d(self.hashes, other.hashes)
        # entries >= the merged theta are invalid samples; keep-k covers
        # it because both inputs were themselves bottom-k states
        self.hashes = merged[: self.k]
        return self

    def _theta_raw(self) -> int:
        return kmv_theta_raw(self.hashes, self.k)

    def theta(self) -> float:
        """Sampling threshold in (0, 1]."""
        return self._theta_raw() / _MAX_U64

    def estimate(self) -> float:
        return kmv_estimate(self.hashes, self.k)

    def _valid_samples(self, other: "ThetaSketch"):
        """(a, b, raw_theta): both sketches' hashes STRICTLY below the
        shared threshold — the k-th smallest hash IS the threshold,
        not a sample (the cardinality estimator counts k-1 for the
        same reason); <= would bias intersections up and push
        self-Jaccard above 1. The one threshold rule for every
        pairwise set-algebra estimate."""
        if (other.k, other.seed) != (self.k, self.seed):
            raise ValueError("sketches must share (k,seed)")
        raw = min(self._theta_raw(), other._theta_raw())
        if raw >= 2 ** 64:
            return self.hashes, other.hashes, raw
        cut = np.uint64(raw)
        return (self.hashes[self.hashes < cut],
                other.hashes[other.hashes < cut], raw)

    def intersect_estimate(self, other: "ThetaSketch") -> float:
        """Estimated |A ∩ B| (same k/seed family)."""
        a, b, raw = self._valid_samples(other)
        common = np.intersect1d(a, b)
        return len(common) / (raw / _MAX_U64)

    def difference_estimate(self, other: "ThetaSketch") -> float:
        """Estimated |A \\ B| (a-not-b): valid samples absent from
        B's set, scaled by the shared theta."""
        a, b, raw = self._valid_samples(other)
        only = np.setdiff1d(a, b, assume_unique=True)
        return len(only) / (raw / _MAX_U64)

    def union_estimate(self, other: "ThetaSketch") -> float:
        tmp = ThetaSketch(self.k, self.seed)
        tmp.hashes = self.hashes.copy()
        tmp.merge(other)
        return tmp.estimate()

    def jaccard_estimate(self, other: "ThetaSketch") -> float:
        u = self.union_estimate(other)
        return self.intersect_estimate(other) / u if u else 0.0

    # --- serialization (canonical: state is already canonical) ---

    def to_bytes(self) -> bytes:
        header = {"k": self.k, "seed": self.seed, "n": len(self.hashes)}
        return serde.pack(serde.TYPE_THETA, header, self.hashes.tobytes())

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "ThetaSketch":
        s = cls(header["k"], header["seed"])
        s.hashes = np.frombuffer(payload, dtype=np.uint64).copy()
        return s

    __eq__ = serde.same_state

    def __repr__(self) -> str:
        return f"ThetaSketch(k={self.k}, n_retained={len(self.hashes)})"
