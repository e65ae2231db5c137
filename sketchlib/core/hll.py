"""Mergeable HyperLogLog with vectorized batch update.

The reference has no distinct-count sketch; this generalizes its
partial-build/OR-merge pattern (/root/reference/spark/main.py:139-164)
to register-max merge. Registers per Flajolet-Fuss-Gandouet-Meunier
2007 over a 64-bit hash; the estimator is Ertl's improved raw
estimator (arXiv:1702.01284), bias-free across the whole range with
no empirical tables and no small/large-range estimator switch.

State = 2^b uint8 registers. merge = elementwise max — associative,
commutative, idempotent, so merged bytes are order-independent.
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde
from sketchlib.core.params import hll_params


_ALPHA_INF = 1.0 / (2.0 * np.log(2.0))


def _sigma(x: float) -> float:
    """sigma(x) = x + sum_{k>=1} x^(2^k) * 2^(k-1) (Ertl eq. 66)."""
    if x == 1.0:
        return float("inf")
    y, z = 1.0, x
    while True:
        x = x * x
        z_prev = z
        z += x * y
        y += y
        if z == z_prev:
            return z


def _tau(x: float) -> float:
    """tau(x) = (1/3)(1 - x - sum_{k>=1} (1 - x^(2^-k))^2 2^-k) (Ertl eq. 73)."""
    if x == 0.0 or x == 1.0:
        return 0.0
    y, z = 1.0, 1.0 - x
    while True:
        x = np.sqrt(x)
        z_prev = z
        y *= 0.5
        z -= ((1.0 - x) ** 2) * y
        if z == z_prev:
            return z / 3.0


@serde.register_sketch(serde.TYPE_HLL)
class HyperLogLog:
    __slots__ = ("b", "m", "seed", "registers")

    def __init__(self, b: int = 12, seed: int = 0):
        if not (4 <= b <= 18):
            raise ValueError(f"register exponent b must be in [4,18], got {b}")
        self.b = int(b)
        self.m = 1 << self.b
        self.seed = int(seed)
        self.registers = np.zeros(self.m, dtype=np.uint8)

    @classmethod
    def from_rel_error(cls, rel_error: float, seed: int = 0) -> "HyperLogLog":
        return cls(hll_params(rel_error), seed)

    def rel_error(self) -> float:
        return 1.04 / np.sqrt(self.m)

    def update_batch(self, values) -> "HyperLogLog":
        if len(values) == 0:
            return self
        values = hashing.drop_null_keys(values)  # null is not a value
        if len(values) == 0:
            return self
        h = hashing.hash64(values, self.seed)
        reg = (h >> np.uint64(64 - self.b)).astype(np.int64)
        rest = (h << np.uint64(self.b)) | np.uint64(1 << (self.b - 1))
        # rho = 1 + count of leading zeros in the remaining 64-bit window.
        # bit_length of rest gives position of highest set bit; the OR'd
        # sentinel bit caps rho at 64-b+1 exactly as the spec requires.
        nbits = np.zeros(len(h), dtype=np.uint8)  # bit_length(rest) - 1
        x = rest.copy()
        for shift in (32, 16, 8, 4, 2, 1):
            s = np.uint64(shift)
            big = x >= (np.uint64(1) << s)
            nbits[big] += np.uint8(shift)
            x = np.where(big, x >> s, x)
        # leading zeros = 64 - bit_length = 63 - nbits; rho = lz + 1
        rho = np.uint8(64) - nbits
        np.maximum.at(self.registers, reg, rho)
        return self

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if (other.b, other.seed) != (self.b, self.seed):
            raise ValueError("cannot merge HLLs with different (b,seed)")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def union_estimate(self, other: "HyperLogLog") -> float:
        """|A ∪ B| from register-max — HLL's native set operation."""
        if (other.b, other.seed) != (self.b, self.seed):
            raise ValueError("sketches must share (b, seed)")
        tmp = HyperLogLog(self.b, self.seed)
        np.maximum(self.registers, other.registers, out=tmp.registers)
        return tmp.estimate()

    def intersect_estimate(self, other: "HyperLogLog") -> float:
        """|A ∩ B| by inclusion-exclusion over register-max unions
        (cf. "Efficient Estimation of Inclusion Coefficient using
        HyperLogLog Sketches", VLDB 2018): works on ALREADY-STORED
        per-group HLLs with no second sketch type. Relative error
        grows as the intersection shrinks vs the union (the two
        ~1.04/sqrt(m) errors difference out) — for small overlaps
        prefer the theta kernel, whose error scales with the
        intersection itself. Clamped at 0 (inclusion-exclusion can go
        negative within noise)."""
        u = self.union_estimate(other)
        return max(0.0, self.estimate() + other.estimate() - u)

    def inclusion_coefficient(self, other: "HyperLogLog") -> float:
        """|A ∩ B| / |A| in [0, 1] — the containment score: 1.0 means
        (estimated) every element of A is in B."""
        a = self.estimate()
        if a <= 0:
            return 0.0
        return min(1.0, self.intersect_estimate(other) / a)

    def estimate(self) -> float:
        """Ertl's improved raw estimator (arXiv:1702.01284, alg. 6).

        Bias-free across the whole cardinality range with no empirical
        correction tables: sigma() generalizes the small-range linear
        counting and tau() the saturated-register correction, so there
        is no estimator switch (and no biased 2.5m-5m band as in the
        raw FFGM estimator + linear-counting hybrid, cf. Heule et al.
        "HyperLogLog in Practice", EDBT 2013).
        """
        m = self.m
        q = 64 - self.b  # max register value is q + 1 (sentinel-capped)
        counts = np.bincount(self.registers, minlength=q + 2)
        z = m * _tau((m - float(counts[q + 1])) / m)
        for k in range(q, 0, -1):
            z = 0.5 * (z + float(counts[k]))
        z += m * _sigma(float(counts[0]) / m)
        if z == 0.0:
            return float("inf")
        return _ALPHA_INF * m * m / z

    def to_bytes(self) -> bytes:
        """Canonical serialization; sparse (reg_idx u32, val u8) when
        most registers are zero (partial states from small groups)."""
        header = {"b": self.b, "seed": self.seed}
        nz = np.flatnonzero(self.registers)
        if len(nz) * 5 < self.m:
            header["enc"] = "sparse"
            payload = nz.astype(np.uint32).tobytes() + self.registers[nz].tobytes()
        else:
            header["enc"] = "dense"
            payload = self.registers.tobytes()
        return serde.pack(serde.TYPE_HLL, header, payload)

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "HyperLogLog":
        h = cls(header["b"], header["seed"])
        if header.get("enc", "dense") == "sparse":
            if len(payload) % 5:
                raise ValueError("truncated HLL sparse blob")
            n = len(payload) // 5
            idx = np.frombuffer(payload[:4 * n], dtype=np.uint32).astype(np.int64)
            vals = np.frombuffer(payload[4 * n:], dtype=np.uint8)
            if len(idx) and int(idx.max()) >= h.m:
                raise ValueError(
                    f"corrupt HLL sparse blob: register index "
                    f"{int(idx.max())} >= m={h.m}")
            h.registers[idx] = vals
        else:
            if len(payload) != h.m:
                raise ValueError(
                    f"truncated HLL dense blob: {len(payload)} "
                    f"registers, expected {h.m}")
            h.registers = np.frombuffer(payload, dtype=np.uint8).copy()
        return h

    __eq__ = serde.same_state

    def __repr__(self) -> str:
        return f"HyperLogLog(b={self.b}, est={self.estimate():.1f})"
