"""Frequent Directions — mergeable low-rank covariance sketch.

Ninth kernel, for embedding columns: a deterministic matrix sketch
B (l x dim) such that  ||A^T A - B^T B||_2 <= 2 ||A||_F^2 / l  for the
full row stream A (Liberty 2013; Ghashami-Liberty-Phillips-Woodruff
2016). From one fixed-size state you get the covariance structure of
10^12 embedding rows: top principal directions, spectral mass, the
inputs to PCA whitening / IVF coarse quantizer seeding — without a
second pass.

Mergeability (GLPW16 §3): inserting the rows of B_2 into the sketch of
A_1 preserves the bound, so FD(A1 ++ A2) is reachable from the two
partial states — the same partial-build/merge shape as every other
kernel here (reference pattern /root/reference/spark/main.py:139-164).
Like t-digest/KLL, the compaction is lossy: merged bytes depend on
merge order (deterministic run-to-run; the ERROR BOUND is what holds
under any order — property-tested).

Shrink step: append rows until the buffer (2l x dim) fills, then SVD
and subtract sigma_l^2 from every squared singular value (floor 0) —
at least half the buffer empties each compaction, so update cost is
amortized O(dim * l) flops per row, independent of stream length.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from sketchlib.core import serde


@serde.register_sketch(serde.TYPE_FD)
class FrequentDirections:
    __slots__ = ("l", "dim", "sq_frobenius", "n_rows", "_buf", "_used")

    def __init__(self, l: int = 64, dim: int | None = None):
        if l < 2:
            raise ValueError(f"sketch size l must be >= 2, got {l}")
        self.l = int(l)
        self.dim = None if dim is None else int(dim)
        self.sq_frobenius = 0.0
        self.n_rows = 0
        self._buf = None   # (2l, dim) float64, rows 0.._used filled
        self._used = 0

    def _ensure(self, dim: int) -> None:
        if self.dim is None:
            self.dim = int(dim)
        elif self.dim != dim:
            raise ValueError(f"row dim {dim} != sketch dim {self.dim}")
        if self._buf is None:
            self._buf = np.zeros((2 * self.l, self.dim), dtype=np.float64)

    def _shrink(self) -> None:
        """SVD the buffer, subtract sigma_l^2, keep <= l-? nonzero rows."""
        _, s, vt = np.linalg.svd(self._buf[: self._used],
                                 full_matrices=False)
        s2 = s * s
        delta = s2[self.l - 1] if len(s2) >= self.l else 0.0
        s_new = np.sqrt(np.maximum(s2 - delta, 0.0))
        keep = s_new > 0
        rows = s_new[keep, None] * vt[keep]
        self._buf[:] = 0.0
        self._used = int(keep.sum())
        self._buf[: self._used] = rows

    def _insert_rows(self, rows: np.ndarray) -> None:
        pos = 0
        cap = 2 * self.l
        while pos < len(rows):
            take = min(cap - self._used, len(rows) - pos)
            self._buf[self._used:self._used + take] = rows[pos:pos + take]
            self._used += take
            pos += take
            if self._used >= cap:
                self._shrink()

    # --- UDAF contract ---

    def update_batch(self, values) -> "FrequentDirections":
        """values: iterable of fixed-length float vectors (list/np), or
        an Arrow list array."""
        if len(values) == 0:
            return self
        if isinstance(values, (pa.Array, pa.ChunkedArray)):
            values = values.to_numpy(zero_copy_only=False)
        try:  # already-rectangular input: one conversion, no per-row loop
            rows = np.asarray(values, dtype=np.float64)
        except (ValueError, TypeError):
            # object arrays / ragged input: per-row fallback (raises on
            # genuinely ragged rows via the ndim check below)
            rows = np.asarray([np.asarray(v, dtype=np.float64)
                               for v in values])
        if rows.ndim != 2:
            raise ValueError("embedding rows must share one fixed length")
        self._ensure(rows.shape[1])
        self.sq_frobenius += float((rows * rows).sum())
        self.n_rows += len(rows)
        self._insert_rows(rows)
        return self

    def merge(self, other: "FrequentDirections") -> "FrequentDirections":
        # param check FIRST: an empty partial from a misconfigured
        # tree must refuse like every other kernel, not slip through
        if self.l != other.l:
            raise ValueError("cannot merge FD sketches with different l")
        if other.dim is None:       # empty other
            return self
        self._ensure(other.dim)
        self.sq_frobenius += other.sq_frobenius
        self.n_rows += other.n_rows
        if other._used:
            self._insert_rows(other._buf[: other._used])
        return self

    def state(self) -> np.ndarray:
        """Current B (<= 2l x dim), compacted to <= l rows first."""
        if self._buf is None:
            return np.zeros((0, self.dim or 0), dtype=np.float64)
        if self._used > self.l:
            self._shrink()
        return self._buf[: self._used].copy()

    def cov_estimate(self) -> np.ndarray:
        """B^T B ~= A^T A (within 2||A||_F^2 / l in spectral norm)."""
        b = self.state()
        return b.T @ b

    def top_directions(self, k: int) -> tuple[np.ndarray, np.ndarray]:
        """(sq_singular_values[k], directions[k, dim]) of the sketch."""
        b = self.state()
        if not len(b):
            d = self.dim or 0
            return np.zeros(0), np.zeros((0, d))
        _, s, vt = np.linalg.svd(b, full_matrices=False)
        k = min(k, len(s))
        return (s[:k] ** 2), vt[:k]

    def error_bound(self) -> float:
        """Spectral-norm bound on ||A^T A - B^T B||: 2 ||A||_F^2 / l."""
        return 2.0 * self.sq_frobenius / self.l

    def total_weight(self) -> float:
        return float(self.n_rows)

    # --- serialization (state compacted first -> deterministic) ---

    def to_bytes(self) -> bytes:
        b = self.state()
        header = {"l": self.l, "dim": int(self.dim or 0),
                  "n": int(b.shape[0]), "rows": self.n_rows,
                  "fro": self.sq_frobenius}
        return serde.pack(serde.TYPE_FD, header, b.astype("<f8").tobytes())

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "FrequentDirections":
        f = cls(header["l"], header["dim"] or None)
        f.sq_frobenius = float(header["fro"])
        f.n_rows = int(header["rows"])
        n = header["n"]
        if f.dim and n:
            f._ensure(f.dim)
            rows = np.frombuffer(payload, dtype="<f8").reshape(n, f.dim)
            f._buf[:n] = rows
            f._used = n
        return f

    __eq__ = serde.same_state

    def __repr__(self) -> str:
        return (f"FrequentDirections(l={self.l}, dim={self.dim}, "
                f"rows={self.n_rows})")
