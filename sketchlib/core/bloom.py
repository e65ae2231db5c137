"""Mergeable Bloom filter with vectorized batch update/probe.

Semantics match the reference's BloomFilter
(/root/reference/hadoop/.../model/BloomFilter.java:16-19 — state
{k, m, bit array}; /root/reference/spark/main.py:39-49 build,
:55-70 probe) but the kernel is batch-vectorized numpy: one call
hashes an entire Arrow batch of keys (k probe positions each via
Kirsch-Mitzenmacher double hashing) and sets/tests bits with array ops.
Merge is bitwise OR (/root/reference/spark/main.py:150
``reduceByKey(lambda x, y: x | y)``) — associative and commutative, so
merged bytes are identical under any merge order.
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde
from sketchlib.core.params import bloom_params

# bits-set-per-byte lookup (numpy 1.x has no np.bitwise_count)
_POPCOUNT_LUT = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(axis=1,
                                                         dtype=np.int64)


@serde.register_sketch(serde.TYPE_BLOOM)
class BloomFilter:
    __slots__ = ("m", "k", "seed", "n_added", "bits")

    def __init__(self, m: int, k: int, seed: int = 0):
        if m < 8:
            raise ValueError(f"bit-array size m must be >= 8, got {m}")
        if k < 1:
            raise ValueError(f"hash count k must be >= 1, got {k}")
        self.m = int(m)
        self.k = int(k)
        self.seed = int(seed)
        self.n_added = 0
        self.bits = np.zeros((self.m + 7) // 8, dtype=np.uint8)

    @classmethod
    def from_target(cls, n: int, p: float, seed: int = 0) -> "BloomFilter":
        m, k = bloom_params(n, p)
        return cls(m, k, seed)

    # --- UDAF contract: new / update_batch / merge / estimate / serde ---

    def update_batch(self, values) -> "BloomFilter":
        """Insert a batch of str/bytes keys (vectorized). Null keys
        are dropped — SQL semantics; null is not a value."""
        if len(values) == 0:
            return self
        values = hashing.drop_null_keys(values)
        if len(values) == 0:
            return self
        idx = hashing.probe_indices(values, self.k, self.m, self.seed)
        flat = idx.reshape(-1)
        np.bitwise_or.at(self.bits, (flat >> np.uint64(3)).astype(np.int64),
                         np.left_shift(np.uint8(1), (flat & np.uint64(7)).astype(np.uint8)))
        self.n_added += len(values)
        return self

    def contains_batch(self, values) -> np.ndarray:
        """Membership test for a batch. bool[n]; no false negatives.
        Null keys answer False (a null never equi-matches)."""
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        arr, valid = hashing.valid_key_mask(values)
        if valid is None:
            idx = hashing.probe_indices(arr, self.k, self.m, self.seed)
            return self._test_indices(idx)
        out = np.zeros(len(arr), dtype=bool)
        kept = arr.drop_null()
        if len(kept):
            idx = hashing.probe_indices(kept, self.k, self.m, self.seed)
            out[valid] = self._test_indices(idx)
        return out

    def contains_from_hash_pair(self, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
        """Membership test from precomputed KM hash pairs (uint64[n]).

        Lets a caller probing many filters that share one seed hash each
        batch once instead of once per filter (validation fans every key
        across #groups filters — rehashing there is O(groups) wasted
        murmur passes)."""
        if len(h1) == 0:
            return np.zeros(0, dtype=bool)
        return self._test_indices(hashing.km_indices(h1, h2, self.k, self.m))

    def _test_indices(self, idx: np.ndarray) -> np.ndarray:
        byte_idx = (idx >> np.uint64(3)).astype(np.int64)
        bit = np.left_shift(np.uint8(1), (idx & np.uint64(7)).astype(np.uint8))
        hit = (self.bits[byte_idx] & bit) != 0
        return hit.all(axis=1)

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (other.m, other.k, other.seed) != (self.m, self.k, self.seed):
            raise ValueError("cannot merge Bloom filters with different (m,k,seed)")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        self.n_added += other.n_added
        return self

    def _popcount(self) -> int:
        """Set-bit count via a 256-entry LUT, chunked — never the 8x
        unpackbits expansion (a filter sized for 1e9 keys is a 1.2 GB
        byte array; unpacking it whole would allocate ~10 GB, the
        exact blow-up to_bytes already chunks to avoid)."""
        total, chunk = 0, 1 << 22
        for off in range(0, len(self.bits), chunk):
            total += int(_POPCOUNT_LUT[self.bits[off:off + chunk]].sum())
        return total

    def estimate(self) -> float:
        """Cardinality estimate from fill ratio: -(m/k)·ln(1 - X/m)."""
        x = float(self._popcount())
        if x >= self.m:
            return float("inf")
        return -(self.m / self.k) * np.log1p(-x / self.m)

    def fill_ratio(self) -> float:
        return float(self._popcount()) / self.m

    # --- serialization ---

    def to_bytes(self) -> bytes:
        """Canonical serialization with adaptive payload encoding.

        A partial filter from one input partition is mostly zeros when
        n_partition*k << m; shipping set-bit positions instead of the
        dense array is the reference's own shuffle optimization
        (CreationMapper.java:36-41 emits index arrays, not filters)
        applied at the partial-merge boundary. Encoding choice is a
        pure function of the state, so canonical bytes are preserved.
        """
        header = {"m": self.m, "k": self.k, "seed": self.seed, "n_added": self.n_added}
        # chunked popcount+positions (avoids unpacking GB-scale arrays at once)
        positions = []
        nnz = 0
        chunk = 1 << 22  # 4M bytes -> 32M bits per chunk
        idx_bytes = 4 if self.m <= 0xFFFFFFFF else 8
        dense_len = len(self.bits)
        for off in range(0, dense_len, chunk):
            part = np.unpackbits(self.bits[off:off + chunk], bitorder="little")
            pos = np.flatnonzero(part)
            nnz += len(pos)
            if nnz * idx_bytes >= dense_len:
                positions = None
                break
            positions.append(pos.astype(np.uint64) + np.uint64(off * 8))
        if positions is not None:
            header["enc"] = "sparse"
            dt = np.uint32 if idx_bytes == 4 else np.uint64
            payload = (np.concatenate(positions).astype(dt).tobytes()
                       if positions else b"")
            return serde.pack(serde.TYPE_BLOOM, header, payload)
        header["enc"] = "dense"
        return serde.pack(serde.TYPE_BLOOM, header, self.bits.tobytes())

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "BloomFilter":
        bf = cls(header["m"], header["k"], header["seed"])
        bf.n_added = header["n_added"]
        if header.get("enc", "dense") == "sparse":
            dt = np.uint32 if bf.m <= 0xFFFFFFFF else np.uint64
            pos = np.frombuffer(payload, dtype=dt).astype(np.int64)
            np.bitwise_or.at(bf.bits, pos >> 3,
                             np.left_shift(np.uint8(1), (pos & 7).astype(np.uint8)))
        else:
            bf.bits = np.frombuffer(payload, dtype=np.uint8).copy()
        return bf

    __eq__ = serde.same_state

    def __repr__(self) -> str:
        return f"BloomFilter(m={self.m}, k={self.k}, n_added={self.n_added})"
