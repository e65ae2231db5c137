"""The d x w int64 counter table shared by count-min and count sketch.

Both kernels keep d rows of w counters, add merge (elementwise, so
merged bytes are order-independent), and serialize the table with the
same adaptive encoding. Each subclass supplies only its algorithm:
``_add(values, counts)`` for one null-free batch, and its read-outs.
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde


class CounterTable:
    __slots__ = ("w", "d", "seed", "total", "table")

    def __init__(self, w: int, d: int, seed: int = 0):
        if w < 1 or d < 1:
            raise ValueError(f"w and d must be >= 1, got w={w}, d={d}")
        if w * d > 0xFFFFFFFF:
            # sparse serialization stores flat indices as uint32
            raise ValueError(f"w*d = {w * d} exceeds 2^32-1 cells")
        self.w = int(w)
        self.d = int(d)
        self.seed = int(seed)
        self.total = 0
        self.table = np.zeros((self.d, self.w), dtype=np.int64)

    def update_batch(self, values, counts=None):
        """Add a batch of keys; optional per-key counts (weighted
        update). Null keys are dropped with their counts."""
        if len(values) == 0:
            return self
        values, valid = hashing.valid_key_mask(values)  # null: no value
        if valid is not None:
            values = values.drop_null()
            if counts is not None:
                counts = np.asarray(counts, dtype=np.int64)[valid]
            if len(values) == 0:
                return self
        counts = (np.ones(len(values), dtype=np.int64) if counts is None
                  else np.asarray(counts, dtype=np.int64))
        self._add(values, counts)
        self.total += int(counts.sum())
        return self

    def merge(self, other):
        if (other.w, other.d, other.seed) != (self.w, self.d, self.seed):
            raise ValueError(f"cannot merge {type(self).__name__} with "
                             "different (w,d,seed)")
        self.table += other.table
        self.total += other.total
        return self

    # --- serialization (canonical; adaptive encoding) ---

    def _header(self) -> dict:
        return {"w": self.w, "d": self.d, "seed": self.seed,
                "total": self.total}

    def to_bytes(self) -> bytes:
        """Narrowest dtype that holds the value range (unsigned tiers
        when non-negative, signed otherwise); sparse (uint32 flat index
        + values) when smaller than dense. The encoding is a pure
        function of the counters, so the bytes stay canonical, and
        partial states from one input partition shuffle 4-16x smaller
        (same idea as Bloom sparse partials)."""
        flat = self.table.reshape(-1)
        vmax = int(flat.max(initial=0))
        vmin = int(flat.min(initial=0))
        if vmin < 0:
            dt = (np.int16 if -0x8000 <= vmin and vmax <= 0x7FFF else
                  np.int32 if -0x80000000 <= vmin and vmax <= 0x7FFFFFFF
                  else np.int64)
        else:
            dt = (np.uint16 if vmax <= 0xFFFF else
                  np.uint32 if vmax <= 0xFFFFFFFF else np.int64)
        header = self._header()
        header["dtype"] = np.dtype(dt).name
        nz = np.flatnonzero(flat)
        if len(nz) * (4 + dt().itemsize) < flat.size * dt().itemsize:
            header["enc"] = "sparse"
            payload = (nz.astype(np.uint32).tobytes()
                       + flat[nz].astype(dt).tobytes())
        else:
            header["enc"] = "dense"
            payload = flat.astype(dt).tobytes()
        return serde.pack(self.TYPE_ID, header, payload)

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes):
        c = cls(header["w"], header["d"], header["seed"])
        c.total = header["total"]
        dt = np.dtype(header.get("dtype", "int64"))
        if header.get("enc", "dense") == "sparse":
            n = len(payload) // (4 + dt.itemsize)
            idx = np.frombuffer(payload[:4 * n], dtype=np.uint32)
            c.table.reshape(-1)[idx.astype(np.int64)] = np.frombuffer(
                payload[4 * n:], dtype=dt)
        else:
            c.table = np.frombuffer(payload, dtype=dt).astype(
                np.int64).reshape(c.d, c.w)
        return c

    __eq__ = serde.same_state

    def __repr__(self) -> str:
        return (f"{type(self).__name__}(w={self.w}, d={self.d}, "
                f"total={self.total})")
