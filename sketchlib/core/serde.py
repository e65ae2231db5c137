"""Versioned binary serialization for sketch states.

The reference serialized its only value type as a Hadoop Writable
(``int k, int m, int len, long[] words`` —
/root/reference/hadoop/.../model/BloomFilter.java:77-98). Ours is a
self-describing envelope so sketch bytes stored in a parquet
``binary`` column survive schema evolution:

    magic 'SKB1' | u8 version | u8 type_id | u32 header_len |
    header (utf-8 JSON of params) | payload (numpy buffers)

``to_bytes`` is canonical: a given logical sketch state always produces
identical bytes (required by the merge-order property tests).
"""

from __future__ import annotations

import json
import struct

MAGIC = b"SKB1"
VERSION = 1

# type ids are part of the wire format — never renumber
TYPE_BLOOM = 1
TYPE_HLL = 2
TYPE_CMS = 3
TYPE_TDIGEST = 4
TYPE_KLL = 5
TYPE_THETA = 6
TYPE_SAMPLE = 7
TYPE_COUNTSKETCH = 8
TYPE_FD = 9
TYPE_WSAMPLE = 10

_REGISTRY: dict[int, type] = {}


def register_sketch(type_id: int):
    def deco(cls):
        cls.TYPE_ID = type_id
        _REGISTRY[type_id] = cls
        return cls
    return deco


def pack(type_id: int, header: dict, payload: bytes) -> bytes:
    hjson = json.dumps(header, sort_keys=True, separators=(",", ":")).encode()
    return MAGIC + struct.pack("<BBI", VERSION, type_id, len(hjson)) + hjson + payload


def unpack(data: bytes) -> tuple[int, dict, bytes]:
    if data[:4] != MAGIC:
        raise ValueError("not a sketchlib blob (bad magic)")
    try:
        version, type_id, hlen = struct.unpack_from("<BBI", data, 4)
        off = 4 + 6
        header = json.loads(data[off:off + hlen].decode())
    except (struct.error, UnicodeDecodeError, json.JSONDecodeError) as e:
        raise ValueError(f"truncated or corrupt sketch blob: {e}") from e
    if version != VERSION:
        raise ValueError(f"unsupported sketch version {version}")
    return type_id, header, data[off + hlen:]


def pack_table(flat) -> tuple[dict, bytes]:
    """Adaptive counter-table encoding shared by CMS and count sketch:
    narrowest dtype that holds the value range (unsigned tiers when
    non-negative, signed otherwise), sparse (uint32 idx + values) when
    smaller than dense. Returns (header_fields, payload); decode with
    ``unpack_table``. Encoding is a pure function of the values, so
    canonical-bytes guarantees are preserved."""
    import numpy as np
    vmax = int(flat.max(initial=0))
    vmin = int(flat.min(initial=0))
    if vmin < 0:
        dt = (np.int16 if -0x8000 <= vmin and vmax <= 0x7FFF else
              np.int32 if -0x80000000 <= vmin and vmax <= 0x7FFFFFFF
              else np.int64)
    else:
        dt = (np.uint16 if vmax <= 0xFFFF else
              np.uint32 if vmax <= 0xFFFFFFFF else np.int64)
    nz = np.flatnonzero(flat)
    fields = {"dtype": np.dtype(dt).name}
    if len(nz) * (4 + dt().itemsize) < flat.size * dt().itemsize:
        fields["enc"] = "sparse"
        payload = nz.astype(np.uint32).tobytes() + flat[nz].astype(dt).tobytes()
    else:
        fields["enc"] = "dense"
        payload = flat.astype(dt).tobytes()
    return fields, payload


def unpack_table(header: dict, payload: bytes, size: int):
    """Inverse of ``pack_table``: int64[size] flat counter array."""
    import numpy as np
    dt = np.dtype(header.get("dtype", "int64"))
    if header.get("enc", "dense") == "sparse":
        n = len(payload) // (4 + dt.itemsize)
        flat = np.zeros(size, dtype=np.int64)
        idx = np.frombuffer(payload[:4 * n], dtype=np.uint32).astype(np.int64)
        flat[idx] = np.frombuffer(payload[4 * n:], dtype=dt).astype(np.int64)
        return flat
    return np.frombuffer(payload, dtype=dt).astype(np.int64)


def sketch_from_bytes(data: bytes):
    """Deserialize any registered sketch from its envelope."""
    type_id, header, payload = unpack(data)
    cls = _REGISTRY.get(type_id)
    if cls is None:
        raise ValueError(f"unknown sketch type id {type_id}")
    return cls._from_parts(header, payload)


def fold_blobs(blobs, context: str | None = None):
    """Deserialize and merge sketch blobs into ONE sketch, in the order
    given — the single fold behind every merge path (partial merge,
    rollup, incremental update, SQL ``sketch_merge``, heavy hitters).

    The caller owns the order: lattice sketches (Bloom/HLL/CMS/theta)
    merge bitwise-identically under any order, but the lossy quantile
    sketches (KLL/t-digest) do not, so each entry point passes its
    blobs already sorted by its documented total order. A kernel
    ``ValueError`` (incompatible params, corrupt blob) is re-raised
    with ``context`` prefixed when one is given."""
    it = iter(blobs)
    first = next(it, None)
    if first is None:
        raise ValueError("fold_blobs needs at least one blob")
    sk = sketch_from_bytes(bytes(first))
    for blob in it:
        try:
            sk.merge(sketch_from_bytes(bytes(blob)))
        except ValueError as e:
            if context:
                raise ValueError(f"{context}: {e}") from e
            raise
    return sk
