"""Versioned binary serialization for sketch states.

The reference serialized its only value type as a Hadoop Writable
(``int k, int m, int len, long[] words`` —
/root/reference/hadoop/.../model/BloomFilter.java:77-98). Ours is a
self-describing envelope so sketch bytes stored in a parquet
``binary`` column survive schema evolution:

    magic 'SKB1' | u8 version | u8 type_id | u32 header_len |
    header (utf-8 JSON of params) | payload (numpy buffers)

``to_bytes`` is canonical: a given logical sketch state always produces
identical bytes (required by the merge-order property tests). The rest
of the state contract lives here too: ``register_sketch`` gives every
kernel its type-checked ``from_bytes``, and ``same_state`` (byte
equality) is the ``__eq__`` of the kernels that define one.
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
    """Class decorator: register ``cls`` under ``type_id`` and install
    its type-checked ``from_bytes`` (the class supplies
    ``_from_parts(header, payload)``)."""
    def deco(cls):
        cls.TYPE_ID = type_id
        cls.from_bytes = classmethod(_from_bytes)
        _REGISTRY[type_id] = cls
        return cls
    return deco


def _from_bytes(cls, data: bytes):
    type_id, header, payload = unpack(data)
    if type_id != cls.TYPE_ID:
        raise ValueError(f"not a {cls.__name__} blob (type id {type_id})")
    return cls._from_parts(header, payload)


def same_state(a, b) -> bool:
    """The ``__eq__`` of the kernels that define one: same class and
    same canonical bytes, so equal sketches serialize, merge and
    answer alike."""
    return type(a) is type(b) and a.to_bytes() == b.to_bytes()


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
