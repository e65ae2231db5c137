"""Mergeable bottom-k uniform sample — KMV that keeps the payloads.

Seventh kernel. The theta sketch (core/theta.py) keeps the k smallest
key *hashes* for set algebra; this one additionally retains the key
*bytes* for those hashes, giving a uniform random sample of the
DISTINCT values in a group — "show me 100 random urls per lang" over
10^12 rows — plus the same KMV distinct estimate for free.

Mergeability: the state (k smallest distinct tags + their payloads) is
a pure function of the input value multiset — hash tags are
deterministic, and equal tags carry equal payloads — so merged bytes
are bitwise-identical under any merge order/grouping (lattice join,
same property class as Bloom/HLL/CMS; property-tested). That is what
makes it a partition-local build + hierarchical merge citizen like
every other kernel here (reference pattern:
/root/reference/spark/main.py stage-2 build + reduceByKey merge).

Uniformity: tag = murmur-based hash64(value), so "k smallest tags" is
a uniform without-replacement sample of distinct values, stable across
partitionings. Duplicates never skew it — a value occupies one tag no
matter how often it appears.

Cost model at scale: state is <= k (tag + payload) entries regardless
of input size; update work per batch is one vectorized hash pass +
an argpartition; only <= k payloads per batch materialize as Python
bytes. Shuffle cost is O(#partitions x #groups x k·avg_len), same
shape as the other kernels.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from sketchlib.core import hashing
from sketchlib.core import serde
from sketchlib.core.theta import kmv_estimate, kmv_theta_raw

_MAX_U64 = float(2 ** 64)
_EMPTY_PAYLOADS = np.zeros(0, dtype=object)


class _BottomK:
    """What the two bottom-k samples share: (k, seed), the retained
    payloads, and one codec. The blob is header {k, seed, n}, then
    each ``_COLUMNS`` state array (n 8-byte values, wire order), the
    int64 payload lengths, and the payload bytes."""
    __slots__ = ("k", "seed", "tags", "payloads")
    _COLUMNS = ("tags",)

    def __init__(self, k: int = 1024, seed: int = 0):
        if k < 1:
            raise ValueError(f"sample size k must be >= 1, got {k}")
        self.k = int(k)
        self.seed = int(seed)
        self.tags = np.zeros(0, dtype=np.uint64)      # value hashes
        self.payloads = _EMPTY_PAYLOADS               # bytes, tag-aligned

    def _check_merge(self, other) -> None:
        if (other.k, other.seed) != (self.k, self.seed):
            raise ValueError("cannot merge samples with different (k,seed)")

    def sample(self) -> list[bytes]:
        """The retained payloads (<= k distinct values)."""
        return [bytes(p) for p in self.payloads]

    def rel_error(self) -> float:
        return 1.0 / np.sqrt(max(self.k - 2, 1))

    # --- serialization (canonical: state is already canonical) ---

    def to_bytes(self) -> bytes:
        lens = np.fromiter((len(p) for p in self.payloads),
                           dtype=np.int64, count=len(self.payloads))
        header = {"k": self.k, "seed": self.seed, "n": len(self.tags)}
        return serde.pack(self.TYPE_ID, header, b"".join(
            [getattr(self, c).tobytes() for c in self._COLUMNS]
            + [lens.tobytes(), *self.payloads]))

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes):
        s = cls(header["k"], header["seed"])
        n = header["n"]
        for i, c in enumerate(cls._COLUMNS):  # dtypes of the empty state
            setattr(s, c, np.frombuffer(payload, dtype=getattr(s, c).dtype,
                                        count=n, offset=8 * n * i).copy())
        width = 8 * n * len(cls._COLUMNS)
        lens = np.frombuffer(payload, dtype=np.int64, count=n, offset=width)
        offs = width + 8 * n + np.concatenate([[0], np.cumsum(lens)])
        if n:
            s.payloads = np.array([payload[offs[i]:offs[i + 1]]
                                   for i in range(n)], dtype=object)
        return s

    __eq__ = serde.same_state


@serde.register_sketch(serde.TYPE_SAMPLE)
class BottomKSample(_BottomK):
    __slots__ = ()

    # --- UDAF contract: new / update_batch / merge / estimate / serde ---

    def update_batch(self, values) -> "BottomKSample":
        if len(values) == 0:
            return self
        arr = hashing.drop_null_keys(values)  # the shared null rule
        if len(arr) == 0:
            return self
        tags = hashing.hash64(arr, self.seed)
        # bound Python-object work to k payloads per batch: only the k
        # smallest DISTINCT tags of this batch can enter the state.
        # Dedup BEFORE the cut — taking the k smallest raw entries
        # would let duplicates of one hot value crowd out distinct
        # values that belong in the global bottom-k (state would then
        # depend on batch grouping, breaking the lattice property)
        uniq, first_idx = np.unique(tags, return_index=True)
        if len(uniq) > self.k:
            uniq = uniq[: self.k]
            first_idx = first_idx[: self.k]
        arr = arr.take(pa.array(first_idx))
        return self._absorb(uniq, np.array(arr.to_pylist(), dtype=object))

    def merge(self, other: "BottomKSample") -> "BottomKSample":
        self._check_merge(other)
        return self._absorb(other.tags, other.payloads)

    def _absorb(self, tags: np.ndarray, payloads: np.ndarray) -> "BottomKSample":
        all_tags = np.concatenate([self.tags, tags])
        all_pay = np.concatenate([self.payloads, payloads])
        # sorted distinct tags, first-occurrence payload (equal tags
        # carry equal payloads, so the choice cannot affect canonics)
        uniq, idx = np.unique(all_tags, return_index=True)
        self.tags = uniq[: self.k].copy()
        self.payloads = all_pay[idx[: self.k]]
        return self

    def theta(self) -> float:
        return kmv_theta_raw(self.tags, self.k) / _MAX_U64

    def estimate(self) -> float:
        """KMV distinct estimate (exact below saturation)."""
        return kmv_estimate(self.tags, self.k)

    def __repr__(self) -> str:
        return f"BottomKSample(k={self.k}, n_retained={len(self.tags)})"


@serde.register_sketch(serde.TYPE_WSAMPLE)
class WeightedBottomKSample(_BottomK):
    """Mergeable WEIGHTED bottom-k sample (Efraimidis–Spirakis A-ES
    with deterministic per-value jitter) — the mixture-sampling
    primitive of a training pipeline: "sample k docs per lang with
    probability ∝ quality score" over 10^12 rows, one fixed-size
    mergeable state per group.

    Key construction: u(v) = (hash64(v) + 0.5) / 2^64 ∈ (0,1) is a
    uniform deterministic tag of the VALUE; an item with weight w gets
    key(v, w) = -ln(u(v)) / w  (an Exp(1) draw scaled by 1/w), and the
    state keeps the k SMALLEST keys with their payloads. Classic A-ES
    draws u fresh per row; fixing u per value makes the state a pure
    function of the value -> max-weight mapping: re-occurrences of a
    value with different weights keep the MINIMUM key (= maximum
    weight), a lattice join, so merged bytes are bitwise-identical
    under any split/merge order (property-tested) — same mergeability
    class as the uniform bottom-k above.

    Inclusion is weight-proportional in the A-ES sense over DISTINCT
    values (duplicates never crowd the sample; a value's weight is the
    max seen). Saturated, the k-th smallest key also estimates the
    TOTAL weight of distinct values: keys are Exp(1)/w draws, so the
    k-th order statistic ≈ Gamma(k)/W with W = Σ_v w_v, giving
    ``weight_estimate() = (k-1) / key_(k)`` (the weighted analog of
    the KMV distinct estimate, same 1/sqrt(k-2) error shape).

    Cost model: state ≤ k (key + tag + weight + payload) entries;
    update is one vectorized hash pass + an argpartition per batch.
    """

    __slots__ = ("keys", "weights")
    _COLUMNS = ("keys", "tags", "weights")

    def __init__(self, k: int = 1024, seed: int = 0):
        super().__init__(k, seed)
        self.keys = np.zeros(0, dtype=np.float64)     # sorted ascending
        self.weights = np.zeros(0, dtype=np.float64)  # key-aligned

    # --- UDAF contract ---------------------------------------------

    def update_batch(self, values, weights) -> "WeightedBottomKSample":
        if len(values) == 0:
            return self
        w = np.asarray(weights, dtype=np.float64)
        if len(w) != len(values):
            raise ValueError("values and weights must align")
        arr, valid = hashing.valid_key_mask(values)
        ok = ~np.isnan(w)  # NaN weight drops the row (null rule)
        if valid is not None:
            ok &= valid
        # positivity is validated on rows that SURVIVE the null rule:
        # a null-valued row is dropped before its weight matters (same
        # order as the cms/countsketch feed path), so a pipeline whose
        # weight defaults to 0 for null values doesn't kill the job
        if np.any(w[ok] <= 0):
            raise ValueError(
                "weights must be > 0 (a zero/negative sampling weight "
                "is a caller bug, not a row to skip silently)")
        if not ok.all():
            arr = arr.filter(pa.array(ok))
            w = w[ok]
        if len(w) == 0:
            return self
        tags = hashing.hash64(arr, self.seed)
        u = (tags.astype(np.float64) + 0.5) / _MAX_U64
        keys = -np.log(u) / w
        # per-tag min key within the batch (max weight wins), then cut
        # to the k smallest before materializing payloads
        order = np.lexsort((keys, tags))
        tags_s, keys_s, w_s = tags[order], keys[order], w[order]
        first = np.concatenate([[True], tags_s[1:] != tags_s[:-1]])
        tags_s, keys_s, w_s = tags_s[first], keys_s[first], w_s[first]
        sel_src = order[first]
        if len(keys_s) > self.k:
            cut = np.argpartition(keys_s, self.k - 1)[: self.k]
            tags_s, keys_s, w_s = tags_s[cut], keys_s[cut], w_s[cut]
            sel_src = sel_src[cut]
        pay = np.array(arr.take(pa.array(sel_src)).to_pylist(), dtype=object)
        return self._absorb(keys_s, tags_s, w_s, pay)

    def merge(self, other: "WeightedBottomKSample") -> "WeightedBottomKSample":
        self._check_merge(other)
        return self._absorb(other.keys, other.tags, other.weights,
                            other.payloads)

    def _absorb(self, keys, tags, weights, payloads):
        if len(keys) == 0:
            return self  # absorbing an empty state is the identity
        all_keys = np.concatenate([self.keys, keys])
        all_tags = np.concatenate([self.tags, tags])
        all_w = np.concatenate([self.weights, weights])
        all_p = np.concatenate([self.payloads, payloads])
        # per-tag minimum key (equal tags carry equal payloads; the
        # min key corresponds to the max weight seen for that value)
        order = np.lexsort((all_keys, all_tags))
        first = np.concatenate([[True], all_tags[order][1:]
                                != all_tags[order][:-1]])
        sel = order[first]
        # canonical total order: ascending (key, tag), k smallest
        sel = sel[np.lexsort((all_tags[sel], all_keys[sel]))][: self.k]
        self.keys = all_keys[sel].copy()
        self.tags = all_tags[sel].copy()
        self.weights = all_w[sel].copy()
        self.payloads = all_p[sel]
        return self

    # --- read-outs --------------------------------------------------

    def sample_weights(self) -> list[float]:
        return [float(w) for w in self.weights]

    def weight_estimate(self) -> float:
        """Estimated TOTAL weight over distinct values (exact sum of
        retained weights below saturation)."""
        if len(self.keys) < self.k:
            return float(self.weights.sum())
        return (self.k - 1) / float(self.keys[-1])

    def estimate(self) -> float:
        """Alias read-out used by generic SQL surfaces."""
        return self.weight_estimate()

    def __repr__(self) -> str:
        return (f"WeightedBottomKSample(k={self.k}, "
                f"n_retained={len(self.tags)})")
