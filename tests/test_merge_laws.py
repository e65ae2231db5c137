"""Merge-order property tests (north_rule: associativity/commutativity).

Bloom / HLL / CMS merges are lossless lattice joins (OR / max / +), so
the merged sketch bytes must be bitwise-identical under ANY split and
merge order of a fixed corpus. t-digest / KLL compaction is lossy, so
bitwise associativity is impossible for any implementation of those
algorithms; for them we assert bitwise commutativity plus the
rank-error bound under arbitrary merge orders (SURVEY.md §7).
"""

import functools

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.tdigest import TDigest
from sketchlib.core.kll import KLL
from sketchlib.core.theta import ThetaSketch
from sketchlib.core.sample import BottomKSample
from sketchlib.core.countsketch import CountSketch

CORPUS = [f"https://host{i % 97}.example.com/p/{i}" for i in range(5000)]
VALUES = np.random.default_rng(42).lognormal(9, 1, 5000)


def _split(items, n_parts, perm_seed):
    rng = np.random.default_rng(perm_seed)
    idx = rng.permutation(len(items))
    parts = np.array_split(idx, n_parts)
    if isinstance(items, np.ndarray):
        return [items[p] for p in parts]
    return [[items[i] for i in p] for p in parts]


def _merge_in_order(sketches, order):
    acc = sketches[order[0]]
    for i in order[1:]:
        acc = acc.merge(sketches[i])
    return acc


@pytest.mark.parametrize("make,update_data", [
    (lambda: BloomFilter(1 << 16, 7, seed=1), CORPUS),
    (lambda: HyperLogLog(b=11, seed=1), CORPUS),
    (lambda: CountMinSketch(1024, 5, seed=1), CORPUS),
    (lambda: ThetaSketch(k=256, seed=1), CORPUS),
    (lambda: BottomKSample(k=128, seed=1), CORPUS),
    (lambda: CountSketch(512, 5, seed=1), CORPUS),
])
@pytest.mark.parametrize("n_parts", [2, 4, 8, 17])
def test_bitwise_merge_order_identity(make, update_data, n_parts):
    sequential = make().update_batch(update_data).to_bytes()
    for perm_seed in (0, 1, 2):
        parts = _split(update_data, n_parts, perm_seed)
        partials = [make().update_batch(p) for p in parts]
        order = list(np.random.default_rng(perm_seed + 100).permutation(n_parts))
        merged = _merge_in_order(partials, order)
        assert merged.to_bytes() == sequential, (n_parts, perm_seed)


def test_bloom_merge_equals_union_semantics():
    a = BloomFilter(1 << 14, 6).update_batch(CORPUS[:2500])
    b = BloomFilter(1 << 14, 6).update_batch(CORPUS[2500:])
    a.merge(b)
    assert a.contains_batch(CORPUS).all()


def test_tdigest_commutative_bitwise():
    parts = _split(VALUES, 2, 0)
    a1 = TDigest(100).update_batch(parts[0])
    b1 = TDigest(100).update_batch(parts[1])
    a2 = TDigest(100).update_batch(parts[0])
    b2 = TDigest(100).update_batch(parts[1])
    assert a1.merge(b1).to_bytes() == b2.merge(a2).to_bytes()


@pytest.mark.parametrize("n_parts", [2, 4, 8, 17])
def test_tdigest_merge_order_within_bound(n_parts):
    srt = np.sort(VALUES)
    for perm_seed in (0, 1):
        parts = _split(VALUES, n_parts, perm_seed)
        partials = [TDigest(200).update_batch(p) for p in parts]
        order = list(np.random.default_rng(perm_seed).permutation(n_parts))
        merged = _merge_in_order(partials, order)
        for q in (0.05, 0.5, 0.95):
            est = merged.quantile(q)
            true_rank = np.searchsorted(srt, est) / len(srt)
            assert abs(true_rank - q) < 0.03, (n_parts, perm_seed, q)


@pytest.mark.parametrize("n_parts", [2, 4, 8, 17])
def test_kll_merge_order_within_bound(n_parts):
    srt = np.sort(VALUES)
    for perm_seed in (0, 1):
        parts = _split(VALUES, n_parts, perm_seed)
        partials = [KLL(k=200).update_batch(p) for p in parts]
        order = list(np.random.default_rng(perm_seed).permutation(n_parts))
        merged = _merge_in_order(partials, order)
        for q in (0.05, 0.5, 0.95):
            est = merged.quantile(q)
            true_rank = np.searchsorted(srt, est) / len(srt)
            assert abs(true_rank - q) < 0.04, (n_parts, perm_seed, q)


def test_fold_blobs_is_the_ordered_merge():
    """fold_blobs folds in exactly the order given (lossy KLL bytes
    equal the hand fold in that order) and prefixes kernel errors
    with the caller's context."""
    from sketchlib.core.serde import fold_blobs
    parts = _split(VALUES, 5, 0)
    blobs = [KLL(k=64).update_batch(p).to_bytes() for p in parts]
    order = [3, 0, 4, 1, 2]
    want = _merge_in_order([KLL.from_bytes(b) for b in blobs], order)
    assert fold_blobs(blobs[i] for i in order).to_bytes() == want.to_bytes()
    odd = KLL(k=32).update_batch(parts[0]).to_bytes()
    with pytest.raises(ValueError, match="^group x: "):
        fold_blobs([blobs[0], odd], context="group x")
    with pytest.raises(ValueError):
        fold_blobs([])


@settings(max_examples=25, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=200),
       st.integers(min_value=2, max_value=6))
def test_hypothesis_bloom_hll_split_invariance(keys, n_parts):
    # NUL-containing keys are deliberately IN scope: binary-safe
    # hashing is part of the contract (round-4 review removed the
    # old filter that silently excluded them)
    if not keys:
        return
    seq_b = BloomFilter(4096, 5).update_batch(keys).to_bytes()
    seq_h = HyperLogLog(b=8).update_batch(keys).to_bytes()
    parts = [keys[i::n_parts] for i in range(n_parts)]
    pb = [BloomFilter(4096, 5).update_batch(p) for p in parts]
    ph = [HyperLogLog(b=8).update_batch(p) for p in parts]
    assert functools.reduce(lambda x, y: x.merge(y), pb).to_bytes() == seq_b
    assert functools.reduce(lambda x, y: x.merge(y), ph).to_bytes() == seq_h
