"""Property tests: adaptive serde encodings round-trip losslessly at
every fill level, encoding choice never changes logical state, and
every registered kind keeps the serde contract (typed ``from_bytes``,
``==`` as byte equality)."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from sketchlib.core import serde
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.fd import FrequentDirections
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.sample import BottomKSample, WeightedBottomKSample
from sketchlib.core.tdigest import TDigest
from sketchlib.core.theta import ThetaSketch

# one maker per registered kind: (keys, floats) -> sketch
MAKERS = {
    BloomFilter: lambda ks, xs: BloomFilter(1 << 12, 4).update_batch(ks),
    HyperLogLog: lambda ks, xs: HyperLogLog(8).update_batch(ks),
    CountMinSketch: lambda ks, xs: CountMinSketch(
        64, 3, conservative=len(ks) % 2 == 1).update_batch(ks),
    TDigest: lambda ks, xs: TDigest(20).update_batch(xs),
    KLL: lambda ks, xs: KLL(16).update_batch(xs),
    ThetaSketch: lambda ks, xs: ThetaSketch(16).update_batch(ks),
    BottomKSample: lambda ks, xs: BottomKSample(8).update_batch(ks),
    CountSketch: lambda ks, xs: CountSketch(64, 3).update_batch(ks),
    FrequentDirections: lambda ks, xs: FrequentDirections(4, 3)
    .update_batch(np.c_[xs, -xs, xs * xs]),
    WeightedBottomKSample: lambda ks, xs: WeightedBottomKSample(8)
    .update_batch(ks, xs + 1.0),
}


def test_makers_cover_every_registered_kind():
    assert set(MAKERS) == set(serde._REGISTRY.values())


def _inputs(n, salt):
    keys = [f"k{salt}-{i % 40}" for i in range(n)]
    return keys, np.arange(n, dtype=np.float64) % (7 + salt % 5)


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=300),
       st.integers(min_value=0, max_value=2),
       st.integers(min_value=0, max_value=2))
def test_every_kind_roundtrips_and_eq_is_byte_equality(n, salt_a, salt_b):
    blobs = {}
    for cls, make in MAKERS.items():
        a, b = make(*_inputs(n, salt_a)), make(*_inputs(n, salt_b))
        blob = a.to_bytes()
        back = cls.from_bytes(blob)
        assert type(back) is cls and back.to_bytes() == blob
        assert type(serde.sketch_from_bytes(blob)) is cls
        if cls.__eq__ is serde.same_state:
            assert back == a
            assert (a == b) == (blob == b.to_bytes())
        blobs[cls] = blob
    for cls in MAKERS:
        for other, blob in blobs.items():
            if other is not cls:
                with pytest.raises(ValueError, match="not a"):
                    cls.from_bytes(blob)


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=3000), st.integers(min_value=0, max_value=2**31))
def test_bloom_roundtrip_any_fill(n_keys, seed):
    bf = BloomFilter(1 << 14, 5, seed=seed % 1000)
    if n_keys:
        bf.update_batch([f"k{seed}-{i}" for i in range(n_keys)])
    blob = bf.to_bytes()
    back = BloomFilter.from_bytes(blob)
    assert back == bf and back.to_bytes() == blob


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=5000),
       st.integers(min_value=-100000, max_value=2**40))
def test_cms_roundtrip_any_fill_and_weights(n_keys, weight):
    cms = CountMinSketch(512, 3)
    if n_keys:
        cms.update_batch([f"t{i % 97}" for i in range(n_keys)],
                         counts=np.full(n_keys, weight if weight else 1,
                                        dtype=np.int64))
    blob = cms.to_bytes()
    back = CountMinSketch.from_bytes(blob)
    assert back == cms and back.total == cms.total
    assert back.to_bytes() == blob


@settings(max_examples=40, deadline=None)
@given(st.integers(min_value=0, max_value=20000))
def test_hll_roundtrip_any_fill(n_keys):
    h = HyperLogLog(b=12)
    if n_keys:
        h.update_batch([f"u{i}" for i in range(n_keys)])
    blob = h.to_bytes()
    back = HyperLogLog.from_bytes(blob)
    assert back == h and back.to_bytes() == blob


def test_encoding_boundary_merge_equivalence():
    """A sparse-encoded partial merged into a dense-encoded one must be
    identical to merging the unserialized states."""
    a = BloomFilter(1 << 12, 4).update_batch([f"a{i}" for i in range(2000)])
    b = BloomFilter(1 << 12, 4).update_batch(["b1", "b2"])
    direct = BloomFilter(1 << 12, 4)
    direct.update_batch([f"a{i}" for i in range(2000)]).update_batch(["b1", "b2"])
    via_serde = (BloomFilter.from_bytes(a.to_bytes())
                 .merge(BloomFilter.from_bytes(b.to_bytes())))
    assert np.array_equal(via_serde.bits, direct.bits)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2000),
       st.integers(min_value=1, max_value=64))
def test_sample_roundtrip_any_fill(n_keys, k):
    from sketchlib.core.sample import BottomKSample
    s = BottomKSample(k=k, seed=3)
    if n_keys:
        # include binary payloads with NULs and variable lengths
        s.update_batch([f"k{i}".encode() + b"\x00" * (i % 3)
                        for i in range(n_keys)])
    back = BottomKSample.from_bytes(s.to_bytes())
    assert back == s and back.to_bytes() == s.to_bytes()
