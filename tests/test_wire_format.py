"""The wire format is pinned: each sketch kind, built from a fixed
seeded input, serializes to the same bytes as when these digests were
recorded. A change to a kernel's state, its header or its payload
encoding fails here first, before any stored sketch table goes stale.

Covers all ten kinds, CMS in plain and conservative-update mode, a
sparse and a dense Bloom payload, and an empty sketch."""

import hashlib

import numpy as np
import pytest

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.fd import FrequentDirections
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.sample import BottomKSample, WeightedBottomKSample
from sketchlib.core.tdigest import TDigest
from sketchlib.core.theta import ThetaSketch


def _keys(n, vocab, seed=11):
    ids = np.random.default_rng(seed).zipf(1.4, n) % vocab
    return [f"key-{i}" for i in ids]


def _floats(n, seed=12):
    return np.random.default_rng(seed).lognormal(3.0, 1.0, n)


BUILDERS = {
    "bloom_sparse": lambda: BloomFilter(1 << 16, 4, seed=3)
    .update_batch(_keys(200, 10**6)),
    "bloom_dense": lambda: BloomFilter(1 << 12, 5, seed=3)
    .update_batch(_keys(3000, 10**6)),
    "hll": lambda: HyperLogLog(10, seed=5).update_batch(_keys(5000, 4000)),
    "cms": lambda: CountMinSketch(256, 4, seed=7)
    .update_batch(_keys(5000, 3000)),
    "cms_sparse": lambda: CountMinSketch(4096, 3, seed=7)
    .update_batch(_keys(50, 3000)),
    "cms_conservative": lambda: CountMinSketch(256, 4, seed=7,
                                               conservative=True)
    .update_batch(_keys(5000, 3000)),
    "tdigest": lambda: TDigest(50).update_batch(_floats(5000)),
    "kll": lambda: KLL(32).update_batch(_floats(5000)),
    "theta": lambda: ThetaSketch(64, seed=9).update_batch(_keys(5000, 4000)),
    "sample": lambda: BottomKSample(16, seed=2)
    .update_batch([k.encode() for k in _keys(2000, 500)]),
    "countsketch": lambda: CountSketch(128, 5, seed=4)
    .update_batch(_keys(5000, 3000),
                  counts=np.random.default_rng(13).integers(-3, 9, 5000)),
    "fd": lambda: FrequentDirections(4, 6).update_batch(
        np.random.default_rng(14).normal(size=(40, 6)).round(3)),
    "wsample": lambda: WeightedBottomKSample(16, seed=6).update_batch(
        _keys(2000, 500), np.random.default_rng(15).uniform(0.5, 4.0, 2000)),
    "hll_empty": lambda: HyperLogLog(8),
    "countsketch_merged": lambda: CountSketch(128, 5, seed=4)
    .update_batch(_keys(3000, 3000)).merge(
        CountSketch(128, 5, seed=4).update_batch(_keys(3000, 3000, seed=16))),
    "sample_merged": lambda: BottomKSample(16, seed=2)
    .update_batch(_keys(500, 500)).merge(
        BottomKSample(16, seed=2).update_batch(_keys(500, 500, seed=17))),
}

DIGESTS = {
    "bloom_dense":
        "d8fef21c100cdd80fe0f4cea0bcb81f1160a4509064969a78e3ddfdf2f074cf5",
    "bloom_sparse":
        "49334ab7e28b76a0459478ded0b730ae5e3cd5937daf2ce8b10553fd514b3691",
    "cms":
        "dff4912c067a246422a1bbcdf13e99a119b60109e794b94043bf80e85c7142ab",
    "cms_conservative":
        "44fb7a587f9bc8cb65cde4c3c8505f0c44ee2811d4990d5d764b5ef6834354be",
    "cms_sparse":
        "531102ca2cac74c847db4f0eabba4a3fecd7a9074a524dafa3e18f46f31e487b",
    "countsketch":
        "6f76c95fa376ebdbbc1c1ea8516c59a318fad46e06aae7d4186603a6197324a8",
    "countsketch_merged":
        "6ab561452c9bb221a3453f6d0691a8ae024b15dbc96782b35a461cfaed2c6a56",
    "fd":
        "e0e97313dd4e135ae20e2cdd2e288ba6d3cef53813c3e44f51a3f23b41a909c9",
    "hll":
        "bcba35ec39845c348c848a547892172d10fd1a3bd3967dec62b684ba6b649357",
    "hll_empty":
        "fc8c4b9059e02d18a6b64995de7f4bb7b084498e4f19faaa2c3cca7d11cc767d",
    "kll":
        "c6aa6645c44c6a24f48498ac8134d3c0fa19ed5ff56ba630a597aa62909d8b04",
    "sample":
        "48ac50dd2a68da27e09dc5dc8adbfc360e847660c986d30a41bbde4b3418faea",
    "sample_merged":
        "aed5d8df28ff10a5d7aa21c2b8bfaec4401e8aa44cd55df62e0913f1a8c503fe",
    "tdigest":
        "00bca296712eca47f9dc44df0188376c95dbbe14529a22a04ac24e033cc325a6",
    "theta":
        "296e1b5b22ed0c4e10d8357a10772433e8a4719931f41ff344bc31420dae32e9",
    "wsample":
        "99fe8973e3473689b9ab52e64c44ca73f7ad4efa9965e138eb2a5ef3b17b3779",
}


@pytest.mark.parametrize("name", sorted(BUILDERS))
def test_blob_digest_pinned(name):
    blob = BUILDERS[name]().to_bytes()
    assert hashlib.sha256(blob).hexdigest() == DIGESTS[name]
