"""Round-2 kernel upgrades: binary-safe hashing, Ertl HLL estimator,
theta difference, CMS conservative update, constructor validation."""

import numpy as np
import pytest

from sketchlib.core import hashing
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.theta import ThetaSketch


# ---------------------------------------------------------------------------
# binary-safe hashing (VERDICT next-round #2)
# ---------------------------------------------------------------------------

class TestBinaryKeys:
    def test_nul_byte_keys_distinct(self):
        """Embedded/trailing NULs must not collide (old numpy-'S' storage
        NUL-padded, so b'a' and b'a\\x00' collided)."""
        keys = [b"a", b"a\x00", b"a\x00\x00", b"\x00a", b"a\x00b",
                b"ab", b"", b"\x00", b"\x00\x00"]
        h = hashing.hash64(keys)
        assert len(set(h.tolist())) == len(keys)

    def test_random_binary_keys_distinct_hashes(self):
        rng = np.random.default_rng(3)
        keys = list({bytes(rng.integers(0, 256, rng.integers(0, 40),
                                        dtype=np.uint8)) for _ in range(2000)})
        h = hashing.hash64(keys)
        assert len(set(h.tolist())) == len(keys)  # no 64-bit collisions at 2k

    def test_scalar_parity_with_nuls(self):
        keys = [b"a\x00b", b"\x00\x00\x00\x00", b"xy\x00", b"q" * 9 + b"\x00"]
        vec = hashing.murmur3_32(keys, seed=11)
        for i, k in enumerate(keys):
            assert int(vec[i]) == hashing.murmur3_32_scalar(k, 11)

    def test_mixed_str_bytes_batch(self):
        """Per-element encoding: str utf-8-encodes regardless of position
        (old code dispatched on the first element only)."""
        a = hashing.hash64([b"abc", "abc", "dé", b"d\xc3\xa9"])
        assert a[0] == a[1]
        assert a[2] == a[3]

    def test_int_keys_canonicalize_to_decimal_strings(self):
        """Integer id columns sketch directly: int64 feed == the decimal
        strings Spark's CAST(col AS STRING) would produce."""
        import pandas as pd
        ints = pd.Series([0, 1, -7, 2**62, -(2**62)], dtype="int64")
        strs = [str(v) for v in ints]
        assert (hashing.hash64(ints) == hashing.hash64(strs)).all()
        assert (hashing.hash64(np.asarray(ints)) == hashing.hash64(strs)).all()
        assert (hashing.hash64([3, 14]) == hashing.hash64(["3", "14"])).all()

    def test_float_keys_raise(self):
        import pandas as pd
        with pytest.raises(TypeError, match="float"):
            hashing.hash64(pd.Series([1.5, 2.5]))

    def test_bloom_over_binary_column(self):
        rng = np.random.default_rng(5)
        keys = [bytes(rng.integers(0, 256, 24, dtype=np.uint8)) for _ in range(500)]
        keys += [k + b"\x00" for k in keys[:50]]  # trailing-NUL variants
        bf = BloomFilter(1 << 15, 6).update_batch(keys)
        assert bf.contains_batch(keys).all()  # zero false negatives
        other = [bytes(rng.integers(0, 256, 24, dtype=np.uint8)) for _ in range(500)]
        fpr = bf.contains_batch(other).mean()
        assert fpr < 0.05

    def test_long_binary_keys(self):
        big = [bytes([i]) * 10_000 for i in range(50)]
        h = hashing.hash64(big)
        assert len(set(h.tolist())) == len(big)
        h2 = hashing.hash64(big)
        assert np.array_equal(h, h2)


# ---------------------------------------------------------------------------
# HLL: Ertl improved estimator — no biased band (VERDICT next-round #5)
# ---------------------------------------------------------------------------

class TestHLLErtl:
    def test_sweep_no_biased_band(self):
        """Error within 3 sigma (1.04/sqrt(m)) at every cardinality from
        1e2 to 1e6 INCLUDING the 2.5m-5m band where the raw FFGM
        estimator is known-biased; mean over seeds within 1 sigma."""
        b = 12
        m = 1 << b
        sigma = 1.04 / np.sqrt(m)
        cards = [100, 1000, 5000, int(2.5 * m), int(3 * m), int(3.5 * m),
                 int(4 * m), int(5 * m), int(8 * m), 200_000, 1_000_000]
        for n in cards:
            errs = []
            for seed in range(4):
                h = HyperLogLog(b, seed=seed)
                h.update_batch(np.char.add("k", np.arange(n).astype(str)))
                errs.append((h.estimate() - n) / n)
            assert max(abs(e) for e in errs) < 3 * sigma, (n, errs)
            assert abs(np.mean(errs)) < 1.0 * sigma, (n, errs)

    def test_empty_and_tiny(self):
        h = HyperLogLog(10)
        assert h.estimate() == 0.0
        h.update_batch(["a", "b", "c", "a"])
        assert abs(h.estimate() - 3) < 0.5


# ---------------------------------------------------------------------------
# theta difference (VERDICT next-round #6)
# ---------------------------------------------------------------------------

class TestThetaDifference:
    def test_difference_exact_below_saturation(self):
        a = ThetaSketch(4096).update_batch([f"u{i}" for i in range(1000)])
        b = ThetaSketch(4096).update_batch([f"u{i}" for i in range(600, 1400)])
        assert a.difference_estimate(b) == 600  # exact: both unsaturated
        assert b.difference_estimate(a) == 400

    def test_difference_estimate_saturated(self):
        n, overlap = 60_000, 20_000
        a = ThetaSketch(4096).update_batch([f"a{i}" for i in range(n)])
        both_a = [f"s{i}" for i in range(overlap)]
        a.update_batch(both_a)
        b = ThetaSketch(4096).update_batch([f"b{i}" for i in range(n)])
        b.update_batch(both_a)
        true_diff = n
        est = a.difference_estimate(b)
        # rel error of the difference ~ rel_error * |A|/|A\B| — allow 6x base
        assert abs(est - true_diff) / true_diff < 6 * a.rel_error(), est

    def test_identities(self):
        a = ThetaSketch(1024).update_batch([f"x{i}" for i in range(5000)])
        assert a.difference_estimate(a) == 0.0
        empty = ThetaSketch(1024)
        assert a.difference_estimate(empty) == pytest.approx(a.estimate(), rel=0.2)
        assert empty.difference_estimate(a) == 0.0

    def test_mismatched_family_raises(self):
        with pytest.raises(ValueError):
            ThetaSketch(1024).difference_estimate(ThetaSketch(2048))


# ---------------------------------------------------------------------------
# CMS conservative update (VERDICT next-round #9)
# ---------------------------------------------------------------------------

class TestCMSConservative:
    @staticmethod
    def _zipf_stream(n, vocab, seed=0):
        rng = np.random.default_rng(seed)
        z = rng.zipf(1.3, n)
        z = z[z <= vocab]
        return np.char.add("tok", z.astype(str))

    def test_tightens_on_zipf(self):
        """Conservative update strictly reduces total overestimate on a
        heavy-tailed stream in an undersized sketch."""
        stream = self._zipf_stream(50_000, 5000)
        vals, counts = np.unique(stream, return_counts=True)
        plain = CountMinSketch(256, 4).update_batch(stream)
        cons = CountMinSketch(256, 4, conservative=True)
        # feed in batches, as the build path does
        for off in range(0, len(stream), 8192):
            cons.update_batch(stream[off:off + 8192])
        e_plain = plain.query_batch(vals).astype(np.int64)
        e_cons = cons.query_batch(vals).astype(np.int64)
        assert (e_cons >= counts).all()  # still overestimate-only
        assert (e_plain >= counts).all()
        assert e_cons.sum() < 0.7 * e_plain.sum()  # markedly tighter

    def test_merge_of_conservative_states_still_overestimates(self):
        stream = self._zipf_stream(40_000, 3000, seed=1)
        vals, counts = np.unique(stream, return_counts=True)
        half = len(stream) // 2
        a = CountMinSketch(256, 4, conservative=True).update_batch(stream[:half])
        b = CountMinSketch(256, 4, conservative=True).update_batch(stream[half:])
        a.merge(b)
        assert (a.query_batch(vals).astype(np.int64) >= counts).all()

    def test_duplicates_within_batch_consistent(self):
        c = CountMinSketch(1024, 3, conservative=True)
        c.update_batch(["x", "x", "x", "y"])
        assert int(c.query_batch(["x"])[0]) >= 3
        assert int(c.query_batch(["y"])[0]) >= 1
        assert c.total == 4


# ---------------------------------------------------------------------------
# constructor validation (ADVICE round 1)
# ---------------------------------------------------------------------------

class TestValidation:
    def test_bloom_rejects_bad_params(self):
        with pytest.raises(ValueError):
            BloomFilter(4, 3)
        with pytest.raises(ValueError):
            BloomFilter(1024, 0)
        with pytest.raises(ValueError):
            BloomFilter(1024, -1)

    def test_cms_rejects_bad_params(self):
        with pytest.raises(ValueError):
            CountMinSketch(0, 3)
        with pytest.raises(ValueError):
            CountMinSketch(1 << 31, 4)  # w*d > 2^32 would wrap sparse idx


class TestWeightedSpec:
    def test_weight_col_validation(self):
        from sketchlib.spark.specs import SketchSpec
        with pytest.raises(ValueError, match="only meaningful for cms"):
            SketchSpec("h", "hll", "url", weight_col="w")
        with pytest.raises(ValueError, match="ambiguous"):
            SketchSpec("c", "cms", "text", {"w": 64, "d": 3},
                       tokenize=True, weight_col="w")

    def test_weighted_cms_matches_manual(self):
        """weight_col through _feed == manual weighted update; null
        weights drop rows."""
        import pyarrow as pa
        from sketchlib.spark.specs import SketchSpec
        from sketchlib.spark.build import _feed
        sub = pa.table({"k": ["a", "b", "a", "c", None],
                        "w": [3, 5, 2, None, 9]})
        spec = SketchSpec("c", "cms", "k", {"w": 256, "d": 3},
                          weight_col="w")
        got = spec.make("g")
        _feed(spec, got, sub)
        want = CountMinSketch(256, 3)
        want.update_batch(np.array(["a", "b", "a"], dtype=object),
                          np.array([3, 5, 2], dtype=np.int64))
        assert got.to_bytes() == want.to_bytes()
        assert got.query_batch(["a"])[0] == 5


class TestCMSInnerProduct:
    def test_exact_when_collision_free(self):
        a = CountMinSketch(1 << 14, 5).update_batch(
            ["x", "y", "z"], np.array([2, 3, 4]))
        b = CountMinSketch(1 << 14, 5).update_batch(
            ["y", "z", "w"], np.array([10, 1, 9]))
        # sum fA*fB = 3*10 + 4*1 = 34
        assert a.inner_product(b) == 34

    def test_join_size_overestimate_within_bound(self):
        rng = np.random.default_rng(7)
        ka = np.char.add("k", rng.integers(0, 5000, 20000).astype(str))
        kb = np.char.add("k", rng.integers(0, 5000, 8000).astype(str))
        va, ca = np.unique(ka, return_counts=True)
        vb, cb = np.unique(kb, return_counts=True)
        fa = dict(zip(va, ca))
        true = int(sum(int(fa.get(k, 0)) * int(c) for k, c in zip(vb, cb)))
        w, d = 1 << 15, 5
        a = CountMinSketch(w, d).update_batch(ka)
        b = CountMinSketch(w, d).update_batch(kb)
        est = a.inner_product(b)
        assert est >= true                      # overestimate-only
        eps = np.e / w                          # CM 2005 bound
        assert est - true <= eps * len(ka) * len(kb)

    def test_param_mismatch_raises(self):
        with pytest.raises(ValueError):
            CountMinSketch(64, 3).inner_product(CountMinSketch(128, 3))
