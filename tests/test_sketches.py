"""Known-answer + error-bound + serde round-trip tests for the five kernels."""

import numpy as np
import pytest

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.tdigest import TDigest
from sketchlib.core.kll import KLL
from sketchlib.core.params import bloom_params, bloom_expected_fpr
from sketchlib.core.serde import sketch_from_bytes


def _keys(n, prefix="k"):
    return [f"{prefix}:{i}" for i in range(n)]


# ---------------- Bloom ----------------

class TestBloom:
    def test_no_false_negatives(self):
        # fixes reference wart W1 (SURVEY.md §2.7): every inserted key found
        bf = BloomFilter.from_target(10_000, 0.01)
        keys = _keys(10_000)
        bf.update_batch(keys)
        assert bf.contains_batch(keys).all()

    def test_fpr_near_design_point(self):
        n, p = 20_000, 0.01
        bf = BloomFilter.from_target(n, p)
        bf.update_batch(_keys(n, "in"))
        probes = _keys(100_000, "out")
        fpr = bf.contains_batch(probes).mean()
        assert fpr == pytest.approx(p, abs=0.005)

    def test_params_match_reference_table1(self):
        # report Table 1: n=2555 -> m=24489; n=369543 -> m=3542091; k=6 @ p=0.01
        # ours ceils m (never undersized) where the ref truncates -> +1 bit
        m, k = bloom_params(2555, 0.01)
        assert m in (24489, 24490) and k == 7  # ref k=6 (truncated 6.64; wart W4)
        m2, _ = bloom_params(369543, 0.01)
        assert m2 in (3542091, 3542092)
        assert bloom_expected_fpr(m, 6, 2555) == pytest.approx(0.01, abs=0.002)

    def test_serde_roundtrip(self):
        bf = BloomFilter(1024, 5, seed=7)
        bf.update_batch(_keys(100))
        blob = bf.to_bytes()
        bf2 = BloomFilter.from_bytes(blob)
        assert bf2 == bf and bf2.n_added == 100
        assert sketch_from_bytes(blob) == bf
        assert bf2.to_bytes() == blob  # canonical bytes

    def test_estimate_cardinality(self):
        bf = BloomFilter.from_target(50_000, 0.01)
        bf.update_batch(_keys(30_000))
        assert bf.estimate() == pytest.approx(30_000, rel=0.02)

    def test_merge_mismatch_raises(self):
        with pytest.raises(ValueError):
            BloomFilter(100, 3).merge(BloomFilter(200, 3))


# ---------------- HLL ----------------

class TestHLL:
    def test_estimate_within_bound(self):
        for true_n in (100, 5_000, 200_000):
            h = HyperLogLog(b=12)
            h.update_batch(_keys(true_n))
            tol = 4 * h.rel_error()  # 4 sigma
            assert abs(h.estimate() - true_n) / true_n < tol, true_n

    def test_duplicates_dont_inflate(self):
        h = HyperLogLog(b=12)
        for _ in range(5):
            h.update_batch(_keys(1000))
        assert abs(h.estimate() - 1000) / 1000 < 4 * h.rel_error()

    def test_serde_roundtrip(self):
        h = HyperLogLog(b=10, seed=3)
        h.update_batch(_keys(500))
        blob = h.to_bytes()
        assert HyperLogLog.from_bytes(blob) == h
        assert sketch_from_bytes(blob).to_bytes() == blob

    def test_empty_estimate_zero(self):
        assert HyperLogLog(b=8).estimate() == 0.0


# ---------------- CMS ----------------

class TestCMS:
    def test_overestimate_only_and_bound(self):
        rng = np.random.default_rng(0)
        zipf = rng.zipf(1.3, size=50_000)
        keys = [f"tok{z}" for z in zipf]
        cms = CountMinSketch.from_error(epsilon=0.005, delta=0.01)
        cms.update_batch(keys)
        import collections
        truth = collections.Counter(keys)
        qkeys = list(truth.keys())[:2000]
        est = cms.query_batch(qkeys)
        true = np.array([truth[k] for k in qkeys])
        assert (est >= true).all()  # never underestimates
        assert (est - true).max() <= 0.005 * len(keys)

    def test_weighted_update(self):
        cms = CountMinSketch(1024, 4)
        cms.update_batch(["a", "b"], counts=[10, 3])
        assert cms.query_batch(["a"])[0] >= 10
        assert cms.total == 13

    def test_serde_roundtrip(self):
        cms = CountMinSketch(512, 3, seed=1)
        cms.update_batch(_keys(1000))
        blob = cms.to_bytes()
        assert CountMinSketch.from_bytes(blob) == cms
        assert sketch_from_bytes(blob).to_bytes() == blob


# ---------------- t-digest ----------------

class TestTDigest:
    @pytest.mark.parametrize("dist", ["uniform", "lognormal", "bimodal"])
    def test_quantiles_within_rank_error(self, dist):
        rng = np.random.default_rng(7)
        if dist == "uniform":
            data = rng.uniform(0, 1000, 100_000)
        elif dist == "lognormal":
            data = rng.lognormal(9, 1, 100_000)
        else:
            data = np.concatenate([rng.normal(0, 1, 50_000), rng.normal(100, 1, 50_000)])
        td = TDigest(delta=200)
        td.update_batch(data)
        srt = np.sort(data)
        for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
            est = td.quantile(q)
            true_rank = np.searchsorted(srt, est) / len(srt)
            assert abs(true_rank - q) < 0.012, (dist, q, est, true_rank)

    def test_exact_extremes(self):
        td = TDigest(delta=100)
        td.update_batch(np.arange(10_000.0))
        assert td.quantile(0.0) == 0.0
        assert td.quantile(1.0) == 9999.0

    def test_serde_roundtrip_canonical(self):
        td = TDigest(delta=100)
        td.update_batch(np.random.default_rng(1).normal(size=5000))
        blob = td.to_bytes()
        td2 = TDigest.from_bytes(blob)
        assert td2.to_bytes() == blob
        assert td2.quantile(0.5) == td.quantile(0.5)

    def test_bounded_size(self):
        td = TDigest(delta=200)
        for _ in range(20):
            td.update_batch(np.random.default_rng(2).normal(size=50_000))
        td._flush()
        assert len(td.means) < 2 * td.delta


# ---------------- KLL ----------------

class TestKLL:
    def test_quantiles_within_rank_error(self):
        rng = np.random.default_rng(3)
        data = rng.lognormal(9, 1, 200_000)
        kll = KLL(k=200)
        for chunk in np.array_split(data, 20):
            kll.update_batch(chunk)
        srt = np.sort(data)
        for q in (0.01, 0.1, 0.5, 0.9, 0.99):
            est = kll.quantile(q)
            true_rank = np.searchsorted(srt, est) / len(srt)
            assert abs(true_rank - q) < 0.02, (q, est, true_rank)

    def test_rank_query(self):
        kll = KLL(k=200)
        kll.update_batch(np.arange(100_000.0))
        assert kll.rank(50_000.0) == pytest.approx(0.5, abs=0.02)

    def test_bounded_size(self):
        kll = KLL(k=128)
        kll.update_batch(np.random.default_rng(4).normal(size=500_000))
        total_items = sum(len(l) for l in kll.levels)
        assert total_items < 6 * kll.k

    def test_deterministic_run_to_run(self):
        a, b = KLL(k=64), KLL(k=64)
        data = np.random.default_rng(5).normal(size=50_000)
        a.update_batch(data)
        b.update_batch(data)
        assert a.to_bytes() == b.to_bytes()

    def test_serde_roundtrip(self):
        kll = KLL(k=64)
        kll.update_batch(np.random.default_rng(6).uniform(size=10_000))
        blob = kll.to_bytes()
        k2 = KLL.from_bytes(blob)
        assert k2.n == kll.n
        assert k2.quantile(0.5) == pytest.approx(kll.quantile(0.5), rel=0.05)
        assert sketch_from_bytes(blob).n == kll.n


# ---------------- Theta (bottom-k) ----------------

class TestTheta:
    def test_estimate_within_bound(self):
        from sketchlib.core.theta import ThetaSketch
        for true_n in (100, 10_000, 300_000):
            t = ThetaSketch(k=4096)
            t.update_batch(_keys(true_n))
            if true_n < t.k:
                assert t.estimate() == true_n  # exact below saturation
            else:
                assert abs(t.estimate() - true_n) / true_n < 4 * t.rel_error()

    def test_intersection_and_jaccard(self):
        from sketchlib.core.theta import ThetaSketch
        a = ThetaSketch(k=4096).update_batch(_keys(50_000, "x"))
        shared = _keys(20_000, "x")  # first 20k of a
        b = ThetaSketch(k=4096).update_batch(shared + _keys(30_000, "y"))
        est = a.intersect_estimate(b)
        assert est == pytest.approx(20_000, rel=0.1)
        assert a.jaccard_estimate(b) == pytest.approx(20_000 / 80_000, rel=0.15)

    def test_serde_roundtrip(self):
        from sketchlib.core.theta import ThetaSketch
        from sketchlib.core.serde import sketch_from_bytes
        t = ThetaSketch(k=64).update_batch(_keys(1000))
        blob = t.to_bytes()
        assert sketch_from_bytes(blob) == t
        assert sketch_from_bytes(blob).to_bytes() == blob

    def test_self_jaccard_is_one_when_saturated(self):
        from sketchlib.core.theta import ThetaSketch
        t = ThetaSketch(k=16).update_batch(_keys(100))
        assert t.jaccard_estimate(t) == pytest.approx(1.0)
        assert t.intersect_estimate(t) == pytest.approx(t.estimate())


class TestKernelReviewRound4:
    """Core-kernel review findings (round 4): null semantics, GB-scale
    popcount, FD merge check order, eq completeness, truncated blobs."""

    def test_null_is_not_a_value_anywhere(self):
        import pyarrow as pa
        from sketchlib.core.bloom import BloomFilter
        from sketchlib.core.hll import HyperLogLog
        from sketchlib.core.theta import ThetaSketch
        from sketchlib.core.sample import BottomKSample
        from sketchlib.core.cms import CountMinSketch
        vals = pa.array(["a", None, "b"], type=pa.large_string())
        # distinct-count kernels agree: 2 values, not 3
        assert ThetaSketch(k=64).update_batch(vals).estimate() == 2.0
        assert BottomKSample(k=64).update_batch(vals).estimate() == 2.0
        h = HyperLogLog(b=10).update_batch(vals)
        h2 = HyperLogLog(b=10).update_batch(pa.array(["a", "b"]))
        assert (h.registers == h2.registers).all()
        # null and empty string are DIFFERENT values
        h3 = HyperLogLog(b=10).update_batch(pa.array(["a", "", "b"]))
        assert not (h.registers == h3.registers).all()
        # membership: null inserted is dropped; b"" not a member
        bf = BloomFilter(4096, 5).update_batch(vals)
        assert bf.n_added == 2
        got = bf.contains_batch(pa.array(["a", None, ""], type=pa.large_string()))
        assert got.tolist() == [True, False, False]
        # weighted CMS: counts stay aligned after the null drop
        c = CountMinSketch(w=256, d=3)
        c.update_batch(pa.array(["x", None, "y"]), counts=[5, 99, 7])
        assert c.query_batch(["x"])[0] == 5
        assert c.query_batch(["y"])[0] == 7
        assert c.total == 12

    def test_bloom_popcount_no_unpack_blowup(self):
        from sketchlib.core.bloom import BloomFilter
        bf = BloomFilter(1 << 20, 7).update_batch([f"k{i}" for i in range(5000)])
        est = bf.estimate()
        assert 4500 < est < 5500
        # LUT path == unpackbits ground truth
        import numpy as np
        assert bf._popcount() == int(np.unpackbits(bf.bits).sum())

    def test_fd_merge_l_mismatch_raises_even_when_empty(self):
        from sketchlib.core.fd import FrequentDirections
        import pytest
        with pytest.raises(ValueError, match="different l"):
            FrequentDirections(l=64).merge(FrequentDirections(l=8))

    def test_eq_covers_full_state(self):
        from sketchlib.core.bloom import BloomFilter
        from sketchlib.core.cms import CountMinSketch
        a = BloomFilter(1024, 3).update_batch(["x"])
        b = BloomFilter(1024, 3).update_batch(["x"])
        assert a == b
        b.n_added += 1
        assert a != b  # different canonical bytes => not equal
        c1 = CountMinSketch(w=64, d=2).update_batch(["x"])
        c2 = CountMinSketch(w=64, d=2).update_batch(["x"])
        assert c1 == c2
        c2.conservative = True
        assert c1 != c2  # inner_product would refuse c2 but not c1

    def test_truncated_blobs_refuse(self):
        import pytest
        from sketchlib.core.kll import KLL
        from sketchlib.core.hll import HyperLogLog
        from sketchlib.core import serde
        k = KLL(64).update_batch(list(range(500)))
        t, hdr, payload = serde.unpack(k.to_bytes())
        clipped = serde.pack(t, hdr, payload[:-16])
        with pytest.raises(ValueError, match="truncated KLL"):
            KLL.from_bytes(clipped)
        h = HyperLogLog(b=8).update_batch([f"v{i}" for i in range(1000)])
        t, hdr, payload = serde.unpack(h.to_bytes())
        with pytest.raises(ValueError, match="HLL"):
            HyperLogLog.from_bytes(serde.pack(t, hdr, payload[:-7]))


class TestHllSetAlgebra:
    """HLL union/intersection/inclusion via register-max +
    inclusion-exclusion (VLDB-2018 inclusion-coefficient technique)."""

    def _pair(self, b=12):
        from sketchlib.core.hll import HyperLogLog
        a = HyperLogLog(b=b).update_batch([f"u{i}" for i in range(10_000)])
        c = HyperLogLog(b=b).update_batch(
            [f"u{i}" for i in range(5_000, 20_000)])
        return a, c

    def test_union_intersect_inclusion_accuracy(self):
        a, c = self._pair()
        # 1.04/sqrt(4096) ~ 1.6% sigma; allow 5 sigma on the union and
        # a looser band on the differenced intersection
        assert abs(a.union_estimate(c) - 20_000) < 20_000 * 0.08
        assert abs(a.intersect_estimate(c) - 5_000) < 5_000 * 0.25
        assert abs(a.inclusion_coefficient(c) - 0.5) < 0.12

    def test_subset_containment_is_one(self):
        from sketchlib.core.hll import HyperLogLog
        big = HyperLogLog(b=12).update_batch([f"u{i}" for i in range(8_000)])
        sub = HyperLogLog(b=12).update_batch([f"u{i}" for i in range(2_000)])
        assert sub.inclusion_coefficient(big) > 0.999  # ~1 (float eps)
        # disjoint sets: clamped at 0
        other = HyperLogLog(b=12).update_batch(
            [f"x{i}" for i in range(2_000)])
        assert sub.inclusion_coefficient(other) < 0.1

    def test_param_mismatch_refused(self):
        import pytest
        from sketchlib.core.hll import HyperLogLog
        with pytest.raises(ValueError, match="share"):
            HyperLogLog(b=12).union_estimate(HyperLogLog(b=10))

    def test_empty_a_containment_zero(self):
        from sketchlib.core.hll import HyperLogLog
        empty = HyperLogLog(b=10)
        full = HyperLogLog(b=10).update_batch(["x"])
        assert empty.inclusion_coefficient(full) == 0.0
