"""Count sketch kernel: unbiasedness, L2 error bound, tighter than CMS
on heavy tails, merge laws, serde, spec/build integration."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sketchlib.core.cms import CountMinSketch
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.serde import sketch_from_bytes


def _zipf(n, vocab, seed=0):
    rng = np.random.default_rng(seed)
    z = rng.zipf(1.3, n)
    z = z[z <= vocab]
    return np.char.add("tok", z.astype(str))


class TestAccuracy:
    def test_exact_when_no_collisions(self):
        cs = CountSketch(1 << 14, 5).update_batch(
            ["a", "b", "a", "c"], np.array([2, 1, 3, 7]))
        got = cs.query_batch(["a", "b", "c", "zzz"])
        assert got.tolist() == [5, 1, 7, 0]

    def test_l2_bound_and_tighter_than_cms_on_zipf(self):
        """Undersized tables on a moderately-skewed stream: the regime
        where sign cancellation beats min-of-overcounts (at extreme
        skew s>=2 CMS's min is near-exact on the tail and wins — both
        kernels exist because neither dominates)."""
        rng = np.random.default_rng(0)
        z = rng.zipf(1.1, 100_000)
        z = z[z <= 20_000]
        stream = np.char.add("tok", z.astype(str))
        vals, counts = np.unique(stream, return_counts=True)
        w = 256
        cs = CountSketch(w, 5).update_batch(stream)
        cms = CountMinSketch(w, 5).update_batch(stream)
        l2 = float(np.sqrt((counts.astype(np.float64) ** 2).sum()))
        err_cs = np.abs(cs.query_batch(vals) - counts)
        err_cms = np.abs(cms.query_batch(vals) - counts)
        # Charikar bound: |err| <= eps*||f||_2 with eps = sqrt(3/w),
        # w.h.p. — allow a tiny tail over the point queries
        eps = np.sqrt(3.0 / w)
        assert (err_cs <= eps * l2).mean() > 0.999
        assert err_cs.mean() < 0.6 * err_cms.mean()

    def test_unbiased_signs(self):
        """Estimates straddle the truth (CMS never goes below it)."""
        stream = _zipf(50_000, 10_000, seed=3)
        vals, counts = np.unique(stream, return_counts=True)
        err = CountSketch(512, 5).update_batch(stream).query_batch(vals) - counts
        assert (err > 0).any() and (err < 0).any()
        assert abs(err.mean()) < err.std()  # centered

    def test_l2_estimate(self):
        stream = _zipf(80_000, 5_000, seed=1)
        _, counts = np.unique(stream, return_counts=True)
        true_l2 = float(np.sqrt((counts.astype(np.float64) ** 2).sum()))
        est = CountSketch(4096, 5).update_batch(stream).l2_estimate()
        assert abs(est - true_l2) / true_l2 < 0.1


class TestContract:
    def test_merge_order_bitwise(self):
        keys = [f"k{i % 997}" for i in range(20000)]
        seq = CountSketch(256, 3, seed=2).update_batch(keys).to_bytes()
        parts = [CountSketch(256, 3, seed=2).update_batch(keys[i::4])
                 for i in range(4)]
        for order in ([0, 1, 2, 3], [3, 1, 0, 2]):
            acc = CountSketch(256, 3, seed=2)
            for i in order:
                acc.merge(parts[i])
            assert acc.to_bytes() == seq

    def test_serde_roundtrip_sparse_and_dense(self):
        for n in (0, 5, 5000):
            cs = CountSketch(512, 3)
            if n:
                cs.update_batch([f"x{i}" for i in range(n)])
            back = CountSketch.from_bytes(cs.to_bytes())
            assert back == cs and back.to_bytes() == cs.to_bytes()
            assert isinstance(sketch_from_bytes(cs.to_bytes()), CountSketch)

    def test_validation(self):
        with pytest.raises(ValueError, match="odd"):
            CountSketch(64, 4)
        with pytest.raises(ValueError):
            CountSketch(64, 3).merge(CountSketch(128, 3))

    def test_negative_weights_are_legitimate_here(self):
        """Signed counters support decrements (unlike CMS): a delete
        stream nets out exactly when collision-free."""
        cs = CountSketch(1 << 12, 5)
        cs.update_batch(["a", "b"], np.array([10, 4]))
        cs.update_batch(["a"], np.array([-3]))
        assert cs.query_batch(["a"])[0] == 7


def test_spark_build_and_sql_readout(spark):
    from sketchlib.spark.specs import SketchSpec
    from sketchlib.spark.build import build_sketches
    from sketchlib.spark.sqlfuncs import register_sql_functions
    import pyspark.sql.functions as F
    register_sql_functions(spark)
    pdf = pd.DataFrame({"lang": ["en", "fr"] * 300,
                        "text": [f"w{i % 7} filler" for i in range(600)]})
    df = spark.createDataFrame(pdf).repartition(4)
    merged = build_sketches(
        df, ["lang"],
        [SketchSpec("cs", "countsketch", "text", {"w": 4096, "d": 5},
                    tokenize=True)])
    merged.createOrReplaceTempView("cs_table")
    got = {r["lang"]: r["c"] for r in spark.sql(
        "SELECT lang, cms_count(sketch, 'filler') AS c FROM cs_table").collect()}
    assert got == {"en": 300, "fr": 300}


def test_weighted_feed_negative_ok_for_countsketch():
    """Delete streams reach the signed kernel through the spec path;
    CMS still rejects them (overestimate-only)."""
    from sketchlib.spark.build import _feed
    from sketchlib.spark.specs import SketchSpec
    spec = SketchSpec("cs", "countsketch", "k", {"w": 4096, "d": 5},
                      weight_col="w")
    sk = spec.make("g")
    _feed(spec, sk, pa.table({"k": ["a", "b", "a"], "w": [10, 4, -3]}))
    assert sk.query_batch(["a"])[0] == 7
    cms_spec = SketchSpec("c", "cms", "k", {"w": 64, "d": 3},
                          weight_col="w")
    with pytest.raises(ValueError, match="countsketch"):
        _feed(cms_spec, cms_spec.make("g"),
              pa.table({"k": ["a"], "w": [-1]}))
