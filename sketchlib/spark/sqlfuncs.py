"""SQL-facing scalar functions over serialized sketch columns.

``register_sql_functions(spark)`` registers Arrow-batched pandas UDFs
so a sketch table written by ``build_sketches`` is queryable straight
from ``spark.sql``:

    SELECT lang, sketch_estimate(sketch) AS distinct_est
    FROM sketches WHERE sketch_name = 'url_hll'

    SELECT lang, bloom_contains(sketch, 'https://...') AS hit
    FROM sketches WHERE sketch_name = 'url_bloom'

UDF construction is deferred to registration time (pandas_udf needs an
active session to parse return types). Sketch rows are ≤ #groups, so
per-row deserialization here is driver-scale work made SQL-composable,
not a hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

from sketchlib.core.serde import fold_blobs, sketch_from_bytes
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.theta import ThetaSketch
from sketchlib.core.sample import (BottomKSample,
                                   WeightedBottomKSample)
from sketchlib.core.countsketch import CountSketch


def _make_udfs() -> dict:
    def sketch_estimate(blobs: pd.Series) -> pd.Series:
        """HLL/Bloom: distinct estimate; CMS: total; quantile sketches:
        total weight."""
        out = []
        for b in blobs:
            if b is None:
                out.append(float("nan"))
                continue
            sk = sketch_from_bytes(bytes(b))
            if isinstance(sk, (HyperLogLog, BloomFilter, ThetaSketch,
                               BottomKSample, WeightedBottomKSample)):
                out.append(float(sk.estimate()))
            elif isinstance(sk, (CountMinSketch, CountSketch)):
                out.append(float(sk.total))
            else:
                out.append(float(sk.total_weight()
                                 if hasattr(sk, "total_weight") else sk.n))
        return pd.Series(out, dtype="float64")

    def bloom_contains(blobs: pd.Series, keys: pd.Series) -> pd.Series:
        out = np.zeros(len(blobs), dtype=bool)
        for i, (b, k) in enumerate(zip(blobs, keys)):
            if b is None or k is None:
                continue
            out[i] = bool(BloomFilter.from_bytes(bytes(b))
                          .contains_batch([k])[0])
        return pd.Series(out)

    def cms_count(blobs: pd.Series, keys: pd.Series) -> pd.Series:
        """Point frequency estimate — CMS (overestimate-only) or count
        sketch (unbiased, signed) blobs."""
        out = np.zeros(len(blobs), dtype=np.int64)
        for i, (b, k) in enumerate(zip(blobs, keys)):
            if b is None or k is None:
                continue
            sk = sketch_from_bytes(bytes(b))
            if not isinstance(sk, (CountMinSketch, CountSketch)):
                raise TypeError(
                    f"cms_count needs a frequency sketch, got {type(sk).__name__}")
            out[i] = int(sk.query_batch([k])[0])
        return pd.Series(out)

    def sketch_quantile(blobs: pd.Series, qs: pd.Series) -> pd.Series:
        out = np.full(len(blobs), np.nan)
        for i, (b, q) in enumerate(zip(blobs, qs)):
            # SQL NULL doubles arrive as NaN through Arrow (not None),
            # and SQL decimal literals as Decimal — q != q is the
            # type-agnostic NaN test
            if b is None or q is None or q != q:
                continue
            sk = sketch_from_bytes(bytes(b))
            if not hasattr(sk, "quantile"):
                continue  # non-quantile blob in a mixed table -> NULL
            out[i] = float(sk.quantile(float(q)))
        return pd.Series(out)

    def sketch_quantiles(blobs: pd.Series, qss: pd.Series) -> pd.Series:
        """Multi-point quantile read-out: array of probabilities in,
        array of values out — ONE python-eval boundary for a whole
        read-out row where per-point sketch_quantile columns would pay
        a ~70-100ms Arrow round-trip EACH (BENCH/builtin_compare.py
        root cause, round 4)."""
        out = []
        for b, qs in zip(blobs, qss):
            if b is None or qs is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(bytes(b))
            if not hasattr(sk, "quantile"):
                out.append(None)
                continue
            out.append([float(sk.quantile(float(q))) for q in qs])
        return pd.Series(out, dtype=object)

    def sketch_cdfs(blobs: pd.Series, xss: pd.Series) -> pd.Series:
        """Multi-point rank/CDF read-out (array counterpart of
        sketch_cdf): estimated fraction <= x for each x, one boundary."""
        out = []
        for b, xs in zip(blobs, xss):
            if b is None or xs is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(bytes(b))
            fn = getattr(sk, "cdf", None) or getattr(sk, "rank", None)
            if fn is None:
                out.append(None)
                continue
            out.append([float(fn(float(x))) for x in xs])
        return pd.Series(out, dtype=object)

    def cms_join_size(a_blobs: pd.Series, b_blobs: pd.Series) -> pd.Series:
        """Equi-join size estimate from two CMS blobs over the two
        sides' join keys (inner product of frequency vectors;
        overestimate-only)."""
        out = np.zeros(len(a_blobs), dtype=np.int64)
        for i, (a, b) in enumerate(zip(a_blobs, b_blobs)):
            if a is None or b is None:
                continue
            out[i] = CountMinSketch.from_bytes(bytes(a)).inner_product(
                CountMinSketch.from_bytes(bytes(b)))
        return pd.Series(out)

    def sketch_cdf(blobs: pd.Series, xs: pd.Series) -> pd.Series:
        """Rank/CDF read-out: estimated fraction of values <= x.
        KLL answers via rank(), t-digest via cdf() — 'what share of
        docs are shorter than 500 chars?' straight from the sketch
        table, the inverse of sketch_quantile."""
        out = np.full(len(blobs), np.nan)
        for i, (b, x) in enumerate(zip(blobs, xs)):
            # NULL -> NaN through Arrow; decimal literals -> Decimal;
            # x != x is the type-agnostic NaN test
            if b is None or x is None or x != x:
                continue
            sk = sketch_from_bytes(bytes(b))
            fn = getattr(sk, "cdf", None) or getattr(sk, "rank", None)
            if fn is None:
                continue  # non-quantile blob in a mixed table -> NULL
            out[i] = float(fn(float(x)))
        return pd.Series(out)

    def sketch_merge(blob_lists: pd.Series) -> pd.Series:
        """Merge an array<binary> of sketch blobs into one blob — the
        SQL-side rollup aggregation, used as
        ``sketch_merge(collect_list(sketch))`` under GROUP BY. Blobs are
        merged in sorted-bytes order so the result is deterministic even
        for the lossy quantile sketches despite collect_list's
        nondeterministic ordering (lattice sketches are order-free
        anyway). Scale note: collect_list materializes one group's blobs
        in a single task — fine for sketch tables (<= #groups rows,
        fixed-size states); the wide-fan-in path is
        ``build.rollup_sketches`` (salted applyInPandas)."""
        out = []
        for lst in blob_lists:
            blobs = (sorted(bytes(b) for b in lst if b is not None)
                     if lst is not None else [])
            if not blobs:  # NULL array, empty array, or all-NULL entries
                out.append(None)
                continue
            out.append(fold_blobs(blobs).to_bytes())
        return pd.Series(out, dtype=object)

    def fd_spectrum(blobs: pd.Series, ks: pd.Series) -> pd.Series:
        """Top-k squared singular values of a frequent-directions blob
        — each within the sketch's spectral error bound of the true
        covariance eigenvalues (Weyl + the FD guarantee)."""
        from sketchlib.core.fd import FrequentDirections
        out = []
        for b, k in zip(blobs, ks):
            # k != k: SQL NULL ints arrive as float NaN through Arrow
            # (same guard as sketch_quantile/sketch_cdf)
            if b is None or k is None or k != k:
                out.append(None)
                continue
            vals, _ = FrequentDirections.from_bytes(bytes(b)) \
                .top_directions(int(k))
            out.append([float(v) for v in vals])
        return pd.Series(out, dtype=object)

    def _theta_pair(fn):
        def inner(a_blobs: pd.Series, b_blobs: pd.Series) -> pd.Series:
            out = np.full(len(a_blobs), np.nan)
            for i, (a, b) in enumerate(zip(a_blobs, b_blobs)):
                if a is None or b is None:
                    continue
                out[i] = fn(ThetaSketch.from_bytes(bytes(a)),
                            ThetaSketch.from_bytes(bytes(b)))
            return pd.Series(out)
        return inner

    def sample_values(blobs: pd.Series) -> pd.Series:
        """Retained payloads of a (uniform or weighted) bottom-k sample
        blob as array<string> (utf-8, lossy for non-text payloads) —
        `explode(sample_values(sketch))` turns a sample table into
        sampled rows in SQL."""
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(bytes(b))
            if not hasattr(sk, "sample"):
                out.append(None)  # non-sample blob in a mixed table
                continue
            out.append([p.decode("utf-8", "replace") for p in sk.sample()])
        return pd.Series(out, dtype=object)

    def sample_weights(blobs: pd.Series) -> pd.Series:
        """Retained weights of a weighted bottom-k sample blob as
        array<double>, payload-aligned with sample_values — for
        importance-reweighting the drawn sample downstream."""
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            sk = sketch_from_bytes(bytes(b))
            if not isinstance(sk, WeightedBottomKSample):
                out.append(None)
                continue
            out.append(sk.sample_weights())
        return pd.Series(out, dtype=object)

    theta_intersect = _theta_pair(lambda a, b: a.intersect_estimate(b))
    theta_difference = _theta_pair(lambda a, b: a.difference_estimate(b))
    theta_jaccard = _theta_pair(lambda a, b: a.jaccard_estimate(b))

    def _hll_pair(fn):
        def inner(a_blobs: pd.Series, b_blobs: pd.Series) -> pd.Series:
            from sketchlib.core.hll import HyperLogLog
            out = np.full(len(a_blobs), np.nan)
            for i, (a, b) in enumerate(zip(a_blobs, b_blobs)):
                if a is None or b is None:
                    continue
                out[i] = fn(HyperLogLog.from_bytes(bytes(a)),
                            HyperLogLog.from_bytes(bytes(b)))
            return pd.Series(out)
        return inner

    # HLL set algebra via inclusion-exclusion over register-max unions
    # (VLDB 2018 inclusion-coefficient technique): runs on already-
    # stored per-group HLL tables with no second sketch type; for
    # small intersections prefer the theta UDFs (error scales with the
    # intersection itself there)
    hll_union = _hll_pair(lambda a, b: a.union_estimate(b))
    hll_intersect = _hll_pair(lambda a, b: a.intersect_estimate(b))
    hll_inclusion = _hll_pair(lambda a, b: a.inclusion_coefficient(b))

    return {
        "sketch_estimate": pandas_udf(sketch_estimate, "double"),
        "bloom_contains": pandas_udf(bloom_contains, "boolean"),
        "cms_count": pandas_udf(cms_count, "long"),
        "sketch_quantile": pandas_udf(sketch_quantile, "double"),
        "sketch_cdf": pandas_udf(sketch_cdf, "double"),
        "sketch_quantiles": pandas_udf(sketch_quantiles, "array<double>"),
        "sketch_cdfs": pandas_udf(sketch_cdfs, "array<double>"),
        "cms_join_size": pandas_udf(cms_join_size, "long"),
        "fd_spectrum": pandas_udf(fd_spectrum, "array<double>"),
        "sketch_merge": pandas_udf(sketch_merge, "binary"),
        "sample_values": pandas_udf(sample_values, "array<string>"),
        "sample_weights": pandas_udf(sample_weights, "array<double>"),
        # theta set algebra between two sketch columns — pairwise group
        # comparisons become a plain self-join over the sketch table
        "theta_intersect": pandas_udf(theta_intersect, "double"),
        "theta_difference": pandas_udf(theta_difference, "double"),
        "theta_jaccard": pandas_udf(theta_jaccard, "double"),
        "hll_union": pandas_udf(hll_union, "double"),
        "hll_intersect": pandas_udf(hll_intersect, "double"),
        "hll_inclusion": pandas_udf(hll_inclusion, "double"),
    }


def register_sql_functions(spark: SparkSession) -> dict:
    """Register all sketch SQL functions; returns the udf objects for
    DataFrame-API use."""
    udfs = _make_udfs()
    for name, udf in udfs.items():
        spark.udf.register(name, udf)
    return udfs
