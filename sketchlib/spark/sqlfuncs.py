"""SQL-facing scalar functions over serialized sketch columns.

Each function is an Arrow-batched pandas UDF built once at import: the
DataFrame API calls it with no session or registration
(``sqlfuncs.sketch_estimate("sketch")``), ``SQL_FUNCTIONS`` maps names
to UDFs, and ``register_sql_functions(spark)`` names them for SQL
(``SELECT bloom_contains(sketch, 'https://...') FROM sketches``).

One read-out rule holds for every function: a NULL blob, a NULL or NaN
argument, or a blob whose kernel has no such read-out (a mixed sketch
table) gives NULL; otherwise the result is the read-out of the
deserialized sketch. Sketch rows are <= #groups, so per-row
deserialization here is driver-scale work, not a hot path.
"""

from __future__ import annotations

from numbers import Number

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (ArrayType, BinaryType, BooleanType,
                               DoubleType, LongType, StringType)

from sketchlib.core.serde import fold_blobs, sketch_from_bytes
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.fd import FrequentDirections
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.sample import BottomKSample, WeightedBottomKSample
from sketchlib.core.tdigest import TDigest
from sketchlib.core.theta import ThetaSketch

SQL_FUNCTIONS: dict = {}

_DOUBLES = ArrayType(DoubleType())


def _read_rows(read, kinds, n_blobs: int, cols) -> pd.Series:
    """The one per-row loop: each row's first ``n_blobs`` values are
    sketch blobs, the rest plain arguments."""
    out = []
    for row in zip(*cols):
        # SQL NULL numbers arrive as NaN through Arrow (not None), and
        # decimal literals as Decimal — v != v is the type-agnostic NaN test
        if any(v is None or (isinstance(v, Number) and v != v) for v in row):
            out.append(None)
            continue
        sketches = [sketch_from_bytes(bytes(b)) for b in row[:n_blobs]]
        has_readout = all(isinstance(sk, kinds) for sk in sketches)
        out.append(read(*sketches, *row[n_blobs:]) if has_readout else None)
    return pd.Series(out, dtype=object)


def _sql_function(return_type, kinds=object, blobs: int = 1):
    """Turn ``read(sketch..., arg...)`` into a pandas UDF named after it
    that follows the read-out rule, and add it to ``SQL_FUNCTIONS``.
    The UDF keeps ``read`` and ``kinds`` for ``readout``."""
    def wrap(read):
        def per_batch(*cols: pd.Series) -> pd.Series:
            return _read_rows(read, kinds, blobs, cols)
        per_batch.__name__ = read.__name__
        udf = pandas_udf(per_batch, return_type)
        udf.read, udf.kinds = read, kinds
        SQL_FUNCTIONS[read.__name__] = udf
        return udf
    return wrap


def readout(col: str, udf, *args) -> tuple:
    """A ``build_sketches(readout=...)`` entry that computes
    ``udf(sketch, *args)`` inside the fold task: the SQL function's own
    ``read`` under the same rule (a sketch whose kernel has no such
    read-out gives NULL), so the fused and SQL read-outs cannot
    drift."""
    read, kinds = udf.read, udf.kinds

    def fn(_sketch_name, sk):
        return read(sk, *args) if isinstance(sk, kinds) else None
    return (col, udf.returnType.simpleString(), fn)


@_sql_function(DoubleType())
def sketch_estimate(sk):
    """Distinct estimate, or total (CMS) / total weight (quantiles, FD)."""
    if isinstance(sk, (CountMinSketch, CountSketch)):
        return float(sk.total)
    if isinstance(sk, KLL):
        return float(sk.n)
    if isinstance(sk, (TDigest, FrequentDirections)):
        return float(sk.total_weight())
    return float(sk.estimate())


@_sql_function(BooleanType(), BloomFilter)
def bloom_contains(sk, key):
    return bool(sk.contains_batch([key])[0])


@_sql_function(LongType(), (CountMinSketch, CountSketch))
def cms_count(sk, key):
    """Point frequency: CMS overestimate or unbiased count-sketch value."""
    return int(sk.query_batch([key])[0])


@_sql_function(LongType(), CountMinSketch, blobs=2)
def cms_join_size(a, b):
    """Equi-join size from two join-key CMS blobs (overestimate-only)."""
    return int(a.inner_product(b))


@_sql_function(DoubleType(), (KLL, TDigest))
def sketch_quantile(sk, q):
    return float(sk.quantile(float(q)))


@_sql_function(_DOUBLES, (KLL, TDigest))
def sketch_quantiles(sk, qs):
    """Array of probabilities in, array of values out: ONE python-eval
    boundary per read-out row instead of one per sketch_quantile column
    (~70-100ms Arrow round-trip each, BENCH/builtin_compare.py)."""
    return [float(sk.quantile(float(q))) for q in qs]


def _cdf(sk, x) -> float:
    # KLL answers via rank(), t-digest via cdf()
    return float((sk.rank if isinstance(sk, KLL) else sk.cdf)(float(x)))


@_sql_function(DoubleType(), (KLL, TDigest))
def sketch_cdf(sk, x):
    """Estimated fraction of values <= x, the inverse of sketch_quantile."""
    return _cdf(sk, x)


@_sql_function(_DOUBLES, (KLL, TDigest))
def sketch_cdfs(sk, xs):
    """Array counterpart of sketch_cdf, one boundary per row."""
    return [_cdf(sk, x) for x in xs]


@_sql_function(BinaryType(), blobs=0)
def sketch_merge(blobs):
    """SQL rollup, ``sketch_merge(collect_list(sketch))`` under GROUP BY:
    folded in sorted-bytes order, so deterministic despite collect_list's
    arbitrary order; an empty or all-NULL array gives NULL. The wide
    fan-in path is ``build.rollup_sketches``."""
    blobs = sorted(bytes(b) for b in blobs if b is not None)
    return fold_blobs(blobs).to_bytes() if blobs else None


@_sql_function(_DOUBLES, FrequentDirections)
def fd_spectrum(sk, k):
    """Top-k squared singular values, each within the FD spectral error
    bound of the true covariance eigenvalues."""
    vals, _ = sk.top_directions(int(k))
    return [float(v) for v in vals]


@_sql_function(ArrayType(StringType()), (BottomKSample, WeightedBottomKSample))
def sample_values(sk):
    """Retained payloads as utf-8 strings: ``explode(sample_values(s))``
    turns a sample table into sampled rows."""
    return [p.decode("utf-8", "replace") for p in sk.sample()]


@_sql_function(_DOUBLES, WeightedBottomKSample)
def sample_weights(sk):
    """Retained weights, aligned with sample_values."""
    return sk.sample_weights()


# theta set algebra between two sketch columns — pairwise group
# comparisons become a plain self-join over the sketch table
@_sql_function(DoubleType(), ThetaSketch, blobs=2)
def theta_intersect(a, b):
    return float(a.intersect_estimate(b))


@_sql_function(DoubleType(), ThetaSketch, blobs=2)
def theta_difference(a, b):
    return float(a.difference_estimate(b))


@_sql_function(DoubleType(), ThetaSketch, blobs=2)
def theta_jaccard(a, b):
    return float(a.jaccard_estimate(b))


@_sql_function(DoubleType(), HyperLogLog, blobs=2)
def hll_inclusion(a, b):
    """|A ∩ B| / |A| by inclusion-exclusion over HLL unions (VLDB 2018);
    for small intersections prefer the theta functions."""
    return float(a.inclusion_coefficient(b))


def register_sql_functions(spark: SparkSession) -> dict:
    """Name every sketch function for ``spark.sql``; returns
    ``SQL_FUNCTIONS`` for DataFrame-API use."""
    for name, udf in SQL_FUNCTIONS.items():
        spark.udf.register(name, udf)
    return SQL_FUNCTIONS
