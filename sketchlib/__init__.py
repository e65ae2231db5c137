"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation library.

Generalizes the three-stage Bloom-filter MapReduce pipeline of the reference
(martimarino/Bloom-Filters-in-MapReduce: calibrate -> build -> validate, see
/root/reference/spark/main.py:100-193) into nine mergeable sketch UDAFs —
Bloom, HyperLogLog, count-min, count sketch, t-digest, KLL, theta/KMV,
bottom-k sample, frequent directions — built from scratch on the public PySpark DataFrame API
with vectorized Arrow/pandas UDFs.

Layout:
    sketchlib.core   — pure numpy sketch kernels, zero Spark imports
    sketchlib.spark  — build / merge / validate / query layer (DataFrame ops)
    sketchlib.io     — deterministic synthetic `pages` fixture generator
    sketchlib.zipcache — in PySpark workers on CPython < 3.12, skips the
                       per-task re-read of unchanged zip archives
"""

from sketchlib import zipcache
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.tdigest import TDigest
from sketchlib.core.kll import KLL
from sketchlib.core.theta import ThetaSketch
from sketchlib.core.sample import BottomKSample
from sketchlib.core.fd import FrequentDirections
from sketchlib.core.serde import sketch_from_bytes

__version__ = "0.2.0"

zipcache.install()

__all__ = [
    "BloomFilter",
    "HyperLogLog",
    "CountMinSketch",
    "CountSketch",
    "TDigest",
    "KLL",
    "ThetaSketch",
    "BottomKSample",
    "FrequentDirections",
    "sketch_from_bytes",
]
