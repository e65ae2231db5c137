"""Text-dedup ladder throughput on the synthetic pages corpus.

Measures the per-doc signature operators (minhash / simhash /
content_fingerprint) on full web-page texts. Prints one line per op.
"""
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ.setdefault("PYTHONPATH", REPO)

ROWS = int(os.environ.get("DEDUP_BENCH_ROWS", "300000"))

from sketchlib.io.fixtures import pages_path  # noqa: E402

p = pages_path(str(ROWS))
os.environ.setdefault("SKETCHLIB_MAX_PARTITION_BYTES",
                      str(max(1 << 20, os.path.getsize(p) // 96)))

from sketchlib.spark.session import get_spark  # noqa: E402
from sketchlib.spark import textops  # noqa: E402
import pyspark.sql.functions as F  # noqa: E402

spark = get_spark("dedup-ladder", cpus=32, shuffle_partitions=32)
pages = spark.read.parquet(p).select(F.xxhash64("url").alias("doc_id"),
                                     "text")
pages.count()
textops.minhash_signatures(pages.limit(2000), "doc_id", "text").count()
OPS = [
    ("minhash_signatures",
     lambda: textops.minhash_signatures(pages, "doc_id", "text").count()),
    ("simhash", lambda: textops.simhash(pages, "doc_id", "text").count()),
    ("content_fingerprint",
     # filtered on the fingerprint so that the count cannot prune the
     # md5 projection away
     lambda: textops.content_fingerprint(pages, "doc_id", "text")
     .filter(F.col("fingerprint").isNotNull()).count()),
]
for name, fn in OPS:
    ts = []
    for _ in range(3):
        t0 = time.time()
        n = fn()
        ts.append(time.time() - t0)
    best = sorted(ts)[1]
    print(f"{name}: {n} docs, median {best:.2f}s = "
          f"{ROWS / best / 1000:.0f}k docs/s (runs {[round(t, 2) for t in ts]})")
spark.stop()
