"""Our sketch kernels vs Spark's JVM-native approximations.

Honest framing: Spark already ships approx_count_distinct (HLL++) and
percentile_approx (a KLL-ish quantile summary). Those two are
QUERY-SCOPED — you cannot persist their state, merge yesterday's
sketch with today's, roll a (lang, day) sketch table up to per-lang,
intersect two groups' sets, or probe membership. Spark 4.1 also ships
persistable, mergeable binary sketches (theta_sketch_agg /
theta_union_agg, hll_sketch_agg / hll_union_agg, kll_sketch_agg_*);
this script does not compare against those. The comparison below
quantifies what this library's persistable/mergeable surface costs in
wall time and accuracy against the two query-scoped functions at the
same workload, so the tradeoff is a number, not a claim.

Run: python BENCH/builtin_compare.py  (env: SPARK_GRAFT_SF_DIR,
SPARK_GRAFT_CPUS). Appends nothing; prints a markdown table.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ.setdefault("PYTHONPATH", _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def timed(fn):
    """Median of 3 (same discipline as bench.py since round 4: single
    runs on this shared box carry ±50% noise)."""
    ts = []
    for _ in range(3):
        t0 = time.perf_counter()
        out = fn()
        ts.append(time.perf_counter() - t0)
    return out, sorted(ts)[1]


def main():
    import pyspark.sql.functions as F
    from sketchlib.spark.session import get_spark
    from sketchlib.spark.specs import SketchSpec
    from sketchlib.spark.build import build_sketches
    from sketchlib.spark.sqlfuncs import register_sql_functions

    spark = get_spark("builtin-compare", cpus=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    udfs = register_sql_functions(spark)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()
    docs.count()  # warm cache so both sides measure compute, not IO

    exact_d = {r["lang"]: r["n"] for r in
               docs.groupBy("lang").agg(
                   F.countDistinct("text").alias("n")).collect()}
    exact_q = {r["lang"]: r["q"] for r in
               docs.groupBy("lang").agg(
                   F.expr("percentile(n_chars, 0.5)").alias("q")).collect()}

    # --- distinct count ---
    bi_d, t_bi_d = timed(lambda: {
        r["lang"]: r["n"] for r in
        docs.groupBy("lang").agg(
            F.approx_count_distinct("text", 0.00812).alias("n")).collect()})
    def ours_d():
        # fused read-out: the estimate is extracted inside the final
        # merge task (readout=), so no separate python-eval stage
        m = build_sketches(docs, ["lang"],
                           [SketchSpec("h", "hll", "text", {"b": 14})],
                           readout=[("n", "double",
                                     lambda _n, sk: float(sk.estimate()))])
        return {r["lang"]: r["n"] for r in m.select("lang", "n").collect()}
    our_d, t_our_d = timed(ours_d)

    # --- median ---
    bi_q, t_bi_q = timed(lambda: {
        r["lang"]: r["q"] for r in
        docs.groupBy("lang").agg(
            F.percentile_approx("n_chars", 0.5, 10000).alias("q")).collect()})
    def ours_q():
        # interactive-latency path: build_sketches' driver fold — ONE
        # python stage (partials), fold of the byte-bounded blobs on
        # the driver, bitwise-identical to the distributed merge (same
        # fold order)
        from sketchlib.spark.build import build_sketches_local
        sks = build_sketches_local(
            docs, ["lang"], [SketchSpec("k", "kll", "n_chars", {"k": 256})])
        return {lang: sk.quantile(0.5) for (lang, _n), sk in sks.items()}
    our_q, t_our_q = timed(ours_q)

    def werr(est, exact):
        return max(abs(est[k] - exact[k]) / exact[k] for k in exact)

    rows = [
        ("distinct/lang", "approx_count_distinct (HLL++, rsd .00812)",
         t_bi_d, werr(bi_d, exact_d), "no"),
        ("distinct/lang", "sketchlib HLL b=14 (same 8.1e-3 sigma)",
         t_our_d, werr(our_d, exact_d), "yes"),
        ("median n_chars/lang", "percentile_approx (acc 10000)",
         t_bi_q, werr(bi_q, exact_q), "no"),
        ("median n_chars/lang", "sketchlib KLL k=256",
         t_our_q, werr(our_q, exact_q), "yes"),
    ]
    print(f"\n| task | engine | wall s | worst rel err | state persistable+mergeable |")
    print("|---|---|---|---|---|")
    for r in rows:
        print(f"| {r[0]} | {r[1]} | {r[2]:.2f} | {r[3]:.4f} | {r[4]} |")
    spark.stop()


if __name__ == "__main__":
    main()
