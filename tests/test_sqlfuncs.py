"""SQL surface over sketch tables."""

import pyspark.sql.functions as F
import pytest

from sketchlib.spark.build import build_sketches
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.sqlfuncs import register_sql_functions


@pytest.fixture(scope="module")
def sketch_view(spark, pages_tiny):
    df = build_sketches(
        pages_tiny.withColumn("hlen", F.length("html").cast("double")),
        ["lang"],
        [SketchSpec("url_hll", "hll", "url", {"b": 12}),
         SketchSpec("url_bloom", "bloom", "url", {"m": 1 << 16, "k": 6}),
         SketchSpec("len_kll", "kll", "hlen", {"k": 200})])
    df.createOrReplaceTempView("sketches")
    register_sql_functions(spark)
    return df


def test_sql_estimate(spark, pages_tiny, sketch_view):
    rows = spark.sql(
        "SELECT lang, sketch_estimate(sketch) AS est FROM sketches "
        "WHERE sketch_name = 'url_hll'").collect()
    exact = {r["lang"]: r["n"] for r in
             pages_tiny.groupBy("lang").agg(F.countDistinct("url").alias("n")).collect()}
    assert len(rows) == 10
    for r in rows:
        assert abs(r["est"] - exact[r["lang"]]) / exact[r["lang"]] < 0.1


def test_sql_bloom_contains(spark, pages_tiny, sketch_view):
    some = pages_tiny.filter("lang = 'en'").select("url").first()["url"]
    rows = spark.sql(
        f"SELECT lang, bloom_contains(sketch, '{some}') AS hit FROM sketches "
        "WHERE sketch_name = 'url_bloom'").collect()
    hits = {r["lang"]: r["hit"] for r in rows}
    assert hits["en"] is True


def test_sql_quantile(spark, sketch_view):
    rows = spark.sql(
        "SELECT lang, sketch_quantile(sketch, 0.5) AS p50 FROM sketches "
        "WHERE sketch_name = 'len_kll'").collect()
    assert len(rows) == 10
    assert all(r["p50"] > 0 for r in rows)


def test_sql_cdf_matches_exact_share(spark, pages_tiny, sketch_view):
    """sketch_cdf vs the exact share of pages at/under the per-lang
    median length: both should say ~0.5 within KLL rank error."""
    med = {r["lang"]: r["m"] for r in
           pages_tiny.groupBy("lang")
           .agg(F.expr("percentile(length(html), 0.5)").alias("m")).collect()}
    rows = spark.sql(
        "SELECT lang, sketch FROM sketches WHERE sketch_name = 'len_kll'"
    ).collect()
    from sketchlib.spark.sqlfuncs import register_sql_functions
    import pandas as pd
    udf_backed = register_sql_functions(spark)
    for r in rows:
        got = spark.sql(
            f"SELECT sketch_cdf(sketch, {med[r['lang']]}) AS c FROM sketches "
            f"WHERE sketch_name = 'len_kll' AND lang = '{r['lang']}'"
        ).first()["c"]
        assert abs(got - 0.5) < 0.05, (r["lang"], got)


def test_sql_cdf_and_quantile_null_for_non_quantile_sketch(spark, sketch_view):
    """Mixed sketch tables: rank/quantile read-outs over non-quantile
    blobs yield NULL (SQL semantics), not a task-killing exception."""
    r = spark.sql("SELECT sketch_cdf(sketch, 1.0) AS c, "
                  "sketch_quantile(sketch, 0.5) AS q FROM sketches "
                  "WHERE sketch_name = 'url_hll'").first()
    assert r["c"] is None and r["q"] is None


def test_sql_multipoint_quantiles_match_scalar(spark, sketch_view):
    """sketch_quantiles/sketch_cdfs (array-in/array-out, ONE python
    boundary) must agree element-wise with the scalar UDFs."""
    rows = spark.sql(
        "SELECT lang, "
        "sketch_quantiles(sketch, array(0.25D, 0.5D, 0.9D)) AS qs, "
        "sketch_quantile(sketch, 0.25) AS q25, "
        "sketch_quantile(sketch, 0.5) AS q50, "
        "sketch_quantile(sketch, 0.9) AS q90, "
        "sketch_cdfs(sketch, array(500D, 1000D)) AS cs, "
        "sketch_cdf(sketch, 500) AS c500, "
        "sketch_cdf(sketch, 1000) AS c1000 "
        "FROM sketches WHERE sketch_name = 'len_kll'").collect()
    assert rows
    for r in rows:
        assert r["qs"] == [r["q25"], r["q50"], r["q90"]], r
        assert r["cs"] == [r["c500"], r["c1000"]], r


def test_sql_multipoint_null_for_non_quantile_sketch(spark, sketch_view):
    r = spark.sql("SELECT sketch_quantiles(sketch, array(0.5D)) AS q, "
                  "sketch_cdfs(sketch, array(1.0D)) AS c FROM sketches "
                  "WHERE sketch_name = 'url_hll'").first()
    assert r["q"] is None and r["c"] is None


def test_readme_lists_every_sql_function():
    """README's SQL-surface paragraph names exactly the registered
    functions, in sorted order — a function outside the documented
    public API fails here."""
    import pathlib
    import re
    from sketchlib.spark.sqlfuncs import SQL_FUNCTIONS
    readme = (pathlib.Path(__file__).parents[1] / "README.md").read_text()
    para = re.search(r"^SQL surface:(.*?)\n\n", readme, re.S | re.M)
    assert para, "README has no 'SQL surface:' paragraph"
    listed = re.findall(r"`(\w+)`", para.group(1).split(". ")[0])
    assert listed == sorted(SQL_FUNCTIONS)


# name -> (blob column, argument columns, a blob column whose kernel has
# no such read-out, or None when every kernel has one)
_RULE_CASES = {
    "bloom_contains": ("bloom", ["key"], "hll"),
    "cms_count": ("cms", ["key"], "hll"),
    "cms_join_size": ("cms", ["cms"], "hll"),
    "fd_spectrum": ("fd", ["k"], "hll"),
    "hll_inclusion": ("hll", ["hll"], "theta"),
    "sample_values": ("sample", [], "hll"),
    "sample_weights": ("wsample", [], "sample"),
    "sketch_cdf": ("kll", ["x"], "hll"),
    "sketch_cdfs": ("kll", ["xs"], "hll"),
    "sketch_estimate": ("hll", [], None),
    "sketch_merge": ("blobs", [], None),  # array<binary> in, no kind check
    "sketch_quantile": ("kll", ["q"], "hll"),
    "sketch_quantiles": ("kll", ["qs"], "hll"),
    "theta_difference": ("theta", ["theta"], "hll"),
    "theta_intersect": ("theta", ["theta"], "hll"),
    "theta_jaccard": ("theta", ["theta"], "hll"),
}
_NUMERIC_ARGS = {"k", "q", "x"}


@pytest.fixture(scope="module")
def rule_row(spark):
    import numpy as np
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.cms import CountMinSketch
    from sketchlib.core.fd import FrequentDirections
    from sketchlib.core.hll import HyperLogLog
    from sketchlib.core.kll import KLL
    from sketchlib.core.sample import BottomKSample, WeightedBottomKSample
    from sketchlib.core.theta import ThetaSketch
    vals = [f"v{i}" for i in range(50)]
    nums = np.arange(50.0)
    hll = HyperLogLog(10).update_batch(vals).to_bytes()
    blobs = [BloomFilter(1024, 3).update_batch(vals).to_bytes(), hll,
             CountMinSketch(64, 3).update_batch(vals).to_bytes(),
             KLL(64).update_batch(nums).to_bytes(),
             FrequentDirections(l=4).update_batch(
                 np.stack([nums, nums % 7, nums % 3], axis=1)).to_bytes(),
             BottomKSample(8).update_batch(vals).to_bytes(),
             WeightedBottomKSample(8).update_batch(vals, nums + 1).to_bytes(),
             ThetaSketch(64).update_batch(vals).to_bytes()]
    return spark.createDataFrame(
        [(*blobs, [hll, hll], "v1", 0.5, 10.0, 2, [0.5], [10.0])],
        "bloom binary, hll binary, cms binary, kll binary, fd binary, "
        "sample binary, wsample binary, theta binary, blobs array<binary>, "
        "key string, q double, x double, k int, qs array<double>, "
        "xs array<double>")


def test_rule_cases_cover_the_registry():
    from sketchlib.spark.sqlfuncs import SQL_FUNCTIONS
    assert sorted(_RULE_CASES) == sorted(SQL_FUNCTIONS)


@pytest.mark.parametrize("name", sorted(_RULE_CASES))
def test_null_rule(rule_row, name):
    """Every SQL function: NULL blob, NULL argument, NaN numeric
    argument and a wrong-kind blob each give NULL, while the valid row
    gives a value."""
    from sketchlib.spark.sqlfuncs import SQL_FUNCTIONS
    f = SQL_FUNCTIONS[name]
    blob, args, wrong = _RULE_CASES[name]

    def null(c):
        return F.lit(None).cast(rule_row.schema[c].dataType)

    def call(i, arg):  # f with the i-th input (0 = blob) replaced
        cols = [blob, *args]
        cols[i] = arg
        return f(*cols)

    cases = {"ok": f(blob, *args), "null_blob": call(0, null(blob))}
    for i, a in enumerate(args, start=1):
        cases[f"null_{a}_{i}"] = call(i, null(a))
        if a in _NUMERIC_ARGS:
            cases[f"nan_{a}"] = call(i, F.lit(float("nan")))
    if wrong is not None:
        cases["wrong_kind"] = call(0, F.col(wrong))
        if args == [blob]:  # pair functions: either side
            cases["wrong_kind_2"] = call(1, F.col(wrong))
    got = rule_row.select(*[c.alias(k) for k, c in cases.items()]) \
        .first().asDict()
    assert got.pop("ok") is not None
    assert got == dict.fromkeys(got), got
