"""Null-robustness: null keys/values/groups must not poison sketches."""

import pyspark.sql.functions as F

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.build import build_sketches, calibrate
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.validate import accuracy_table


def test_nulls_ignored_in_all_kernels(spark):
    rows = [
        ("en", "https://a", "hello world", 10.0),
        ("en", None, None, None),
        ("en", "https://b", "hello there", 20.0),
        (None, "https://c", "null group", 30.0),
        ("fr", "https://d", None, None),
    ]
    df = spark.createDataFrame(rows, "lang string, url string, text string, v double")
    merged = build_sketches(df, ["lang"], [
        SketchSpec("b", "bloom", "url", {"m": 4096, "k": 5}),
        SketchSpec("h", "hll", "url", {"b": 8}),
        SketchSpec("c", "cms", "text", {"w": 512, "d": 3}, tokenize=True),
        SketchSpec("k", "kll", "v", {"k": 64}),
        SketchSpec("t", "tdigest", "v", {"delta": 50}),
    ])
    by = {(r["lang"], r["sketch_name"]): r for r in merged.collect()}
    # null group key becomes its own group (dropna=False semantics)
    assert (None, "b") in by
    en_bloom = sketch_from_bytes(bytes(by[("en", "b")]["sketch"]))
    assert en_bloom.n_added == 2  # null url skipped
    en_cms = sketch_from_bytes(bytes(by[("en", "c")]["sketch"]))
    assert en_cms.total == 4  # two 2-token texts; null text skipped
    assert en_cms.query_batch(["nan"])[0] == 0  # nulls never become "nan"
    fr_kll = sketch_from_bytes(bytes(by[("fr", "k")]["sketch"]))
    assert fr_kll.n == 0  # all-null numeric group -> empty sketch
    en_td = sketch_from_bytes(bytes(by[("en", "t")]["sketch"]))
    assert en_td.total_weight() == 2.0


def test_empty_partitions_yield_no_partials(spark):
    df = (spark.createDataFrame([("en", "u1")], "lang string, url string")
          .repartition(8))
    merged = build_sketches(df, ["lang"],
                            [SketchSpec("h", "hll", "url", {"b": 8})])
    rows = merged.collect()
    assert len(rows) == 1
    assert rows[0]["n_partials"] == 1  # 7 empty partitions emitted nothing


def test_nan_group_key_is_the_null_group(spark):
    """The build cannot tell a NaN group key from a null one (pandas
    reads both as NaN), so calibrate and accuracy_table's exact pass
    put NaN in the null group too: calibrate's counts equal the
    build's n_rows, and the exact distinct count covers all its rows."""
    df = spark.createDataFrame(
        [(None, "a"), (float("nan"), "b"), (1.0, "c"), (None, "d"),
         (float("nan"), "e")], "g double, url string").coalesce(1)
    spec = [SketchSpec("h", "hll", "url", {"b": 10})]
    counts = {r["g"]: r["n"] for r in calibrate(df, ["g"]).collect()}
    built = {r["g"]: r["n_rows"]
             for r in build_sketches(df, ["g"], spec).collect()}
    assert counts == built == {None: 4, 1.0: 1}
    exact = {r["g"]: r["exact"]
             for r in accuracy_table(df, ["g"], spec).collect()}
    assert exact == {None: 4.0, 1.0: 1.0}
