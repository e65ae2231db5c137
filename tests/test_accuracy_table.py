"""accuracy_table: the generalized validation loop — every kernel row
lands within its published bound on the fixture, and the rank/exact
columns are genuinely exact."""

import pytest

from sketchlib.spark.queries import q_sketch_accuracy_lang


@pytest.fixture(scope="module")
def acc(spark):
    return q_sketch_accuracy_lang(spark, "/root/testdata/sf0.001").toPandas()


def test_all_rows_within_bound(acc):
    assert len(acc) == 5 * 6  # 5 langs x 6 specs (round 5: + wsample)
    bad = acc[~acc["within_bound"]]
    assert bad.empty, bad.to_string()


def test_distinct_rows_exact_column_is_exact(spark, acc):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import pyspark.sql.functions as F
    want = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(
        F.countDistinct("text").alias("n")).collect()}
    hll = acc[acc["kind"] == "hll"]
    for _, r in hll.iterrows():
        assert r["exact"] == want[r["lang"]]
        assert r["metric"] == "distinct_rel_err"


def test_wsample_rows_weighted_total(spark, acc):
    """wsample rows measure the weighted-total estimate against the
    exact sum of per-distinct-text max weight."""
    import pyspark.sql.functions as F
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumn("w", (F.col("n_chars") + 1).cast("double")))
    want = {r["lang"]: r["tw"] for r in
            docs.dropna(subset=["text"]).groupBy("lang", "text")
            .agg(F.max("w").alias("mw")).groupBy("lang")
            .agg(F.sum("mw").alias("tw")).collect()}
    ws = acc[acc["kind"] == "wsample"]
    assert len(ws) == 5
    for _, r in ws.iterrows():
        assert r["metric"] == "weight_total_rel_err"
        assert r["exact"] == want[r["lang"]]
        assert r["within_bound"]


def test_quantile_rows_are_rank_errors(acc):
    q = acc[acc["kind"].isin(["kll", "tdigest"])]
    assert (q["metric"] == "median_rank_err").all()
    # falsifiable: a correct median estimate pins the measured rank
    # near 0.5 on the (tie-free) fixture — an avg of indicators is in
    # [0,1] by construction, so only the tight band checks anything
    assert ((q["exact"] - 0.5).abs() <= 0.05).all(), q
    assert (q["err"] <= 0.05).all()


def test_requires_supported_kind(spark):
    from sketchlib.spark.validate import accuracy_table
    from sketchlib.spark.specs import SketchSpec
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="bloom_validate"):
        accuracy_table(docs, ["lang"],
                       [SketchSpec("b", "bloom", "text", {"m": 1024, "k": 3})])


def test_validation_outside_the_session_thread(spark):
    """bloom_validate and accuracy_table take the session from the
    DataFrame: SparkSession.getActiveSession() is None in any thread
    other than the one that built the session."""
    import threading
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.spark.specs import SketchSpec
    from sketchlib.spark.validate import accuracy_table, bloom_validate
    df = spark.createDataFrame([("a", "x"), ("a", "y"), ("b", "z")],
                               "g string, v string")
    filters = {"a": BloomFilter(1024, 3).update_batch(["x", "y"]),
               "b": BloomFilter(1024, 3).update_batch(["z"])}
    got = {}

    def work():
        got["bloom"] = bloom_validate(df, filters, ["g"], "v", 0.01).collect()
        got["acc"] = accuracy_table(
            df, ["g"], [SketchSpec("h", "hll", "v", {"b": 10})]).collect()

    t = threading.Thread(target=work)
    t.start()
    t.join(timeout=600)
    assert not t.is_alive()
    assert len(got.get("bloom", [])) == 2
    assert len(got.get("acc", [])) == 2
