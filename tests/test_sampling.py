"""Deterministic hash sampling / splitting: reproducibility, per-id
stability under repartitioning, and proportion accuracy."""

import pytest
import pyspark.sql.functions as F

from sketchlib.spark.sampling import hash_split


@pytest.fixture(scope="module")
def ids(spark):
    return spark.range(20_000).withColumnRenamed("id", "doc_id").cache()


def test_sample_fraction_and_determinism(spark, ids):
    """A two-way split is a sample: identical labels under any
    partitioning, the requested share, and a different seed gives a
    (mostly) different sample."""
    w = {"sample": 0.1, "rest": 0.9}

    def sampled(df, seed):
        return {r["doc_id"] for r in hash_split(df, "doc_id", w, seed=seed)
                .filter("split = 'sample'").collect()}

    a = sampled(ids, 3)
    assert sampled(ids.repartition(13), 3) == a
    assert abs(len(a) / 20_000 - 0.1) < 0.01
    assert len(a & sampled(ids, 4)) < 0.03 * 20_000


def test_split_partition_of_ids(spark, ids):
    split = hash_split(ids, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in
              split.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 20_000  # exactly one label per id
    assert abs(counts["train"] / 20_000 - 0.8) < 0.01
    assert abs(counts["val"] / 20_000 - 0.1) < 0.01


def test_split_stable_per_id_when_data_grows(spark):
    """Adding rows later never migrates existing ids between splits."""
    small = spark.range(1000).withColumnRenamed("id", "doc_id")
    big = spark.range(5000).withColumnRenamed("id", "doc_id")
    w = {"train": 0.9, "val": 0.1}
    s_small = {r["doc_id"]: r["split"]
               for r in hash_split(small, "doc_id", w).collect()}
    s_big = {r["doc_id"]: r["split"]
             for r in hash_split(big, "doc_id", w).collect()}
    assert all(s_big[k] == v for k, v in s_small.items())


def test_validation_errors(spark, ids):
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(ids, "doc_id", {"a": 0.5, "b": 0.2})
    with pytest.raises(ValueError, match="fraction"):
        hash_split(ids, "doc_id", {"a": 1.5, "b": -0.5})


def test_no_python_in_plan(spark, ids):
    plan = (hash_split(ids, "doc_id", {"train": 0.9, "val": 0.1})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Python" not in plan and "MapInPandas" not in plan
