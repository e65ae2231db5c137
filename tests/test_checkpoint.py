"""Checkpoint/resume: interrupted build resumes without recomputation
and (for lossless sketches) yields bitwise-identical final sketches."""

import json
import os
import shutil

import pyspark.sql.functions as F
import pytest

from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.build import build_partials, build_sketches
from sketchlib.spark.checkpoint import (PartialCheckpoint, build_sketches_checkpointed,
                                        spec_fingerprint)

SPECS = [SketchSpec("b", "bloom", "url", {"m": 1 << 15, "k": 6}),
         SketchSpec("h", "hll", "url", {"b": 10}),
         # one spec per remaining kernel family: resume must be
         # bitwise-identical for all 8, not just the classic lattices
         SketchSpec("s", "sample", "url", {"k": 32}),
         SketchSpec("cs", "countsketch", "url", {"w": 256, "d": 3}),
         SketchSpec("th", "theta", "url", {"k": 64})]


def _sketch_bytes(df):
    return {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
            for r in df.collect()}


def test_full_run_then_resume_is_noop(spark, pages_tiny, tmp_path):
    ckpt = str(tmp_path / "ck1")
    first = _sketch_bytes(build_sketches_checkpointed(
        pages_tiny, ["lang"], SPECS, ckpt))
    man = PartialCheckpoint(spark, ckpt).manifest()
    assert man["counters"]["n_rows"] == pages_tiny.count()
    resumed = _sketch_bytes(build_sketches_checkpointed(
        pages_tiny, ["lang"], SPECS, ckpt))
    assert resumed == first
    # a manifest whose partial table is gone reads as an empty store
    shutil.rmtree(os.path.join(ckpt, "partials"))
    assert PartialCheckpoint(spark, ckpt).completed_partitions() == []


def test_interrupted_build_resumes_bitwise_identical(spark, pages_tiny_multifile, tmp_path):
    """Simulate a mid-job failure: checkpoint only the partials of the
    first few input partitions, then resume and compare against an
    uninterrupted run."""
    pages = pages_tiny_multifile
    ckpt_path = str(tmp_path / "ck2")
    uninterrupted = _sketch_bytes(build_sketches(pages, ["lang"], SPECS))

    fp = spec_fingerprint(pages, ["lang"], SPECS)
    ck = PartialCheckpoint(spark, ckpt_path)
    n_parts = pages.rdd.getNumPartitions()
    assert n_parts >= 2, "fixture must scan as multiple partitions"
    survivors = list(range(n_parts // 2))
    partial_df = build_partials(
        pages.filter(F.spark_partition_id().isin(survivors)),
        ["lang"], SPECS)
    ck.write(partial_df, fp, append=False)
    assert sorted(ck.completed_partitions()) == survivors

    resumed = _sketch_bytes(build_sketches_checkpointed(
        pages, ["lang"], SPECS, ckpt_path))
    assert resumed == uninterrupted
    # lineage: every input partition now has stored partials
    assert len(ck.completed_partitions()) == n_parts


def test_fingerprint_mismatch_refused(spark, pages_tiny, tmp_path):
    ckpt = str(tmp_path / "ck3")
    build_sketches_checkpointed(pages_tiny, ["lang"], SPECS, ckpt).collect()
    other = [SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5})]
    with pytest.raises(ValueError, match="fingerprint"):
        build_sketches_checkpointed(pages_tiny, ["lang"], other, ckpt)


def test_changed_input_files_refused(spark, pages_tiny, tmp_path):
    """Same schema + same partition count but DIFFERENT input files must
    refuse to resume (round-1 ADVICE: schema-only fingerprints silently
    mixed partials from two inputs)."""
    in_a = str(tmp_path / "in_a")
    in_b = str(tmp_path / "in_b")
    pages_tiny.write.parquet(in_a)
    pages_tiny.write.parquet(in_b)  # identical contents, different files
    ckpt = str(tmp_path / "ck4")
    df_a = spark.read.parquet(in_a)
    build_sketches_checkpointed(df_a, ["lang"], SPECS, ckpt).collect()
    df_b = spark.read.parquet(in_b)
    with pytest.raises(ValueError, match="fingerprint"):
        build_sketches_checkpointed(df_b, ["lang"], SPECS, ckpt)
    # unchanged input still resumes fine
    build_sketches_checkpointed(df_a, ["lang"], SPECS, ckpt).collect()


def test_checkpointed_build_accepts_auto_fanout(spark, pages_tiny, tmp_path):
    """fanout='auto' (the CLI default) must resolve inside the
    checkpointed path too — it crashed with a str/int comparison."""
    from sketchlib.spark.checkpoint import build_sketches_checkpointed
    out = build_sketches_checkpointed(
        pages_tiny, ["lang"],
        [SketchSpec("h", "hll", "url", {"b": 10})],
        str(tmp_path / "ck_auto"), fanout="auto")
    assert out.count() == 10


def test_fingerprint_per_group_param_dict_order_invariant(spark, pages_tiny):
    """Two logically identical per_group_params dicts built in
    different key-insertion orders must fingerprint identically — a
    legitimate resume must not be refused on dict ordering (ADVICE
    r4: repr(p) leaked insertion order)."""
    p1 = {("en",): {"m": 1 << 12, "k": 5}, ("fr",): {"k": 5, "m": 1 << 12}}
    p2 = {("fr",): {"m": 1 << 12, "k": 5}, ("en",): {"k": 5, "m": 1 << 12}}
    s1 = [SketchSpec("b", "bloom", "url", per_group_params=p1)]
    s2 = [SketchSpec("b", "bloom", "url", per_group_params=p2)]
    assert (spec_fingerprint(pages_tiny, ["lang"], s1)
            == spec_fingerprint(pages_tiny, ["lang"], s2))
    # DIFFERENT param content must still change the fingerprint
    p3 = {("en",): {"m": 1 << 13, "k": 5}, ("fr",): {"m": 1 << 12, "k": 5}}
    s3 = [SketchSpec("b", "bloom", "url", per_group_params=p3)]
    assert (spec_fingerprint(spark.createDataFrame(
        [("a", "x")], "lang string, url string"), ["lang"], s3)
        != spec_fingerprint(spark.createDataFrame(
            [("a", "x")], "lang string, url string"), ["lang"], s1))


def test_checkpointed_build_fused_readout(spark, pages_tiny, tmp_path):
    """readout= flows through the checkpointed build's merge."""
    from sketchlib.core.serde import sketch_from_bytes
    rd = [("est", "double", lambda _n, sk: float(sk.estimate())
           if hasattr(sk, "estimate") else None)]
    out = build_sketches_checkpointed(
        pages_tiny, ["lang"], [SketchSpec("h", "hll", "url", {"b": 10})],
        str(tmp_path / "ckro"), readout=rd).collect()
    assert out
    for r in out:
        assert r["est"] == float(
            sketch_from_bytes(bytes(r["sketch"])).estimate())


def _jobs(sc, group, action):
    """How many Spark jobs ``action()`` ran, and its result."""
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), result


def test_spark_text_manifest_still_resumes(spark, pages_tiny, tmp_path):
    """A MANIFEST written as a Spark text job (a directory of part
    files, the shape earlier versions wrote) still reads and resumes;
    the resume replaces it with a manifest file. Reading a manifest
    runs no Spark job."""
    ckpt = str(tmp_path / "ck_text")
    first = _sketch_bytes(build_sketches_checkpointed(
        pages_tiny, ["lang"], SPECS, ckpt))
    ck = PartialCheckpoint(spark, ckpt)
    man = ck.manifest()
    os.remove(ck.manifest_path)
    spark.createDataFrame([(json.dumps(man),)], "value string") \
        .coalesce(1).write.text(ck.manifest_path)
    assert os.path.isdir(ck.manifest_path)
    n_jobs, read_back = _jobs(spark.sparkContext, "ck-manifest", ck.manifest)
    assert (n_jobs, read_back) == (0, man)
    resumed = _sketch_bytes(build_sketches_checkpointed(
        pages_tiny, ["lang"], SPECS, ckpt))
    assert resumed == first
    assert os.path.isfile(ck.manifest_path)
    assert ck.manifest()["counters"] == man["counters"]
