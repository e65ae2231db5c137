"""Integration tests: the three-stage pipeline on Spark DataFrames.

Reproduces the reference's end-to-end statistical self-validation
(SURVEY.md §5: designed-vs-measured FPR, parameter sanity) on the
synthetic pages fixture, plus properties the reference lacked
(zero false negatives, merge-topology invariance of lossless sketches).
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.build import (calibrate, bloom_params_by_group,
                                   build_partials, build_sketches, merge_partials)
from sketchlib.spark.validate import collect_sketches, bloom_validate

P = 0.01


@pytest.fixture(scope="module")
def pages(pages_tiny):
    df = (pages_tiny.repartition(16)
          .withColumn("html_len", F.length("html").cast("double"))
          .cache())
    df.count()
    return df


@pytest.fixture(scope="module")
def merged(spark, pages):
    bp = bloom_params_by_group(calibrate(pages, ["lang"]), P)
    specs = [
        SketchSpec("url_bloom", "bloom", "url", per_group_params=bp),
        SketchSpec("url_hll", "hll", "url", {"b": 12}),
        SketchSpec("tok_cms", "cms", "text", {"w": 8192, "d": 5}, tokenize=True),
        SketchSpec("len_tdigest", "tdigest", "html_len", {"delta": 200}),
        SketchSpec("len_kll", "kll", "html_len", {"k": 200}),
    ]
    df = build_sketches(pages, ["lang"], specs).cache()
    df.count()
    return df


def test_calibration_counts_exact(spark, pages):
    calib = {r["lang"]: r["n"] for r in calibrate(pages, ["lang"]).collect()}
    assert sum(calib.values()) == pages.count()
    assert calib["en"] > calib["nl"]  # skew present


def test_sketch_table_shape(merged):
    rows = merged.collect()
    langs = {r["lang"] for r in rows}
    names = {r["sketch_name"] for r in rows}
    assert len(rows) == len(langs) * len(names) == 10 * 5
    assert all(r["n_rows"] > 0 and len(r["sketch"]) > 10 for r in rows)


def test_bloom_validation_fpr_and_no_false_negatives(spark, pages, merged):
    filters = collect_sketches(merged, ["lang"], "url_bloom")
    val = bloom_validate(pages, filters, ["lang"], "url", P).collect()
    assert len(val) == 10
    for r in val:
        assert r["false_negatives"] == 0, r
        assert r["measured_fpr"] == pytest.approx(P, abs=0.012), r


def test_hll_within_error_bound(spark, pages, merged):
    hlls = collect_sketches(merged, ["lang"], "url_hll")
    exact = {r["lang"]: r["n"] for r in
             pages.groupBy("lang").agg(F.countDistinct("url").alias("n")).collect()}
    for lang, h in hlls.items():
        rel = abs(h.estimate() - exact[lang]) / exact[lang]
        assert rel < 4 * h.rel_error(), (lang, h.estimate(), exact[lang])


def test_quantiles_within_rank_error(spark, pages, merged):
    klls = collect_sketches(merged, ["lang"], "len_kll")
    tds = collect_sketches(merged, ["lang"], "len_tdigest")
    for lang in ("en", "nl"):
        vals = np.sort(np.array(
            [r["html_len"] for r in
             pages.filter(F.col("lang") == lang).select("html_len").collect()]))
        for q in (0.1, 0.5, 0.9):
            for sk in (klls[lang], tds[lang]):
                est = sk.quantile(q)
                rank = np.searchsorted(vals, est) / len(vals)
                assert abs(rank - q) < 0.035, (lang, q, type(sk).__name__)


def test_cms_overestimate_only(spark, pages, merged):
    cms = collect_sketches(merged, ["lang"], "tok_cms")["en"]
    exact = (pages.filter("lang = 'en'")
             .select(F.explode(F.split("text", " ")).alias("t"))
             .groupBy("t").count().orderBy(F.desc("count")).limit(20).collect())
    keys = [r["t"] for r in exact]
    est = cms.query_batch(keys)
    true = np.array([r["count"] for r in exact])
    assert (est >= true).all()
    assert (est - true).max() <= np.e / 8192 * cms.total * 2


def test_merge_topology_invariance(spark, pages):
    """Lossless sketches: identical bytes whether merged flat, salted,
    or from a different partitioning of the same input."""
    specs = [SketchSpec("b", "bloom", "url", {"m": 1 << 15, "k": 6}),
             SketchSpec("h", "hll", "url", {"b": 10})]

    def bytes_of(df, fanout=None):
        rows = build_sketches(df, ["lang"], specs, fanout=fanout).collect()
        return {(r["lang"], r["sketch_name"]): bytes(r["sketch"]) for r in rows}

    flat = bytes_of(pages)
    salted = bytes_of(pages, fanout=4)
    repart = bytes_of(pages.repartition(5, "url"))
    # single partition takes the narrow no-Exchange fold path
    narrow = bytes_of(pages.coalesce(1))
    assert flat == salted == repart == narrow


def test_partials_shuffle_only_sketch_bytes(spark, pages_tiny):
    """The physical plan must not shuffle raw rows: partials are built
    from the scan (no Exchange before mapInPandas)."""
    partials = build_partials(pages_tiny, ["lang"],
                              [SketchSpec("h", "hll", "url", {"b": 8})])
    plan = partials._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_duplicate_spec_names_rejected(spark, pages):
    with pytest.raises(ValueError, match="duplicate"):
        build_partials(pages, ["lang"], [
            SketchSpec("x", "hll", "url", {"b": 8}),
            SketchSpec("x", "bloom", "url", {"m": 64, "k": 2})])


def test_auto_fanout_multi_level_on_wide_input(spark, pages_tiny):
    # precondition for the narrow-path half below: the tiny fixture
    # must scan as ONE partition (it sits under the 4MB parquet
    # openCost split) — if a fixture tweak grows it past that, this
    # assert points at the real cause instead of a plan mismatch
    assert pages_tiny.rdd.getNumPartitions() == 1
    wide = pages_tiny.repartition(100)
    df = build_sketches(wide, ["lang"],
                        [SketchSpec("h", "hll", "url", {"b": 8})])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # auto plan at 100 partials: [7, 2] salt levels + final fold
    assert plan.count("FlatMapGroupsInPandas") == 3, plan
    narrow = build_sketches(pages_tiny, ["lang"],
                            [SketchSpec("h", "hll", "url", {"b": 8})])
    plan_n = narrow._jdf.queryExecution().executedPlan().toString()
    # single-partition input: build and fold run in ONE mapInPandas
    # task — no groupBy stage, no Exchange at all
    assert plan_n.count("FlatMapGroupsInPandas") == 0, plan_n
    assert plan_n.count("MapInPandas") == 1, plan_n
    assert "Exchange" not in plan_n, plan_n
    # results identical either way (lattice merge)
    a = {(r["lang"]): bytes(r["sketch"]) for r in df.collect()}
    b = {(r["lang"]): bytes(r["sketch"]) for r in narrow.collect()}
    assert a == b


def test_flush_bounded_memory_semantics(spark, pages_tiny_multifile,
                                       monkeypatch):
    """SKETCHLIB_MAX_GROUPS_IN_FLIGHT=1 + tiny arrow batches forces repeated
    partial flushes. Lattice kernels must come back bitwise-identical
    to the unbounded build; the lossy quantile kernels get one more
    merge boundary (same class of effect as the partition split) and
    must be deterministic run-to-run with accurate quantiles."""
    from sketchlib.core.serde import sketch_from_bytes
    specs = [SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5}),
             SketchSpec("h", "hll", "url", {"b": 10}),
             SketchSpec("t", "tdigest", "html_len", {"delta": 100}),
             SketchSpec("k", "kll", "html_len", {"k": 128})]
    df = pages_tiny_multifile.withColumn(
        "html_len", F.length("html").cast("double"))
    def run():
        merged = merge_partials(build_partials(df, ["lang"], specs),
                                ["lang"])
        return {(r["lang"], r["sketch_name"]):
                (bytes(r["sketch"]), r["n_rows"]) for r in merged.collect()}
    unbounded = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "37")
    try:
        with monkeypatch.context() as m:
            m.setenv("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "1")
            flushed = run()
            flushed2 = run()
            # the flush really fired: more partial rows than one per group
            n_flush_rows = build_partials(df, ["lang"], specs).count()
    finally:
        spark.conf.set(key, old)
    n_plain_rows = build_partials(df, ["lang"], specs).count()
    assert n_flush_rows > n_plain_rows
    assert flushed == flushed2  # deterministic run-to-run, all kernels
    exact_med = {r["lang"]: r["m"] for r in df.groupBy("lang").agg(
        F.expr("percentile(html_len, 0.5)").alias("m")).collect()}
    for (lang, name), (blob, n_rows) in flushed.items():
        assert n_rows == unbounded[(lang, name)][1]
        if name in ("b", "h"):   # lattice: bitwise-identical
            assert blob == unbounded[(lang, name)][0], (lang, name)
        else:                    # lossy: accurate within rank error
            est = sketch_from_bytes(blob).quantile(0.5)
            assert abs(est - exact_med[lang]) / exact_med[lang] < 0.1


class TestFusedReadout:
    """merge_partials(readout=...) extracts estimates inside the final
    merge task — values must equal a post-hoc read-out of the merged
    blob on every merge path (narrow, flat, tree)."""

    RD = [("p50", "double",
           lambda name, sk: float(sk.quantile(0.5))
           if hasattr(sk, "quantile") else None),
          ("est", "double",
           lambda name, sk: float(sk.estimate())
           if hasattr(sk, "estimate") else None)]

    def _check(self, df, fanout):
        from sketchlib.core.serde import sketch_from_bytes
        specs = [SketchSpec("k", "kll", "html_len", {"k": 128}),
                 SketchSpec("h", "hll", "url", {"b": 10})]
        d = df.withColumn("html_len", F.length("html").cast("double"))
        out = build_sketches(d, ["lang"], specs, fanout=fanout,
                             readout=self.RD).collect()
        assert out
        for r in out:
            sk = sketch_from_bytes(bytes(r["sketch"]))
            if r["sketch_name"] == "k":
                assert r["p50"] == float(sk.quantile(0.5))
                assert r["est"] is None
            else:
                assert r["est"] == float(sk.estimate())
                assert r["p50"] is None

    def test_flat_and_tree(self, pages_tiny):
        self._check(pages_tiny.repartition(6), None)      # flat fold
        self._check(pages_tiny.repartition(8), [4])       # merge tree

    def test_narrow_single_partition(self, pages_tiny):
        self._check(pages_tiny.coalesce(1), "auto")       # narrow path


@pytest.mark.parametrize("narrow", [False, True],
                         ids=["repartition7", "coalesce1"])
def test_build_sketches_local_bitwise_matches_distributed(pages_tiny,
                                                          narrow):
    """``build_sketches_local`` (``build_sketches`` collected) must
    equal the shuffle merge tree bitwise — same (partition_id, chunk)
    total order. Seven partitions take the driver fold (the result is
    a LocalRelation), one partition the in-task fold, so the lossy
    KLL/t-digest folds are checked on both against the tree."""
    from sketchlib.spark.build import build_sketches_local
    specs = [SketchSpec("k", "kll", "html_len", {"k": 128}),
             SketchSpec("h", "hll", "url", {"b": 10}),
             SketchSpec("t", "tdigest", "html_len", {"delta": 100})]
    d = (pages_tiny.coalesce(1) if narrow else pages_tiny.repartition(7)) \
        .withColumn("html_len", F.length("html").cast("double"))
    built = build_sketches(d, ["lang"], specs)
    plan = built._jdf.queryExecution().executedPlan().toString()
    if narrow:
        assert plan.count("MapInPandas") == 1, plan
        assert "FlatMapGroupsInPandas" not in plan, plan
    else:
        assert plan.startswith("LocalTableScan"), plan
    tree = merge_partials(build_partials(d, ["lang"], specs), ["lang"])
    assert "FlatMapGroupsInPandas" in \
        tree._jdf.queryExecution().executedPlan().toString()
    dist = {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
            for r in tree.collect()}
    assert dist == {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
                    for r in built.collect()}
    local = {k: sk.to_bytes()
             for k, sk in build_sketches_local(d, ["lang"], specs).items()}
    assert local == dist


def test_build_sketches_local_equals_build_sketches_on_wide_input(
        pages_tiny):
    """Over 64 partitions ``build_sketches`` merges through the salted
    tree, and ``build_sketches_local`` returns that tree's bytes: the
    KLL/t-digest folds, which depend on the fold order, included."""
    from sketchlib.spark.build import build_sketches_local
    specs = [SketchSpec("k", "kll", "html_len", {"k": 128}),
             SketchSpec("h", "hll", "url", {"b": 10}),
             SketchSpec("t", "tdigest", "html_len", {"delta": 100})]
    d = pages_tiny.repartition(100).withColumn(
        "html_len", F.length("html").cast("double"))
    built = build_sketches(d, ["lang"], specs)
    assert "FlatMapGroupsInPandas" in \
        built._jdf.queryExecution().executedPlan().toString()
    dist = {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
            for r in built.collect()}
    assert {k: sk.to_bytes() for k, sk in
            build_sketches_local(d, ["lang"], specs).items()} == dist


def test_narrow_fold_null_numeric_group_key_across_batches(spark):
    """Review r5: the in-task single-partition fold keys its group dict
    on normalized keys — a null numeric group key spanning multiple
    Arrow batches must fold to ONE row per (group, spec), not split
    into duplicate partials (NaN != NaN as dict keys). Checked on the
    fused build, and on merge_partials' shuffle tree over the same
    partials, which must put the null key's chunks in one group too."""
    import os
    # interleave the null and non-null groups and force a 1-group
    # in-flight budget so the build FLUSHES many chunked partial rows
    # per group; tiny Arrow batches then split one group's partial
    # rows across fold_partition batches — the regression scenario
    rows = []
    for i in range(40):
        rows.append((None, f"u{i}"))
        rows.append((1.0, f"v{i}"))
    df = (spark.createDataFrame(rows, "g double, url string")
          .coalesce(1))
    old_batch = spark.conf.get(
        "spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    os.environ["SKETCHLIB_MAX_GROUPS_IN_FLIGHT"] = "1"
    specs = [SketchSpec("h", "hll", "url", {"b": 10})]
    try:
        outs = [build_sketches(df, ["g"], specs, fanout="auto").collect(),
                merge_partials(build_partials(df, ["g"], specs), ["g"],
                               fanout="auto").collect()]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old_batch)
        del os.environ["SKETCHLIB_MAX_GROUPS_IN_FLIGHT"]
    for out in outs:
        keys = [(r["g"], r["sketch_name"]) for r in out]
        assert len(keys) == len(set(map(str, keys))) == 2, keys
        for r in out:
            assert r["n_rows"] == 40, r
            # the scenario really happened: many chunked partials folded
            assert r["n_partials"] > 1, r
