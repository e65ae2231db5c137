"""Single-partition builds fold in the task that built them.

A build whose input is one partition has every partial of a group in
one task, so ``build_sketches``, ``cms_heavy_hitters`` and the key
Bloom of ``build_key_bloom`` fold there: one ``mapInPandas``, no
Exchange. These tests hold that plan shape (at most one Python operator
per stage, across the benchmarked sketch queries and the builds they
run eagerly) and that the fused fold writes the same bytes as the
shuffle merge.
"""

import math
import os

import pyspark.sql.functions as F
import pytest

from perfbench.workloads import QUERY_NAMES
from sketchlib.spark import heavyhitters, joinprune, queries, sqlfuncs
from sketchlib.spark.build import build_partials, build_sketches, merge_partials
from sketchlib.spark.specs import SketchSpec
from tools.check_contract import SF_DIR

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

PYTHON_NODES = {"MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "ArrowEvalPython",
                "BatchEvalPython", "AggregateInPandas", "WindowInPandas"}


def _children(node):
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def python_stages(df) -> list[list[str]]:
    """Run ``df`` and list the Python operators of each stage of its
    AQE-final physical plan. Stages split at query stages, exchanges
    and reused exchanges."""
    df.collect()
    stages: list[list[str]] = [[]]

    def walk(node, stage):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            return walk(node.executedPlan(), stage)
        if name.endswith("QueryStage") or "Exchange" in name:
            stages.append([])
            stage = len(stages) - 1
            if name.endswith("QueryStage"):
                return walk(node.plan(), stage)
            if name == "ReusedExchange":
                return walk(node.child(), stage)
        if name in PYTHON_NODES:
            stages[stage].append(name)
        for child in _children(node):
            walk(child, stage)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return stages


def _record(monkeypatch, module, name, pick=lambda result: result):
    """Wrap ``module.name`` so every DataFrame it returns is kept."""
    built = []
    real = getattr(module, name)

    def wrapper(*args, **kwargs):
        result = real(*args, **kwargs)
        built.append(pick(result))
        return result
    monkeypatch.setattr(module, name, wrapper)
    return built


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_at_most_one_python_operator_per_stage(spark, monkeypatch, name):
    """Every benchmarked sketch query, and every build it runs (the
    eager ones included: the Bloom build of bloom_fpr_validation and
    the key Bloom of bloom_semijoin), holds at most one Python operator
    in any stage: a task never chains two Python workers."""
    builds = _record(monkeypatch, queries, "build_sketches")
    hh = _record(monkeypatch, heavyhitters, "cms_heavy_hitters")
    kb = _record(monkeypatch, joinprune, "_key_bloom_merged_df",
                 pick=lambda result: result[0])
    out = getattr(queries, f"q_{name}")(spark, SF)
    for df in [out, *builds, *hh, *kb]:
        stages = python_stages(df)
        assert all(len(s) <= 1 for s in stages), (name, stages)


def test_single_partition_builds_are_one_python_operator(spark, pages_tiny):
    """One input partition: build, fold and read-out are ONE
    mapInPandas with no Exchange, for all three partial builders."""
    assert pages_tiny.rdd.getNumPartitions() == 1
    plans = {
        "build_sketches": build_sketches(
            pages_tiny, ["lang"], [SketchSpec("h", "hll", "url", {"b": 8})],
            readout=[sqlfuncs.readout("est", sqlfuncs.sketch_estimate)]),
        "cms_heavy_hitters": heavyhitters.cms_heavy_hitters(
            pages_tiny, ["lang"], "text", k=3),
        "_key_bloom_merged_df": joinprune._key_bloom_merged_df(
            pages_tiny, "url", 0.01, 10000, 0)[0],
    }
    for name, df in plans.items():
        assert python_stages(df) == [["MapInPandas"]], name


ALL_KINDS = [
    SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5}),
    SketchSpec("h", "hll", "url", {"b": 10}),
    SketchSpec("c", "cms", "text", {"w": 1024, "d": 4}, tokenize=True),
    SketchSpec("th", "theta", "url", {"k": 64}),
    SketchSpec("k", "kll", "html_len", {"k": 128}),
    SketchSpec("t", "tdigest", "html_len", {"delta": 100}),
    SketchSpec("s", "sample", "url", {"k": 32}),
    SketchSpec("cs", "countsketch", "text", {"w": 256, "d": 3},
               tokenize=True),
    SketchSpec("ws", "wsample", "url", {"k": 32}, weight_col="w"),
]


def _table(df, keys, readout_cols=()):
    return {tuple(str(r[c]) for c in keys) + (r["sketch_name"],):
            (bytes(r["sketch"]), r["n_rows"], r["n_partials"],
             *(repr(r[c]) for c in readout_cols))
            for r in df.collect()}


def _fused_vs_shuffle(df, keys, readout=None):
    """The fused single-partition build against the shuffle merge of
    the same partials (``allow_narrow=False``)."""
    one = df.coalesce(1)
    fused = build_sketches(one, keys, ALL_KINDS, readout=readout)
    assert python_stages(fused) == [["MapInPandas"]]
    shuffled = merge_partials(build_partials(one, keys, ALL_KINDS), keys,
                              allow_narrow=False, readout=readout)
    cols = [c for c, _dtype, _fn in readout or ()]
    return _table(fused, keys, cols), _table(shuffled, keys, cols)


@pytest.fixture(scope="module")
def pages_kinds(pages_tiny):
    # a double group key with nulls, NaNs and values interleaved
    h = F.pmod(F.crc32("url"), F.lit(4))
    return (pages_tiny.filter(F.pmod(F.crc32("url"), F.lit(10)) == 0)
            .withColumn("html_len", F.length("html").cast("double"))
            .withColumn("w", (F.length("url") % 13 + 1).cast("double"))
            .withColumn("g", F.when(h == 0, F.lit(None).cast("double"))
                        .when(h == 1, F.lit(math.nan)).otherwise(h)))


@pytest.mark.parametrize("case", ["string_key", "flush", "null_nan_key",
                                  "empty"])
def test_fused_fold_bitwise_equals_shuffle_merge(spark, pages_kinds,
                                                 monkeypatch, case):
    """Every kind, byte for byte: string group keys; the memory-bounded
    flush (max_groups_in_flight=1, many chunks per group); null and NaN
    group keys across 10-row Arrow batches; empty input."""
    df, keys = pages_kinds, ["lang"]
    if case == "flush":
        monkeypatch.setenv("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "1")
        keys = ["lang", "g"]
    elif case == "null_nan_key":
        keys = ["g"]
    elif case == "empty":
        df = df.filter(F.col("url") == "")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if case in ("flush", "null_nan_key"):
        spark.conf.set(key, "10")
    try:
        fused, shuffled = _fused_vs_shuffle(df, keys)
    finally:
        spark.conf.set(key, old)
    assert fused == shuffled
    assert bool(fused) == (case != "empty")
    if case == "flush":  # the flush fired: several partials per group
        assert max(v[2] for v in fused.values()) > 1


def test_fused_fold_readout_equals_shuffle_merge(pages_kinds):
    """readout= runs in the fused task and reads the same values."""
    readout = [sqlfuncs.readout("est", sqlfuncs.sketch_estimate),
               sqlfuncs.readout("q", sqlfuncs.sketch_quantiles, [0.5, 0.9]),
               sqlfuncs.readout("vals", sqlfuncs.sample_values)]
    fused, shuffled = _fused_vs_shuffle(pages_kinds, ["lang"], readout)
    assert fused == shuffled
    assert any(v[4] != "None" for v in fused.values())


def test_heavy_hitters_same_rows_on_one_or_many_partitions(pages_tiny):
    def rows(df):
        return sorted(tuple(r) for r in heavyhitters.cms_heavy_hitters(
            df, ["lang"], "text", k=5).collect())
    assert rows(pages_tiny.coalesce(1)) == rows(pages_tiny.repartition(4))


# each converted query's readout= columns against the SQL functions
# over the same merged table
READOUT_UDFS = {
    "hll_distinct_lang": {"n_distinct_est": sqlfuncs.sketch_estimate},
    "kll_quantiles_nchars": {
        "q": lambda s: sqlfuncs.sketch_quantiles(
            s, F.array(F.lit(0.5), F.lit(0.9))),
        "c": lambda s: sqlfuncs.sketch_cdfs(
            s, F.array(F.lit(200.0), F.lit(500.0)))},
    "sample_docs_lang": {"doc_ids": sqlfuncs.sample_values,
                         "n_distinct_est": sqlfuncs.sketch_estimate},
}


@pytest.mark.parametrize("name", sorted(READOUT_UDFS))
def test_query_readout_equals_sql_function(spark, monkeypatch, name):
    built = _record(monkeypatch, queries, "build_sketches")
    getattr(queries, f"q_{name}")(spark, SF)
    (merged,) = built
    udfs = READOUT_UDFS[name]
    rows = merged.select(
        "lang", "sketch_name", *udfs,
        *(udf(F.col("sketch")).alias(f"sql_{c}") for c, udf in udfs.items())
    ).collect()
    assert rows
    for r in rows:
        for c in udfs:
            assert r[c] == r[f"sql_{c}"], (name, r["lang"], c)


def test_cms_join_size_equals_sql_function(spark, monkeypatch):
    built = _record(monkeypatch, queries, "build_sketches")
    (row,) = queries.q_cms_join_size(spark, SF).collect()
    a, b = (t.select("g", F.col("sketch").alias(s))
            for t, s in zip(built, ("sa", "sb")))
    (sql,) = (a.join(b, "g")
              .select(sqlfuncs.cms_join_size("sa", "sb").alias("n"))
              .collect())
    assert row["join_rows_est"] == sql["n"] > 0


def test_readout_keeps_the_read_out_rule():
    """A sketch whose kernel lacks the read-out gives None, as in SQL."""
    hll = SketchSpec("h", "hll", "url", {"b": 8}).make("x")
    _col, dtype, fn = sqlfuncs.readout("q", sqlfuncs.sketch_quantiles, [0.5])
    assert dtype == "array<double>"
    assert fn("h", hll) is None
