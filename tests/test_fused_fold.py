"""Builds fold without a merge shuffle when they can.

A build whose input is one partition has every partial of a group in
one task, so ``build_sketches``, ``cms_heavy_hitters`` and the key
Bloom of ``build_key_bloom`` fold there: one ``mapInPandas``, no
Exchange. A wider build with no salt level whose partials fit the
driver budget (Spark's Arrow local-relation threshold) runs one build
job, folds on the driver and returns a LocalRelation. These tests hold
those plan shapes (at most one Python operator per stage, across the
benchmarked sketch queries, three more catalog read-outs and the
builds they run eagerly), the byte budget, and that both folds write
the same bytes as the shuffle merge.
"""

import math
import os
import warnings

import pandas as pd
import pyarrow.compute as pc
import pyspark.sql.functions as F
import pytest

from perfbench.workloads import QUERY_NAMES
from sketchlib.spark import build, heavyhitters, joinprune, queries, sqlfuncs
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


def python_stages(df, run=True) -> list[list[str]]:
    """Run ``df`` (unless it already ran) and list the Python operators
    of each stage of its AQE-final physical plan. Stages split at query
    stages, exchanges and reused exchanges."""
    if run:
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


def _is_local(df) -> bool:
    return (df._jdf.queryExecution().logical().getClass().getSimpleName()
            == "LocalRelation")


# catalog read-outs outside the benchmark that build and read out
READOUT_QUERIES = ["sketch_accuracy_lang", "token_freq_sketch_accuracy",
                   "fd_spectrum_vs_exact"]


@pytest.mark.parametrize("name", QUERY_NAMES + READOUT_QUERIES)
def test_at_most_one_python_operator_per_stage(spark, monkeypatch, name):
    """Every benchmarked sketch query and catalog read-out, and every
    build it runs (the eager ones included: the Bloom build of
    bloom_fpr_validation and the key Bloom of bloom_semijoin), holds at
    most one Python operator in any stage: a task never chains two
    Python workers."""
    builds = _record(monkeypatch, queries, "build_sketches")
    # validate.accuracy_table imports build_sketches at call time
    builds += _record(monkeypatch, build, "build_sketches")
    hh = _record(monkeypatch, heavyhitters, "cms_heavy_hitters")
    kb = _record(monkeypatch, joinprune, "_key_bloom_merged_df",
                 pick=lambda result: result[0])
    out = getattr(queries, f"q_{name}")(spark, SF)
    for df in [out, *builds, *hh, *kb]:
        stages = python_stages(df)
        assert all(len(s) <= 1 for s in stages), \
            (name, [s for s in stages if s])


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


def _fold_vs_tree(df, keys, readout=None, parts=1):
    """``build_sketches`` over ``parts`` partitions of ``df`` (one: the
    in-task fold; more: the driver fold) against the shuffle merge of
    the same partials (``merge_partials``)."""
    split = df.coalesce(1) if parts == 1 else df.repartition(parts)
    folded = build_sketches(split, keys, ALL_KINDS, readout=readout)
    if parts == 1:
        assert python_stages(folded) == [["MapInPandas"]]
    else:
        assert _is_local(folded)
    shuffled = merge_partials(build_partials(split, keys, ALL_KINDS), keys,
                              readout=readout)
    cols = [c for c, _dtype, _fn in readout or ()]
    return _table(folded, keys, cols), _table(shuffled, keys, cols)


@pytest.fixture(scope="module")
def pages_kinds(pages_tiny):
    # a double group key with nulls, NaNs and values interleaved
    h = F.pmod(F.crc32("url"), F.lit(4))
    return (pages_tiny.filter(F.pmod(F.crc32("url"), F.lit(10)) == 0)
            .withColumn("html_len", F.length("html").cast("double"))
            .withColumn("w", (F.length("url") % 13 + 1).cast("double"))
            .withColumn("g", F.when(h == 0, F.lit(None).cast("double"))
                        .when(h == 1, F.lit(math.nan)).otherwise(h)))


READOUT = [sqlfuncs.readout("est", sqlfuncs.sketch_estimate),
           sqlfuncs.readout("q", sqlfuncs.sketch_quantiles, [0.5, 0.9]),
           sqlfuncs.readout("vals", sqlfuncs.sample_values)]


def _case_vs_tree(spark, df, monkeypatch, case, parts):
    """Every kind, byte for byte, on one input ``case``: string group
    keys; the memory-bounded flush (SKETCHLIB_MAX_GROUPS_IN_FLIGHT=1,
    many chunks per group); null and NaN group keys across 10-row
    Arrow batches; empty input; ``readout=``."""
    keys, readout = ["lang"], None
    if case == "flush":
        monkeypatch.setenv("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "1")
        keys = ["lang", "g"]
    elif case == "null_nan_key":
        keys = ["g"]
    elif case == "empty":
        df = df.filter(F.col("url") == "")
    elif case == "readout":
        readout = READOUT
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    if case in ("flush", "null_nan_key"):
        spark.conf.set(key, "10")
    try:
        folded, shuffled = _fold_vs_tree(df, keys, readout, parts)
    finally:
        spark.conf.set(key, old)
    assert folded == shuffled
    assert bool(folded) == (case != "empty")
    if case == "flush":  # the flush fired: several partials per group
        assert max(v[2] for v in folded.values()) > 1
    if case == "readout":
        assert any(v[4] != "None" for v in folded.values())


@pytest.mark.parametrize("case", ["string_key", "flush", "null_nan_key",
                                  "empty"])
def test_fused_fold_bitwise_equals_shuffle_merge(spark, pages_kinds,
                                                 monkeypatch, case):
    _case_vs_tree(spark, pages_kinds, monkeypatch, case, 1)


def test_fused_fold_readout_equals_shuffle_merge(spark, pages_kinds,
                                                 monkeypatch):
    """readout= runs in the fused task and reads the same values."""
    _case_vs_tree(spark, pages_kinds, monkeypatch, "readout", 1)


@pytest.mark.parametrize("case, parts", [
    ("string_key", 2), ("string_key", 4), ("string_key", 7), ("flush", 4),
    ("null_nan_key", 4), ("empty", 4), ("readout", 7)])
def test_driver_fold_bitwise_equals_shuffle_tree(spark, pages_kinds,
                                                 monkeypatch, case, parts):
    _case_vs_tree(spark, pages_kinds, monkeypatch, case, parts)


def _jobs(sc, group, action):
    """Spark job ids that ``action()`` ran, and its result."""
    sc.setJobGroup(group, group)
    try:
        result = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sorted(sc.statusTracker().getJobIdsForGroup(group)), result


def test_under_budget_build_is_one_job(spark, pages_tiny_multifile,
                                       arrow_collects):
    """Four partitions under the budget: ONE job (one stage, one Python
    operator, no Exchange) builds and collects the partials; the
    LocalRelation it returns runs no job when collected."""
    sc = spark.sparkContext
    df = pages_tiny_multifile
    assert df.rdd.getNumPartitions() == 4
    specs = [SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5}),
             SketchSpec("h", "hll", "url", {"b": 10})]
    jobs, out = _jobs(sc, "driver-fold-build", lambda: build_sketches(
        df, ["lang"], specs, readout=READOUT[:1]))
    assert len(jobs) == 1, jobs
    assert len(sc.statusTracker().getJobInfo(jobs[0]).stageIds) == 1
    ((partials, _table),) = arrow_collects
    assert python_stages(partials, run=False) == [["MapInPandas"]]
    assert _is_local(out)
    jobs, rows = _jobs(sc, "driver-fold-collect", out.collect)
    assert jobs == [] and rows


def _shipped_partials(table):
    """The partial rows of a driver-fold collect, overflow markers
    (empty blobs) dropped."""
    return table.filter(pc.greater(pc.binary_length(table["partial"]), 0))


def test_over_budget_partials_fall_back_to_the_tree(pages_tiny_multifile,
                                                    arrow_collects,
                                                    driver_budget):
    """A budget the plan-time Bloom bytes fit (4 x 2 KiB) but the
    partials do not: the tasks send overflow markers, the driver
    collects no more than its budget, and the shuffle tree merges the
    partials the build job kept (no second build) into the same
    bytes."""
    df = pages_tiny_multifile.withColumn(
        "html_len", F.length("html").cast("double")).withColumn(
        "w", (F.length("url") % 13 + 1).cast("double"))
    budget = 10000
    driver_budget(budget)
    out = build_sketches(df, ["lang"], ALL_KINDS)
    ((_partials, table),) = arrow_collects
    assert b"" in table.column("partial").to_pylist()
    assert _shipped_partials(table).nbytes <= budget
    # the tree reads the partials the build job kept: no MapInPandas
    assert [s for s in python_stages(out) if s] == \
        [["FlatMapGroupsInPandas"]]
    tree = merge_partials(build_partials(df, ["lang"], ALL_KINDS), ["lang"])
    assert _table(out, ["lang"]) == _table(tree, ["lang"])


def test_group_keys_count_against_the_budget(pages_tiny_multifile,
                                             arrow_collects, driver_budget):
    """Long group keys next to small states: the budget counts whole
    partial rows, so keys that pass it send the build to the tree
    although the blobs alone fit, and the collected rows stay within
    it."""
    df = pages_tiny_multifile.withColumn("key", F.repeat("lang", 2000))
    specs = [SketchSpec("h", "hll", "url", {"b": 4})]
    tree = merge_partials(build_partials(df, ["key"], specs), ["key"])
    partials = build_partials(df, ["key"], specs).toArrow()
    blobs = sum(pc.binary_length(partials["partial"]).to_pylist())
    budget = 8 * blobs  # each task's share holds all blobs twice over
    assert partials.nbytes > 2 * budget
    driver_budget(budget)
    out = build_sketches(df, ["key"], specs)
    (_build, table) = arrow_collects[-1]
    assert b"" in table.column("partial").to_pylist()
    assert _shipped_partials(table).nbytes <= budget
    assert not _is_local(out)
    assert _table(out, ["key"]) == _table(tree, ["key"])


def test_driver_fold_keeps_bigint_keys_exact(spark):
    """A bigint group key column holding a null, collected to the
    driver, keeps keys above 2**53 apart: the fold must not read it
    as float64, which merges them into one group."""
    big = 2 ** 53 + 1
    # partition 0: keys big and big + 1; partition 1: the null key
    df = spark.range(0, 400, numPartitions=2).select(
        F.when(F.col("id") < 200, F.lit(big) + F.col("id") % 2).alias("k"),
        F.col("id").cast("string").alias("url"),
        F.col("id").cast("double").alias("x"))
    specs = [SketchSpec("h", "hll", "url", {"b": 10}),
             SketchSpec("q", "kll", "x", {"k": 128})]
    folded = build_sketches(df, ["k"], specs)
    assert _is_local(folded)
    tree = merge_partials(build_partials(df, ["k"], specs), ["k"])
    got = _table(folded, ["k"])
    assert got == _table(tree, ["k"])
    assert {key[0] for key in got} == {str(big), str(big + 1), "None"}


@pytest.mark.parametrize("parts", [1, 4, 100])
def test_nullable_bigint_group_keys_stay_exact(spark, parts):
    """Keys above 2**53 sharing Arrow batches with a null key stay
    exact on the in-task (1 partition), driver (4) and tree (100)
    paths: pandas reads such a bigint column as float64, which would
    round the first key and could merge distinct keys."""
    big = 2 ** 53
    df = spark.range(0, 300, numPartitions=parts).select(
        F.when(F.col("id") % 3 > 0, F.lit(big) + F.col("id") % 3).alias("k"),
        F.col("id").cast("string").alias("url"))
    out = build_sketches(df, ["k"], [SketchSpec("h", "hll", "url", {"b": 10})])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert {1: "MapInPandas" in plan and "Exchange" not in plan,
            4: _is_local(out),
            100: "FlatMapGroupsInPandas" in plan}[parts], plan
    assert {r["k"]: r["n_rows"] for r in out.collect()} == \
        {big + 1: 100, big + 2: 100, None: 100}


def test_folds_need_no_dtype_guess_from_all_na_frames(spark, pages_kinds):
    """A null group key next to an all-null read-out column: neither
    the in-task fold (run here, in-process) nor the driver fold
    concatenates frames whose result dtype pandas would derive from
    their all-NA entries (a rule pandas warns it will change), and
    both write the shuffle tree's bytes."""
    keys, cols = ["g"], ["none"]
    readout = [("none", "double", lambda name, sk: None)]

    def tree(df):
        return _table(merge_partials(build_partials(df, keys, ALL_KINDS),
                                     keys, readout=readout), keys, cols)
    one, four = pages_kinds.coalesce(1), pages_kinds.repartition(4)
    sel, build_fn, _schema = build._partial_task(one, keys, ALL_KINDS)
    batch = sel.toPandas()
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        in_task = pd.concat(build._fold_partials(keys, readout)(
            build_fn(iter([batch]))))
        driver = build_sketches(four, keys, ALL_KINDS, readout=readout)
    assert _is_local(driver)
    assert _table(driver, keys, cols) == tree(four)
    assert {(str(r.g), r.sketch_name): (r.sketch, r.n_rows, r.n_partials,
                                         repr(r.none))
            for r in in_task.itertuples()} == tree(one)


def test_bloom_over_budget_goes_straight_to_the_tree(spark,
                                                     pages_tiny_multifile,
                                                     arrow_collects,
                                                     driver_budget):
    """A key Bloom whose m/8 bytes times the partition count pass the
    budget plans the shuffle tree before any job runs: no build job is
    wasted on the driver fold, and the filter is the one-partition
    build's."""
    df = pages_tiny_multifile
    driver_budget(1 << 20)  # 4 partitions x m/8 (1.2 MB) > 1 MiB
    jobs, (merged, _cached) = _jobs(
        spark.sparkContext, "bloom-plan-time",
        lambda: joinprune._key_bloom_merged_df(df, "url", 0.01, 10 ** 6, 0))
    assert jobs == [] and arrow_collects == []
    assert "FlatMapGroupsInPandas" in \
        merged._jdf.queryExecution().executedPlan().toString()
    (row,) = merged.collect()
    assert bytes(row["sketch"]) == joinprune.build_key_bloom(
        df.coalesce(1), "url", 0.01, 10 ** 6).to_bytes()


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


def test_driver_tables_are_local_relations(spark, pages_tiny, monkeypatch,
                                           tmp_path):
    """Tables the driver makes from Python values (the exact embedding
    spectrum, the IVF centroid table, a checkpoint manifest) are
    LocalRelations built from Arrow, not Python RDDs whose rows a
    second pool of Python workers would unpickle."""
    from sketchlib.spark.checkpoint import build_sketches_checkpointed
    made = []
    real = type(spark).createDataFrame

    def create(self, *args, **kwargs):
        df = real(self, *args, **kwargs)
        made.append(df)
        return df
    monkeypatch.setattr(type(spark), "createDataFrame", create)
    assert _is_local(queries.q_embedding_spectrum_exact(spark, SF))
    assert queries.q_ann_ivf_topk(spark, SF).collect()
    build_sketches_checkpointed(pages_tiny, ["lang"],
                                [SketchSpec("h", "hll", "url", {"b": 8})],
                                str(tmp_path / "ckpt")).collect()
    assert len(made) == 3 and all(_is_local(df) for df in made)


def test_fd_builds_fold_in_workers(spark):
    """An FD merge's SVD differs in its last bits with the BLAS thread
    count (one per Python worker, more on the driver), so a wider FD
    build keeps the tree and its bytes."""
    emb = (spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
           .select(F.lit(1).alias("g"), "embedding").repartition(4))
    spec = [SketchSpec("f", "fd", "embedding", {"l": 32})]
    out = build_sketches(emb, ["g"], spec)
    assert "FlatMapGroupsInPandas" in \
        out._jdf.queryExecution().executedPlan().toString()
    tree = merge_partials(build_partials(emb, ["g"], spec), ["g"])
    assert _table(out, ["g"]) == _table(tree, ["g"])
