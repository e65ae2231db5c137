"""Builds merge in the build task or through the tree, and stay lazy.

A build whose input is one partition has every partial of a group in
one task, so ``build_sketches``, ``cms_heavy_hitters`` and the key
Bloom of ``build_key_bloom`` fold there: one ``mapInArrow``, no
Exchange. A wider build shuffles only its partials, through one
Exchange into the ``applyInArrow`` merge (more levels past 64
partitions). Neither runs a job before the first action. These tests
hold those plan shapes (at most one Python operator per stage, across
the benchmarked sketch queries, three more catalog read-outs and the
builds they run), and that both write the same bytes as the shuffle
merge of ``merge_partials``. Every build, fold and merge runs through
Arrow operators: no plan holds a pandas one.
"""

import math
import os

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from perfbench.workloads import QUERY_NAMES
from sketchlib.spark import (build, heavyhitters, joinprune, queries, sqlfuncs,
                             validate)
from sketchlib.spark.build import (build_partials, build_sketches,
                                   incremental_update, merge_partials,
                                   rollup_sketches)
from sketchlib.spark.specs import SketchSpec
from tools.check_contract import SF_DIR

SF = os.path.join(os.path.dirname(SF_DIR), "sf0.001")

PYTHON_NODES = {"MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "FlatMapCoGroupsInArrow", "ArrowEvalPython",
                "BatchEvalPython", "AggregateInPandas", "WindowInPandas"}
PANDAS_NODES = {"MapInPandas", "FlatMapGroupsInPandas"}


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


def _exchanges(df) -> list:
    """The Exchange nodes of ``df``'s physical plan, before it runs."""
    found = []

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        if "Exchange" in node.nodeName():
            found.append(node)
        for child in _children(node):
            walk(child)
    walk(df._jdf.queryExecution().executedPlan())
    return found


def _is_local(df) -> bool:
    return (df._jdf.queryExecution().logical().getClass().getSimpleName()
            == "LocalRelation")


# catalog read-outs outside the benchmark that build and read out
READOUT_QUERIES = ["sketch_accuracy_lang", "token_freq_sketch_accuracy",
                   "fd_spectrum_vs_exact"]


@pytest.mark.parametrize("name", QUERY_NAMES + READOUT_QUERIES)
def test_at_most_one_python_operator_per_stage(spark, monkeypatch, name):
    """Every benchmarked sketch query and catalog read-out, and every
    build it runs (the Bloom build of bloom_fpr_validation and the key
    Bloom of bloom_semijoin included), holds at most one Python
    operator in any stage: a task never chains two Python workers."""
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


def test_countsketch_token_freq_reads_out_in_the_fold(spark):
    """The exact candidates are collected first, so the count sketch's
    fold reads every candidate out: the query's whole executed plan
    holds ONE Python operator, with no read-out UDF after the build."""
    out = queries.q_countsketch_token_freq(spark, SF)
    assert sum(python_stages(out), []) == ["MapInArrow"]


def test_single_partition_builds_are_one_python_operator(spark, pages_tiny):
    """One input partition: build, fold and read-out are ONE
    mapInArrow with no Exchange, for all three partial builders."""
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
        assert python_stages(df) == [["MapInArrow"]], name


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
    in-task fold; more: the tree) against the shuffle merge of the
    same partials (``merge_partials``)."""
    split = df.coalesce(1) if parts == 1 else df.repartition(parts)
    folded = build_sketches(split, keys, ALL_KINDS, readout=readout)
    if parts == 1:
        assert python_stages(folded) == [["MapInArrow"]]
    else:  # the tree adds one Exchange to the input's
        assert len(_exchanges(folded)) == len(_exchanges(split)) + 1
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
def test_tree_build_bitwise_equals_merge_partials(spark, pages_kinds,
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


def test_wide_builds_stay_lazy_and_shuffle_only_partials(
        spark, pages_tiny, pages_tiny_multifile):
    """Four partitions: ``build_sketches``, ``cms_heavy_hitters`` and a
    sized key Bloom run no job before their first action, and each
    plan holds ONE Exchange, whose input is the partial builder's
    output: only partial states shuffle. A ``repartition(4)`` input's
    count is read from its plan, so its shuffle does not run at call
    time either."""
    df = pages_tiny_multifile
    specs = [SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5}),
             SketchSpec("h", "hll", "url", {"b": 10})]
    calls = {
        "build_sketches": lambda: build_sketches(df, ["lang"], specs,
                                                 readout=READOUT[:1]),
        "cms_heavy_hitters": lambda: heavyhitters.cms_heavy_hitters(
            df, ["lang"], "text", k=3),
        "_key_bloom_merged_df": lambda: joinprune._key_bloom_merged_df(
            df, "url", 0.01, 10000, 0)[0],
    }
    for name, call in calls.items():
        jobs, out = _jobs(spark.sparkContext, f"lazy-{name}", call)
        assert jobs == [], name
        (below,) = _exchanges(out)
        # the grouping Project only repeats the partials' key columns
        while below.nodeName() in ("Exchange", "Project"):
            (below,) = _children(below)
        assert below.nodeName() == "MapInArrow", (name, below.toString())
        assert [s for s in python_stages(out) if s] == \
            [["FlatMapGroupsInArrow"], ["MapInArrow"]], name
    jobs, _out = _jobs(spark.sparkContext, "lazy-repartition",
                       lambda: build_sketches(pages_tiny.repartition(4),
                                              ["lang"], specs))
    assert jobs == []


def _bigint_keys(spark, parts):
    """(frame, 2**53): keys 2**53+1, 2**53+2 and null, 100 rows each,
    sharing every Arrow batch."""
    big = 2 ** 53
    return spark.range(0, 300, numPartitions=parts).select(
        F.when(F.col("id") % 3 > 0, F.lit(big) + F.col("id") % 3).alias("k"),
        F.col("id").cast("string").alias("url")), big


def _input_classes(spark, parts):
    """(frame keyed by ``k`` with values in ``url``, {key: rows}) per
    input class: bigint keys above 2**53 next to a null key; a double
    key holding NaN and null, which is ONE null group; an empty input;
    an all-null value column."""
    df, big = _bigint_keys(spark, parts)
    ids = spark.range(0, 300, numPartitions=parts)
    url = F.col("id").cast("string").alias("url")
    third = F.col("id") % 3
    return {
        "bigint": (df, {big + 1: 100, big + 2: 100, None: 100}),
        "nan_null": (ids.select(
            F.when(third == 0, F.lit(None).cast("double"))
            .when(third == 1, F.lit(math.nan))
            .otherwise(F.lit(2.0)).alias("k"), url), {None: 200, 2.0: 100}),
        "empty": (df.filter(F.col("k") < 0), {}),
        "all_null_values": (ids.select(
            (F.col("id") % 2).alias("k"),
            F.lit(None).cast("string").alias("url")), {0: 150, 1: 150}),
    }


@pytest.mark.parametrize("parts", [1, 4, 100])
def test_nullable_bigint_group_keys_stay_exact(spark, parts):
    """Each input class through the in-task (1 partition), tree (4)
    and salted tree (100) paths of ``build_sketches``, through
    ``cms_heavy_hitters`` and through ``bloom_validate``: keys above
    2**53 sharing Arrow batches with a null key stay exact (a float64
    reading would round the first and could merge distinct keys), a
    NaN key counts in the null group, and an empty input or an
    all-null value column builds without error."""
    specs = [SketchSpec("h", "hll", "url", {"b": 10}),
             SketchSpec("b", "bloom", "url", {"m": 1 << 12, "k": 3})]
    for name, (df, want) in _input_classes(spark, parts).items():
        out = build_sketches(df, ["k"], specs)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert {1: "MapInArrow" in plan and "Exchange" not in plan,
                4: plan.count("FlatMapGroupsInArrow") == 1,
                100: plan.count("FlatMapGroupsInArrow") > 1}[parts], \
            (name, plan)
        rows = out.collect()
        assert {r["k"]: r["n_rows"] for r in rows} == want, name
        # keys with a value: the heavy hitters' groups, and the rows
        # bloom_validate probes against each group's own filter
        valued = {} if name == "all_null_values" else want
        top = heavyhitters.cms_heavy_hitters(df, ["k"], "url", k=3).collect()
        assert {r["k"] for r in top} == set(valued), name
        filters = validate.collect_sketches(out, ["k"], "b")
        counts = validate.bloom_validate(df, filters, ["k"], "url",
                                         0.01).collect()
        assert {r["k"]: r["n_keys"] for r in counts} == valued, name
        assert all(r["false_negatives"] == 0 for r in counts), name


@pytest.mark.parametrize("parts", [1, 4])
def test_heavy_hitters_keep_nullable_bigint_group_keys_exact(spark, parts):
    """cms_heavy_hitters groups on the build's null-free key copy too:
    read as float64, 2**53+1 would come back as 2**53."""
    df, big = _bigint_keys(spark, parts)
    out = heavyhitters.cms_heavy_hitters(df, ["k"], "url", k=3)
    assert {r["k"] for r in out.collect()} == {big + 1, big + 2, None}


def test_folds_keep_a_null_key_next_to_an_all_null_readout(spark,
                                                           pages_kinds):
    """A null group key next to an all-null read-out column: the
    in-task fold (run here, in-process, over the build's Arrow batches)
    and a four-partition build both write ``merge_partials``' bytes."""
    keys, cols = ["g"], ["none"]
    readout = [("none", "double", lambda name, sk: None)]

    def tree(df):
        return _table(merge_partials(build_partials(df, keys, ALL_KINDS),
                                     keys, readout=readout), keys, cols)
    one, four = pages_kinds.coalesce(1), pages_kinds.repartition(4)
    sel, build_fn, _schema = build._partial_task(one, keys, ALL_KINDS)
    fold = build._fold_partials(keys, readout,
                                build._table_schema(one, keys, readout))
    in_task = pa.Table.from_batches(
        fold(build_fn(iter(sel.toArrow().to_batches()))))
    wide = build_sketches(four, keys, ALL_KINDS, readout=readout)
    assert _table(wide, keys, cols) == tree(four)
    assert {(str(r["g"]), r["sketch_name"]): (r["sketch"], r["n_rows"],
                                              r["n_partials"],
                                              repr(r["none"]))
            for r in in_task.to_pylist()} == tree(one)


@pytest.mark.parametrize("parts", [1, 4, 100])
def test_no_build_plan_holds_a_pandas_operator(spark, pages_tiny,
                                               monkeypatch, parts):
    """Every build, fold and merge entry point runs through Arrow
    operators (``mapInArrow``, ``applyInArrow``) on each merge path:
    none of its executed plans holds a ``mapInPandas`` or
    ``applyInPandas``."""
    df = (pages_tiny.coalesce(1) if parts == 1
          else pages_tiny.repartition(parts))
    specs = [SketchSpec("b", "bloom", "url", {"m": 1 << 12, "k": 3}),
             SketchSpec("h", "hll", "url", {"b": 8})]
    key_blooms = _record(monkeypatch, joinprune, "_key_bloom_merged_df",
                         pick=lambda result: result[0])
    table = build_sketches(df, ["lang"], specs)
    filters = validate.collect_sketches(table, ["lang"], "b")
    joinprune.build_key_bloom(df, "url", n_keys=10000)
    plans = [table, merge_partials(build_partials(df, ["lang"], specs),
                                   ["lang"]),
             rollup_sketches(table, ["lang"], []),
             incremental_update(table, df, ["lang"], specs),
             heavyhitters.cms_heavy_hitters(df, ["lang"], "text", k=3),
             validate.bloom_validate(df, filters, ["lang"], "url", 0.01),
             *key_blooms]
    ops = [set(sum(python_stages(out), [])) for out in plans]
    assert all(not found & PANDAS_NODES for found in ops), ops
    assert set().union(*ops) & {"MapInArrow", "FlatMapGroupsInArrow"}


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
    a, b = (t.select(F.col("sketch").alias(s))
            for t, s in zip(built, ("sa", "sb")))
    (sql,) = (a.crossJoin(b)  # one ungrouped sketch per side
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
    spectrum, the IVF centroid table) are LocalRelations built from
    Arrow, not Python RDDs whose rows a second pool of Python workers
    would unpickle. A checkpoint manifest makes no table at all: it is
    written through the Hadoop FS."""
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
    assert len(made) == 2 and all(_is_local(df) for df in made)


def test_fd_builds_fold_in_workers(spark):
    """An FD merge's SVD differs in its last bits with the BLAS thread
    count (one per Python worker, more on the driver), so a wider FD
    build merges in the workers' tree and writes its bytes."""
    emb = (spark.read.parquet(os.path.join(SF, "embeddings.parquet"))
           .select(F.lit(1).alias("g"), "embedding").repartition(4))
    spec = [SketchSpec("f", "fd", "embedding", {"l": 32})]
    out = build_sketches(emb, ["g"], spec)
    assert "FlatMapGroupsInArrow" in \
        out._jdf.queryExecution().executedPlan().toString()
    tree = merge_partials(build_partials(emb, ["g"], spec), ["g"])
    assert _table(out, ["g"]) == _table(tree, ["g"])
