"""Scale-true CMS heavy hitters vs exact token counts."""

import numpy as np
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Window

from sketchlib.core.cms import CountMinSketch
from sketchlib.spark.heavyhitters import SpaceSaving, cms_heavy_hitters


def _adversarial_streams(n_parts=8, n_hot=64, hot_cnt=300, hh_cnt=200, seed=9):
    """Per-partition token streams where 'HH' is the global top-1
    (n_parts*hh_cnt total) but NEVER locally top-n_hot: each partition
    has n_hot distinct locally-hot tokens (hot_cnt > hh_cnt each) that
    appear in only that partition."""
    rng = np.random.default_rng(seed)
    streams = []
    for p in range(n_parts):
        toks = (["HH"] * hh_cnt
                + [f"hot{p}_{j}" for j in range(n_hot) for _ in range(hot_cnt)])
        streams.append(list(rng.permutation(toks)))
    return streams


class TestSpaceSaving:
    def test_guarantee_freq_above_n_over_cap(self):
        streams = _adversarial_streams()
        for s in streams:
            ss = SpaceSaving(256)
            vals, counts = np.unique(s, return_counts=True)
            ss.add_batch(vals, counts)
            kept = {t for t, _, _ in ss.items()}
            # N_p/cap = 19400/256 = 75.8 < 200 = f_HH -> certified kept
            assert "HH" in kept
            # count upper bound >= true count
            d = dict((t, c) for t, c, _ in ss.items())
            assert d["HH"] >= 200

    def test_old_local_topc_heuristic_would_miss(self):
        """The round-1 nomination (local top-C by exact count) drops the
        globally-heavy token in EVERY partition of the adversarial
        spread — the failure SpaceSaving's certificate closes."""
        for s in _adversarial_streams():
            vals, counts = np.unique(s, return_counts=True)
            order = np.argsort(-counts, kind="stable")
            top_c = set(vals[order[:64]])
            assert "HH" not in top_c  # 64 local-hot tokens beat it

    def test_streaming_order_and_eviction(self):
        ss = SpaceSaving(4)
        for t, c in [("a", 5), ("b", 3), ("c", 2), ("d", 1),
                     ("e", 1), ("a", 2), ("e", 1)]:
            ss.add(t, c)
        items = dict((t, (c, e)) for t, c, e in ss.items())
        assert len(items) == 4
        assert items["a"][0] == 7 and items["a"][1] == 0  # never evicted
        # total count mass is conserved
        assert sum(c for c, _ in items.values()) == 15

    def test_merged_cms_ranks_hh_first(self):
        streams = _adversarial_streams()
        cms = CountMinSketch(16384, 5)
        cands = set()
        for s in streams:
            ss = SpaceSaving(256)
            vals, counts = np.unique(s, return_counts=True)
            cms.update_batch(vals, counts)
            ss.add_batch(vals, counts)
            cands |= {t for t, _, _ in ss.items()}
        cl = sorted(cands)
        est = cms.query_batch(cl)
        top = cl[int(np.argmax(est))]
        assert top == "HH"
        assert int(est[cl.index("HH")]) >= 8 * 200


def test_adversarial_spread(spark):
    """End-to-end: globally-heavy-but-nowhere-locally-top token is found
    as global #1 through the full Spark path."""
    streams = _adversarial_streams()
    rows = []
    for p, s in enumerate(streams):
        for off in range(0, len(s), 20):
            rows.append((p, " ".join(s[off:off + 20])))
    df = (spark.createDataFrame(rows, "pid int, text string")
          .repartition(8, "pid").withColumn("lang", F.lit("xx")))
    hh = cms_heavy_hitters(df, ["lang"], "text", k=5).collect()
    top1 = [r for r in hh if r["rnk"] == 1][0]
    assert top1["token"] == "HH", hh
    assert top1["est_cnt"] >= 1600


def test_heavy_hitters_match_exact_topk(spark, pages_tiny_multifile):
    pages = pages_tiny_multifile
    hh = cms_heavy_hitters(pages, ["lang"], "text", k=5).collect()
    exact = (pages.select("lang", F.explode(F.split("text", " ")).alias("t"))
             .groupBy("lang", "t").count())
    w = Window.partitionBy("lang").orderBy(F.desc("count"), F.asc("t"))
    top_exact = (exact.withColumn("r", F.row_number().over(w))
                 .filter("r <= 5").collect())
    exact_sets = {}
    exact_counts = {}
    for r in top_exact:
        exact_sets.setdefault(r["lang"], set()).add(r["t"])
        exact_counts[(r["lang"], r["t"])] = r["count"]
    got = {}
    for r in hh:
        got.setdefault(r["lang"], set()).add(r["token"])
        # overestimate-only, tight at this scale
        true = exact_counts.get((r["lang"], r["token"]))
        if true is not None:
            assert r["est_cnt"] >= true
            assert r["est_cnt"] - true <= 0.01 * true + 50
    # Zipf head: the estimated top-5 equals the exact top-5 per lang
    assert got == exact_sets


def test_heavy_hitters_no_token_shuffle(spark, pages_tiny,
                                       pages_tiny_multifile):
    # no raw token ever shuffles: one partition folds in the build task
    # (no exchange); four shuffle only their partial states, through
    # one exchange
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    one = plan(cms_heavy_hitters(pages_tiny, ["lang"], "text", k=5))
    assert one.count("Exchange") == 0 and "MapInArrow" in one, one
    four = plan(cms_heavy_hitters(pages_tiny_multifile, ["lang"], "text", k=5))
    assert four.count("Exchange") == 1, four


def test_heavy_hitters_flush_preserves_topk(spark, pages_tiny_multifile,
                                            monkeypatch):
    """SKETCHLIB_MAX_GROUPS_IN_FLIGHT=1 + tiny arrow batches: flushed
    partial states must yield the SAME top-k as the unbounded run (CMS
    add and candidate-union are order-free; certification survives
    chunking by pigeonhole)."""
    def run():
        return sorted((r["lang"], r["token"], r["est_cnt"], r["rnk"])
                      for r in cms_heavy_hitters(
                          pages_tiny_multifile, ["lang"], "text",
                          k=5).collect())
    unbounded = run()
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "29")
    monkeypatch.setenv("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "1")
    try:
        assert run() == unbounded
    finally:
        spark.conf.set(key, old)


def test_null_group_key_one_partial_per_partition(spark):
    """A null numeric group key spanning many Arrow batches keeps ONE
    CMS + SpaceSaving slot per partition, like every other group."""
    from sketchlib.spark.heavyhitters import _token_partials
    rows = [(None if i % 4 == 0 else i % 3,
             " ".join(["hot"] * (i % 5 + 1) + [f"t{i % 7}"]))
            for i in range(200)]
    df = spark.createDataFrame(rows, "g int, text string")
    sel, build, _schema = _token_partials(df, ["g"], "text", 256, 16384, 5,
                                          0, True, 8192)
    # the partition's Arrow batches as the build sees them: 10 rows
    # each, the nullable int key an int32 column with nulls
    table = sel.toArrow()
    assert pa.types.is_int32(table.schema.field("g").type)
    partials = pa.Table.from_batches(list(build(iter(
        table.to_batches(max_chunksize=10)))))
    assert partials.num_rows == 4  # groups 0, 1, 2 and null
    assert partials["g"].null_count == 1

    def run(d):
        return sorted(((r["g"] is None, r["g"] or 0), r["token"],
                       r["est_cnt"], r["rnk"])
                      for r in cms_heavy_hitters(d, ["g"], "text",
                                                 k=3).collect())
    default = run(df.coalesce(1))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "10")
    try:
        # the fused fold (one partition) and the shuffle merge agree
        assert run(df.coalesce(1)) == run(df.repartition(3)) == default
    finally:
        spark.conf.set(key, old)


def test_max_groups_in_flight_below_one_refused(spark, pages_tiny,
                                                 monkeypatch):
    """cms_heavy_hitters validates its state bound like build_partials:
    both resolve it through one helper."""
    import pytest
    from sketchlib.spark.build import build_partials
    from sketchlib.spark.specs import SketchSpec
    monkeypatch.setenv("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "0")
    with pytest.raises(ValueError, match="SKETCHLIB_MAX_GROUPS_IN_FLIGHT"):
        cms_heavy_hitters(pages_tiny, ["lang"], "text", k=5)
    with pytest.raises(ValueError, match="SKETCHLIB_MAX_GROUPS_IN_FLIGHT"):
        build_partials(pages_tiny, ["lang"],
                       [SketchSpec("h", "hll", "text")])
