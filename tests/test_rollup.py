"""Sketch-merge rollup (DataFrame + SQL paths) and the round-2 query
catalog additions."""

import numpy as np
import pyspark.sql.functions as F

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.build import build_sketches, rollup_sketches
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.sqlfuncs import register_sql_functions

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_rollup_bitwise_identity_lattice(spark):
    """HLL rolled up from (lang, source) to lang is bitwise-identical to
    one built directly per lang — register max is a lattice join, so
    the split key cannot matter."""
    docs = _docs(spark)
    spec = [SketchSpec("h", "hll", "text", {"b": 12})]
    fine = build_sketches(docs, ["lang", "source"], spec)
    rolled = {r["lang"]: bytes(r["sketch"])
              for r in rollup_sketches(fine, ["lang", "source"], ["lang"]).collect()}
    direct = {r["lang"]: bytes(r["sketch"])
              for r in build_sketches(docs, ["lang"], spec).collect()}
    assert rolled == direct


def test_rollup_preserves_counts(spark):
    docs = _docs(spark)
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("c", "cms", "text", {"w": 1024, "d": 3},
                                      tokenize=True)])
    rolled = rollup_sketches(fine, ["lang", "source"], ["lang"]).collect()
    n_rows = {r["lang"]: r["n_rows"] for r in rolled}
    exact = {r["lang"]: r["cnt"] for r in
             docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert n_rows == exact


def test_rollup_quantile_sketches_bounds_hold(spark):
    """KLL/t-digest rolled up from (lang, source) to lang: still valid
    merged sketches, quantile estimates within rank-error of exact."""
    from sketchlib.core.serde import sketch_from_bytes as sfb
    docs = _docs(spark)
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("k", "kll", "n_chars", {"k": 256}),
                           SketchSpec("t", "tdigest", "n_chars", {"delta": 300})])
    rolled = rollup_sketches(fine, ["lang", "source"], ["lang"]).collect()
    exact = {r["lang"]: r["p50"] for r in docs.groupBy("lang").agg(
        F.expr("percentile(n_chars, 0.5)").alias("p50")).collect()}
    ranks = {r["lang"]: r for r in docs.groupBy("lang").agg(
        F.count("*").alias("n")).collect()}
    for r in rolled:
        sk = sfb(bytes(r["sketch"]))
        est = float(sk.quantile(0.5))
        n = ranks[r["lang"]]["n"]
        # rank of the estimate must be within ~5% of 0.5 (generous for
        # tiny groups); value comparison is distribution-dependent
        vals = [x["n_chars"] for x in
                docs.filter(F.col("lang") == r["lang"]).select("n_chars").collect()]
        import numpy as _np
        rank = (_np.asarray(vals) <= est).mean()
        assert abs(rank - 0.5) < 0.08, (r["lang"], r["sketch_name"], est,
                                        exact[r["lang"]], rank, n)


def test_rollup_incompatible_params_clear_error(spark):
    """Per-group-calibrated Bloom states cannot roll up across the
    dropped key — the error must say so, not just 'cannot merge'."""
    import pytest
    from sketchlib.spark.build import calibrate, bloom_params_by_group
    docs = _docs(spark)
    bp = bloom_params_by_group(calibrate(docs, ["lang", "source"]), 0.01)
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("b", "bloom", "text",
                                      per_group_params=bp)])
    with pytest.raises(Exception, match="incompatible params"):
        rollup_sketches(fine, ["lang", "source"], ["lang"]).collect()


def test_rollup_rejects_bad_cols(spark):
    docs = _docs(spark)
    fine = build_sketches(docs, ["lang"], [SketchSpec("h", "hll", "text", {"b": 10})])
    import pytest
    with pytest.raises(ValueError):
        rollup_sketches(fine, ["lang"], ["source"])


def test_sql_sketch_merge_matches_dataframe_rollup(spark):
    """The SQL aggregation path (sketch_merge over collect_list) produces
    byte-identical rollups for lattice sketches."""
    register_sql_functions(spark)
    docs = _docs(spark)
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("h", "hll", "text", {"b": 12})])
    fine.createOrReplaceTempView("sk_fine_t")
    sql_rolled = {r["lang"]: bytes(r["merged"]) for r in spark.sql(
        "SELECT lang, sketch_merge(collect_list(sketch)) AS merged "
        "FROM sk_fine_t WHERE sketch_name = 'h' GROUP BY lang").collect()}
    df_rolled = {r["lang"]: bytes(r["sketch"]) for r in
                 rollup_sketches(fine, ["lang", "source"], ["lang"]).collect()}
    assert sql_rolled == df_rolled
    # and the estimates are queryable straight from SQL
    est = {r["lang"]: r["est"] for r in spark.sql(
        "SELECT lang, sketch_estimate(sketch_merge(collect_list(sketch))) "
        "AS est FROM sk_fine_t WHERE sketch_name = 'h' GROUP BY lang").collect()}
    exact = {r["lang"]: r["n"] for r in
             docs.groupBy("lang").agg(
                 F.countDistinct("text").alias("n")).collect()}
    for lang, n in exact.items():
        assert abs(est[lang] - n) / max(n, 1) < 0.1


def test_query_hll_rollup_matches_direct(spark):
    from sketchlib.spark import queries as Q
    roll = {r["lang"]: r["n_distinct_est"]
            for r in Q.q_hll_rollup_lang(spark, SF).collect()}
    direct = {r["lang"]: r["n_distinct_est"]
              for r in Q.q_hll_distinct_lang(spark, SF).collect()}
    assert roll == direct  # bitwise-identical states -> identical estimates


def _pairs(rows, col):
    return {(r["type_a"], r["type_b"]): r[col] for r in rows}


def test_query_theta_difference_vs_exact(spark):
    from sketchlib.spark import queries as Q
    est = _pairs(Q.q_sketch_set_algebra(spark, SF).collect(), "n_only_a_est")
    exact = _pairs(Q.q_user_difference_exact(spark, SF).collect(), "n_only_a")
    assert set(est) == set(exact)
    for pair, n in exact.items():
        # sf0.001 user sets are far below k=4096 -> theta is exact
        assert est[pair] == n, (pair, est[pair], n)


def test_query_bloom_membership_distributed(spark):
    from sketchlib.spark import queries as Q
    df = Q.q_bloom_membership(spark, SF)
    rows = df.collect()
    langs = {r["filter_lang"] for r in rows}
    assert len(rows) == 50 * len(langs)
    # zero false negatives: every true member must be found
    assert all(r["is_member"] for r in rows if r["true_member"])
    # the probe is a distributed plan (mapInPandas), not a driver loop
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_cms_conservative_via_spec(spark):
    """conservative=True flows through SketchSpec -> build -> serde ->
    merge; merged estimates stay overestimate-only and are no looser
    than the plain-update build."""
    from sketchlib.spark.validate import collect_sketches
    docs = _docs(spark)
    spec = lambda name, cu: SketchSpec(
        name, "cms", "text", {"w": 64, "d": 3, "conservative": cu},
        tokenize=True)
    both = build_sketches(docs, ["lang"], [spec("cons", True),
                                           spec("plain", False)])
    cons = collect_sketches(both, ["lang"], "cons")
    plain = collect_sketches(both, ["lang"], "plain")
    exact = (docs.select("lang", F.explode(
                 F.filter(F.split("text", " "), lambda x: x != "")).alias("t"))
             .groupBy("lang", "t").count().collect())
    by_lang: dict = {}
    for r in exact:
        by_lang.setdefault(r["lang"], []).append((r["t"], r["count"]))
    tot_cons = tot_plain = 0
    for lang, pairs in by_lang.items():
        toks = [t for t, _ in pairs]
        true = np.array([c for _, c in pairs], dtype=np.int64)
        e_cons = cons[lang].query_batch(toks)
        e_plain = plain[lang].query_batch(toks)
        assert cons[lang].conservative  # survived serde round-trip
        assert (e_cons >= true).all()
        assert (e_cons <= e_plain).all()
        tot_cons += int(e_cons.sum())
        tot_plain += int(e_plain.sum())
    assert tot_cons < tot_plain  # strictly tighter overall


def test_query_cms_top_tokens_decircularized(spark):
    from sketchlib.spark import queries as Q
    rows = Q.q_cms_top_tokens(spark, SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["est_cnt"] >= r["exact_cnt"]  # overestimate-only
        assert r["est_cnt"] - r["exact_cnt"] <= 0.02 * r["exact_cnt"] + 60


def test_rollup_to_global_empty_keys(spark, pages_tiny):
    """to_cols=[] merges EVERYTHING per sketch_name — the 'all groups
    combined' rollup; estimate matches a direct global build."""
    from sketchlib.spark.build import build_sketches, rollup_sketches
    from sketchlib.spark.specs import SketchSpec
    import pyspark.sql.functions as F
    fine = build_sketches(pages_tiny, ["lang"],
                          [SketchSpec("h", "hll", "url", {"b": 12})])
    rolled = rollup_sketches(fine, ["lang"], [])
    rows = rolled.collect()
    assert len(rows) == 1 and rows[0]["sketch_name"] == "h"
    direct = build_sketches(
        pages_tiny.withColumn("g", F.lit(1)), ["g"],
        [SketchSpec("h", "hll", "url", {"b": 12})]).collect()
    assert bytes(rows[0]["sketch"]) == bytes(direct[0]["sketch"])


def test_query_kll_readout_single_python_boundary(spark):
    """The quantile+CDF read-out row must ride ONE ArrowEvalPython
    stage (round-5: the round-4 filter+join of scalar UDF columns paid
    ~3 Arrow round-trips)."""
    from sketchlib.spark import queries as Q
    df = Q.q_kll_quantiles_nchars(spark, SF)
    rows = df.collect()
    assert {len(r) for r in rows} == {7}
    plan = df._jdf.queryExecution().executedPlan().toString() \
        .split("Initial Plan")[0]
    assert plan.count("ArrowEvalPython") <= 1
    # CDF shares land near the exact shares (rank error bound)
    exact = {r["lang"]: (r["share_le_200"], r["share_le_500"])
             for r in Q.q_short_doc_share_lang(spark, SF).collect()}
    for r in rows:
        assert abs(r["share_le_200"] - exact[r["lang"]][0]) < 0.05
        assert abs(r["share_le_500"] - exact[r["lang"]][1]) < 0.05


def test_sketch_set_algebra_matches_component_queries(spark):
    """Every column of the set-algebra entry against its exact
    companion: theta (k=4096, exact below k) columns equal the exact
    overlap and Jaccard; the HLL containment stays within a stated
    bound of the exact inclusion coefficient."""
    from sketchlib.spark import queries as Q
    merged = Q.q_sketch_set_algebra(spark, SF).collect()
    ov = _pairs(Q.q_user_overlap_exact(spark, SF).collect(), "n_shared")
    jac = _pairs(Q.q_user_jaccard_exact(spark, SF).collect(), "jaccard")
    contain = _pairs(Q.q_user_containment_exact(spark, SF).collect(),
                     "containment")
    assert ov and set(ov) == set(jac)
    shared_est = _pairs(merged, "n_shared_est")
    jac_est = _pairs(merged, "jaccard_est")
    for k in ov:  # the exact overlap/Jaccard use type_a < type_b only
        assert (shared_est[k], jac_est[k]) == (ov[k], jac[k]), k
    # containment = (|A| + |B| - |A u B|) / |A| from three HLL
    # estimates, each within 3 sigma = 3 * 1.04 / sqrt(2^13) relative
    # error (b=13); worst case the three errors add
    n = {r["event_type"]: r["n"] for r in
         spark.read.parquet(f"{SF}/events.parquet").groupBy("event_type")
         .agg(F.countDistinct("user_id").alias("n")).collect()}
    sigma3 = 3 * 1.04 / np.sqrt(2 ** 13)
    est = _pairs(merged, "containment_est")
    assert set(est) == set(contain)
    for (a, b), c in contain.items():
        n_union = n[a] + n[b] - c * n[a]
        tol = sigma3 * (n[a] + n[b] + n_union) / n[a] + 1e-4  # + rounding
        assert abs(est[(a, b)] - c) <= tol, ((a, b), est[(a, b)], c, tol)


def test_rollup_fused_readout(spark):
    """readout= on rollup_sketches: estimate columns extracted in the
    rollup's own merge task match a post-hoc read of the blob."""
    docs = _docs(spark)
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("h", "hll", "text", {"b": 12})])
    rd = [("est", "double", lambda _n, sk: float(sk.estimate()))]
    out = rollup_sketches(fine, ["lang", "source"], ["lang"],
                          readout=rd).collect()
    assert out
    for r in out:
        assert r["est"] == float(
            sketch_from_bytes(bytes(r["sketch"])).estimate())
