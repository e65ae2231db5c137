"""Query catalog over the driver-provided testdata tables.

Two families (SURVEY.md §5 "driver contract"):
- exact queries — SQL-expressible, oracle-checked against DuckDB by
  the driver at sf0.01; these are the exact companions of each sketch
  (calibration counts, exact distinct, exact quantiles, exact heavy
  hitters, exact dedup/Jaccard, brute-force ANN).
- sketch queries — estimates from our mergeable sketches; not
  reproducible in DuckDB (rows-only check), each paired with an exact
  companion above so accuracy is externally checkable.

Every computed column is aliased identically to its oracle SQL
counterpart (driver hashes values after sorting columns by name).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
import pyspark.sql.functions as F
from pyspark.sql.types import StructType

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.build import (calibrate, bloom_params_by_group,
                                   build_sketches)
from sketchlib.spark.dfutil import local_table
from sketchlib.spark.validate import collect_sketches, bloom_validate
from sketchlib.spark import sqlfuncs, textops

BLOOM_P = 0.01


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# exact queries (oracle-checked)
# ---------------------------------------------------------------------------

def q_calib_counts_lang(spark, sf_dir):
    """Stage-1 calibration: n per group (ref spark/main.py:113)."""
    return (load(spark, sf_dir, "documents")
            .groupBy("lang").agg(F.count("*").alias("n_docs")))


def q_distinct_texts_lang(spark, sf_dir):
    """Exact companion of the HLL query."""
    return (load(spark, sf_dir, "documents")
            .groupBy("lang").agg(F.countDistinct("text").alias("n_distinct")))


def q_distinct_users_daily(spark, sf_dir):
    """Exact distinct users per event_type x day (HLL companion #2)."""
    ev = load(spark, sf_dir, "events")
    return (ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
            .groupBy("event_type", "day")
            .agg(F.countDistinct("user_id").alias("n_users")))


def q_quantiles_nchars_lang(spark, sf_dir):
    """Exact companion of KLL/t-digest quantiles."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.round(F.expr("percentile(n_chars, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99"))


def q_quantiles_value_event(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"))


def q_heavy_tokens_lang(spark, sf_dir):
    """Exact companion of the CMS heavy-hitter query: top-10 tokens per
    lang, ties broken lexicographically."""
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    counts = (d.select("lang", F.explode(toks).alias("token"))
              .groupBy("lang", "token").agg(F.count("*").alias("cnt")))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("token"))
    return (counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 10)
            .select("lang", "token", "cnt", "rnk"))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup groups over documents (md5 grouping)."""
    return textops.exact_dedup_groups(load(spark, sf_dir, "documents"),
                                      "doc_id", "text")


def q_token_counts(spark, sf_dir):
    return textops.token_counts(load(spark, sf_dir, "documents"),
                                "doc_id", "text")


def q_token_counts_bpe(spark, sf_dir):
    """BPE-ish pre-tokenizer piece counts (LLM token-budget proxy),
    JVM-side regexp — same lookahead-free pattern runs in the DuckDB
    oracle."""
    return textops.token_counts_bpe(load(spark, sf_dir, "documents"),
                                    "doc_id", "text")


def q_pii_scrub(spark, sf_dir):
    """Curation scrub over documents (emails/phones/IPv4 -> typed
    placeholders); oracle-checked against DuckDB with the identical
    lookahead-free patterns. PII-laden inputs are covered by pytest
    fixtures (the driver corpus is synthetic clean text)."""
    return textops.pii_scrub(load(spark, sf_dir, "documents"),
                             "doc_id", "text")


def q_quality_scores(spark, sf_dir):
    return textops.quality_scores(load(spark, sf_dir, "documents"),
                                  "doc_id", "text")


def q_repetition_scores(spark, sf_dir):
    """Gopher-style within-doc repetition gates (dup-line fraction,
    top-bigram share) — fully oracle-checked; newline-bearing and
    degenerate-repetition inputs covered by pytest fixtures."""
    return textops.repetition_scores(load(spark, sf_dir, "documents"),
                                     "doc_id", "text")


def q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact word-3-gram Jaccard >= 0.5 pairs (MinHash-LSH companion)."""
    return textops.ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                                       "doc_id", "text", n=3, threshold=0.5)


def q_hash_split_counts(spark, sf_dir):
    """Deterministic train/val/test split (engine-stable md5 buckets),
    summarized as per-(lang, split) counts — the reproducible-split
    primitive every training pipeline needs; fully oracle-checked."""
    from sketchlib.spark.sampling import hash_split
    docs = load(spark, sf_dir, "documents")
    split = hash_split(docs, "doc_id",
                       {"train": 0.9, "val": 0.05, "test": 0.05}, seed=7)
    return (split.groupBy("lang", "split")
            .agg(F.count("*").alias("n_docs")))


def q_corpus_curation(spark, sf_dir):
    """End-to-end training-data curation pipeline in ONE declarative
    plan: exact dedup (keep min doc_id per md5) -> quality gate
    (>= 5 tokens, distinct-token ratio >= 0.3) -> language ID (drop
    'und') -> per-doc token budget. The composition every corpus
    pipeline runs; fully SQL-expressible, so the whole chain is
    oracle-checked end-to-end."""
    docs = load(spark, sf_dir, "documents")
    keep = (textops.exact_dedup_groups(docs, "doc_id", "text")
            .select(F.col("keep_id").alias("doc_id")))
    kept = docs.join(keep, "doc_id")
    q = textops.quality_scores(kept, "doc_id", "text")
    lang = textops.langid_heuristic(kept, "doc_id", "text")
    bpe = textops.token_counts_bpe(kept, "doc_id", "text")
    return (q.join(lang, "doc_id").join(bpe, "doc_id")
            .filter((F.col("n_tokens") >= 5) & (F.col("uniq_ratio") >= 0.3)
                    & (F.col("lang_pred") != "und"))
            .select("doc_id", "lang_pred", "n_tokens", "n_bpe_tokens",
                    "uniq_ratio"))


def q_dedup_clusters(spark, sf_dir):
    """Connected components over the exact n-gram-Jaccard pair graph:
    (doc_id, cluster_id=min reachable id) — the keep-one-per-cluster
    step that completes the dedup ladder. Oracle = DuckDB recursive-CTE
    transitive closure over the identical pair list."""
    pairs = textops.ngram_jaccard_pairs(load(spark, sf_dir, "documents"),
                                        "doc_id", "text", n=3, threshold=0.5)
    return textops.dedup_clusters(pairs)


def q_dedup_clusters_minhash(spark, sf_dir):
    """The SCALE-PATH dedup pipeline end-to-end: MinHash-LSH candidate
    pairs -> pointer-jumping connected components -> one keep row per
    cluster. Rows-only (signatures are estimator-based); the exact
    twin is q_dedup_clusters over the n-gram-Jaccard graph, and the
    LSH pair generator's recall vs exact is test-enforced. At 10^12
    docs this chain never goes all-pairs: banded equi-joins for
    candidates, O(log diameter) label rounds for clusters."""
    pairs = textops.minhash_lsh_pairs(load(spark, sf_dir, "documents"),
                                      "doc_id", "text", threshold=0.5)
    clusters = textops.dedup_clusters(pairs)
    # cluster_id IS min(doc_id) over the cluster by construction
    # (min-label propagation) — reuse it as keep_id rather than
    # re-aggregating a value that cannot differ
    # no >=2 filter needed: dedup_clusters only emits nodes that
    # appear in the pair graph, so every cluster has >= 2 members
    return (clusters.groupBy("cluster_id")
            .agg(F.count("*").alias("cluster_size"))
            .select(F.col("cluster_id"), "cluster_size",
                    F.col("cluster_id").alias("keep_id")))


def q_fd_embedding_spectrum(spark, sf_dir):
    """Covariance spectrum of the embedding corpus from ONE fixed-size
    mergeable state (frequent directions): top-5 squared singular
    values + the sketch's spectral error bound. The one-pass input to
    PCA whitening / IVF seeding at 10^12 rows; accuracy vs the exact
    eigenvalues is test-enforced (test_fd)."""
    emb = (load(spark, sf_dir, "embeddings")
           .select(F.lit(1).alias("g"), "embedding"))
    merged = build_sketches(
        emb, ["g"], [SketchSpec("f", "fd", "embedding", {"l": 32})],
        readout=[sqlfuncs.readout("spectrum", sqlfuncs.fd_spectrum, 5)])
    return (merged.select(F.posexplode("spectrum").alias("rnk", "sq_singular"))
            .select((F.col("rnk") + 1).alias("rnk"), "sq_singular"))


def q_props_json_stats(spark, sf_dir):
    """Semi-structured extraction: parse the events table's JSON
    ``props`` column JVM-side (``get_json_object``, whole-stage
    codegen — the in-row companion of the file-level JSON source
    reader) and aggregate the extracted field per event_type.
    Fully oracle-checked against DuckDB's json_extract_string."""
    ev = load(spark, sf_dir, "events")
    # try_cast: NULL on non-integer k (ANSI cast would error), matching
    # the oracle's TRY_CAST
    k = F.get_json_object("props", "$.k").try_cast("long")
    return (ev.groupBy("event_type")
            .agg(F.count(k).alias("n_with_k"),
                 F.sum(k).alias("sum_k"),
                 F.round(F.avg(k), 4).alias("avg_k")))


def q_label_centroids(spark, sf_dir):
    """Per-label mean embedding (class prototypes), fully distributed:
    posexplode to (label, pos, v) then partial-aggregated avg — the
    exact, SQL-expressible companion of IVF centroid training (shuffle
    carries #labels x dim partial sums, never vectors). 1-based pos
    matches the oracle's generate_subscripts."""
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos0", "v"))
    return (ex.groupBy(F.col("label"), (F.col("pos0") + 1).alias("pos"))
            .agg(F.round(F.avg(F.col("v").cast("double")), 4)
                 .alias("centroid_v")))


def q_embedding_spectrum_exact(spark, sf_dir):
    """EXACT top-5 squared singular values of the embedding matrix —
    the in-catalog accuracy companion of q_fd_embedding_spectrum.

    Distributed shape: one d x d Gram partial (A'A) per input
    partition from mapInPandas, reduced JVM-side (posexplode ->
    groupBy(pos).sum — d^2 rows cross the wire, never vectors),
    eigendecomposed on the driver (d x d is tiny). At 10^12 rows this
    is one scan + a d^2-row shuffle; the FD sketch answers the same
    question from a mergeable fixed-size state without the scan.
    Values rounded to 2 decimals so float-sum jitter cannot flap the
    driver's value-hash check.
    """
    from collections.abc import Iterator
    import numpy as np
    emb = load(spark, sf_dir, "embeddings").select("embedding")
    schema = StructType.fromDDL("rnk int, sq_singular double")
    row = emb.first()  # dim probe only; schema says array<float>, not len
    if row is None:
        return local_table(spark, pd.DataFrame(columns=schema.names), schema)
    dim = len(row["embedding"])

    def gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        g = _np.zeros((dim, dim), dtype=_np.float64)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            mat = _np.stack(pdf["embedding"].to_numpy()).astype(_np.float64)
            g += mat.T @ mat
            any_rows = True
        if any_rows:
            yield pd.DataFrame({"gram": [g.reshape(-1)]})

    summed = (emb.mapInPandas(gram, "gram array<double>")
              .select(F.posexplode("gram").alias("pos", "v"))
              .groupBy("pos").agg(F.sum("v").alias("v")).collect())
    g = np.zeros(dim * dim)
    for r in summed:
        g[r["pos"]] = r["v"]
    evals = np.linalg.eigvalsh(g.reshape(dim, dim))[::-1][:5]
    return local_table(spark, pd.DataFrame({
        "rnk": range(1, len(evals) + 1),
        "sq_singular": [round(float(v), 2) for v in evals]}), schema)


def _embedding_dim(emb):
    """Dimension probe with an empty-table guard (first() is None on
    an empty embeddings table — a clean error beats a TypeError)."""
    row = emb.select("embedding").first()
    if row is None:
        raise ValueError("embeddings table is empty")
    return len(row["embedding"])


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for query vectors vec_id < 10.

    JVM-side vector math: zip_with + aggregate (no Python). At scale
    the query side is broadcast; the scan side streams.

    KEPT JVM-side deliberately (r6): a numpy scorer kernel was ~1.2s
    faster in a fresh session, but any sizable variable-length column
    crossing the Python boundary measurably degrades EVERY later
    JVM->Python Arrow transfer in the session (measured 7s -> 28s on a
    100M-row long-column stage after one 20k-row embedding batch; see
    OPTIMIZATION_r06.md "Arrow-transfer degradation"), and this query
    runs early in the bench suite — the kernel's local win cost the
    17 downstream queries far more than it saved.
    """
    emb = load(spark, sf_dir, "embeddings")
    withnorm = emb.select(
        "vec_id", "embedding",
        F.sqrt(F.aggregate(F.transform("embedding",
                                       lambda x: x.cast("double") * x.cast("double")),
                           F.lit(0.0), lambda a, v: a + v)).alias("norm"))
    q = (withnorm.filter(F.col("vec_id") < 10)
         .select(F.col("vec_id").alias("q_id"),
                 F.col("embedding").alias("q_emb"),
                 F.col("norm").alias("q_norm")))
    n = (withnorm.select(F.col("vec_id").alias("nbr_id"),
                         F.col("embedding").alias("n_emb"),
                         F.col("norm").alias("n_norm")))
    dot = F.aggregate(
        F.zip_with("q_emb", "n_emb",
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a, v: a + v)
    pairs = (n.crossJoin(F.broadcast(q))
             .filter(F.col("q_id") != F.col("nbr_id"))
             .withColumn("score", dot / (F.col("q_norm") * F.col("n_norm"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 5)
            .select("q_id", "nbr_id", "rnk", F.round("score", 3).alias("score")))


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style exact aggregation (partial-agg cross-check)."""
    li = load(spark, sf_dir, "lineitem")
    return (li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.count("*").alias("count_order")))


def q_bloom_semijoin(spark, sf_dir):
    """Bloom-pruned join (the reference's build+probe as join pruning).

    A filter built from the filtered orders side prunes lineitem before
    the exact join; false positives are removed by the join itself, so
    the result hash-matches the plain-join oracle while only
    ~(match_rate + p) of lineitem rows reach the shuffle. The filter
    blob is persistable — see sketchlib/spark/joinprune.py scale notes.
    """
    from sketchlib.spark.joinprune import bloom_semijoin
    orders = (load(spark, sf_dir, "orders")
              .filter((F.col("o_orderdate") >= F.lit("1996-01-01")) &
                      (F.col("o_orderdate") < F.lit("1996-04-01")))
              .select("o_orderkey", "o_orderpriority"))
    li = load(spark, sf_dir, "lineitem").select("l_orderkey",
                                                "l_extendedprice")
    joined = bloom_semijoin(li, "l_orderkey", orders, "o_orderkey", p=0.01)
    return (joined.groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_items"),
                 F.round(F.sum("l_extendedprice"), 2).alias("revenue")))


def q_join_size_exact(spark, sf_dir):
    """Exact companion of the CMS join-size estimate."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey")
    return (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .agg(F.count("*").alias("join_rows")))


def q_cms_join_size(spark, sf_dir):
    """Planner-grade equi-join size estimate from two fixed-size CMS
    states over the join keys (inner product, overestimate-only) —
    answers 'how big is lineitem ⋈ orders' without running the join.
    Exact companion: join_size_exact. At 10^12 rows each side is one
    partial-build pass; the estimate itself is O(w*d)."""
    params = {"w": 1 << 19, "d": 3}
    # measured r6: a (key, count) pre-aggregate before the weighted
    # build and input coalescing both came out ~equal to this raw
    # per-partition build (the dense 1.5M-cell partial states dominate,
    # not the key hashing) — kept as-is deliberately
    li = (load(spark, sf_dir, "lineitem")
          .select(F.lit(1).alias("g"), "l_orderkey"))
    orders = (load(spark, sf_dir, "orders")
              .select(F.lit(1).alias("g"), "o_orderkey"))
    # the inner product runs on the driver, not as a UDF chained after
    # the builds' Python operators: each side is one row whose blob is
    # at most w*d*8 bytes (12 MiB here), known from params before any job
    a, b = (build_sketches(t, ["g"], [SketchSpec(n, "cms", c, params)])
            .select("sketch").collect()
            for n, t, c in (("a", li, "l_orderkey"),
                            ("b", orders, "o_orderkey")))
    est = [F.lit(sqlfuncs.cms_join_size.read(
        sketch_from_bytes(bytes(x["sketch"])),
        sketch_from_bytes(bytes(y["sketch"])))) for x in a for y in b]
    # literals, not createDataFrame: rows from a Python list are
    # unpickled by Python workers (a second worker pool)
    return spark.range(1).select(
        F.explode(F.array(*est).cast("array<long>")).alias("join_rows_est"))


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3-style multi-table join: customer (filtered dim,
    broadcast) ⨝ orders ⨝ lineitem, grouped revenue, top-10. Exercises
    Catalyst join planning over the star schema — dimension filters
    push into the scans, the small filtered side broadcasts."""
    cust = (load(spark, sf_dir, "customer")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load(spark, sf_dir, "orders")
              .filter(F.col("o_orderdate") < F.lit("1998-01-01"))
              .select("o_orderkey", "o_custkey", "o_orderdate",
                      "o_orderpriority"))
    li = (load(spark, sf_dir, "lineitem")
          .filter(F.col("l_shipdate") > F.lit("1998-01-01"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    rev = (li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
           .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
           .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.round(F.sum(F.col("l_extendedprice")
                              * (1 - F.col("l_discount"))), 2).alias("revenue")))
    return (rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)
            .select("l_orderkey",
                    F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
                    "o_orderpriority", "revenue"))


def q_langid(spark, sf_dir):
    return textops.langid_heuristic(load(spark, sf_dir, "documents"),
                                    "doc_id", "text")


# ---------------------------------------------------------------------------
# sketch queries (estimates; rows-only driver check)
# ---------------------------------------------------------------------------

def _doc_sketches(spark, sf_dir, specs, readout=None) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return build_sketches(docs, ["lang"], specs, readout=readout)


def q_short_doc_share_lang(spark, sf_dir):
    """Exact companion of the sketch-CDF read-out: per-lang share of
    docs at or under 200 / 500 chars."""
    # when().otherwise(0.0) (not a bare cast) so a NULL n_chars counts
    # as 0 in the numerator but stays in the denominator — the exact
    # semantics of the oracle's CASE WHEN
    return (load(spark, sf_dir, "documents")
            .groupBy("lang")
            .agg(F.round(F.avg(F.when(F.col("n_chars") <= 200, 1.0)
                               .otherwise(0.0)), 4).alias("share_le_200"),
                 F.round(F.avg(F.when(F.col("n_chars") <= 500, 1.0)
                               .otherwise(0.0)), 4).alias("share_le_500")))


def q_sketch_accuracy_lang(spark, sf_dir):
    """The validation loop generalized beyond Bloom FPR: per-lang
    est-vs-exact error rows for HLL/theta/sample (distinct rel err vs
    4-sigma bound) and KLL/t-digest (median rank err vs 5% bound),
    with a within_bound verdict a pipeline can gate on."""
    from sketchlib.spark.validate import accuracy_table
    docs = (load(spark, sf_dir, "documents")
            # +1: sampling weights must be > 0 and empty docs have
            # n_chars == 0; constant-per-text, so the wsample lattice
            # (max weight per distinct value) is well-defined
            .withColumn("w_chars", (F.col("n_chars") + 1).cast("double")))
    specs = [SketchSpec("h", "hll", "text", {"b": 14}),
             SketchSpec("th", "theta", "text", {"k": 4096}),
             SketchSpec("s", "sample", "doc_id", {"k": 256}),
             SketchSpec("ws", "wsample", "text", {"k": 256},
                        weight_col="w_chars"),
             SketchSpec("k", "kll", "n_chars", {"k": 256}),
             SketchSpec("t", "tdigest", "n_chars", {"delta": 300})]
    return accuracy_table(docs, ["lang"], specs)


def q_sample_docs_lang(spark, sf_dir):
    """Uniform per-lang sample of distinct doc_ids via the bottom-k
    sample kernel: ``sample_values`` and ``sketch_estimate`` are read
    out inside the build's fold (``readout=``), and the JVM explodes
    the sampled ids. Deterministic (hash tags), so row counts are
    stable; subset/uniformity laws are test-enforced
    (test_sample_kernel). At 10^12 docs this is the 'show me 20 random
    documents per lang' query with O(#groups x k) output and no
    full-table shuffle."""
    merged = _doc_sketches(
        spark, sf_dir, [SketchSpec("s", "sample", "doc_id", {"k": 20})],
        readout=[sqlfuncs.readout("doc_ids", sqlfuncs.sample_values),
                 sqlfuncs.readout("n_distinct_est",
                                  sqlfuncs.sketch_estimate)])
    return (merged.filter(F.col("sketch_name") == "s")
            .select("lang", F.explode("doc_ids").alias("doc_id"),
                    "n_distinct_est"))


def q_bloom_fpr_validation(spark, sf_dir):
    """The reference's stage-3 output: per-lang designed-vs-measured FPR
    plus the false-negative count (must be 0)."""
    docs = load(spark, sf_dir, "documents")
    bp = bloom_params_by_group(calibrate(docs, ["lang"]), BLOOM_P)
    merged = build_sketches(
        docs, ["lang"],
        [SketchSpec("text_bloom", "bloom", "text", per_group_params=bp)])
    filters = collect_sketches(merged, ["lang"], "text_bloom")
    return bloom_validate(docs, filters, ["lang"], "text", BLOOM_P)


def q_hll_distinct_lang(spark, sf_dir):
    """Distributed estimate read-out: the sketch table stays a
    DataFrame, and `sketch_estimate` runs on executors inside the
    build's fold (``readout=``) — no driver-side collect/loop and no
    separate read-out UDF."""
    merged = _doc_sketches(
        spark, sf_dir, [SketchSpec("h", "hll", "text", {"b": 14})],
        readout=[sqlfuncs.readout("n_distinct_est",
                                  sqlfuncs.sketch_estimate)])
    rel = 1.04 / (1 << 14) ** 0.5
    return (merged.filter(F.col("sketch_name") == "h")
            .select("lang", "n_distinct_est",
                    F.lit(float(rel)).alias("rel_error")))


def q_cms_top_tokens(spark, sf_dir):
    """CMS estimate vs exact count for the DISTRIBUTED candidate set.

    Candidates and estimates come from the scale path (CMS partials +
    per-partition certified trackers, sketchlib/spark/heavyhitters.py)
    — no exact subquery is collected to pick candidates (round-1 wart).
    exact_cnt is joined in distributedly purely as the accuracy
    measurement column; the production query at 10^12 docs is
    ``cms_heavy_hitters`` alone (see q_cms_heavy_hitters_scale).
    """
    from sketchlib.spark.heavyhitters import cms_heavy_hitters
    docs = load(spark, sf_dir, "documents")
    est = cms_heavy_hitters(docs, ["lang"], "text", k=10)
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    exact = (docs.select("lang", F.explode(toks).alias("token"))
             .groupBy("lang", "token").agg(F.count("*").alias("exact_cnt")))
    return (est.join(exact, ["lang", "token"], "left")
            .select("lang", "token", "est_cnt",
                    F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt")))


def q_countsketch_token_freq(spark, sf_dir):
    """Unbiased per-(lang, token) frequency estimates from the signed
    count sketch for each lang's exact top-10 tokens (candidates join
    in distributedly; exact companion heavy_tokens_lang). Estimates are
    two-sided noise around the truth — the right read-out when the
    counts feed downstream statistics rather than a keep/drop gate."""
    merged = _doc_sketches(
        spark, sf_dir,
        [SketchSpec("cs", "countsketch", "text", {"w": 16384, "d": 5},
                    tokenize=True)])
    top = q_heavy_tokens_lang(spark, sf_dir).select("lang", "token", "rnk")
    return (top.join(merged.filter(F.col("sketch_name") == "cs"), "lang")
            .select("lang", "token", "rnk",
                    sqlfuncs.cms_count(F.col("sketch"), F.col("token"))
                    .alias("est_cnt")))


def q_kll_quantiles_nchars(spark, sf_dir):
    """Distributed quantile + rank/CDF read-out with no read-out
    stage: `sketch_quantiles` and `sketch_cdfs` (array in, array out)
    run inside the build's fold (``readout=``) on both the KLL and the
    t-digest row, and the JVM pivots the rows to one wide row per lang
    (first-over-when — a ≤#groups×#specs-row shuffle). Round 4 paid ~3
    Arrow round-trips here (filter+join of per-point scalar UDF
    columns); the CDF shares (inverse read-out, exact companion
    short_doc_share_lang) ride the same fold for free — this query
    also absorbs round 4's separate kll_cdf_nchars catalog entry."""
    merged = _doc_sketches(
        spark, sf_dir,
        [SketchSpec("k", "kll", "n_chars", {"k": 256}),
         SketchSpec("t", "tdigest", "n_chars", {"delta": 300})],
        readout=[sqlfuncs.readout("q", sqlfuncs.sketch_quantiles,
                                  [0.5, 0.9]),
                 sqlfuncs.readout("c", sqlfuncs.sketch_cdfs,
                                  [200.0, 500.0])])

    def pick(name, col):
        return F.first(F.when(F.col("sketch_name") == name, F.col(col)),
                       ignorenulls=True)
    sel = merged.groupBy("lang").agg(pick("k", "q").alias("kq"),
                                     pick("t", "q").alias("tq"),
                                     pick("k", "c").alias("kc"))
    return sel.select(
        "lang",
        F.col("kq")[0].alias("kll_p50"), F.col("kq")[1].alias("kll_p90"),
        F.col("tq")[0].alias("td_p50"), F.col("tq")[1].alias("td_p90"),
        F.round(F.col("kc")[0], 4).alias("share_le_200"),
        F.round(F.col("kc")[1], 4).alias("share_le_500"))


def q_tdigest_quantiles_value(spark, sf_dir):
    """t-digest read-out over events via the FUSED read-out path: the
    estimate columns are extracted inside the final fold task
    (build_sketches readout=), so there is no read-out stage — one
    Python operator in all on a single-partition input (build, fold
    and read-out in one task), else the partial build plus the merge."""
    ev = load(spark, sf_dir, "events")
    merged = build_sketches(
        ev, ["event_type"],
        [SketchSpec("t", "tdigest", "value", {"delta": 300})],
        readout=[("p50_est", "double",
                  lambda _n, sk: float(sk.quantile(0.5))),
                 ("p95_est", "double",
                  lambda _n, sk: float(sk.quantile(0.95)))])
    return merged.select("event_type", "p50_est", "p95_est")


def q_minhash_lsh_pairs(spark, sf_dir):
    return textops.minhash_lsh_pairs(load(spark, sf_dir, "documents"),
                                     "doc_id", "text", threshold=0.5)


def q_simhash_pairs(spark, sf_dir):
    return textops.simhash_candidate_pairs(load(spark, sf_dir, "documents"),
                                           "doc_id", "text", max_hamming=3)


def q_content_fingerprint(spark, sf_dir):
    """Per-doc content fingerprint of the whitespace-normalized
    lowercased text: an md5 prefix (pure JVM, engine-portable), so the
    driver hash-checks it against DuckDB."""
    return textops.content_fingerprint(load(spark, sf_dir, "documents"),
                                       "doc_id", "text")


def q_decontamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing any word-3-gram with
    the 'benchmark' subset (doc_id % 97 == 0 stands in for an eval
    set) get their shared-shingle count; 0 = clean. The benchmark
    docs flag themselves — exactly what decontamination wants when
    eval copies leak into a crawl."""
    docs = load(spark, sf_dir, "documents")
    bench = (docs.filter(F.col("doc_id") % 97 == 0)
             .select(F.col("text").alias("btext")))
    return textops.decontaminate(docs, "doc_id", "text", bench, "btext")


def q_url_canon_dedup(spark, sf_dir):
    """Crawl-corpus URL dedup: canonicalize -> group -> keep-one.
    Generalizes the reference's key-normalization step
    (hadoop .../CalibrationMapper.java:31 rounds ratings to a
    canonical grouping key) to the web-pages domain.

    The driver tables carry no url column, so messy variants are
    synthesized deterministically from doc_id — ten templates that
    exercise every canonicalization branch (scheme/host case, BOTH
    default-port rules scheme-aware, tracking params, param order,
    fragment, trailing slash, scheme-less host, non-default ports).
    The oracle states the analytically-known canonical per template,
    so a shared string-op bug cannot hide: Spark actually runs
    textops.canonical_url on the messy strings and must land on the
    independently-derived answer.
    """
    d = load(spark, sf_dir, "documents").select("doc_id")
    t = F.col("doc_id") % 10
    g = F.floor(F.col("doc_id") / 10).cast("string")
    url = (
        F.when(t == 0, F.concat(F.lit("HTTP://Example.COM/doc/"), g))
        .when(t == 1, F.concat(F.lit("http://example.com:80/doc/"), g))
        .when(t == 2, F.concat(F.lit("https://example.com:443/doc/"), g))
        .when(t == 3, F.concat(F.lit("http://example.com/doc/"), g,
                               F.lit("?utm_source=x&b=2&a=1")))
        .when(t == 4, F.concat(F.lit("http://example.com/doc/"), g,
                               F.lit("#frag")))
        .when(t == 5, F.concat(F.lit("http://example.com/doc/"), g,
                               F.lit("/")))
        .when(t == 6, F.concat(F.lit("http://example.com/doc/"), g,
                               F.lit("?a=1&b=2")))
        .when(t == 7, F.concat(F.lit("http://example.com:443/doc/"), g))
        .when(t == 8, F.concat(F.lit("Example.com/Doc/"), g))
        .otherwise(F.concat(F.lit("https://example.com:8080/doc/"), g)))
    canon = textops.canonical_url(d.withColumn("url", url), "url")
    return (canon.groupBy("canonical_url")
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_variants")))


def q_bloom_membership(spark, sf_dir):
    """Set-membership probe: is each of the first 50 texts a member of
    each lang's set? (the reference's stage-3 probe as a query —
    /root/reference/spark/main.py:55-70)."""
    docs = load(spark, sf_dir, "documents")
    bp = bloom_params_by_group(calibrate(docs, ["lang"]), BLOOM_P)
    merged = build_sketches(
        docs, ["lang"],
        [SketchSpec("b", "bloom", "text", per_group_params=bp)])
    filters = collect_sketches(merged, ["lang"], "b")
    probes = docs.orderBy("doc_id").limit(50).select("doc_id", "text", "lang")
    bc = spark.sparkContext.broadcast({k: v.to_bytes() for k, v in filters.items()})

    def probe_fn(batches):
        # distributed probe: filters broadcast once, each Arrow batch of
        # probe keys hashed once per seed and fanned across all filters
        # (same shape as validate.bloom_validate — survives any probe-set
        # size; the round-1 version collected probes and looped on the
        # driver)
        from sketchlib.core import hashing
        from sketchlib.core.serde import sketch_from_bytes as _sfb
        local = {k: _sfb(b) for k, b in bc.value.items()}
        seeds = sorted({bf.seed for bf in local.values()})
        for pdf in batches:
            if not len(pdf):
                continue
            pairs = {s: hashing.hash64_pair(pdf["text"].fillna(""), s)
                     for s in seeds}
            frames = []
            for lang in sorted(local):
                bf = local[lang]
                h1, h2 = pairs[bf.seed]
                frames.append(pd.DataFrame({
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "filter_lang": lang,
                    "is_member": bf.contains_from_hash_pair(h1, h2),
                    "true_member": (pdf["lang"] == lang).to_numpy(),
                }))
            yield pd.concat(frames, ignore_index=True)

    return probes.mapInPandas(
        probe_fn,
        "doc_id long, filter_lang string, is_member boolean, true_member boolean")


def q_ann_lsh_topk(spark, sf_dir):
    """SRP-LSH approximate top-5 (scale path; brute-force companion
    q_ann_cosine_topk measures recall)."""
    from sketchlib.spark import annops
    emb = load(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb)
    return annops.ann_lsh_topk(emb, "vec_id", "embedding", dim,
                               query_filter=F.col("vec_id") < 10, k=5,
                               bands=32, bits_per_band=4)


def q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-5 (train-once/query-many scale path;
    brute-force companion q_ann_cosine_topk measures recall —
    test-enforced >= 0.9).

    Params sized for the fixture's near-isotropic embeddings (flat
    covariance eigenspectrum — IVF's worst case, where recall tracks
    the searched fraction): 8 cells, nprobe 5 -> 0.98 measured. Real
    embedding corpora cluster, making the cells/nprobe dial far more
    favorable."""
    from sketchlib.spark import annops
    emb = load(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb)
    return annops.ann_ivf_topk(emb, "vec_id", "embedding", dim,
                               query_filter=F.col("vec_id") < 10, k=5,
                               n_centroids=8, nprobe=5)


def q_cms_heavy_hitters_scale(spark, sf_dir):
    """Scale-true heavy hitters (CMS + per-partition candidates) —
    no exact pass; companion q_heavy_tokens_lang measures accuracy."""
    from sketchlib.spark.heavyhitters import cms_heavy_hitters
    return cms_heavy_hitters(load(spark, sf_dir, "documents"),
                             ["lang"], "text", k=10)


def q_embedding_neardup_pairs(spark, sf_dir):
    """Exact embedding near-dup pairs (cosine >= 0.4) — oracle-checked
    baseline of the LSH scale path."""
    from sketchlib.spark import annops
    return annops.cosine_pairs(load(spark, sf_dir, "embeddings"),
                               "vec_id", "embedding", threshold=0.4)


def q_embedding_neardup_lsh(spark, sf_dir):
    """SRP-LSH near-dup pairs (rows-only; exact companion above)."""
    from sketchlib.spark import annops
    emb = load(spark, sf_dir, "embeddings")
    dim = _embedding_dim(emb)
    return annops.lsh_cosine_pairs(emb, "vec_id", "embedding", dim,
                                   threshold=0.4)


def q_user_overlap_exact(spark, sf_dir):
    """Exact shared-user counts between event_type pairs (theta
    companion)."""
    # distinct BEFORE the self-join: a user with f event rows would
    # otherwise fan out f^2 join rows per pair — a skew job-killer at
    # events scale; countDistinct becomes a plain count on the
    # deduped set (identical result, hash-checked)
    ev = (load(spark, sf_dir, "events")
          .select("event_type", "user_id").distinct())
    a = ev.alias("a")
    b = ev.alias("b")
    return (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                   & (F.col("a.event_type") < F.col("b.event_type")))
            .groupBy(F.col("a.event_type").alias("type_a"),
                     F.col("b.event_type").alias("type_b"))
            .agg(F.count("*").alias("n_shared")))


def q_user_containment_exact(spark, sf_dir):
    """Exact inclusion coefficient |users(a) ∩ users(b)| / |users(a)|
    per ordered event_type pair — companion of the HLL containment
    estimate."""
    u = (load(spark, sf_dir, "events")
         .select("event_type", "user_id").distinct())
    na = u.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = u.alias("a"), u.alias("b")
    shared = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                     & (F.col("a.event_type") != F.col("b.event_type")))
              .groupBy(F.col("a.event_type").alias("type_a"),
                       F.col("b.event_type").alias("type_b"))
              .agg(F.count("*").alias("n_shared")))
    pairs = (na.select(F.col("event_type").alias("type_a"),
                       F.col("n").alias("n_a"))
             .crossJoin(na.select(F.col("event_type").alias("type_b")))
             .filter(F.col("type_a") != F.col("type_b")))
    return (pairs.join(shared, ["type_a", "type_b"], "left")
            .select("type_a", "type_b",
                    F.round(F.coalesce("n_shared", F.lit(0))
                            / F.col("n_a"), 4).alias("containment")))


def q_user_jaccard_exact(spark, sf_dir):
    """Exact Jaccard of user sets between event_type pairs — the
    companion of q_sketch_set_algebra's jaccard_est column:
    J = shared / (|A| + |B| - shared)."""
    u = (load(spark, sf_dir, "events")
         .select("event_type", "user_id").distinct())
    na = u.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = u.alias("a"), u.alias("b")
    shared = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                     & (F.col("a.event_type") < F.col("b.event_type")))
              .groupBy(F.col("a.event_type").alias("type_a"),
                       F.col("b.event_type").alias("type_b"))
              .agg(F.count("*").alias("n_shared")))
    return (shared
            .join(na.select(F.col("event_type").alias("type_a"),
                            F.col("n").alias("n_a")), "type_a")
            .join(na.select(F.col("event_type").alias("type_b"),
                            F.col("n").alias("n_b")), "type_b")
            .select("type_a", "type_b",
                    F.round(F.col("n_shared") /
                            (F.col("n_a") + F.col("n_b")
                             - F.col("n_shared")), 4).alias("jaccard")))


def q_hll_rollup_lang(spark, sf_dir):
    """SQL-side sketch-merge rollup: build HLLs at the FINER key
    (lang, source), then roll up to per-lang **by merging stored
    states in SQL** — ``sketch_merge(collect_list(sketch))`` under
    GROUP BY — never re-reading raw rows. Completes the mergeability
    contract of the reference's ``reduceByKey(|)``
    (/root/reference/spark/main.py:150). Register-max merge makes the
    rolled-up HLL bitwise-identical to one built directly per lang, so
    estimates match q_hll_distinct_lang exactly (tests assert this);
    exact companion: q_distinct_texts_lang.
    """
    sqlfuncs.register_sql_functions(spark)
    docs = load(spark, sf_dir, "documents")
    fine = build_sketches(docs, ["lang", "source"],
                          [SketchSpec("h", "hll", "text", {"b": 14})])
    fine.createOrReplaceTempView("sk_lang_source")
    return spark.sql("""
        SELECT lang,
               sketch_estimate(sketch_merge(collect_list(sketch)))
                   AS n_distinct_est
        FROM sk_lang_source WHERE sketch_name = 'h'
        GROUP BY lang""")


def q_user_difference_exact(spark, sf_dir):
    """Exact |users(a) \\ users(b)| for ordered event_type pairs —
    companion of the theta a-not-b estimate."""
    u = (load(spark, sf_dir, "events")
         .select("event_type", "user_id").distinct())
    na = u.groupBy("event_type").agg(F.count("*").alias("n"))
    a, b = u.alias("a"), u.alias("b")
    shared = (a.join(b, (F.col("a.user_id") == F.col("b.user_id"))
                     & (F.col("a.event_type") != F.col("b.event_type")))
              .groupBy(F.col("a.event_type").alias("type_a"),
                       F.col("b.event_type").alias("type_b"))
              .agg(F.count("*").alias("n_shared")))
    pairs = (na.select(F.col("event_type").alias("type_a"),
                       F.col("n").alias("n_a"))
             .crossJoin(na.select(F.col("event_type").alias("type_b")))
             .filter(F.col("type_a") != F.col("type_b")))
    return (pairs.join(shared, ["type_a", "type_b"], "left")
            .select("type_a", "type_b",
                    (F.col("n_a") - F.coalesce("n_shared", F.lit(0)))
                    .alias("n_only_a")))


# ---------------------------------------------------------------------------
# round-5 catalog consolidation: merged read-outs (the driver snapshot
# holds 50 queries, so related estimates share one entry — VERDICT r4)
# ---------------------------------------------------------------------------

def q_fd_spectrum_vs_exact(spark, sf_dir):
    """Frequent-directions covariance spectrum NEXT TO the exact
    eigenvalues in one result: (rnk, sq_singular_est, sq_singular_exact,
    rel_err). Merges round 4's separate fd_embedding_spectrum /
    embedding_spectrum_exact entries; the FD estimate comes from one
    fixed-size mergeable state, the exact column from the d^2-row Gram
    reduce — accuracy is now driver-visible per rank."""
    est = q_fd_embedding_spectrum(spark, sf_dir).select(
        "rnk", F.col("sq_singular").alias("sq_singular_est"))
    exact = q_embedding_spectrum_exact(spark, sf_dir).select(
        "rnk", F.col("sq_singular").alias("sq_singular_exact"))
    return (est.join(exact, "rnk")
            .select("rnk", "sq_singular_est", "sq_singular_exact",
                    F.round(F.abs(F.col("sq_singular_est")
                                  - F.col("sq_singular_exact"))
                            / F.col("sq_singular_exact"), 4)
                    .alias("rel_err"))
            .orderBy("rnk"))


def q_sketch_set_algebra(spark, sf_dir):
    """Pairwise set algebra between event_type user sets from ONE
    sketch build carrying BOTH kernels (theta k=4096 + HLL b=13 over
    the same grouping): estimated shared users, Jaccard, a-not-b
    difference (theta) and inclusion coefficient (HLL register
    algebra, VLDB-2018) per ordered pair. Merges round 4's
    theta_user_overlap / theta_user_difference / hll_user_containment
    entries. One wide pivot per event_type, then a self-join whose
    four UDF calls sit in a single projection -> one ArrowEvalPython
    stage. Exact companions: user_overlap_exact, user_jaccard_exact,
    user_difference_exact, user_containment_exact."""
    ev = (load(spark, sf_dir, "events")
          .withColumn("uid", F.col("user_id").cast("string")))
    sk = build_sketches(ev, ["event_type"],
                        [SketchSpec("t", "theta", "uid", {"k": 4096}),
                         SketchSpec("h", "hll", "uid", {"b": 13})])
    wide = sk.groupBy("event_type").agg(
        F.first(F.when(F.col("sketch_name") == "t", F.col("sketch")),
                ignorenulls=True).alias("tsk"),
        F.first(F.when(F.col("sketch_name") == "h", F.col("sketch")),
                ignorenulls=True).alias("hsk"))
    a = wide.select(F.col("event_type").alias("type_a"),
                    F.col("tsk").alias("ta"), F.col("hsk").alias("ha"))
    b = wide.select(F.col("event_type").alias("type_b"),
                    F.col("tsk").alias("tb"), F.col("hsk").alias("hb"))
    return (a.join(b, F.col("type_a") != F.col("type_b"))
            .select("type_a", "type_b",
                    sqlfuncs.theta_intersect(F.col("ta"), F.col("tb"))
                    .alias("n_shared_est"),
                    F.round(sqlfuncs.theta_jaccard(F.col("ta"), F.col("tb")),
                            4).alias("jaccard_est"),
                    sqlfuncs.theta_difference(F.col("ta"), F.col("tb"))
                    .alias("n_only_a_est"),
                    F.round(sqlfuncs.hll_inclusion(F.col("ha"), F.col("hb")),
                            4).alias("containment_est")))


def q_token_freq_sketch_accuracy(spark, sf_dir):
    """Frequency-sketch accuracy in one entry: for the SCALE-path
    heavy-hitter candidates (CMS + per-partition certified trackers,
    no exact subquery picks them), the CMS estimate (overestimate-
    only), the count-sketch estimate (unbiased, signed), and the exact
    count joined in distributedly as the measurement column. Merges
    round 4's cms_top_tokens / countsketch_token_freq entries; exact
    companion heavy_tokens_lang."""
    from sketchlib.spark.heavyhitters import cms_heavy_hitters
    docs = load(spark, sf_dir, "documents")
    hh = cms_heavy_hitters(docs, ["lang"], "text", k=10)
    # the candidates (<= k per lang) are known before the count sketch
    # is built, so its fold reads out every candidate's count: one
    # token -> count map per lang, under cms_count's read-out rule
    top = hh.toArrow()
    tokens = sorted(set(top.column("token").to_pylist()))
    count = sqlfuncs.cms_count.read
    cs = _doc_sketches(
        spark, sf_dir,
        [SketchSpec("cs", "countsketch", "text", {"w": 16384, "d": 5},
                    tokenize=True)],
        readout=[("cs_cnts", "map<string,bigint>",
                  lambda _name, sk: {t: count(sk, t) for t in tokens})])
    with_cs = (local_table(spark, top, hh.schema)
               .join(cs.select("lang", "cs_cnts"), "lang")
               .select("lang", "token", F.col("est_cnt").alias("cms_cnt"),
                       F.col("cs_cnts")[F.col("token")].alias("cs_cnt")))
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    exact = (docs.select("lang", F.explode(toks).alias("token"))
             .groupBy("lang", "token").agg(F.count("*").alias("exact_cnt")))
    return (with_cs.join(exact, ["lang", "token"], "left")
            .select("lang", "token", "cms_cnt", "cs_cnt",
                    F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt")))


def q_ann_approx_topk(spark, sf_dir):
    """Both approximate-NN scale paths in one entry, tagged by method:
    SRP-LSH banded probing and IVF (train-once/query-many). Merges
    round 4's ann_lsh_topk / ann_ivf_topk; brute-force companion
    ann_cosine_topk measures recall (test-enforced >= 0.9 for both)."""
    lsh = q_ann_lsh_topk(spark, sf_dir).select(
        F.lit("srp_lsh").alias("method"), "q_id", "nbr_id", "rnk", "score")
    ivf = q_ann_ivf_topk(spark, sf_dir).select(
        F.lit("ivf").alias("method"), "q_id", "nbr_id", "rnk", "score")
    return lsh.unionByName(ivf)


def q_media_features(spark, sf_dir):
    """Multimodal layer, driver-visible: a deterministic media table
    (in-repo codecs: 16-bit PCM WAV, PPM, 8-bit RGB PNG, baseline
    JPEG at 4:4:4 and 4:2:0, MP4 containers holding opaque or MJPEG
    samples — synthesized because the driver fixtures carry no binary
    column and BASELINE.json forbids external data) flows through the
    production stages: JVM-side byte metadata (media_metadata — never
    ships payloads to Python), container and header probes
    (video_metadata: stbl walk for dimensions/sample stats;
    audio_metadata: WAV rate and duration), and Arrow-batched feature
    extraction (extract_features: real decode for WAV/PPM/PNG/JPEG/
    MJPEG-MP4, deterministic stub for the opaque MP4 samples). Output:
    one row per media item with byte stats, probe dims, audio header
    fields and a feature checksum (dim + rounded sum) — rows-only
    driver check (binary fixtures have no DuckDB view); per-codec
    exactness is pytest-enforced (test_multimodal, test_jpeg)."""
    from sketchlib.spark import multimodal as M
    from sketchlib.io.fixtures import media_path
    # the media table is INPUT data (deterministic in (n, seed));
    # reading the cached parquet fixture instead of re-encoding the
    # payloads per run makes this row time the probe/extract
    # operators, not WAV/PNG/JPEG/MP4 encoding (round-5 verdict nit 1)
    media = spark.read.parquet(media_path(n=120, seed=5))
    meta = M.media_metadata(media, "media_id", "payload")
    probe = (M.video_metadata(media)
             .select("media_id", F.col("width").alias("probe_w"),
                     F.col("height").alias("probe_h"), "n_samples"))
    audio = (M.audio_metadata(media)
             .select("media_id", "sample_rate",
                     F.col("duration_ms_est").alias("audio_ms")))
    feats = (M.extract_features(media)
             .select("media_id", F.size("feature").alias("feat_dim"),
                     F.round(F.aggregate(
                         "feature", F.lit(0.0),
                         lambda a, v: a + v.cast("double")), 3)
                     .alias("feat_sum")))
    return (media.select("media_id", "kind", "mime")
            .join(meta, "media_id")
            .join(feats, "media_id")
            .join(probe, "media_id", "left")
            .join(audio, "media_id", "left")
            .orderBy("media_id"))
