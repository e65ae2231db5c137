"""Approximate nearest neighbors over embedding columns.

Three strategies (SURVEY-mandated similarity-search surface):
- brute-force cosine top-k (queries.q_ann_cosine_topk): exact,
  JVM-side zip_with/aggregate, broadcast query side — the baseline and
  the oracle-checkable path.
- SRP-LSH (here): signed-random-projection signatures, banded bucket
  join — the 10^9-vector path. Candidates come from equi-joins on
  (band, bucket); only candidates pay the exact cosine. Hyperplanes
  are seeded (deterministic run-to-run, resumable).
- IVF (here): deterministic Lloyd k-means coarse quantizer trained via
  per-partition partial sums (treeAggregate shape — only
  #partitions x #centroids x dim floats ever cross the wire), then an
  nprobe-bounded cid equi-join. The classic recall/latency dial when
  the corpus is re-queried many times.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import (ArrayType, DoubleType, LongType, StructField,
                               StructType)

from sketchlib.spark.dfutil import local_table


def with_norm(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(vid, emb, norm) — shared by every cosine path so precision /
    zero-norm fixes apply everywhere at once. Zero-norm vectors are
    EXCLUDED here: cosine direction is undefined for them, and the
    NULL score a 0/0 division yields would otherwise ride through
    row_number as arbitrary trailing 'neighbors'."""
    out = df.select(
        F.col(id_col).cast("long").alias("vid"),
        F.col(vec_col).alias("emb"),
        F.sqrt(F.aggregate(F.transform(vec_col,
                                       lambda x: x.cast("double") * x.cast("double")),
                           F.lit(0.0), lambda a, v: a + v)).alias("norm"))
    return out.filter(F.col("norm") > 0)


def dot_expr(a_col: str, b_col: str):
    """Elementwise double-precision dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a_col, b_col,
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def srp_signatures(df: DataFrame, id_col: str, vec_col: str, dim: int,
                   bands: int = 32, bits_per_band: int = 4,
                   seed: int = 17) -> DataFrame:
    """(id, bands: array<bigint>) — one packed SRP bucket per band."""
    from sketchlib.spark.dfutil import ensure_min_parallelism
    nbits = bands * bits_per_band
    schema = StructType([
        StructField("vid", LongType(), False),
        StructField("bands", ArrayType(LongType()), False),
    ])
    # per-vector kernel: spread it when the local scan has few splits
    # (no-op at cluster split counts)
    sel = ensure_min_parallelism(
        df.select(F.col(id_col).cast("long").alias("_id"), vec_col))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = (np.random.default_rng(seed)
                  .standard_normal((dim, nbits)).astype(np.float32))
        weights = (np.uint64(1) << np.arange(bits_per_band, dtype=np.uint64))
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            bits = (mat @ planes) > 0                      # (n, nbits)
            b = bits.reshape(len(pdf), bands, bits_per_band)
            packed = (b.astype(np.uint64) * weights).sum(axis=2).astype(np.int64)
            yield pd.DataFrame({"vid": pdf["_id"].to_numpy(),
                                "bands": list(packed)})

    return sel.mapInPandas(fn, schema)


def ann_lsh_topk(df: DataFrame, id_col: str, vec_col: str, dim: int,
                 query_filter, k: int = 5, bands: int = 32,
                 bits_per_band: int = 4, seed: int = 17) -> DataFrame:
    """Top-k cosine neighbors per query via SRP-LSH candidates.

    ``query_filter`` is a Column predicate selecting the query rows.
    Output: (q_id, nbr_id, rnk, score) — same shape as the brute-force
    baseline so recall is directly comparable.
    """
    from sketchlib.spark.dfutil import materialize
    sigs = srp_signatures(df, id_col, vec_col, dim, bands, bits_per_band,
                          seed)
    # banded feeds BOTH join branches (query buckets + candidate side);
    # without materialization the full-corpus SRP signature pass runs
    # twice — eager checkpoint (never .cache()) pays it once. norms is
    # left lazy: its recompute is one codegen scan, cheaper than
    # materializing every embedding.
    banded = materialize(sigs.select(
        "vid", F.posexplode("bands").alias("band", "bucket")))
    norms = with_norm(df, id_col, vec_col)
    q_ids = df.filter(query_filter).select(
        F.col(id_col).cast("long").alias("q_id"))
    qb = (banded.join(F.broadcast(q_ids),
                      banded["vid"] == q_ids["q_id"])
          .select("q_id", "band", "bucket"))
    cand = (banded.alias("n").join(
                qb.alias("q"),
                (F.col("n.band") == F.col("q.band"))
                & (F.col("n.bucket") == F.col("q.bucket"))
                & (F.col("n.vid") != F.col("q.q_id")))
            .select(F.col("q.q_id").alias("q_id"),
                    F.col("n.vid").alias("nbr_id"))
            .distinct())
    # broadcast ONLY the query rows' norms — broadcasting the full norms
    # table would collect every embedding to the driver
    qn = (norms.join(F.broadcast(q_ids), norms["vid"] == q_ids["q_id"])
          .select(F.col("q_id"), F.col("emb").alias("q_emb"),
                  F.col("norm").alias("q_norm")))
    nn = norms.select(F.col("vid").alias("nbr_id"), F.col("emb").alias("n_emb"),
                      F.col("norm").alias("n_norm"))
    dot = dot_expr("q_emb", "n_emb")
    scored = (cand.join(F.broadcast(qn), "q_id").join(nn, "nbr_id")
              .withColumn("score", dot / (F.col("q_norm") * F.col("n_norm"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "nbr_id", "rnk", F.round("score", 3).alias("score")))


def ivf_train_centroids(df: DataFrame, id_col: str, vec_col: str, dim: int,
                        n_centroids: int = 16, iters: int = 5,
                        seed: int = 23) -> np.ndarray:
    """Deterministic Lloyd k-means on L2-normalized vectors.

    Init = the n_centroids rows with the smallest xxhash64(id) (a
    seeded deterministic sample, stable across partitionings). Each
    iteration ships ONLY per-partition partial sums — at most
    (#partitions x #centroids) rows of dim floats, never raw vectors —
    and reduces them IN THE CLUSTER: a groupBy("cid").applyInPandas
    fold (partials sorted by partition_id, accumulated sequentially in
    float64 — a total order, so the result is deterministic run-to-run
    AND bitwise-identical to the former driver-side loop, which added
    in the same partition order). The driver collects exactly
    #centroids rows per iteration, independent of #partitions — at the
    100 TB scan's ~800k partitions the old collect was driver-side
    gigabytes per Lloyd iteration.
    Empty clusters keep their previous centroid. Returns
    float32[n_centroids, dim] of unit-norm centroids.
    """
    sel = df.select(F.col(id_col).cast("long").alias("_id"), vec_col)
    init_rows = (sel.orderBy(F.xxhash64(F.col("_id") + F.lit(seed)))
                 .limit(n_centroids).collect())
    cents = np.stack([np.asarray(r[vec_col], dtype=np.float32)
                      for r in init_rows])
    cents /= np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    partial_schema = StructType([
        StructField("cid", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("vsum", ArrayType(DoubleType()), False),
        StructField("partition_id", LongType(), False),
    ])
    reduced_schema = StructType([
        StructField("cid", LongType(), False),
        StructField("cnt", LongType(), False),
        StructField("vsum", ArrayType(DoubleType()), False),
    ])

    def reduce_fn(key, pdf):
        # sequential fold in partition_id order: deterministic (total
        # order) and identical float-add sequence to a driver loop over
        # partition-ordered rows
        pdf = pdf.sort_values("partition_id", kind="stable")
        acc = np.zeros(dim, dtype=np.float64)
        for v in pdf["vsum"]:
            acc += np.asarray(v, dtype=np.float64)
        return pd.DataFrame({"cid": [key[0]], "cnt": [int(pdf["cnt"].sum())],
                             "vsum": [acc]})

    for _ in range(iters):
        c = cents  # closure snapshot for this iteration

        def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from sketchlib.spark.build import task_partition_id
            pid = task_partition_id()
            sums = np.zeros((len(c), dim), dtype=np.float64)
            cnts = np.zeros(len(c), dtype=np.int64)
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
                mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True),
                                  1e-12)
                cid = (mat @ c.T).argmax(axis=1)
                np.add.at(cnts, cid, 1)
                np.add.at(sums, cid, mat)
            nz = np.flatnonzero(cnts)
            if len(nz):
                yield pd.DataFrame({"cid": nz, "cnt": cnts[nz],
                                    "vsum": list(sums[nz]),
                                    "partition_id": pid})

        rows = (sel.mapInPandas(fn, partial_schema)
                .groupBy("cid").applyInPandas(reduce_fn, reduced_schema)
                .collect())
        sums = np.zeros((len(cents), dim), dtype=np.float64)
        cnts = np.zeros(len(cents), dtype=np.int64)
        for r in rows:
            sums[r["cid"]] = np.asarray(r["vsum"])
            cnts[r["cid"]] = r["cnt"]
        nz = cnts > 0
        new = cents.astype(np.float64).copy()
        new[nz] = sums[nz] / cnts[nz, None]
        new /= np.maximum(np.linalg.norm(new, axis=1, keepdims=True), 1e-12)
        cents = new.astype(np.float32)
    return cents


def ivf_assign(df: DataFrame, id_col: str, vec_col: str,
               centroids: np.ndarray) -> DataFrame:
    """(vid, cid) — nearest-centroid partition of the corpus."""
    sel = df.select(F.col(id_col).cast("long").alias("vid"), vec_col)
    schema = StructType([StructField("vid", LongType(), False),
                         StructField("cid", LongType(), False)])
    c = centroids

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame({"vid": pdf["vid"].to_numpy(),
                                "cid": (mat @ c.T).argmax(axis=1)})

    return sel.mapInPandas(fn, schema)


def ann_ivf_topk(df: DataFrame, id_col: str, vec_col: str, dim: int,
                 query_filter, k: int = 5, n_centroids: int = 16,
                 nprobe: int = 4, iters: int = 5, seed: int = 23,
                 assignments: DataFrame | None = None,
                 centroids: np.ndarray | None = None) -> DataFrame:
    """Top-k cosine neighbors per query via IVF: search only the
    ``nprobe`` nearest centroid cells per query.

    Output: (q_id, nbr_id, rnk, score) — same shape as the brute-force
    baseline so recall is directly comparable. Pass precomputed
    ``centroids``/``assignments`` at pipeline scale (train once, query
    many) — the cid equi-join is then the only per-query work.
    """
    if assignments is not None and centroids is None:
        # half-precomputed is a trap: retraining here would produce
        # cell ids that need not correspond to the supplied
        # assignments' cids — nprobe would then search the wrong
        # inverted lists and recall silently collapses
        raise ValueError(
            "assignments were precomputed but centroids were not "
            "passed — supply the matching centroids (ivf_assign and "
            "the query-side cell ranking must share them)")
    if centroids is None:
        centroids = ivf_train_centroids(df, id_col, vec_col, dim,
                                        n_centroids, iters, seed)
    if assignments is None:
        assignments = ivf_assign(df, id_col, vec_col, centroids)
    norms = with_norm(df, id_col, vec_col)
    qn = (norms.join(F.broadcast(
              df.filter(query_filter).select(
                  F.col(id_col).cast("long").alias("q_id"))),
              norms["vid"] == F.col("q_id"))
          .select("q_id", F.col("emb").alias("q_emb"),
                  F.col("norm").alias("q_norm")))
    # nprobe nearest cells per query: tiny driver-free cross join against
    # the broadcast centroid table (n_centroids rows)
    spark = df.sparkSession
    cent_df = local_table(spark, {
        "cid": range(len(centroids)),
        "cvec": [[float(x) for x in c] for c in centroids]},
        StructType([StructField("cid", LongType()),
                    StructField("cvec", ArrayType(DoubleType()))]))
    qc = (qn.crossJoin(F.broadcast(cent_df))
          .withColumn("cscore", dot_expr("q_emb", "cvec"))
          .withColumn("crnk", F.row_number().over(
              Window.partitionBy("q_id").orderBy(F.desc("cscore"),
                                                 F.asc("cid"))))
          .filter(F.col("crnk") <= nprobe)
          .select("q_id", "cid"))
    cand = (qc.join(assignments, "cid")
            .filter(F.col("vid") != F.col("q_id"))
            .select("q_id", F.col("vid").alias("nbr_id"))
            .distinct())
    nn = norms.select(F.col("vid").alias("nbr_id"),
                      F.col("emb").alias("n_emb"),
                      F.col("norm").alias("n_norm"))
    scored = (cand.join(F.broadcast(qn), "q_id").join(nn, "nbr_id")
              .withColumn("score",
                          dot_expr("q_emb", "n_emb")
                          / (F.col("q_norm") * F.col("n_norm"))))
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), F.asc("nbr_id"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k)
            .select("q_id", "nbr_id", "rnk", F.round("score", 3).alias("score")))


def cosine_pairs(df: DataFrame, id_col: str, vec_col: str,
                 threshold: float) -> DataFrame:
    """Exact embedding near-dup pairs: all (a,b) with cosine >= threshold.

    The oracle-checkable baseline — quadratic in group size, meant for
    validation scale; ``lsh_cosine_pairs`` is the 10^9-vector path.
    """
    norms = with_norm(df, id_col, vec_col)
    a = norms.select(F.col("vid").alias("a_id"), F.col("emb").alias("a_emb"),
                     F.col("norm").alias("a_norm"))
    b = norms.select(F.col("vid").alias("b_id"), F.col("emb").alias("b_emb"),
                     F.col("norm").alias("b_norm"))
    dot = dot_expr("a_emb", "b_emb")
    return (a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("score", dot / (F.col("a_norm") * F.col("b_norm")))
            .filter(F.col("score") >= threshold)
            .select("a_id", "b_id", F.round("score", 3).alias("score")))


def lsh_cosine_pairs(df: DataFrame, id_col: str, vec_col: str, dim: int,
                     threshold: float, bands: int = 32,
                     bits_per_band: int = 4, seed: int = 17) -> DataFrame:
    """Near-dup pairs at scale: SRP-banded candidates, exact cosine
    verify — same output shape as ``cosine_pairs`` so recall is directly
    measurable."""
    sigs = srp_signatures(df, id_col, vec_col, dim, bands, bits_per_band,
                          seed)
    banded = sigs.select("vid", F.posexplode("bands").alias("band", "bucket"))
    cand = (banded.alias("x").join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col("x.vid") < F.col("y.vid")))
            .select(F.col("x.vid").alias("a_id"), F.col("y.vid").alias("b_id"))
            .distinct())
    norms = with_norm(df, id_col, vec_col)
    na = norms.select(F.col("vid").alias("a_id"), F.col("emb").alias("a_emb"),
                      F.col("norm").alias("a_norm"))
    nb = norms.select(F.col("vid").alias("b_id"), F.col("emb").alias("b_emb"),
                      F.col("norm").alias("b_norm"))
    dot = dot_expr("a_emb", "b_emb")
    return (cand.join(na, "a_id").join(nb, "b_id")
            .withColumn("score", dot / (F.col("a_norm") * F.col("b_norm")))
            .filter(F.col("score") >= threshold)
            .select("a_id", "b_id", F.round("score", 3).alias("score")))
