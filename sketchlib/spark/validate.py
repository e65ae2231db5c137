"""Stage 3: statistical validation of built sketches.

Reproduces the reference's validation semantics
(/root/reference/spark/main.py:166-193; ValidationMapper.java:56-79):
probe every key against every *other* group's Bloom filter (the
self-exclusion rule at main.py:62-63) and compare measured FPR to the
designed p — plus the false-negative check the reference lacks
(wart W1, SURVEY.md §2.7): every inserted key must be found.

Architecture notes vs the reference:
- The reference used a Spark accumulator in ``foreach``
  (main.py:17-24,172-176), which double-counts on task retry (wart
  W5). We emit per-partition partial counts from ``mapInPandas`` and
  sum them with a deterministic ``groupBy().sum()`` — exactly-once.
- The filters travel as a broadcast variable (the DataFrame-era
  version of the Hadoop side-file read, ValidationMapper.java:36-52).
  Total broadcast size = sum of m/8 over groups; bounded by design.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import LongType, StructField, StructType

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark import sqlfuncs
from sketchlib.spark.build import _norm_nan


def collect_sketches(merged: DataFrame, group_cols: list[str],
                     sketch_name: str | None = None) -> dict:
    """Pull merged sketches (≤ #groups rows) to the driver as a dict.

    Keys are the group value (single group col) or tuple of values.
    """
    df = merged
    if sketch_name is not None:
        df = df.filter(F.col("sketch_name") == sketch_name)
    elif "sketch_name" in merged.columns:
        names = [r[0] for r in
                 merged.select("sketch_name").distinct().limit(2).collect()]
        if len(names) > 1:
            # one arbitrary sketch per group would silently win the
            # key collision — probing the wrong kernel downstream
            raise ValueError(
                "merged table holds multiple sketch_names; pass "
                "sketch_name= to pick one")
    out = {}
    for r in df.collect():
        d = r.asDict()
        key = tuple(d[c] for c in group_cols)
        if len(key) == 1:
            key = key[0]
        out[key] = sketch_from_bytes(bytes(d["sketch"]))
    return out


def bloom_validate(df: DataFrame, filters: dict, group_cols: list[str],
                   value_col: str, designed_p: float,
                   max_broadcast_bytes: int = 1 << 30) -> DataFrame:
    """Measured-FPR / false-negative table, one row per group's filter.

    Returns (group_cols..., n_keys, false_negatives, probes,
    false_positives, measured_fpr, designed_p) where measured_fpr =
    cross-group hits / cross-group probes against that group's filter.

    Every row probes every group's filter (the reference's
    all-cross-groups semantics, main.py:55-70) — G x scan work and a
    sum-of-m broadcast, fine for the designed few-groups case but a
    job-killer if someone passes a high-cardinality key. The guard
    refuses when the serialized filters exceed ``max_broadcast_bytes``
    (default 1 GiB ~ executor broadcast comfort) instead of melting the
    cluster; shard the groups across calls or validate per-partition.
    """
    blobs = {k: v.to_bytes() for k, v in filters.items()}
    # budget the INFLATED size (sum of m/8): blobs ship sparse-encoded,
    # but every executor deserializes each filter to its full bit
    # array — a few-KB wire payload can inflate to gigabytes when m was
    # provisioned for far more keys than were inserted
    total = sum(v.m // 8 + 1 for v in filters.values())
    if total > max_broadcast_bytes:
        raise ValueError(
            f"bloom_validate filters inflate to {total} bytes of bit "
            f"arrays per executor ({len(blobs)} groups; serialized "
            f"{sum(len(b) for b in blobs.values())} B) > "
            f"max_broadcast_bytes={max_broadcast_bytes}; validation "
            "probes every row against every group's filter, so cost "
            "scales with #groups x scan — shard the groups across calls "
            "(or raise the budget deliberately)")
    bc = df.sparkSession.sparkContext.broadcast(blobs)
    single = len(group_cols) == 1
    sel = df.select(*group_cols, value_col)
    group_fields = [f for f in sel.schema.fields if f.name in group_cols]
    counts_schema = StructType(group_fields + [
        StructField("own", LongType(), False),
        StructField("fn", LongType(), False),
        StructField("probes", LongType(), False),
        StructField("fp", LongType(), False),
    ])

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sketchlib.core import hashing
        local = {k: sketch_from_bytes(b) for k, b in bc.value.items()}
        # per-partition partial counters keyed by the *filter's* group
        agg = {k: [0, 0, 0, 0] for k in local}  # own, fn, probes, fp
        seeds = sorted({bf.seed for bf in local.values()})
        for pdf in batches:
            for gkey, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                if isinstance(gkey, tuple) and single:
                    gkey = gkey[0]
                gkey = _norm_nan(gkey)
                vals = sub[value_col].dropna()
                if not len(vals):
                    continue
                # hash once per seed, not once per filter: the murmur
                # pass dominates and is identical across same-seed filters
                pairs = {s: hashing.hash64_pair(vals, s) for s in seeds}
                for fkey, bf in local.items():
                    h1, h2 = pairs[bf.seed]
                    hits = int(bf.contains_from_hash_pair(h1, h2).sum())
                    slot = agg[fkey]
                    if fkey == gkey:
                        slot[0] += len(vals)
                        slot[1] += len(vals) - hits  # misses = false negatives
                    else:
                        slot[2] += len(vals)
                        slot[3] += hits
        rows = []
        for fkey, v in agg.items():
            if any(v):
                kt = fkey if isinstance(fkey, tuple) else (fkey,)
                rows.append((*kt, *v))
        if rows:
            yield pd.DataFrame(rows, columns=[*group_cols, "own", "fn",
                                              "probes", "fp"])

    partials = sel.mapInPandas(probe, counts_schema)
    return (partials.groupBy(*group_cols)
            .agg(F.sum("own").alias("n_keys"),
                 F.sum("fn").alias("false_negatives"),
                 F.sum("probes").alias("probes"),
                 F.sum("fp").alias("false_positives"))
            .withColumn("measured_fpr",
                        F.when(F.col("probes") > 0,
                               F.col("false_positives") / F.col("probes"))
                        .otherwise(F.lit(None)))
            .withColumn("designed_p", F.lit(designed_p)))


def accuracy_table(df: DataFrame, group_cols: list[str], specs,
                   quantile_rank_bound: float = 0.05) -> DataFrame:
    """Per-group est-vs-exact error table for distinct and quantile
    sketches — the reference's FPR validation loop (main.py:166-193)
    generalized to the other kernels, as a DataFrame an operator can
    gate a pipeline on.

    Per spec kind:
    - hll / theta / sample: metric = distinct relative error;
      bound = 4 sigma of the kernel's published error (1.04/sqrt(2^b)
      for HLL, 1/sqrt(k-2) for the KMV family).
    - kll / tdigest: metric = RANK error of the estimated median —
      the exact rank of sketch_quantile(0.5) must sit within
      ``quantile_rank_bound`` of 0.5 (rank error is the quantity these
      sketches bound; value-space error is data-dependent).
    - wsample: metric = relative error of the weighted-total
      estimate ((k-1)/key_k) vs the exact sum over distinct values of
      their max weight; bound = 4/sqrt(k-2) (same KMV error shape).
    - bloom: use ``bloom_validate`` (FPR semantics need probe sets);
      cms / countsketch: use their top-k companion queries.

    Plan shape: one exact aggregation pass over df (partial-agg
    friendly) + the sketch table (<= #groups rows, the estimates read
    out in the build's own fold) + one rank join for the quantile
    kinds. A NaN group key is the null group, as in the build.
    Output: (group_cols..., sketch_name, kind, metric, est, exact,
    err, bound, within_bound).
    """
    from sketchlib.spark.build import _nan_keys_as_null, build_sketches

    distinct_kinds = {"hll", "theta", "sample"}
    quantile_kinds = {"kll", "tdigest"}
    todo = [s for s in specs
            if s.kind in distinct_kinds | quantile_kinds | {"wsample"}]
    if not todo:
        raise ValueError("accuracy_table needs hll/theta/sample/kll/"
                         "tdigest/wsample specs; bloom has bloom_validate")
    df = _nan_keys_as_null(df, group_cols)
    merged = build_sketches(df, group_cols, todo, readout=[
        sqlfuncs.readout("__est", sqlfuncs.sketch_estimate),
        sqlfuncs.readout("__q50", sqlfuncs.sketch_quantile, 0.5)])

    def _bound(spec) -> float:
        if spec.kind == "hll":
            return 4 * 1.04 / (1 << spec.params.get("b", 12)) ** 0.5
        k = spec.params.get("k", 4096 if spec.kind == "theta" else 1024)
        return 4.0 / (max(k - 2, 1)) ** 0.5

    dist_specs = [s for s in todo if s.kind in distinct_kinds]
    quant_specs = [s for s in todo if s.kind in quantile_kinds]
    wsample_specs = [s for s in todo if s.kind == "wsample"]
    out = []

    def _join_groups(left, right):
        """Null-safe group join: the build groups with dropna=False,
        so null-key groups are first-class and must not vanish from
        the accuracy table through a null-unsafe equi-join."""
        r = right
        for c in group_cols:
            r = r.withColumnRenamed(c, f"__g_{c}")
        cond = None
        for c in group_cols:
            e = left[c].eqNullSafe(r[f"__g_{c}"])
            cond = e if cond is None else (cond & e)
        return left.join(r, cond).drop(*[f"__g_{c}" for c in group_cols])

    if dist_specs:
        # ONE exact aggregation pass covers every distinct-kind spec —
        # multiple countDistinct columns share the scan (specs often
        # share a value_col too: hll+theta over the same column)
        cols = sorted({s.value_col for s in dist_specs})
        exact = df.groupBy(*group_cols).agg(
            *[F.countDistinct(c).alias(f"__ex_{c}") for c in cols])
        for spec in dist_specs:
            est = (merged.filter(F.col("sketch_name") == spec.name)
                   .select(*group_cols, "sketch_name",
                           F.col("__est").alias("est")))
            ex = F.col(f"__ex_{spec.value_col}")
            out.append(
                _join_groups(est, exact)
                .withColumn("err", F.abs(F.col("est") - ex) / ex)
                .withColumn("bound", F.lit(float(_bound(spec))))
                .select(*group_cols, "sketch_name",
                        F.lit(spec.kind).alias("kind"),
                        F.lit("distinct_rel_err").alias("metric"),
                        "est", ex.cast("double").alias("exact"),
                        "err", "bound",
                        (F.col("err") <= F.col("bound"))
                        .alias("within_bound")))

    # quantile kinds: group by value_col so each column's rows are
    # scanned ONCE for all specs over it (kll+tdigest over n_chars =
    # one join, not two) — the est side is <= #groups x #specs rows
    by_col: dict = {}
    for spec in quant_specs:
        by_col.setdefault(spec.value_col, []).append(spec)
    for vcol, col_specs in by_col.items():
        # one filter of the sketch table for all specs over the column
        # (not a union of per-spec reads, each its own Python operator)
        kind = F.create_map(*[F.lit(x) for s in col_specs
                              for x in (s.name, s.kind)])
        ests = (merged.filter(F.col("sketch_name")
                              .isin([s.name for s in col_specs]))
                .select(*group_cols, "sketch_name",
                        kind[F.col("sketch_name")].alias("kind"),
                        F.col("__q50").alias("est")))
        vals = (df.select(*group_cols, F.col(vcol).alias("_v"))
                .dropna(subset=["_v"]))
        ranked = (_join_groups(ests, vals)
                  .groupBy(*group_cols, "sketch_name", "kind", "est")
                  .agg(F.avg((F.col("_v") <= F.col("est"))
                             .cast("double")).alias("exact"),
                       F.avg((F.col("_v") < F.col("est"))
                             .cast("double")).alias("_lo")))
        # tied data makes the median's rank an INTERVAL
        # [P(v < est), P(v <= est)]; an exact median on a column with
        # heavy ties has 0.5 inside that interval even though the <=
        # endpoint alone sits far above 0.5 — measure the distance
        # from 0.5 to the interval, not to the endpoint
        err = (F.when((F.col("_lo") <= 0.5) & (F.col("exact") >= 0.5),
                      F.lit(0.0))
               .otherwise(F.least(F.abs(F.col("_lo") - 0.5),
                                  F.abs(F.col("exact") - 0.5))))
        out.append(ranked
                   .withColumn("err", err).drop("_lo")
                   .withColumn("bound", F.lit(float(quantile_rank_bound)))
                   .select(*group_cols, "sketch_name", "kind",
                           F.lit("median_rank_err").alias("metric"),
                           "est", "exact", "err", "bound",
                           (F.col("err") <= F.col("bound"))
                           .alias("within_bound")))
    for spec in wsample_specs:
        # exact total weight over DISTINCT values (max weight per
        # value — the kernel's own lattice semantics): one pre-agg on
        # (group, value) then a per-group sum
        exw = (df.select(*group_cols, F.col(spec.value_col).alias("_v"),
                         F.col(spec.weight_col).cast("double").alias("_w"))
               .dropna(subset=["_v", "_w"])
               .groupBy(*group_cols, "_v").agg(F.max("_w").alias("_mw"))
               .groupBy(*group_cols).agg(F.sum("_mw").alias("__exw")))
        est = (merged.filter(F.col("sketch_name") == spec.name)
               .select(*group_cols, "sketch_name",
                       F.col("__est").alias("est")))
        k = spec.params.get("k", 1024)
        bound = 4.0 / (max(k - 2, 1)) ** 0.5
        ex = F.col("__exw")
        out.append(
            _join_groups(est, exw)
            .withColumn("err", F.abs(F.col("est") - ex) / ex)
            .withColumn("bound", F.lit(float(bound)))
            .select(*group_cols, "sketch_name",
                    F.lit("wsample").alias("kind"),
                    F.lit("weight_total_rel_err").alias("metric"),
                    "est", ex.cast("double").alias("exact"),
                    "err", "bound",
                    (F.col("err") <= F.col("bound")).alias("within_bound")))

    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res
