"""Text-analysis / dedup operators for training-data pipelines.

All operators follow the same execution posture as the sketch build:
JVM-side DataFrame ops where Spark's built-ins express the semantics
(exact dedup, token counts, quality ratios, content fingerprints),
Arrow-batched pandas UDFs with numpy kernels where they don't (minhash
signatures, simhash). Never per-row Python.

Dedup ladder (each a separate operator, composable):
  exact        — groupBy(md5(text))                      [built-ins only]
  minhash LSH  — shingle -> minhash sig -> band buckets -> bucket join
  simhash      — 64-bit weighted-bit signature, hamming cand. pairs
  n-gram exact — word-shingle Jaccard via explode + self-join [built-ins]
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
import pyspark.sql.functions as F
from pyspark.sql.types import (ArrayType, BinaryType, LongType, StringType,
                               StructField, StructType)

from sketchlib.core import hashing
from sketchlib.spark.dfutil import materialize


# ---------------------------------------------------------------------------
# exact dedup + n-gram Jaccard — pure DataFrame compositions
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct text: (text_md5, keep_id=min id, n_copies).

    NULL texts are excluded: md5(NULL) is NULL, and grouping on it
    would cluster every no-text doc as "duplicates" of each other and
    keep exactly one — the same wrong semantics the minhash/simhash
    paths explicitly refuse for null/short docs."""
    return (df.filter(F.col(text_col).isNotNull())
            .select(F.md5(F.col(text_col).cast("binary")).alias("text_md5"),
                    F.col(id_col))
            .groupBy("text_md5")
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_copies")))


def dedup_clusters(pairs: DataFrame, a_col: str = "a_id",
                   b_col: str = "b_id", max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair list: (doc_id,
    cluster_id) with cluster_id = the smallest doc id reachable through
    the pair graph. ``keep = (doc_id == cluster_id)`` is the canonical
    keep-one-per-cluster rule downstream of any pair generator (exact
    md5, n-gram Jaccard, MinHash-LSH, SimHash, embedding cosine).

    Min-label propagation WITH pointer jumping: each round every node
    (1) takes the min of its own and its neighbors' labels, then
    (2) shortcuts to its label's label (``label(label(v))``) — the
    classic pointer-doubling step, sound because a label is always the
    id of a node in the same component, so the label's label is too.
    Propagation distance better than doubles per round (d -> 2d + 2),
    so rounds needed grow with log(diameter), not diameter — a
    10^6-long path converges in ~20 rounds instead of 10^6. Converged
    when no label changes; raises after ``max_iter`` rather than
    looping forever. Only nodes that appear in ``pairs`` are emitted
    (singletons are trivially their own cluster and never shuffle).

    Every round's labels are eagerly checkpointed (``materialize``:
    reliable checkpoint when the session has a checkpoint dir, local
    otherwise): the pointer jump is a SELF-join (labels referenced
    twice), so without lineage truncation the logical plan would
    double each round and planning itself would blow up after ~10
    rounds; local-checkpoint blocks from prior rounds are released by
    the ContextCleaner when their DataFrames go out of scope.
    """
    edges = materialize(
        pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
        .union(pairs.select(F.col(b_col).alias("src"),
                            F.col(a_col).alias("dst")))
        .distinct())
    labels = materialize(edges.select(F.col("src").alias("node")).distinct()
                         .withColumn("label", F.col("node")))
    for _ in range(max_iter):
        nbr_min = (edges.join(labels, edges["src"] == labels["node"])
                   .groupBy(F.col("dst").alias("node"))
                   .agg(F.min("label").alias("nbr_label")))
        # (1) neighbor-min — materialized: the shortcut self-join below
        # reads it twice and must not double the lineage
        tent = materialize(
            labels.join(nbr_min, "node", "left")
            .select("node",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label")))
        # (2) pointer jump: label(v) <- min(label(v), label(label(v)))
        t, p = tent.alias("t"), tent.alias("p")
        new_labels = materialize(
            t.join(p, F.col("t.label") == F.col("p.node"), "left")
            .select(F.col("t.node").alias("node"),
                    F.least(F.col("t.label"),
                            F.coalesce(F.col("p.label"),
                                       F.col("t.label")))
                    .alias("label")))
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "node")
                   .filter(F.col("n.label") != F.col("o.label")).count())
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dedup_clusters did not converge within {max_iter} rounds — "
            "with pointer jumping the covered propagation distance "
            "exceeds 2^rounds, so this means max_iter is set very low "
            "for the graph's diameter; raise max_iter")
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def _shingle_expr(tokens_col, n: int):
    """Word-n-gram expression over a token-array column: shingle i
    spans tokens [i, i+n). Shared by ngram_jaccard_pairs (n=3) and
    repetition_scores (n=2) so tokenize/bounds fixes stay in lockstep.
    Caller must pre-filter docs with fewer than n tokens
    (sequence(0, negative) descends)."""
    return F.transform(F.sequence(F.lit(0), F.size(tokens_col) - n),
                       lambda i: F.concat_ws(" ", F.slice(tokens_col,
                                                          i + 1, n)))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_shingle_freq: int | None = 1000) -> DataFrame:
    """Exact word-n-gram Jaccard similar pairs via shingle self-join.

    The shingle->join plan is the exact counterpart of MinHash LSH:
    explode distinct shingles, join docs sharing one, count the
    intersection, Jaccard = inter / (|A| + |B| - inter).
    ``max_shingle_freq`` drops ubiquitous shingles before the JOIN
    (skew guard — a shingle shared by f docs creates f^2 join rows;
    an unbounded boilerplate shingle is a job-killer at scale). The
    default 1000 bounds any single shingle's fan-out to 1e6 rows.
    Set sizes are computed from the FULL (pre-cap) shingle sets, so
    the cap can only shrink the measured intersection — a strictly
    recall-only effect (reported Jaccard is never inflated): a pair
    is missed only if ALL of its shared shingles are
    boilerplate-frequent, and at Jaccard >= 0.5 such pairs are
    overwhelmingly boilerplate themselves; pass ``None`` to disable.

    ``id_col`` must be unique per row (it is the dedup subject's
    key): per-doc shingle sets are deduplicated doc-locally, so two
    input rows sharing an id would keep separate (double-counted)
    sets rather than merging.

    Not lazy: the call itself runs Spark jobs. It materializes the
    per-doc shingle-hash table (``materialize``: a checkpoint, or a
    local checkpoint), and for integer ids it runs a min/max bounds
    aggregate over that table (``.first()``) to choose the packed
    pair key. The DataFrame it returns runs the join when acted on.
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    # Per-doc distinct shingles computed DOC-LOCALLY (array_distinct on
    # the shingle array — no shuffle), then reduced to 64-bit xxhash64
    # identities so everything downstream (cap window, self-join, pair
    # groupBy) shuffles 8-byte longs instead of ~30-byte strings
    # (guide §2.3 narrower types / shuffle keys not payloads). The
    # round-5 plan exploded + DISTINCTed the corpus FOUR times (one
    # tokenize+explode+distinct subtree per self-join side and per
    # sizes branch — AQE's broadcast conversion defeated the intended
    # exchange reuse); materializing the per-doc hash arrays once
    # collapses that to a single narrow pass. Set sizes are exact
    # (distinct on the STRING shingles, doc-local); 64-bit identity
    # collisions in the intersection are ~|sh_A|x|sh_B|/2^64 — the same
    # negligible-noise posture as the minhash kernel's shingle
    # identities. Docs with fewer than n tokens are filtered BEFORE the
    # sequence/slice expressions (sequence(0, negative) descends).
    from sketchlib.spark.dfutil import ensure_min_parallelism
    base = materialize(
        ensure_min_parallelism(df.select(F.col(id_col).alias("doc"),
                                         F.col(text_col)))
        .select("doc", toks.alias("t"))
        .filter(F.size(F.col("t")) >= n)
        .select("doc",
                F.transform(F.array_distinct(_shingle_expr(F.col("t"), n)),
                            lambda s: F.xxhash64(s)).alias("hs")))
    # TRUE per-doc set sizes from the PRE-cap sets: computing them
    # after the frequency cap inflated Jaccard for boilerplate-heavy
    # docs (both sides shrink, intersection over tiny sets reads ~1.0)
    # and emitted false-positive pairs — the cap must only LOWER the
    # measured intersection (recall-only)
    sizes = base.select("doc", F.size("hs").alias("sz"))
    # sz rides along each exploded row (8 bytes through the cap
    # exchange) so the pair kernel below needs no sizes join at all
    sh = base.select("doc", F.size("hs").alias("sz"),
                     F.explode("hs").alias("shingle"))
    shj = sh
    if max_shingle_freq is not None:
        # skew cap as a WINDOW over one shingle-partitioned exchange:
        # the self-join below joins on the same key, and the merge
        # hint keeps it a sort-merge join so both branches REUSE this
        # exchange (AQE's broadcast conversion would otherwise
        # recompute + broadcast the whole capped side)
        shj = (sh.withColumn("_f",
                             F.count("*").over(Window.partitionBy("shingle")))
               .filter(F.col("_f") <= max_shingle_freq).drop("_f"))
    a = shj.alias("a")
    b = shj.hint("merge").alias("b")
    # exact length filter (AllPairs/PPJoin): J(A,B) <= min/max of the
    # set sizes, so min >= t*max is necessary for J >= t — evaluated
    # inside the join, it drops co-occurrence rows before they hit the
    # pair exchange. The 1e-9 slack covers the one-ulp case where
    # t*max rounds up past an exactly-boundary min (kept rows are
    # re-checked exactly by the final jaccard filter, so slack can
    # only add rows to the intermediate, never change the result).
    joined = a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                    & (F.col("a.doc") < F.col("b.doc"))
                    & (F.least(F.col("a.sz"), F.col("b.sz"))
                       >= F.greatest(F.col("a.sz"), F.col("b.sz"))
                       * F.lit(float(threshold)) - F.lit(1e-9)))
    # Pair counting is the dominant stage on boilerplate-heavy corpora:
    # sum_sh f(f-1)/2 co-occurrence rows feed a groupBy whose group
    # count is nearly the row count (114M distinct pairs from 127M
    # rows at sf1.0 — partial aggregation buys ~nothing). Packing the
    # pair into ONE long (a_id << 32 | b_id) measurably cuts the
    # aggregate's hash+shuffle cost (~1.6x: one 8-byte key vs two);
    # only taken when ids are integral and provably fit 31 bits
    # unsigned — the bounds probe is one tiny aggregate over the
    # materialized base, and the general-id fallback (string ids too)
    # keeps the operator total.
    packable = dict(df.dtypes)[id_col] in ("tinyint", "smallint", "int",
                                           "bigint")
    if packable:
        bounds = base.agg(F.min("doc").alias("lo"),
                          F.max("doc").alias("hi")).first()
        packable = (bounds["lo"] is not None and bounds["lo"] >= 0
                    and bounds["hi"] < (1 << 31))
    if packable:
        # Pair counting over ONE packed long (a_id<<32 | b_id), with
        # the two set sizes riding as a second packed long so no sizes
        # join touches the huge intermediate: the pair aggregate's
        # group count ~= its row count on boilerplate-heavy corpora
        # (114M groups from 127M co-occurrence rows at sf1.0 — partial
        # aggregation buys ~nothing), and one 8-byte group key measured
        # ~1.6x faster than the two-column groupBy. min(_s) is
        # constant per pair (sizes are a function of the pair), so the
        # aggregate is exact. KEPT ALL-JVM deliberately: a numpy
        # sort+count kernel was ~25% faster in a fresh session but the
        # 100M-row Arrow hand-off runs 3-4x slower once any earlier
        # query has pushed variable-length batches through the Python
        # boundary (see OPTIMIZATION_r06.md "Arrow-transfer
        # degradation"), which made it a net loss in the real suite.
        inter = (joined
                 .select((F.col("a.doc") * F.lit(1 << 32)
                          + F.col("b.doc")).alias("_p"),
                         (F.col("a.sz") * F.lit(1 << 32)
                          + F.col("b.sz")).alias("_s"))
                 .groupBy("_p").agg(F.count("*").alias("inter"),
                                    F.min("_s").alias("_s"))
                 .select(F.shiftright("_p", 32).alias("a_id"),
                         (F.col("_p") % F.lit(1 << 32)).alias("b_id"),
                         "inter",
                         F.shiftright("_s", 32).alias("sz_a"),
                         (F.col("_s") % F.lit(1 << 32)).alias("sz_b")))
        return (inter
                .withColumn("jaccard", F.col("inter")
                            / (F.col("sz_a") + F.col("sz_b")
                               - F.col("inter")))
                .filter(F.col("jaccard") >= threshold)
                .select("a_id", "b_id",
                        F.round("jaccard", 4).alias("jaccard")))
    inter = (joined
             .groupBy(F.col("a.doc").alias("a_id"),
                      F.col("b.doc").alias("b_id"))
             .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc").alias("a_id"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("b_id"), F.col("sz").alias("sz_b"))
    return (inter.join(sa, "a_id").join(sb, "b_id")
            .withColumn("jaccard", F.col("inter")
                        / (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard")))


# ---------------------------------------------------------------------------
# MinHash + LSH — numpy kernel in mapInPandas
# ---------------------------------------------------------------------------

def _flat_tokens(texts: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Explode a text batch to (doc_position int64[], token object[]) with
    empty tokens dropped — pandas C-speed, no per-doc Python loop.
    Tokens stay in doc order (doc positions are non-decreasing)."""
    toks = (texts.reset_index(drop=True).fillna("").astype(str)
            .str.split(" ").explode())
    toks = toks[toks != ""]
    return toks.index.to_numpy(dtype=np.int64), toks.to_numpy()


_SHINGLE_MIX = np.uint64(0x9E3779B97F4A7C15)


def _minhash_batch(texts: pd.Series, n_hashes: int, shingle_n: int,
                   seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(uint64[n_docs, n_hashes] signatures, bool[n_docs] valid).

    Docs with fewer than shingle_n tokens have NO signature (valid=False)
    — emitting the untouched max-sentinel would make every short doc an
    exact duplicate of every other short doc.

    Fully vectorized, and shingles are never materialized as strings:
    each DISTINCT token is murmur-hashed once (factorize → hash the
    vocabulary, gather), then a shingle's 64-bit identity is the
    order-sensitive multiply-xor combine of its token hashes — ~2x
    faster than building + hashing shingle strings, identical estimator
    semantics (per-doc shingle dedup happens on the 64-bit identity;
    collisions at batch scale are ~n²/2⁶⁴, noise far below the 1/√k
    estimator error). Per-doc signature minima via
    ``np.minimum.reduceat`` over doc-sorted runs (hash columns
    processed in chunks to bound the (n_shingles x chunk) temporary).
    """
    n_docs = len(texts)
    sig = np.full((n_docs, n_hashes), np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
    valid = np.zeros(n_docs, dtype=bool)
    doc_of, flat = _flat_tokens(texts)
    if len(flat) < shingle_n:
        return sig, valid
    codes, vocab = pd.factorize(pd.Series(flat))
    th = hashing.hash64(vocab.to_numpy(), seed)[codes]
    # shingle i spans tokens [i, i+n): valid iff same doc at both ends
    span = len(flat) - shingle_n + 1
    same_doc = doc_of[:span] == doc_of[shingle_n - 1:]
    with np.errstate(over="ignore"):
        acc = th[:span].copy()
        for j in range(1, shingle_n):
            acc = acc * _SHINGLE_MIX ^ th[j:j + span]
    d, acc = doc_of[:span][same_doc], acc[same_doc]
    if not len(d):
        return sig, valid
    # distinct shingles per doc: sort by (doc, identity), drop repeats
    order = np.lexsort((acc, d))
    ds, hs = d[order], acc[order]
    keep = np.r_[True, (ds[1:] != ds[:-1]) | (hs[1:] != hs[:-1])]
    sh_doc, sh_h = ds[keep], hs[keep]
    valid[np.unique(sh_doc)] = True
    with np.errstate(over="ignore"):
        h1 = hashing.mix64(sh_h)
        h2 = hashing.mix64(sh_h ^ _SHINGLE_MIX) | np.uint64(1)
    # runs are doc-contiguous after the sort: reduceat segment starts
    starts = np.flatnonzero(np.r_[True, sh_doc[1:] != sh_doc[:-1]])
    run_docs = sh_doc[starts]
    chunk = max(1, min(n_hashes, (1 << 22) // max(1, len(h1))))
    with np.errstate(over="ignore"):
        for c0 in range(0, n_hashes, chunk):
            i = np.arange(c0, min(c0 + chunk, n_hashes), dtype=np.uint64)
            hv = h1[:, None] + i[None, :] * h2[:, None]
            sig[run_docs, c0:c0 + len(i)] = np.minimum.reduceat(hv, starts, axis=0)
    return sig, valid


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n_hashes: int = 128, shingle_n: int = 3,
                       seed: int = 7) -> DataFrame:
    """(id, sig: array<bigint>) — one minhash signature per doc."""
    from sketchlib.spark.dfutil import ensure_min_parallelism
    schema = StructType([
        StructField("doc_id_mh", LongType(), False),
        StructField("sig", ArrayType(LongType()), False),
    ])
    # the signature kernel is the query's compute floor; a small local
    # parquet gives the scan 1-3 splits, so spread it (no-op when the
    # input already has >= defaultParallelism splits). Signatures are
    # per-doc, so batch composition cannot change them.
    sel = ensure_min_parallelism(
        df.select(F.col(id_col).cast("long").alias("_id"), text_col))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sig, valid = _minhash_batch(pdf[text_col], n_hashes, shingle_n, seed)
            if not valid.any():
                continue
            yield pd.DataFrame({
                "doc_id_mh": pdf["_id"].to_numpy()[valid],
                "sig": list(sig[valid].view(np.int64)),
            })

    return sel.mapInPandas(fn, schema)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 128, bands: int = 32,
                      shingle_n: int = 3, threshold: float = 0.5,
                      seed: int = 7,
                      signatures: DataFrame | None = None) -> DataFrame:
    """Near-dup candidate pairs via banded LSH, verified by signature
    Jaccard estimate >= threshold.

    Scale path: docs never pair all-vs-all — candidates come from an
    equi-join on (band index, band hash), i.e. a hash-partitioned
    shuffle on small keys. est_jaccard = fraction of equal signature
    components (unbiased estimator of true Jaccard).

    The signature plan feeds three join sides; by default it is
    materialized ONCE via an eager checkpoint (``materialize``:
    reliable when a checkpoint dir is set — survives executor loss on
    a real cluster — else local; signatures are 8*n_hashes bytes/doc).
    Unlike ``.cache()``, local-checkpoint blocks belong to the
    returned plan, not the session's cache manager — the
    ContextCleaner releases them when the result is garbage-collected,
    so no cached table leaks into the session. Note the materialization
    runs WHEN THIS FUNCTION IS CALLED; at pipeline scale, materialize
    ``minhash_signatures`` to a table yourself and pass it via
    ``signatures``.
    """
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows_per_band = n_hashes // bands
    if signatures is None:
        signatures = materialize(minhash_signatures(
            df, id_col, text_col, n_hashes, shingle_n, seed))
    sigs = signatures.withColumnRenamed("doc_id_mh", "doc")

    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    # xxhash64 consumes the sliced array DIRECTLY (HashExpression
    # recurses into array elements): the former .cast("string")
    # formatted 4 bigints into a string per (doc, band) — measured as
    # the dominant cost of the banding stage, run once per join side
    # (guide §4.1: prefer built-ins, but also don't pay for string
    # round-trips inside them). Bucket equality semantics are
    # unchanged: equal slices hash equal either way; collisions remain
    # ~2^-64 noise below the est_jaccard verification filter.
    # shuffle_hash: the statless (ExistingRDD-rooted) banded side made
    # the planner BROADCAST all #docs x bands rows — a driver collect
    # + hash build of the whole index per run; the shuffled hash join
    # keeps it distributed and the identical self-join subtrees share
    # one Exchange (ReusedExchange), so banding is computed once.
    banded = (sigs.select("doc", "sig", band_idx)
              .select("doc", "band",
                      F.xxhash64(F.slice("sig", F.col("band") * rows_per_band + 1,
                                         rows_per_band))
                      .alias("bucket"))
              .hint("shuffle_hash"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc") < F.col("b.doc")))
            .select(F.col("a.doc").alias("a_id"), F.col("b.doc").alias("b_id"))
            .distinct())
    # verification joins broadcast the CANDIDATE side (bounded by the
    # near-dup pair count), never the signature table — the planner's
    # choice was to collect + ship the full #docs x n_hashes signature
    # relation for BOTH joins (tens of MB per run at sf1.0)
    sa = sigs.select(F.col("doc").alias("a_id"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("b_id"), F.col("sig").alias("sig_b"))
    with_a = sa.join(F.broadcast(cand), "a_id")
    est = (sb.join(F.broadcast(with_a), "b_id")
           .withColumn("est_jaccard", F.expr(
               "aggregate(zip_with(sig_a, sig_b, (x, y) -> IF(x = y, 1, 0)),"
               " 0, (acc, v) -> acc + v)") / F.lit(n_hashes)))
    return (est.filter(F.col("est_jaccard") >= threshold)
            .select("a_id", "b_id", F.round("est_jaccard", 4).alias("est_jaccard")))


# ---------------------------------------------------------------------------
# SimHash — numpy kernel in mapInPandas
# ---------------------------------------------------------------------------

def _simhash_batch(texts: pd.Series, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(int64[n_docs] simhash, bool[n_docs] valid).

    Null/empty docs are invalid (emitting simhash 0 for all of them
    would pair every empty doc as a hamming-0 duplicate)."""
    n_docs = len(texts)
    out_bits = np.zeros((n_docs, 64), dtype=np.uint8)
    valid = np.zeros(n_docs, dtype=bool)
    doc_idx, tokens = _flat_tokens(texts)
    if len(tokens):
        valid[np.unique(doc_idx)] = True
        # hash the batch VOCABULARY once, gather per occurrence (same
        # move as the minhash kernel — vocab << occurrences)
        codes, vocab = pd.factorize(pd.Series(tokens))
        h = hashing.hash64(vocab.to_numpy(), seed)[codes]
        bits = np.unpackbits(h[:, None].view(np.uint8), axis=1,
                             bitorder="little")  # (n_tok, 64) uint8
        # tokens are doc-contiguous: per-doc set-bit counts via reduceat
        # (majority vote: bit set iff 2*count_set > n_tokens — identical
        # to the +-1 vote sum being > 0, without 16M-element int64 temps)
        starts = np.flatnonzero(np.r_[True, doc_idx[1:] != doc_idx[:-1]])
        seg_len = np.diff(np.r_[starts, len(doc_idx)])
        sums = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
        out_bits[doc_idx[starts]] = (2 * sums > seg_len[:, None])
    sh = np.packbits(out_bits, axis=1, bitorder="little").view(np.uint64)[:, 0].view(np.int64)
    return sh, valid


def simhash(df: DataFrame, id_col: str, text_col: str, seed: int = 11) -> DataFrame:
    """(id, simhash: bigint) — order-independent 64-bit near-dup signature."""
    from sketchlib.spark.dfutil import ensure_min_parallelism
    schema = StructType([
        StructField("doc", LongType(), False),
        StructField("simhash", LongType(), False),
    ])
    # spread the kernel across cores when the scan has few splits
    # (no-op at cluster split counts); simhash is per-doc, so batch
    # composition cannot change it
    sel = ensure_min_parallelism(
        df.select(F.col(id_col).cast("long").alias("_id"), text_col))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            sh, valid = _simhash_batch(pdf[text_col], seed)
            if not valid.any():
                continue
            yield pd.DataFrame({"doc": pdf["_id"].to_numpy()[valid],
                                "simhash": sh[valid]})

    return sel.mapInPandas(fn, schema)


def simhash_candidate_pairs(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3, seed: int = 11,
                            signatures: DataFrame | None = None) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming, for
    ``max_hamming`` in 0..7 (ValueError otherwise: at 8 and above
    every pair would be a candidate).

    Multi-index over 8x8-bit chunks: hamming <= h damages at most h
    chunks, so the pair agrees exactly on some (8-h)-subset of them.
    Candidates come from one equi-join on every such subset, never a
    cross join, and an exact hamming filter follows, so the result is
    exact for every h. Signatures are materialized once at call time
    via an eager checkpoint (``materialize``; 8 bytes/doc;
    local-checkpoint blocks are released by the ContextCleaner with
    the result, nothing left in the session's cache manager); pass a
    materialized ``signatures`` table at pipeline scale.
    """
    if not 0 <= max_hamming <= 7:
        raise ValueError(f"max_hamming must be in 0..7, got {max_hamming}")
    sh = signatures if signatures is not None else materialize(
        simhash(df, id_col, text_col, seed))
    # each of the C(8, 8-h) subsets is ONE packed long key: subset id,
    # then its 8-h chunk bytes (shifts, not products: at h=0 the eight
    # bytes fill all 64 bits). The keys are wide (~46 bits at h=3), not
    # 16-bit bands: a 4x16 banding's hot 16-bit buckets (3460 docs in
    # one bucket at sf1.0) fanned out f^2/2 = 21.5M matched rows per
    # query; these buckets only collide for genuinely near-equal
    # signatures, so the join output is ~the true pair set (guide §2.5
    # hot keys / §1.2 fix the distributed algorithm first).
    from itertools import combinations
    byte = [F.shiftright("simhash", 8 * i).bitwiseAND(F.lit(0xFF))
            for i in range(8)]
    keys = []
    for ci, combo in enumerate(combinations(range(8), 8 - max_hamming)):
        k = F.lit(ci).cast("long")
        for j in combo:
            k = F.shiftleft(k, 8).bitwiseOR(byte[j])
        keys.append(k)
    # shuffle_hash: the subset-index side is ~56x the doc count — an
    # auto-picked broadcast join would collect + hash-build those
    # millions of rows on the driver (measured 6s at sf1.0); a
    # shuffled hash join keeps both sides distributed AND the
    # identical self-join subtrees share one Exchange
    # (ReusedExchange), so the key explode is computed once.
    chunks = sh.select("doc", "simhash",
                       F.explode(F.array(*keys)).alias("val")) \
        .hint("shuffle_hash")
    a = chunks.alias("a")
    b = chunks.alias("b")
    # the hamming predicate lives IN the join so it runs codegen-side on
    # each matched row BEFORE the distinct: a hot 16-bit chunk value
    # shared by f docs fans out f^2/2 matches (21.5M rows at sf1.0,
    # top bucket 3460 docs), and shuffling those through the distinct
    # Exchange dominated the query (guide §2.3 "aggregate before you
    # shuffle" / §2.5 hot keys). Post-filter survivors are just the
    # near-dup pairs (~1e4), so the distinct is now a no-op-sized
    # shuffle. Result rows are identical: hamming is a pure function of
    # the pair, so filtering before vs after dedup commutes.
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    cand = (a.join(b, (F.col("a.val") == F.col("b.val"))
                   & (F.col("a.doc") < F.col("b.doc"))
                   & (hamming <= max_hamming))
            .select(F.col("a.doc").alias("a_id"), F.col("b.doc").alias("b_id"),
                    hamming.alias("hamming"))
            .distinct())
    return cand.select("a_id", "b_id", "hamming")


# ---------------------------------------------------------------------------
# quality / token stats / lang-id / fingerprint
# ---------------------------------------------------------------------------

def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_tokens) via built-in split — stays in whole-stage codegen.
    Tokenizer = single-space split, empty tokens dropped (library-wide)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    return df.select(F.col(id_col),
                     F.size(toks).cast("long").alias("n_tokens"))


# GPT-2-style pre-tokenizer, restricted to lookahead-free syntax so the
# SAME pattern runs in Java regex (Spark, JVM-side) and RE2 (DuckDB
# oracle): contractions | space?+letters | space?+digits | space?+punct.
BPE_SPLIT_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def token_counts_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, n_bpe_tokens) — BPE-ish pre-tokenizer piece counts, fully
    JVM-side via regexp_extract_all (whole-stage codegen; no Python).
    Counts pre-tokenizer pieces (the unit BPE merges operate within),
    a standard proxy for LLM token budgeting at corpus scale."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_PATTERN), 0)
    return df.select(F.col(id_col),
                     F.size(pieces).cast("long").alias("n_bpe_tokens"))


# PII patterns — lookahead-free so the SAME strings run in Java regex
# (Spark) and RE2 (DuckDB oracle), like BPE_SPLIT_PATTERN above.
PII_PATTERNS = (
    # order is semantic: emails first (their digits must not half-match
    # the phone pattern), IPv4 before phone (dotted quads ARE a valid
    # phone-pattern match otherwise)
    ("email", r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b"),
    ("phone", r"\+?[0-9][0-9()\-\. ]{7,}[0-9]"),
)


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, text_scrubbed, n_redactions) — standard curation scrub:
    emails / phone-ish numbers / IPv4s replaced by typed placeholders,
    fully JVM-side (chained regexp_replace + regexp_count, whole-stage
    codegen; no Python). Patterns are shared verbatim with the DuckDB
    oracle. Order matters: emails first so their digits never half-match
    the phone pattern; each later pattern is applied to the already-
    scrubbed text, exactly as the oracle composes them."""
    scrubbed = F.col(text_col)
    n_red = F.lit(0).cast("long")
    for name, pat in PII_PATTERNS:
        n_red = n_red + F.regexp_count(scrubbed, F.lit(pat))
        scrubbed = F.regexp_replace(scrubbed, pat, f"<{name.upper()}>")
    return df.select(F.col(id_col), scrubbed.alias("text_scrubbed"),
                     n_red.alias("n_redactions"))


def repetition_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/C4-style within-document repetition signals:
    (id, n_lines, dup_line_frac, top_bigram_frac).

    - ``dup_line_frac``: fraction of newline-separated lines that are
      duplicates of an earlier line (0.0 for single-line docs) — the
      boilerplate/navigation-chrome signal.
    - ``top_bigram_frac``: share of all word-bigram occurrences taken
      by the single most frequent bigram (NULL when the doc has < 2
      tokens) — the degenerate-repetition signal ("click here click
      here ...") used as a Gopher quality gate.

    One declarative plan, no Python: lines via split('\\n'); bigrams
    via the same sequence/slice shingle expression as
    ``ngram_jaccard_pairs`` at n=2, aggregated per doc with
    max(cnt)/sum(cnt). Both are plain groupBys on (doc, value) — at
    10^12 docs the shuffle key includes doc_id, so cardinality is
    bounded by corpus token count and partial aggregation absorbs the
    per-doc skew.
    """
    lines = F.split(F.col(text_col), "\n")
    base = df.select(F.col(id_col), F.col(text_col))
    notnull = F.col(text_col).isNotNull()
    # explicit NULL guard: legacy size(NULL) is -1, which would report
    # a null doc as n_lines=-1 / dup_line_frac=0.0 while the oracle's
    # len(NULL) is NULL
    line_stats = base.select(
        F.col(id_col),
        F.when(notnull, F.size(lines).cast("long")).alias("n_lines"),
        F.when(notnull,
               F.round((F.size(lines) - F.size(F.array_distinct(lines)))
                       / F.size(lines), 4)).alias("dup_line_frac"))
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    bi = (base.select(F.col(id_col).alias("_doc"), toks.alias("t"))
          .filter(F.size(F.col("t")) >= 2)
          .select("_doc",
                  F.explode(_shingle_expr(F.col("t"), 2)).alias("bigram")))
    top = (bi.groupBy("_doc", "bigram").agg(F.count("*").alias("cnt"))
           .groupBy("_doc")
           .agg(F.round(F.max("cnt") / F.sum("cnt"), 4)
                .alias("top_bigram_frac")))
    return (line_stats.join(top, line_stats[id_col] == top["_doc"], "left")
            .select(F.col(id_col), "n_lines", "dup_line_frac",
                    "top_bigram_frac"))


def quality_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic quality features, all with built-in functions:
    char count, token count, distinct-token ratio, mean token length."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
    n_tok = F.size(toks).cast("long")
    n_chars = F.length(F.col(text_col)).cast("long")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars_text"),
        n_tok.alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / n_tok, 4).alias("uniq_ratio"),
        # TRUE mean token length (sum of token lengths / n): the old
        # (n_chars - (n-1)) / n shortcut assumed exactly one separator
        # between tokens and mis-attributed runs of whitespace to the
        # tokens themselves
        F.round(F.aggregate(toks, F.lit(0),
                            lambda a, t: a + F.length(t)).cast("double")
                / n_tok, 4).alias("avg_token_len"),
    )


# tiny built-in stopword profiles (public common words); deterministic
_LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "in", "is", "a", "that", "for", "it"},
    "es": {"el", "la", "de", "que", "y", "en", "un", "es", "los", "por"},
    "de": {"der", "die", "und", "das", "in", "von", "zu", "den", "mit", "ist"},
    "fr": {"le", "la", "de", "et", "les", "des", "en", "un", "du", "que"},
    "pt": {"de", "a", "o", "que", "e", "do", "da", "em", "um", "para"},
    "it": {"di", "e", "il", "la", "che", "in", "un", "per", "del", "non"},
    "nl": {"de", "het", "een", "en", "van", "in", "is", "dat", "op", "te"},
}


def langid_heuristic(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Stopword-overlap language guess: (id, lang_pred, confidence).

    Pure DataFrame expression: per-profile overlap counts via
    array_intersect on the token array; argmax across a small fixed set
    of profiles. Docs matching no profile get 'und' (undetermined).
    """
    toks = F.array_distinct(F.filter(
        F.split(F.lower(F.col(text_col)), " "), lambda x: x != ""))
    scores = F.array(*[
        F.struct(
            F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in sorted(ws)])))
            .alias("score"),
            F.lit(lang).alias("lang"))
        for lang, ws in sorted(_LANG_PROFILES.items())])
    best = F.array_max(scores)
    return df.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))
        .alias("lang_pred"),
        F.round(best["score"] / F.greatest(F.size(toks), F.lit(1)), 4)
        .alias("confidence"))


# tracking params stripped by canonical_url — the industry-standard
# noise set (public convention: utm_* campaign tags + common click ids)
_TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|ref)="


def canonical_url(df: DataFrame, url_col: str,
                  out_col: str = "canonical_url") -> DataFrame:
    """Append a canonicalized URL column — the dedup key for
    crawl-style corpora where the same page hides behind scheme/case/
    tracking-param/fragment variants. Pure built-ins (one declarative
    expression, whole-stage codegen):

    - scheme and host lowercased (path case preserved — it is
      significant per RFC 3986); for scheme-less values only the
      leading host segment is case-folded
    - fragment (#...) dropped; the scheme's OWN default port dropped
      (:80 for http, :443 for https — http://h:443 stays distinct)
    - tracking params (utm_*, gclid, fbclid, msclkid, ref) removed;
      remaining query params SORTED (order-insensitive match)
    - trailing slash normalized off non-root paths

    Conservative by design: everything else (www., index.html, %XX
    case) is left alone — collapsing those wrongly merges distinct
    pages; extend per corpus if its conventions allow.
    """
    u = F.col(url_col)
    no_frag = F.split(u, "#").getItem(0)
    base = F.split(no_frag, r"\?").getItem(0)
    # query = everything after the FIRST '?' (a second '?' is legal
    # inside the query per RFC 3986 and common in crawl URLs;
    # substring_index(..., -1) would silently drop the part between
    # the two '?'s)
    query = F.when(
        F.instr(no_frag, "?") > 0,
        F.substring(no_frag, F.instr(no_frag, "?") + F.lit(1),
                    F.lit(1 << 30))).otherwise(F.lit(None))
    # scheme://host[:port] is everything through the 3rd '/' WHEN a
    # scheme is present; for scheme-less values only the first segment
    # (the host) is case-insensitive — the rest is path and stays as-is
    # protocol-relative URLs (//host/path) have the same shape as
    # scheme'd ones after the split (['', '', host, ...]) — without
    # this branch the host landed in the case-preserved tail
    has_scheme = (base.rlike(r"^[a-zA-Z][a-zA-Z0-9+.\-]*://")
                  | base.startswith("//"))
    parts = F.split(base, "/")
    n_head = F.when(has_scheme, F.lit(3)).otherwise(F.lit(1))
    head = F.concat_ws("/", F.slice(parts, F.lit(1), n_head))
    tail = F.when(F.size(parts) > n_head,
                  F.concat_ws("/", F.slice(parts, n_head + F.lit(1),
                                           F.lit(100000)))
                  ).otherwise(F.lit(None))
    # case-fold scheme and host ONLY — userinfo (user:pass@) is
    # case-sensitive per RFC 3986 §3.2.1, so http://Alice@Host/x must
    # keep 'Alice' while folding scheme+host. The host is everything
    # after the LAST '@' in the head (an unencoded '@' cannot occur
    # earlier within userinfo's grammar, and path '@'s are outside the
    # head by construction).
    host_part = F.substring_index(head, "@", -1)
    before_at = F.substring(
        head, F.lit(1), F.length(head) - F.length(host_part) - F.lit(1))
    scheme_prefix = F.regexp_extract(head, r"^[a-zA-Z][a-zA-Z0-9+.\-]*://", 0)
    userinfo = F.substring(
        before_at, F.length(scheme_prefix) + F.lit(1), F.lit(1 << 30))
    with_user = F.concat(F.lower(scheme_prefix), userinfo,
                         F.lit("@"), F.lower(host_part))
    head = F.when(F.instr(head, "@") > 0, with_user).otherwise(F.lower(head))
    # default ports are scheme-specific: http://host:443 is a distinct
    # origin from http://host and must NOT merge (and vice versa)
    head = (F.when(head.startswith("http://"),
                   F.regexp_replace(head, ":80$", ""))
            .when(head.startswith("https://"),
                  F.regexp_replace(head, ":443$", ""))
            .otherwise(head))
    path = F.when(tail.isNotNull() & (tail != ""),
                  F.concat(F.lit("/"), F.regexp_replace(tail, "/$", "")))
    kept = F.filter(
        F.split(F.coalesce(query, F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(_TRACKING_PARAM_RE))
    qs = F.array_join(F.array_sort(kept), "&")
    return df.withColumn(
        out_col,
        F.concat(head, F.coalesce(path, F.lit("")),
                 F.when(qs != "", F.concat(F.lit("?"), qs))
                 .otherwise(F.lit(""))))


def decontaminate(docs: DataFrame, id_col: str, text_col: str,
                  benchmark: DataFrame, bench_text_col: str,
                  n: int = 3) -> DataFrame:
    """Benchmark decontamination: per-doc count of word-n-grams shared
    with an evaluation corpus — the gate a training pipeline runs so
    eval answers don't leak into the training set. Returns
    (doc_id, n_hits) for EVERY doc (0 = clean).

    Exact plan: distinct doc shingles ⨝ broadcast(distinct benchmark
    shingles) -> count per doc -> left join back. The benchmark side
    is small by construction (eval sets are), so the join is
    broadcast and no doc shingle ever shuffles. The benchmark's
    distinct shingle set must therefore fit a broadcast.
    """
    def shingles(df, id_cols, text):
        # shingles reduce to 64-bit xxhash64 identities doc-locally:
        # the broadcast hash table and every probe then carry 8-byte
        # longs instead of ~30-byte strings (guide §2.3). Counts are
        # unchanged up to 64-bit collisions between a doc shingle and
        # a DIFFERENT benchmark shingle (~|dsh|x|bsh|/2^64 — noise),
        # identical on both sides since the same transform runs on both.
        toks = F.filter(F.split(F.col(text), " "), lambda t: t != "")
        return (df.withColumn("_t", toks)
                .filter(F.size("_t") >= n)
                .select(*id_cols,
                        F.explode(F.transform(
                            F.array_distinct(_shingle_expr(F.col("_t"), n)),
                            lambda s: F.xxhash64(s))).alias("sh")))

    from sketchlib.spark.dfutil import ensure_min_parallelism
    # the doc-side tokenize+shingle+hash chain is the scan-bound bulk
    # of the query; spread it when the local scan has few splits
    # (no-op at cluster split counts)
    dsh = shingles(ensure_min_parallelism(
        docs.select(F.col(id_col), F.col(text_col))),
        [F.col(id_col).alias("_id")], text_col)
    bsh = shingles(benchmark, [], bench_text_col).distinct()
    hits = (dsh.join(F.broadcast(bsh), "sh")
            .groupBy("_id").agg(F.count("*").alias("n_hits")))
    return (docs.select(F.col(id_col).alias("_id"))
            .join(hits, "_id", "left")
            .select(F.col("_id").alias(id_col),
                    F.coalesce("n_hits", F.lit(0)).alias("n_hits")))


def content_fingerprint(df: DataFrame, id_col: str,
                        text_col: str) -> DataFrame:
    """(id, fingerprint) — content hash of the whitespace-normalized
    lowercased text (exact-dup fingerprinting): the first 16 hex chars
    (64 bits) of its md5, as a string. Pure JVM (whole-stage codegen,
    no python stage) and engine-portable, so the result is
    DuckDB-oracle-checkable.
    """
    # explicit whitespace class, NOT \s: Java's \s includes \x0B
    # (vertical tab) while the DuckDB oracle's RE2 \s does not, so a
    # \x0B-bearing text would normalize differently in the two engines
    # and fail the hash check (ADVICE r5). [ \t\n\f\r] is exactly
    # RE2's \s, so both engines collapse the same characters.
    _WS = r"[ \t\n\f\r]+"
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), _WS, " ")))
    return (df.filter(F.col(text_col).isNotNull())
            .select(F.col(id_col).cast("long").alias("doc"),
                    F.substring(F.md5(norm), 1, 16).alias("fingerprint")))


def html_to_text(df: DataFrame, html_col: str,
                 out_col: str = "text_extracted") -> DataFrame:
    """Deterministic HTML -> visible-text extraction as ONE declarative
    JVM expression chain (whole-stage codegen, no python stage) — the
    first step of a Common-Crawl-style pipeline, where the per-row
    contract is byte-identical extracted text per page across runs and
    cluster sizes (BASELINE.json input_hint invariant; asserted in
    tests/test_html_extract.py round-trip).

    Accepts binary or string html (binary decodes as UTF-8 with
    replacement). Extraction rules, applied in order:

    1. drop <head>/<script>/<style>/<noscript>/<template> elements
       wholesale (head metadata and code are never visible body text)
       and <!-- comments -->
    2. block-level boundaries (<p>, <br>, <div>, <li>, <tr>, <h1-6>,
       heads of tables/lists, open or close) become newlines so words
       from adjacent blocks don't fuse
    3. every remaining tag becomes a space (inline tags separate
       words in real pages: "a<b>b</b>" -> "a b")
    4. the named entities that dominate crawl text decode
       (&amp; &lt; &gt; &quot; &#39; &#34; &nbsp;) — &amp; LAST so
       double-encoded text does not over-decode
    5. whitespace canonicalization: horizontal runs -> one space,
       spaces around newlines dropped, newline runs -> ONE newline
       (canonical block separator — dedup keys want one normal form,
       not a paragraph-spacing-sensitive one), trim

    Deliberately conservative and dependency-free: no DOM repair, no
    numeric-entity table, no visibility CSS — those need an html5 tree
    builder (not in this container) and for sketch/dedup keys the
    DETERMINISM of the mapping matters more than perfect fidelity.
    """
    c = F.col(html_col)
    s = F.when(c.isNull(), F.lit(None)).otherwise(
        F.decode(c, "UTF-8") if dict(df.dtypes)[html_col] == "binary"
        else c.cast("string"))
    # (?is): case-insensitive + DOTALL so elements span lines
    for el in ("head", "script", "style", "noscript", "template"):
        s = F.regexp_replace(
            s, f"(?is)<{el}\\b[^>]*>.*?</{el}\\s*>", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    s = F.regexp_replace(
        s, r"(?i)</?(p|br|div|li|tr|h[1-6]|ul|ol|table|blockquote|"
        r"section|article|header|footer|pre)\b[^>]*>", "\n")
    s = F.regexp_replace(s, r"(?s)<[^>]*>", " ")
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", "\""),
                     ("&#39;", "'"), ("&#34;", "\""), ("&nbsp;", " "),
                     ("&amp;", "&")):
        s = F.regexp_replace(s, ent, rep)
    s = F.regexp_replace(s, r"[ \t\x0B\f\r]+", " ")
    s = F.regexp_replace(s, r" ?\n ?", "\n")
    s = F.regexp_replace(s, r"\n{2,}", "\n")
    s = F.regexp_replace(s, r"^\s+|\s+$", "")
    return df.withColumn(out_col, s)

