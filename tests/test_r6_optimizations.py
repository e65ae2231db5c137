"""Focused tests for round-6 optimization internals: the operators'
OUTPUTS must be invariant to the optimized execution paths."""

import pyspark.sql.functions as F
import pytest

from sketchlib.spark import textops


def _noisy_corpus(spark, n_docs=120, seed=3):
    """Docs with engineered near-dup clusters: groups of docs share a
    base token stream with a few per-doc token flips, so simhash
    distances span 0..many bits and ngram Jaccard spans 0..1."""
    import numpy as np
    rng = np.random.default_rng(seed)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    doc_id = 0
    while doc_id < n_docs:
        base = [vocab[i] for i in rng.integers(0, 400, 60)]
        for _ in range(int(rng.integers(1, 5))):  # cluster of 1-4 docs
            toks = list(base)
            for _ in range(int(rng.integers(0, 6))):  # 0-5 flips
                toks[int(rng.integers(0, 60))] = vocab[int(rng.integers(0, 400))]
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_simhash_subset_index_equals_bruteforce(spark):
    """The 8x8-bit subset index (r6) is candidates ⊇ {hamming <= h}
    followed by an exact filter, so its output must EQUAL the
    brute-force hamming pair set over the same signatures — for every
    h the index guarantee covers (0..7); 8 and above are refused."""
    docs = _noisy_corpus(spark)
    sigs = textops.simhash(docs, "doc_id", "text").collect()
    for h in (-1, 8):
        with pytest.raises(ValueError, match="max_hamming"):
            textops.simhash_candidate_pairs(docs, "doc_id", "text",
                                            max_hamming=h)
    for h in (0, 1, 3, 4):
        got = {(r["a_id"], r["b_id"], r["hamming"])
               for r in textops.simhash_candidate_pairs(
                   docs, "doc_id", "text", max_hamming=h).collect()}
        want = set()
        for i, ra in enumerate(sigs):
            for rb in sigs[i + 1:]:
                a, b = sorted((ra, rb), key=lambda r: r["doc"])
                d = bin((a["simhash"] ^ b["simhash"])
                        & 0xFFFFFFFFFFFFFFFF).count("1")
                if d <= h:
                    want.add((a["doc"], b["doc"], d))
        assert got == want
    assert want, "fixture produced no close pairs — test is vacuous"


def test_ngram_packed_agg_matches_unpacked_fallback(spark):
    """The packed-long pair aggregate (ids < 2^31) and the general
    two-column fallback (triggered here by shifting ids past 2^31)
    must produce identical pairs and jaccard values."""
    docs = _noisy_corpus(spark, n_docs=60, seed=9)
    packed = textops.ngram_jaccard_pairs(docs, "doc_id", "text",
                                         n=3, threshold=0.3).collect()
    shift = 1 << 33
    shifted = docs.withColumn("doc_id", F.col("doc_id") + F.lit(shift))
    fallback = textops.ngram_jaccard_pairs(shifted, "doc_id", "text",
                                           n=3, threshold=0.3).collect()
    a = {(r["a_id"], r["b_id"], r["jaccard"]) for r in packed}
    b = {(r["a_id"] - shift, r["b_id"] - shift, r["jaccard"])
         for r in fallback}
    assert a == b
    assert a, "fixture produced no pairs — test is vacuous"


def test_ngram_length_filter_never_drops_qualifying_pairs(spark):
    """The AllPairs length filter is a necessary condition only:
    results with the filter (default path) must equal a
    threshold-filtered join of the UNFILTERED pair universe —
    exercised by running at a low threshold (filter nearly inactive)
    and a high one (filter prunes hard) on the same corpus."""
    docs = _noisy_corpus(spark, n_docs=80, seed=5)
    lo = textops.ngram_jaccard_pairs(docs, "doc_id", "text",
                                     n=3, threshold=0.05).collect()
    hi = textops.ngram_jaccard_pairs(docs, "doc_id", "text",
                                     n=3, threshold=0.6).collect()
    lo_pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in lo}
    hi_pairs = {(r["a_id"], r["b_id"]): r["jaccard"] for r in hi}
    # every high-threshold pair appears in the low-threshold result
    # with the SAME jaccard (the filter must not alter counts)
    for k, v in hi_pairs.items():
        assert lo_pairs.get(k) == v
    # and the high result is exactly the low result re-thresholded
    assert hi_pairs == {k: v for k, v in lo_pairs.items() if v >= 0.6}
