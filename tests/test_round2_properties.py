"""Property tests for the round-2 kernels: theta set-algebra identities,
SpaceSaving invariants, binary-key hashing, conservative-CMS bounds."""

import numpy as np
from hypothesis import given, settings, strategies as st

from sketchlib.core import hashing
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.theta import ThetaSketch
from sketchlib.spark.heavyhitters import SpaceSaving


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=3000),
       st.integers(min_value=0, max_value=3000),
       st.integers(min_value=0, max_value=3000))
def test_theta_partition_identity(n_a_only, n_b_only, n_shared):
    """|A\\B| + |A∩B| == |A| exactly on the retained-sample level:
    the same theta cut partitions A's samples into in-B / not-in-B."""
    a = ThetaSketch(1024)
    b = ThetaSketch(1024)
    if n_a_only:
        a.update_batch([f"a{i}" for i in range(n_a_only)])
    if n_b_only:
        b.update_batch([f"b{i}" for i in range(n_b_only)])
    if n_shared:
        shared = [f"s{i}" for i in range(n_shared)]
        a.update_batch(shared)
        b.update_batch(shared)
    raw = min(a._theta_raw(), b._theta_raw())
    diff = a.difference_estimate(b)
    inter = a.intersect_estimate(b)
    # both use the shared cut: counts over the same sample must add up
    n_a_below = int((a.hashes < np.uint64(min(raw, 2**64 - 1))).sum()
                    if raw < 2**64 else len(a.hashes))
    assert abs((diff + inter) * (raw / 2.0**64) - n_a_below) < 1e-6
    # and the symmetric union identity holds approximately
    u = a.union_estimate(b)
    assert u + 1e-9 >= max(a.estimate(), b.estimate()) * 0.8


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=50),
                          st.integers(min_value=1, max_value=20)),
                min_size=1, max_size=400))
def test_spacesaving_invariants(stream):
    """SpaceSaving: (1) count mass conserved, (2) per-item upper bound
    holds, (3) any item with freq > N/cap is retained."""
    cap = 8
    ss = SpaceSaving(cap)
    true: dict = {}
    n = 0
    for tok, c in stream:
        ss.add(f"t{tok}", c)
        true[f"t{tok}"] = true.get(f"t{tok}", 0) + c
        n += c
    items = {t: (cnt, err) for t, cnt, err in ss.items()}
    assert sum(cnt for cnt, _ in items.values()) == n  # mass conserved
    for t, (cnt, err) in items.items():
        assert cnt >= true[t]            # upper bound
        assert cnt - err <= true[t]      # lower bound from inherited error
    for t, f in true.items():
        if f > n / cap:
            assert t in items, (t, f, n)


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(min_size=0, max_size=64), min_size=1, max_size=200,
                unique=True))
def test_binary_keys_distinct_hashes(keys):
    h = hashing.hash64(keys)
    assert len(set(h.tolist())) == len(keys)


@settings(max_examples=30, deadline=None)
@given(st.binary(min_size=0, max_size=300), st.integers(0, 2**31 - 1))
def test_binary_scalar_parity(key, seed):
    vec = int(hashing.murmur3_32([key], seed)[0])
    if len(key) <= hashing.LONG_KEY_THRESHOLD:
        assert vec == hashing.murmur3_32_scalar(key, seed)


@settings(max_examples=15, deadline=None)
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=200),
                          st.integers(min_value=1, max_value=30)),
                min_size=1, max_size=300))
def test_conservative_cms_bounds(stream):
    """Conservative update: still overestimate-only, never looser than
    plain update, regardless of batch split points."""
    toks = [f"t{t}" for t, _ in stream]
    cnts = np.array([c for _, c in stream], dtype=np.int64)
    plain = CountMinSketch(32, 3).update_batch(toks, cnts)
    cons = CountMinSketch(32, 3, conservative=True)
    third = max(1, len(toks) // 3)
    for off in range(0, len(toks), third):
        cons.update_batch(toks[off:off + third], cnts[off:off + third])
    uniq = sorted(set(toks))
    true = {t: 0 for t in uniq}
    for t, c in stream:
        true[f"t{t}"] += c
    e_plain = plain.query_batch(uniq)
    e_cons = cons.query_batch(uniq)
    for i, t in enumerate(uniq):
        assert e_cons[i] >= true[t]
        assert e_cons[i] <= e_plain[i]


@settings(max_examples=60, deadline=None)
@given(st.lists(st.one_of(st.none(), st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40)),
    max_size=30))
def test_tokens_arrow_matches_pandas_reference(texts):
    """The arrow tokenizer is semantics-identical to the old pandas
    split/explode path on arbitrary unicode, nulls, empties, and
    repeated/multi spaces."""
    import pandas as pd
    from sketchlib.spark.build import tokens_arrow
    col = pd.Series(texts, dtype=object)
    ref = col.dropna().astype(str).str.split(" ").explode().dropna()
    ref = ref[ref != ""].tolist()
    got = tokens_arrow(col).to_pylist()
    assert got == ref
