"""Scale-true heavy hitters: CMS + certified SpaceSaving candidates.

``q_cms_top_tokens``'s round-1 form collected an exact pass's output as
its candidate set — circular at 10^12 docs. This operator is the real
scale path: each input partition contributes (a) a partial CMS and
(b) a **SpaceSaving summary** (Metwally, Agrawal & El Abbadi 2005) of
its local token stream. SpaceSaving's guarantee — any item with
partition frequency f > N_p/capacity occupies a counter — lifts to a
global certificate: if a token's global count exceeds
sum_p(N_p)/capacity = N/capacity, it must exceed N_p/capacity in at
least one partition (pigeonhole over the partition split), so it is
nominated SOMEWHERE. The round-1 local-top-C-by-count heuristic had no
such certificate: a globally-heavy token that is nowhere locally top-C
(spread thin under locally-hot cold tokens) was silently dropped —
tests/test_heavyhitters.py::test_adversarial_spread demonstrates the
failing spread and the fix.

The merge unions candidates, re-estimates each against the merged CMS
(overestimate-only; SS counts are used for retention only, never for
ranking, so no SS overestimate leaks into the output), and keeps the
global top-k.

Everything shuffles as fixed-size state: one CMS + <= capacity strings
per (partition, group). No token-level groupBy ever happens.
"""

from __future__ import annotations

import heapq
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from sketchlib.core.cms import CountMinSketch
from sketchlib.spark.build import (_auto_fanout, _fold_in_task, _fold_once,
                                   _group_fold, _max_groups_in_flight,
                                   _merge_groups, _norm_nan,
                                   update_from_token_counts)


class SpaceSaving:
    """Bounded-memory stream summary with the deterministic guarantee
    that any item with frequency > N/capacity holds a counter.

    Weighted batch updates; lazy-invalidation min-heap for O(log cap)
    eviction; heap compacted when stale entries dominate.
    """

    __slots__ = ("cap", "counters", "_heap")

    def __init__(self, capacity: int):
        if capacity < 1:
            raise ValueError(f"capacity must be >= 1, got {capacity}")
        self.cap = int(capacity)
        self.counters: dict = {}  # token -> [count, err]
        self._heap: list = []     # (count, token) lazily-stale min-heap

    def add(self, token, c: int) -> None:
        d = self.counters
        e = d.get(token)
        if e is not None:
            e[0] += c
            heapq.heappush(self._heap, (e[0], token))
        elif len(d) < self.cap:
            d[token] = [c, 0]
            heapq.heappush(self._heap, (c, token))
        else:
            while True:  # pop to the first non-stale heap entry
                cnt, t = self._heap[0]
                cur = d.get(t)
                if cur is not None and cur[0] == cnt:
                    break
                heapq.heappop(self._heap)
            heapq.heappop(self._heap)
            del d[t]
            d[token] = [cnt + c, cnt]  # inherit evicted min as error bound
            heapq.heappush(self._heap, (cnt + c, token))
        if len(self._heap) > 8 * self.cap:
            self._heap = [(v[0], t) for t, v in d.items()]
            heapq.heapify(self._heap)

    def add_batch(self, tokens, counts) -> None:
        for t, c in zip(tokens, counts):
            self.add(t, int(c))

    def items(self) -> list:
        """[(token, count_upper, err)] — count_upper - err <= true <= count_upper."""
        return [(t, v[0], v[1]) for t, v in self.counters.items()]


def topk_from_cms(cms: CountMinSketch, candidates,
                  k: int) -> tuple[list, list]:
    """Rank candidates by CMS estimate (desc, then token asc); returns
    (top_tokens, top_estimates)."""
    cands = sorted(candidates)
    if not cands:
        return [], []
    est = cms.query_batch(cands)
    order = sorted(range(len(cands)),
                   key=lambda i: (-int(est[i]), cands[i]))[:k]
    return [cands[i] for i in order], [int(est[i]) for i in order]


def _token_partials(group_cols: list[str], text_col: str, capacity: int,
                    w: int, d: int, seed: int, conservative: bool,
                    max_groups_in_flight: int):
    """Per-partition build of ``cms_heavy_hitters``: one (cms, cands)
    partial row per group, flushed every ``max_groups_in_flight``
    groups."""
    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}  # gkey -> [cms, SpaceSaving]

        def emit():
            rows = []
            for gkey, (cms, ss) in acc.items():
                # emit the ENTIRE summary (not a top-C cut — cutting by
                # local count would reintroduce the heuristic this
                # replaces)
                rows.append((*gkey, cms.to_bytes(),
                             sorted(t for t, _, _ in ss.items())))
            return pd.DataFrame(rows,
                                columns=[*group_cols, "cms", "cands"])

        for pdf in batches:
            for gkey, sub in pdf.groupby(group_cols, sort=False, dropna=False):
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                # NaN keys are unequal, so a null group would otherwise
                # take a new slot in every Arrow batch (as in build_partials)
                gkey = _norm_nan(gkey)
                slot = acc.get(gkey)
                if slot is None:
                    slot = [CountMinSketch(w, d, seed, conservative=conservative),
                            SpaceSaving(capacity)]
                    acc[gkey] = slot
                update_from_token_counts(slot[0], slot[1], sub[text_col])
                if len(acc) >= max_groups_in_flight:
                    yield emit()
                    acc.clear()
        if acc:
            yield emit()
    return build


def cms_heavy_hitters(df: DataFrame, group_cols: list[str], text_col: str,
                      k: int = 10, capacity: int = 256,
                      w: int = 16384, d: int = 5, seed: int = 0,
                      conservative: bool = True) -> DataFrame:
    """Top-k tokens per group with CMS estimates.

    Returns (group_cols..., token, est_cnt, rnk) — est_cnt >= true count
    (CMS overestimate-only), rnk by (est_cnt desc, token asc).
    ``capacity`` is the per-(partition, group) SpaceSaving size: any
    token with global count > N/capacity is certified-nominated.
    ``conservative`` (default on) uses conservative update for the
    partial CMS tables — strictly tighter per-partition overestimates;
    the add-merge of CU partials remains overestimate-only.

    The deployment setting SKETCHLIB_MAX_GROUPS_IN_FLIGHT (default
    8192) bounds task memory on high-cardinality group keys exactly
    like ``build_partials``: full states flush as extra partial rows.
    Certification survives the split by pigeonhole — if a token's
    global count > N_total/capacity then some chunk has
    count_chunk > N_chunk/capacity, so that chunk's SpaceSaving
    retains it (same argument that covers the partition split). The
    final merge is order-free (CMS add + candidate-set union).

    Plan shape: the merge shapes of ``build_sketches`` — a
    single-partition input builds and merges in ONE ``mapInPandas``
    task; up to 64 partitions whose partial states fit the driver
    budget merge on the driver after one (eager) build job, returning
    a ``LocalRelation``; otherwise the partial states shuffle into a
    grouped merge.
    """
    sel = df.select(*group_cols, text_col)
    group_fields = [f for f in sel.schema.fields if f.name in group_cols]
    build = _token_partials(group_cols, text_col, capacity, w, d, seed,
                            conservative, _max_groups_in_flight())
    out_schema = StructType(group_fields + [
        StructField("token", StringType(), False),
        StructField("est_cnt", LongType(), False),
        StructField("rnk", IntegerType(), False),
    ])

    def topk_rows(key, cms, pdf: pd.DataFrame) -> pd.DataFrame:
        toks, ests = topk_from_cms(
            cms, {t for lst in pdf["cands"] for t in lst}, k)
        if not toks:
            return pd.DataFrame(columns=[*group_cols, "token", "est_cnt", "rnk"])
        return pd.DataFrame({
            **{c: [key[i]] * len(toks) for i, c in enumerate(group_cols)},
            "token": toks,
            "est_cnt": ests,
            "rnk": np.arange(1, len(toks) + 1, dtype=np.int32),
        })

    partials_schema = StructType(group_fields + [
        StructField("cms", BinaryType(), False),
        StructField("cands", ArrayType(StringType()), False),
    ])
    # CMS merge is a cell-wise sum: any order is bitwise-identical, so
    # the partial tables fold in arrival order
    partials = sel.mapInPandas(build, partials_schema)
    nparts = sel.rdd.getNumPartitions()
    if _auto_fanout(nparts) is None:
        top, partials = _fold_once(sel, build, partials, _fold_in_task(
            group_cols, _group_fold("cms", topk_rows)), out_schema, nparts,
            blob_col="cms")
        if top is not None:
            return top
    return _merge_groups(partials, group_cols, out_schema, "cms", topk_rows)
