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

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (ArrayType, BinaryType, IntegerType, LongType,
                               StringType, StructField, StructType)

from sketchlib.core.cms import CountMinSketch
from sketchlib.spark.build import (_batch, _fold_in_task, _group_fold,
                                   _group_fields, _key_groups,
                                   _max_groups_in_flight, _merge_groups,
                                   _merge_plan, _nan_keys_as_null,
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


def _token_partials(df: DataFrame, group_cols: list[str], text_col: str,
                    capacity: int, w: int, d: int, seed: int,
                    conservative: bool, max_groups_in_flight: int):
    """(projected input, per-partition build, partials schema) of
    ``cms_heavy_hitters``: one (cms, cands) partial row per group,
    flushed every ``max_groups_in_flight`` groups."""
    sel = _nan_keys_as_null(df.select(*group_cols, text_col), group_cols)
    schema = StructType(_group_fields(df, group_cols) + [
        StructField("cms", BinaryType(), False),
        StructField("cands", ArrayType(StringType()), False),
    ])
    out = to_arrow_schema(schema)

    def build(batches: Iterator[pa.RecordBatch]
              ) -> Iterator[pa.RecordBatch]:
        acc: dict = {}  # gkey -> [cms, SpaceSaving]

        def emit():
            # emit the ENTIRE summary (not a top-C cut — cutting by
            # local count would reintroduce the heuristic this replaces)
            rows = [(*gkey, cms.to_bytes(),
                     sorted(t for t, _, _ in ss.items()))
                    for gkey, (cms, ss) in acc.items()]
            return _batch(dict(zip(out.names, zip(*rows))), out)

        for batch in batches:
            for gkey, rows in _key_groups(batch, group_cols):
                slot = acc.get(gkey)
                if slot is None:
                    slot = [CountMinSketch(w, d, seed, conservative=conservative),
                            SpaceSaving(capacity)]
                    acc[gkey] = slot
                update_from_token_counts(slot[0], slot[1], rows[text_col])
                if len(acc) >= max_groups_in_flight:
                    yield emit()
                    acc.clear()
        if acc:
            yield emit()
    return sel, build, schema


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

    Plan shape: the merge shapes of ``build_sketches``, lazy — a
    single-partition input builds and merges in ONE ``mapInArrow``
    task; every other input shuffles its partial states into one
    grouped merge.
    """
    sel, build, partials_schema = _token_partials(
        df, group_cols, text_col, capacity, w, d, seed, conservative,
        _max_groups_in_flight())
    out_schema = StructType(_group_fields(df, group_cols) + [
        StructField("token", StringType(), False),
        StructField("est_cnt", LongType(), False),
        StructField("rnk", IntegerType(), False),
    ])

    def topk_rows(key, cms, rows: pa.Table) -> dict:
        toks, ests = topk_from_cms(
            cms, {t for lst in rows["cands"].to_pylist() for t in lst}, k)
        return {**{c: [key[i]] * len(toks) for i, c in enumerate(group_cols)},
                "token": toks, "est_cnt": ests,
                "rnk": list(range(1, len(toks) + 1))}

    # CMS merge is a cell-wise sum: any order is bitwise-identical, so
    # the partial tables fold in arrival order
    if _merge_plan(sel, None) is None:
        fold = _fold_in_task(group_cols,
                             _group_fold("cms", topk_rows, out_schema))
        return sel.mapInArrow(lambda batches: fold(build(batches)),
                              out_schema)
    return _merge_groups(sel.mapInArrow(build, partials_schema), group_cols,
                         out_schema, "cms", topk_rows)
