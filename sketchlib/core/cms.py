"""Mergeable count-min sketch with vectorized batch update.

Generalizes the reference's partial-build/merge pattern
(/root/reference/spark/main.py:139-164) to counter addition.
Algorithm: Cormode-Muthukrishnan 2005 — d rows of w int64 counters;
point estimate = min over rows; overestimate-only, error <= eps*N with
probability >= 1-delta for w = ceil(e/eps), d = ceil(ln 1/delta).

merge = elementwise add — associative and commutative, so merged
counter bytes are order-independent.
"""

from __future__ import annotations

import numpy as np

from sketchlib.core import hashing
from sketchlib.core import serde
from sketchlib.core.counters import CounterTable
from sketchlib.core.params import cms_params


@serde.register_sketch(serde.TYPE_CMS)
class CountMinSketch(CounterTable):
    __slots__ = ("conservative",)

    def __init__(self, w: int, d: int, seed: int = 0,
                 conservative: bool = False):
        """``conservative=True`` selects conservative update (Estan &
        Varghese 2002): each key's cells are raised only to
        ``current_estimate + count`` instead of incremented, which
        markedly tightens overestimates on heavy-tailed streams. The
        overestimate-only guarantee is preserved — per row, a cell is
        only ever maxed with est+c where est >= the key's true count
        before the increment. ``merge`` stays elementwise add (still
        overestimate-only, but looser than a single-sketch CU stream)
        and ORs the mode, since CU cells may under-count bucket sums
        forever (see ``inner_product``)."""
        super().__init__(w, d, seed)
        self.conservative = bool(conservative)

    @classmethod
    def from_error(cls, epsilon: float, delta: float, seed: int = 0) -> "CountMinSketch":
        w, d = cms_params(epsilon, delta)
        return cls(w, d, seed)

    def _row_indices(self, values) -> np.ndarray:
        """uint64[n, d] column index per row, via double hashing."""
        h1, h2 = hashing.hash64_pair(values, self.seed)
        return hashing.km_indices(h1, h2, self.d, self.w)

    def _add(self, values, counts: np.ndarray) -> None:
        h1, h2 = hashing.hash64_pair(values, self.seed)
        if self.conservative:
            # pre-aggregate duplicate keys so each reads a consistent
            # estimate: h2 (and so every row index) is a pure function
            # of h1, so a 1-D unique on h1 gives the same grouping as a
            # lexicographic unique over the (n, d) index matrix,
            # several times cheaper. Outcome is order-independent: all
            # estimates read the pre-update table, then maximum.at
            # writes.
            uh1, first, inv = np.unique(h1, return_index=True,
                                        return_inverse=True)
            agg = np.zeros(len(uh1), dtype=np.int64)
            np.add.at(agg, inv, counts)
            uidx = hashing.km_indices(uh1, h2[first], self.d,
                                      self.w).astype(np.int64)
            est = np.stack([self.table[r][uidx[:, r]]
                            for r in range(self.d)], axis=1).min(axis=1)
            newval = est + agg
            for r in range(self.d):
                np.maximum.at(self.table[r], uidx[:, r], newval)
        else:
            idx = hashing.km_indices(h1, h2, self.d, self.w)
            for r in range(self.d):
                np.add.at(self.table[r], idx[:, r].astype(np.int64), counts)

    def query_batch(self, values) -> np.ndarray:
        """Point estimates for a batch of keys. int64[n], >= true count."""
        if len(values) == 0:
            return np.zeros(0, dtype=np.int64)
        idx = self._row_indices(values).astype(np.int64)
        ests = np.stack([self.table[r][idx[:, r]] for r in range(self.d)], axis=1)
        return ests.min(axis=1)

    def inner_product(self, other: "CountMinSketch") -> int:
        """Estimated inner product of the two sketched frequency
        vectors: sum_k fA(k)*fB(k) == the EQUI-JOIN SIZE |A ⋈ B| when
        each sketch counts one table's join key (Cormode-Muthukrishnan
        2005 §4.2). min over rows of the row dot product;
        overestimate-only, error <= eps * N_A * N_B — the planner-grade
        'how big is this join' answer from two fixed-size states.

        Refuses conservative-update (CU) sketches: CU cells can sit
        BELOW the bucket's true frequency sum (they only reach the
        key's min-row estimate + count), so the min-row dot product
        loses the one-sided guarantee and can UNDERESTIMATE the true
        join size. The mode survives serde and merge, so the check
        holds for deserialized and merged states too."""
        if self.conservative or other.conservative:
            raise ValueError(
                "inner_product is overestimate-only for plain-add CMS "
                "states; a conservative-update sketch voids that bound "
                "(CU cells can under-count bucket sums) — build join-size "
                "sketches with conservative=False")
        if (other.w, other.d, other.seed) != (self.w, self.d, self.seed):
            raise ValueError("cannot compare CMS with different (w,d,seed)")
        dots = (self.table.astype(np.float64)
                * other.table.astype(np.float64)).sum(axis=1)
        return int(dots.min())

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        super().merge(other)
        self.conservative = self.conservative or other.conservative
        return self

    def _header(self) -> dict:
        # a CU sketch writes both 'cu' and 'cum'; an older blob may
        # carry 'cu' alone, and either flag thaws as a CU sketch
        header = super()._header()
        if self.conservative:
            header.update(cu=1, cum=1)
        return header

    @classmethod
    def _from_parts(cls, header: dict, payload: bytes) -> "CountMinSketch":
        c = super()._from_parts(header, payload)
        c.conservative = bool(header.get("cu") or header.get("cum"))
        return c
