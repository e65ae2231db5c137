"""Bloom semi-join pruning — persisted filters cutting join input.

The reference's whole pipeline is "build per-class Bloom filters, then
probe every row against them" (/root/reference/spark/main.py stages
2-3). This module applies that build+probe pair to its canonical
production use: pre-filtering the probe (fact) side of a join with a
filter built from the build (dim) side, so rows that cannot match never
enter the shuffle. False positives only cost shuffle bytes — the exact
join that follows removes them — so results are bitwise-identical to
the plain join (oracle hash-checked via ``q_bloom_semijoin``).

Scale notes (100 TB):
- Spark's own runtime row-level filtering
  (``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects a
  JVM-side equivalent automatically *within one query*. This operator
  is the cross-job complement: the filter blob from ``build_key_bloom``
  is a plain ``bytes`` you can persist next to the table (it uses the
  same serde as every other sketch here) and reuse to prune *future*
  scans without re-reading the dim side — Catalyst's injected filter
  cannot be persisted or shared.
- The build emits one partial filter per input partition
  (sparse-encoded blobs, see ``core.bloom.to_bytes``) and OR-merges
  them through the sketch build's two merge shapes: in the build task
  for one partition, else through the SAME salted merge tree the
  sketch build uses. At the 100 TB scan's ~800k input partitions the
  old unbounded driver-side OR loop was a memory/CPU funnel; the tree
  bounds every merge task's fan-in and the collect at one merged
  blob.
- The prune is one broadcast of the blob + an Arrow-batched pandas
  UDF over the key column; no per-row Python. For a fact table that is
  scanned anyway, the prune is bandwidth-bound, and every pruned row is
  a row that skips the join shuffle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from sketchlib.core.bloom import BloomFilter
from sketchlib.core.params import bloom_params
from sketchlib.spark.build import build_sketches
from sketchlib.spark.specs import SketchSpec

_KEY = "__jp_key"


def _as_key(df: DataFrame, col: str, out: str) -> DataFrame:
    """Canonical string form of a join key (hash input must be bytes;
    the cast is JVM-side and identical on both join sides)."""
    return df.withColumn(out, F.col(col).cast("string"))


def _key_bloom_merged_df(df: DataFrame, key_col: str, p: float,
                         n_keys: int | None, seed: int
                         ) -> tuple[DataFrame, DataFrame | None]:
    """(merged, cached): ``merged`` is a ONE-row DataFrame holding the
    fully-merged key filter; ``cached`` is the persisted key
    projection to unpersist after collecting (None when the caller
    supplied ``n_keys`` and no sizing count was needed).

    Plan shape: the ungrouped ``build_sketches`` of one Bloom spec over
    the pruned key scan — one sparse partial filter per input
    partition, merged in the build task for one partition, else
    through the salted hierarchical merge tree. No raw key ever
    shuffles.
    """
    keyed = _as_key(df, key_col, _KEY).select(_KEY).dropna()
    unpersist = None
    if n_keys is None:
        # sizing needs a count before any filter bit can be set, so an
        # unsized build is inherently two actions — persist the pruned
        # key projection so the SOURCE is scanned once and the second
        # action reads the (small, single-column) cached keys. Callers
        # at scale should pass n_keys (table stats / a stage-1
        # calibrate count, the reference's own shrink-the-work move,
        # Driver.java:89-114) and skip even this.
        keyed = keyed.persist()
        unpersist = keyed
        n_keys = keyed.count()
    m, k = bloom_params(max(int(n_keys), 1), p)
    spec = SketchSpec("key_bloom", "bloom", _KEY,
                      {"m": m, "k": k, "seed": seed})
    return build_sketches(keyed, [], [spec]), unpersist


def build_key_bloom(df: DataFrame, key_col: str, p: float = 0.01,
                    n_keys: int | None = None, seed: int = 0) -> BloomFilter:
    """Build ONE Bloom filter over ``df[key_col]``, distributedly.

    ``n_keys`` sizes (m, k) from the target FPR ``p`` exactly like the
    reference's parameter stage (core/params.bloom_params); it defaults
    to the row count of ``df`` — an upper bound on the distinct count,
    so the realized FPR is <= the designed ``p``. When it defaults, the
    key projection is persisted across the sizing count and the build
    so the SOURCE is scanned exactly once; at scale, pass ``n_keys``
    from table stats or a stage-1 calibrate count and no extra action
    runs at all.

    The OR-merge takes the sketch build's merge shapes: in the build
    task for one partition, else through the salted merge tree; the
    caller gets one merged blob regardless of the input's partition
    count (Bloom merge is associative+commutative, so every shape is
    bitwise-identical to any sequential fold).
    """
    merged, cached = _key_bloom_merged_df(df, key_col, p, n_keys, seed)
    try:
        rows = merged.collect()
    finally:
        if cached is not None:
            cached.unpersist()
    if not rows:  # empty input: a valid filter that contains nothing
        m, k = bloom_params(max(int(n_keys or 1), 1), p)
        return BloomFilter(m, k, seed)
    assert len(rows) == 1, f"expected one merged filter row, got {len(rows)}"
    return BloomFilter.from_bytes(bytes(rows[0]["sketch"]))


def bloom_prune(fact: DataFrame, fact_key: str, bf: BloomFilter) -> DataFrame:
    """Keep only fact rows whose key *might* be in ``bf``.

    No false negatives (every true match survives); false positives
    pass through at the filter's designed rate. Null keys are dropped —
    a null never equi-joins. One broadcast + one Arrow-batched pass.

    Implemented as a vectorized boolean pandas UDF over the KEY COLUMN
    ONLY (iterator form: the filter deserializes once per task): the
    round-5 version was a mapInPandas over the whole row, which shipped
    every payload column JVM->Python->JVM just to drop rows — ~3x the
    bytes across the Arrow boundary for a probe that needs 8 bytes per
    row (guide §4.1: pass only the columns the function needs). Key
    canonicalization is unchanged: ints hash as their decimal-string
    bytes (hashing.to_large_binary == Spark's CAST AS STRING), so the
    same rows survive.
    """
    import pyspark.sql.functions as F
    blob = fact.sparkSession.sparkContext.broadcast(bf.to_bytes())

    @F.pandas_udf("boolean")
    def might_contain(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        f = BloomFilter.from_bytes(blob.value)
        for s in it:
            yield pd.Series(f.contains_batch(s.to_numpy()))

    # ints and strings hash to the same bytes raw as via CAST AS STRING
    # (to_large_binary canonicalizes ints to decimal strings); every
    # other type keeps the explicit JVM cast so date/decimal keys
    # canonicalize exactly as the build side did
    dt = dict(fact.dtypes)[fact_key]
    key_col = F.col(fact_key)
    if dt not in ("string", "tinyint", "smallint", "int", "bigint"):
        key_col = key_col.cast("string")
    # nulls are dropped JVM-side, below the UDF: a nullable bigint batch
    # holding a null would reach pandas as float64, which cannot carry
    # ids >= 2^53 exactly (nor hash like the build side's int64 keys)
    return fact.filter(F.col(fact_key).isNotNull() & might_contain(key_col))


def bloom_semijoin(fact: DataFrame, fact_key: str,
                   dim: DataFrame, dim_key: str,
                   p: float = 0.01, seed: int = 0) -> DataFrame:
    """Exact inner join of fact ⨝ dim with the fact side Bloom-pruned.

    Result is EXACTLY ``fact.join(dim, fact[fact_key] == dim[dim_key])``
    — the trailing equi-join removes the filter's false positives — but
    only ~(match_rate + p) of the fact rows reach the join shuffle.
    """
    bf = build_key_bloom(dim, dim_key, p=p, seed=seed)
    pruned = bloom_prune(fact, fact_key, bf)
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], "inner")
