"""Deterministic hash sampling and dataset splitting.

Training-data pipelines need samples and train/val/test splits that are
(a) reproducible across runs and engines, (b) stable under
repartitioning, and (c) consistent per item (an id always lands in the
same split, so re-running ingestion never leaks val into train).
``rand()``-based sampling has none of these properties.

Mechanism: bucket = first 8 hex chars of md5(id || ':' || seed) read as
a 32-bit integer — pure built-in expressions (whole-stage codegen, no
Python), and bit-identical in any engine with md5 (the DuckDB oracles
compute the same buckets), unlike xxhash64/murmur whose seeds differ
across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

_BUCKETS = float(1 << 32)


def _bucket(id_col: str, seed: int):
    """uint32 bucket from md5(id:seed) — matches the DuckDB expression
    CAST(('0x' || substring(md5(id || ':seed'), 1, 8)) AS UINTEGER)."""
    h8 = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 8)
    return F.conv(h8, 16, 10).cast("long")


def hash_split(df: DataFrame, id_col: str, weights: dict[str, float],
               seed: int = 0, split_col: str = "split") -> DataFrame:
    """Assign every row a split label by cumulative hash-bucket ranges.

    ``weights`` maps label -> fraction (must sum to ~1). Labels are
    assigned in sorted-label order so the mapping is a pure function of
    (id, seed, weights) — an id can never migrate between splits across
    runs, and adding rows later never reshuffles existing assignments.
    """
    if any(not 0.0 <= w <= 1.0 for w in weights.values()):
        raise ValueError(f"each fraction must be in [0,1], got {weights}")
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    b = _bucket(id_col, seed)
    expr = None
    cum = 0.0
    labels = sorted(weights)
    for label in labels[:-1]:
        cum += weights[label]
        cond = b < int(cum * _BUCKETS)
        expr = F.when(cond, F.lit(label)) if expr is None else \
            expr.when(cond, F.lit(label))
    expr = (F.lit(labels[0]) if expr is None
            else expr.otherwise(F.lit(labels[-1])))
    # a NULL id hashes to NULL, failing every when() and silently
    # landing in the otherwise() label (the last sorted split) —
    # give it a NULL label instead so no split gets fabricated
    # membership
    expr = F.when(F.col(id_col).isNull(), F.lit(None)).otherwise(expr)
    return df.withColumn(split_col, expr)
