"""Small DataFrame utilities shared across operator modules."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType


def ensure_min_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to ``sc.defaultParallelism``
    partitions IFF it currently has fewer —
    the scale-adaptive guard for compute-heavy narrow stages (Arrow
    kernels, tokenize/shingle chains) whose parallelism is otherwise
    pinned to the scan's split count.

    Why: a small local parquet file splits into only
    ceil(bytes / maxPartitionBytes) tasks — 1-3 partitions for a
    single-digit-MB table — so a vectorized per-row kernel runs on one
    core while 31 idle (guide §2: stragglers / idle capacity). On a
    real cluster the input has >= parallelism splits and this is a
    no-op, so nothing here is tuned to local mode. Only use upstream
    of ROW-LOCAL computations: a round-robin repartition changes batch
    composition, never per-row results.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize a DataFrame that later stages read multiple
    times (or whose lineage must be truncated for an iterative loop).

    Uses the RELIABLE ``checkpoint`` when the session has a checkpoint
    dir configured (``sc.setCheckpointDir`` — survives executor loss /
    preemption on a real cluster), else ``localCheckpoint`` (blocks
    live on executors: fastest, fine for local mode, and released by
    the ContextCleaner with the result instead of lingering in the
    session's cache manager the way ``.cache()`` does).

    NOTE: Spark does NOT delete reliable checkpoint files by default —
    set ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (our
    ``get_spark`` does) or the checkpoint dir grows with every
    iterative round until quota exhaustion.
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def local_table(spark, data: pd.DataFrame | pa.Table,
                schema: StructType) -> DataFrame:
    """``data`` as a DataFrame built on the driver from Arrow: a
    ``LocalRelation`` up to Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` (Arrow batches
    decoded in the JVM above it), so reading it starts no Python
    worker. ``createDataFrame`` over a Python list instead unpickles
    its rows in a second pool of Python workers."""
    if isinstance(data, pd.DataFrame):
        from pyspark.sql.pandas.types import to_arrow_schema
        data = pa.Table.from_pandas(data, schema=to_arrow_schema(schema),
                                    preserve_index=False, safe=False)
    return spark.createDataFrame(data, schema)
