"""Small DataFrame and Hadoop-FS utilities shared across operator
modules."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
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
    if target > 1 and num_partitions(df) < target:
        return df.repartition(target)
    return df


def num_partitions(df: DataFrame) -> int:
    """``df``'s partition count without running its plan's exchanges.

    Under adaptive execution ``df.rdd`` runs every shuffle below it as
    a job, and the later action runs it again. So the count comes from
    the physical plan where the plan knows it (a ``repartition(n)``,
    a ``coalesce(n)``, a range); a hash exchange AQE may still
    coalesce gives its planned count, an upper bound. Only a plan that
    does not know it (a file scan, a union) asks the RDD, which runs a
    job only if an exchange lies below."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        # before any stage has run: the plan with its exchanges
        n = plan.executedPlan().outputPartitioning().numPartitions()
        if n > 0:
            return n
    return df.rdd.getNumPartitions()


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


def local_table(spark, data: dict | pa.Table,
                schema: StructType) -> DataFrame:
    """``data`` (an Arrow table, or a dict of column name -> Python
    values) as a DataFrame built on the driver from Arrow: a
    ``LocalRelation`` up to Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` (Arrow batches
    decoded in the JVM above it), so reading it starts no Python
    worker. ``createDataFrame`` over a Python list instead unpickles
    its rows in a second pool of Python workers."""
    if isinstance(data, dict):
        data = pa.Table.from_pydict(data, schema=to_arrow_schema(schema))
    return spark.createDataFrame(data, schema)


def _hadoop_path(spark, path: str):
    """(Hadoop ``Path``, its ``FileSystem``) for ``path``: any scheme
    the session's Hadoop configuration serves (file://, hdfs://,
    s3a://), without a Spark job."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath, jpath.getFileSystem(spark._jsc.hadoopConfiguration())


def path_exists(spark, path: str) -> bool:
    jpath, fs = _hadoop_path(spark, path)
    return bool(fs.exists(jpath))


def read_control(spark, path: str) -> str | None:
    """The text of the small control file at ``path`` (a commit marker,
    a manifest), or None when it is absent. A DIRECTORY of ``part-*``
    files, the shape a Spark text write leaves, reads as their
    concatenation in name order. Any other IO error raises."""
    jpath, fs = _hadoop_path(spark, path)
    if not fs.exists(jpath):
        return None
    if fs.getFileStatus(jpath).isDirectory():
        files = sorted((s.getPath() for s in fs.listStatus(jpath)
                        if s.getPath().getName().startswith("part-")),
                       key=lambda p: p.getName())
    else:
        files = [jpath]
    text = []
    for f in files:
        stream = fs.open(f)
        try:
            text.append(stream.readAllBytes().decode("utf-8", "replace"))
        finally:
            stream.close()
    return "".join(text)


def write_control(spark, path: str, text: str) -> None:
    """Publish ``text`` as the file ``path``: written to ``path.tmp``,
    then renamed over whatever ``path`` held (a file or a part-file
    directory). A crash before the rename leaves only the ``.tmp``,
    which ``read_control`` never reads."""
    jpath, fs = _hadoop_path(spark, path)
    tmp = _hadoop_path(spark, path + ".tmp")[0]
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()
    fs.delete(jpath, True)  # rename does not replace an existing path
    if not fs.rename(tmp, jpath):
        raise IOError(f"could not publish {path}")
