"""SparkSession helpers: tuned local sessions + worker-visible package.

Spark Python workers do not inherit the driver's ``sys.path`` — a
library like this must ship itself to workers (``spark-submit
--py-files sketchlib.zip`` on a real cluster; ``addPyFile`` here).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def package_zip(out_dir: str | None = None) -> str:
    """Zip the sketchlib package for --py-files / addPyFile shipping.

    Named by CONTENT HASH and reused: repeated attach_package calls (or
    concurrent sessions over the same source tree) share one archive
    instead of leaking a fresh multi-MB zip per call into the shared
    tmp dir. Publication is atomic (write-unique then os.replace), so a
    concurrent session never observes a truncated archive; a different
    source tree hashes to a different name, so stale reuse is
    impossible.
    """
    import hashlib
    pkg_dir = os.path.join(_REPO_ROOT, "sketchlib")
    entries = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                entries.append((os.path.relpath(full, _REPO_ROOT), full))
    entries.sort()
    h = hashlib.sha256()
    for rel, full in entries:
        h.update(rel.encode())
        with open(full, "rb") as fh:
            h.update(fh.read())
    out_dir = out_dir or tempfile.gettempdir()
    out = os.path.join(out_dir, f"sketchlib_pyfiles_{h.hexdigest()[:16]}.zip")
    if os.path.exists(out) and os.access(out, os.R_OK):
        return out
    if os.path.exists(out):
        # same content hash published by ANOTHER user whose file we
        # cannot read (or a perms accident): fall back to a private
        # uniquely-named archive rather than hand out an unreadable
        # path (review r5)
        fd, out = tempfile.mkstemp(prefix="sketchlib_pyfiles_",
                                   suffix=".zip", dir=out_dir)
        os.close(fd)
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, full in entries:
                zf.write(full, rel)
        return out
    fd, tmp = tempfile.mkstemp(prefix="sketchlib_pyfiles_", suffix=".zip.tmp",
                               dir=out_dir)
    os.close(fd)
    try:
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for rel, full in entries:
                zf.write(full, rel)
        # mkstemp creates 0600; the shared content-addressed archive
        # must be readable by OTHER users who hash to the same name
        # (executor fetch under a different uid)
        os.chmod(tmp, 0o644)
        os.replace(tmp, out)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return out


def attach_package(spark: SparkSession) -> None:
    """Make sketchlib importable inside Spark Python workers."""
    # PYTHONPATH only reaches forked LOCAL workers, and only an exact
    # path entry counts (a substring test false-positives on sibling
    # dirs like /root/repo-old); on a real cluster always ship the zip
    is_local = spark.sparkContext.master.startswith("local")
    entries = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    if is_local and _REPO_ROOT in entries:
        return  # already visible to forked workers
    spark.sparkContext.addPyFile(package_zip())


def get_spark(app_name: str = "sketchlib", cpus: int | str = "*",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Tuned local session. ``cpus`` maps to local[n] parallelism.

    Tuning rationale (100 TB posture, exercised at local scale):
    - AQE on: runtime partition coalescing + skew-join splitting.
    - Arrow batch size bounds pandas-UDF memory per task.
    - shuffle.partitions sized to parallelism (partial-sketch shuffles
      are tiny; raw-row shuffles never happen in the build path).
    """
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(8, int(cpus))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 32 MB splits: a 1 GB local input must fan out to ~32 scan
        # tasks, not 128-MB-default's 8 (on a real cluster the default
        # is fine — there the input is thousands of files)
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SKETCHLIB_MAX_PARTITION_BYTES", "33554432"))
        # pinned session timezone: per-day grouping (date_format) and the
        # DuckDB oracle comparisons must not depend on the host TZ
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SKETCHLIB_DRIVER_MEM", "8g"))
        # reliable checkpoints (textops._materialize when a checkpoint
        # dir is set) are NEVER deleted by default — without this, every
        # dedup_clusters round leaks files to the checkpoint dir forever
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    attach_package(spark)
    return spark
