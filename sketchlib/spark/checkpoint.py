"""Stage checkpointing with per-partition lineage + resume.

The reference's stages are resumable because each writes SequenceFiles
to HDFS and the next job re-reads them (Driver.java:226,
Driver.java:89-114 — "re-run job 2 from outStage1"). The Spark-native
version: the partial-sketch table is itself the checkpoint. Each row
carries its lineage (input partition id, row count, spec fingerprint),
so a resumed run:

  1. reads the surviving partials,
  2. rebuilds ONLY the input partitions with no stored partial
     (a JVM-side ``spark_partition_id() NOT IN completed`` filter —
     no Python work for completed partitions),
  3. merges stored + rebuilt partials into the final sketch table.

For the lossless sketches (Bloom/HLL/CMS) the resumed result is
bitwise-identical to an uninterrupted run (test-enforced).

Storage: a parquet partial table written by Spark and a JSON
``MANIFEST`` written through the Hadoop FileSystem API
(``dfutil.write_control``), so any Hadoop-compatible filesystem works
(file://, hdfs://, s3a://). The manifest records the spec fingerprint
so a resume against changed specs or input is refused instead of
silently mixing states.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
import pyspark.sql.functions as F

from sketchlib.spark.build import build_partials, merge_partials
from sketchlib.spark.dfutil import path_exists, read_control, write_control
from sketchlib.spark.specs import SketchSpec

def spec_fingerprint(df: DataFrame, group_cols: list[str],
                     specs: list[SketchSpec]) -> str:
    """Stable identity of (input identity, grouping, sketch params) — a
    resume against anything else must be refused.

    Input identity = schema + partition count + the sorted list of
    input files (``df.inputFiles()``), with (size, mtime) folded in for
    locally-resolvable paths. Without the file list, replacing the
    input with same-schema, same-partition-count DIFFERENT data resumed
    silently and mixed partials from two inputs (round-1 ADVICE
    finding); size+mtime additionally catches same-NAME in-place
    overwrites for file:// inputs. Remote filesystems contribute names
    only (documented weaker identity); derived DataFrames with no scan
    files (in-memory test frames) fall back to schema+count alone.
    """
    try:
        input_files = sorted(df.inputFiles())
    except Exception:
        input_files = []
    ids = []
    for f in input_files:
        local = f[7:] if f.startswith("file:") and f[5:7] == "//" else (
            f if f.startswith("/") else None)
        if local is not None and os.path.exists(local):
            st = os.stat(local)
            ids.append(f"{f}|{st.st_size}|{int(st.st_mtime)}")
        else:
            ids.append(f)
    input_files = ids
    payload = json.dumps({
        # partial-table format version: bump when the partials schema
        # changes (v2 added the 'chunk' column) so a pre-upgrade
        # checkpoint REFUSES to resume instead of mixing schemas
        "partials_fmt": 2,
        "schema": df.schema.simpleString(),
        "input_files": input_files,
        "n_partitions": df.rdd.getNumPartitions(),
        "group_cols": group_cols,
        "specs": [{"name": s.name, "kind": s.kind, "value_col": s.value_col,
                   "params": s.params,
                   # CONTENT of per-group params, not just presence: a
                   # resume against recalibrated (m,k) must refuse up
                   # front, not fail deep inside merge (or, for params
                   # merge doesn't validate, silently mix modes).
                   # Params serialize via json.dumps(sort_keys) — repr
                   # of a dict depends on insertion order, so two
                   # logically identical param dicts built in different
                   # orders would spuriously refuse a legitimate resume.
                   # NOTE (ADVICE r5): this serialization change is a
                   # ONE-TIME invalidation of checkpoints written by
                   # pre-round-5 builds with per-group params — they
                   # refuse resume ("built from different specs/input")
                   # and rebuild at a fresh path. Deliberate: accepting
                   # the legacy repr form as an alternate match would
                   # keep the order-dependent false-refusal bug alive
                   # for every legacy store
                   "per_group": (sorted(
                       (repr(g), json.dumps(p, sort_keys=True, default=repr))
                       for g, p in s.per_group_params.items())
                                 if s.per_group_params is not None else None),
                   "tokenize": s.tokenize, "weight_col": s.weight_col}
                  for s in specs],
    }, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _partial_counters(stored: DataFrame) -> dict:
    """Lineage counters over a stored partial table, in one job. Every
    spec's partial of a (partition, group, chunk) carries the same
    n_rows, so the row count is the n_rows sum over the spec count."""
    c = stored.agg(
        F.count("*").alias("n_partials"),
        F.countDistinct("partition_id").alias("n_partitions"),
        F.countDistinct("sketch_name").alias("n_specs"),
        F.sum("n_rows").alias("n_rows")).collect()[0]
    return {"n_partials": int(c["n_partials"]),
            "n_rows": int(c["n_rows"] or 0) // max(int(c["n_specs"]), 1),
            "n_partitions": int(c["n_partitions"])}


class PartialCheckpoint:
    """Parquet-backed per-partition partial store."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.data_path = path.rstrip("/") + "/partials"
        # a file, or the part-file directory that earlier versions
        # wrote with a Spark text job
        self.manifest_path = path.rstrip("/") + "/MANIFEST"

    def manifest(self) -> dict | None:
        text = read_control(self.spark, self.manifest_path)
        return None if text is None else json.loads(text)

    def completed_partitions(self) -> list[int]:
        """Partition ids with stored partials. A missing store is empty;
        any other read error propagates — treating a corrupt store as
        'nothing done' would append duplicate partials and silently
        double-count every merge thereafter."""
        if (self.manifest() is None
                or not path_exists(self.spark, self.data_path)):
            return []
        rows = (self.spark.read.parquet(self.data_path)
                .select("partition_id").distinct().collect())
        return sorted(r["partition_id"] for r in rows)

    def read_partials(self) -> DataFrame:
        return self.spark.read.parquet(self.data_path)

    def write(self, partials: DataFrame, fingerprint: str,
              append: bool = False) -> dict:
        mode = "append" if append else "overwrite"
        partials.write.mode(mode).parquet(self.data_path)
        man = {
            "fingerprint": fingerprint,
            "format": "parquet",
            "counters": _partial_counters(self.read_partials()),
        }
        write_control(self.spark, self.manifest_path, json.dumps(man))
        return man


def build_sketches_checkpointed(df: DataFrame, group_cols: list[str],
                                specs: list[SketchSpec], ckpt_path: str,
                                fanout: int | str | None = "auto",
                                readout: list | None = None) -> DataFrame:
    """build_sketches with a partial-level checkpoint at ``ckpt_path``.

    ``ckpt_path`` is a directory on any Hadoop-compatible filesystem;
    it holds the parquet partial table and its manifest.

    First run: builds all partials, checkpoints them, merges.
    Resumed run (manifest present, fingerprint matches): rebuilds only
    input partitions missing from the store, appends, merges.
    Fingerprint mismatch raises (changed specs/input require a fresh
    checkpoint dir).
    """
    ckpt = PartialCheckpoint(df.sparkSession, ckpt_path)
    fp = spec_fingerprint(df, group_cols, specs)
    man = ckpt.manifest()
    if man is not None and man["fingerprint"] != fp:
        raise ValueError(
            f"checkpoint at {ckpt_path} was built from different "
            f"specs/input (fingerprint {man['fingerprint']} != {fp}); "
            "use a new checkpoint path")
    done = ckpt.completed_partitions() if man is not None else []
    # spark_partition_id() is evaluated at the scan, and filter is a
    # narrow dependency, so partition numbering (the lineage key) is
    # preserved; completed partitions cost a scan but no Python
    remaining = df.filter(~F.spark_partition_id().isin(done)) if done else df
    ckpt.write(build_partials(remaining, group_cols, specs), fp,
               append=man is not None)
    return merge_partials(ckpt.read_partials(), group_cols,
                          fanout=fanout, readout=readout)
