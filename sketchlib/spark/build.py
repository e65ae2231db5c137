"""Stages 1+2: calibration and distributed sketch build.

Reproduces the reference's dataflow (/root/reference/spark/main.py:
stage 1 count-per-class :100-137, stage 2 partition-local build +
OR-merge :139-164) with the Spark-native architecture from SURVEY.md §4:

  1. ``calibrate``      — exact `groupBy().count()` (Catalyst partial
                          aggregation; the only full-row shuffle-free scan).
  2. ``build_partials`` — ``mapInPandas`` over *input partitions*: one
                          partial sketch per (group, spec) per partition.
                          Raw rows NEVER shuffle (the reference's
                          `groupByKey` at main.py:146 shuffles every row —
                          its known skew trap, SURVEY.md G1). Only
                          fixed-size sketch states cross the wire.
  3. ``merge_partials`` — hierarchical merge via ``applyInPandas``;
                          optional two-level (salted) fan-in for very
                          wide clusters, treeAggregate-style.

``build_sketches`` picks one of three merge shapes, all folding a
group's partials in the same (partition_id, chunk) order, so all write
the same bytes:

  - in-task: a single-partition input folds its partials in the task
    that built them (one ``mapInPandas``, lazy);
  - driver: a plan with no salt level whose partials fit Spark's
    ``spark.sql.execution.arrow.localRelationThreshold`` is built in
    one job, collected and folded on the driver, and returned as a
    ``LocalRelation`` (eager: the job runs at call time);
  - tree: every other input shuffles its partials through
    ``merge_partials``' salted ``applyInPandas`` tree. A build whose
    partials turned out too big for the driver in that one job merges
    the partials the job left in a local checkpoint: no input is
    built twice.

At 100 TB: the shuffle volume is (#input_partitions × #groups ×
sketch_bytes) regardless of row count — the property that makes the
reference's design scale, preserved verbatim.
"""

from __future__ import annotations

from collections.abc import Iterator

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               FloatType, IntegerType, IntegralType,
                               LongType, StringType, StructField, StructType)

from sketchlib.core.cms import CountMinSketch
from sketchlib.core.sample import WeightedBottomKSample
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.params import bloom_params
from sketchlib.core.serde import fold_blobs, sketch_from_bytes
from sketchlib.spark.dfutil import local_table
from sketchlib.spark.specs import SketchSpec


def calibrate(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Stage 1: exact per-group counts (n). Catalyst does partial agg.
    A NaN group key counts in the null group, as in the build."""
    return (_nan_keys_as_null(df, group_cols).groupBy(*group_cols)
            .agg(F.count("*").alias("n")))


def _nan_keys_as_null(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """``df`` with NaN read as null in its floating group columns. The
    build cannot tell the two apart (pandas reads a null float as NaN),
    so a NaN group key is the null group everywhere: every exact pass
    over a build's groups goes through this first."""
    nulled = {f.name: F.nanvl(f.name, F.lit(None).cast(f.dataType))
              for f in df.schema.fields if f.name in group_cols
              and isinstance(f.dataType, (FloatType, DoubleType))}
    return df.withColumns(nulled) if nulled else df


def task_partition_id() -> int:
    """Current task's input partition id, or -1 when called off-task
    (driver-side tests). The -1 sentinel participates in
    ``merge_partials``' (partition_id, chunk) sort contract — every
    partial-producing kernel must use THIS helper so the sentinel can
    never drift between producers."""
    from pyspark import TaskContext
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else -1


def bloom_params_by_group(calib: DataFrame, p: float) -> dict:
    """Driver-side (m, k) per group from collected calibration counts.

    Mirrors /root/reference/spark/main.py:117-125 (collect n per class,
    derive m per class, one k) — bounded by #groups, never by #rows.
    """
    rows = calib.collect()
    out = {}
    for r in rows:
        vals = r.asDict()
        n = vals.pop("n")
        key = tuple(vals.values())
        if len(key) == 1:
            key = key[0]
        m, k = bloom_params(n, p)
        out[key] = {"m": m, "k": k}
    return out


def _group_fields(df: DataFrame, group_cols: list[str]) -> list[StructField]:
    by_name = {f.name: f for f in df.schema.fields}
    return [StructField(c, by_name[c].dataType, True) for c in group_cols]


def _partials_schema(df: DataFrame, group_cols: list[str]) -> StructType:
    return StructType(_group_fields(df, group_cols) + [
        StructField("sketch_name", StringType(), False),
        StructField("partial", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("chunk", IntegerType(), False),
    ])


def _norm_nan(key):
    """pandas groupby(dropna=False) yields float NaN (pd.NA on a
    nullable dtype) for null keys while Spark's collect() yields None —
    normalize to None so per-group param dicts and validation
    self-exclusion line up across the boundary."""
    if isinstance(key, tuple):
        return tuple(_norm_nan(k) for k in key)
    if key is pd.NA or isinstance(key, float) and np.isnan(key):
        return None
    return key


def tokens_arrow(col: pd.Series) -> "pa.Array":
    """Arrow-native tokenizer: drop nulls, split on single space, drop
    empty tokens — identical semantics to the old pandas
    split/explode path and the DuckDB oracles (parity-tested), but the
    split/flatten/filter runs in Arrow C++ with no per-token Python
    objects: measured 6.3x faster on the pages corpus, where
    tokenization was 95% of the CMS build stage.

    Non-string columns coerce via pandas astype(str) — Python str()
    semantics (1.0 -> '1.0'), matching the old path, Spark's CAST AS
    STRING, and the oracles; an arrow float->string cast would yield
    '1' and silently change token identity."""
    col = col.dropna()
    try:
        arr = pa.array(col, type=pa.large_string())
    except (pa.ArrowTypeError, pa.ArrowInvalid, pa.ArrowNotImplementedError):
        # non-string / mixed batch: coerce per-element like the old
        # pandas path (Python str() semantics: 1.0 -> '1.0')
        arr = pa.array(col.astype(str), type=pa.large_string())
    toks = pa_compute.list_flatten(pa_compute.split_pattern(arr, " "))
    return toks.filter(pa_compute.not_equal(toks, ""))


def update_from_token_counts(freq_sketch, tracker, col: pd.Series) -> bool:
    """Tokenize + value_counts + weighted frequency-sketch update, with
    an optional SpaceSaving-style tracker — the one token-feed shared
    by heavy hitters and its streaming twin (so the two cannot drift).
    Returns False when the batch had no tokens."""
    toks = tokens_arrow(col)
    if not len(toks):
        return False
    vc = pa_compute.value_counts(toks)
    counts = vc.field("counts").to_numpy()
    freq_sketch.update_batch(vc.field("values"), counts)
    if tracker is not None:
        tracker.add_batch(vc.field("values").to_pylist(), counts)
    return True


def _values_for(spec: SketchSpec, sub: pd.DataFrame):
    col = sub[spec.value_col]
    if spec.tokenize:
        return tokens_arrow(col)
    if spec.numeric:
        return col.to_numpy(dtype=np.float64, na_value=np.nan)
    return col.dropna()


def _feed(spec: SketchSpec, sketch, sub: pd.DataFrame,
          vcache: dict | None = None) -> None:
    """Feed one pandas sub-frame into a sketch per its spec (tokenize /
    numeric / weighted dispatch) — the single update path shared by the
    batch build and both streaming builds, so semantics cannot drift.

    ``vcache`` memoizes extracted value columns across specs sharing a
    (value_col, tokenize, numeric) triple within one sub-frame.
    """
    if spec.weight_col is not None:  # cms/countsketch/wsample
        vals = sub[spec.value_col]
        w = pd.to_numeric(sub[spec.weight_col], errors="coerce")
        if isinstance(sketch, WeightedBottomKSample):
            # positive-float weights; the kernel applies the shared
            # null rules (null key / NaN weight drop the row) and
            # raises on non-positive weights
            sketch.update_batch(vals, w.to_numpy(np.float64))
            return
        mask = (vals.notna() & w.notna()).to_numpy()
        if mask.any():
            wf = w[mask].to_numpy(np.float64)
            wi = np.rint(wf)
            # fractions are a caller bug, not something to round away
            # quietly; negative weights would decrement CMS cells and
            # silently void its overestimate-only guarantee — but are
            # legitimate deletes for the SIGNED count sketch
            if not np.array_equal(wi, wf):
                raise ValueError(
                    f"weight_col {spec.weight_col!r} must hold "
                    "integral weights (counts)")
            if (wi < 0).any() and isinstance(sketch, CountMinSketch):
                raise ValueError(
                    f"weight_col {spec.weight_col!r} has negative "
                    "weights — CMS counters are overestimate-only; "
                    "use kind='countsketch' for delete streams")
            sketch.update_batch(vals[mask], wi.astype(np.int64))
        return
    vk = (spec.value_col, spec.tokenize, spec.numeric)
    vals = vcache.get(vk) if vcache is not None else None
    if vals is None:
        vals = _values_for(spec, sub)
        if vcache is not None:
            vcache[vk] = vals
    if not len(vals):
        return
    if spec.tokenize and isinstance(sketch, (CountMinSketch, CountSketch)):
        # weighted update over unique tokens: hashes the batch
        # vocabulary, not every occurrence
        vc = pa_compute.value_counts(vals)
        sketch.update_batch(vc.field("values"),
                            vc.field("counts").to_numpy())
    else:
        sketch.update_batch(vals)


def _max_groups_in_flight() -> int:
    """The per-task bound on in-memory (group, sketch) states of every
    partial builder: the deployment setting
    SKETCHLIB_MAX_GROUPS_IN_FLIGHT (default 8192). ValueError below 1."""
    value = int(os.environ.get("SKETCHLIB_MAX_GROUPS_IN_FLIGHT", "8192"))
    if value < 1:
        raise ValueError("SKETCHLIB_MAX_GROUPS_IN_FLIGHT must be >= 1")
    return value


def _partial_task(df: DataFrame, group_cols: list[str],
                  specs: list[SketchSpec]):
    """(projected input, per-partition build, partials schema): the
    pieces of ``build_partials``, which ``build_sketches`` also composes
    with the in-task fold."""
    if not specs:
        raise ValueError("at least one SketchSpec required")
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    value_cols = sorted(({s.value_col for s in specs}
                         | {s.weight_col for s in specs if s.weight_col})
                        - set(group_cols))  # a group col can be sketched
    # pandas reads a batch's integer column that holds a null as
    # float64, which merges keys above 2**53: a nullable integral group
    # column also crosses as a null-free copy, which the build groups
    # on with the null mask put back
    exact = {f.name: f"_exact_{f.name}" for f in df.schema.fields
             if f.name in group_cols and f.nullable
             and isinstance(f.dataType, IntegralType)}
    sel = df.select(*group_cols, *value_cols,
                    *(F.coalesce(c, F.lit(0)).alias(e)
                      for c, e in exact.items()))
    keys = [exact.get(c, c) for c in group_cols]
    n_groups = len(group_cols)
    flush_at = _max_groups_in_flight() * len(specs)

    def build_partition(batches: Iterator[pd.DataFrame]
                        ) -> Iterator[pd.DataFrame]:
        pid = task_partition_id()
        acc: dict = {}  # (group_tuple, spec_idx) -> [sketch, n_rows]
        chunk = 0

        def emit():
            rows = []
            for (gkey, si), (sk, n) in acc.items():
                rows.append((*gkey, specs[si].name, sk.to_bytes(), n, pid,
                             chunk))
            frame = pd.DataFrame(rows, columns=[*group_cols, "sketch_name",
                                                "partial", "n_rows",
                                                "partition_id", "chunk"])
            for i, c in enumerate(group_cols):
                if c in exact:  # ints and None would read as float64
                    frame[c] = pd.array([g[i] for g, _si in acc],
                                        dtype="Int64")
            return frame

        for pdf in batches:
            for c, e in exact.items():
                pdf[e] = pd.arrays.IntegerArray(pdf[e].to_numpy(),
                                                pdf[c].isna().to_numpy())
            for gkey, sub in pdf.groupby(keys, sort=False, dropna=False):
                if not isinstance(gkey, tuple):
                    gkey = (gkey,)
                gkey = _norm_nan(gkey)
                # extract each distinct (value_col, tokenize, numeric)
                # once per group — specs often share a column (e.g. a
                # Bloom and an HLL over url)
                vcache: dict = {}
                for si, spec in enumerate(specs):
                    slot = acc.get((gkey, si))
                    if slot is None:
                        slot = [spec.make(gkey if n_groups > 1 else gkey[0]), 0]
                        acc[(gkey, si)] = slot
                    _feed(spec, slot[0], sub, vcache)
                    slot[1] += len(sub)
                # checked per GROUP, not per batch: one wide arrow
                # batch must not blow past the memory bound (pandas
                # groupby iteration order is first-occurrence —
                # deterministic, so chunk boundaries are too)
                if len(acc) >= flush_at:
                    yield emit()
                    acc.clear()
                    chunk += 1
        if acc:
            yield emit()

    return sel, build_partition, _partials_schema(df, group_cols)


def build_partials(df: DataFrame, group_cols: list[str],
                   specs: list[SketchSpec]) -> DataFrame:
    """Stage 2a: one partial sketch per (input partition, group, spec).

    Column-prunes to exactly the needed columns before the Python
    boundary so the parquet scan reads only those (ReadSchema check).

    The deployment setting SKETCHLIB_MAX_GROUPS_IN_FLIGHT (default
    8192) bounds task memory on HIGH-CARDINALITY group keys: when a
    task is holding that many (group, spec) states it FLUSHES them as
    partial rows (tagged with an increasing ``chunk``) and starts
    fresh, so memory is O(max_groups x state_bytes) instead of
    O(#groups-in-partition x state_bytes). Flushed chunks are just
    more partials: lattice kernels merge back bitwise-identical to the
    unflushed build; the lossy quantile kernels get one more merge
    boundary — the same effect the partition split already has — and
    stay deterministic because the merge totally orders partial rows
    by (partition_id, chunk).
    """
    sel, build, schema = _partial_task(df, group_cols, specs)
    return sel.mapInPandas(build, schema)


def _table_schema(df: DataFrame, group_cols: list[str],
                  readout: list | None = None) -> StructType:
    """The sketch-table shape every merge path emits:
    (group_cols..., sketch_name, sketch, n_rows, n_partials) plus one
    column per ``readout`` entry."""
    from pyspark.sql.types import _parse_datatype_string
    return StructType(_group_fields(df, group_cols) + [
        StructField("sketch_name", StringType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("n_rows", LongType(), False),
        StructField("n_partials", LongType(), False),
    ] + [StructField(col, _parse_datatype_string(dtype), True)
         for col, dtype, _fn in readout or ()])


def _table_row(keys: list[str], readout: list | None = None):
    """The ``_group_fold`` emit that writes one ``_table_schema`` row:
    group ``key`` (values of ``keys``, sketch_name last) folded into
    ``sk`` from its input rows ``pdf``. Raw partials carry no
    n_partials column and count one each; merged inputs sum theirs.
    ``readout=[(col, dtype, fn), ...]`` appends ``fn(sketch_name, sk)``
    per entry, computed right after the fold in the same task."""
    def emit(key, sk, pdf: pd.DataFrame) -> pd.DataFrame:
        row = {c: [v] for c, v in zip(keys, key)}
        row.update(sketch=[sk.to_bytes()], n_rows=[int(pdf["n_rows"].sum())],
                   n_partials=[int(pdf["n_partials"].sum())
                               if "n_partials" in pdf else len(pdf)])
        for col, _dtype, fn in readout or ():
            row[col] = [fn(key[-1], sk)]
        return pd.DataFrame(row)
    return emit


def _group_fold(blob_col: str, emit, by=None, ascending=True, context=None):
    """Per-group merge task: stable-sort the group's rows by ``by`` (the
    entry point's fold order; None keeps arrival order), fold
    ``blob_col`` with ``fold_blobs`` and return ``emit(key, sketch,
    sorted_rows)``. ``context(key)`` prefixes kernel merge errors."""
    def fn(key, pdf):
        if by:
            pdf = pdf.sort_values(by, ascending=ascending, kind="stable")
        sk = fold_blobs(pdf[blob_col], context(key) if context else None)
        return emit(key, sk, pdf)
    return fn


def _merge_groups(df: DataFrame, keys: list[str], schema: StructType,
                  blob_col: str, emit, by=None, ascending=True,
                  context=None) -> DataFrame:
    """``groupBy(keys).applyInPandas`` of one ``_group_fold`` task per
    group — the shuffle merge shared by every merge entry point."""
    return df.groupBy(*keys).applyInPandas(
        _group_fold(blob_col, emit, by, ascending, context), schema)


def _fold_in_task(keys: list[str], group_fold):
    """The in-task grouped fold: gather the rows of every frame a task
    sees per ``keys`` group, then run ``group_fold(key, rows)`` (a
    ``_group_fold`` task) once per group. Complete exactly when all of
    a group's rows are task-local — a single-partition input.

    Memory shape: the frames' rows are held once, and each group's
    accumulation is freed as it is folded, so the transient is all
    rows plus ONE group's frame."""
    def fold_partition(frames: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        groups: dict = {}
        for pdf in frames:
            for key, sub in pdf.groupby(keys, sort=False, dropna=False):
                if not isinstance(key, tuple):
                    key = (key,)
                # normalize BEFORE the dict insert: distinct NaN
                # objects are unequal, so a null numeric group key
                # spanning multiple Arrow batches would otherwise
                # split into duplicate rows
                groups.setdefault(_norm_nan(key), []).append(sub)
        if groups:
            # as object columns: the groups' frames differ in dtype
            # where a key or read-out is null (or a frame is empty),
            # and an integer key must not be read as float64
            yield pd.concat([group_fold(key, pd.concat(groups.pop(key),
                                                       ignore_index=True))
                             .astype(object) for key in list(groups)],
                            ignore_index=True)
    return fold_partition


def _build_and_fold(build, fold):
    """One Python operator for a single-partition input: ``fold`` (an
    ``_fold_in_task``) consumes the partial frames ``build`` yields, in
    the task that built them."""
    def build_and_fold(batches: Iterator[pd.DataFrame]
                       ) -> Iterator[pd.DataFrame]:
        return fold(build(batches))
    return build_and_fold


def _fold_partials(group_cols: list[str], readout: list | None):
    """``_fold_in_task`` over ``_partials_schema`` frames: one
    ``_table_schema`` row per (group, spec), folded in (partition_id,
    chunk) order like every level of the shuffle tree."""
    keys = [*group_cols, "sketch_name"]
    return _fold_in_task(keys, _group_fold(
        "partial", _table_row(keys, readout), by=["partition_id", "chunk"]))


def _merge_plan(partials: DataFrame, fanout) -> tuple[int | None, list]:
    """(partition count, salt-level bucket counts) for a merge of
    ``partials``. The count is needed to resolve "auto", to detect the
    single-partition case and to split the driver fold's byte budget;
    an explicit multi-level fanout needs none of them, so the
    DataFrame->RDD plan conversion is skipped then."""
    nparts = None
    if fanout == "auto":
        nparts = partials.rdd.getNumPartitions()
        fanout = _auto_fanout(nparts)
    plan = list(fanout) if isinstance(fanout, (list, tuple)) else \
        ([int(fanout)] if fanout and fanout > 1 else [])
    if not plan and nparts is None:
        nparts = partials.rdd.getNumPartitions()
    return nparts, plan


def _merge_tree(partials: DataFrame, group_cols: list[str], plan: list,
                readout: list | None) -> DataFrame:
    """The shuffle merge: one salted ``_merge_groups`` level per
    ``plan`` entry, then the final per-(group, spec) fold."""
    keys = [*group_cols, "sketch_name"]
    order = ["partition_id", "chunk"]
    out_schema = _table_schema(partials, group_cols, readout)
    level_schema = StructType(_partials_schema(partials, group_cols).fields
                              + [StructField("n_partials", LongType(), False)])

    def level_row(key, sk, pdf):
        # the bucket index (last key) becomes the next level's
        # partition_id: the fold order at every level is then a pure
        # function of the tree shape, not of task scheduling
        return (_table_row(keys)(key[:-1], sk, pdf)
                .rename(columns={"sketch": "partial"})
                .assign(partition_id=int(key[-1]), chunk=0))

    for buckets in plan:
        salted = partials.withColumn(
            "salt", F.pmod(F.col("partition_id"), F.lit(int(buckets))))
        partials = _merge_groups(salted, [*keys, "salt"], level_schema,
                                 "partial", level_row, by=order)
    return _merge_groups(partials, keys, out_schema, "partial",
                         _table_row(keys, readout), by=order)


# the flag column of the driver fold's build job: True on the rows
# the driver collects
_SHIP = "_ship"


def _frame_bytes(frame: pd.DataFrame) -> int:
    """Arrow bytes of ``frame``, every column counted: what its rows
    add to the table the driver collects."""
    return pa.Table.from_pandas(frame, preserve_index=False).nbytes


def _within_share(build, share: int, blob_col: str):
    """``build`` with a ``_SHIP`` flag on its rows: True while the
    frames it has yielded hold at most ``share`` Arrow bytes; past
    that, the task yields ONE overflow marker (a shipped row whose
    ``blob_col`` is empty, which no serialized state is) and flags
    the rest of its rows False. It builds its whole partition either
    way: the unshipped rows are kept for the merge tree."""
    def bounded(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        used = 0
        for frame in build(batches):
            if used <= share:
                used += _frame_bytes(frame)
                if used > share:
                    yield frame.iloc[:1].assign(**{blob_col: [b""],
                                                   _SHIP: True})
            yield frame.assign(**{_SHIP: used <= share})
    return bounded


# Spark's integer types read as pandas' nullable ones: a column holding
# a null stays exact, where the default float64 merges distinct keys
# above 2**53 (and pandas' groupby floats an object column of ints too)
_NULLABLE_INTS = {pa.int8(): pd.Int8Dtype(), pa.int16(): pd.Int16Dtype(),
                  pa.int32(): pd.Int32Dtype(), pa.int64(): pd.Int64Dtype()}


def _fold_once(sel: DataFrame, build, partials: DataFrame, fold,
               out_schema, nparts: int, min_bytes: int | None = 0,
               blob_col: str = "partial"
               ) -> tuple[DataFrame | None, DataFrame]:
    """(merged, None): the merged table of ``fold`` (an
    ``_fold_in_task``) over the ``partials`` that ``build`` makes from
    ``sel``'s ``nparts`` partitions, with no shuffle — or (None,
    partials) when they do not fit the driver, for the caller's
    shuffle tree.

    One partition: the fold runs in the task that built the partials
    (lazy). More: one job builds the partials and collects them, the
    driver folds them and returns a ``LocalRelation``. Spark's Arrow
    local-relation threshold bounds the collect twice: before any
    job, ``nparts * min_bytes`` (the params-fixed bytes of one group's
    partial in every partition) must fit, else the lazy ``partials``
    go to the tree; in the job, each task ships at most
    budget / nparts Arrow bytes of partial rows, then one overflow
    marker. The job keeps every partial in a local checkpoint, so on
    a marker the tree merges those rows instead of building again.
    ``min_bytes=None`` keeps the fold off the driver."""
    if nparts == 1:
        return sel.mapInPandas(_build_and_fold(build, fold), out_schema), None
    spark = sel.sparkSession
    # Spark's own spark.sql.execution.arrow.localRelationThreshold: the
    # size under which the Arrow table returned is a LocalRelation
    budget = int(spark._jconf.arrowLocalRelationThreshold())
    if min_bytes is None or nparts * min_bytes > budget:
        return None, partials
    share = budget // max(nparts, 1)
    flagged = sel.mapInPandas(
        _within_share(build, share, blob_col),
        StructType(partials.schema.fields
                   + [StructField(_SHIP, BooleanType())])
    ).localCheckpoint(eager=False)
    parts = flagged.filter(F.col(_SHIP)).drop(_SHIP).toArrow()
    if pa_compute.any(pa_compute.equal(
            pa_compute.binary_length(parts[blob_col]), 0)).as_py():
        return None, flagged.filter(F.length(blob_col) > 0).drop(_SHIP)
    # every partial was shipped: the checkpoint is not needed
    flagged._jdf.queryExecution().analyzed().rdd().unpersist(False)
    folded = list(fold([parts.to_pandas(types_mapper=_NULLABLE_INTS.get)]))
    return local_table(spark, pd.concat(folded or [
        pd.DataFrame(columns=out_schema.names)], ignore_index=True),
        out_schema), None


def _build_merged(sel: DataFrame, build, partials_schema, group_cols,
                  fanout, readout: list | None,
                  min_bytes: int | None = 0) -> DataFrame:
    """The merged sketch table of the partials ``build`` makes from
    ``sel``. A plan with no salt level folds without a shuffle when it
    can (``_fold_once``: in the task for one partition, on the driver
    within the byte budget); every other input takes the shuffle tree.
    All three fold in (partition_id, chunk) order, so they write the
    same bytes."""
    partials = sel.mapInPandas(build, partials_schema)
    nparts, plan = _merge_plan(partials, fanout)
    if not plan:
        merged, partials = _fold_once(
            sel, build, partials, _fold_partials(group_cols, readout),
            _table_schema(partials, group_cols, readout), nparts, min_bytes)
        if merged is not None:
            return merged
    return _merge_tree(partials, group_cols, plan, readout)


def merge_partials(partials: DataFrame, group_cols: list[str],
                   fanout: int | str | list[int] | None = None,
                   readout: list | None = None) -> DataFrame:
    """Stage 2b: hierarchical merge of partial sketches per (group, spec).

    A partials DataFrame always merges through the shuffle tree, which
    holds one group per task: a store of partials read back as one
    partition (the checkpointed build's) never folds in one task.

    ``fanout=S`` inserts one salted pre-merge level (treeAggregate
    depth-2): partials first merge within (group, partition_id % S)
    buckets, then across buckets. ``fanout=[b1, b2, ...]`` is the
    general MULTI-LEVEL tree — bucket counts per salt level, each
    followed by a final cross-bucket fold — bounding every task's
    fan-in AND its input bytes even when the merged state is much
    larger than a partial (a skewed group's Bloom densifies after the
    first level: one more cheap level caps the big-blob fan-in where a
    depth-2 tree must choose which side to bound). ``fanout="auto"``
    sizes the plan from the partials' partition count (resolved HERE
    so every caller — including the checkpointed build — accepts it).
    Partials are merged in (partition_id, chunk) order — a total order
    over a group's partial rows even when the memory-bounded flush
    split a partition into chunks; bucket indices become the next
    level's partition_id, so the fold order is deterministic
    run-to-run at every level for the lossy quantile sketches too.

    ``readout=[(col, dtype, fn), ...]`` fuses estimate extraction into
    the FINAL merge task: each ``fn(sketch_name, sketch)`` runs right
    after the fold, appending a value column to the output row — no
    separate python-eval read-out stage (one fewer Arrow round-trip;
    the round-4 gap vs percentile_approx was exactly these boundaries,
    BENCH/builtin_compare.py). The merged blob column still ships, so
    the result stays persistable and mergeable.
    """
    _nparts, plan = _merge_plan(partials, fanout)
    return _merge_tree(partials, group_cols, plan, readout)


def rollup_sketches(sketches: DataFrame, from_cols: list[str],
                    to_cols: list[str],
                    readout: list | None = None) -> DataFrame:
    """Roll a sketch table keyed by ``from_cols`` up to ``to_cols`` by
    MERGING the stored states — no rebuild from raw rows.

    This is the other half of the mergeability contract the reference's
    ``reduceByKey(|)`` embodies (/root/reference/spark/main.py:150): a
    (lang, day) HLL table rolls up to per-lang distinct estimates by
    register-max alone. For the lattice sketches (bloom/hll/cms/theta)
    the rolled-up state is bitwise-identical to one built directly at
    the coarser key; for the lossy quantile sketches (kll/tdigest) the
    result is a valid merged sketch (deterministic here: blobs merge in
    sorted dropped-key order) whose error bound still holds.

    Input must have the ``build_sketches`` output shape
    (from_cols..., sketch_name, sketch, n_rows, n_partials).
    ``readout=[(col, dtype, fn), ...]`` appends estimate columns
    extracted inside the rollup's own merge task (same contract as
    ``merge_partials``): rolled-up read-outs with zero extra stages.
    SQL equivalent (registered by ``register_sql_functions``):
    ``SELECT to_cols, sketch_merge(collect_list(sketch)) ... GROUP BY``.
    """
    missing = [c for c in to_cols if c not in from_cols]
    if missing:
        raise ValueError(f"to_cols {missing} not in from_cols {from_cols}")
    dropped = [c for c in from_cols if c not in to_cols]
    keys = [*to_cols, "sketch_name"]
    # e.g. per-group Bloom params: each fine group has its own (m, k),
    # so states across the dropped key cannot merge
    return _merge_groups(
        sketches, keys, _table_schema(sketches, to_cols, readout), "sketch",
        _table_row(keys, readout), by=dropped, context=lambda key: (
            f"cannot roll up group {key}: states across the dropped "
            f"key(s) {dropped} have incompatible params; rollup "
            "requires params uniform over the dropped keys "
            "(HLL/CMS/theta/KLL/t-digest with fixed params qualify; "
            "per-group-calibrated Bloom does not)"))


def build_sketches(df: DataFrame, group_cols: list[str],
                   specs: list[SketchSpec],
                   fanout: int | str | None = "auto",
                   readout: list | None = None) -> DataFrame:
    """Full stage-2: partial build then hierarchical merge.

    ``fanout="auto"`` (default) is resolved as in ``merge_partials``
    (see ``_auto_fanout``): single fold up to 64 partials per group,
    else a multi-level salt plan bounding every merge task's fan-in
    AND input bytes. With no salt level the partials fold without a
    shuffle and read out there (``readout=``, as in ``merge_partials``):
    a single-partition input in ONE ``mapInPandas`` task; a wider one,
    when its partials fit ``spark.sql.execution.arrow.localRelationThreshold``
    (checked before the job from Bloom params, and in every task), on
    the driver — then the build job runs HERE, at call time, and the
    result is a ``LocalRelation`` whose actions run no job. Otherwise,
    and for builds with an FD spec (see ``_plan_bytes``), the partials
    shuffle through the merge tree.

    Returns one row per (group, sketch_name):
    (group_cols..., sketch_name, sketch binary, n_rows, n_partials).
    """
    sel, build, schema = _partial_task(df, group_cols, specs)
    return _build_merged(sel, build, schema, group_cols, fanout, readout,
                         _plan_bytes(specs))


def _plan_bytes(specs: list[SketchSpec]) -> int | None:
    """Plan-time bytes of one group's partials in one partition, for
    the driver fold's budget check: each Bloom spec's dense m/8 (the
    smallest m over its groups); the other kinds' states are not sized
    by their params and count 0. A partition whose share of a group
    sets >= m/32 bits ships that much; a sparser partial ships less, so
    the check can send a build to the tree that would have fit, but
    never past the budget. None when the partials must not fold on the
    driver: an FD merge's SVD differs in its last bits with the BLAS
    thread count, which Spark pins to ``spark.task.cpus`` in Python
    workers but not on the driver."""
    if any(s.kind == "fd" for s in specs):
        return None
    total = 0
    for spec in specs:
        if spec.kind == "bloom":
            ms = [p["m"] for p in (spec.per_group_params or {}).values()
                  if "m" in p]
            if "m" in spec.params:
                ms.append(spec.params["m"])
            total += min(ms, default=0) // 8
    return total


def build_sketches_local(df: DataFrame, group_cols: list[str],
                         specs: list[SketchSpec]) -> dict:
    """``build_sketches`` collected as {(group_key..., sketch_name):
    sketch object}: its driver fold when the partials fit, its merge
    tree otherwise."""
    return {(*(r[c] for c in group_cols), r["sketch_name"]):
            sketch_from_bytes(bytes(r["sketch"]))
            for r in build_sketches(df, group_cols, specs).collect()}


def _auto_fanout(parts: int) -> list[int] | None:
    """Merge-tree plan from the partial count (per-group fan-in ==
    #partitions): single fold up to 64 partials/group; above that, a
    multi-level plan whose FIRST level caps fan-in at 16 (inputs are
    small sparse partials — spread the deserialize work) and whose
    later levels cap fan-in at 4 (inputs are merged, often densified,
    blobs — bound the straggler's input BYTES, which a two-level
    sqrt(parts) tree cannot once merged-state >> partial-state; the
    skew bench BENCH/skew.py measures the difference). Depth is
    O(log parts): 257 -> [17, 5], 10k -> [625, 157, 40, 10, 3]."""
    if parts <= 64:
        return None
    plan = [int(np.ceil(parts / 16))]
    while plan[-1] > 6:
        plan.append(int(np.ceil(plan[-1] / 4)))
    return plan


def incremental_update(sketch_table: DataFrame, new_df: DataFrame,
                       group_cols: list[str], specs: list[SketchSpec],
                       fanout: int | str | None = "auto",
                       readout: list | None = None) -> DataFrame:
    """Fold NEW rows into an existing sketch table — the daily-append
    maintenance op mergeability buys: sketch only the delta, merge with
    the stored states, never re-read the base corpus.

    For lattice kernels the result is bitwise-identical to a full
    rebuild over base+delta (test-enforced); for the lossy quantile
    kernels it is a valid merged state within bounds. Groups appearing
    only in the delta (a new lang/day) pass through from the delta
    build; groups untouched by the delta pass through unchanged from
    the stored table.

    specs must match the ones that built ``sketch_table`` (same kinds
    and params — kernel merge validates and refuses mismatches).

    Plan shape: one partial build over the DELTA only + a merge whose
    input is (stored_states + delta_state) per group — the base data
    is never scanned. At 10^12 base rows and a 10^9-row daily delta,
    that is the difference between a job and an outage.
    """
    delta = build_sketches(new_df, group_cols, specs, fanout=fanout)
    keys = [*group_cols, "sketch_name"]
    both = (sketch_table.select(*keys, "sketch", "n_rows", "n_partials")
            .unionByName(delta.select(*keys, "sketch", "n_rows",
                                      "n_partials")))
    # deterministic merge order for the lossy kernels: base first
    # (larger n_rows), then delta. Row arrival order inside
    # applyInPandas is shuffle-dependent, so ties on n_rows (equal
    # base/delta sizes, repeated updates) need a content-based
    # secondary key — the blob bytes — to make the fold a total order
    # independent of arrival order. readout= is the same fused
    # extraction as merge_partials(readout=).
    return _merge_groups(
        both, keys, _table_schema(sketch_table, group_cols, readout),
        "sketch", _table_row(keys, readout),
        by=["n_rows", "sketch"], ascending=[False, True],
        context=lambda key: (
            f"cannot update group {key}: the stored state and the "
            "delta build have incompatible params — pass the same "
            "specs that built the sketch table"))
