"""Stages 1+2: calibration and distributed sketch build.

Reproduces the reference's dataflow (/root/reference/spark/main.py:
stage 1 count-per-class :100-137, stage 2 partition-local build +
OR-merge :139-164) with the Spark-native architecture from SURVEY.md §4:

  1. ``calibrate``      — exact `groupBy().count()` (Catalyst partial
                          aggregation; the only full-row shuffle-free scan).
  2. ``build_partials`` — ``mapInArrow`` over *input partitions*: one
                          partial sketch per (group, spec) per partition.
                          Raw rows NEVER shuffle (the reference's
                          `groupByKey` at main.py:146 shuffles every row —
                          its known skew trap, SURVEY.md G1). Only
                          fixed-size sketch states cross the wire.
  3. ``merge_partials`` — hierarchical merge via ``applyInArrow``;
                          optional two-level (salted) fan-in for very
                          wide clusters, treeAggregate-style.

``build_sketches`` picks one of two merge shapes (``_merge_plan``),
both lazy and both folding a group's partials in the same
(partition_id, chunk) order, so both write the same bytes:

  - in-task: a single-partition input folds its partials in the task
    that built them (one ``mapInArrow``, no Exchange);
  - tree: every other input shuffles its partials through
    ``merge_partials``' salted ``applyInArrow`` tree.

Every Python step reads and writes Arrow: batches are grouped in Arrow
(``_key_groups``), the kernels take Arrow arrays, and a bigint key with
nulls stays an exact int64 from the scan to the fold.

At 100 TB: the shuffle volume is (#input_partitions × #groups ×
sketch_bytes) regardless of row count — the property that makes the
reference's design scale, preserved verbatim.
"""

from __future__ import annotations

from collections.abc import Iterator

import datetime
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pa_compute
from pyspark.sql import DataFrame
import pyspark.sql.functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (BinaryType, DoubleType, FloatType,
                               IntegerType, LongType, StringType,
                               StructField, StructType)

from sketchlib.core.cms import CountMinSketch
from sketchlib.core.sample import WeightedBottomKSample
from sketchlib.core.countsketch import CountSketch
from sketchlib.core.params import bloom_params
from sketchlib.core.serde import fold_blobs, sketch_from_bytes
from sketchlib.spark.dfutil import num_partitions
from sketchlib.spark.specs import SketchSpec


def calibrate(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """Stage 1: exact per-group counts (n). Catalyst does partial agg.
    A NaN group key counts in the null group, as in the build."""
    return (_nan_keys_as_null(df, group_cols).groupBy(*group_cols)
            .agg(F.count("*").alias("n")))


def _nan_keys_as_null(df: DataFrame, group_cols: list[str]) -> DataFrame:
    """``df`` with NaN read as null in its floating group columns: a
    NaN group key is the null group everywhere. Every build projection
    and every exact pass over a build's groups goes through this
    first."""
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


def tokens_arrow(col) -> "pa.Array":
    """Arrow-native tokenizer: drop nulls, split on single space, drop
    empty tokens — the semantics of the DuckDB oracles (parity-tested),
    with the split/flatten/filter in Arrow C++ and no per-token Python
    objects.

    ``col`` is an Arrow array or a pandas Series. Non-string values
    coerce with Python ``str()`` (1.0 -> '1.0'), matching Spark's CAST
    AS STRING and the oracles; an Arrow float->string cast would yield
    '1' and silently change token identity."""
    if isinstance(col, pd.Series):
        col = col.dropna()
        try:
            col = pa.array(col, type=pa.large_string())
        except (pa.ArrowTypeError, pa.ArrowInvalid,
                pa.ArrowNotImplementedError):
            col = pa.array(col.astype(str), type=pa.large_string())
    col = col.drop_null()
    if not any(f(col.type) for f in (pa.types.is_string, pa.types.is_binary,
                                     pa.types.is_large_string,
                                     pa.types.is_large_binary)):
        col = pa.array([str(v) for v in col.to_pylist()], pa.large_string())
    arr = col.cast(pa.large_string())
    toks = pa_compute.list_flatten(pa_compute.split_pattern(arr, " "))
    return toks.filter(pa_compute.not_equal(toks, ""))


def update_from_token_counts(freq_sketch, tracker, col) -> bool:
    """Tokenize + value_counts + weighted frequency-sketch update, with
    an optional SpaceSaving-style tracker — the one token-feed shared
    by heavy hitters and its streaming twin (so the two cannot drift).
    ``col`` as in ``tokens_arrow``. Returns False when the batch had
    no tokens."""
    toks = tokens_arrow(col)
    if not len(toks):
        return False
    vc = pa_compute.value_counts(toks)
    counts = vc.field("counts").to_numpy()
    freq_sketch.update_batch(vc.field("values"), counts)
    if tracker is not None:
        tracker.add_batch(vc.field("values").to_pylist(), counts)
    return True


def _values_for(spec: SketchSpec, rows: pa.Table):
    col = rows[spec.value_col]
    if spec.tokenize:
        return tokens_arrow(col)
    if spec.numeric:  # null reads as NaN, which the kernels drop
        return np.asarray(col, dtype=np.float64)
    return col.drop_null()


def _feed(spec: SketchSpec, sketch, rows: pa.Table,
          vcache: dict | None = None) -> None:
    """Feed one Arrow table of rows into a sketch per its spec
    (tokenize / numeric / weighted dispatch) — the single update path
    shared by the batch build and the windowed streaming build, so
    semantics cannot drift.

    ``vcache`` memoizes extracted value columns across specs sharing a
    (value_col, tokenize, numeric) triple within one table.
    """
    if spec.weight_col is not None:  # cms/countsketch/wsample
        vals = rows[spec.value_col]
        w = np.asarray(rows[spec.weight_col], dtype=np.float64)  # null: NaN
        if isinstance(sketch, WeightedBottomKSample):
            # positive-float weights; the kernel applies the shared
            # null rules (null key / NaN weight drop the row) and
            # raises on non-positive weights
            sketch.update_batch(vals, w)
            return
        mask = np.asarray(vals.is_valid()) & ~np.isnan(w)
        if mask.any():
            wf = w[mask]
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
            sketch.update_batch(vals.filter(pa.array(mask)),
                                wi.astype(np.int64))
        return
    vk = (spec.value_col, spec.tokenize, spec.numeric)
    vals = vcache.get(vk) if vcache is not None else None
    if vals is None:
        vals = _values_for(spec, rows)
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


def _key_groups(data: pa.Table | pa.RecordBatch, keys: list[str]):
    """(key tuple, rows) for each ``keys`` group of ``data``: groups in
    first-occurrence order, each group's rows in arrival order, so
    chunk boundaries and fold orders are functions of the input alone.
    No ``keys``: one group, ``()``. A null key is its own group; a NaN
    is not null (see ``_nan_keys_as_null``).

    Groups by dictionary codes (null encoded as a value) in numpy:
    pyarrow's ``Table.group_by`` numbers groups in hash order and, on
    a nullable fixed-width key after the first, splits the null group."""
    table = (data if isinstance(data, pa.Table)
             else pa.Table.from_batches([data]))
    if not table.num_rows:
        return
    if not keys:  # an ungrouped build: every row in the one group
        yield (), table
        return
    encoded = [table[k].combine_chunks().dictionary_encode(
        null_encoding="encode") for k in keys]
    codes = [e.indices.to_numpy() for e in encoded]
    group = codes[0].astype(np.int64)
    for c, e in zip(codes[1:], encoded[1:]):
        # dense ids of the keys so far keep the product below rows**2
        group = (np.unique(group, return_inverse=True)[1]
                 * len(e.dictionary) + c)
    _uniq, first, group = np.unique(group, return_index=True,
                                    return_inverse=True)
    rank = np.empty_like(first)
    rank[np.argsort(first)] = np.arange(len(first))
    group = rank[group]  # numbered by first occurrence
    order = np.argsort(group, kind="stable")
    values = [e.dictionary.to_pylist() for e in encoded]
    ends = np.cumsum(np.bincount(group))
    for start, end in zip(np.r_[0, ends[:-1]], ends):
        row = order[start]
        yield (tuple(v[c[row]] for v, c in zip(values, codes)),
               table.take(order[start:end]))


def _batch(cols: dict, schema: pa.Schema) -> pa.RecordBatch:
    """One ``schema`` batch from ``cols`` (field name -> Python values);
    a float NaN is written as null. A tz-aware datetime (a timestamp
    key read in the session time zone) is written as its instant:
    pyarrow 16 would write its wall time as UTC."""
    def values(f):
        if pa.types.is_timestamp(f.type) and f.type.tz:
            return [v if v is None or v.tzinfo is None
                    else v.astimezone(datetime.timezone.utc)
                    for v in cols[f.name]]
        return cols[f.name]
    return pa.RecordBatch.from_arrays(
        [pa.array(values(f), f.type, from_pandas=True) for f in schema],
        schema=schema)


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
    sel = _nan_keys_as_null(df.select(*group_cols, *value_cols), group_cols)
    schema = _partials_schema(df, group_cols)
    out = to_arrow_schema(schema)
    n_groups = len(group_cols)
    flush_at = _max_groups_in_flight() * len(specs)

    def build_partition(batches: Iterator[pa.RecordBatch]
                        ) -> Iterator[pa.RecordBatch]:
        pid = task_partition_id()
        acc: dict = {}  # (group_tuple, spec_idx) -> [sketch, n_rows]
        chunk = 0

        def emit():
            rows = [(*gkey, specs[si].name, sk.to_bytes(), n, pid, chunk)
                    for (gkey, si), (sk, n) in acc.items()]
            return _batch(dict(zip(out.names, zip(*rows))), out)

        for batch in batches:
            for gkey, rows in _key_groups(batch, group_cols):
                # extract each distinct (value_col, tokenize, numeric)
                # once per group — specs often share a column (e.g. a
                # Bloom and an HLL over url)
                vcache: dict = {}
                for si, spec in enumerate(specs):
                    slot = acc.get((gkey, si))
                    if slot is None:
                        slot = [spec.make(gkey[0] if n_groups == 1
                                          else gkey), 0]
                        acc[(gkey, si)] = slot
                    _feed(spec, slot[0], rows, vcache)
                    slot[1] += rows.num_rows
                # checked per GROUP, not per batch: one wide arrow
                # batch must not blow past the memory bound
                if len(acc) >= flush_at:
                    yield emit()
                    acc.clear()
                    chunk += 1
        if acc:
            yield emit()

    return sel, build_partition, schema


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
    return sel.mapInArrow(build, schema)


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


def table_group_cols(table: DataFrame) -> list[str]:
    """The group columns of a stored ``_table_schema`` sketch table
    (empty for an ungrouped or globally rolled-up one)."""
    return [c for c in table.columns
            if c not in ("sketch_name", "sketch", "n_rows", "n_partials")]


def _table_row(keys: list[str], readout: list | None = None):
    """The ``_group_fold`` emit that writes one ``_table_schema`` row:
    group ``key`` (values of ``keys``, sketch_name last) folded into
    ``sk`` from its input ``rows``. Raw partials carry no n_partials
    column and count one each; merged inputs sum theirs.
    ``readout=[(col, dtype, fn), ...]`` appends ``fn(sketch_name, sk)``
    per entry, computed right after the fold in the same task."""
    def emit(key, sk, rows: pa.Table) -> dict:
        cols = {c: [v] for c, v in zip(keys, key)}
        cols.update(sketch=[sk.to_bytes()],
                    n_rows=[pa_compute.sum(rows["n_rows"]).as_py()],
                    n_partials=[pa_compute.sum(rows["n_partials"]).as_py()
                                if "n_partials" in rows.column_names
                                else rows.num_rows])
        for col, _dtype, fn in readout or ():
            cols[col] = [fn(key[-1], sk)]
        return cols
    return emit


def _group_fold(blob_col: str, emit, schema: StructType, by=None,
                ascending=True, context=None):
    """Per-group merge task: stable-sort the group's rows by ``by`` (the
    entry point's fold order; None keeps arrival order), fold
    ``blob_col`` with ``fold_blobs`` and return the ``schema`` table
    of ``emit(key, sketch, sorted_rows)``'s columns. ``context(key)``
    prefixes kernel merge errors."""
    out = to_arrow_schema(schema)
    if by:
        asc = ascending if isinstance(ascending, list) else \
            [ascending] * len(by)
        order = [(c, "ascending" if a else "descending")
                 for c, a in zip(by, asc)]

    def fn(key, rows: pa.Table) -> pa.Table:
        if by:
            rows = rows.sort_by(order)
        sk = fold_blobs(rows[blob_col].to_pylist(),
                        context(key) if context else None)
        return pa.Table.from_batches([_batch(emit(key, sk, rows), out)])
    return fn


def _merge_groups(df: DataFrame, keys: list[str], schema: StructType,
                  blob_col: str, emit, by=None, ascending=True,
                  context=None) -> DataFrame:
    """``groupBy(keys).applyInArrow`` of one ``_group_fold`` task per
    group — the shuffle merge shared by every merge entry point."""
    fold = _group_fold(blob_col, emit, schema, by, ascending, context)

    def merge(key, rows):  # no hints: pyspark infers the form from them
        return fold(tuple(k.as_py() for k in key), rows)
    return df.groupBy(*keys).applyInArrow(merge, schema)


def _fold_in_task(keys: list[str], group_fold):
    """The in-task grouped fold: gather the rows of every batch a task
    sees per ``keys`` group, then run ``group_fold(key, rows)`` (a
    ``_group_fold`` task) once per group and yield the results as one
    batch. Complete exactly when all of a group's rows are task-local
    — a single-partition input.

    Memory shape: the batches' rows are held once, and each group's
    accumulation is freed as it is folded, so the transient is all
    rows plus ONE group's table."""
    def fold_partition(batches: Iterator[pa.RecordBatch | pa.Table]
                       ) -> Iterator[pa.RecordBatch]:
        groups: dict = {}
        for batch in batches:
            for key, rows in _key_groups(batch, keys):
                groups.setdefault(key, []).append(rows)
        if groups:
            yield from pa.concat_tables(
                [group_fold(key, pa.concat_tables(groups.pop(key)))
                 for key in list(groups)]).combine_chunks().to_batches()
    return fold_partition


def _fold_partials(group_cols: list[str], readout: list | None,
                   schema: StructType):
    """``_fold_in_task`` over ``_partials_schema`` batches: one
    ``_table_schema`` row (``schema``) per (group, spec), folded in
    (partition_id, chunk) order like every level of the shuffle
    tree."""
    keys = [*group_cols, "sketch_name"]
    return _fold_in_task(keys, _group_fold(
        "partial", _table_row(keys, readout), schema,
        by=["partition_id", "chunk"]))


def _merge_plan(df: DataFrame, fanout) -> list | None:
    """The merge shape of the partials built from ``df``, the one
    decision of every build entry point: None when they fold in the
    task that built them (one partition and no salt level), else the
    salt-level bucket counts of the shuffle tree (empty: the final
    fold alone). The partition count resolves "auto" and detects the
    single partition; an explicit salt level needs neither."""
    nparts = None
    if fanout == "auto":
        nparts = num_partitions(df)
        fanout = _auto_fanout(nparts)
    plan = list(fanout) if isinstance(fanout, (list, tuple)) else \
        ([int(fanout)] if fanout and fanout > 1 else [])
    if plan:
        return plan
    if nparts is None:
        nparts = num_partitions(df)
    return None if nparts == 1 else []


def _merge_tree(partials: DataFrame, group_cols: list[str], plan: list,
                readout: list | None) -> DataFrame:
    """The shuffle merge: one salted ``_merge_groups`` level per
    ``plan`` entry, then the final per-(group, spec) fold."""
    keys = [*group_cols, "sketch_name"]
    order = ["partition_id", "chunk"]
    out_schema = _table_schema(partials, group_cols, readout)
    level_schema = StructType(_partials_schema(partials, group_cols).fields
                              + [StructField("n_partials", LongType(), False)])

    def level_row(key, sk, rows):
        # the bucket index (last key) becomes the next level's
        # partition_id: the fold order at every level is then a pure
        # function of the tree shape, not of task scheduling
        cols = _table_row(keys)(key[:-1], sk, rows)
        cols.update(partial=cols.pop("sketch"), partition_id=[key[-1]],
                    chunk=[0])
        return cols

    for buckets in plan:
        salted = partials.withColumn(
            "salt", F.pmod(F.col("partition_id"), F.lit(int(buckets))))
        partials = _merge_groups(salted, [*keys, "salt"], level_schema,
                                 "partial", level_row, by=order)
    return _merge_groups(partials, keys, out_schema, "partial",
                         _table_row(keys, readout), by=order)


def _build_merged(sel: DataFrame, build, partials_schema, group_cols,
                  fanout, readout: list | None) -> DataFrame:
    """The merged sketch table of the partials ``build`` makes from
    ``sel``, lazily: a single-partition input with no salt level
    builds, folds and reads out in ONE ``mapInArrow`` task; every
    other input shuffles its partials through the salted tree. Both
    fold in (partition_id, chunk) order, so they write the same
    bytes."""
    partials = sel.mapInArrow(build, partials_schema)
    plan = _merge_plan(partials, fanout)
    if plan is None:
        schema = _table_schema(partials, group_cols, readout)
        fold = _fold_partials(group_cols, readout, schema)
        return sel.mapInArrow(lambda batches: fold(build(batches)), schema)
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
    return _merge_tree(partials, group_cols,
                       _merge_plan(partials, fanout) or [], readout)


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
    AND input bytes. A single-partition input with no salt level
    builds, folds and reads out (``readout=``, as in ``merge_partials``)
    in ONE ``mapInArrow`` task; every other input shuffles its partials
    through the merge tree. Lazy either way: no job runs before the
    result's first action.

    Returns one row per (group, sketch_name):
    (group_cols..., sketch_name, sketch binary, n_rows, n_partials);
    with no ``group_cols``, one row per spec over the whole input.
    """
    sel, build, schema = _partial_task(df, group_cols, specs)
    return _build_merged(sel, build, schema, group_cols, fanout, readout)


def build_sketches_local(df: DataFrame, group_cols: list[str],
                         specs: list[SketchSpec]) -> dict:
    """``build_sketches`` collected as {(group_key..., sketch_name):
    sketch object}: the same merge shape and the same bytes."""
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
    # applyInArrow is shuffle-dependent, so ties on n_rows (equal
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
