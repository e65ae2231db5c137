"""Structured Streaming: a maintained sketch table, event-time window
sketches and bounded-memory dedup.

The reference is batch-only: its persisted state is stage output that
the next job reads back. ``streaming_sketch_table`` (a foreachBatch
``SketchTableSink``) keeps that shape per micro-batch: it folds each
batch's rows into a versioned parquet sketch table with
``incremental_update``, so the table is bitwise the batch build over
everything streamed so far, and the base is never re-scanned.

``streaming_windowed_build`` is the one keyed-state sketch build. It
stays for event-time windows: the sink rewrites its whole table every
micro-batch, so a window key would make each batch cost grow with
history, while the watermark evicts a closed window's state.
``streaming_dedup`` keeps one Bloom filter per shard as state.

Both stateful operators hand rows to Python as pandas, which reads a
nullable bigint as float64. Integral columns they hash therefore cross
as JVM ``CAST AS STRING``, the bytes a kernel hashes for the int.
Keyed state hash-partitions raw rows by group, so skewed groups need
the salting module upstream.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (BinaryType, BooleanType, IntegralType,
                               LongType, StringType, StructField,
                               StructType, TimestampType)

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.build import (_feed, _group_fields, build_sketches,
                                   incremental_update)
from sketchlib.spark.dfutil import _hadoop_path, read_control, write_control
from sketchlib.spark.specs import SketchSpec


def _ints_as_strings(df: DataFrame, cols) -> tuple[DataFrame, dict]:
    """``df`` with its integral columns among ``cols`` cast to string in
    the JVM, and {column: type} to cast them back with. The decimal
    string hashes as the int does (``hashing.to_large_binary``) and
    survives the pandas hop exactly, nulls and ids >= 2**53 included."""
    ints = {f.name: f.dataType for f in df.schema.fields
            if f.name in cols and isinstance(f.dataType, IntegralType)}
    return df.withColumns({c: F.col(c).cast("string") for c in ints}), ints


def streaming_dedup(stream_df: DataFrame, key_col: str,
                    n_expected: int, p: float = 0.001,
                    shards: int = 64, seed: int = 0) -> DataFrame:
    """Bounded-memory streaming dedup: emit each key's FIRST row only.

    Spark's own ``stream.dropDuplicates([key])`` keeps every key ever
    seen in state — unbounded on an unbounded stream. This keeps a
    Bloom filter per shard instead: state is a fixed
    ``shards x m/8`` bytes sized from (n_expected, p), forever.

    Semantics: NO duplicate is ever emitted twice (Bloom has no false
    negatives once a key is inserted); the price is that a genuinely
    new key is falsely dropped at rate <= p (a Bloom false positive
    reads as "seen before"). For training-data dedup that tradeoff is
    the right direction — losing ~0.1% of unique docs is noise, while
    unbounded state is an outage. NULL-key rows are DROPPED entirely
    (never emitted) — deliberate divergence from dropDuplicates,
    which emits the first null row: a null dedup key means the
    upstream extractor failed, and such rows are quarantine input,
    not corpus.

    Sharding: rows hash-partition by ``xxhash64(key) % shards``
    (JVM-side), so each shard's filter covers a disjoint key slice and
    state load spreads across executors. Size ``shards`` >= cluster
    cores; m is derived per shard from n_expected/shards. Integral
    columns cross the pandas hop as strings and are cast back, so
    emitted ids are exact.
    """
    from sketchlib.core.bloom import BloomFilter
    from sketchlib.core.params import bloom_params

    if shards < 1:
        raise ValueError(f"shards must be >= 1, got {shards}")
    m, k = bloom_params(max(int(n_expected // shards), 1), p)
    rows_df, ints = _ints_as_strings(stream_df, stream_df.columns)
    out_cols = rows_df.columns
    out_schema = rows_df.schema
    state_schema = StructType([StructField("bloom", BinaryType(), True),
                               StructField("n_seen", LongType(), True)])
    src = rows_df.withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(key_col).cast("string")),
                         F.lit(shards)))

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            blob, n_seen = state.get
            bf = BloomFilter.from_bytes(bytes(blob))
            n_seen = int(n_seen)
        else:
            bf = BloomFilter(m, k, seed)
            n_seen = 0
        for pdf in pdfs:
            keys = pdf[key_col]
            fresh = (keys.notna()
                     & ~keys.duplicated(keep="first")).to_numpy()
            if fresh.any():
                fresh[fresh] = ~bf.contains_batch(keys[fresh])
            if fresh.any():
                bf.update_batch(keys[fresh])
                n_seen += int(fresh.sum())
                yield pdf.loc[fresh, out_cols]
        state.update((bf.to_bytes(), n_seen))

    return (src.groupBy("_shard")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout)
            .withColumns({c: F.col(c).cast(t) for c, t in ints.items()}))


def streaming_windowed_build(stream_df: DataFrame, ts_col: str,
                             group_cols: list[str], specs: list[SketchSpec],
                             window: str = "1 day",
                             watermark: str = "1 hour") -> DataFrame:
    """Event-time tumbling-window sketches with late-data handling.

    ``withWatermark`` bounds state and drops rows later than
    ``watermark``; a state timeout at (window_end + watermark) emits the
    window's final sketch row (is_final=true) and evicts its state —
    the Structured-Streaming-native version of closing a day's
    per-group sketch. Each micro-batch feeds its rows through the
    batch build's ``_feed``: for the lattice kernels a window's state
    equals the batch build of its on-time rows.

    Output per update: (win_start, win_end, group_cols..., sketch_name,
    sketch, n_rows, is_final).
    """
    names = [s.name for s in specs]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate spec names: {names}")
    numeric = ({s.value_col for s in specs if s.numeric}
               | {s.weight_col for s in specs if s.weight_col})
    hashed = {s.value_col for s in specs} - numeric - set(group_cols)
    src = (_ints_as_strings(stream_df, hashed)[0]
           .withWatermark(ts_col, watermark)
           .withColumn("_win", F.window(ts_col, window))
           .withColumn("win_start", F.col("_win.start"))
           .withColumn("win_end", F.col("_win.end"))
           # epoch ms computed JVM-side: the pandas key timestamps are
           # session-tz-naive and .timestamp() would misread them as UTC
           .withColumn("win_end_ms", F.unix_millis(F.col("win_end")))
           .drop("_win"))
    keys = ["win_start", "win_end", "win_end_ms", *group_cols]
    out_schema = StructType(
        [StructField("win_start", TimestampType(), False),
         StructField("win_end", TimestampType(), False)]
        + _group_fields(stream_df, group_cols) + [
            StructField("sketch_name", StringType(), False),
            StructField("sketch", BinaryType(), False),
            StructField("n_rows", LongType(), False),
            StructField("is_final", BooleanType(), False),
        ])
    state_schema = StructType(
        [StructField(f"s{i}", BinaryType(), True) for i in range(len(specs))]
        + [StructField("n_rows", LongType(), True)])
    n_extra = 3  # win_start, win_end, win_end_ms prefix in the key

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        gkey_vals = key[n_extra:]
        final = state.hasTimedOut
        if final:
            stored = state.get
            state.remove()
        else:
            if state.exists:
                stored = state.get
                sketches = [sketch_from_bytes(bytes(b)) for b in stored[:-1]]
                n_rows = int(stored[-1])
            else:
                gkey = gkey_vals if len(gkey_vals) > 1 else gkey_vals[0]
                sketches = [spec.make(gkey) for spec in specs]
                n_rows = 0
            for pdf in pdfs:
                rows = pa.Table.from_pandas(pdf, preserve_index=False)
                vcache: dict = {}
                for spec, sk in zip(specs, sketches):
                    _feed(spec, sk, rows, vcache)
                n_rows += rows.num_rows
            stored = (*(sk.to_bytes() for sk in sketches), n_rows)
            state.update(stored)
            # close the window once the watermark passes its end; if
            # this batch itself advanced the watermark beyond the
            # window end the raw value would be rejected — clamp so
            # the timeout fires on the next batch instead
            state.setTimeoutTimestamp(max(int(key[2]),
                                          state.getCurrentWatermarkMs() + 1))
        n = len(specs)
        yield pd.DataFrame({
            "win_start": [key[0]] * n,
            "win_end": [key[1]] * n,
            **{c: [gkey_vals[i]] * n for i, c in enumerate(group_cols)},
            "sketch_name": names,
            "sketch": [bytes(b) for b in stored[:-1]],
            "n_rows": [int(stored[-1])] * n,
            "is_final": [final] * n,
        })

    return (src.groupBy(*keys)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.EventTimeTimeout))


class SketchTableSink:
    """foreachBatch sink maintaining a PERSISTED sketch table —
    streaming's version of ``build.incremental_update``: each
    micro-batch sketches ONLY its rows and merges them with the stored
    per-group states; the base is never re-scanned. The table stays
    bitwise-identical to a batch build over everything streamed so far
    (test-enforced).

    Exactly-once across restarts: each fold writes a new versioned
    table ``<path>/v=<batch_id>``, then commits it by publishing its
    ``_COMMIT`` marker (``dfutil.write_control``; the underscore keeps
    parquet readers off it). Nothing is overwritten: the current state
    is the highest committed version. Structured Streaming replays the
    in-flight micro-batch after a crash; a replayed ``batch_id <=
    latest`` is a no-op, and a version without a readable marker is
    invisible dead weight. Versions beyond ``keep_versions`` are
    pruned. All of it goes through the Hadoop FileSystem API, so
    hdfs:// and s3a:// work like file://.
    """

    def __init__(self, spark, path: str, group_cols: list[str],
                 specs: list[SketchSpec], keep_versions: int = 2):
        self.spark = spark
        self.path = path.rstrip("/")
        self.group_cols = list(group_cols)
        self.specs = list(specs)
        self.keep_versions = max(1, int(keep_versions))

    # -- committed-version resolution --------------------------------
    def _versions(self) -> list[int]:
        """Version ids present on disk (committed or not), ascending."""
        root, fs = _hadoop_path(self.spark, self.path)
        if not fs.exists(root):
            return []
        names = [st.getPath().getName() for st in fs.listStatus(root)]
        return sorted(int(n[2:]) for n in names
                      if n.startswith("v=") and n[2:].isdigit())

    def _committed(self, v: int) -> dict | None:
        """Version ``v``'s commit record: its ``_COMMIT`` marker as JSON
        naming batch ``v``. An ABSENT or CORRUPT marker (crash before
        or mid-commit) gives None; any OTHER read error RAISES —
        treating a transient IO failure as "uncommitted" would fall
        back to a stale base and silently drop committed batches."""
        text = read_control(self.spark, f"{self.path}/v={v}/_COMMIT")
        if text is None:
            return None
        try:
            doc = json.loads(text)
        except ValueError:
            return None  # crash mid-marker-write: not committed
        return doc if int(doc.get("batch_id", -1)) == v else None

    def latest(self) -> dict | None:
        """The commit record of the highest committed version."""
        for v in reversed(self._versions()):
            doc = self._committed(v)
            if doc is not None:
                return doc
        return None

    def read_table(self) -> DataFrame | None:
        man = self.latest()
        if man is None:
            return None
        return self.spark.read.parquet(man["path"])

    # -- the foreachBatch hook ---------------------------------------
    def __call__(self, batch_df: DataFrame, batch_id: int) -> None:
        man = self.latest()
        if man is not None and int(batch_id) == int(man["batch_id"]):
            return  # post-crash replay of the one in-flight batch
        if man is not None and int(batch_id) < int(man["batch_id"]):
            # Structured Streaming ids are monotonic within one
            # checkpoint dir; a LOWER id means the query restarted
            # with a fresh/cleared checkpointLocation. Silently
            # skipping would freeze the table forever — refuse so the
            # operator points the fresh query at a new table path (or
            # removes the old table deliberately).
            raise ValueError(
                f"micro-batch id {int(batch_id)} is behind the "
                f"committed {int(man['batch_id'])} — the streaming "
                "checkpoint was reset; use a fresh table path")
        if batch_df.isEmpty():
            return  # empty trigger: nothing to fold, keep the version
        if man is None:
            updated = build_sketches(batch_df, self.group_cols, self.specs)
        else:
            base = self.spark.read.parquet(man["path"])
            updated = incremental_update(base, batch_df, self.group_cols,
                                         self.specs)
        vpath = f"{self.path}/v={int(batch_id)}"
        updated.write.mode("overwrite").parquet(vpath)
        # the version becomes canonical only when its marker reads
        # back as JSON with the matching batch_id; no
        # previously-committed version is ever touched
        write_control(self.spark, vpath + "/_COMMIT",
                      json.dumps({"batch_id": int(batch_id), "path": vpath}))
        self._prune(int(batch_id))

    def _prune(self, committed: int) -> None:
        """Best-effort removal of versions older than ``committed``
        except the newest ``keep_versions`` COMMITTED ones, so
        crash-leftover junk never displaces a rollback version. A
        marker read error aborts the pass before any delete."""
        try:
            versions = self._versions()
            done = [v for v in versions if self._committed(v) is not None]
            keep = set(done[-self.keep_versions:])
            for v in versions:
                if v < committed and v not in keep:
                    vpath, fs = _hadoop_path(self.spark,
                                             f"{self.path}/v={v}")
                    fs.delete(vpath, True)
        except Exception:
            pass  # retention is best-effort; correctness never depends on it


def streaming_sketch_table(stream_df: DataFrame, group_cols: list[str],
                           specs: list[SketchSpec], table_path: str,
                           checkpoint_dir: str):
    """Wire a stream into a continuously-maintained sketch table.
    Returns the DataStreamWriter (caller picks trigger and starts):

        q = streaming_sketch_table(stream, ["lang"], specs,
                                   "/tbl", "/ckpt") \
            .trigger(availableNow=True).start()
    """
    sink = SketchTableSink(stream_df.sparkSession, table_path,
                           group_cols, specs)
    return (stream_df.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir))
