"""Streaming sketch maintenance through the sink: the maintained table
equals the batch build bitwise, across multiple micro-batches."""

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sketchlib.spark.build import build_sketches
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.streaming import SketchTableSink, streaming_sketch_table

SPECS = [SketchSpec("b", "bloom", "url", {"m": 1 << 14, "k": 5}),
         SketchSpec("h", "hll", "url", {"b": 10}),
         SketchSpec("s", "sample", "url", {"k": 32})]


@pytest.fixture(scope="module")
def stream_dir(tmp_path_factory):
    """pages.tiny split into 3 files = 3 micro-batches (1/file trigger)."""
    from sketchlib.io.fixtures import pages_path
    tbl = pq.read_table(pages_path("tiny"))
    out = tmp_path_factory.mktemp("stream_src")
    n = tbl.num_rows // 3
    for i in range(3):
        part = tbl.slice(i * n, n if i < 2 else tbl.num_rows - 2 * n)
        pq.write_table(part, str(out / f"batch-{i:02d}.parquet"))
    return str(out)


def test_streaming_sketch_table_matches_batch_build(spark, pages_tiny,
                                                    stream_dir, tmp_path):
    """The continuously-maintained table after 3 micro-batches is
    bitwise-identical (lattice kernels) to one batch build over all
    the data, and a replayed batch_id is a no-op."""
    from sketchlib.spark.streaming import (SketchTableSink,
                                           streaming_sketch_table)
    tbl = str(tmp_path / "sktbl")
    stream = (spark.readStream.schema(pages_tiny.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = (streaming_sketch_table(stream, ["lang"], SPECS, tbl,
                                str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    sink = SketchTableSink(spark, tbl, ["lang"], SPECS)
    man = sink.latest()
    assert man is not None and man["batch_id"] == 2  # 3 files, 1/trigger
    streamed = {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
                for r in sink.read_table().collect()}
    full = spark.read.parquet(stream_dir)
    batch = {(r["lang"], r["sketch_name"]): bytes(r["sketch"])
             for r in build_sketches(full, ["lang"], SPECS).collect()}
    # lattice kernels: identical state; sample: identical keys
    for key, blob in batch.items():
        if key[1] in ("b", "h"):
            assert streamed[key] == blob, key
    assert streamed.keys() == batch.keys()
    # n_rows lineage survived the folds
    total = sum(r["n_rows"] for r in sink.read_table().collect()
                if r["sketch_name"] == "b")
    assert total == full.count()

    # exactly-once: replaying the in-flight (already-committed) batch
    # id is a no-op — that is the only replay Structured Streaming
    # ever performs within one checkpoint dir
    before = sink.latest()
    sink(spark.read.parquet(stream_dir), 2)
    assert sink.latest() == before
    # an OLDER id can only mean the streaming checkpoint was reset;
    # silently skipping would freeze the table forever, so it refuses
    import pytest as _pytest
    with _pytest.raises(ValueError, match="checkpoint was reset"):
        sink(spark.read.parquet(stream_dir), 1)

    # retention: only keep_versions version dirs remain
    import os as _os
    vdirs = [d for d in _os.listdir(tbl) if d.startswith("v=")]
    assert len(vdirs) <= 2


def test_sketch_table_uncommitted_version_is_invisible(spark, pages_tiny,
                                                       tmp_path):
    """Crash simulation: a version dir WITHOUT a readable _COMMIT
    marker (died before/during commit) must be skipped by latest(),
    and re-folding that batch must land on the prior state, not an
    empty base (review finding r4: the old LATEST overwrite had a
    delete-then-write window that reset the table)."""
    import shutil
    from sketchlib.spark.streaming import SketchTableSink
    tbl = str(tmp_path / "sktbl2")
    sink = SketchTableSink(spark, tbl, ["lang"], SPECS, keep_versions=10)
    half = pages_tiny.limit(pages_tiny.count() // 2)
    sink(half, 0)
    man0 = sink.latest()
    assert man0["batch_id"] == 0

    # batch 1 "crashes": parquet written, marker missing
    rest = pages_tiny.subtract(half)
    from sketchlib.spark.build import build_sketches
    build_sketches(rest, ["lang"], SPECS).write.parquet(f"{tbl}/v=1")
    assert sink.latest()["batch_id"] == 0  # uncommitted v=1 invisible

    # a corrupt (empty) marker is also invisible, not a crash-loop
    import os
    os.makedirs(f"{tbl}/v=2/_COMMIT", exist_ok=True)
    assert sink.latest()["batch_id"] == 0

    # replayed batch 1 folds onto v=0's state and commits
    sink(rest, 1)
    assert sink.latest()["batch_id"] == 1
    total = sum(r["n_rows"] for r in sink.read_table().collect()
                if r["sketch_name"] == "b")
    assert total == pages_tiny.count()
    shutil.rmtree(tbl)


def test_sketch_table_prune_counts_committed_only(spark, pages_tiny,
                                                  tmp_path):
    """Retention (keep_versions) must count COMMITTED versions: a
    crash-leftover junk dir must not displace a committed rollback
    version from the keep window, and junk older than the newest
    commit is itself removed (ADVICE r4)."""
    import json
    import os
    import shutil
    from sketchlib.spark.streaming import SketchTableSink
    tbl = str(tmp_path / "sktbl3")
    sink = SketchTableSink(spark, tbl, ["lang"], SPECS, keep_versions=2)

    def commit_fake(v, shape):
        doc = json.dumps({"batch_id": v, "path": f"{tbl}/v={v}"})
        os.makedirs(f"{tbl}/v={v}", exist_ok=True)
        if shape == "file":  # the marker shape the sink writes
            with open(f"{tbl}/v={v}/_COMMIT", "w") as f:
                f.write(doc)
        else:  # a Spark text write: a directory of part files
            os.makedirs(f"{tbl}/v={v}/_COMMIT", exist_ok=True)
            with open(f"{tbl}/v={v}/_COMMIT/part-00000.txt", "w") as f:
                f.write(doc)

    commit_fake(1, "file")
    commit_fake(2, "dir")
    os.makedirs(f"{tbl}/v=3", exist_ok=True)  # uncommitted junk
    commit_fake(4, "file")
    sink._prune(4)
    left = sorted(int(d[2:]) for d in os.listdir(tbl) if d.startswith("v="))
    # keep = newest 2 COMMITTED {2, 4}; junk v=3 and stale v=1 removed
    assert left == [2, 4]
    assert sink.latest()["batch_id"] == 4
    shutil.rmtree(tbl)


WEIGHTED = SPECS + [SketchSpec("ws", "wsample", "url", {"k": 32},
                               weight_col="w")]


def _with_weight(df):
    return df.withColumn("w", (F.length("url") % 13 + 1).cast("double"))


def _table(df, keys):
    return {tuple(r[k] for k in keys): (bytes(r["sketch"]), r["n_rows"])
            for r in df.collect()}


@pytest.fixture(scope="module")
def sink_vs_batch(spark, pages_tiny, stream_dir, tmp_path_factory):
    """Three micro-batches through the sink and one batch build over all
    the data, each as {(lang, sketch_name): (blob, n_rows)}."""
    tmp = tmp_path_factory.mktemp("sink_vs_batch")
    tbl = str(tmp / "sk_bitwise")
    stream = (spark.readStream.schema(pages_tiny.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = (streaming_sketch_table(_with_weight(stream), ["lang"], WEIGHTED,
                                tbl, str(tmp / "ck_bitwise"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    sink = SketchTableSink(spark, tbl, ["lang"], WEIGHTED)
    assert sink.latest()["batch_id"] == 2  # 3 files, 1 per trigger
    keys = ["lang", "sketch_name"]
    streamed = _table(sink.read_table(), keys)
    batch = _table(build_sketches(_with_weight(
        spark.read.parquet(stream_dir)), ["lang"], WEIGHTED), keys)
    return streamed, batch


def _only(table, names):
    return {k: v for k, v in table.items() if k[1] in names}


def test_streaming_matches_batch_build(sink_vs_batch):
    """Every (lang, sketch) row of the Bloom, HLL and sample sketches the
    sink maintains equals the batch build over all the data, blob and
    n_rows."""
    streamed, batch = sink_vs_batch
    names = {"b", "h", "s"}
    assert {k[1] for k in batch} >= names
    assert _only(streamed, names) == _only(batch, names)


def test_streaming_wsample_matches_batch_bitwise(sink_vs_batch):
    """The weighted sample kernel through the sink: every lang's streamed
    blob and n_rows equal the batch build's, and no other rows exist."""
    streamed, batch = sink_vs_batch
    assert {k[1] for k in batch} == {"b", "h", "s", "ws"}
    assert _only(streamed, {"ws"})
    assert _only(streamed, {"ws"}) == _only(batch, {"ws"})
    assert set(streamed) == set(batch)


def test_sink_nullable_bigint_matches_batch(spark, tmp_path):
    """An id column with a null and values >= 2**53 folds through the
    sink to the batch build's bytes (no float64 hop anywhere)."""
    big = 2 ** 53
    ids = [big + 1, None, big + 2, 7, big + 1, None, 7, big + 3]
    schema = "g string, uid bigint, w double"

    def frame(lo, hi):
        return spark.createDataFrame(pa.table({
            "g": pa.array(["a", "b"] * 4, pa.string())[lo:hi],
            "uid": pa.array(ids, pa.int64())[lo:hi],
            "w": pa.array([1.0, 2.0, 3.0, 4.0] * 2)[lo:hi]}), schema)

    specs = [SketchSpec("b", "bloom", "uid", {"m": 1 << 10, "k": 4}),
             SketchSpec("h", "hll", "uid", {"b": 8}),
             SketchSpec("s", "sample", "uid", {"k": 4}),
             SketchSpec("ws", "wsample", "uid", {"k": 4}, weight_col="w")]
    sink = SketchTableSink(spark, str(tmp_path / "sk_bigint"), ["g"], specs)
    sink(frame(0, 3), 0)
    sink(frame(3, 8), 1)
    keys = ["g", "sketch_name"]
    streamed = _table(sink.read_table(), keys)
    assert streamed == _table(build_sketches(frame(0, 8), ["g"], specs),
                              keys)
    assert sum(n for (_g, name), (_b, n) in streamed.items()
               if name == "b") == len(ids)
