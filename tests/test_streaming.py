"""Streaming sketch maintenance: final state equals the batch build
for lattice sketches, across multiple micro-batches."""

import os

import pyarrow.parquet as pq
import pytest

from sketchlib.core.serde import sketch_from_bytes
from sketchlib.spark.build import build_sketches
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.streaming import streaming_build

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


def test_streaming_matches_batch_build(spark, pages_tiny, stream_dir, tmp_path):
    stream = (spark.readStream.schema(pages_tiny.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    updates = streaming_build(stream, ["lang"], SPECS)
    q = (updates.writeStream.format("memory").queryName("sk_updates")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM sk_updates").collect()
    assert rows, "no streaming updates emitted"
    # last update per (lang, sketch) is the final state
    final = {}
    for r in rows:
        final[(r["lang"], r["sketch_name"])] = (bytes(r["sketch"]), r["n_rows"])

    batch = {(r["lang"], r["sketch_name"]): (bytes(r["sketch"]), r["n_rows"])
             for r in build_sketches(
                 spark.read.parquet(stream_dir), ["lang"], SPECS).collect()}
    assert set(final) == set(batch)
    for key in batch:
        fb, fn_ = final[key]
        bb, bn = batch[key]
        assert fn_ == bn, key
        # lattice states must be identical regardless of batch/stream path
        assert sketch_from_bytes(fb) == sketch_from_bytes(bb), key
    # incremental updates were emitted across micro-batches
    langs_updates = sum(1 for r in rows if r["sketch_name"] == "h")
    assert langs_updates > len({r["lang"] for r in rows})


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

    def commit_fake(v):
        # same marker shape the sink writes: a _COMMIT DIRECTORY
        # holding text part files
        os.makedirs(f"{tbl}/v={v}/_COMMIT", exist_ok=True)
        with open(f"{tbl}/v={v}/_COMMIT/part-00000.txt", "w") as f:
            f.write(json.dumps({"batch_id": v, "path": f"{tbl}/v={v}"}))

    commit_fake(1)
    commit_fake(2)
    os.makedirs(f"{tbl}/v=3", exist_ok=True)  # uncommitted junk
    commit_fake(4)
    sink._prune(4)
    left = sorted(int(d[2:]) for d in os.listdir(tbl) if d.startswith("v="))
    # keep = newest 2 COMMITTED {2, 4}; junk v=3 and stale v=1 removed
    assert left == [2, 4]
    assert sink.latest()["batch_id"] == 4
    shutil.rmtree(tbl)


def test_streaming_wsample_matches_batch_bitwise(spark, pages_tiny,
                                                 stream_dir, tmp_path):
    """The weighted sample kernel through the streaming feed path:
    final streamed state == batch-built state, bitwise (lattice)."""
    import pyspark.sql.functions as F
    from sketchlib.spark.specs import SketchSpec
    from sketchlib.spark.streaming import streaming_build
    spec = [SketchSpec("ws", "wsample", "url", {"k": 32},
                       weight_col="w")]
    add_w = lambda d: d.withColumn(
        "w", (F.length("url") % 13 + 1).cast("double"))
    stream = (spark.readStream.schema(pages_tiny.schema)
              .option("maxFilesPerTrigger", 1).parquet(stream_dir))
    q = (streaming_build(add_w(stream), ["lang"], spec)
         .writeStream.format("memory").queryName("ws_updates")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ws_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ws_updates").collect()
    assert rows
    # last emitted state per lang (max n_rows) is the final one
    final = {}
    best = {}
    for r in rows:
        if r["n_rows"] >= best.get(r["lang"], -1):
            best[r["lang"]] = r["n_rows"]
            final[r["lang"]] = bytes(r["sketch"])
    batch = {r["lang"]: bytes(r["sketch"]) for r in
             build_sketches(add_w(pages_tiny), ["lang"], spec).collect()}
    assert final == batch
