"""Group keys and integral columns come back exactly as they went in:
timestamp keys keep their instant under a non-UTC session time zone,
and nullable bigint columns cross the stateful streaming operators'
pandas hop without a float64 detour."""

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from sketchlib.spark.build import build_sketches, incremental_update
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.streaming import (SketchTableSink, streaming_dedup,
                                       streaming_windowed_build)

HLL = [SketchSpec("h", "hll", "uid", {"b": 8})]
BIG = 2 ** 53
UIDS = [BIG + 1, None, BIG + 2, 7]


@pytest.fixture
def la_session(spark):
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    yield spark
    spark.conf.set("spark.sql.session.timeZone", old)


def _day_keys(df):
    return sorted(r[0] for r in df.select(F.unix_micros("day")).collect())


def test_timestamp_group_keys_keep_their_instant(la_session, tmp_path):
    """Keyed by ``window(ts, "1 day").start`` at Los Angeles time, the
    in-task build, the tree build, ``incremental_update`` and the sink
    all return exactly the input's keys — and a late row folds into
    its day's row instead of splitting it 8 h apart."""
    spark = la_session
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = pa.table({
        "ts": pa.array([t0 + dt.timedelta(hours=7 * i) for i in range(10)],
                       pa.timestamp("us", tz="UTC")),
        "uid": pa.array(list(range(10)), pa.int64())})
    df = (spark.createDataFrame(rows, "ts timestamp, uid bigint")
          .withColumn("day", F.window("ts", "1 day").start).drop("ts"))
    want = _day_keys(df.select("day").distinct())
    assert len(want) == 3
    for parts in (1, 4):
        out = build_sketches(df.coalesce(1) if parts == 1
                             else df.repartition(parts), ["day"], HLL)
        assert _day_keys(out) == want, parts
    # every day has rows in both halves: the second half is late data
    first, late = (df.filter(F.col("uid") % 2 == r) for r in (0, 1))
    base = build_sketches(first, ["day"], HLL)
    assert _day_keys(incremental_update(base, late, ["day"], HLL)) == want

    sink = SketchTableSink(spark, str(tmp_path / "tbl"), ["day"], HLL)
    sink(first, 0)
    sink(late, 1)
    assert _day_keys(sink.read_table()) == want


def _write(path, table, order):
    pq.write_table(table, path)
    # the file source orders by modification time; force distinct ones
    os.utime(path, (1_700_000_000 + order,) * 2)


def test_windowed_integral_column_matches_batch(spark, tmp_path):
    """An HLL over a nullable bigint id column through the windowed
    build equals the batch build grouped by the same window."""
    src = tmp_path / "win_uid"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    for b in range(2):
        _write(str(src / f"b{b}.parquet"), pa.table({
            "ts": pa.array([t0 + dt.timedelta(hours=4 * b + i)
                            for i in range(4)], pa.timestamp("us")),
            "lang": ["en"] * 4,
            "uid": pa.array([u if u is None else u + b for u in UIDS],
                            pa.int64())}), b)
    schema = "ts timestamp, lang string, uid bigint"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    q = (streaming_windowed_build(stream, "ts", ["lang"], HLL,
                                  window="1 day", watermark="1 hour")
         .writeStream.format("memory").queryName("win_uid")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    last = {}
    for r in spark.sql("SELECT * FROM win_uid").collect():
        key = (r["win_start"], r["lang"])
        if r["n_rows"] >= last.get(key, (None, -1))[1]:
            last[key] = (bytes(r["sketch"]), r["n_rows"])
    batch = build_sketches(
        spark.read.schema(schema).parquet(str(src))
        .withColumn("win_start", F.window("ts", "1 day").start),
        ["win_start", "lang"], HLL)
    assert last == {(r["win_start"], r["lang"]):
                    (bytes(r["sketch"]), r["n_rows"])
                    for r in batch.collect()}
    assert list(last.values())[0][1] == 8


def test_dedup_emits_exact_integral_ids(spark, tmp_path):
    """Dedup keyed by a nullable bigint id emits each non-null id once,
    with its exact value (ids >= 2**53 included), and drops nulls."""
    src = tmp_path / "dedup_uid"
    src.mkdir()
    _write(str(src / "b0.parquet"), pa.table({
        "uid": pa.array(UIDS + [BIG + 1, 7, None], pa.int64()),
        "n": pa.array([BIG + 9, None, 1, 2, 3, 4, 5], pa.int64())}), 0)
    stream = (spark.readStream.schema("uid bigint, n bigint")
              .parquet(str(src)))
    q = (streaming_dedup(stream, "uid", n_expected=100, shards=1)
         .writeStream.format("memory").queryName("dedup_uid")
         .outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert q.exception() is None, q.exception()
    out = spark.sql("SELECT * FROM dedup_uid")
    assert dict(out.dtypes) == {"uid": "bigint", "n": "bigint"}
    assert sorted((r["uid"], r["n"]) for r in out.collect()) == \
        [(7, 2), (BIG + 1, BIG + 9), (BIG + 2, 1)]
