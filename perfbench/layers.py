"""Per-layer measurements for the traced run.

Layers are sketchlib's modules, measured from outside:

- ``core.*``: driver-side kernel rates with no Spark, on a sample of the
  workload's own input;
- ``build.*``, ``validate.*``, ``joinprune.*``, ``textops.*``,
  ``streaming.*``: spans around calls into each module's public
  functions, run on the workload's own input;
- ``arrow.*``, ``spark.*``, ``driver.*``: Spark's event log, attributed
  to spans through their job groups.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from sketchlib.core import hashing
from sketchlib.core.bloom import BloomFilter
from sketchlib.core.cms import CountMinSketch
from sketchlib.core.hll import HyperLogLog
from sketchlib.core.kll import KLL
from sketchlib.core.params import bloom_params
from sketchlib.core.serde import sketch_from_bytes
from sketchlib.core.tdigest import TDigest
from sketchlib.spark.build import build_sketches, tokens_arrow
from sketchlib.spark.joinprune import bloom_prune, build_key_bloom
from sketchlib.spark.specs import SketchSpec
from sketchlib.spark.streaming import SketchTableSink, streaming_sketch_table
from sketchlib.spark.textops import minhash_lsh_pairs, ngram_jaccard_pairs
from sketchlib.spark.validate import bloom_validate, collect_sketches

from perfbench import checks
from perfbench.eventlog import GroupStats
from perfbench.trace import self_times, subtree_ids, union_length

MICRO_ROWS = 20_000
DEDUP_DOCS = 3_000
STREAM_ROWS = 15_000
STREAM_FILES = 3

# Per input kind: the table the layer probes read, its columns, the
# extra column derivation, and the Bloom-pruned join (dimension filter
# in SQL both Spark and DuckDB accept).
PROBES = {
    "pages": {
        "table": "pages", "group": "lang", "key": "url", "num": "html_len",
        "text": "text", "id": "doc_id",
        "derive": lambda df: df.withColumn("html_len",
                                           F.length("html").cast("double")),
        "dim": ("pages", "url", "warc_ts < TIMESTAMP '2024-01-02 00:00:00'"),
        "fact": ("pages", "url"),
    },
    "sf": {
        "table": "documents", "group": "lang", "key": "text", "num": "n_chars",
        "text": "text", "id": "doc_id",
        "derive": lambda df: df,
        "dim": ("orders", "o_orderkey",
                "o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND "
                "o_orderdate < TIMESTAMP '1996-04-01 00:00:00'"),
        "fact": ("lineitem", "l_orderkey"),
    },
}


def stream_specs(cfg) -> list[SketchSpec]:
    return [
        SketchSpec("bloom", "bloom", cfg["key"], {"m": 1 << 20, "k": 5}),
        SketchSpec("hll", "hll", cfg["key"], {"b": 14}),
        SketchSpec("cms", "cms", cfg["text"], {"w": 16384, "d": 5}, tokenize=True),
        SketchSpec("tdigest", "tdigest", cfg["num"], {"delta": 200}),
        SketchSpec("kll", "kll", cfg["num"], {"k": 200}),
    ]


# ---------------------------------------------------------------------------
# core.*: kernel rates, no Spark
# ---------------------------------------------------------------------------

def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def core_rates(keys: pa.Array, nums: np.ndarray, texts: pd.Series) -> dict:
    n = len(keys)
    m, k = bloom_params(n, 0.01)
    out = {}
    makers = {
        "bloom": (lambda: BloomFilter(m, k), keys),
        "hll": (lambda: HyperLogLog(14), keys),
        "kll": (lambda: KLL(200), nums),
        "tdigest": (lambda: TDigest(200), nums),
    }
    for kind, (make, vals) in makers.items():
        out[f"core.{kind}.update_values_per_s"] = len(vals) / _median_time(
            lambda: make().update_batch(vals))
    out["build.tokens_arrow_rows_per_s"] = len(texts) / _median_time(
        lambda: tokens_arrow(texts))
    toks = tokens_arrow(texts)

    def cms_update():
        vc = pc.value_counts(toks)
        CountMinSketch(16384, 5).update_batch(vc.field("values"),
                                              vc.field("counts").to_numpy())
    out["core.cms.update_tokens_per_s"] = len(toks) / _median_time(cms_update)
    out["core.hashing.hash64_keys_per_s"] = n / _median_time(
        lambda: hashing.hash64(keys))

    # merges: a sketch of one half absorbs a sketch of the other half
    half = n // 2
    reps = 10
    full = {}
    for kind, (make, vals) in makers.items():
        a, b = make().update_batch(vals[:half]), make().update_batch(vals[half:])
        full[kind] = (a.to_bytes(), b)
    thalf = pc.value_counts(tokens_arrow(texts[: len(texts) // 2]))
    tother = pc.value_counts(tokens_arrow(texts[len(texts) // 2:]))
    ca = CountMinSketch(16384, 5).update_batch(thalf.field("values"),
                                               thalf.field("counts").to_numpy())
    cb = CountMinSketch(16384, 5).update_batch(tother.field("values"),
                                               tother.field("counts").to_numpy())
    full["cms"] = (ca.to_bytes(), cb)
    for kind, (a_bytes, b) in full.items():
        copies = [sketch_from_bytes(a_bytes) for _ in range(reps)]
        t0 = time.perf_counter()
        for c in copies:
            c.merge(b)
        out[f"core.{kind}.merge_per_s"] = reps / (time.perf_counter() - t0)

    # serde round trip over the five merged sketches
    sketches = [sketch_from_bytes(a) for a, _ in full.values()]
    for s, (_, b) in zip(sketches, full.values()):
        s.merge(b)
    total = sum(len(s.to_bytes()) for s in sketches)
    out["core.serde_mb_per_s"] = total / 1e6 / _median_time(
        lambda: [sketch_from_bytes(s.to_bytes()) for s in sketches])

    bf = makers["bloom"][0]().update_batch(keys)
    out["core.bloom.probe_keys_per_s"] = n / _median_time(
        lambda: bf.contains_batch(keys))
    return out


def micro_sample(inputs: dict, cfg: dict) -> tuple[pa.Array, np.ndarray, pd.Series]:
    path = inputs["tables"][cfg["table"]]["path"]
    cols = [cfg["key"], cfg["text"]] + (["html"] if cfg["num"] == "html_len"
                                        else [cfg["num"]])
    t = pq.read_table(path, columns=sorted(set(cols))).slice(0, MICRO_ROWS)
    nums = (pc.binary_length(t["html"]) if cfg["num"] == "html_len"
            else t[cfg["num"]]).to_numpy().astype(np.float64)
    return (t[cfg["key"]].combine_chunks(), nums,
            t[cfg["text"]].to_pandas())


# ---------------------------------------------------------------------------
# Spark layer probes, each in spans, each checked
# ---------------------------------------------------------------------------

def run_probes(spark, tracer, inputs: dict, con, workdir: str,
               with_build: bool):
    """Run the validate / joinprune / textops / streaming probes (and a
    decomposed build when the workload's own op is not one) on this
    workload's input. Returns (metrics, attempted, failed, notes,
    (rows, partials) of the decomposed build or None)."""
    from perfbench.workloads import decomposed_build
    cfg = PROBES[inputs["kind"]]
    tables = inputs["tables"]
    df = cfg["derive"](spark.read.parquet(tables[cfg["table"]]["path"]))
    g, key = cfg["group"], cfg["key"]
    m, attempted, failed, notes = {}, 0, 0, []

    def record(fails):
        nonlocal attempted, failed
        attempted += 1
        failed += bool(fails)
        notes.extend(fails)

    build = None
    if with_build:
        with tracer.span("probe.build"):
            def specs_fn(bp):
                return [SketchSpec("bloom", "bloom", key, per_group_params=bp),
                        *stream_specs(cfg)[1:]]
            build = decomposed_build(tracer, df, [g], specs_fn)

    # validate: stage 3 over the group's Bloom filters
    merged = build_sketches(df, [g], [SketchSpec(
        "bloom", "bloom", key, {"m": 1 << 20, "k": 5})]).localCheckpoint(eager=True)
    with tracer.span("validate.collect_sketches") as s:
        filters = collect_sketches(merged, [g], "bloom")
    m["validate.collect_sketches_s"] = s["end"] - s["start"]
    with tracer.span("validate.bloom_validate") as s:
        vrows = bloom_validate(df, filters, [g], key, checks.BLOOM_P).collect()
    m["validate.bloom_validate_s"] = s["end"] - s["start"]
    record([f"validate {r[g]}: {r['false_negatives']} false negatives"
            for r in vrows if r["false_negatives"]])

    # joinprune: Bloom over the dimension's keys prunes the fact side
    dtab, dkey, dfilter = cfg["dim"]
    ftab, fkey = cfg["fact"]
    dim = spark.read.parquet(tables[dtab]["path"]).filter(F.expr(dfilter))
    fact = spark.read.parquet(tables[ftab]["path"])
    with tracer.span("joinprune.build_key_bloom") as s:
        bf = build_key_bloom(dim, dkey, p=checks.BLOOM_P)
    m["joinprune.build_key_bloom_s"] = s["end"] - s["start"]
    with tracer.span("joinprune.bloom_prune"):
        n_pass = bloom_prune(fact, fkey, bf).count()
    n_fact = tables[ftab]["rows"]
    m["joinprune.pass_share"] = n_pass / n_fact
    n_match = con.sql(f"SELECT count(*) FROM {ftab} WHERE {fkey} IN "
                      f"(SELECT {dkey} FROM {dtab} WHERE {dfilter})").fetchone()[0]
    slack = 5 * checks.BLOOM_P * n_fact
    record([] if n_match <= n_pass <= n_match + slack else
           [f"bloom_prune kept {n_pass} rows; {n_match} match"])

    # textops: the dedup pair operators on the first DEDUP_DOCS docs
    docs = df.select(cfg["id"], cfg["text"]).filter(F.col(cfg["id"]) < DEDUP_DOCS)
    with tracer.span("textops.minhash_lsh_pairs") as s:
        mh = minhash_lsh_pairs(docs, cfg["id"], cfg["text"], threshold=0.5).collect()
    m["textops.minhash_lsh_pairs_s"] = s["end"] - s["start"]
    with tracer.span("textops.ngram_jaccard_pairs") as s:
        ng = ngram_jaccard_pairs(docs, cfg["id"], cfg["text"], n=3,
                                 threshold=0.5).collect()
    m["textops.ngram_jaccard_pairs_s"] = s["end"] - s["start"]
    m["textops.pairs_out"] = len(mh) + len(ng)
    con.sql(f"CREATE OR REPLACE VIEW dedup_docs AS SELECT {cfg['id']} AS doc_id, "
            f"{cfg['text']} AS text FROM {cfg['table']} "
            f"WHERE {cfg['id']} < {DEDUP_DOCS}")
    texts = dict(con.sql("SELECT doc_id, text FROM dedup_docs").fetchall())
    got_ng = {(r["a_id"], r["b_id"]): r["jaccard"] for r in ng}
    record(checks.check_planted_pairs({(r["a_id"], r["b_id"]) for r in mh}, texts))
    record(checks.check_planted_pairs(set(got_ng), texts)
           + checks.check_ngram_pairs(got_ng, checks.exact_ngram_pairs(con, "dedup_docs")))

    # streaming: the same kernels as a sketch-table sink, one file per trigger
    src = os.path.join(workdir, "stream_src")
    os.makedirs(src, exist_ok=True)
    t = pq.read_table(tables[cfg["table"]]["path"]).slice(0, STREAM_ROWS)
    step = -(-t.num_rows // STREAM_FILES)
    for i in range(STREAM_FILES):
        pq.write_table(t.slice(i * step, step), os.path.join(src, f"part-{i}.parquet"))
    schema = spark.read.parquet(src).schema
    stream = cfg["derive"](spark.readStream.schema(schema)
                           .option("maxFilesPerTrigger", 1).parquet(src))
    specs = stream_specs(cfg)
    tbl, ckpt = os.path.join(workdir, "stream_tbl"), os.path.join(workdir, "stream_ckpt")
    with tracer.span("streaming.sketch_table"):
        q = (streaming_sketch_table(stream, [g], specs, tbl, ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    dur = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in prog) / 1000
    m["streaming.batches"] = len(prog)
    m["streaming.batch_p50_s"] = dur("triggerExecution")
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.planning_s"] = dur("queryPlanning")
    m["streaming.wal_commit_s"] = dur("walCommit")
    final = SketchTableSink(spark, tbl, [g], specs).read_table().collect()
    batch = build_sketches(cfg["derive"](spark.read.parquet(src)), [g], specs).collect()
    kinds = {s.name: s.kind for s in specs}
    record(checks.check_lattice_equal(
        {(r[g], r["sketch_name"]): bytes(r["sketch"]) for r in batch},
        {(r[g], r["sketch_name"]): bytes(r["sketch"]) for r in final}, kinds))
    return m, attempted, failed, notes, build


def partial_stats(rows, partials) -> dict:
    """Partial-sketch counts of one build: rows, bytes, merge fan-in."""
    nbytes = partials.select(F.sum(F.length("partial"))).collect()[0][0]
    return {"build.partial_rows": sum(r["n_partials"] for r in rows),
            "build.partial_bytes": int(nbytes or 0),
            "build.merge_fanin": max(r["n_partials"] for r in rows)}


# ---------------------------------------------------------------------------
# event log + spans -> per-layer metrics
# ---------------------------------------------------------------------------

def _stats_under(spans: list[dict], root: int, groups: dict, group_id) -> GroupStats:
    """Event-log statistics of every job run under span ``root``."""
    st = GroupStats()
    for i in subtree_ids(spans, root):
        if group_id(i) in groups:
            st.add(groups[group_id(i)])
    return st


def _task_skew(st: GroupStats) -> float:
    """Straggler ratio: max over stages (2+ tasks) of slowest / median task."""
    return max((max(ms) / max(1, statistics.median(ms))
                for ms in st.task_ms.values() if len(ms) > 1), default=1.0)


def spark_layers(spans: list[dict], groups: dict, group_id, cpus: int) -> dict:
    """arrow.*, spark.*, driver.* per measured op (spans named "op" that
    are not part of the cold phase), averaged over those ops; and the
    shuffle figures of the pair operators (``textops.*`` spans), summed
    over those spans."""
    ops = [s for s in spans if s["name"] == "op" and not s["attrs"].get("cold")]
    per_op = []
    for s in ops:
        st = _stats_under(spans, s["id"], groups, group_id)
        wall = s["end"] - s["start"]
        clipped = [(max(a, s["start"]), min(b, s["end"])) for a, b in st.job_intervals]
        per_op.append((st, wall, wall - union_length(
            (a, b) for a, b in clipped if b > a)))
    n = max(1, len(per_op))
    tot = GroupStats()
    for st, _, _ in per_op:
        tot.add(st)
    wall = sum(w for _, w, _ in per_op) or 1e-9
    text = GroupStats()
    for s in spans:
        if s["name"].startswith("textops."):
            text.add(_stats_under(spans, s["id"], groups, group_id))
    return {
        "arrow.bytes_to_python": tot.py_bytes_sent / n,
        "arrow.bytes_from_python": tot.py_bytes_returned / n,
        "arrow.rows_from_python": tot.py_rows_returned / n,
        "arrow.python_boot_s": tot.py_boot_ms / 1000 / n,
        "arrow.python_init_s": tot.py_init_ms / 1000 / n,
        "arrow.python_total_s": tot.py_run_ms / 1000 / n,
        "spark.jobs_per_op": tot.jobs / n,
        "spark.stages_per_op": tot.stages / n,
        "spark.tasks_per_op": tot.tasks / n,
        "driver.no_job_s": statistics.median([x for _, _, x in per_op] or [0.0]),
        "spark.shuffle_write_bytes": tot.shuffle_write_bytes / n,
        "spark.shuffle_read_bytes": tot.shuffle_read_bytes / n,
        "spark.spill_bytes": tot.spill_bytes / n,
        "spark.task_max_over_median": _task_skew(tot),
        "spark.executor_run_s": tot.run_ms / 1000 / n,
        "spark.executor_cpu_s": tot.cpu_ns / 1e9 / n,
        "spark.gc_s": tot.gc_ms / 1000 / n,
        "spark.core_busy_share": tot.run_ms / 1000 / (wall * cpus),
        "textops.shuffle_write_bytes": text.shuffle_write_bytes,
        "textops.shuffle_read_bytes": text.shuffle_read_bytes,
        "textops.spill_bytes": text.spill_bytes,
        "textops.task_max_over_median": _task_skew(text),
    }


def build_layers(spans: list[dict], op_parent: str) -> dict:
    """Median self time per build.* span name, over the decomposed builds
    under spans named ``op_parent``."""
    st = self_times(spans)
    roots = {s["id"] for s in spans if s["name"] == op_parent
             and not s["attrs"].get("cold")}
    by_name: dict[str, list[float]] = {}
    for s in spans:
        if s["name"].startswith("build.") and s["parent"] in roots:
            by_name.setdefault(s["name"], []).append(st[s["id"]])
    return {f"{name}_s": statistics.median(v) for name, v in by_name.items()}
