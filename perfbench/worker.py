"""One workload in one fresh process; started by ``run.py``.

Order: session set-up (timed from the parent's spawn), the cold
operation, the measured loop, then untimed work: output checks, the
space metric, and, in a traced run, the layer probes and kernel rates.
The result goes to ``--out`` as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import time
import traceback

from perfbench.procs import tree_cpu_s


def _import_sketchlib(batches):
    import sketchlib.spark.build  # noqa: F401  (the worker-side import)
    yield from batches


def setup_session(cpus: int) -> tuple[object, dict]:
    """get_spark + attach_package + one job that starts every Python
    worker with sketchlib imported; returns the session and phase times."""
    t0 = time.perf_counter()
    from sketchlib.spark.session import attach_package, get_spark
    t1 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, shuffle_partitions=max(cpus, 16))
    t2 = time.perf_counter()
    attach_package(spark)
    t3 = time.perf_counter()
    spark.range(cpus, numPartitions=cpus).mapInPandas(
        _import_sketchlib, "id long").collect()
    t4 = time.perf_counter()
    return spark, {"import_s": t1 - t0, "get_spark_s": t2 - t1,
                   "attach_package_s": t3 - t2, "warm_s": t4 - t3}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workdir", required=True)
    a = ap.parse_args()
    spawned = float(os.environ["PERFBENCH_T0"])
    with open(a.inputs) as f:
        inputs = json.load(f)
    cpus = len(os.sched_getaffinity(0))
    if inputs["kind"] == "pages":
        # one scan split per core (rounding up, so no empty extra split
        # appears for sizes not divisible by the core count)
        size = os.path.getsize(inputs["tables"]["pages"]["path"])
        os.environ["SKETCHLIB_MAX_PARTITION_BYTES"] = str(max(1 << 20, -(-size // cpus)))

    res: dict = {"cpus": cpus}
    spark, res["setup"] = setup_session(cpus)
    res["setup_first_s"] = time.time() - spawned

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS
    tracer = Tracer(f"{a.workload}-{a.seed}", spark if a.trace else None,
                    enabled=bool(a.trace))
    wl = WORKLOADS[a.workload](spark, inputs, a.seed, tracer)

    # cold op and warm-up: unmeasured ops, left out of the layer figures.
    # Each phase also reads the CPU time of this process, its JVM and its
    # Python workers (steal left out; see procs.tree_cpu_s)
    me = os.getpid()
    wl.in_cold = True
    c0 = tree_cpu_s(me)
    res["cold_op_s"] = wl.cold()
    res["cold_op_cpu_s"] = (tree_cpu_s(me) - c0) / wl.cold_ops
    for _ in range(wl.warm_ops):  # the JIT is still warming
        wl.op()
    wl.in_cold = False
    # the measured loop. A traced run measures pairs of the same unit (a
    # build, or one query), once traced and once untraced; the order
    # within a pair flips from pair to pair, so neither side is always the
    # warmer one, and the tracing overhead is measured against untraced
    # units of the same session
    lat, plain = [], []
    t0, c0 = time.perf_counter(), tree_cpu_s(me)
    while True:
        if a.trace:
            first = (len(lat) + a.seed) % 2 == 0
            name = None
            for traced in (first, not first):
                tracer.enabled = traced
                name, dt = wl.op(name)
                (lat if traced else plain).append((name, dt))
        else:
            lat.append(wl.op())
        if (not wl.round_pending()
                and time.perf_counter() - t0 >= a.seconds):
            break
    res["window_cpu_s"] = tree_cpu_s(me) - c0
    res["window_ops"] = len(lat) + len(plain)
    tracer.enabled = bool(a.trace)
    res["plain_latencies"] = plain
    res["window_s"] = time.perf_counter() - t0
    # the parent's memory sampling stops here: checks and sizing are not
    # part of the workload
    open(os.path.join(a.workdir, "workload_done"), "w").close()
    t_checks = time.perf_counter()
    res["latencies"] = lat

    attempted, failed, notes = len(wl.outputs), 0, []
    import duckdb
    con = duckdb.connect()
    for name, t in inputs["tables"].items():
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t['path']}')")
    res["splits"] = wl.splits()
    try:
        attempted, failed, notes = wl.check(con)
    except Exception:
        failed, notes = attempted, [traceback.format_exc(limit=3)]
    res["sketch_bytes"] = wl.sketch_bytes()
    if a.trace:
        from perfbench import layers
        cfg = layers.PROBES[inputs["kind"]]
        res["core"] = layers.core_rates(*layers.micro_sample(inputs, cfg))
        build = wl.last_build
        try:
            probe, p_att, p_fail, p_notes, p_build = layers.run_probes(
                spark, tracer, inputs, con, a.workdir,
                with_build=build is None)
            res["partials"] = layers.partial_stats(*(build or p_build))
        except Exception:
            probe, p_att, p_fail, p_notes = {}, 1, 1, [traceback.format_exc(limit=3)]
        res["probe"] = probe
        attempted, failed, notes = attempted + p_att, failed + p_fail, notes + p_notes
    res.update(attempted=attempted, failed=failed, notes=notes[:20])
    res["checks_s"] = time.perf_counter() - t_checks

    res["app_id"] = spark.sparkContext.applicationId
    spark.stop()

    if a.trace:
        from perfbench import layers
        from perfbench.eventlog import summarize
        groups = summarize(os.path.join(a.workdir, "eventlog", res["app_id"]))
        res["spark"] = layers.spark_layers(tracer.spans, groups, tracer.group_id, cpus)
        res["build"] = layers.build_layers(
            tracer.spans, "op" if a.workload == "pages_build" else "probe.build")
        res["probe_build_s"] = sum(s["end"] - s["start"] for s in tracer.spans
                                   if s["name"] == "probe.build")
        tracer.write(os.path.join(a.workdir, "spans.jsonl"))
        res["span_count"] = len(tracer.spans)
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
