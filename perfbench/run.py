"""sketchlib benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload pages_build --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It generates the seeded inputs (cached
under ``perfbench/.cache``), starts ``perfbench/worker.py`` in a fresh
process with all Spark, JVM and Python scratch space under
``perfbench/.work``, samples the resident memory of the worker's JVM and
Python workers from outside, checks the outputs, prints a table of every
metric and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; op costs are bounded as
CPU seconds of the worker's process tree, and the wall-time figures are
printed alongside. ``--trace 1`` turns on the
Spark event log through launch configuration, records spans and job
groups around every call, runs each unit of the workload once traced and
once untraced, and reports the per-layer metrics plus the tracing
overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(HERE))
from perfbench.procs import children, comm, descendants, rss_bytes  # noqa: E402
WORK = os.path.join(HERE, ".work")
RUN_TIMEOUT_S = 170

WORKLOAD_INPUT = {"pages_build": "pages", "sketch_queries": "sf"}


# ---------------------------------------------------------------------------
# process tree memory, sampled from outside
# ---------------------------------------------------------------------------

class RssSampler(threading.Thread):
    """Peak summed RSS of the JVM and its Python workers (the processes
    below the JVM); the worker itself (the Spark driver's Python) is not
    counted. Sampling stops once the worker creates ``stop_file``, at the
    end of its measured window."""

    def __init__(self, pid: int, stop_file: str):
        super().__init__(daemon=True)
        self.pid, self.stop_file = pid, stop_file
        self.peak = self.peak_jvm = self.peak_py = 0
        self.done = threading.Event()

    def run(self):
        while not self.done.wait(0.2) and not os.path.exists(self.stop_file):
            kids = children()
            jvms = [p for p in descendants(self.pid, kids) if comm(p) == "java"]
            jvm = sum(rss_bytes(p) for p in jvms)
            py = sum(rss_bytes(p) for j in jvms for p in descendants(j, kids))
            self.peak = max(self.peak, jvm + py)
            self.peak_jvm, self.peak_py = max(self.peak_jvm, jvm), max(self.peak_py, py)


# ---------------------------------------------------------------------------
# one worker process
# ---------------------------------------------------------------------------

def run_worker(args, inputs: dict, workdir: str, trace: bool) -> dict:
    shutil.rmtree(workdir, ignore_errors=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    inputs_path = os.path.join(workdir, "inputs.json")
    with open(inputs_path, "w") as f:
        json.dump(inputs, f)
    submit = []
    if trace:
        os.makedirs(os.path.join(workdir, "eventlog"))
        for k, v in (("spark.eventLog.enabled", "true"),
                     ("spark.eventLog.dir", "file://" + os.path.join(workdir, "eventlog")),
                     ("spark.eventLog.compress", "false"),
                     ("spark.eventLog.rolling.enabled", "false")):
            submit += ["--conf", f"{k}={v}"]
    # JAVA_TOOL_OPTIONS reaches every JVM, the spark-submit launcher's too:
    # no perf-data or temp files outside the checkout
    env = dict(os.environ,
               PYTHONPATH=ROOT, TMPDIR=tmp, PYSPARK_PYTHON=sys.executable,
               JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
               SPARK_LOCAL_DIRS=os.path.join(workdir, "local"),
               PYSPARK_SUBMIT_ARGS=" ".join(map(shlex.quote, submit + ["pyspark-shell"])))
    out = os.path.join(workdir, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(int(trace)),
           "--inputs", inputs_path, "--out", out, "--workdir", workdir]
    env["PERFBENCH_T0"] = repr(time.time())
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True,
                            stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)
    sampler = RssSampler(proc.pid, os.path.join(workdir, "workload_done"))
    sampler.start()
    try:
        _, err = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        err = b"timeout"
    finally:
        sampler.done.set()
        stop_group(proc)
        sampler.join()
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(err.decode(errors="replace")[-4000:])
        raise SystemExit(f"worker failed ({args.workload}, trace={int(trace)})")
    with open(out) as f:
        res = json.load(f)
    res["peak_rss_mb"] = sampler.peak / 2**20
    res["peak_rss_split_mb"] = [sampler.peak_jvm / 2**20, sampler.peak_py / 2**20]
    return res


def stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait
    until every member has exited."""
    pgid = proc.pid
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline and _group_alive(pgid):
            time.sleep(0.1)
    if proc.poll() is None:
        proc.wait()


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                if os.getpgid(int(d)) == pgid:
                    with open(f"/proc/{d}/stat") as f:
                        if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                            return True
            except (OSError, IndexError):
                continue
    return False


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def tail(values: list[float]) -> tuple[float, float | None]:
    """Highest percentile with at least ten samples beyond it, as
    (value, percentile); (max, None) when there are ten or fewer."""
    v = sorted(values)
    if len(v) <= 10:
        return v[-1], None
    i = len(v) - 11
    return v[i], 100.0 * (i + 1) / len(v)


def end_to_end(res: dict, n_docs: int) -> tuple[dict, list[str]]:
    """The bounded metrics and the table lines. Op costs are bounded as
    CPU seconds of the worker's process tree: on a shared VM the wall
    time of the same op moves with the host's load (see README.md), so
    the wall-time figures are printed for reading, not bounded."""
    lat = [dt for _, dt in res["latencies"]]
    by_class: dict[str, list[float]] = {}
    for label, dt in res["latencies"]:
        by_class.setdefault(label, []).append(dt)
    m = {
        "setup_s": res["setup_first_s"],
        "cold_op_cpu_s": res["cold_op_cpu_s"],
        "op_cpu_s": res["window_cpu_s"] / res["window_ops"],
        "sketch_bytes": res["sketch_bytes"],
        "worker_peak_rss_mb": res["peak_rss_split_mb"][1],
    }
    t, pct = tail(lat)
    pct_s = f"p{pct:.0f}" if pct else "max"
    unit = "build" if res["workload"] == "pages_build" else "query"
    lines = [f"setup_s            {m['setup_s']:.3f} s   (process start to session ready)",
             f"cold_op_cpu_s      {m['cold_op_cpu_s']:.3f} s   (CPU per cold {unit})",
             f"cold_op_s          {res['cold_op_s']:.3f} s   (wall per cold {unit};"
             f" not bounded)",
             f"op_cpu_s           {m['op_cpu_s']:.3f} s   (CPU per {unit} over the"
             f" {res['window_s']:.1f} s window)"]
    if res["workload"] == "pages_build":
        lines += [f"build_docs_per_s   {n_docs / statistics.median(lat):.1f} 1/s  (wall, not"
                  f" bounded; {len(lat)} warm builds of {n_docs} docs, op p50"
                  f" {statistics.median(lat):.3f} s)",
                  f"build_docs_per_cpu_s {n_docs / m['op_cpu_s']:.1f} 1/s"]
    else:
        lines += [f"query_p50_s        {statistics.median(lat):.3f} s   (wall, not bounded;"
                  f" {len(lat)} queries)",
                  f"query_tail_s       {t:.3f} s   (wall, not bounded; {pct_s} of"
                  f" {len(lat)} samples)"]
        for name, v in sorted(by_class.items()):
            lines.append(f"  queries.{name}_s {statistics.median(v):.3f} s")
    lines += [f"sketch_bytes       {m['sketch_bytes']} B",
              f"peak_rss_mb        {res['peak_rss_mb']:.1f} MB  (JVM + Python workers;"
              f" JVM alone {res['peak_rss_split_mb'][0]:.1f}; not bounded)",
              f"worker_peak_rss_mb {m['worker_peak_rss_mb']:.1f} MB  (Python workers)",
              f"failed_op_share    {res['failed'] / res['attempted']:.4f}"
              f"  ({res['failed']}/{res['attempted']})"]
    return m, lines


def per_layer(traced: dict) -> dict:
    m = {
        "session.first_setup_s": traced["setup_first_s"],
        "session.get_spark_s": traced["setup"]["get_spark_s"],
        "session.attach_package_s": traced["setup"]["attach_package_s"],
        "session.warm_s": traced["setup"]["warm_s"],
    }
    for part in ("core", "probe", "partials", "spark", "build"):
        m.update(traced.get(part, {}))
    # latencies and plain_latencies are aligned: pair i ran the same unit
    # once traced and once untraced
    t_p50 = statistics.median(dt for _, dt in traced["latencies"])
    u_p50 = statistics.median(dt for _, dt in traced["plain_latencies"])
    m["trace.op_p50_s"] = t_p50
    m["trace.overhead_s"] = statistics.median(
        t - u for (_, t), (_, u) in zip(traced["latencies"], traced["plain_latencies"]))
    build_self = sum(v for k, v in traced.get("build", {}).items()
                     if k in ("build.calibrate_s", "build.partials_s", "build.merge_s"))
    base = u_p50 if traced["workload"] == "pages_build" else traced["probe_build_s"]
    m["trace.build_self_share"] = build_self / base if base else 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_INPUT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.time()
    if not os.path.isfile(os.path.join(ROOT, "sketchlib", "__init__.py")):
        print("perfbench: no sketchlib package in the current directory; "
              "run from the root of a sketchlib checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs as inputs_mod
    import numpy, pyarrow, pyspark

    inputs = inputs_mod.prepare(WORKLOAD_INPUT[args.workload], args.seed)
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    try:
        res = run_worker(args, inputs, run_dir, bool(args.trace))
        if args.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(WORK, f"spans-{args.workload}.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["workload"] = args.workload
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        section = json.load(f)["per_layer" if args.trace else "end_to_end"]
    info = {"workload": args.workload, "seed": args.seed,
            "input_digest": inputs["digest"], "input_splits": res["splits"],
            "cpus": res["cpus"], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
            "trace": args.trace,
            "phases_s": {k: round(res[k], 1) for k in ("setup_first_s", "cold_op_s",
                                                       "window_s", "checks_s")},
            "window_cpu_busy": round(res["window_cpu_s"] / res["window_s"], 2),
            "wall_s": round(time.time() - started, 1),
            "ops_s": [round(dt, 3) for _, dt in res["latencies"]]}
    print("# " + json.dumps(info))
    if args.trace:
        metrics = per_layer(res)
        lines = [f"{m['name']:34s} {metrics[m['name']]:.6g} {m['unit']}" for m in section]
        lines.append(f"tracing overhead: op p50 {metrics['trace.op_p50_s']:.3f} s traced, "
                     f"{metrics['trace.overhead_s']:+.3f} s vs untraced (median paired "
                     f"difference over {len(res['latencies'])} pairs)")
    else:
        n_docs = inputs["tables"].get("pages", {}).get("rows", 0)
        metrics, lines = end_to_end(res, n_docs)
    lines += ["check failed: " + n.replace("\n", " | ") for n in res["notes"]]
    for line in lines:
        print("# " + line)
    out = {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]}
           for m in section}
    print(json.dumps({"correct": res["failed"] == 0, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
