"""The event-log reader and the span arithmetic on a small recorded log:
a two-partition build_sketches collect (group pb:rec:1, span 1) and a
range count (group pb:rec:2, span 2), both under one op span (0)."""

import json
import os
import shutil

import pytest

from perfbench.eventlog import summarize
from perfbench.layers import spark_layers

DATA = os.path.join(os.path.dirname(__file__), "data")
LOG = os.path.join(DATA, "small_eventlog.jsonl")


def load_spans():
    with open(os.path.join(DATA, "small_spans.jsonl")) as f:
        return [json.loads(line) for line in f]


def test_groups_jobs_stages_tasks():
    g = summarize(LOG)
    assert set(g) == {"pb:rec:1", "pb:rec:2"}
    b, r = g["pb:rec:1"], g["pb:rec:2"]
    assert (b.jobs, b.stages, b.tasks) == (4, 4, 7)
    assert (r.jobs, r.stages, r.tasks) == (2, 2, 3)
    assert sum(len(v) for v in b.task_ms.values()) == b.tasks
    assert len(b.job_intervals) == 4


def test_python_sql_metrics_only_on_the_python_group():
    b, r = summarize(LOG)["pb:rec:1"], summarize(LOG)["pb:rec:2"]
    # 3 groups x 2 partitions partials + 3 merged rows left Python
    assert b.py_rows_returned == 9
    assert (b.py_bytes_sent, b.py_bytes_returned) == (5232, 3088)
    assert b.py_boot_ms > 0 and b.py_run_ms > 0
    assert (r.py_bytes_sent, r.py_rows_returned, r.py_run_ms) == (0, 0, 0)
    assert b.shuffle_write_bytes == 4772 and b.shuffle_read_bytes == 2744
    assert r.shuffle_write_bytes == r.shuffle_read_bytes == 118


def test_torn_last_line_is_skipped(tmp_path):
    torn = tmp_path / "log"
    shutil.copy(LOG, torn)
    with open(torn, "a") as f:
        f.write('{"Event": "SparkListenerTaskEnd", "Stage')
    assert summarize(str(torn))["pb:rec:1"].tasks == 7


def test_per_op_layers_from_spans_and_log():
    spans = load_spans()
    groups = summarize(LOG)
    m = spark_layers(spans, groups, lambda i: f"pb:rec:{i}", cpus=2)
    assert m["spark.jobs_per_op"] == 6
    assert m["spark.tasks_per_op"] == 10
    assert m["arrow.rows_from_python"] == 9
    # driver time outside any job: op wall minus the union of job intervals
    op = spans[0]
    jobs = sorted(groups["pb:rec:1"].job_intervals + groups["pb:rec:2"].job_intervals)
    covered = sum(min(e, op["end"]) - max(s, op["start"]) for s, e in jobs)
    assert m["driver.no_job_s"] == pytest.approx(op["end"] - op["start"] - covered)
    run_s = (groups["pb:rec:1"].run_ms + groups["pb:rec:2"].run_ms) / 1000
    assert m["spark.core_busy_share"] == pytest.approx(
        run_s / ((op["end"] - op["start"]) * 2))
    # stage 0 ran two ~2s tasks; the largest per-stage ratio is small
    assert 1.0 <= m["spark.task_max_over_median"] < 1.2


def test_spill_counts_disk_bytes_only(tmp_path):
    log = tmp_path / "log"
    shutil.copy(LOG, log)
    with open(log, "a") as f:
        f.write(json.dumps({
            "Event": "SparkListenerTaskEnd", "Stage ID": 0,
            "Task Info": {"Launch Time": 0, "Finish Time": 1},
            "Task Metrics": {"Memory Bytes Spilled": 1000,
                             "Disk Bytes Spilled": 200}}) + "\n")
    assert summarize(str(log))["pb:rec:1"].spill_bytes == 200


def test_textops_shuffle_from_textops_spans_only():
    spans = load_spans()
    groups = summarize(LOG)
    m = spark_layers(spans, groups, lambda i: f"pb:rec:{i}", cpus=2)
    assert m["textops.shuffle_write_bytes"] == 0
    spans[2]["name"] = "textops.minhash_lsh_pairs"  # the range count
    m = spark_layers(spans, groups, lambda i: f"pb:rec:{i}", cpus=2)
    assert m["textops.shuffle_write_bytes"] == m["textops.shuffle_read_bytes"] == 118
