"""Every top-level sketchlib def is reached from an entry point (catalog,
benchmarks, CLI, oracle gate), and every statement of the media codecs
runs under the media catalog entry, or is kept on an allowlist with a
reason."""

import os

from tools.reachability import (REPO, media_trace, run_traced, statements,
                                unreached)


def _allowlist(name: str) -> list[str]:
    """Sorted entries of ``tools/<name>``; each line must give a reason
    after "  # "."""
    entries = []
    with open(os.path.join(REPO, "tools", name)) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                entry, sep, reason = line.rstrip("\n").rpartition("  # ")
                assert sep and entry.strip() and reason.strip(), line
                entries.append(entry.strip())
    return sorted(entries)


def test_unreached_defs_equal_allowlist():
    assert unreached() == _allowlist("reachability_allowlist.txt")


def test_unexecuted_media_statements_equal_allowlist(spark):
    assert media_trace(spark) == _allowlist("trace_allowlist.txt")


def test_trace_replays_the_arrow_operators_of_a_build(spark, pages_tiny):
    """A tiny build under the tracer: the ``mapInArrow`` bodies (the
    partial build, the in-task fold) and the ``applyInArrow`` merge
    of the shuffle tree are replayed and count as executed."""
    from sketchlib.spark.build import (build_partials, build_sketches,
                                       merge_partials)
    from sketchlib.spark.specs import SketchSpec
    rel = "sketchlib/spark/build.py"
    specs = [SketchSpec("h", "hll", "url", {"b": 8})]
    df = pages_tiny.limit(50).coalesce(1)

    def run(_rec):
        build_sketches(df, ["lang"], specs).collect()
        merge_partials(build_partials(df, ["lang"], specs),
                       ["lang"]).collect()
    hit, failed = run_traced(run, [rel])
    assert failed == []
    first = {}  # each function's first listed statement
    for qual, line, _end, _text in reversed(statements(rel)):
        first[qual] = line
    for body in ("_partial_task.build_partition",
                 "_partial_task.build_partition.emit",
                 "_fold_in_task.fold_partition", "_group_fold.fn",
                 "_merge_groups.merge"):
        assert first[body] in hit[rel], body
