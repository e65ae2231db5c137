"""Find sketchlib code that no entry point reaches: whole top-level defs
by a static name scan, statements by a trace (``--trace``, below).

A static name graph over the AST. The roots are the catalog
(``__spark_entry__.py``), the two benchmarks (``bench.py``,
``perfbench/*.py``), the CLI (``sketchlib/__main__.py``) and the oracle
gate (``tools/check_contract.py``). The benchmarks resolve their query
names with ``getattr(Q, f"q_{name}")``, so each name in their lists also
roots ``q_<name>``.

Edges are by bare name: a def references every identifier and attribute
name in its body (and a class in its methods), and a reference reaches
every top-level def of that name in any sketchlib module. Module-level
code outside defs runs on import, so its references are roots too. The
graph therefore over-approximates reachability; a def it reports is
referenced by nothing but tests and other unreached defs.

    python tools/reachability.py       # one "path:name" per line

``tools/reachability_allowlist.txt`` lists the expected output, one
entry per line with the reason it is kept; ``tests/test_reachability.py``
asserts the two match.

Branch level (``--trace``). The name scan sees whole defs only, so a
dead branch inside a reached def is invisible to it. The trace mode runs
code under ``sys.settrace`` and lists every statement of the traced
modules that never ran. Spark runs Python operators in worker
processes, which a tracer in this process cannot see, so every
``mapInPandas`` / ``mapInArrow`` / ``applyInPandas`` / ``applyInArrow``
call made while the code runs is recorded with its input DataFrame and
replayed here, under the tracer, over that input's Arrow batches (one
partition holding every batch; pandas frames for the pandas forms).
Refusal code is left out: every ``raise`` statement (so a block whose
body only raises) and every ``except`` handler (the quarantine paths).
``pandas_udf`` bodies (the SQL read-out functions) are not replayed.

    python tools/reachability.py --trace            # media modules
    python tools/reachability.py --trace all SF_DIR # every catalog entry

The media trace runs ``q_media_features`` and the fixture generator
(``fake_media_rows`` through ``io.fixtures.media_path``) and prints
``path:function: statement`` for each unexecuted statement of
``multimodal.py`` and ``jpeg.py``; ``tools/trace_allowlist.txt`` holds
the expected list with a reason per entry, and
``tests/test_reachability.py`` asserts the two match. ``--trace all``
runs every catalog entry over the tables in SF_DIR and prints, per
sketchlib module, unexecuted/listed statement counts. It runs the
catalog twice: as read, and with every table ``queries.load`` returns
repartitioned to 4, because a one-file table is one partition and its
builds fold in the task that built them, so only the second pass runs
the shuffle merge tree and the kernels' ``merge``. Blind spots of
``--trace all``: code that ran only when its module was imported,
before tracing began, counts as unexecuted (the media trace reloads
its modules under the tracer); so does code reached only from outside
the catalog (the CLI, the benchmarks, the streaming operators) and
every ``pandas_udf`` body; and each replay runs its recorded operator
over one partition holding every batch.
"""
from __future__ import annotations

import ast
import glob
import importlib
import inspect
import os
import sys
import tempfile
from collections import Counter, defaultdict

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ["__spark_entry__.py", "bench.py", "perfbench/*.py",
         "sketchlib/__main__.py", "tools/check_contract.py"]
# module-level name lists the benchmarks resolve as q_<name>
NAME_LISTS = {"bench.py": "BENCH_QUERIES",
              "perfbench/workloads.py": "QUERY_NAMES"}


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel)) as f:
        return ast.parse(f.read(), rel)


def _refs(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def _bench_names(rel: str, var: str) -> set[str]:
    for stmt in _parse(rel).body:
        if (isinstance(stmt, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == var
                        for t in stmt.targets)):
            return {f"q_{v}" for v in ast.literal_eval(stmt.value)}
    raise LookupError(f"{var} not found in {rel}")


def unreached() -> list[str]:
    """Sorted "path:name" of every top-level sketchlib def no root reaches."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    seeds: set[str] = set()
    for path in sorted(glob.glob(os.path.join(REPO, "sketchlib/**/*.py"),
                                 recursive=True)):
        rel = os.path.relpath(path, REPO)
        for stmt in _parse(rel).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs.setdefault(stmt.name, []).append((rel, stmt))
            else:
                seeds |= _refs(stmt)
    for pattern in ROOTS:
        for path in sorted(glob.glob(os.path.join(REPO, pattern))):
            seeds |= _refs(_parse(os.path.relpath(path, REPO)))
    for rel, var in NAME_LISTS.items():
        seeds |= _bench_names(rel, var)
    reached: set[int] = set()
    todo = list(seeds)
    while todo:
        for _rel, node in defs.get(todo.pop(), []):
            if id(node) not in reached:
                reached.add(id(node))
                todo.extend(_refs(node))
    return sorted(f"{rel}:{name}" for name, entries in defs.items()
                  for rel, node in entries if id(node) not in reached)


MEDIA_MODULES = ["sketchlib/spark/multimodal.py", "sketchlib/spark/jpeg.py"]


def statements(rel: str) -> list[tuple[str, int, int, str]]:
    """(qualname, first line, last line, text) of every simple
    statement inside a def of ``rel``, minus docstrings and refusal
    code. ``text`` is the statement's first line, prefixed with the
    header of the block it sits in (``if marker == 0xFF: / continue``).
    Module and class bodies run on import, so they are not listed;
    compound statements are covered by their bodies."""
    with open(os.path.join(REPO, rel)) as f:
        src = f.read()
    lines = src.splitlines()
    out = []

    def block(body, qual, where):
        for i, stmt in enumerate(body):
            if not (i == 0 and isinstance(stmt, ast.Expr) and isinstance(
                    getattr(stmt.value, "value", None), str)):  # docstring
                visit(stmt, qual, where)

    def visit(node, qual, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            inner = f"{qual}.{node.name}" if qual else node.name
            body = node.body if not isinstance(node, ast.ClassDef) else [
                s for s in node.body if isinstance(
                    s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]
            block(body, inner, "")
        elif isinstance(node, ast.Match):
            for case in node.cases:
                block(case.body, qual,
                      lines[case.pattern.lineno - 1].strip())
        elif hasattr(node, "body"):  # if / for / while / with / try
            # except handlers are quarantine code: left out
            block(node.body, qual,
                  lines[node.lineno - 1].split("  #")[0].strip())
            block(getattr(node, "orelse", []), qual, "else:")
            block(getattr(node, "finalbody", []), qual, "finally:")
        elif qual and not isinstance(node, ast.Raise):
            text = ast.get_source_segment(src, node).splitlines()[0]
            out.append((qual, node.lineno, node.end_lineno,
                        f"{where} / {text}" if where else text))

    for node in ast.parse(src, rel).body:
        visit(node, "", "")
    return out


def _frames(df) -> list:
    """The pandas batches a Python worker would be handed for ``df``."""
    return [b.to_pandas(date_as_object=True)
            for b in df.toArrow().to_batches()]


def _arrow_groups(table, keys: list[str]):
    """(key scalars, rows) per ``keys`` group of an Arrow table, as
    ``applyInArrow`` hands them to its function."""
    import pyarrow as pa
    from sketchlib.spark.build import _key_groups
    types = [table.schema.field(k).type for k in keys]
    for key, rows in _key_groups(table, keys):
        yield tuple(pa.scalar(v, t) for v, t in zip(key, types)), rows


class _Recorder:
    """Records every ``mapInPandas`` / ``mapInArrow`` / ``applyInPandas``
    / ``applyInArrow`` call made while active, then replays the
    recorded functions in this process."""

    def __enter__(self):
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.group import GroupedData
        self.calls = []
        self._saved = [(c, n, getattr(c, n)) for c, n in (
            (DataFrame, "groupBy"), (DataFrame, "groupby"),
            (DataFrame, "mapInPandas"), (DataFrame, "mapInArrow"),
            (GroupedData, "applyInPandas"), (GroupedData, "applyInArrow"))]
        real_group = self._saved[0][2]

        def group_by(df, *cols):
            gd = real_group(df, *cols)
            gd._trace_keys = list(cols[0] if len(cols) == 1 and isinstance(
                cols[0], (list, tuple)) else cols)
            return gd

        def recording(real, arrow, grouped):
            def call(obj, fn, schema, *args, **kwargs):
                self.calls.append((fn, obj._df if grouped else obj,
                                   obj._trace_keys if grouped else None,
                                   arrow))
                return real(obj, fn, schema, *args, **kwargs)
            return call

        DataFrame.groupBy = DataFrame.groupby = group_by
        for (cls, name, real), arrow in zip(self._saved[2:],
                                            (False, True, False, True)):
            setattr(cls, name, recording(real, arrow, cls is GroupedData))
        return self

    def __exit__(self, *exc):
        for cls, name, fn in self._saved:
            setattr(cls, name, fn)

    def replay(self) -> list[str]:
        """Run each recorded function over its input's batches (all in
        one partition; groups split by pandas or Arrow); return the
        failures."""
        import pandas as pd
        failed = []
        for fn, df, keys, arrow in self.calls:
            try:
                if keys is None:
                    batches = (df.toArrow().to_batches() if arrow
                               else _frames(df))
                    for _ in fn(iter(batches)):
                        pass
                    continue
                if not all(isinstance(k, str) for k in keys):
                    raise TypeError("grouping keys are not column names")
                two = len(inspect.signature(fn).parameters) == 2
                if arrow:
                    groups = _arrow_groups(df.toArrow(), keys)
                else:
                    pdf = pd.concat(_frames(df), ignore_index=True)
                    groups = ((key, sub.reset_index(drop=True)) for key, sub
                              in pdf.groupby(keys, sort=False, dropna=False))
                for key, sub in groups:
                    fn(key, sub) if two else fn(sub)
            except Exception as e:  # noqa: BLE001 - reported, not fatal
                failed.append(f"{fn.__qualname__}: {type(e).__name__}: {e}")
        self.calls.clear()
        return failed


def run_traced(run, rels: list[str]) -> tuple[dict[str, set[int]], list[str]]:
    """Run ``run(recorder)``, then replay its Python operators, all
    under the tracer; return the executed lines of each module in
    ``rels`` and the replays that failed."""
    files = {os.path.join(REPO, rel): rel for rel in rels}
    hit: dict[str, set[int]] = defaultdict(set)

    def local(frame, event, _arg):
        if event == "line":
            hit[files[frame.f_code.co_filename]].add(frame.f_lineno)
        return local

    def tracer(frame, _event, _arg):
        return local if frame.f_code.co_filename in files else None

    saved = sys.gettrace()
    with _Recorder() as rec:
        sys.settrace(tracer)
        try:
            run(rec)
            failed = rec.replay()
        finally:
            sys.settrace(saved)
    return hit, failed


def unexecuted(hit: dict[str, set[int]], rels: list[str]) -> list[str]:
    """Sorted "path:function: statement" of every listed statement of
    ``rels`` on none of whose lines the tracer stopped."""
    return sorted(f"{rel}:{qual}: {text}" for rel in rels
                  for qual, lo, hi, text in statements(rel)
                  if not hit[rel].intersection(range(lo, hi + 1)))


def media_trace(spark) -> list[str]:
    """Unexecuted non-refusal statements of the media modules under the
    ``media_features`` catalog entry and its fixture generator."""
    from sketchlib.io.fixtures import media_path
    from sketchlib.spark import queries as Q

    def run(_rec):
        for rel in MEDIA_MODULES:  # code that runs at import counts too
            importlib.reload(importlib.import_module(
                rel[:-3].replace("/", ".")))
        with tempfile.TemporaryDirectory() as tmp:
            media_path(n=120, seed=5, base_dir=tmp)
        Q.q_media_features(spark, None).collect()

    hit, failed = run_traced(run, MEDIA_MODULES)
    if failed:
        raise RuntimeError("replay failed: " + "; ".join(failed))
    return unexecuted(hit, MEDIA_MODULES)


def package_trace(spark, sf_dir: str) -> tuple[Counter, Counter, list[str]]:
    """Run every catalog entry over the tables in ``sf_dir`` twice: as
    read, and with every table ``queries.load`` returns repartitioned
    to 4 (so the builds take the shuffle merge tree and the kernels
    merge). Return per-module counts of listed and of unexecuted
    statements, and the entries and replays that failed."""
    import __spark_entry__ as E
    from sketchlib.spark import queries as Q
    rels = sorted(os.path.relpath(p, REPO) for p in glob.glob(
        os.path.join(REPO, "sketchlib/**/*.py"), recursive=True))
    failed = []
    load = Q.load

    def run(rec):
        for parts in (None, 4):
            Q.load = load if parts is None else (
                lambda *a, **kw: load(*a, **kw).repartition(parts))
            try:
                for name, query in E.queries().items():
                    try:
                        query(spark, sf_dir).collect()
                    except Exception as e:  # noqa: BLE001 - reported
                        failed.append(f"{name} (partitions: {parts}): "
                                      f"{type(e).__name__}: {e}")
                    failed.extend(rec.replay())
            finally:
                Q.load = load

    hit, more = run_traced(run, rels)
    listed = Counter({rel: len(statements(rel)) for rel in rels})
    dead = Counter(line.split(":", 1)[0] for line in unexecuted(hit, rels))
    return listed, dead, failed + more


def main(argv: list[str]) -> None:
    if not argv:
        print("\n".join(unreached()))
        return
    if argv != ["--trace"] and (argv[:2] != ["--trace", "all"]
                                or len(argv) != 3):
        raise SystemExit(__doc__)
    sys.path.insert(0, REPO)
    from sketchlib.spark.session import get_spark
    spark = get_spark("sketchlib-trace", cpus=4)
    try:
        if len(argv) == 1:
            print("\n".join(media_trace(spark)))
            return
        listed, dead, failed = package_trace(spark, argv[2])
        for rel in sorted(listed):
            if listed[rel]:
                print(f"{rel}\t{dead[rel]}/{listed[rel]} unexecuted")
        print(f"total\t{sum(dead.values())}/{sum(listed.values())}")
        print("\n".join(f"failed: {f}" for f in failed))
    finally:
        spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
