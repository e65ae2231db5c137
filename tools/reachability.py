"""List the top-level sketchlib functions and classes that no entry point
reaches.

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
"""
from __future__ import annotations

import ast
import glob
import os

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


if __name__ == "__main__":
    print("\n".join(unreached()))
