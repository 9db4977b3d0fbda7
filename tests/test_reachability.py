"""Every top-level def in the package is reached from an entry point.

The rule: a registry query or the production job runs it, or it goes.
This test scans identifiers transitively, without importing anything:

- defs are top-level functions, classes and module-level `NAME = ...`
  assignments of the package;
- roots are the entry points (`jobs/`, `bench.py`, `tools/`,
  `perfbench/*.py`, `__spark_entry__.py`), all of `queries.py` (its
  builders register through `@q`), and every other module-level
  statement and decorator in `logstash_spark/` (imports, `if` blocks,
  dunders);
- a reached identifier reaches every top-level def of that name in any
  package module, and that def's body reaches the identifiers in it;
- identifiers are names, attributes and imported names in code. Words
  inside string constants do not count: a docstring cross-reference or
  a word in `.conf` text keeps nothing alive, so string-keyed dispatch
  must name its targets in code.

A def reached only from `tests/` fails the test: delete it, or move it
into the test that uses it.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "logstash_spark")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _idents(nodes) -> set[str]:
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                out.add(node.id)
            elif isinstance(node, ast.Attribute):
                out.add(node.attr)
            elif isinstance(node, ast.alias):
                out.update(node.name.split("."))
    return out


def _def_names(stmt: ast.stmt) -> list[str]:
    """The names a top-level statement defines: a def or class, or the
    plain-name targets of a module-level (annotated) assignment."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign) else [])
    names = []
    for t in targets:
        for node in t.elts if isinstance(t, ast.Tuple) else [t]:
            if isinstance(node, ast.Name):
                names.append(node.id)
    return names


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def unreached_defs() -> list[str]:
    roots: set[str] = set()
    entry = [os.path.join(ROOT, "bench.py"), os.path.join(ROOT, "__spark_entry__.py")]
    entry += glob.glob(os.path.join(ROOT, "jobs", "*.py"))
    entry += glob.glob(os.path.join(ROOT, "tools", "*.py"))
    entry += glob.glob(os.path.join(ROOT, "perfbench", "*.py"))
    for path in entry:
        tree = _parse(path)
        roots |= _idents([tree])

    defs: dict[str, list[tuple[str, set[str]]]] = {}
    for path in sorted(glob.glob(os.path.join(PKG, "**", "*.py"), recursive=True)):
        tree = _parse(path)
        rel = os.path.relpath(path, ROOT)
        for stmt in tree.body:
            names = _def_names(stmt)
            if not names:
                roots |= _idents([stmt])
                continue
            roots |= _idents(getattr(stmt, "decorator_list", []))
            body = _idents([stmt])
            for name in names:
                if _is_dunder(name) or rel == os.path.join("logstash_spark", "queries.py"):
                    roots.add(name)
                defs.setdefault(name, []).append((rel, body))

    reached, todo = set(), list(roots)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, body in defs.get(name, ()):
            todo.extend(body - reached)
    return sorted(f"{rel}:{name}" for name, found in defs.items()
                  if name not in reached and not _is_dunder(name)
                  for rel, _ in found)


def test_every_package_def_is_reached_from_an_entry_point():
    missing = unreached_defs()
    assert not missing, (
        f"{len(missing)} top-level defs are reached only from tests (or not "
        "at all); delete them or move them into their test:\n  "
        + "\n  ".join(missing))
