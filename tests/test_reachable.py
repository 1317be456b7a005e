"""Every package function is reachable from something that runs, and
every package module uses what it imports.

Static checks, no Spark: they parse the package with ``ast``.

Reachability links each function or class to the names its body
references, and each module-level assignment target to the names of
its value (``_KINDS = {"biosample": (..., biosample_record, ...)}``
reaches ``biosample_record`` through ``_KINDS``). It walks that graph
from the roots a user or a benchmark can reach:

- functions decorated ``@register`` (queries), ``@model`` (warehouse
  models), ``@audit`` or ``@row_audit`` (audits);
- ``cli.py``'s ``cmd_*`` verbs;
- names used by module-level statements that run on import (a loop
  or call that registers models);
- every name used in ``__spark_entry__.py`` (the driver contract),
  ``perfbench/`` or ``tools/``.

A top-level ``def``, public or private, in any package module that no
root reaches is a code path only tests run; delete it or register what
runs it. Only real name references count (``ast.Name``,
``ast.Attribute`` and import aliases); a name in a docstring or
comment does not. Names are matched without their module, so the walk
may over-reach, never under-reach.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "omicidx_gh_etl_spark"
ROOT_DECORATORS = {"register", "model", "audit", "row_audit"}
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _decorator(d: ast.expr) -> str | None:
    d = d.func if isinstance(d, ast.Call) else d
    return d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", None)


def unreachable(package: dict[str, str], outside: list[str]) -> list[str]:
    """Top-level defs of the ``package`` modules that no root reaches.
    ``package`` maps a module's relative path to its source;
    ``outside`` holds the sources whose every name is a root."""
    refs: dict[str, set[str]] = {}
    roots: set[str] = set()
    trees = {rel: ast.parse(src) for rel, src in package.items()}
    for rel, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, (*DEFS, ast.ClassDef)):
                refs.setdefault(n.name, set()).update(_names(n) - {n.name})
                if any(_decorator(d) in ROOT_DECORATORS for d in n.decorator_list):
                    roots.add(n.name)
        for n in tree.body:
            if isinstance(n, (ast.Assign, ast.AnnAssign)):
                targets = n.targets if isinstance(n, ast.Assign) else [n.target]
                for t in targets:
                    for name in _names(t):
                        refs.setdefault(name, set()).update(
                            _names(n.value) if n.value else set()
                        )
            elif not isinstance(n, (*DEFS, ast.ClassDef, ast.Import, ast.ImportFrom)):
                roots |= _names(n)
        if rel == "cli.py":
            roots |= {
                n.name for n in tree.body
                if isinstance(n, ast.FunctionDef) and n.name.startswith("cmd_")
            }
    for src in outside:
        roots |= _names(ast.parse(src))
    seen: set[str] = set()
    stack = [r for r in roots if r in refs]
    while stack:
        name = stack.pop()
        if name not in seen:
            seen.add(name)
            stack.extend(r for r in refs[name] if r in refs and r not in seen)
    return sorted(
        f"{rel}::{n.name}"
        for rel, tree in trees.items()
        for n in tree.body
        if isinstance(n, DEFS) and n.name not in seen
    )


def _annotations(tree: ast.AST):
    for n in ast.walk(tree):
        if isinstance(n, ast.arg) and n.annotation is not None:
            yield n.annotation
        elif isinstance(n, DEFS) and n.returns is not None:
            yield n.returns
        elif isinstance(n, ast.AnnAssign):
            yield n.annotation


def unused_imports(src: str) -> list[str]:
    """Names a module imports at top level and never uses. A use is an
    ``ast.Name`` anywhere in the module, or a name inside a string
    annotation; ``from __future__`` imports are exempt."""
    tree = ast.parse(src)
    imported: dict[str, int] = {}
    for n in tree.body:
        if isinstance(n, ast.Import):
            for a in n.names:
                imported[a.asname or a.name.split(".")[0]] = n.lineno
        elif isinstance(n, ast.ImportFrom) and n.module != "__future__":
            for a in n.names:
                imported[a.asname or a.name] = n.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    for ann in _annotations(tree):
        for c in ast.walk(ann):
            if isinstance(c, ast.Constant) and isinstance(c.value, str):
                used |= {
                    n.id for n in ast.walk(ast.parse(c.value, mode="eval"))
                    if isinstance(n, ast.Name)
                }
    return [
        f"{line}:{name}"
        for name, line in sorted(imported.items(), key=lambda kv: kv[1])
        if name not in used
    ]


def test_every_package_def_is_reachable_from_a_root():
    package = {str(p.relative_to(PKG)): p.read_text() for p in PKG.rglob("*.py")}
    outside = [(REPO / "__spark_entry__.py").read_text()] + [
        p.read_text() for d in ("perfbench", "tools") for p in (REPO / d).rglob("*.py")
    ]
    dead = unreachable(package, outside)
    assert not dead, f"functions nothing runs: {dead}"


def test_reachability_counts_references_not_docstrings():
    package = {
        "queries/q.py": (
            "@register('q')\n"
            "def q(spark):\n"
            "    return s.used(spark)\n"
        ),
        "streaming/s.py": (
            "def used(spark):\n"
            "    '''Replaces orphan() and cites cited_only.'''\n"
            "    return helper(spark) or _private_helper(spark)\n"
            "def helper(spark):\n"
            "    return spark\n"
            "def _private_helper(spark):\n"
            "    return spark\n"
            "def _private_orphan(spark):\n"
            "    return spark\n"
            "def orphan(spark):\n"
            "    return used(spark)\n"
            "def cited_only():\n"
            "    pass\n"
            "def for_tools():\n"
            "    pass\n"
            "def for_entry():\n"
            "    pass\n"
        ),
        "sources/x.py": (
            "def tabled(elem):\n"
            "    return elem\n"
            "def untabled(elem):\n"
            "    return elem\n"
            "_TABLE: dict[str, object] = {'k': tabled}\n"
            "_UNUSED = {'k': untabled}\n"
            "def extract(kind):\n"
            "    return _TABLE[kind]\n"
            "def _on_import(name):\n"
            "    return name\n"
            "for _n in ('a', 'b'):\n"
            "    _on_import(_n)\n"
        ),
        "cli.py": "def cmd_run(args):\n    return x.extract('k')\n",
    }
    tool = "from omicidx_gh_etl_spark.streaming.s import for_tools\n"
    entry = "from omicidx_gh_etl_spark.streaming.s import for_entry\n"
    assert unreachable(package, [tool, entry]) == [
        "sources/x.py::untabled",
        "streaming/s.py::_private_orphan",
        "streaming/s.py::cited_only",
        "streaming/s.py::orphan",
    ]


def test_every_package_module_uses_its_imports():
    unused = {
        str(p.relative_to(PKG)): names
        for p in PKG.rglob("*.py")
        if p.name != "__init__.py" and (names := unused_imports(p.read_text()))
    }
    assert not unused, f"imported and never used: {unused}"


def test_unused_imports_counts_string_annotations_not_future():
    src = (
        "from __future__ import annotations\n"
        "import json\n"
        "import os.path\n"
        "from typing import Any, Callable\n"
        "from x import Used as U, Dropped\n"
        "def f(a: 'Any') -> int:\n"
        "    return U(os.path.sep)\n"
    )
    assert unused_imports(src) == ["2:json", "4:Callable", "5:Dropped"]
