"""Every public streaming function is reachable from something that runs.

A static check, no Spark: it parses the package with ``ast``, links each
function or class to the names its body references, and walks that
graph from the roots a user or a benchmark can reach:

- functions decorated ``@register`` (queries), ``@model`` (warehouse
  models), ``@audit`` or ``@row_audit`` (audits);
- ``cli.py``'s ``cmd_*`` verbs;
- every name used in ``perfbench/`` or ``tools/``.

A public top-level ``def`` in ``streaming/*.py`` that no root reaches is
a second code path only tests run; delete it or register what runs it.
Only real name references count (``ast.Name``, ``ast.Attribute`` and
import aliases); a name in a docstring or comment does not. Names are
matched without their module, so the walk may over-reach, never
under-reach.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "omicidx_gh_etl_spark"
ROOT_DECORATORS = {"register", "model", "audit", "row_audit"}


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


def unreachable(package: dict[str, str], outside: list[str], scope: str) -> list[str]:
    """Public top-level defs of the ``package`` modules whose name starts
    with ``scope`` that no root reaches. ``package`` maps a module's
    relative path to its source; ``outside`` holds the sources whose
    every name is a root."""
    refs: dict[str, set[str]] = {}
    roots: set[str] = set()
    trees = {rel: ast.parse(src) for rel, src in package.items()}
    for rel, tree in trees.items():
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                refs.setdefault(n.name, set()).update(_names(n) - {n.name})
                if any(_decorator(d) in ROOT_DECORATORS for d in n.decorator_list):
                    roots.add(n.name)
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
        for rel, tree in trees.items() if rel.startswith(scope)
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and not n.name.startswith("_")
        and n.name not in seen
    )


def test_every_public_streaming_def_is_reachable_from_a_root():
    package = {str(p.relative_to(PKG)): p.read_text() for p in PKG.rglob("*.py")}
    outside = [
        p.read_text() for d in ("perfbench", "tools") for p in (REPO / d).rglob("*.py")
    ]
    dead = unreachable(package, outside, "streaming/")
    assert not dead, f"streaming functions nothing runs: {dead}"


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
            "    return helper(spark)\n"
            "def helper(spark):\n"
            "    return spark\n"
            "def orphan(spark):\n"
            "    return used(spark)\n"
            "def cited_only():\n"
            "    pass\n"
            "def for_tools():\n"
            "    pass\n"
        ),
        "cli.py": "def cmd_run(args):\n    pass\n",
    }
    tool = "from omicidx_gh_etl_spark.streaming.s import for_tools\n"
    assert unreachable(package, [tool], "streaming/") == [
        "streaming/s.py::cited_only", "streaming/s.py::orphan",
    ]
