"""Dependency-DAG utilities: topological sort with cycle detection and
downstream/upstream selection.

Re-implements the documented contract of the reference's absent
``transformations.warehouse`` engine: "Models are automatically ordered
by dependencies (topological sort)" with cycle detection
(WAREHOUSE_SUMMARY.md:124-139; consumed by warehouse_cli.py:64-123).
"""

from __future__ import annotations

from graphlib import CycleError, TopologicalSorter


class DagCycleError(ValueError):
    pass


def topo_sort(edges: dict[str, tuple[str, ...]]) -> list[str]:
    """Dependency-first execution order; deterministic (name-ordered)
    among independent nodes. Raises DagCycleError on cycles."""
    ts: TopologicalSorter[str] = TopologicalSorter()
    for node in sorted(edges):
        ts.add(node, *sorted(edges[node]))
    try:
        ts.prepare()
    except CycleError as e:
        raise DagCycleError(f"model dependency cycle: {e.args[1]}") from e
    order: list[str] = []
    while ts.is_active():
        ready = sorted(ts.get_ready())
        order.extend(ready)
        ts.done(*ready)
    return order


def upstream_closure(edges: dict[str, tuple[str, ...]], targets: list[str]) -> set[str]:
    """targets plus everything they (transitively) depend on."""
    seen: set[str] = set()
    stack = list(targets)
    while stack:
        node = stack.pop()
        if node in seen:
            continue
        seen.add(node)
        stack.extend(edges.get(node, ()))
    return seen
