"""Model registry — the engine's analogue of sqlmesh MODEL(...) headers
plus the documented warehouse model config (WAREHOUSE.md:132-150,
295-309; ModelConfig shape at WAREHOUSE.md:424-434).

A model is a named, layered DataFrame builder with declared
dependencies, an optional incremental-by-time-range spec, and an
optional export materialization. The engine (engine/runner.py)
resolves the DAG, plans intervals, and materializes.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame

# Builder signature: (resolve, ctx) -> DataFrame where
#   resolve(name) returns the (possibly materialized) upstream model
#   ctx carries start_ds / end_ds / data_root / spark
Resolver = Callable[[str], DataFrame]

# the materializations WarehouseRunner implements: temp view,
# date-partitioned parquet with interval overwrite, full parquet
MODEL_KINDS = ("VIEW", "INCREMENTAL_BY_TIME_RANGE", "TABLE")


@dataclass
class ModelContext:
    spark: Any
    data_root: str
    start_ds: str  # inclusive date 'YYYY-MM-DD' (sqlmesh @start_ds)
    end_ds: str  # inclusive date (sqlmesh @end_ds; BETWEEN is inclusive)


@dataclass(frozen=True)
class ExportConfig:
    """Export materialization (EXPORT_DEPLOYMENT.md:41-57,224-237)."""

    path: str  # relative to export root
    compression: str = "zstd"
    partition_by: tuple[str, ...] = ()
    max_records_per_file: int = 1_000_000


@dataclass(frozen=True)
class Model:
    name: str  # e.g. "bronze.stg_sra_experiments"
    layer: str  # raw | bronze | geometadb | mart
    kind: str  # one of MODEL_KINDS
    build: Callable[[Resolver, ModelContext], DataFrame]
    depends_on: tuple[str, ...] = ()
    time_column: str | None = None  # DATE column for incremental models
    grain: str | None = None  # dedup/identity key (accession)
    cron: str = "@daily"
    export: ExportConfig | None = None
    doc: str = ""


class ModelRegistry:
    def __init__(self) -> None:
        self._models: dict[str, Model] = {}

    def register(self, model: Model) -> Model:
        if model.kind not in MODEL_KINDS:
            raise ValueError(
                f"{model.name}: unknown kind {model.kind!r}, "
                f"expected one of {MODEL_KINDS}"
            )
        if model.name in self._models:
            raise ValueError(f"duplicate model: {model.name}")
        self._models[model.name] = model
        return model

    def model(self, **kwargs: Any) -> Callable:
        """Decorator: @registry.model(name=..., layer=..., kind=...)."""

        def deco(fn: Callable[[Resolver, ModelContext], DataFrame]):
            self.register(Model(build=fn, doc=(fn.__doc__ or "").strip(), **kwargs))
            return fn

        return deco

    def get(self, name: str) -> Model:
        return self._models[name]

    def __contains__(self, name: str) -> bool:
        return name in self._models

    def names(self) -> list[str]:
        return sorted(self._models)

    def items(self) -> list[tuple[str, Model]]:
        return sorted(self._models.items())

    def dependency_edges(self) -> dict[str, tuple[str, ...]]:
        return {name: m.depends_on for name, m in self._models.items()}


REGISTRY = ModelRegistry()
model = REGISTRY.model
