"""SQL-audit support: data-quality assertions over a model's rows.

Reference contract (sqlmesh/audits/assert_positive_order_ids.sql:1-8;
SURVEY.md §5): an audit is a query over a built model that returns the
*offending* rows — any rows returned means the audit FAILS.

Two shapes:

- a **row audit** is a predicate that is true on an offending row
  (``@row_audit``). ``WarehouseRunner`` counts its bad rows with a
  ``count_if`` column on the ``observe`` its model write already has:
  no extra Spark job, an exact count, over exactly the rows written;
- a **set audit** is a builder ``df -> offending rows`` (``@audit``),
  for checks no single row can decide, such as grain uniqueness. The
  runner evaluates it in the model's pool task right after the write,
  over the rows just written: the ``[start_ds, end_ds]`` window of an
  incremental model (sqlmesh's processed-interval scope), the whole
  table of a TABLE model.

Audits block: in ``WarehouseRunner`` a failing audit fails its model, so
its export, its downstream models (with ``fail_fast``) and ``backfill``'s
interval record are skipped, and a re-run picks the interval up again.

:func:`run_audits` is the whole-table evaluator behind ``cli.py audit``:
it runs every audit of the given models over the resolved tables
(:func:`evaluate`), a row audit as a filter. Every result lands in
``meta.model_audits`` (run id, audit, model, status, bad-row count):
one pyarrow-written parquet file per call or per runner run, renamed
into place by the small-state store (engine/state.py), no Spark job.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .state import StateTable

# ``run_id`` is null in files written before the column existed (and in
# ``cli.py audit`` runs, which belong to no model run)
AUDITS_SCHEMA = (
    "run_id string, audit string, model string, status string, bad_rows long, "
    "ran_at timestamp"
)

AuditBuilder = Callable[[DataFrame], DataFrame]
RowPredicate = Callable[[], Column]


@dataclass(frozen=True)
class Audit:
    name: str
    model: str  # model whose output is audited
    build: AuditBuilder  # df -> offending rows
    doc: str = ""
    # row audits only: () -> Column, true on an offending row; ``build``
    # is then the filter on it
    predicate: RowPredicate | None = None


class AuditRegistry:
    def __init__(self) -> None:
        self._audits: list[Audit] = []

    def register(self, audit: Audit) -> Audit:
        self._audits.append(audit)
        return audit

    def audit(self, name: str, model: str) -> Callable[[AuditBuilder], AuditBuilder]:
        """Decorator for a set audit: ``fn(df)`` returns the offending rows."""

        def deco(fn: AuditBuilder) -> AuditBuilder:
            self.register(Audit(name, model, fn, (fn.__doc__ or "").strip()))
            return fn

        return deco

    def row_audit(self, name: str, model: str) -> Callable[[RowPredicate], RowPredicate]:
        """Decorator for a row audit: ``fn()`` returns a predicate that is
        true on an offending row."""

        def deco(fn: RowPredicate) -> RowPredicate:
            self.register(Audit(
                name, model, lambda df: df.filter(fn()), (fn.__doc__ or "").strip(), fn,
            ))
            return fn

        return deco

    def for_model(self, model: str) -> list[Audit]:
        return [a for a in self._audits if a.model == model]

    def all(self) -> list[Audit]:
        return list(self._audits)


AUDITS = AuditRegistry()
audit = AUDITS.audit
row_audit = AUDITS.row_audit


@dataclass
class AuditResult:
    audit: str
    model: str
    status: str  # pass | fail
    bad_rows: int


def result(a: Audit, bad_rows: int) -> AuditResult:
    return AuditResult(a.name, a.model, "pass" if bad_rows == 0 else "fail", bad_rows)


def evaluate(a: Audit, df: DataFrame, evidence_limit: int = 20) -> AuditResult:
    """One audit over ``df``. ``evidence_limit`` caps the offending rows
    counted (0 counts them all).

    The capped count is ``take``, not ``limit(n).count()``: Spark names
    each limit operator's codegen variable from a global counter, so the
    latter generates new source (a compile) on every call; ``take``
    reuses its compiled classes and runs one job fewer."""
    bad = a.build(df)
    return result(a, len(bad.take(evidence_limit + 1)) if evidence_limit else bad.count())


def record_audits(
    warehouse_root: str, results: list[AuditResult], run_id: str | None = None
) -> None:
    """Append ``results`` to ``meta.model_audits`` as one file."""
    now = datetime.now(timezone.utc)
    StateTable(Path(warehouse_root) / "meta" / "model_audits", AUDITS_SCHEMA).append(
        [(run_id, r.audit, r.model, r.status, r.bad_rows, now) for r in results]
    )


def run_audits(
    registry: AuditRegistry,
    resolve: Callable[[str], DataFrame],
    models: list[str],
    warehouse_root: str | None = None,
    evidence_limit: int = 20,
) -> list[AuditResult]:
    """Run every audit attached to ``models`` over the whole resolved
    table; record to meta."""
    results = [
        evaluate(a, resolve(m), evidence_limit) for m in models for a in registry.for_model(m)
    ]
    if warehouse_root is not None:
        record_audits(warehouse_root, results)
    return results


# --- reference-parity audits ------------------------------------------------


@row_audit("assert_accession_not_null", "bronze.stg_sra_experiments")
def _acc_not_null() -> Column:
    """Staging null-guard (WAREHOUSE.md:177-178)."""
    return F.col("accession").isNull()


@audit("assert_unique_accession", "bronze.stg_sra_accessions")
def _acc_unique(df: DataFrame) -> DataFrame:
    """Grain uniqueness: accession is the declared grain of every
    bronze model (MODEL ... grain accession)."""
    return (
        df.groupBy("accession").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )


@row_audit("assert_updated_date_in_range", "bronze.stg_sra_experiments")
def _date_sane() -> Column:
    """No impossible dates (pre-SRA or future)."""
    return (F.col("updated_date") < F.lit("2000-01-01").cast("date")) | (
        F.col("updated_date") > F.current_date()
    )
