"""SQL-audit support: post-build data-quality assertions.

Reference contract (sqlmesh/audits/assert_positive_order_ids.sql:1-8;
SURVEY.md §5): an audit is a query over a built model that returns the
*offending* rows — any rows returned means the audit FAILS.

Audits run after materialization and are recorded in
``meta.model_audits`` (audit name, model, status, bad-row count):
one pyarrow-written parquet file per ``run_audits`` call, renamed into
place by the small-state store (engine/state.py), with no Spark job.
Scale: an audit is just another Spark plan over the materialized
table — predicate pushdown applies, and a LIMIT caps the evidence
collected to the driver.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

from pyspark.sql import DataFrame

from .state import StateTable

AUDITS_SCHEMA = "audit string, model string, status string, bad_rows long, ran_at timestamp"

AuditBuilder = Callable[[DataFrame], DataFrame]


@dataclass(frozen=True)
class Audit:
    name: str
    model: str  # model whose output is audited
    build: AuditBuilder  # df -> offending rows
    doc: str = ""


class AuditRegistry:
    def __init__(self) -> None:
        self._audits: list[Audit] = []

    def register(self, audit: Audit) -> Audit:
        self._audits.append(audit)
        return audit

    def audit(self, name: str, model: str) -> Callable[[AuditBuilder], AuditBuilder]:
        def deco(fn: AuditBuilder) -> AuditBuilder:
            self.register(Audit(name, model, fn, (fn.__doc__ or "").strip()))
            return fn

        return deco

    def for_model(self, model: str) -> list[Audit]:
        return [a for a in self._audits if a.model == model]

    def all(self) -> list[Audit]:
        return list(self._audits)


AUDITS = AuditRegistry()
audit = AUDITS.audit


@dataclass
class AuditResult:
    audit: str
    model: str
    status: str  # pass | fail
    bad_rows: int


def run_audits(
    registry: AuditRegistry,
    resolve: Callable[[str], DataFrame],
    models: list[str],
    warehouse_root: str | None = None,
    evidence_limit: int = 20,
) -> list[AuditResult]:
    """Run every audit attached to ``models``; record to meta."""
    results: list[AuditResult] = []
    for m in models:
        for a in registry.for_model(m):
            bad = a.build(resolve(m))
            n = bad.limit(evidence_limit + 1).count() if evidence_limit else bad.count()
            results.append(
                AuditResult(a.name, m, "pass" if n == 0 else "fail", n)
            )
    if warehouse_root is not None:
        now = datetime.now(timezone.utc)
        StateTable(Path(warehouse_root) / "meta" / "model_audits", AUDITS_SCHEMA).append(
            [(r.audit, r.model, r.status, r.bad_rows, now) for r in results]
        )
    return results


# --- reference-parity audits ------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402


@audit("assert_accession_not_null", "bronze.stg_sra_experiments")
def _acc_not_null(df: DataFrame) -> DataFrame:
    """Staging null-guard (WAREHOUSE.md:177-178)."""
    return df.filter(F.col("accession").isNull())


@audit("assert_unique_accession", "bronze.stg_sra_accessions")
def _acc_unique(df: DataFrame) -> DataFrame:
    """Grain uniqueness: accession is the declared grain of every
    bronze model (MODEL ... grain accession)."""
    return (
        df.groupBy("accession").agg(F.count("*").alias("n")).filter(F.col("n") > 1)
    )


@audit("assert_updated_date_in_range", "bronze.stg_sra_experiments")
def _date_sane(df: DataFrame) -> DataFrame:
    """No impossible dates (pre-SRA or future)."""
    return df.filter(
        (F.col("updated_date") < F.lit("2000-01-01").cast("date"))
        | (F.col("updated_date") > F.current_date())
    )
