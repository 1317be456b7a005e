"""Query registry — the engine's correctness surface.

Every operator from SURVEY.md §2 (plus the large-scale training-data
operators) is registered here as a named pair:

- a **Spark builder** ``(spark, sf_dir) -> DataFrame`` (idiomatic
  DataFrame API — the thing being graded), and
- a **DuckDB oracle** — equivalent ANSI SQL over the same parquet
  tables, used by the driver for row-count + schema + value-hash
  comparison at sf0.01.

Parity rules that every query here follows (learned from probing both
engines — see tests/test_oracle_parity.py):

1. **Money/double aggregation → DECIMAL.** ``sum(double)`` is
   float-addition-order dependent, and Spark's partial aggregation
   order is nondeterministic across runs. Casting to DECIMAL(18,2)
   before SUM makes the aggregate exact and identical in both engines.
2. **Derived doubles → round(x, 4)** so ~1e-15 cross-engine float
   noise can't flip the hash.
3. **Alias every computed column identically** in builder and oracle
   (the driver sorts columns by name before hashing).
4. **Timestamps**: the testdata ``events.parquet`` stores
   TIMESTAMP(NANOS) which Spark cannot read natively — see
   ``tables.load_events``. Timestamp outputs are exposed as epoch
   micros (BIGINT) or DATE, which hash identically in both engines.
5. **Deterministic top-k**: every LIMIT is preceded by a total order
   (tiebreak on a key column).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DecimalType

Builder = Callable[[SparkSession, str], DataFrame]

# The synthetic tables every oracle runs against (DuckDB views over
# {sf_dir}/{name}.parquet) — ONE definition shared by
# tools/parity_strict.py and perfbench so a new table can't silently
# desync them.
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def hash_safe_output(df: DataFrame) -> DataFrame:
    """Cast top-level DECIMAL output columns to double.

    DECIMAL is kept *inside* aggregations (rule 1 above) for exact,
    order-independent sums; but the driver canonicalizes both result
    sets through pandas, where DuckDB's ``.df()`` coerces DECIMAL to
    float64 while Spark's ``toPandas()`` yields ``Decimal`` objects —
    ``Decimal('2547.40')`` vs ``2547.4`` then hash differently despite
    equal values. Casting only the final projection to double makes
    both sides land as float64 with identical bits (same decimal value
    → same nearest double on either engine).
    """
    if not any(isinstance(f.dataType, DecimalType) for f in df.schema.fields):
        return df
    return df.select(
        *[
            df[f.name].cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType)
            else df[f.name]
            for f in df.schema.fields
        ]
    )


@dataclass(frozen=True)
class Query:
    """One named operator/query with its oracle."""

    name: str
    builder: Builder
    oracle: str | None  # None → driver falls back to rows-only check
    doc: str
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
) -> Callable[[Builder], Builder]:
    """Register a query builder with its DuckDB oracle SQL."""

    def deco(fn: Builder) -> Builder:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def safe(spark: SparkSession, sf_dir: str) -> DataFrame:
            return hash_safe_output(fn(spark, sf_dir))

        safe.__name__ = fn.__name__
        safe.__doc__ = fn.__doc__
        REGISTRY[name] = Query(name, safe, oracle, (fn.__doc__ or "").strip(), tags)
        return fn

    return deco


def spark_queries() -> dict[str, Builder]:
    return {name: q.builder for name, q in REGISTRY.items()}


def oracle_queries() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
