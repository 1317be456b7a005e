"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All queries live in ``omicidx_gh_etl_spark.queries`` (one registered
(builder, oracle) pair per operator from SURVEY.md §2 plus the
training-data-pipeline operators). tools/parity_strict.py replicates
the driver's comparison locally.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from omicidx_gh_etl_spark.queries import oracle_queries, spark_queries
from omicidx_gh_etl_spark.queries.core import mart_denormalized


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's headline workload is the mart.sra_metadata
    denormalization join (EXPORT_DEPLOYMENT.md:247-252 — 49.4M rows in
    6.9 s); this is its shape on the synthetic star schema: fact ×
    three broadcast dims, zero fact-side shuffles.
    """
    return mart_denormalized(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent ANSI SQL for each query (same column aliases)."""
    return oracle_queries()
