"""Strict DuckDB-oracle gate over the whole query registry.

Every oracle-backed query in ``REGISTRY`` is built at sf0.01 and
compared with its DuckDB oracle through
``tools/parity_strict.py::compare_strict`` — the pandas value-hash
comparison of the ``__spark_entry__.py`` contract — so a value, dtype,
row-count or column drift in any builder fails the suite.
``test_strict_gate_flags_mutations`` checks that the gate itself sees
each kind of drift.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest
from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

spec = importlib.util.spec_from_file_location(
    "parity_strict", os.path.join(REPO, "tools", "parity_strict.py")
)
ps = importlib.util.module_from_spec(spec)
sys.modules["parity_strict"] = ps
spec.loader.exec_module(ps)

from omicidx_gh_etl_spark.queries import REGISTRY  # noqa: E402

SF_GATE = "/root/testdata/sf0.01"  # the oracle comparison scale
ORACLE_BACKED = sorted(n for n, q in REGISTRY.items() if q.oracle is not None)

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(SF_GATE), reason="sf0.01 testdata not present"
)


@pytest.fixture(scope="module")
def oracle_con():
    con = ps.oracle_connection(SF_GATE)
    yield con
    con.close()


@needs_testdata
@pytest.mark.parametrize("name", ORACLE_BACKED)
def test_strict_parity(spark, oracle_con, name):
    sdf = REGISTRY[name].builder(spark, SF_GATE)
    assert ps.compare_strict(name, sdf, oracle_con) == []


@needs_testdata
def test_strict_gate_flags_mutations(spark, oracle_con):
    """One dropped row, one changed numeric cell and one renamed column
    each fail the gate with their own error kind."""
    name = "agg_multikey_pricing"  # 6 rows; ``n`` is a BIGINT count
    sdf = REGISTRY[name].builder(spark, SF_GATE).localCheckpoint(eager=True)
    assert ps.compare_strict(name, sdf, oracle_con) == []

    first = sdf.orderBy(*sdf.columns).limit(1)
    dropped = sdf.exceptAll(first)
    assert dropped.count() == sdf.count() - 1
    errors = ps.compare_strict(name, dropped, oracle_con)
    assert any(e.startswith("rows:") for e in errors), errors

    bumped = dropped.unionByName(
        first.withColumn("n", (F.col("n") + 1).cast(sdf.schema["n"].dataType))
    )
    assert bumped.schema == sdf.schema
    errors = ps.compare_strict(name, bumped, oracle_con)
    assert "HASH MISMATCH" in errors, errors
    assert not any(e.startswith("rows:") for e in errors), errors

    renamed = sdf.withColumnRenamed("n", "n_renamed")
    errors = ps.compare_strict(name, renamed, oracle_con)
    assert any(e.startswith("columns:") for e in errors), errors
