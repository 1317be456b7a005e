"""Smoke: every registered query builds and executes at sf0.001, and
the registry satisfies the driver contract."""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod
from omicidx_gh_etl_spark.queries import REGISTRY


def test_registry_nonempty():
    assert len(REGISTRY) >= 40


def test_driver_contract_shapes():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    # every oracle-less query is a deliberate rows-only check
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())


def test_entry_flagship(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert {"o_orderkey", "nation", "region"} <= set(df.columns)


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_executes(spark, sf_dir, name):
    df = REGISTRY[name].builder(spark, sf_dir)
    # count() forces the whole plan; queries may legitimately return 0
    # rows at smoke scale (e.g. near-dup pairs) — executing is the test.
    assert df.count() >= 0


def test_sketch_error_bounds(spark, sf_dir):
    """The sketch queries emit oracle-checkable bound FLAGS (the
    estimates themselves are engine-specific); this test asserts the
    flags are actually true, i.e. the bounds hold."""
    rows = REGISTRY["sketch_approx_distinct"].builder(spark, sf_dir).collect()
    assert rows
    assert all(r["approx_within_5pct"] for r in rows)
    qrows = REGISTRY["sketch_approx_quantiles"].builder(spark, sf_dir).collect()
    assert qrows and {r["quantile"] for r in qrows} == {0.5, 0.95}
    assert all(r["approx_in_band"] for r in qrows)


# One registered query per operator family: the warm-pass mix of
# ``perfbench/workloads.py`` (QUERY_MIX), named here so the test does not
# import the benchmark.
WARM_MIX = (
    "mart_denormalized", "agg_multikey_pricing", "dedup_latest_by_key",
    "dedup_exact", "dedup_minhash_lsh", "similarity_topk",
    "similarity_ivf_search", "text_winnow_fingerprints",
    "range_join_events_windows", "sessionize_events",
    "sketch_heavy_hitters", "interval_coalesce_user_spans",
)


def test_warm_query_pass_compiles_nothing(spark, compiles, sf_gate):
    """The mix compiles ~160 classes; a second pass over it must find
    every one in the session's codegen cache."""

    def run_mix():
        for name in WARM_MIX:
            REGISTRY[name].builder(spark, sf_gate).write.format("noop").mode("overwrite").save()

    run_mix()
    before = compiles()
    run_mix()
    assert compiles() - before == 0
