"""Tests: bucketed-table shuffle elimination."""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

from omicidx_gh_etl_spark.operators.bm25_index import _write_bucketed


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_bucketed_join_plans_no_exchange(spark, tmp_path):
    # spark.sql.warehouse.dir is static per-session; managed tables land
    # in the default warehouse and are dropped (data included) below.
    suffix = uuid.uuid4().hex[:8]
    ta, tb = f"bk_fact_{suffix}", f"bk_dim_{suffix}"
    fact = spark.range(0, 10_000).select(
        (F.col("id") % 500).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(0, 500).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    try:
        _write_bucketed(fact, ta, ["k"], num_buckets=8, sort_cols=["k"])
        _write_bucketed(dim, tb, ["k"], num_buckets=8, sort_cols=["k"])
        # disable broadcast so the join would otherwise shuffle both sides
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), "k")
        plan = _explain(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10_000
        # groupBy on the bucket key is also exchange-free
        agg = spark.table(ta).groupBy("k").agg(F.sum("v").alias("s"))
        assert "Exchange" not in _explain(agg)
        assert agg.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")

