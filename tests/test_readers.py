"""``readers.fan_out``: the shuffle-free, Python-worker-free file-list
fan-out shared by the extractors and the parquet-metadata catalog scans."""

from collections import Counter

import pytest

from omicidx_gh_etl_spark.sources.readers import fan_out


@pytest.mark.parametrize("n_paths", [1, 3, 20])
def test_fan_out_partitions_without_shuffle(spark, n_paths):
    paths = [f"/data/part-{i:03d}.xml.gz" for i in range(n_paths)]
    df = fan_out(spark, paths)
    cores = spark.sparkContext.defaultParallelism
    assert df.schema.simpleString() == "struct<path:string>"
    assert df.rdd.getNumPartitions() == min(n_paths, cores)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # a driver-local relation: no Python-RDD stage feeds the file list
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert Counter(r["path"] for r in df.collect()) == Counter(paths)
