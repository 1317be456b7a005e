"""``readers.fan_out`` and ``readers.map_records``: the shuffle-free,
Python-worker-free file-list fan-out and the one bounded-batch
extract path shared by the extractors and the parquet-metadata catalog
scans."""

import itertools
from collections import Counter

import pytest
from pyspark.sql import types as T

from omicidx_gh_etl_spark.sources.ncbi_extract import extract_records
from omicidx_gh_etl_spark.sources.readers import BATCH_ROWS, fan_out, record_batches


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


def test_record_batches_bounds_every_frame_and_keeps_order():
    """Two inputs yielding 2.5x the bound in total: every frame holds at most BATCH_ROWS rows in the schema's
    column order, and the frames concatenate to the records in order."""
    schema = T.StructType(
        [T.StructField("b", T.StringType()), T.StructField("a", T.LongType())]
    )
    names = schema.fieldNames()
    # the first input ends mid-frame, so one frame spans both inputs
    sizes = {"x": 4 * BATCH_ROWS // 3, "y": 5 * BATCH_ROWS // 2 - 4 * BATCH_ROWS // 3}

    def records(item):
        for i in range(sizes[item]):
            # keys in the opposite order to the schema's columns
            yield {"a": i, "b": item}

    frames = list(record_batches(["x", "y"], records, names))
    assert sum(len(f) for f in frames) == 5 * BATCH_ROWS // 2
    assert all(0 < len(f) <= BATCH_ROWS for f in frames)
    assert all(list(f.columns) == names for f in frames)
    rows = list(itertools.chain.from_iterable(f.itertuples(index=False) for f in frames))
    expected = [(item, i) for item in ("x", "y") for i in range(sizes[item])]
    assert [tuple(r) for r in rows] == expected


def test_extract_records_plan_is_one_local_scan_and_map(spark, tmp_path):
    """The nightly pass's NCBI extract: the file list is a driver-local
    scan feeding one MapInPandas, with no shuffle in between."""
    paths = []
    for i in range(3):
        p = tmp_path / f"biosample-{i}.xml"
        p.write_text(f'<BioSampleSet><BioSample accession="SAMN{i}"/></BioSampleSet>')
        paths.append(str(p))
    df = extract_records(spark, "biosample", paths)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "MapInPandas" in plan, plan
    assert "Exchange" not in plan, plan
    assert sorted(r["accession"] for r in df.collect()) == ["SAMN0", "SAMN1", "SAMN2"]
